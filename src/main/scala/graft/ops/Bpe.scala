package graft.ops

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary training + tokenization, in-engine — the
  * real subword tokenizer step of an LLM data pipeline (Sennrich et al.
  * 2016's word-level BPE: merge the most frequent adjacent symbol pair,
  * repeat). Training state is a (word, count) VOCABULARY table, not the
  * corpus: at 100 TB the corpus streams once into word counts (one
  * shuffled agg with map-side combine), and every merge round runs on the
  * vocabulary only — the standard trainer shape (HuggingFace/SentencePiece
  * do exactly this on one machine; here the vocab table itself is
  * distributed, so no single-node memory ceiling).
  *
  * Representation trick that makes APPLYING a merge a plain `replace` —
  * portable to any engine, including the DuckDB oracle: each symbol is
  * individually wrapped in \u0001 separators ("ab" + "c" ⇒ ␁ab␁␁c␁), so
  * the pattern ␁a␁␁b␁ → ␁ab␁ (a) can never false-match inside a longer
  * symbol (the char before `a` must be ␁, not a symbol char), and (b)
  * merges back-to-back repeats simultaneously, like canonical BPE:
  * ␁a␁␁b␁␁a␁␁b␁ contains two non-overlapping patterns — no shared
  * boundary char, because every symbol carries its own pair of
  * separators. Contract: input text must not contain \u0001, and
  * supplementary-plane characters are out of scope (Java regex `.` is a
  * UTF-16 unit, RE2's a rune — same §6 BMP boundary as textStats).
  *
  * Determinism: pair counts are exact integers; the argmax tiebreak is
  * (count desc, pair asc) — training is a pure function of the vocabulary.
  * Each round checkpoints the rewritten vocabulary so round N+1's
  * count job reads materialized state instead of replaying N rounds of
  * lineage (the ops.Components fixpoint discipline).
  */
object Bpe {

  val Sep = "\u0001"
  private def wrap(sym: String): String = Sep + sym + Sep

  /** Every char of `word` wrapped as ␁c␁ — the initial symbol sequence. */
  private def wrapExpr(word: Column): Column =
    regexp_replace(word, "(.)", Sep + "$1" + Sep)

  /** One merge application: ␁a␁␁b␁ → ␁ab␁ (all occurrences). */
  private def mergeExpr(rep: Column, a: String, b: String): Column =
    replace(rep, lit(wrap(a) + wrap(b)), lit(wrap(a + b)))

  /** Symbols of `rep` (split on the separator, drop the empty fields the
    * adjacent separators produce). Higher-order functions run interpreted
    * — acceptable here because they only ever touch the vocabulary table,
    * never the corpus (the skill-documented HOF trap is per-corpus-row
    * use).
    */
  private def symsExpr(rep: Column): Column =
    filter(split(rep, Sep), s => s =!= "")

  /** Learn `nMerges` merges from a (word, wn) vocabulary table. Returns
    * the ordered merge list (possibly shorter if the vocabulary runs out
    * of adjacent pairs). Each round: one vocabulary-sized count job + a
    * 1-row argmax collect (a bounded model step) + one rewrite.
    */
  def train(wordCounts: DataFrame, nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    // training state lives in a Checkpoints scope: the one-switch
    // reliable mode (spark.graft.checkpointDir) covers BPE training, and
    // every round's vocabulary is released once the merges are extracted
    Checkpoints.scoped { s =>
      var reps = s.checkpoint(wordCounts
        .select(col("word"), wrapExpr(col("word")).as("rep"), col("wn")))
      val merges = ListBuffer.empty[(String, String)]
      var exhausted = false
      while (merges.size < nMerges && !exhausted) {
        val syms = symsExpr(col("rep"))
        val pairs = zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => concat(a, lit(Sep), b))
        val best = reps.select(explode(pairs).as("p"), col("wn"))
          .groupBy(col("p")).agg(sum(col("wn")).as("n"))
          .orderBy(col("n").desc, col("p")).limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val Array(a, b) = best(0).getAs[String]("p").split(Sep)
          merges += ((a, b))
          val next = s.checkpoint(
            reps.withColumn("rep", mergeExpr(col("rep"), a, b)))
          s.release(reps)
          reps = next
        }
      }
      merges.toList
    }
  }

  /** Apply an ordered merge list to a word: the full BPE encode, as a
    * chain of codegen'd string replaces.
    */
  def applyMerges(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(wrapExpr(word)) { case (rep, (a, b)) =>
      mergeExpr(rep, a, b)
    }

  /** Symbol count of a wrapped representation: half its separator count. */
  def tokenCount(rep: Column): Column =
    shiftright(length(rep) - length(replace(rep, lit(Sep), lit(""))), 1)

  /** Train `nMerges` merges on the word counts of the `isTrain` slice of
    * `docs` — the sampled-trainer entry point.
    */
  def trainOnSlice(docs: DataFrame, id: Column, text: Column,
      isTrain: Column, nMerges: Int): Seq[(String, String)] = {
    val trainWc = docs.filter(isTrain)
      .select(explode(graft.functions.text.wordShingles(text, 1)).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("wn"))
    train(trainWc, nMerges)
  }

  /** Tokenize EVERY document with a learned merge list: (doc_id, n_words,
    * n_chars, n_bpe_tokens, compression). Tokenization is
    * dictionary-encoded: merges apply once per DISTINCT word (the
    * vocabulary, tiny next to the corpus) and join back to per-doc word
    * counts — the corpus itself is never run through the replace chain.
    * Words unseen in training fall back to char-level symbols naturally
    * (their pairs simply never merged).
    */
  def tokenizeStats(docs: DataFrame, id: Column, text: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(id.as("doc_id"),
        explode(graft.functions.text.wordShingles(text, 1)).as("word"))
      .filter(col("word") =!= "")
    val docWc = words.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("wn"))
    val vocab = docWc.select(col("word")).distinct()
      .withColumn("ntok",
        tokenCount(applyMerges(col("word"), merges)).cast("long"))
    docWc.join(vocab, "word")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("wn")).as("n_words"),
        sum(col("wn") * length(col("word"))).as("n_chars"),
        sum(col("wn") * col("ntok")).as("n_bpe_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"),
        (col("n_chars").cast("double") / col("n_bpe_tokens"))
          .as("compression"))
  }
}
