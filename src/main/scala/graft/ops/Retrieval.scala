package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-text retrieval over the corpus: BM25 (Robertson/Walker Okapi
  * weighting, the default ranking function of Lucene/Elasticsearch) —
  * the reference ships its documents to Elasticsearch for exactly this
  * (index_to_es.py); here the scoring runs INSIDE the engine, over the
  * same (doc, term) statistics the TF-IDF operator already derives.
  *
  * Determinism contract (SURVEY §4): each per-term partial score is
  * quantized to the 2^-16 dyadic grid BEFORE the cross-term sum, so the
  * sum is exact in IEEE double regardless of reduction order — the same
  * fixed-point trick the money aggregates use via DECIMAL. Without it a
  * distributed float sum is partition-order-dependent and can never
  * hash-match an oracle (or even itself across runs). One honest caveat:
  * the snap makes the SUM order-exact, not ln() itself portable — if the
  * JVM's Math.log and the oracle engine's libm ever disagree in the last
  * ulp AND that product lands within an ulp of a grid boundary, floor()
  * flips by one cell. Probability ≈ 2^-35 per term score (grid 2^-16,
  * ulp 2^-52 at these magnitudes); verified exact over every (tf, df,
  * dl) combination at both tested scale factors. The repo-wide rule
  * (tfidf's rational idf) stands: prefer ÷ over ln when ranking is all
  * that matters; BM25's published form wants the log, so it carries this
  * documented, bounded risk instead.
  *
  * Scale shape at 100 TB:
  *   - the query-term set broadcasts and SEMI-RESTRICTS the token stream
  *     map-side, so the one wide shuffle (doc,term tf counts) carries only
  *     query-matching tokens, not the corpus vocabulary;
  *   - df comes from the restricted tf table (≤ |query terms| rows after
  *     its agg) and broadcasts back; corpus size / total length is a 1-row
  *     broadcast "model" (the same shape as the tfidf n_docs);
  *   - per-(query,doc) scores regroup once, then the bounded-heap topk
  *     aggregate serves each query's top k with partial buffers capped at
  *     k — the shuffle moves k·partitions rows per query, never every
  *     scored document.
  */
object Retrieval {

  /** Top-k BM25 results per query: (query_id, rank, doc_id, score).
    *
    * `queryTerms` = (query_id: long, term: string), distinct terms per
    * query, small enough to broadcast (a query set, not a table).
    * Constants k1=1.2, b=0.75 are the literature defaults; idf is the
    * BM25+ form ln(1 + (N-df+0.5)/(df+0.5)) — always positive, so stop
    * words dilute rather than invert rankings.
    */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
      queryTerms: DataFrame, k: Int): DataFrame = {
    val terms = docs.select(id.as("doc_id"),
        TextAnalysis.wsTokenCount(text).cast("long").as("dl"),
        explode(graft.functions.text.wordShingles(text, 1)).as("term"))
      .filter(col("term") =!= "")
    // restrict to query terms BEFORE the tf shuffle (broadcast semi join)
    val qt = queryTerms.select(col("term")).distinct()
    val tf = terms.join(broadcast(qt), Seq("term"), "leftsemi")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    // corpus-size model: 1 row (N, Σdl) — exact integers
    val n = docs.agg(
      count(lit(1)).as("nd"),
      sum(TextAnalysis.wsTokenCount(text).cast("long")).as("sumdl"))
    bm25Serve(tf, n, queryTerms, k)
  }

  /** BM25 from an inverted INDEX: `postings` is the stored
    * (term, doc_id, tf, dl) table an index build wrote (see
    * q_index_serve — the build's tf/dl are the exact integers the
    * on-the-fly path derives, so serving from the store is
    * bit-identical to scoring from raw text), `docStats` the stored
    * 1-row-per-doc (doc_id, dl) table. The serve restricts the postings
    * scan to query terms map-side and reuses the one scoring tail.
    */
  def bm25TopKFromIndex(postings: DataFrame, docStats: DataFrame,
      queryTerms: DataFrame, k: Int): DataFrame = {
    val qt = queryTerms.select(col("term")).distinct()
    val tf = postings.join(broadcast(qt), Seq("term"), "leftsemi")
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    val n = docStats.agg(
      count(lit(1)).as("nd"), sum(col("dl")).as("sumdl"))
    bm25Serve(tf, n, queryTerms, k)
  }

  /** The ONE scoring tail both paths share — df from the restricted tf
    * table, the snapped per-term partial, per-(query, doc) exact sum,
    * bounded-heap top-k. A single definition so the stored-index serve
    * and the from-text serve cannot drift on literals or association.
    */
  private def bm25Serve(tf0: DataFrame, n: DataFrame,
      queryTerms: DataFrame, k: Int): DataFrame = {
    // the restricted tf table feeds TWO consumers — the df aggregate
    // (broadcast side) and the scoring probe — and without lineage
    // truncation each consumer re-derives the whole tokenize → semi-join
    // → tf-shuffle subtree (round-11 verdict #4: 14-18 exchanges, zero
    // reused, in every retrieval plan). One eager checkpoint materializes
    // the QUERY-MATCHING postings only — bounded by |query terms| ×
    // matching docs, never corpus-sized — and both consumers read the
    // materialized rows: the corpus tokenization runs once per serve.
    val tf = Checkpoints.scoped(s => s.keep(s.checkpoint(tf0)))
    // document frequency over the restricted tf table: ≤ |query terms| rows
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

    // per-term BM25 partial — the expression tree mirrors the oracle SQL
    // token for token (same literals, same association) so both engines
    // run the identical IEEE op sequence
    val tfd = col("tf").cast("double")
    val dld = col("dl").cast("double")
    val avgdl = col("sumdl").cast("double") / col("nd")
    val idf = log(lit(1.0) +
      (col("nd").cast("double") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfc = (tfd * lit(2.2)) /
      (tfd + lit(1.2) * (lit(0.25) + lit(0.75) * (dld / avgdl)))
    val termScore = floor((idf * tfc) * lit(65536.0)) / lit(65536.0)

    val scored = tf
      .join(broadcast(dfreq), "term")
      .join(broadcast(queryTerms), "term")
      .crossJoin(broadcast(n))
      .select(col("query_id"), col("doc_id"), termScore.as("ts"))
    val perDoc = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ts")).as("score")) // exact: dyadic summands
    perDoc.groupBy(col("query_id"))
      .agg(graft.functions.vectors.topk(col("score"), col("doc_id"), k)
        .as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("query_id"), (col("__pos") + 1).cast("int").as("rank"),
        col("__e.id").as("doc_id"), col("__e.score").as("score"))
  }
}
