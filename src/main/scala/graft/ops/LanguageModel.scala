package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the classic corpus filter
  * (CCNet / the KenLM stage of most LLM data pipelines): train a smoothed
  * bigram model on a trusted reference slice, score every candidate
  * document by cross-entropy under it, and keep the low-perplexity side.
  * In-engine here: the "model" is two count tables + one vocab scalar, so
  * training is two aggregations and scoring is two keyed joins — no
  * external LM service at any scale.
  *
  * Model: add-one smoothed bigram probabilities
  *   p(w2|w1) = (c2(w1 w2) + 1) / (c1(w1) + V)
  * with c1 derived from c2 (Σ_w2 c2 — bigram-first occurrences, the
  * consistent MLE denominator) and V = |reference vocabulary|. All counts
  * exact integers; each ln p is floored onto the 2^-16 dyadic grid before
  * the per-doc sum (the SURVEY §4 fixed-point contract), so the
  * cross-entropy is reduction-order-exact and oracle-replayable (same
  * bounded last-ulp ln caveat as ops.Retrieval — see its scaladoc).
  *
  * Scale shape at 100 TB: reference bigram counts are one shuffled
  * aggregation (partial map-side combine); c1/V are small derived aggs;
  * scoring joins the candidate bigram stream against c2 on the bigram key
  * and c1 on the first word — both keyed shuffles that AQE can turn into
  * broadcasts when the reference LM is small; the per-doc reduction is the
  * final doc-keyed aggregation. Nothing touches the driver.
  */
object LanguageModel {

  /** Per-document bigram cross-entropy under the reference-slice LM:
    * (doc_id, n_bigrams, n_unseen, cross_entropy, keep).
    * `isRef` selects the training slice (evaluated on `docs` columns);
    * every document is scored, reference docs included. `tau` is the
    * keep threshold in nats (exp(tau) = perplexity cut).
    */
  def bigramCrossEntropy(docs: DataFrame, id: Column, text: Column,
      isRef: Column, tau: Double): DataFrame = {
    val base = docs.select(id.as("doc_id"), isRef.as("__ref"),
      explode(graft.functions.text.wordShingles(text, 2)).as("g"))
    val c2 = base.filter(col("__ref"))
      .groupBy(col("g")).agg(count(lit(1)).as("c2n"))
    val c1 = c2.groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("c2n")).as("c1n"))
    val vocab = docs.filter(isRef)
      .select(explode(graft.functions.text.wordShingles(text, 1)).as("t"))
      .agg(count_distinct(col("t")).as("v")) // 1 row — the model scalar

    // ln p snapped to the 2^-16 grid — the identical expression tree the
    // oracle runs (same casts, same association)
    val lp = floor(log(
      (coalesce(col("c2n"), lit(0L)) + lit(1L)).cast("double") /
        (coalesce(col("c1n"), lit(0L)) + col("v")).cast("double"))
      * lit(65536.0)) / lit(65536.0)

    base.select(col("doc_id"), col("g"))
      .join(c2, Seq("g"), "left")
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("c2n"), lp.as("lp"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("c2n").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(col("lp")).as("__slp")) // exact: dyadic summands
      .select(col("doc_id"), col("n_bigrams"), col("n_unseen"),
        ((-col("__slp")) / col("n_bigrams")).as("cross_entropy"),
        (((-col("__slp")) / col("n_bigrams")) <= lit(tau)).as("keep"))
  }

  /** Multinomial Naive Bayes document classifier, trained in-engine — the
    * supervised sibling of [[bigramCrossEntropy]] and the classic shape of
    * LLM-corpus quality/domain classifiers (the fastText filter of
    * GPT-3/CCNet pipelines re-expressed as a token-count model): train on
    * the labeled `isRef` slice, predict a label for EVERY document.
    *
    * Model: per-class prior ln(docs_c / docs_total) and add-one smoothed
    * token likelihoods ln((c(cls,t) + 1) / (c(cls) + V)) with c(cls)
    * derived as Σ_t c(cls,t) and V = |reference vocabulary| — two
    * aggregations and two scalars; scoring is one keyed join per token
    * against the (cls, token) table, fanned out over the (bounded,
    * broadcast) class list, summed per (doc, class), argmax per doc.
    * Every ln is floored onto the 2^-16 dyadic grid before any sum
    * (SURVEY §4), so scores are reduction-order-exact, the argmax is
    * deterministic (ties broken by class name), and the whole trained
    * model replays in the DuckDB oracle.
    *
    * Scale shape at 100 TB: class table and scalars broadcast; the
    * (cls, token) likelihood join is a keyed shuffle that AQE broadcasts
    * while the model is small; the per-class fan-out multiplies the token
    * stream by |classes| (bounded, single digits); final agg is doc-keyed.
    */
  def naiveBayes(docs: DataFrame, id: Column, text: Column,
      label: Column, isRef: Column): DataFrame = {
    val base = docs.select(id.as("doc_id"), label.as("__lbl"),
      isRef.as("__ref"),
      explode(graft.functions.text.wordShingles(text, 1)).as("t"))
    val ref = base.filter(col("__ref"))
    // the (class, term) count table is the MODEL — model-sized, consumed
    // twice (class totals + the scoring join). Checkpoint it once so the
    // ref-slice tokenization underneath runs once, not per consumer
    // (round-11 verdict #4: 15 exchanges, zero reused).
    // Both model tables are kept: the returned plan reads them lazily.
    val (ctk, docsPerClass) = Checkpoints.scoped { s =>
      (s.keep(s.checkpoint(
        ref.groupBy(col("__lbl").as("cls"), col("t"))
          .agg(count(lit(1)).as("ctn")))),
      s.keep(s.checkpoint(docs.filter(isRef)
        .groupBy(label.as("cls")).agg(count(lit(1)).as("nd")))))
    }
    // vocabulary size from the MODEL, not a third pass over the tokens:
    // ctk's distinct terms ARE ref's distinct terms by construction
    val vocab = ctk.agg(count_distinct(col("t")).as("v")) // 1-row scalar
    // class-count total from the per-class table — one doc scan, not two.
    // coalesce: sum() over an EMPTY ref slice is NULL where the previous
    // count(*) form was 0; without it ntot=null would propagate nulls
    // through every log(nd/ntot) instead of the deterministic empty-model
    // result (r12 ADVICE).
    val total = docsPerClass.agg(
      coalesce(sum(col("nd")), lit(0L)).as("ntot")) // 1 row
    // class table: prior + likelihood denominator, both model-side
    val classes = ctk.groupBy(col("cls")).agg(sum(col("ctn")).as("ckn"))
      .join(docsPerClass, "cls")
      .crossJoin(broadcast(total))
      .select(col("cls"), col("ckn"),
        (floor(log(col("nd").cast("double") / col("ntot").cast("double"))
          * lit(65536.0)) / lit(65536.0)).as("lp0"))

    val lp = floor(log(
      (coalesce(col("ctn"), lit(0L)) + lit(1L)).cast("double") /
        (col("ckn") + col("v")).cast("double"))
      * lit(65536.0)) / lit(65536.0)

    val scored = base.select(col("doc_id"), col("__lbl"), col("t"))
      .crossJoin(broadcast(classes))
      .join(ctk, Seq("cls", "t"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("__lbl"), col("cls"), col("lp0"),
        lp.as("lp"))
      .groupBy(col("doc_id"), col("__lbl"), col("cls"), col("lp0"))
      .agg(sum(col("lp")).as("__slp")) // exact: dyadic summands
      .select(col("doc_id"), col("__lbl"), col("cls"),
        (col("lp0") + col("__slp")).as("score"))

    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cls"))
    scored
      .withColumn("__rn", row_number().over(byDoc))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("cls").as("predicted"), col("score"),
        col("__lbl").as("actual"),
        (col("cls") === col("__lbl")).as("is_correct"))
  }
}
