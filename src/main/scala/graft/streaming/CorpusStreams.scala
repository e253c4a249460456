package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ops.TextAnalysis
import graft.sources.Datalake
import graft.streaming.StreamReplay.foreachEpoch

/** Streaming corpus ingestion — the continuous form of the cleaning
  * pipeline: documents land as files (the reference's per-fetch raw drops),
  * are rate-limited into bounded micro-batches, cleaned statelessly, and
  * handed to a sink.
  *
  * Scale notes:
  *  - `maxFilesPerTrigger` bounds micro-batch size, so a 100 TB backlog
  *    replays in controlled chunks instead of one giant batch that OOMs
  *    the first trigger; with Trigger.AvailableNow the same bounded batches
  *    drain the backlog and then STOP — the idempotent backfill pattern.
  *  - [[cleanDocs]] is a pure projection+filter: no state, no shuffle, so
  *    streaming throughput is scan-bound and append-mode safe at any rate.
  *    Cross-batch exact dedup deliberately stays OUT of this stage — dedup
  *    state over an unbounded corpus grows without a watermark; it belongs
  *    to the batch layer (q_dedup_exact) or a watermarked key-state op
  *    (EventStreams.dedupEvents) when event time exists.
  */
object CorpusStreams {

  /** Rate-limited file-source document stream. */
  def readDocFiles(spark: SparkSession, dir: String, schema: StructType,
      maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(dir)

  /** Streaming DEAD-LETTER split — the production shape of the
    * quarantine op (r13 verdict #6 named it: "one foreachBatch with two
    * filtered writes"): every micro-batch runs the SAME
    * `Cleaning.quarantine` rules as the batch row and lands each class
    * in its own epoch-keyed dir (overwrite-on-replay = idempotent, the
    * exportJsonl pattern) — valid rows flow on, rejects accumulate WITH
    * their reasons instead of vanishing. Two filtered passes over the
    * micro-batch (one per sink); the reason projection itself is one
    * codegen expression. Chunking is exact: the rules are per-row, so
    * the union of per-epoch outputs equals one batch run over the feed.
    */
  def quarantineStream(feed: DataFrame,
      rules: Seq[(String, org.apache.spark.sql.Column)],
      validDir: String, rejectDir: String, checkpoint: String): StreamingQuery =
    foreachEpoch(feed, checkpoint) { (batch, epoch) =>
      val (valid, rejected) = graft.ops.Cleaning.quarantine(batch, rules)
      Datalake.writeParquet(valid, s"$validDir/epoch=$epoch")
      Datalake.writeParquet(rejected, s"$rejectDir/epoch=$epoch")
    }

  /** Streaming arrival form of the incremental dedup (ops.Dedup
    * .incrementalDedup): each micro-batch of newly crawled documents is
    * ONE "daily batch" — sketched once, its sketch landed as a store
    * increment (epoch-keyed dir: overwrite-on-replay = idempotent, the
    * exportJsonl pattern), then statused against the PERSISTED historical
    * store. The batch operator is reused wholesale inside foreachBatch, so
    * stream and batch cannot disagree on dedup semantics — and because
    * the operator is new-vs-history only (batch-internal dups are the
    * classic jobs' business), chunking the arrival into micro-batches is
    * EXACT: the union of per-epoch results equals one batch run over the
    * union (proven in CorpusStreamSpec).
    *
    * No streaming state at all: the sketch is a projection, the joins are
    * against static frames — the cheapest correct form, and the store
    * increments feed the next store compaction.
    */
  def incrementalDedupStream(docs: DataFrame, histExact: DataFrame,
      histBands: DataFrame, storeIncrementDir: String, resultDir: String,
      checkpoint: String): StreamingQuery =
    foreachEpoch(docs, checkpoint) { (batch, epoch) =>
      val skPath = s"$storeIncrementDir/epoch=$epoch"
      Datalake.writeParquet(
        graft.ops.Dedup.minhashSketch(batch, col("doc_id"), col("text")),
        skPath)
      Datalake.writeParquet(
        graft.ops.Dedup.incrementalDedup(
          batch.sparkSession.read.parquet(skPath), histExact, histBands),
        s"$resultDir/epoch=$epoch")
    }

  /** Streaming Count-Min sketch maintenance: each micro-batch's token CMS
    * (ops.Sketches.cmsBuild) lands as an epoch-keyed store increment; the
    * LIVE sketch is the cell-wise SUM of all increments ([[cmsRead]]).
    * This is exact, not approximate-on-approximate: CMS is LINEAR —
    * sketch(A ∪ B) = sketch(A) + sketch(B) cell-wise — so the folded
    * stream sketch is bit-identical to one batch build over everything
    * ever streamed (proven in CorpusStreamSpec). Epoch-keyed overwrite
    * makes crash-replay idempotent: a replayed batch rewrites the same
    * increment, never double-counts. State per epoch is ≤ d·w counter
    * rows — the store grows with TIME, not with corpus size, and
    * compaction is the same cell-wise sum into one base epoch.
    */
  def cmsStream(docs: DataFrame, storeDir: String, checkpoint: String,
      width: Int): StreamingQuery =
    foreachEpoch(docs, checkpoint) { (batch, epoch) =>
      val toks = batch.select(
        explode(graft.functions.text.wordShingles(col("text"), 1)).as("t"))
      Datalake.writeParquet(
        graft.ops.Sketches.cmsBuild(toks, col("t"), width),
        s"$storeDir/epoch=$epoch")
    }

  /** The live sketch: cell-wise sum over every landed increment. */
  def cmsRead(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)
      .groupBy(col("lane"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Stateless streaming clean: the same scan-side signals as the batch
    * funnel (language ID, quality score, normal-form fingerprint), keeping
    * English docs above the quality bar. Identical thresholds to
    * TextQueries.qCorpusFunnel so batch and stream agree on what "clean"
    * means.
    */
  def cleanDocs(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        TextAnalysis.langPredict(col("text")).as("pred_lang"),
        TextAnalysis.qualityScore(TextAnalysis.wsTokenCount(col("text")),
          TextAnalysis.punctCount(col("text")).cast("double") / length(col("text")),
          TextAnalysis.langScore(col("text"), "en").cast("double") /
            TextAnalysis.wsTokenCount(col("text"))).as("quality"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .filter(col("pred_lang") === "en" && col("quality") >= 0.5)
}
