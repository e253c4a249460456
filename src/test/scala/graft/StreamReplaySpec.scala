package graft

import org.apache.spark.sql.DataFrame

import graft.queries.{EventQueries, JourneyQueries, StreamQueries}

/** The registered streaming replay rows (q_stream_retention / q_stream_scd2
  * / q_stream_markov) equal their batch twins bit-for-bit: the file-source
  * replay harness (StreamReplay) must seal EVERY real event — a single
  * dropped-as-late or never-flushed buffer row would change a count — so
  * this is simultaneously the harness's determinism proof and the
  * stream==batch equality the driver re-checks by hash.
  */
class StreamReplaySpec extends SparkSpecBase {

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("replayed retention changelog rebuilds the batch cohort matrix exactly") {
    assert(rowsOf(StreamQueries.qStreamRetention(spark, sfDir)) ===
      rowsOf(JourneyQueries.qRetentionCohort(spark, sfDir)))
  }

  test("replayed SCD2 changelog rebuilds the batch history exactly") {
    assert(rowsOf(StreamQueries.qStreamScd2(spark, sfDir)) ===
      rowsOf(EventQueries.qScd2History(spark, sfDir)))
  }

  test("replayed transition changelog rebuilds the batch Markov matrix exactly") {
    assert(rowsOf(StreamQueries.qStreamMarkov(spark, sfDir)) ===
      rowsOf(JourneyQueries.qMarkovTransitions(spark, sfDir)))
  }

  test("replayed funnel changelog rebuilds the batch funnel exactly") {
    assert(rowsOf(StreamQueries.qStreamFunnel(spark, sfDir)) ===
      rowsOf(JourneyQueries.qFunnelSteps(spark, sfDir)))
  }

  test("replayed sessionize fold rebuilds the batch sessions exactly") {
    assert(rowsOf(StreamQueries.qStreamSessionize(spark, sfDir)) ===
      rowsOf(EventQueries.qSessionize(spark, sfDir)))
  }

  test("replayed windowed-agg cells rebuild the batch tumbling rollup exactly") {
    assert(rowsOf(StreamQueries.qStreamWindow(spark, sfDir)) ===
      rowsOf(EventQueries.qWindowTumbling(spark, sfDir)))
  }

  test("replayed stream-stream interval join rebuilds the batch range join exactly") {
    assert(rowsOf(StreamQueries.qStreamAttribution(spark, sfDir)) ===
      rowsOf(EventQueries.qRangeJoin(spark, sfDir)))
  }

  test("stream-maintained CMS store answers the batch heavy-hitters row exactly") {
    assert(rowsOf(StreamQueries.qStreamHeavyHitters(spark, sfDir)) ===
      rowsOf(graft.queries.TextQueries.qHeavyHitters(spark, sfDir)))
  }

  test("streamed incremental dedup equals the batch day-job exactly") {
    assert(rowsOf(StreamQueries.qStreamDedupIncremental(spark, sfDir)) ===
      rowsOf(graft.queries.SimilarityQueries.qDedupIncremental(spark, sfDir)))
  }

  test("stream-ingested IVF store serves the registered quantized query exactly") {
    val cents = graft.queries.SimilarityQueries.centroidsFor(spark, sfDir)
    assert(rowsOf(graft.queries.SimilarityQueries.qStreamIvfIngest(spark, sfDir, cents)) ===
      rowsOf(graft.queries.SimilarityQueries.qAnnIvfQuantized(spark, sfDir, cents)))
  }

  test("streamed datalake DAG's drained usage layer equals the batch pipeline") {
    assert(rowsOf(StreamQueries.qStreamDatalake(spark, sfDir)) ===
      rowsOf(graft.queries.DatalakeQueries.qDatalakePipeline(spark, sfDir)))
  }

  test("streamed cluster fold lands on the batch incremental labeling") {
    assert(rowsOf(StreamQueries.qStreamClusters(spark, sfDir)) ===
      rowsOf(graft.queries.SimilarityQueries.qDedupClustersIncremental(spark, sfDir)))
  }

  test("replayed gap-fill changelog rebuilds the batch densify over the coalesced frame") {
    import org.apache.spark.sql.functions._
    val coalesced = graft.sources.Tables.events(spark, sfDir)
      .withColumn("value", coalesce(col("value"), lit(0.0)))
    val batch = JourneyQueries.gapFill(coalesced)
      .orderBy(col("user_id"), col("day"))
    assert(rowsOf(StreamQueries.qStreamGapfill(spark, sfDir)) ===
      rowsOf(batch))
  }
}
