package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{max, min}

import graft.queries.{EventQueries, JourneyQueries, StreamQueries}
import graft.sources.Datalake
import graft.streaming.StreamReplay.{feed, foreachEpoch, scratch}

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

  test("a feed of n files drains in exactly n data micro-batches, lowest keys in epoch 0") {
    val root = scratch("graft-feed-spec")
    val seen = new ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = foreachEpoch(feed(spark, spark.range(0, 300).toDF("k"), 3, "k"),
        root.resolve("ck").toString) { (batch, epoch) =>
      val r = batch.agg(min("k"), max("k")).head
      seen.add((epoch, r.getLong(0), r.getLong(1)))
    }
    q.awaitTermination()
    val epochs = seen.asScala.toSeq.sortBy(_._1)
    assert(epochs.map(_._1) === Seq(0L, 1L, 2L))
    assert(q.recentProgress.count(_.numInputRows > 0) === 3)
    assert(epochs.head._2 === 0L, "the lowest keys must drain first")
    // each chunk is one key range, drained in key order
    epochs.sliding(2).foreach { case Seq(a, b) => assert(a._3 < b._2) }
  }

  test("a replayed foreachEpoch epoch overwrites its epoch= dir, leaving no second copy") {
    val root = scratch("graft-epoch-spec")
    val out = root.resolve("out").toString
    val ck = root.resolve("ck").toString
    val stream = feed(spark, spark.range(0, 200).toDF("k"), 2, "k")
    def drain(): Seq[Long] = {
      val ran = new ConcurrentLinkedQueue[Long]()
      foreachEpoch(stream, ck) { (batch, epoch) =>
        ran.add(epoch)
        Datalake.writeParquet(batch, s"$out/epoch=$epoch")
      }.awaitTermination()
      ran.asScala.toSeq
    }
    def landed(): Seq[(Long, Int)] = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(drain() === Seq(0L, 1L))
    val first = landed()
    assert(first.length === 200)
    // lose the last commit record, as a crash after the sink write does:
    // the restart must re-run epoch 1 into the same dir
    Seq("1", ".1.crc").foreach(f => Files.deleteIfExists(Paths.get(ck, "commits", f)))
    assert(drain() === Seq(1L))
    assert(landed() === first)
    assert(Files.list(Paths.get(out)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("epoch=")).toSeq.sorted ===
      Seq("epoch=0", "epoch=1"))
  }
}
