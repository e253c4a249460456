package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.sources.Tables
import graft.streaming.EventStreams.Event

/** Bounded replay harness: runs a REAL Structured Streaming query (file
  * source → stateful fold → file sink, `Trigger.AvailableNow`) over the
  * batch `events` table INSIDE a registered query, so the streaming
  * changelog operators get driver-checkable correctness rows against the
  * SAME DuckDB oracles as their batch twins — the reference's hourly
  * Airflow poll (dags/DAG_Project.py:18-26, lbc_fetcher.py's state file)
  * re-run as the idempotent backfill pattern.
  *
  * Replay contract — why this reproduces the batch answer EXACTLY:
  *  - The feed is the events table written as `chunks` range-partitioned
  *    parquet files on (ts, event_id), with strictly increasing file
  *    modification times in range order. The file source (sorted by
  *    modtime, `maxFilesPerTrigger=1`) therefore replays in event-time
  *    order with file-level granularity: WITHIN a micro-batch order is
  *    arbitrary (the folds sort their ripe slice), and ACROSS batches
  *    nothing ever arrives behind the watermark (batch N's minimum ts ≥
  *    batch N−1's maximum by the range bounds), so the late-event filter
  *    provably drops nothing. This is the contract a production feed
  *    (Kafka, landing files) is ASSUMED to satisfy; the harness
  *    manufactures it from data at rest.
  *  - Two far-future sentinel files (user_id = −1, ts = max+3d and
  *    max+6d) land LAST, each its own micro-batch. During the second
  *    sentinel's DATA batch the watermark is already sentinel-1 − delay —
  *    past every real day's end — so every buffered key's event-time
  *    timeout has expired and Spark folds it in that same trigger: the
  *    flush is deterministic and does not depend on trailing no-data
  *    batches. Callers filter `user_id >= 0` to drop sentinel output.
  *
  * Scale notes: staging is one distributed range-shuffle write; the
  * stream itself is the production plan (per-key state in the state
  * store, one shuffle on user_id per batch). `maxFilesPerTrigger=1`
  * serializes batches — that is the point (bounded-backlog backfill, the
  * CorpusStreams discipline), and each batch is internally parallel. At
  * 100 TB the same query runs off the live landing dir with the staging
  * step deleted.
  */
object StreamReplay {

  // Every temp tree this JVM created. Frames returned by the rows read
  // their scratch LAZILY, so a tree must outlive the call that made it;
  // repeated invocations in one JVM (bench passes, the spec suite) would
  // otherwise accumulate trees forever. One shutdown hook reaps them all.
  private val roots = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** Register a temp tree for deletion at JVM exit. */
  def track(root: Path): Unit = { reaper; roots.add(root) }

  /** The one way the engine makes a temp root: a fresh directory named
    * `prefix…` under the JVM temp dir, deleted by the one shutdown hook at
    * exit (lake tables, replay sinks and checkpoints, staged feeds). */
  def scratch(prefix: String): Path = {
    val root = Files.createTempDirectory(prefix)
    track(root)
    root
  }

  // Every streaming sub-session this JVM created. StreamingQueryManager
  // is PER-SESSION state (SparkSession.streams = its SessionState's
  // manager), so a hygiene check on the root session's `streams.active`
  // can never see a stream started here — the round-10 bench hygiene
  // feature was dead code until it enumerated these too.
  private val subSessions =
    new java.util.concurrent.ConcurrentLinkedQueue[SparkSession]()

  /** The one way the engine makes a streaming sub-session: smaller
    * shuffle width (the state-store-commit argument on
    * [[runIncarnation]]) and REGISTERED, so [[activeStreamsAnywhere]]
    * can audit it later.
    */
  def subSession(spark: SparkSession): SparkSession = {
    val sq = spark.newSession()
    sq.conf.set("spark.sql.shuffle.partitions", "8")
    subSessions.add(sq)
    sq
  }

  /** Active StreamingQueries across the root session AND every
    * registered sub-session — the set a leak check must actually look
    * at. */
  def activeStreamsAnywhere(root: SparkSession): Seq[StreamingQuery] = {
    import scala.jdk.CollectionConverters._
    (root +: subSessions.asScala.toSeq).flatMap(_.streams.active).distinct
  }

  /** Shutdown step before `spark.stop()`: stop every active stream, then
    * the state-store maintenance task. A stateful stream row leaves that
    * task scheduled; left running, it races `spark.stop()` and logs
    * "SparkEnv not active, cannot do maintenance on StateStores" with a
    * stack trace at exit. */
  def stopStreams(root: SparkSession): Unit = {
    activeStreamsAnywhere(root).foreach { q =>
      try q.stop() catch { case _: Exception => () }
    }
    StateStore.stop()
  }

  private lazy val reaper: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      roots.forEach { r =>
        try {
          import scala.jdk.CollectionConverters._
          val walk = Files.walk(r)
          try walk.iterator().asScala.toSeq.reverse.foreach(p =>
            try Files.deleteIfExists(p) catch { case _: Exception => () })
          finally walk.close()
        } catch { case _: Exception => () }
      }
    }))

  /** The one staging rule of every replayed feed: `df` range-partitioned
    * on `keys` into `files` parquet part files under `dir`. Returns the
    * part files in key order (part-00000 holds the lowest keys). */
  private def stage(df: DataFrame, dir: Path, files: Int,
      keys: Seq[String]): Seq[Path] = {
    df.repartitionByRange(files, keys.map(col): _*).write.parquet(dir.toString)
    listParts(dir)
  }

  /** Step the modtimes of `files` 2 s apart, in the given order, ending
    * in the past: the file source drains by (modtime, path), so the
    * files drain in this order on every run. */
  private def stepModtimes(files: Seq[Path]): Unit = {
    val base = (System.currentTimeMillis() / 2000L) * 2000L - 7200000L
    files.zipWithIndex.foreach { case (p, i) =>
      p.toFile.setLastModified(base + i * 2000L)
    }
  }

  /** `df` replayed as a file stream: staged as `files` range-partitioned
    * chunks on `keys` whose modtimes step in key order, read back on a
    * registered [[subSession]] one file per trigger. So the feed drains in
    * exactly one data micro-batch per non-empty chunk, lowest keys first.
    */
  def feed(spark: SparkSession, df: DataFrame, files: Int,
      keys: String*): DataFrame = {
    val dir = scratch("graft-feed").resolve("feed")
    stepModtimes(stage(df, dir, files, keys))
    subSession(spark).readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
  }

  /** The one micro-batch loop: drain `stream` to the end of what is
    * available now (Trigger.AvailableNow), checkpointed at `checkpoint`,
    * running `body(batch, epoch)` once per micro-batch. A body that
    * writes only under its own `epoch=` dir overwrites that dir when a
    * restart replays the epoch, so a replay is idempotent. */
  def foreachEpoch(stream: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()

  /** Stage `events(dir)` as an event-time-ordered feed, run `op` over it
    * as a stream to completion, and return the materialized output
    * (sentinel rows still present — filter `user_id >= 0`).
    */
  /* chunks default: 2 data chunks + 2 sentinels = 4 serialized
   * micro-batches. Cross-batch state carry-over is exercised from 2
   * chunks on (and larger chunks carry MORE within-batch disorder for
   * the buffer-sorts to fix); each extra micro-batch costs a ~0.6s
   * listing+state-commit+sink-commit floor regardless of data size, so
   * the registered rows keep the count low. */
  // Staged-feed memo: the replay rows re-read the SAME events table with
  // the same chunking, and the feed is read-only input (every query
  // keeps its own sink + checkpoint), so staging once per source
  // SNAPSHOT per JVM is sound and removes a repeated range-shuffle write
  // + modtime dance from every bench pass and the driver's Verify loop.
  // The memo key carries a cheap content fingerprint of the source dir
  // (file count + total bytes + max modtime — round-9 ADVICE): if the
  // events table is regenerated in this JVM's lifetime, the fingerprint
  // moves and the feed re-stages instead of silently replaying the
  // stale snapshot while batch twins read fresh data.
  private val feeds =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, String), String]()

  /** (nFiles, totalBytes, maxModtime) of the events source files — the
    * staleness witness for the feed memo. Driver-side listing of one
    * directory: catalog-sized, never data-sized.
    */
  private def sourceFingerprint(dir: String): String = {
    val p = Paths.get(dir, "events.parquet")
    if (!Files.exists(p)) return "absent"
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      s"${fs.length}:${fs.map(Files.size).sum}:" +
        s"${fs.map(Files.getLastModifiedTime(_).toMillis).maxOption.getOrElse(0L)}"
    } finally s.close()
  }

  /** Memo lookup with eviction (round-10 ADVICE): when the source
    * fingerprint has moved, the superseded entry for the same (dir,
    * chunks) is dropped from the memo so no NEW replay can pick it up —
    * but its staged temp tree is handed to the shutdown reaper instead of
    * deleted eagerly (round-11 ADVICE): the memo is a shared
    * ConcurrentHashMap, and another thread in this JVM could still be
    * mid-replay from the stale feed; deleting under it would rip the
    * files out of a running streaming read. Disk cost is one dead
    * snapshot per source regeneration (rare), reclaimed at JVM exit.
    */
  private def stagedFeed(spark: SparkSession, dir: String,
      chunks: Int): String = {
    val fp = sourceFingerprint(dir)
    val feed = feeds.computeIfAbsent((dir, chunks, fp),
      _ => stageFeed(spark, dir, chunks))
    import scala.jdk.CollectionConverters._
    feeds.keySet.asScala.toSeq
      .filter(k => k._1 == dir && k._2 == chunks && k._3 != fp)
      .foreach { k =>
        val stale = feeds.remove(k)
        if (stale != null) track(Paths.get(stale).getParent)
      }
    feed
  }

  def replayEvents[O](spark: SparkSession, dir: String, chunks: Int = 2)(
      op: Dataset[Event] => Dataset[O]): DataFrame = {
    val feed = stagedFeed(spark, dir, chunks)
    val root = scratch("graft-replay")
    runIncarnation(spark, feed, root, op)
    spark.read.parquet(root.resolve("out").toString)
  }

  /** One streaming incarnation: run `op` over `feedPath` to completion
    * (Trigger.AvailableNow) against root/ck + root/out. Calling it AGAIN
    * with the same root is a RESTART: everything the new incarnation
    * knows is the checkpoint (offset WAL + state store) and the sink's
    * _spark_metadata — exactly what survives a crash.
    *
    * The stream runs on a SUB-SESSION with a smaller shuffle width: a
    * stateful micro-batch pays per-partition state-store open/commit on
    * EVERY batch (4 serialized batches at the default chunks=2), and at
    * 32 partitions that is ~128 state commits for node-sized state — 8
    * partitions cuts it 4× with the same semantics (state is keyed;
    * width only shards it). The caller's session and conf are untouched;
    * the production form of this knob is
    * spark.sql.streaming.statefulOperator.* sizing on the live job.
    */
  private def runIncarnation[O](spark: SparkSession, feedPath: String,
      root: Path, op: Dataset[Event] => Dataset[O],
      rocksDb: Boolean = false): Unit = {
    val sq = subSession(spark)
    if (rocksDb) sq.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import sq.implicits._
    val stream = sq.readStream.schema(implicitly[
        org.apache.spark.sql.Encoder[Event]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(feedPath)
      .as[Event]
    val q = op(stream).writeStream
      .format("parquet").option("path", root.resolve("out").toString)
      .option("checkpointLocation", root.resolve("ck").toString)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Crash-recovery replay (round-9 verdict #5 — the one streaming proof
    * that was sbt-only): the SAME stateful fold, run as TWO incarnations
    * against one checkpoint + one sink.
    *
    * Incarnation 1 sees only the feed's FIRST data chunk and terminates
    * with every cohort/day learned from it held ONLY in the checkpointed
    * state store (RocksDB — the production provider the sbt spec uses)
    * and nothing flushed (no sentinel has arrived, so no day is sealed).
    * The remaining chunks + sentinels then land, and incarnation 2 —
    * a FRESH query against the same checkpoint — must resume from the
    * offset WAL, restore the state, process the tail, and seal every
    * day. From the engine's standpoint a restart after clean stop and
    * after a kill are the same code path: the checkpoint and the sink's
    * _spark_metadata are the ONLY carry-over either way (the
    * mid-enqueue kill variant with duplicate-delivery assertions stays
    * pinned in StreamingSpec). The caller gets the UNION the sink's
    * metadata log admits — exactly-once across incarnations — and the
    * driver hashes it against the batch twin's oracle: a lost state
    * entry, a replayed emission, or a watermark regression after
    * restart all change the matrix and hash-fail.
    *
    * Unlike the memoized plain replay, the live feed dir is PRIVATE to
    * the invocation (the staged feed is copied file-by-file, modtimes
    * preserved) because the visibility dance is part of the semantics.
    */
  def replayEventsWithRestart[O](spark: SparkSession, dir: String,
      chunks: Int = 2)(op: Dataset[Event] => Dataset[O]): DataFrame = {
    val feed = stagedFeed(spark, dir, chunks)
    val root = scratch("graft-replay-rec")
    val live = Files.createDirectory(root.resolve("live"))
    // DATA files only (part-* chunks + zz-sentinel-*): the raw listing
    // also contains bookkeeping (_SUCCESS, Hadoop .crc siblings) whose
    // modtimes are NOT back-dated, so including them would (a) let the
    // >=3 check pass without 2 real data chunks and (b) make "head is
    // the first chunk" an accident of write times (round-10 ADVICE).
    val staged = {
      val s = Files.list(Paths.get(feed))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith("part-") || n.startsWith("zz-sentinel-")
          }
          .sortBy(p => (p.toFile.lastModified, p.getFileName.toString))
      } finally s.close()
    }
    val dataParts = staged.count(_.getFileName.toString.startsWith("part-"))
    require(dataParts >= 2 && staged.length >= dataParts + 2,
      s"need >=2 data chunks + 2 sentinels, got $staged")
    def admit(p: Path): Unit = {
      val dst = live.resolve(p.getFileName.toString)
      Files.copy(p, dst)
      dst.toFile.setLastModified(p.toFile.lastModified)
    }
    admit(staged.head)
    runIncarnation(spark, live.toString, root, op, rocksDb = true)
    staged.tail.foreach(admit)
    runIncarnation(spark, live.toString, root, op, rocksDb = true)
    spark.read.parquet(root.resolve("out").toString)
  }

  /** One-time staging of `events(dir)` as the modtime-ordered chunked
    * feed + the two sentinel files (see the replay contract above).
    */
  private def stageFeed(spark: SparkSession, dir: String,
      chunks: Int): String = {
    import spark.implicits._
    val src = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        coalesce(col("value"), lit(0.0)).as("value"))
    val root = scratch("graft-replay-feed")
    val feed = root.resolve("feed")
    // ONE range-shuffle pass stages the feed; the sentinel timestamps
    // come from a max() over the staged files (footer-stat cheap), not a
    // second scan of the source table.
    val parts = stage(src, feed, chunks, Seq("ts", "event_id"))
    val maxTs = spark.read.parquet(feed.toString).agg(max(col("ts")))
      .head.getTimestamp(0)
    val sentinels = Seq(3L, 6L).zipWithIndex.map { case (days, i) =>
      val sDir = root.resolve(s"s$i")
      spark.createDataset(Seq(Event(Long.MaxValue - i,
          new java.sql.Timestamp(maxTs.getTime + days * 86400000L),
          -1L, "view", 0.0)))
        .coalesce(1).write.parquet(sDir.toString)
      Files.move(listParts(sDir).head, feed.resolve(s"zz-sentinel-$i.parquet"))
    }
    stepModtimes(parts ++ sentinels)
    feed.toString
  }

  private def listParts(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString)
    } finally s.close()
  }
}
