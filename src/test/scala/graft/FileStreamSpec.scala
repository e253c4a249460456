package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import graft.streaming.EventStreams

/** The production streaming entry: a file-source stream over the same
  * parquet the batch queries read (including the TIMESTAMP(NANOS) → long →
  * timestamp conversion), windowed-aggregated, checked against the batch
  * answer on identical data.
  */
class FileStreamSpec extends SparkSpecBase {

  test("streaming micro-batch DAG converges to the batch DAG's usage layer") {
    import graft.streaming.DatalakeStreams
    val root = graft.streaming.StreamReplay.scratch("graft-sdag")
    val rawDir = s"$root/raw"; val fmt = s"$root/formatted"
    val usage = s"$root/usage"; val ckpt = s"$root/ckpt"
    // two fetch drops with an OVERLAPPING increment (at-least-once raw):
    // the read-time dedup must absorb the replay
    val src = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
    src.filter(col("event_id") % 2 === 0).write.json(s"$rawDir/d1")
    src.filter(col("event_id") % 2 =!= 0 || col("event_id") % 10 === 0)
      .write.json(s"$rawDir/d2")
    // flatten the drops into one dir of files (the file source lists files)
    val raw = DatalakeStreams.readRawStream(spark, s"$rawDir/d*/",
      maxFilesPerTrigger = 2)
    val q = DatalakeStreams.runBackfill(raw, fmt, usage, ckpt)
    try { q.awaitTermination() } finally q.stop()
    val streamed = spark.read.parquet(usage)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // batch truth over the SAME rows (the full events table)
    val batchUsage = graft.queries.DatalakeQueries.usageStats(
        graft.queries.DatalakeQueries.dedupKeepLast(
          graft.queries.DatalakeQueries.coerceRaw(src)))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed === batchUsage,
      "stream-computed usage == batch usage despite the overlapping replay")
  }

  test("publishing backfill lands one manifest version per epoch; epochs time-travel") {
    import graft.sources.Datalake
    import graft.streaming.DatalakeStreams
    val root = graft.streaming.StreamReplay.scratch("graft-spub")
    val rawDir = s"$root/raw"; val fmt = s"$root/formatted"
    val table = s"$root/usage_table"; val ckpt = s"$root/ckpt"
    val src = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
    src.filter(col("event_id") % 2 === 0).coalesce(1).write.json(s"$rawDir/d1")
    src.filter(col("event_id") % 2 =!= 0).coalesce(1).write.json(s"$rawDir/d2")
    val raw = DatalakeStreams.readRawStream(spark, s"$rawDir/d*/",
      maxFilesPerTrigger = 1)
    val q = DatalakeStreams.runPublishingBackfill(raw, fmt, table, ckpt)
    try { q.awaitTermination() } finally q.stop()
    // one published, immutable version per micro-batch epoch
    assert(Datalake.listVersions(spark, table) === Seq("e0", "e1"))
    assert(Datalake.currentVersion(spark, table) === Some("e1"))
    // epoch 0 time-travels to the FIRST increment's usage alone
    val v0 = spark.read.parquet(s"$table/v=e0")
      .agg(sum("n_events")).head.getLong(0)
    val even = graft.queries.DatalakeQueries.usageStats(
        graft.queries.DatalakeQueries.dedupKeepLast(
          graft.queries.DatalakeQueries.coerceRaw(
            src.filter(col("event_id") % 2 === 0))))
      .agg(sum("n_events")).head.getLong(0)
    assert(v0 === even, "epoch-0 snapshot == batch over first drop")
    // the manifest-current epoch equals the batch truth over everything
    val fin = Datalake.readPublished(spark, table)
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val batchUsage = graft.queries.DatalakeQueries.usageStats(
        graft.queries.DatalakeQueries.dedupKeepLast(
          graft.queries.DatalakeQueries.coerceRaw(src)))
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(fin === batchUsage)
  }

  test("stream epochs ride the CAS log: a racing batch writer orphans no epoch, replays re-claim as no-ops") {
    // r13 verdict #4: runPublishingBackfill published epochs through plain
    // last-writer-wins publish — a concurrent batch CAS writer could
    // orphan a stream epoch. Epochs now claim commit-log sequences.
    import graft.sources.Datalake
    import graft.streaming.DatalakeStreams
    val root = graft.streaming.StreamReplay.scratch("graft-spubcas")
    val rawDir = s"$root/raw"; val fmt = s"$root/formatted"
    val table = s"$root/usage_table"; val ckpt = s"$root/ckpt"
    val src = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
    src.filter(col("event_id") % 2 === 0).coalesce(1).write.json(s"$rawDir/d1")
    def drain(): Unit = {
      val raw = DatalakeStreams.readRawStream(spark, s"$rawDir/d*/",
        maxFilesPerTrigger = 1)
      val q = DatalakeStreams.runPublishingBackfill(raw, fmt, table, ckpt)
      try { q.awaitTermination() } finally q.stop()
    }
    drain() // epoch 0 → claims commit 1
    assert(Datalake.latestCommitSeq(spark, table) === 1L)
    // the RACING BATCH WRITER: lands a CAS commit between stream epochs
    val (bSeq, bVer) = Datalake.publishCas(
      spark.range(1).selectExpr("'batch' AS src"), table, expectedSeq = 1L)
    assert(bSeq === 2L)
    assert(Datalake.currentVersion(spark, table) === Some(bVer))
    // second raw drop → epoch 1 must claim the NEXT sequence, not
    // clobber or skip the batch writer's commit
    src.filter(col("event_id") % 2 =!= 0).coalesce(1).write.json(s"$rawDir/d2")
    drain() // epoch 1 → claims commit 3
    assert(Datalake.latestCommitSeq(spark, table) === 3L)
    assert(Datalake.currentVersion(spark, table) === Some("e1"),
      "stream epoch 1 is the newest committer")
    // NO LOST VERSION: every committed version dir still exists
    val versions = Datalake.listVersions(spark, table).toSet
    assert(Set("e0", "e1", bVer).subsetOf(versions),
      s"a committed version vanished: $versions")
    // crash-replay idempotence: re-publishing an epoch re-syncs its
    // EXISTING record — no new commit, manifest unregressed
    // localCheckpoint: the replay OVERWRITES the dir it was read from —
    // a lazy self-read would race its own rewrite
    val usage1 = Datalake.readVersion(spark, table, "e1").localCheckpoint()
    assert(Datalake.publishEpochCas(usage1, table, "1") === 3L)
    assert(Datalake.latestCommitSeq(spark, table) === 3L,
      "a replayed epoch must not commit twice")
    val usage0 = Datalake.readVersion(spark, table, "e0").localCheckpoint()
    assert(Datalake.publishEpochCas(usage0, table, "0") === 1L)
    assert(Datalake.currentVersion(spark, table) === Some("e1"),
      "a replayed OLD epoch regressed the manifest")
  }

  test("epoch versions are namespace-disjoint from maintenance versions") {
    // r14 review (high): epochs used bare batchIds as version names, so
    // OPTIMIZE's nextNumericVersion on an epoch table committed v=N where
    // N was exactly the next batchId — the next epoch then overwrote the
    // committed maintenance dir AND mistook its record for a replay of
    // itself. Epochs now stage/commit v=e<epoch>, unreachable by every
    // other committer.
    import graft.sources.Datalake
    val root = graft.streaming.StreamReplay.scratch("graft-ens")
    val table = s"$root/t"
    def df(tag: String) = spark.range(3).selectExpr(s"'$tag' AS tag", "id")
    assert(Datalake.publishEpochCas(df("e0"), table, "0") === 1L)
    assert(Datalake.publishEpochCas(df("e1"), table, "1") === 2L)
    // maintenance between epochs — the r14 collision trigger
    val mv = Datalake.optimize(spark, table, nFiles = 1)
    assert(Datalake.latestCommitSeq(spark, table) === 3L)
    assert(mv !== "e2", "maintenance must not mint the next epoch's name")
    // the next epoch must commit NEW (seq 4), not mistake the maintenance
    // record for its own replay, and must not touch the maintenance dir
    assert(Datalake.publishEpochCas(df("e2"), table, "2") === 4L)
    assert(Datalake.currentVersion(spark, table) === Some("e2"))
    assert(Datalake.readPublished(spark, table)
      .select("tag").distinct().collect().map(_.getString(0)).toSeq
      === Seq("e2"), "epoch 2's rows must actually land")
    // the committed maintenance version's data survived the epoch
    assert(Datalake.readVersion(spark, table, mv)
      .select("tag").distinct().collect().map(_.getString(0)).toSeq
      === Seq("e1"), s"maintenance version $mv was clobbered")
  }

  test("a lost epoch claim to a zombie replay of the SAME epoch re-syncs, never double-commits") {
    // r14 review (medium): restarted driver racing a zombie — both pass
    // the replay scan, and the loser must recognize the winner's record
    // as THIS epoch instead of claiming a fresh sequence (which would
    // commit the epoch twice and fork the exactly-once version history).
    import graft.sources.Datalake
    val root = graft.streaming.StreamReplay.scratch("graft-ezr")
    val table = s"$root/t"
    def df(tag: String) = spark.range(3).selectExpr(s"'$tag' AS tag", "id")
    assert(Datalake.publishEpochCas(df("e0"), table, "0") === 1L)
    // the zombie lands this epoch's token between our replay scan and
    // our first claim (cross-process window the stripe can't close)
    Datalake.epochClaimRaceHook = Some { (token, scannedTo) =>
      assert(Datalake.claimCommit(spark, table, scannedTo + 1L, token),
        "test zombie failed to claim")
    }
    try {
      assert(Datalake.publishEpochCas(df("e1"), table, "1") === 2L,
        "loser must adopt the zombie's commit as its own epoch")
    } finally Datalake.epochClaimRaceHook = None
    assert(Datalake.latestCommitSeq(spark, table) === 2L,
      "the same epoch committed twice")
    assert(Datalake.currentVersion(spark, table) === Some("e1"))
  }

  test("replicateStream: full checkpoint-loss replay is a no-op under the high-water mark") {
    import graft.sources.Datalake
    import graft.streaming.DatalakeStreams
    import spark.implicits._
    val root = graft.streaming.StreamReplay.scratch("graft-replhw")
    val src = s"$root/src"; val rep = s"$root/rep"
    def df(tag: String, n: Int) =
      spark.range(n).selectExpr("id", s"'$tag' AS tag")
    Datalake.publishEpochCas(df("a", 5), src, "1")   // seq 1
    Datalake.deleteWhere(spark, src, col("id") === 0L) // seq 2 (dv)
    Datalake.mergeTransact(spark, src,
      Seq((7L, "m"), (1L, "m")).toDF("id", "tag"), Seq("id")) // seq 3
    def drain(ck: String): Unit = {
      val q = DatalakeStreams.replicateStream(spark, src, Seq("id"), rep,
        s"$root/$ck")
      try q.awaitTermination() finally q.stop()
    }
    drain("ck1")
    val want = Map(1L -> "m", 2L -> "a", 3L -> "a", 4L -> "a", 7L -> "m")
    def replica() = Datalake.readPublished(spark, rep)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(replica() === want)
    assert(Datalake.listVersions(spark, rep) === Seq("r1", "r2", "r3"))
    // CHECKPOINT LOSS: a fresh checkpoint re-delivers every commit
    // record; the _REPL_SEQ high-water mark must make the re-apply a
    // no-op (an old feed over the newer replica would corrupt it)
    drain("ck2")
    assert(replica() === want, "replayed feeds were re-applied")
    assert(Datalake.listVersions(spark, rep) === Seq("r1", "r2", "r3"),
      "replay minted new replica versions")
    // a NEW source commit after the replay still applies
    Datalake.mergeTransact(spark, src,
      Seq((9L, "z")).toDF("id", "tag"), Seq("id")) // seq 4
    drain("ck3")
    assert(replica() === (want + (9L -> "z")))
    assert(Datalake.listVersions(spark, rep) === Seq("r1", "r2", "r3", "r4"))
  }

  test("replicateStream: vacuumed-log attach re-syncs from a snapshot instead of diverging") {
    import graft.sources.Datalake
    import graft.streaming.DatalakeStreams
    import spark.implicits._
    val root = graft.streaming.StreamReplay.scratch("graft-replvac")
    val src = s"$root/src"; val rep = s"$root/rep"
    def df(tag: String, n: Int) =
      spark.range(n).selectExpr("id", s"'$tag' AS tag")
    Datalake.publishEpochCas(df("a", 5), src, "1")             // seq 1
    Datalake.deleteWhere(spark, src, col("id") === 0L)         // seq 2
    Datalake.mergeTransact(spark, src,
      Seq((7L, "m")).toDF("id", "tag"), Seq("id"))             // seq 3
    Datalake.mergeTransact(spark, src,
      Seq((1L, "z")).toDF("id", "tag"), Seq("id"))             // seq 4
    // trim the log BEFORE the replica ever attaches: records 1-2 gone,
    // so the stream's first live record (3) has no predecessor either
    assert(Datalake.vacuumCommits(spark, src, keepLast = 2) === 2)
    val q = DatalakeStreams.replicateStream(spark, src, Seq("id"), rep,
      s"$root/ck")
    try q.awaitTermination() finally q.stop()
    val want = Datalake.readPublished(spark, src)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Datalake.readPublished(spark, rep)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === want,
      "replica must equal the source after a snapshot re-sync")
    // commit 3 bootstrapped wholesale, commit 4 applied incrementally
    assert(Datalake.listVersions(spark, rep) === Seq("r3", "r4"))
  }

  test("changeFeedStream: a trimmed log still emits the initial snapshot") {
    import graft.sources.Datalake
    import graft.streaming.DatalakeStreams
    import spark.implicits._
    val root = graft.streaming.StreamReplay.scratch("graft-cfsvac")
    val table = s"$root/t"; val sink = s"$root/feed"
    def df(tag: String, n: Int) =
      spark.range(n).selectExpr("id", s"'$tag' AS tag")
    Datalake.publishEpochCas(df("a", 4), table, "1")           // seq 1
    Datalake.mergeTransact(spark, table,
      Seq((9L, "b")).toDF("id", "tag"), Seq("id"))             // seq 2
    Datalake.mergeTransact(spark, table,
      Seq((1L, "c")).toDF("id", "tag"), Seq("id"))             // seq 3
    assert(Datalake.vacuumCommits(spark, table, keepLast = 2) === 1)
    val q = DatalakeStreams.changeFeedStream(spark, table, Seq("id"),
      sink, s"$root/ck")
    try q.awaitTermination() finally q.stop()
    val feed = Datalake.readVersionsMerged(spark, sink,
      Datalake.listVersions(spark, sink))
    // earliest live record (seq 2) arrives as the initial snapshot —
    // 5 inserts (ids 0-3 tagged a, 9 tagged b) — then seq 3's real diff
    val initial = feed.filter(col("_from_version") === "initial")
    assert(initial.count() === 5L)
    assert(initial.select("_change_type").distinct()
      .collect().map(_.getString(0)).toSeq === Seq("insert"))
    val diff = feed.filter(col("_from_version") =!= "initial")
      .select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(diff === Set((1L, "update_preimage"), (1L, "update_postimage")),
      "the live diff after the snapshot must be seq 3's real change")
  }

  test("file-source stream of events matches the batch windowed aggregation") {
    // the stream must declare a schema up front — take whatever encoding the
    // driver's parquet drop uses from a batch read, then normalize ts the
    // same way the batch loader does
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    // file source wants a directory of files
    val dir = graft.streaming.StreamReplay.scratch("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(dir.toString))
    val q = EventStreams.windowedCounts(stream)
      .writeStream.format("memory").queryName("fs_wc")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT event_type, sum(n_events) AS n FROM fs_wc GROUP BY 1")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.sources.Tables.events(spark, sfDir)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed === batch)
    } finally q.stop()
  }
}
