package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

class StreamingSpec extends SparkSpecBase {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** The ONE disorder harness every streaming-vs-batch convergence proof
    * feeds on: time-sliced into three chunks, SHUFFLED within each chunk,
    * AND with every event in the 30 minutes before a chunk boundary
    * delivered one batch LATE — both within-batch disorder (absorbed by
    * the operators' buffers) and cross-batch lateness (absorbed by the 1h
    * watermark delay, which these stragglers stay inside). The final chunk
    * keeps its own stragglers (no later batch exists). One definition so
    * the four proofs provably test the SAME input disorder.
    */
  private def disorderedChunks(all: Seq[Event], seed: Int): Seq[Seq[Event]] = {
    val raw = all.grouped(math.max(1, all.length / 3 + 1)).toSeq.map(_.toSeq)
    val shifted = raw.indices.map { i =>
      val boundary = raw(i).last.ts.getTime
      val (late, keep) =
        raw(i).partition(e => boundary - e.ts.getTime < 30L * 60 * 1000)
      val fromPrev = if (i == 0) Nil else {
        val pb = raw(i - 1).last.ts.getTime
        raw(i - 1).filter(e => pb - e.ts.getTime < 30L * 60 * 1000)
      }
      val mine = if (i == raw.length - 1) keep ++ late else keep
      new scala.util.Random(seed).shuffle(mine ++ fromPrev)
    }
    assert(shifted.map(_.length).sum === all.length,
      "disorder harness must deliver every event exactly once")
    shifted
  }

  test("windowed counts aggregate a memory stream with watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(5), 1, "click", 1.0),
      Event(2, ts(10), 2, "click", 2.0),
      Event(3, ts(20), 1, "view", 3.0))
    val q = EventStreams.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      // append mode emits only closed windows; push the watermark forward
      input.addData(Event(4, Timestamp.valueOf("2024-01-01 14:00:00"), 3, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, n_events FROM wc").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(rows.contains(("click", 2L)))
      assert(rows.contains(("view", 1L)))
    } finally q.stop()
  }

  test("stream-stream attribution join matches clicks to in-window purchases") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    clicks.addData((1L, 7L, ts(0)), (2L, 7L, ts(50)), (3L, 8L, ts(10)))
    purchases.addData((100L, 7L, ts(30))) // catches click 1 (0 ≥ -30) not 2 (50 ≥ 30)
    val q = EventStreams.attributionJoin(
        clicks.toDF().toDF("click_id", "user_id", "click_ts"),
        purchases.toDF().toDF("purchase_id", "p_user", "p_ts"))
      .writeStream.format("memory").queryName("attr")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT click_id, purchase_id FROM attr").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === Set((1L, 100L)))
      // a later purchase catches the later click, same stream continues
      purchases.addData((101L, 7L, Timestamp.valueOf("2024-01-01 11:20:00")))
      q.processAllAvailable()
      val got2 = spark.sql("SELECT click_id, purchase_id FROM attr").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got2 === Set((1L, 100L), (2L, 101L)))
    } finally q.stop()
  }

  test("foreachBatch jsonl export writes every micro-batch's docs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = graft.streaming.StreamReplay.scratch("graft-export").toString
    val ckpt = graft.streaming.StreamReplay.scratch("graft-ckpt").toString
    val input = MemoryStream[Event]
    input.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 2, "view", 2.0))
    val q = EventStreams.exportJsonl(
      input.toDF().select(concat(lit("ev_"), col("event_id")).as("doc_id"),
        col("event_type"), col("value")),
      out, ckpt)
    try {
      q.processAllAvailable()
      input.addData(Event(3, ts(2), 3, "click", 3.0))
      q.processAllAvailable()
      val docs = spark.read.json(s"$out/batch=*").collect()
      assert(docs.length === 3)
      assert(docs.map(_.getAs[String]("doc_id")).toSet === Set("ev_1", "ev_2", "ev_3"))
    } finally q.stop()
  }

  test("streaming dedup drops repeated event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(1, ts(1), 1, "click", 1.0), // duplicate id
      Event(2, ts(2), 1, "view", 2.0))
    val q = EventStreams.dedupEvents(input.toDF())
      .writeStream.format("memory").queryName("dd")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      input.addData(Event(1, ts(3), 1, "click", 9.0)) // still a dup
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM dd").collect().head.getLong(0)
      assert(n === 2, "3 sends of id=1 + 1 of id=2 must dedup to 2 rows")
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on gap and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // user 1: two events 5 min apart, then one 40 min later → first session closes
    input.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(5), 1, "click", 2.0),
      Event(3, ts(45), 1, "view", 3.0))
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sess").collect()
      assert(rows.length === 1, s"expected one closed session, got ${rows.toSeq}")
      val r = rows.head
      assert(r.getAs[Long]("n_events") === 2L)
      assert(r.getAs[Double]("total_value") === 3.0)
      assert(r.getAs[Timestamp]("session_start") === ts(0))
      assert(r.getAs[Timestamp]("session_end") === ts(5))
      // advance the watermark (2h delay) past 10:45 + 30min gap → the idle
      // session closes via event-time timeout
      input.addData(Event(4, Timestamp.valueOf("2024-01-01 15:00:00"), 2, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(5, Timestamp.valueOf("2024-01-01 15:01:00"), 2, "click", 1.0))
      q.processAllAvailable()
      val u1 = spark.sql("SELECT * FROM sess WHERE user_id = 1").collect()
      assert(u1.length === 2, s"idle session should time out, got ${u1.toSeq}")
      assert(u1.map(_.getAs[Long]("n_events")).toSet === Set(2L, 1L))
    } finally q.stop()
  }

  test("streaming funnel changelog converges to the batch funnel under out-of-order delivery") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // real events from sf0.001 through the shared disorder harness
    val all = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), coalesce(col("value"), lit(0.0)).as("value"))
      .as[Event].collect().sortBy(_.ts.getTime)
    val shifted = disorderedChunks(all, seed = 42)
    val input = MemoryStream[Event]
    val q = EventStreams.funnelChangelog(input.toDS())
      .writeStream.format("memory").queryName("funnel")
      .outputMode(OutputMode.Append()).start()
    try {
      shifted.foreach { c => input.addData(c); q.processAllAvailable() }
      // advance the watermark (1h delay) past every real event so the
      // final timeout folds the tail
      input.addData(Event(Long.MaxValue,
        new Timestamp(all.last.ts.getTime + 3L * 3600L * 1000), -1L, "view", 0.0))
      q.processAllAvailable()
      // snapshots per user are MONOTONE (each step timestamp is set once,
      // stage only advances), so the most-advanced stage IS the latest row
      val last = spark.sql(
        """SELECT user_id, signup_ts, first_click_ts, first_purchase_ts, stage
          |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          |    ORDER BY CASE stage WHEN 'purchased' THEN 2
          |      WHEN 'clicked' THEN 1 ELSE 0 END DESC) AS pick
          |  FROM funnel)
          |WHERE pick = 1""".stripMargin)
        .collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Timestamp]("signup_ts"), r.getAs[Timestamp]("first_click_ts"),
            r.getAs[Timestamp]("first_purchase_ts"), r.getAs[String]("stage"))))
        .toMap
      val batch = graft.queries.JourneyQueries.qFunnelSteps(spark, sfDir)
        .collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Timestamp]("signup_ts"), r.getAs[Timestamp]("first_click_ts"),
            r.getAs[Timestamp]("first_purchase_ts"), r.getAs[String]("stage"))))
        .toMap
      assert(last.keySet === batch.keySet,
        s"user sets differ: stream-only=${last.keySet -- batch.keySet}, " +
          s"batch-only=${batch.keySet -- last.keySet}")
      batch.foreach { case (u, exp) =>
        assert(last(u) === exp, s"user $u: stream ${last(u)} vs batch $exp")
      }
    } finally q.stop()
  }

  test("streaming transition changelog converges to the batch Markov counts under out-of-order delivery") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val all = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), coalesce(col("value"), lit(0.0)).as("value"))
      .as[Event].collect().sortBy(_.ts.getTime)
    val shifted = disorderedChunks(all, seed = 21)
    val input = MemoryStream[Event]
    val q = EventStreams.transitionChangelog(input.toDS())
      .writeStream.format("memory").queryName("transitions")
      .outputMode(OutputMode.Append()).start()
    try {
      shifted.foreach { c => input.addData(c); q.processAllAvailable() }
      // advance the watermark past every real event so the tail folds
      input.addData(Event(Long.MaxValue,
        new Timestamp(all.last.ts.getTime + 3L * 3600L * 1000), -1L, "view", 0.0))
      q.processAllAvailable()
      // each transition is emitted exactly once -> the matrix is a plain
      // count aggregate of the changelog
      val stream = spark.sql(
        """SELECT cur_type, next_type, COUNT(*) AS n FROM transitions
          |WHERE user_id >= 0 GROUP BY 1, 2""".stripMargin)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.queries.JourneyQueries.qMarkovTransitions(spark, sfDir)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(stream === batch,
        s"matrix mismatch: stream-only=${stream.toSet -- batch.toSet}, " +
          s"batch-only=${batch.toSet -- stream.toSet}")
    } finally q.stop()
  }

  test("streaming retention activity converges to the batch cohort matrix under out-of-order delivery") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val all = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), coalesce(col("value"), lit(0.0)).as("value"))
      .as[Event].collect().sortBy(_.ts.getTime)
    val shifted = disorderedChunks(all, seed = 7)
    val input = MemoryStream[Event]
    val q = EventStreams.retentionActivity(input.toDS())
      .writeStream.format("memory").queryName("retention")
      .outputMode(OutputMode.Append()).start()
    try {
      shifted.foreach { c => input.addData(c); q.processAllAvailable() }
      // seal the LAST DAY: the day-level ripeness rule needs the watermark
      // (maxTs - 1h) past the final day's END, so flush 3 days ahead
      input.addData(Event(Long.MaxValue,
        new Timestamp(all.last.ts.getTime + 3L * 86400L * 1000), -1L, "view", 0.0))
      q.processAllAvailable()
      // each (user, day) cell arrives EXACTLY once -> the matrix is a
      // plain count aggregate of the changelog
      val stream = spark.sql(
        """SELECT CAST(cohort_day AS STRING) AS cd, day_offset, COUNT(*) AS n
          |FROM retention WHERE user_id >= 0
          |GROUP BY 1, 2""".stripMargin)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      // exactly-once check: no (user, day) cell may appear twice
      val dup = spark.sql(
        """SELECT user_id, day, COUNT(*) AS n FROM retention
          |GROUP BY 1, 2 HAVING COUNT(*) > 1""".stripMargin).collect()
      assert(dup.isEmpty, s"cells emitted twice: ${dup.mkString(", ")}")
      val batch = graft.queries.JourneyQueries.qRetentionCohort(spark, sfDir)
        .collect()
        .map(r => (r.getAs[java.sql.Date]("cohort_day").toString,
          r.getAs[Long]("day_offset")) -> r.getAs[Long]("n_active")).toMap
      assert(stream === batch,
        s"matrix mismatch: stream-only=${stream.toSet -- batch.toSet}, " +
          s"batch-only=${batch.toSet -- stream.toSet}")
    } finally q.stop()
  }

  test("streaming gap-fill changelog converges to the batch densify under out-of-order delivery") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val src = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), coalesce(col("value"), lit(0.0)).as("value"))
    val all = src.as[Event].collect().sortBy(_.ts.getTime)
    val shifted = disorderedChunks(all, seed = 13)
    val input = MemoryStream[Event]
    val q = EventStreams.gapFillChangelog(input.toDS())
      .writeStream.format("memory").queryName("gapfill")
      .outputMode(OutputMode.Append()).start()
    try {
      shifted.foreach { c => input.addData(c); q.processAllAvailable() }
      // seal every real day (watermark = maxTs - 1h must pass the last
      // day's end) — flush 3 days ahead
      input.addData(Event(Long.MaxValue,
        new Timestamp(all.last.ts.getTime + 3L * 86400L * 1000), -1L, "view", 0.0))
      q.processAllAvailable()
      val stream = spark.sql(
        """SELECT user_id, CAST(day AS STRING) AS day, n_events,
          |  filled_total, days_since_active, is_active
          |FROM gapfill WHERE user_id >= 0""".stripMargin)
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getLong(4), r.getBoolean(5))))
      // exactly-once: one row per (user, day)
      assert(stream.map(_._1).distinct.length === stream.length,
        "duplicate (user, day) rows in the changelog")
      // batch over the SAME coalesced input (the registered q_gap_fill
      // reads raw nullable values; the stream's Event type cannot carry
      // nulls, so the oracle here is gapFill over the coalesced frame)
      val batch = graft.queries.JourneyQueries.gapFill(src)
        .collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Date]("day").toString) ->
          ((r.getAs[Long]("n_events"), r.getAs[Double]("filled_total"),
            r.getAs[Long]("days_since_active"), r.getAs[Boolean]("is_active"))))
        .toMap
      val streamMap = stream.toMap
      assert(streamMap.keySet === batch.keySet,
        s"calendar mismatch: stream-only=${streamMap.keySet -- batch.keySet take 5}, " +
          s"batch-only=${batch.keySet -- streamMap.keySet take 5}")
      batch.foreach { case (k, exp) =>
        assert(streamMap(k) === exp, s"cell $k: stream ${streamMap(k)} vs batch $exp")
      }
    } finally q.stop()
  }

  test("streaming SCD2 changelog equals the batch history under out-of-order delivery") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val all = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), coalesce(col("value"), lit(0.0)).as("value"))
      .as[Event].collect().sortBy(_.ts.getTime)
    val shifted = disorderedChunks(all, seed = 99)
    val input = MemoryStream[Event]
    val q = EventStreams.scd2Changelog(input.toDS())
      .writeStream.format("memory").queryName("scd")
      .outputMode(OutputMode.Append()).start()
    try {
      shifted.foreach { c => input.addData(c); q.processAllAvailable() }
      // advance the watermark past every real event to seal the tail
      input.addData(Event(Long.MaxValue,
        new Timestamp(all.last.ts.getTime + 3L * 3600L * 1000), -1L, "view", 0.0))
      q.processAllAvailable()
      val stream = spark.sql(
          "SELECT user_id, event_type, valid_from, version FROM scd")
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          r.getTimestamp(2).getTime, r.getInt(3).toLong)).toSet
      // EVERY change row must match the batch history — content AND
      // version numbering AND multiplicity (a set compare + size check:
      // a double emission would collapse in the set, so pin the count)
      assert(spark.sql("SELECT COUNT(*) FROM scd").head.getLong(0)
        === stream.size, "a change row was emitted twice")
      val batch = graft.queries.EventQueries.qScd2History(spark, sfDir)
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          r.getTimestamp(2).getTime, r.getLong(4))).toSet
      assert(stream === batch,
        s"stream-only=${(stream -- batch).take(3)}, batch-only=${(batch -- stream).take(3)}")
    } finally q.stop()
  }

  test("built-in session_window agrees with the typed sessionizer's sessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    // two sessions for user 1 (gap > 30min), one for user 2
    input.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "view", 2.0),
      Event(3, ts(50), 1, "click", 4.0),
      Event(4, ts(10), 2, "view", 8.0))
    val q = EventStreams.sessionWindowStats(input.toDF())
      .writeStream.format("memory").queryName("sw")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT user_id, n_events, total_value FROM sw")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === Set((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))
    } finally q.stop()
  }

  test("stream-static enrichment joins the dim with zero streaming state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    input.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(1), 8, "view", 2.0))
    val dim = Seq((7L, "gold"), (9L, "silver")).toDF("user_id", "tier")
    val q = EventStreams.enrich(input.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enr")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT event_id, tier FROM enr").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got === Map(1L -> Some("gold"), 2L -> None))
      // no state operator: stream-static joins keep nothing between batches
      assert(q.lastProgress.stateOperators.isEmpty,
        s"unexpected streaming state: ${q.lastProgress.stateOperators.toSeq}")
    } finally q.stop()
  }

  test("crash recovery: kill mid-stream, restart from the RocksDB checkpoint, changelog still equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val all = graft.sources.Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), coalesce(col("value"), lit(0.0)).as("value"))
        .as[Event].collect().sortBy(_.ts.getTime)
      val shifted = disorderedChunks(all, seed = 13)
      val ckpt = graft.streaming.StreamReplay.scratch("graft-rec-ckpt").toString
      val outDir = graft.streaming.StreamReplay.scratch("graft-rec-out").toString
      val input = MemoryStream[Event]
      // file sink, NOT memory sink: the parquet sink's _spark_metadata log
      // is what makes output exactly-once ACROSS restarts — the operational
      // contract this test exists to prove
      def start() = EventStreams.retentionActivity(input.toDS())
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      // incarnation 1: commit chunk 1, then DIE with chunk 2 enqueued but
      // not yet committed — the restart has to re-read it from the source
      // via the offset WAL, and every cohort day learned from chunk 1
      // exists ONLY in the checkpointed RocksDB state
      val q1 = start()
      input.addData(shifted(0))
      q1.processAllAvailable()
      input.addData(shifted(1))
      q1.stop()
      // incarnation 2: same checkpoint, fresh query
      val q2 = start()
      try {
        q2.processAllAvailable()
        input.addData(shifted(2))
        q2.processAllAvailable()
        // seal the last day (watermark 1h + day-end ripeness → 3 days clear)
        input.addData(Event(Long.MaxValue,
          new Timestamp(all.last.ts.getTime + 3L * 86400L * 1000), -1L, "view", 0.0))
        q2.processAllAvailable()
      } finally q2.stop()
      val outRows = spark.read.parquet(outDir)
      // exactly-once survived the restart: no (user, day) cell twice
      val dup = outRows.groupBy("user_id", "day").count()
        .filter(col("count") > 1).collect()
      assert(dup.isEmpty, s"cells emitted twice across restart: ${dup.mkString(", ")}")
      val stream = outRows.filter(col("user_id") >= 0)
        .groupBy(col("cohort_day").cast("string").as("cd"), col("day_offset"))
        .count().collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = graft.queries.JourneyQueries.qRetentionCohort(spark, sfDir)
        .collect()
        .map(r => (r.getAs[java.sql.Date]("cohort_day").toString,
          r.getAs[Long]("day_offset")) -> r.getAs[Long]("n_active")).toMap
      assert(stream === batch,
        s"matrix diverged after recovery: stream-only=${stream.toSet -- batch.toSet}, " +
          s"batch-only=${batch.toSet -- stream.toSet}")
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stateful streaming dedup runs on the RocksDB state store") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Event]
      input.addData(
        Event(1, ts(0), 1, "click", 1.0), Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 1, "view", 2.0))
      val q = EventStreams.dedupEvents(input.toDF())
        .writeStream.format("memory").queryName("rocks_dedup")
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        input.addData(Event(1, ts(2), 1, "click", 1.0)) // dup across batches
        q.processAllAvailable()
        assert(spark.sql("SELECT event_id FROM rocks_dedup").collect()
          .map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L))
        assert(q.lastProgress.stateOperators.nonEmpty,
          "dedup must be stateful")
      } finally q.stop()
    } finally {
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
