package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.{fixed, trained}
import graft.sources.{Datalake, Tables}
import graft.streaming.{CorpusStreams, DatalakeStreams, EventStreams,
  StreamReplay}
import graft.streaming.StreamReplay.{feed, foreachEpoch, scratch}

/** Driver-checkable rows for the streaming changelog surface: each query
  * runs the REAL Structured Streaming operator (file source → stateful
  * fold → file sink, `Trigger.AvailableNow`) over the batch events table
  * via [[graft.streaming.StreamReplay]], then finishes with the plain
  * batch aggregate its changelog was designed to feed. The DuckDB oracle
  * is the BATCH twin's oracle verbatim — so the stream==batch equality
  * StreamingSpec proves in sbt is now re-proven by the driver's hash gate
  * every round, on a real file-backed stream rather than a MemoryStream.
  *
  * Exactness: every changelog emission is exactly-once and final (the
  * watermark-sealing arguments in EventStreams' scaladoc), so the
  * downstream aggregate over the materialized changelog equals the batch
  * query bit-for-bit — including the doubles, which are single IEEE
  * divisions of exact integers on both engines.
  */
object StreamQueries {

  /** q_retention_cohort's matrix, rebuilt from the streamed
    * [[EventStreams.retentionActivity]] changelog: each (user, cohort,
    * day) cell arrives exactly once, so n_active is a plain count and
    * cohort_size is the count of the users' own offset-0 cells (every
    * user's first active day is their cohort day).
    */
  def qStreamRetention(spark: SparkSession, dir: String): DataFrame =
    JourneyQueries.retentionMatrix(
      StreamReplay.replayEvents(spark, dir)(
          EventStreams.retentionActivity(_))
        .filter(col("user_id") >= 0))

  /** CRASH RECOVERY as a driver row (round 10): the retention fold run as
    * TWO incarnations against one checkpoint — incarnation 1 commits only
    * the first feed chunk and dies with its cohort state held ONLY in the
    * checkpointed RocksDB store, incarnation 2 restarts from the offset
    * WAL, restores state, and seals every day
    * ([[StreamReplay.replayEventsWithRestart]] for the full argument).
    * The matrix below aggregates the union the sink's exactly-once
    * metadata admits across both incarnations; the oracle is
    * q_retention_cohort's SQL verbatim, so a lost state entry, replayed
    * emission, or post-restart watermark regression hash-fails at the
    * driver. The mid-enqueue kill variant with duplicate-delivery
    * assertions stays pinned in StreamingSpec.
    */
  def qStreamRecovery(spark: SparkSession, dir: String): DataFrame =
    JourneyQueries.retentionMatrix(
      StreamReplay.replayEventsWithRestart(spark, dir)(
          EventStreams.retentionActivity(_))
        .filter(col("user_id") >= 0))

  /** q_scd2_history from the streamed [[EventStreams.scd2Changelog]]:
    * the stream emits one FINAL row per version (no valid_to — that fact
    * IS the next version's valid_from), so the interval close and
    * is_current flag are a lead() over the materialized changelog,
    * ordered by the version numbers the fold assigned in (ts, event_id)
    * order.
    */
  def qStreamScd2(spark: SparkSession, dir: String): DataFrame = {
    val ch = StreamReplay.replayEvents(spark, dir)(
        EventStreams.scd2Changelog(_))
      .filter(col("user_id") >= 0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("version"))
    ch.select(col("user_id"), col("event_type"), col("valid_from"),
        lead(col("valid_from"), 1).over(w).as("valid_to"),
        col("version").cast("long").as("version"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy(col("user_id"), col("version"))
  }

  /** q_funnel_steps from the streamed [[EventStreams.funnelChangelog]]:
    * snapshots per user are MONOTONE (each step timestamp is set at most
    * once, the stage only advances), so the most-advanced stage is the
    * user's final funnel row — picked with one row_number over the
    * changelog; at most three rows exist per user, the window is cheap.
    */
  def qStreamFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ch = StreamReplay.replayEvents(spark, dir)(
        EventStreams.funnelChangelog(_))
      .filter(col("user_id") >= 0)
    val prio = when(col("stage") === "purchased", 2)
      .when(col("stage") === "clicked", 1).otherwise(0)
    val w = Window.partitionBy(col("user_id")).orderBy(prio.desc)
    ch.withColumn("pick", row_number().over(w))
      .filter(col("pick") === 1)
      .select(col("user_id"), col("signup_ts"), col("first_click_ts"),
        col("first_purchase_ts"), col("stage"))
      .orderBy(col("user_id"))
  }

  /** The gap-fill changelog replayed the same way: the streamed rows ARE
    * the dense calendar rows (activity and gap days alike, each emitted
    * exactly once as its day seals), so no downstream aggregate is needed
    * — just ordering. Value contract: Event.value is primitive, so the
    * replay feed coalesces NULL values to 0.0; the oracle is therefore
    * q_gap_fill's SQL over the COALESCED frame (an all-NULL activity day
    * sums to 0.0 instead of carrying the previous fill — the one
    * documented divergence from the raw-null batch row, see
    * EventStreams.gapFillChangelog).
    */
  def qStreamGapfill(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir)(
        EventStreams.gapFillChangelog(_))
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("day"), col("n_events"),
        col("filled_total"), col("days_since_active"), col("is_active"))
      .orderBy(col("user_id"), col("day"))

  /** q_sessionize from the streamed [[EventStreams.sessionize]]
    * flatMapGroupsWithState fold: sessions close exactly once (gap-advance
    * or event-time timeout), micros-exact boundaries, cents-exact totals
    * (EventStreams.sessionize scaladoc). session_seq is not streaming
    * state — sessions of one user are disjoint intervals, so numbering is
    * a row_number over session_start on the materialized output.
    */
  def qStreamSessionize(spark: SparkSession, dir: String): DataFrame = {
    val sess = StreamReplay.replayEvents(spark, dir)(
        EventStreams.sessionize(_))
      .filter(col("user_id") >= 0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("session_start"))
    sess.select(col("user_id"),
        row_number().over(w).cast("long").as("session_seq"),
        col("n_events"), col("session_start"), col("session_end"),
        col("total_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** Exactly-once ingest from an AT-LEAST-ONCE feed via the built-in
    * `dropDuplicatesWithinWatermark` (r13): every third event is
    * re-delivered (the retry/redelivery shape of real ingestion), and
    * the native TTL-deduplicating state operator keeps first-seen rows,
    * expiring its keys once the watermark passes their event time — the
    * state stays bounded by the watermark horizon instead of growing
    * with the stream (what plain dropDuplicates would do). Output =
    * every distinct event exactly once; a missed duplicate or an evicted-
    * too-early key hash-fails against the plain-table oracle.
    */
  def qStreamDedupTtl(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir) { s =>
      s.toDF()
        .withColumn("__copy",
          explode(when(col("event_id") % 3 === 0, array(lit(0), lit(1)))
            .otherwise(array(lit(0)))))
        .drop("__copy")
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
    }
      .filter(col("user_id") >= 0)
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

  /** Sessionization through the BUILT-IN streaming `session_window`
    * aggregate (r13) — where [[qStreamSessionize]] proves the custom
    * flatMapGroupsWithState operator, this proves the native one: the
    * state store merges gap-bounded windows per user and append mode
    * seals a session when the watermark passes last-event + 30 min.
    * session_end is definitionally last event + gap (the eviction
    * deadline), so the oracle replays MAX(ts) + 30 min — and the split
    * rule is `>=` gap (end-exclusive windows), one tick stricter than
    * the lag-based batch row's `>`.
    */
  def qStreamSessionWindow(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir)(s =>
        EventStreams.sessionWindowCells(s.toDF()))
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("v").cast("double").as("total_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** q_window_tumbling from the streamed
    * [[EventStreams.windowedUserCells]]: the built-in watermarked window
    * aggregate in append mode, at (window, type, user) grain so that
    * n_users (no streaming countDistinct) and the order-independent
    * decimal sum both reduce exactly downstream — each cell arrives
    * exactly once, so n_events is a sum of counts, n_users a count of
    * cells, total_value a sum of decimal partials cast once.
    */
  def qStreamWindow(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir)(s =>
        EventStreams.windowedUserCells(s.toDF()))
      .filter(col("user_id") >= 0)
      .groupBy(col("bucket"), col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        count(lit(1)).as("n_users"),
        sum(col("v")).cast("double").as("total_value"))
      .orderBy(col("bucket"), col("event_type"))

  /** q_range_join as a STREAM-STREAM interval join
    * ([[EventStreams.attributionJoin]]): both sides are unbounded streams
    * derived from the same replayed feed; the watermark + interval bound
    * lets Spark evict a buffered click once no future purchase can reach
    * it. Inner-join matches emit as they occur, so the result needs no
    * sealing argument — and the event-time-ordered replay guarantees
    * eviction never races a future match (a purchase landing after a
    * click's eviction is > 1h past it by the range-chunk bounds).
    */
  def qStreamAttribution(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir) { s =>
      val clicks = s.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = s.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
      EventStreams.attributionJoin(clicks, purchases)
    }
      .select(col("click_id"), col("purchase_id"), col("user_id"))
      .orderBy(col("click_id"), col("purchase_id"))

  /** q_range_join's LEFT OUTER form as a stream-stream join
    * ([[EventStreams.attributionJoinOuter]]): clicks with no in-window
    * purchase emit (click, NULL) — and ONLY once the watermark passes
    * click_ts + 1h, because a null row is a claim about the whole future
    * ("no purchase will ever match") that inner-join emission never has
    * to make. That sealing need changes the feed contract: the inner row
    * filters the far-future sentinels out of both branches (matches
    * don't care about eviction), but here BOTH branches pass sentinel
    * rows through (user_id < 0, type 'view' — they match nothing: the
    * two sentinels sit 3 days apart so their own interval test fails),
    * so the per-branch watermarks keep advancing after the last real
    * event and every real unmatched click provably flushes during the
    * second sentinel's batch (watermark by then = sentinel1 − 1h, past
    * every real click_ts + 1h). Sentinel output — matched or sealed-null
    * — is dropped by the user_id >= 0 filter either way, so whether the
    * engine flushes the sentinels' OWN state before termination is
    * immaterial. The oracle is the batch LEFT JOIN twin.
    */
  def qStreamOuterJoin(spark: SparkSession, dir: String): DataFrame =
    StreamReplay.replayEvents(spark, dir) { s =>
      val clicks = s.filter(col("event_type") === "click" ||
          col("user_id") < 0)
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = s.filter(col("event_type") === "purchase" ||
          col("user_id") < 0)
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("p_ts"))
      EventStreams.attributionJoinOuter(clicks, purchases)
    }
      .filter(col("user_id") >= 0)
      .select(col("click_id"), col("purchase_id"), col("user_id"))
      .orderBy(col("click_id"), col("purchase_id"))

  /** CDC APPLY STREAM as a driver row (round 14): q_merge_publish's
    * delta arrives CHUNKED as a file stream and every micro-batch lands
    * as one committed MERGE (`DatalakeStreams.mergeStream` →
    * `mergeTransact`, each epoch a commit-log record). The chunks
    * partition the delta BY KEY, so the serialized per-epoch merges
    * compose to exactly one whole-delta merge — the oracle is the same
    * FULL OUTER JOIN + CASE, and the stream==batch hash equality is the
    * correctness claim. Replay safety comes from the arms being absolute
    * (mergeStream scaladoc), not from sink overwrite.
    */
  def qStreamMerge(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("graft-smerge-replay")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
    val table = root.resolve("table").toString
    Datalake.publish(o.filter(col("o_orderkey") % 3 =!= 0), table, "1")
    val delta = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + lit(10.0)).as("o_totalprice"),
        lit("MERGED").as("o_orderpriority"),
        when(col("o_orderkey") % 10 === 0, lit("delete"))
          .otherwise(lit("upsert")).as("d_op"))
    DatalakeStreams.mergeStream(feed(spark, delta, 2, "o_orderkey"),
      table, Seq("o_orderkey"),
      deleteWhen = Some(col("d_op") === "delete"),
      root.resolve("ck").toString).awaitTermination()
    Datalake.readPublished(spark, table)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** STREAMING twin of q_quarantine (round 14): the order feed arrives
    * as a chunked file stream and every micro-batch runs the SAME
    * validation rules through `CorpusStreams.quarantineStream` — valid
    * rows to one epoch-keyed sink, rejects WITH their reasons to the
    * dead-letter sink (the reference's bulk-error accounting as a
    * stream). The report is then built from the SINKS, and the oracle is
    * q_quarantine's SQL verbatim — stream == batch on identical input is
    * the hash-checked claim, and it holds exactly because the rules are
    * per-row (chunking commutes with the split).
    */
  def qStreamQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("graft-quar-replay")
    val o = Tables.orders(spark, dir).select(col("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_custkey"),
      col("o_orderdate"))
    val validDir = root.resolve("valid").toString
    val rejectDir = root.resolve("rejects").toString
    CorpusStreams.quarantineStream(feed(spark, o, 2, "o_orderkey"),
      Relational.orderValidationRules, validDir, rejectDir,
      root.resolve("ck").toString).awaitTermination()
    Relational.quarantineReport(
      spark.read.parquet(validDir), spark.read.parquet(rejectDir))
  }

  /** q_heavy_hitters over a STREAM-MAINTAINED Count-Min store: the
    * documents table is staged as ranged chunks and streamed
    * (Trigger.AvailableNow, one file per micro-batch) through
    * [[graft.streaming.CorpusStreams.cmsStream]] — each batch's sketch
    * lands as an epoch-keyed store increment, exactly the continuous-
    * ingest shape — then the live sketch (cell-wise sum over epochs,
    * EXACT by CMS linearity) answers the same top-20 estimate join as the
    * batch row. No ordering contract is needed at all: CMS folding is
    * commutative, so this row's sealing argument is simply linearity.
    */
  def qStreamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("graft-cms-replay")
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    CorpusStreams.cmsStream(feed(spark, docs, 2, "doc_id"),
      root.resolve("store").toString,
      root.resolve("ck").toString, width = 1024).awaitTermination()
    val cms = CorpusStreams.cmsRead(spark, root.resolve("store").toString)
    // exact side: the same one-scan count table as the batch row
    graft.ops.Checkpoints.scoped { s =>
      val counts = s.checkpoint(
        Tables.documents(spark, dir)
          .select(explode(graft.functions.text.wordShingles(col("text"), 1))
            .as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("exact_cnt")))
      TextQueries.heavyHittersResult(s, counts, cms)
    }
  }

  /** q_drift_psi over a STREAM-MAINTAINED histogram store: events stream
    * through in micro-batches and each batch's (type, bin, cohort)
    * partial counts land as an epoch-keyed store increment (overwrite-
    * on-replay = idempotent, the CMS-store pattern) — the continuous
    * form of the drift gate, where the monitor's histograms accrete as
    * the snapshot arrives instead of in one pass. The live fold is a
    * cell-wise sum over increments, EXACT by count linearity (no
    * ordering contract, no watermark, zero streaming state), and the PSI
    * tail is [[EventQueries.driftPsiFromCounts]] — the batch row's code
    * shared verbatim, so stream and batch cannot disagree on smoothing
    * or snapping. Oracle = q_drift_psi's verbatim.
    */
  def qStreamDrift(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("graft-drift-replay")
    val store = root.resolve("store").toString
    foreachEpoch(feed(spark, Tables.events(spark, dir), 2, "ts", "event_id"),
        root.resolve("ck").toString) { (batch, epoch) =>
      Datalake.writeParquet(
        EventQueries.driftBinned(batch)
          .groupBy(col("event_type"), col("bin"))
          .agg(count(when(col("cohort") === 0L, 1)).as("n0"),
            count(when(col("cohort") === 1L, 1)).as("n1")),
        s"$store/epoch=$epoch")
    }.awaitTermination()
    val folded = spark.read.parquet(store)
      .groupBy(col("event_type"), col("bin"))
      .agg(sum(col("n0")).as("n0"), sum(col("n1")).as("n1"))
    EventQueries.driftPsiFromCounts(folded)
  }

  /** HLL distinct counting over a STREAM (round 15c): the mergeable-
    * sketch property that makes HLL the 100 TB distinct counter, proven
    * in motion — each micro-batch computes its own per-(type, bucket)
    * register PARTIALS ([[graft.ops.Sketches.hllRegisters]], ≤ m rows
    * per group per batch) and lands them as an epoch-keyed store
    * increment (overwrite-on-replay = idempotent, the CMS-store
    * pattern); the live fold is a cell-wise MAX over all epochs'
    * registers. Because per-bucket max is associative AND idempotent,
    * the fold equals the single-pass batch registers exactly — no
    * ordering contract, no watermark, zero streaming state, and a
    * replayed batch changes nothing (max(x, x) = x; the stronger-than-
    * idempotent-store property unique to sketch maxima). Estimate tail =
    * [[graft.ops.Sketches.hllEstimate]], the batch row's code shared
    * verbatim — so stream == batch bit-for-bit and the oracle is
    * q_hll_distinct's generated SQL unchanged.
    *
    * Scale: per-batch shuffle is register-sized (types × 1024), the
    * store grows by that per epoch (compactable by the same max), and
    * the user_id firehose itself never re-shuffles — the canonical
    * "distinct users per type, continuously" plan.
    */
  def qStreamHll(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("graft-hll-replay")
    val store = root.resolve("store").toString
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    foreachEpoch(feed(spark, e, 2, "ts", "event_id"),
        root.resolve("ck").toString) { (batch, epoch) =>
      Datalake.writeParquet(
        graft.ops.Sketches.hllRegisters(batch, col("event_type"),
          col("user_id")),
        s"$store/epoch=$epoch")
    }.awaitTermination()
    val folded = spark.read.parquet(store)
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("rho")).as("rho"))
    val base = Tables.events(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("exact_users"))
    graft.ops.Sketches.hllEstimate(folded)
      .withColumnRenamed("g", "event_type")
      .join(base, "event_type")
      .select(col("event_type"), col("n_events"), col("exact_users"),
        col("hll_est").as("hll_users"), col("est_kind"))
      .orderBy(col("event_type"))
  }

  /** CUSUM over a STREAM-MAINTAINED daily store (round 15c): the
    * change-point monitor runs continuously — each micro-batch lands its
    * (type, day) partial decimal sums as an epoch-keyed store increment
    * (overwrite-on-replay idempotent, the CMS/drift-store pattern); the
    * live fold is a cell-wise SUM over increments, EXACT by decimal
    * linearity (no ordering contract, no watermark, zero streaming
    * state), and the CUSUM tail is
    * [[EventQueries.cusumFromDaily]] — the batch row's code shared
    * VERBATIM, so stream and batch cannot disagree on the recurrence,
    * the scaled exact-decimal arithmetic, or the alarm rule. Oracle =
    * q_cusum_shift's verbatim (the stream==batch claim).
    *
    * Scale: per-batch shuffle is (types × days-touched) cells; the
    * store compacts by the same sum. The monitor's decision is always
    * over the full accreted history — exactly how a production CUSUM
    * gate consumes a firehose.
    */
  def qStreamCusum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val root = scratch("graft-cusum-replay")
    val store = root.resolve("store").toString
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    foreachEpoch(feed(spark, e, 2, "ts", "event_id"),
        root.resolve("ck").toString) { (batch, epoch) =>
      Datalake.writeParquet(
        batch.groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(sum(col("value").cast(DecimalType(18, 2))).as("v")),
        s"$store/epoch=$epoch")
    }.awaitTermination()
    val folded = spark.read.parquet(store)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("v")).cast(DecimalType(18, 2)).as("v"))
    EventQueries.cusumFromDaily(folded)
  }

  /** The drift monitor over REAL event-time cohorts sealed by watermark
    * (round-11 verdict #7) — where [[qStreamDrift]] folds epoch-keyed
    * processing-time increments, this is the production drift-gate
    * shape: daily event-time windows of (type, bin) counts accumulate in
    * streaming state and emit only when the watermark passes their end
    * ([[graft.streaming.EventStreams.driftWindowCells]], append mode),
    * so the monitor always compares FINAL histograms. Baseline cohort =
    * sealed windows ending at or before the 2024-01-16 cutoff, current =
    * the sealed windows after it; the fold to (type, bin, n0, n1) is
    * exact by count linearity, and the PSI tail is
    * [[EventQueries.driftPsiFromCounts]] — the batch row's code shared
    * verbatim. The replay's far-future sentinels push the final
    * watermark past every real day, so the sealed set is ALL real
    * windows — which is what lets the DuckDB oracle replay the cohorts
    * as plain per-day aggregates (and the n_windows_* evidence columns
    * pin that every expected window actually sealed: a window the
    * watermark failed to seal would be missing and hash-fail).
    *
    * Scale: streaming state is (types × bins × open windows) cells —
    * bounded by the watermark horizon, independent of event volume;
    * each micro-batch contributes map-side partial counts only.
    */
  def qStreamDriftWindows(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
    val cells = StreamReplay.replayEvents(spark, dir)(s =>
        EventStreams.driftWindowCells(s.toDF()))
      .filter(!col("__sentinel")) // batch-side: see driftWindowCells
    val c = cells.withColumn("cohort",
      when(col("wend") <= cutoff, 0L).otherwise(1L))
    val folded = c.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("cohort") === 0L, col("n")).otherwise(0L)).as("n0"),
        sum(when(col("cohort") === 1L, col("n")).otherwise(0L)).as("n1"))
    val winCounts = c.groupBy(col("event_type"))
      .agg(
        count_distinct(when(col("cohort") === 0L, col("wstart")))
          .as("n_windows_before"),
        count_distinct(when(col("cohort") === 1L, col("wstart")))
          .as("n_windows_after"))
    EventQueries.driftPsiFromCounts(folded)
      .join(broadcast(winCounts), "event_type")
      .select(col("event_type"), col("n_windows_before"),
        col("n_windows_after"), col("n_before"), col("n_after"), col("psi"))
      .orderBy(col("event_type"))
  }

  /** q_dedup_incremental with TODAY'S batch arriving as a stream: the
    * history store is built exactly like the batch row ("yesterday's"
    * job), then the day's documents stream through
    * [[graft.streaming.CorpusStreams.incrementalDedupStream]] — each
    * micro-batch sketched once, landed as an epoch-keyed store increment,
    * and statused against the PERSISTED history inside foreachBatch. The
    * union of per-epoch results equals one batch run EXACTLY because the
    * operator is new-vs-history only (batch-internal duplicates are the
    * classic jobs' business) — the chunking can't change any doc's
    * status. No ordering contract, no watermark: zero streaming state.
    */
  def qStreamDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup
    val docs = Tables.documents(spark, dir)
    val (hist, todayAll) = SimilarityQueries.daySplit(docs, "doc_id")
    val today = todayAll.select(col("doc_id"), col("text"))
    val root = scratch("graft-dedup-replay")
    // "yesterday's" job — the batch row's store builder verbatim
    val exactPath = root.resolve("exact_fp").toString
    val bandsPath = root.resolve("bands").toString
    SimilarityQueries.writeDedupHistoryStore(hist, exactPath, bandsPath)
    // today's docs arrive as a 2-chunk file stream
    val resDir = root.resolve("res").toString
    CorpusStreams.incrementalDedupStream(feed(spark, today, 2, "doc_id"),
        spark.read.parquet(exactPath), spark.read.parquet(bandsPath),
        root.resolve("inc").toString, resDir,
        root.resolve("ck").toString)
      .awaitTermination()
    // an empty "today" split drains zero epochs and never creates resDir
    // — match the batch twin (its incrementalDedup over an empty batch is
    // an empty frame) instead of throwing on the missing path
    if (!hadoopExists(spark, resDir))
      Dedup.incrementalDedup(
          Dedup.minhashSketch(today.limit(0), col("doc_id"), col("text")),
          spark.read.parquet(exactPath), spark.read.parquet(bandsPath))
        .orderBy(col("doc_id"))
    else
      spark.read.parquet(resDir)
        .drop("epoch")
        .orderBy(col("doc_id"))
  }

  private def hadoopExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The raw JSONL feed of q_stream_datalake and q_stream_publish: the
    * events table written as three fetch drops under `root/raw`, read
    * back as a raw-fetch stream on a sub-session, one drop per trigger.
    */
  private def rawFetchFeed(spark: SparkSession, dir: String,
      root: java.nio.file.Path): DataFrame = {
    val bulkDir = root.resolve("raw").toString
    Datalake.writeJsonl(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us"))
        .repartition(3),
      bulkDir)
    DatalakeStreams.readRawStream(StreamReplay.subSession(spark), bulkDir,
      maxFilesPerTrigger = 1)
  }

  /** The reference's COMPOSED DAG as a micro-batch stream, driver-checked
    * (r9): the raw JSONL feed is staged as three fetch drops and drained
    * through [[graft.streaming.DatalakeStreams.runBackfill]] — each
    * micro-batch appends its coerced increment to the formatted layer and
    * rebuilds the usage layer with dedup-at-read. After the backlog
    * drains, usage == the batch pipeline over the union (keep-last dedup
    * is a pure function of the accumulated formatted rows — per-batch
    * rebuilds make every intermediate state consistent and the final one
    * exact), so q_datalake_pipeline's oracle applies verbatim.
    */
  def qStreamDatalake(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("graft-lake-replay")
    val usagePath = root.resolve("usage").toString
    DatalakeStreams.runBackfill(rawFetchFeed(spark, dir, root),
        root.resolve("fmt").toString, usagePath,
        root.resolve("ck").toString)
      .awaitTermination()
    spark.read.parquet(usagePath)
      .orderBy(col("event_type"), col("event_date"))
  }

  /** STREAMING PUBLISH (round 11): the composed micro-batch DAG of
    * q_stream_datalake, but every epoch lands the refreshed usage
    * aggregate as an atomic MANIFEST version
    * ([[graft.streaming.DatalakeStreams.runPublishingBackfill]] —
    * epoch-keyed `Datalake.publish`, so crash-replay republishes the same
    * version idempotently and concurrent readers only ever resolve a
    * complete snapshot). After the 3-drop backlog drains, the manifest
    * must point at the final epoch, whose content equals the batch
    * pipeline over the whole feed — q_datalake_pipeline's oracle —
    * and n_versions carries the epoch-history evidence (one published,
    * time-travelable version per micro-batch).
    */
  def qStreamPublish(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("graft-pub-replay")
    val tableRoot = root.resolve("usage_table").toString
    DatalakeStreams.runPublishingBackfill(rawFetchFeed(spark, dir, root),
        root.resolve("fmt").toString, tableRoot,
        root.resolve("ck").toString)
      .awaitTermination()
    val versions = Datalake.listVersions(spark, tableRoot)
    Datalake.readPublished(spark, tableRoot)
      .withColumn("n_versions", lit(versions.length.toLong))
      .orderBy(col("event_type"), col("event_date"))
  }

  /** q_dedup_clusters_incremental with the day's vectors arriving as a
    * stream (r9): yesterday's label + bucket stores are built exactly like
    * the batch row, then today's embeddings stream through
    * [[graft.streaming.ClusterStreams.incrementalClusterStream]] — each
    * micro-batch's buckets landed as an epoch increment, its pairs folded
    * into an epoch-versioned labeling by contracted propagation. The final
    * epoch's labeling equals the batch fold (and the from-scratch
    * components) because the labeling is CANONICAL — min label per
    * connected component of the accumulated graph — so the fold order
    * cannot change it; the oracle is the batch row's from-scratch
    * recursive CTE verbatim.
    */
  def qStreamClusters(spark: SparkSession, dir: String): DataFrame = {
    val c = SimilarityQueries.corpus(spark, dir)
    val (hist, today) = SimilarityQueries.daySplit(c, "id")
    val root = scratch("graft-cluster-replay")
    // "yesterday's" stores — the batch row's store builder verbatim
    val labelsPath = root.resolve("labels").toString
    val bucketsPath = root.resolve("buckets").toString
    SimilarityQueries.writeClusterHistoryStore(hist, labelsPath, bucketsPath)
    // today's vectors as a 2-chunk stream
    val labelsDir = root.resolve("labels_inc").toString
    graft.streaming.ClusterStreams.incrementalClusterStream(
        feed(spark, today, 2, "id"),
        spark.read.parquet(labelsPath), spark.read.parquet(bucketsPath),
        root.resolve("buckets_inc").toString, labelsDir,
        root.resolve("ck").toString)
      .awaitTermination()
    // an empty "today" split drains zero epochs and never versions the
    // label store — the history labeling IS the current labeling then
    // (the batch twin's fold over an empty batch returns it unchanged)
    if (!hadoopExists(spark, labelsDir))
      spark.read.parquet(labelsPath).orderBy(col("id"))
    else {
      val folded = spark.read.parquet(labelsDir)
      val lastEpoch = folded.agg(max(col("epoch"))).head.get(0)
      folded.filter(col("epoch") === lastEpoch).drop("epoch")
        .orderBy(col("id"))
    }
  }

  /** q_markov_transitions from the streamed
    * [[EventStreams.transitionChangelog]]: each (cur → next) step is
    * emitted exactly once, so the transition matrix is a plain count
    * aggregate with the same int÷int probability.
    */
  def qStreamMarkov(spark: SparkSession, dir: String): DataFrame = {
    val counts = StreamReplay.replayEvents(spark, dir)(
        EventStreams.transitionChangelog(_))
      .filter(col("user_id") >= 0)
      .groupBy(col("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("cur_type"))).cast("double"))
      .orderBy(col("cur_type"), col("next_type"))
  }

  /** STREAMING SOURCE FROM THE LAKE (round 15 — r14 verdict #4): two
    * epoch-committed versions of orders land on a CAS table, then
    * [[graft.streaming.DatalakeStreams.changeFeedStream]] consumes the
    * table's OWN commit log as a file stream — micro-batch 0 emits the
    * initial snapshot as inserts (`_from_version='initial'`), micro-batch
    * 1 emits the e1→e2 change feed — each batch landed on the sink as an
    * epoch version. The full CDC log (union of sink versions) must equal
    * the batch truth: q_change_feed's oracle join, version-relabeled,
    * plus the snapshot inserts — a missed commit, a double-processed
    * record, or a wrong predecessor resolution all change the row mass
    * and hash-fail.
    */
  def qStreamChangeFeed(spark: SparkSession, dir: String): DataFrame =
    streamedChangeFeed(spark, dir, deleteBetween = false)

  /** DELETE COMMITS THROUGH THE LAKE STREAM (round 15 — the gap
    * changeFeedStream's first cut skipped loudly, now closed): the
    * source chain is epoch-publish e1 → a DELETION-VECTOR commit
    * (`deleteWhere`, no data file rewritten) → epoch-publish e2. The
    * stream's token-general diff materializes the vector commit as
    * DELETE rows (label `e1+dv` — deterministic, the vector dir's UUID
    * never leaks), and the e2 feed diffs against the DELETED state —
    * so a reader that resurrected hidden rows (raw base scan instead of
    * readToken) would both emit wrong deletes and corrupt the next
    * diff's preimages.
    */
  def qStreamCdcDelete(spark: SparkSession, dir: String): DataFrame =
    streamedChangeFeed(spark, dir, deleteBetween = true)

  /** The body of q_stream_change_feed and q_stream_cdc_delete: epoch
    * publish e1, then (when `deleteBetween`) a deletion-vector DELETE,
    * then epoch publish e2, all streamed out of the table's commit log
    * and read back as the sink's merged CDC log. */
  private def streamedChangeFeed(spark: SparkSession, dir: String,
      deleteBetween: Boolean): DataFrame = {
    val root = scratch("graft-cdf-replay")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val table = root.resolve("table").toString
    Datalake.publishEpochCas(o.filter(col("o_orderkey") % 7 =!= 0),
      table, "1")
    if (deleteBetween)
      Datalake.deleteWhere(spark, table, col("o_orderkey") % 9 === 0)
    Datalake.publishEpochCas(
      o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(5.0))
            .otherwise(col("o_totalprice")).as("o_totalprice")),
      table, "2")
    val sink = root.resolve("cdc_sink").toString
    DatalakeStreams.changeFeedStream(StreamReplay.subSession(spark), table,
      Seq("o_orderkey"), sink, root.resolve("ck").toString)
      .awaitTermination()
    Datalake.readVersionsMerged(spark, sink,
        Datalake.listVersions(spark, sink))
      .select(col("o_orderkey"), col("o_totalprice"),
        col("_change_type"), col("_from_version"), col("_to_version"))
  }

  /** CDC TABLE REPLICATION end-to-end (round 15): the source takes an
    * epoch publish, a deletion-vector DELETE, and a committed MERGE;
    * [[graft.streaming.DatalakeStreams.replicateStream]] consumes the
    * source's own commit log and applies each commit's feed to a
    * replica IN ORDER under an applied-sequence high-water mark. The
    * hashed output is the REPLICA's content — which must equal the
    * closed form of the source's final state (also what `readPublished`
    * on the source serves), with the replica's per-source-commit
    * version trail as evidence. A skipped commit, an out-of-order
    * apply, a resurrected deleted row, or a double-applied feed all
    * change the row mass.
    */
  def qTableReplicate(spark: SparkSession, dir: String): DataFrame = {
    val root = scratch("graft-repl-replay")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val src = root.resolve("src").toString
    Datalake.publishEpochCas(o.filter(col("o_orderkey") % 7 =!= 0),
      src, "1")
    Datalake.deleteWhere(spark, src, col("o_orderkey") % 9 === 0)
    val delta = o.filter(col("o_orderkey") % 5 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + lit(10.0)).as("o_totalprice"))
    Datalake.mergeTransact(spark, src, delta, Seq("o_orderkey"))
    val rep = root.resolve("replica").toString
    DatalakeStreams.replicateStream(StreamReplay.subSession(spark), src,
      Seq("o_orderkey"), rep, root.resolve("ck").toString)
      .awaitTermination()
    val nVersions = Datalake.listVersions(spark, rep).length.toLong
    Datalake.readPublished(spark, rep)
      .withColumn("n_replica_versions", lit(nVersions))
  }

  /** SCORE-ON-INGEST (round 17 — the reference's "Ingest Pipeline"
    * integration, ML_ROADMAP.md Phase 3 "Méthode Industrielle": the
    * stored model is attached to the ingest path so documents land WITH
    * their prediction): the trained GBT is first PUBLISHED as a
    * versioned lake artifact (the q_model_serve registry), then the
    * featurized rows arrive in file-chunk micro-batches and every batch
    * is scored with the MANIFEST-CURRENT stored model — resolved ONCE,
    * driver-side, rounds+1 rows — and lands in the formatted layer
    * carrying its `pred` column (epoch-keyed parquet, overwrite-on-
    * replay idempotent). No batch ever touches the trainer.
    *
    * The readback folds the landed rows into per-split exact counts and
    * integer sums of (y, pred): stream == batch because scoring is a
    * pure row-local function of the stored model, so the oracle is the
    * batch aggregate over the SAME inlined model — a drifted stored
    * artifact, a batch scored with a stale model, or a lost/duplicated
    * epoch all hash-fail. Scale: per-batch work is one scan + the
    * closed-form score column; the sink grows one file per epoch and
    * compacts by the same fold.
    */
  def qStreamModelIngest(spark: SparkSession, dir: String,
      m: graft.ops.Gbt.Model): DataFrame = {
    import graft.ops.Gbt
    val root = scratch("graft-ingest-score-replay")
    // publish the registry artifact (the q_model_serve lifecycle's
    // serving half: the ingest job is a pure CONSUMER of the store)
    val modelRoot = root.resolve("model_store").toString
    Datalake.publish(Gbt.modelToDf(spark, m, 0L), modelRoot, "1")
    val (served, _) =
      Gbt.modelFromDf(Datalake.readPublished(spark, modelRoot))
    val fmt = root.resolve("fmt").toString
    foreachEpoch(feed(spark, Gbt.featurize(spark, dir), 3, "pk"),
        root.resolve("ck").toString) { (batch, epoch) =>
      Datalake.writeParquet(
        batch.select(col("pk"),
          when(col("is_train"), lit("train")).otherwise(lit("test"))
            .as("split"),
          col("y"), Gbt.fhatColDeep(served).as("pred")),
        s"$fmt/epoch=$epoch")
    }.awaitTermination()
    val landed = spark.read.parquet(fmt)
    val nEpochs = landed.select(col("epoch")).distinct().count()
    landed.groupBy(col("split"))
      .agg(count(lit(1)).as("n"),
        sum(col("y")).cast("bigint").as("sum_y"),
        sum(col("pred")).cast("bigint").as("sum_pred"))
      .select(col("split"), col("n"), col("sum_y"), col("sum_pred"),
        lit(nEpochs).as("n_epochs"))
      .orderBy(col("split"))
  }

  /** STREAMING MODEL SCORING (round 16 — the serving twin of
    * [[Relational.qGbtRegression]], extending the stream==batch family
    * onto the ML surface): the featurized table arrives in file-chunk
    * micro-batches; each batch scores rows with the SAME inlined
    * integer-cents GBT model and lands its per-split exact partial
    * moments (n, Σy, Σy², Σ(y−ŷ)²) as an epoch-keyed store increment
    * (overwrite-on-replay idempotent — the CMS/HLL-store pattern). The
    * live fold is a per-split SUM over increments — EXACT by decimal
    * linearity, no ordering contract, zero streaming state — and the
    * closed-form RMSE/R² tail is the batch row's code, so stream and
    * batch cannot disagree: the oracle is q_gbt_regression's VERBATIM.
    *
    * Scale: per-batch work is one scan + a 2-group aggregate; the
    * store grows one 2-row parquet per epoch and compacts by the same
    * sum — the shape of a continuous model-quality monitor.
    */
  def qStreamGbtScore(spark: SparkSession, dir: String,
      m: graft.ops.Gbt.Model): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.ops.Gbt
    val root = scratch("graft-gbtscore-replay")
    val store = root.resolve("store").toString
    foreachEpoch(feed(spark, Gbt.featurize(spark, dir), 3, "pk"),
        root.resolve("ck").toString) { (batch, epoch) =>
      val scored = batch.select(
        when(col("is_train"), lit("train")).otherwise(lit("test"))
          .as("split"),
        col("y"), Gbt.fhatColDeep(m).as("fhat"))
      Datalake.writeParquet(
        scored.groupBy(col("split")).agg(
          count(lit(1)).as("n"),
          sum(col("y")).as("sy_e"),
          sum((col("y") * col("y")).cast(DecimalType(25, 0)))
            .as("syy_e"),
          sum(((col("y") - col("fhat")) * (col("y") - col("fhat")))
            .cast(DecimalType(25, 0))).as("sse_e")),
        s"$store/epoch=$epoch")
    }.awaitTermination()
    val folded = spark.read.parquet(store)
      .groupBy(col("split"))
      .agg(sum(col("n")).as("n"), sum(col("sy_e")).as("sy_e"),
        sum(col("syy_e")).as("syy_e"), sum(col("sse_e")).as("sse_e"))
    val nD = col("n").cast("double")
    val syD = col("sy_e").cast("double")
    val syyD = col("syy_e").cast("double")
    val sseD = col("sse_e").cast("double")
    folded.select(col("split"), col("n"),
        sqrt(sseD / nD).as("rmse"),
        (lit(1.0) - sseD / (syyD - syD * syD / nD)).as("r2"))
      .orderBy(col("split"))
  }

  // ---- Registry rows and their DuckDB oracles ----

  /** The lake stream's first epoch: every row of the initial snapshot
    * ([[DatalakeQueries.feedOldCte]]) as an insert, 'initial' → 'e1'. */
  private val initialSnapshotRows =
    """SELECT o_orderkey, o_totalprice, 'insert' AS _change_type,
      |    'initial' AS _from_version, 'e1' AS _to_version
      |  FROM old""".stripMargin

  /** A streamed feed epoch `from` → `to` over `j`: inserts, deletes,
    * then [[DatalakeQueries.feedUpdateRows]]. */
  private def feedDiffRows(from: String, to: String): String =
    s"""UNION ALL SELECT k, pn, 'insert', '$from', '$to' FROM j
       |  WHERE ko IS NULL
       |UNION ALL SELECT k, po, 'delete', '$from', '$to' FROM j
       |  WHERE kn IS NULL
       |${DatalakeQueries.feedUpdateRows(from, to)}""".stripMargin

  /** The StreamQueries registry rows. A streaming replay row names its
    * batch twin's oracle: stream == batch over the same input is exactly
    * the equality the hash check re-proves. */
  def defs: Seq[(String, QueryDef)] = Seq(
    "q_stream_retention" -> fixed(qStreamRetention _)(
      JourneyQueries.retentionCohortOracle),
    // crash recovery: two incarnations against one checkpoint must
    // still reproduce the batch matrix bit-for-bit
    "q_stream_recovery" -> fixed(qStreamRecovery _)(
      JourneyQueries.retentionCohortOracle),
    "q_stream_scd2" -> fixed(qStreamScd2 _)(EventQueries.scd2HistoryOracle),
    "q_stream_markov" -> fixed(qStreamMarkov _)(
      JourneyQueries.markovTransitionsOracle),
    "q_stream_funnel" -> fixed(qStreamFunnel _)(
      JourneyQueries.funnelStepsOracle),
    // q_gap_fill's oracle over the COALESCED value frame — the
    // streaming Event schema is primitive-Double, so the replay feed
    // coalesces NULL values to 0.0 before the fold (the documented
    // gapFillChangelog value contract)
    "q_stream_gapfill" -> fixed(qStreamGapfill _)(
      JourneyQueries.gapFillOracle("coalesce(value, 0)")),
    // same COALESCE note as q_stream_gapfill: the replay feed's Event
    // schema is primitive-Double (all-NULL sessions would sum to 0.0,
    // not NULL) — the events table has no NULL values at any shipped
    // SF, so the twin oracle applies verbatim-with-coalesce either way
    "q_stream_sessionize" -> fixed(qStreamSessionize _)(
      EventQueries.sessionizeOracle("coalesce(value, 0)")),
    "q_stream_window" -> fixed(qStreamWindow _)(
      EventQueries.windowTumblingOracle("coalesce(value, 0)")),
    "q_stream_attribution" -> fixed(qStreamAttribution _)(
      EventQueries.rangeJoinOracle("JOIN")),
    // CMS linearity: the epoch-folded store's cells equal the batch
    // build's cells exactly, so the estimates — and the oracle — are
    // the batch row's verbatim
    "q_stream_heavy_hitters" -> fixed(qStreamHeavyHitters _)(
      TextQueries.heavyHittersOracle),
    // the dead-letter stream's report must equal the batch split —
    // chunking commutes with per-row rules
    "q_stream_quarantine" -> fixed(qStreamQuarantine _)(
      Relational.quarantineOracle),
    // the CDC apply stream: key-disjoint chunks make the serialized
    // per-epoch merges compose to ONE whole-delta merge — same join +
    // CASE as q_merge_publish, base WITHOUT the DV filter
    "q_stream_merge" -> fixed(qStreamMerge _)(
      DatalakeQueries.mergeThroughOracle(
        "FROM orders WHERE o_orderkey % 3 <> 0")),
    // new-vs-history-only dedup: the union of per-epoch streamed
    // results equals one batch run, so the batch oracle is verbatim
    "q_stream_dedup_incremental" -> fixed(qStreamDedupIncremental _)(
      SimilarityQueries.dedupIncrementalOracle),
    // keep-last dedup is a pure function of the accumulated raw rows:
    // the drained stream's usage layer == the batch DAG's
    "q_stream_datalake" -> fixed(qStreamDatalake _)(
      DatalakeQueries.datalakePipelineOracle),
    // the component labeling is canonical (min label per component of
    // the accumulated graph) — fold order can't change it, so the
    // from-scratch CTE re-proves the streamed fold too
    "q_stream_clusters" -> fixed(qStreamClusters _)(
      SimilarityQueries.clustersOracle),
    // the manifest-published final epoch == the batch pipeline's usage
    // layer; n_versions = one published version per micro-batch (3
    // staged drops × maxFilesPerTrigger=1)
    "q_stream_publish" -> fixed(qStreamPublish _)(
      s"""SELECT event_type, event_date, n_events, total_value,
         |  CAST(3 AS BIGINT) AS n_versions
         |FROM (${DatalakeQueries.datalakePipelineOracle})
         |ORDER BY event_type, event_date""".stripMargin),
    // lake-as-stream: the initial snapshot arrives as inserts
    // (_from_version 'initial'), then the e1→e2 feed — q_change_feed's
    // oracle join relabeled to the epoch version names
    "q_stream_change_feed" -> fixed(qStreamChangeFeed _)(
      s"""WITH ${DatalakeQueries.feedOldCte},
        |${DatalakeQueries.feedNewCte},
        |${DatalakeQueries.feedJoinCte}
        |$initialSnapshotRows
        |${feedDiffRows("e1", "e2")}""".stripMargin),
    // the lake stream materializes a DELETION-VECTOR commit as delete
    // rows (label e1+dv), and the next feed diffs against the DELETED
    // state — a resurrecting reader corrupts both
    "q_stream_cdc_delete" -> fixed(qStreamCdcDelete _)(
      s"""WITH ${DatalakeQueries.feedOldCte},
        |afterdel AS (SELECT * FROM old WHERE o_orderkey % 9 <> 0),
        |${DatalakeQueries.feedNewCte},
        |j AS (SELECT COALESCE(a.o_orderkey, n.o_orderkey) AS k,
        |    a.o_orderkey AS ko, n.o_orderkey AS kn,
        |    a.o_totalprice AS po, n.o_totalprice AS pn
        |  FROM afterdel a FULL OUTER JOIN nu n
        |    ON a.o_orderkey = n.o_orderkey)
        |$initialSnapshotRows
        |UNION ALL SELECT o_orderkey, o_totalprice, 'delete', 'e1',
        |    'e1+dv'
        |  FROM old WHERE o_orderkey % 9 = 0
        |${feedDiffRows("e1+dv", "e2")}""".stripMargin),
    // end-to-end CDC replication: the replica's content is the closed
    // form of snapshot → vector delete → merge, one replica version per
    // source commit
    "q_table_replicate" -> fixed(qTableReplicate _)(
      """WITH old AS (SELECT o_orderkey, o_totalprice FROM orders
        |    WHERE o_orderkey % 7 <> 0),
        |afterdel AS (SELECT * FROM old WHERE o_orderkey % 9 <> 0),
        |delta AS (SELECT o_orderkey, o_totalprice + 10.0 AS d_price
        |  FROM orders WHERE o_orderkey % 5 = 0)
        |SELECT COALESCE(d.o_orderkey, a.o_orderkey) AS o_orderkey,
        |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.d_price
        |    ELSE a.o_totalprice END AS o_totalprice,
        |  CAST(3 AS BIGINT) AS n_replica_versions
        |FROM afterdel a FULL OUTER JOIN delta d
        |  ON a.o_orderkey = d.o_orderkey""".stripMargin),
    // LEFT OUTER stream-stream join: the oracle is the batch LEFT
    // JOIN on the same interval — a null row emitted early (before
    // its seal), dropped (state evicted under a future match), or
    // duplicated (match + spurious null) each hash-fail
    "q_stream_outer_join" -> fixed(qStreamOuterJoin _)(
      EventQueries.rangeJoinOracle("LEFT JOIN")),
    // histogram-store fold == batch counts by count linearity, PSI
    // tail shared verbatim → the batch oracle applies unchanged
    "q_stream_drift" -> fixed(qStreamDrift _)(EventQueries.driftPsiOracle),
    // register fold (cell-wise max over epochs) == single-pass batch
    // registers — max is associative AND idempotent — and the
    // estimate tail is shared verbatim → the batch oracle unchanged
    "q_stream_hll" -> fixed(qStreamHll _)(Relational.hllDistinctOracle),
    // watermark-sealed daily cohorts: day windows never straddle the
    // midnight cutoff, so summing sealed window cells per cohort
    // equals the per-event cutoff flag by count linearity; the
    // n_windows_* columns replay as distinct active days per type —
    // a window the watermark failed to seal would be missing and
    // hash-fail here
    "q_stream_drift_windows" -> fixed(qStreamDriftWindows _)(
      s"""WITH e AS (SELECT event_type, ts,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END
        |      AS cohort,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |        AND event_type = 'purchase'
        |      THEN value * 1.5 ELSE value END AS v
        |  FROM events),
        |b AS (SELECT event_type, ts, cohort,
        |    CAST(least(floor(v / 50.0), 9) AS BIGINT) AS bin FROM e),
        |w AS (SELECT event_type,
        |    CAST(COUNT(DISTINCT date_trunc('day', ts))
        |      FILTER (cohort = 0) AS BIGINT) AS n_windows_before,
        |    CAST(COUNT(DISTINCT date_trunc('day', ts))
        |      FILTER (cohort = 1) AS BIGINT) AS n_windows_after
        |  FROM b GROUP BY 1),
        |bins AS (SELECT DISTINCT event_type, unnest(range(10)) AS bin
        |  FROM b),
        |${EventQueries.driftCountCtes},
        |${EventQueries.psiTermsCtes},
        |p AS (SELECT event_type, CAST(max(t0) AS BIGINT) AS n_before,
        |    CAST(max(t1) AS BIGINT) AS n_after,
        |    SUM(floor((p - q) * ln(p / q) * 65536.0) / 65536.0) AS psi
        |  FROM terms GROUP BY 1)
        |SELECT p.event_type, w.n_windows_before, w.n_windows_after,
        |  n_before, n_after, psi
        |FROM p JOIN w USING (event_type)
        |ORDER BY event_type""".stripMargin),
    // native session_window semantics: end-exclusive gap windows →
    // split on >= gap (one tick stricter than the lag-based batch
    // row's >), session_end = last event + gap by definition
    "q_stream_session_window" -> fixed(qStreamSessionWindow _)(
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(ts AS TIMESTAMP) AS ts, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |f AS (SELECT *, CASE
        |    WHEN lag(ts_us) OVER w IS NULL THEN 1
        |    WHEN ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1
        |    ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |n AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
        |    AS session_seq FROM f)
        |SELECT user_id, MIN(ts) AS session_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM n GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin),
    // TTL dedup of the doubled feed = the plain table: every distinct
    // event exactly once
    "q_stream_dedup_ttl" -> fixed(qStreamDedupTtl _)(
      """SELECT event_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin),
    // store fold == batch daily sums by decimal linearity; the CUSUM
    // tail is cusumFromDaily shared verbatim → batch oracle unchanged
    "q_stream_cusum" -> fixed(qStreamCusum _)(EventQueries.cusumShiftOracle),
    // streaming replay of the scoring eval: exact partial moments fold
    // linearly, so stream == batch and the oracle is verbatim
    "q_stream_gbt_score" -> trained(Relational.gbtTrainOrGet)(
      qStreamGbtScore)(Relational.gbtScoreOracle),
    "q_stream_model_ingest" -> trained(Relational.gbtTrainOrGet)(
      qStreamModelIngest)(Relational.modelIngestOracle),
  )
}
