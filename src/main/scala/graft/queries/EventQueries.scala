package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.QueryDef
import graft.QueryDef.{fixed}
import graft.ops.AsOf
import graft.sources.Tables
import graft.ops.Agg._

/** Event-stream analytics (batch form; streaming versions live in
  * graft.streaming). The reference's incremental lbc fetch state
  * (lbc_fetcher.py watermark file) maps to the watermark filter; its hourly
  * DAG schedule maps to the tumbling window.
  */
object EventQueries {

  /** Gap-based sessionization (30 min): the classic two-window plan —
    * lag to mark session starts, running sum to number sessions, then one
    * groupBy. Shuffles once on user_id; at 100 TB events would be
    * pre-bucketed by user_id making this shuffle-free.
    */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    graft.ops.Sessionize
      .withSessionSeq(e, col("user_id"), col("ts"), col("event_id"))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        decSum2(col("value")).cast("double").as("total_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }

  /** Tumbling 1-hour window aggregate per event type. */
  def qWindowTumbling(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(
        date_trunc("hour", col("ts")).as("bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        decSum2(col("value")).cast("double").as("total_value"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** Incremental read past a watermark (reference keeps last_fetched in a
    * state file; at scale this is a partition-pruned predicate on event
    * time, not a full scan).
    */
  def qIncrementalWatermark(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.filter(col("ts") > lit("2024-01-15 00:00:00"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_new_events"),
        max(col("ts")).as("latest_ts"))
      .orderBy(col("user_id"))
  }

  /** Range join: every click inside the hour BEFORE each purchase of the
    * same user ("pre-purchase window" attribution, many-to-many). The
    * bucketized equi-join form — see ops.RangeJoin for why the naive
    * inequality join degenerates to a nested loop.
    */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame =
    rangeJoinPairs(spark, dir)
      .select(col("click_id"), col("purchase_id"), col("user_id"))
      .orderBy(col("click_id"), col("purchase_id"))

  /** The ONE definition of the pre-purchase-hour pair set (clicks within
    * the hour before each same-user purchase, `>= start && < end`) —
    * shared by q_range_join and q_attribution_linear so the window
    * convention cannot drift between them. Carries `p_value` for the
    * attribution row; q_range_join projects it away.
    */
  private def rangeJoinPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("value").as("p_value"),
        (col("ts") - expr("INTERVAL 1 HOUR")).as("win_start"),
        col("ts").as("win_end"))
    graft.ops.RangeJoin.pointInInterval(clicks, purchases, "user_id",
      col("click_ts"), col("win_start"), col("win_end"))
  }

  /** Linear multi-touch attribution: each purchase's value split EQUALLY
    * across its in-window clicks (the q_range_join pairs) — the standard
    * upgrade from last-touch (q_asof_attribution) when several touchpoints
    * share credit. One count-window partitioned by purchase_id over the
    * bucketized range join assigns the denominator; credit stays a SINGLE
    * IEEE division of the exact 2-decimal purchase value by an exact int,
    * so the driver hash-checks it with no snapping. Emitted at pair grain
    * (click, purchase, credit): per-click credit SUMS are deliberately NOT
    * aggregated here — summing inexact quotients is reduction-order-
    * dependent; a consumer rolls up in whatever decimal policy it owns.
    */
  def qAttributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val perPurchase = Window.partitionBy(col("purchase_id"))
    rangeJoinPairs(spark, dir)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (col("p_value") / count(lit(1)).over(perPurchase).cast("double"))
          .as("credit"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  /** TIME-DECAY attribution (round 15): the third credit model beside
    * as-of last-touch (q_asof_attribution) and equal-split linear
    * (q_attribution_linear) — each purchase credits its last four
    * preceding touches with geometrically decaying weight 2^-k (nearest
    * touch k=1 → 1/2, then 1/4, 1/8, 1/16). Engine shape: NO pair join
    * at all — one user-partitioned window with four fixed-offset lags,
    * then a scan-side explode of the (touch, k) pairs; the fan-out is
    * bounded at 4 rows per purchase by construction, so at 100 TB the
    * cost is the one user_id exchange the journey family already shares.
    * Exactness: 2^-k weights are exact dyadics and credit = value · 2^-k
    * is one IEEE multiply — engine-exact, no snapping; per-pair rows are
    * emitted (no cross-row double sum).
    */
  def qAttributionDecay(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"), col("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val lagged = e.select(col("event_id").as("purchase_id"),
      col("user_id"), col("event_type"), col("value").as("p_value"),
      array((1 to 4).map { k =>
        // the weight is a compile-time exact dyadic LITERAL (1/2^k) —
        // never a runtime pow, whose rounding is engine-private
        struct(lag(col("event_id"), k).over(w).as("touch_id"),
          lag(col("event_type"), k).over(w).as("touch_type"),
          lit(k.toLong).as("k"), lit(1.0 / (1L << k)).as("weight"))
      }: _*).as("touches"))
    lagged.filter(col("event_type") === "purchase")
      .select(col("purchase_id"), col("user_id"), col("p_value"),
        explode(col("touches")).as("t"))
      .filter(col("t.touch_id").isNotNull)
      .select(col("purchase_id"), col("user_id"),
        col("t.touch_id").as("touch_id"),
        col("t.touch_type").as("touch_type"),
        col("t.k").as("k"), col("t.weight").as("weight"),
        (col("p_value") * col("t.weight")).as("credit"))
      .orderBy(col("purchase_id"), col("k"))
  }

  /** Per-user event-sequence features: lead/lag gaps, running rank
    * position, quartile bucket — the standard window-function toolbox in
    * one pass. ONE shuffle on user_id serves every window (same
    * partitioning, Spark plans a single WindowExec group); gap seconds
    * stay in exact long arithmetic.
    */
  def qLeadLag(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    e.select(
        col("event_id"), col("user_id"), col("ts"),
        (unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(w))).as("us_since_prev"),
        (unix_micros(lead(col("ts"), 1).over(w)) -
          unix_micros(col("ts"))).as("us_to_next"),
        ntile(4).over(w).as("quartile"),
        first(col("event_id")).over(w).as("first_event"))
      .orderBy(col("event_id"))
  }

  /** Rolling-FRAME features per user (the piece qLeadLag's offset
    * functions don't cover): 5-event trailing count/sum/min/max plus the
    * running total — the standard online feature-engineering shapes
    * (trailing spend, activity burst detection). ROWS frames, not RANGE:
    * row frames over the unique (ts, event_id) order are deterministic and
    * cheaper (no peer-group scan). Sums run in exact decimal → one double
    * cast; min/max pick existing doubles. Same single user_id shuffle
    * serves every frame.
    */
  def qRollingFeatures(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val w5 = order.rowsBetween(-4, 0)
    val cum = order.rowsBetween(Window.unboundedPreceding, 0)
    e.select(
        col("event_id"), col("user_id"),
        count(lit(1)).over(w5).as("roll_n"),
        decSum2(col("value")).over(w5).cast("double").as("roll_sum"),
        min(col("value")).over(w5).as("roll_min"),
        max(col("value")).over(w5).as("roll_max"),
        decSum2(col("value")).over(cum).cast("double").as("cum_value"))
      .orderBy(col("event_id"))
  }

  /** Time-based trailing window — the RANGE-frame sibling of
    * qRollingFeatures: trailing-ONE-HOUR event count and exact decimal
    * sum per user, the time-decayed-feature shape a ROWS frame cannot
    * express (last N events ≠ last hour). Frame key = epoch micros on
    * both engines; the decimal sum keeps the frame aggregation
    * order-exact (equal-micros rows share one frame, so a raw double
    * sum would depend on their sort order). Same single user-keyed
    * exchange as every other window query.
    */
  def qRollingTime(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-3600L * 1000000L, 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_1h"),
        decSum2(col("value")).over(w).cast("double").as("sum_1h"))
      .orderBy(col("event_id"))
  }

  /** Join-key skew profile: the top-10 heaviest user_id keys with their
    * share of all events — the diagnostic that decides whether a join
    * needs salting/AQE skew handling BEFORE it melts a reducer at 100 TB.
    * Shape: partial-agg count per key (one shuffle), 1-row total broadcast,
    * global top-10 via TakeOrderedAndProject (sort-limit pushed to the
    * partials — never an unpartitioned window). share = exact-int ÷
    * exact-int, deterministic.
    */
  def qSkewProfile(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select("user_id")
    val per = e.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val total = e.agg(count(lit(1)).as("total"))
    per.crossJoin(broadcast(total))
      .select(col("user_id"), col("n_events"),
        (col("n_events").cast("double") / col("total")).as("share"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(10)
  }

  /** Enrichment join on a PATHOLOGICALLY skewed key: `event_type` has 5
    * values over the whole table, so an unsalted shuffle join can use at
    * most 5 reducers no matter how many executors exist. The salted form
    * (ops.Salting) turns each hot key into `salts` even partitions; the
    * stats side is exploded ×salts and hinted shuffle_hash so the salt
    * actually governs partitioning (a broadcast would hide the
    * demonstration — and at 100 TB the non-fact side isn't always
    * broadcastable). Results are identical to the plain join: the oracle
    * is the unsalted SQL.
    */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val stats = e.groupBy(col("event_type"))
      .agg(decAvg(col("value")).as("type_avg"))
    graft.ops.Salting.saltedJoin(
        e.select(col("event_id"), col("event_type"), col("value")),
        stats.hint("shuffle_hash"),
        "event_type", salts = 8)
      .select(col("event_id"), col("event_type"),
        coalesce(col("value"), lit(0.0)).as("value"),
        col("type_avg"),
        (coalesce(col("value"), lit(0.0)) > col("type_avg")).as("above_avg"))
      .orderBy(col("event_id"))
  }

  /** Attribution via as-of join: each purchase matched to the user's most
    * recent click at-or-before it. Clicks are pre-deduped to one per
    * (user, ts) so the match is deterministic; the oracle is DuckDB's
    * native ASOF LEFT JOIN.
    */
  def qAsofAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_event_id"))
    AsOf.asOfJoin(purchases, clicks, "user_id", "purchase_ts", "click_ts")
      .orderBy(col("purchase_id"))
  }

  /** As-of attribution with MAX STALENESS (pandas merge_asof `tolerance`):
    * a click older than one hour before the purchase no longer gets the
    * credit — the realistic attribution-window rule. Same single-shuffle
    * as-of plan; the tolerance is a post-window null-out.
    */
  def qAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts").as("click_ts"))
      .agg(max(col("event_id")).as("click_event_id"))
    AsOf.asOfJoin(purchases, clicks, "user_id", "purchase_ts", "click_ts",
        tolerance = Some("1 HOUR"))
      .orderBy(col("purchase_id"))
  }

  /** SCD2 dimension history from the event stream (ops.Scd): per user, the
    * event_type attribute collapsed to change rows with versioned validity
    * intervals — the CDC→warehouse history build. One user-keyed shuffle
    * serves change detection, interval close and version numbering.
    */
  def qScd2History(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Scd.scd2History(Tables.events(spark, dir), col("user_id"),
        col("ts"), col("event_type"), col("event_id"))
      .select(col("key").as("user_id"), col("attr").as("event_type"),
        col("valid_from"), col("valid_to"),
        col("version").cast("long").as("version"), col("is_current"))
      .orderBy(col("user_id"), col("version"))

  /** POINT-IN-TIME enrichment against SCD2 dimension history (r13 — the
    * feature-store correctness primitive: training labels must join the
    * dimension version that was CURRENT at event time, never today's —
    * the classic label-leakage bug): each purchase picks up the user's
    * last non-purchase activity state and its dimension version as of
    * the purchase timestamp. Composition of two existing scale shapes —
    * the one-shuffle SCD2 build and the one-shuffle union-form as-of
    * join — so PIT costs two key shuffles total, never the |facts| ×
    * |versions| range-join blow-up. A user whose first event is the
    * purchase has no prior state → nulls, replayed by the oracle's ASOF
    * LEFT JOIN.
    */
  def qPitJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val hist = graft.ops.Scd.scd2History(
        e.filter(col("event_type") =!= "purchase"),
        col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .select(col("key").as("user_id"),
        col("attr").as("state_at_purchase"), col("valid_from"),
        col("version").cast("long").as("dim_version"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    AsOf.asOfJoin(purchases, hist, "user_id", "purchase_ts", "valid_from")
      .select(col("purchase_id"), col("user_id"),
        col("state_at_purchase"), col("dim_version"))
      .orderBy(col("purchase_id"))
  }

  /** Interval concurrency profile by SWEEP-LINE (round 8): each event
    * opens a 30-minute activity interval [ts, ts+30min); the query finds
    * the peak number of simultaneously open intervals per event type and
    * when it first occurs — the "max concurrent sessions" question every
    * capacity dashboard asks, answered without materializing any
    * point-in-time state. Plan: each interval emits two boundary rows
    * (+1 at start, −1 at end), boundaries combine per (type, timestamp)
    * map-side, and ONE type-keyed window computes the running active
    * count — concurrency at t is exactly count(start ≤ t) − count(end ≤
    * t) under the closed-open convention, so equal-timestamp ordering
    * can't introduce nondeterminism. Both window passes (running sum,
    * max) share the one exchange. At 100 TB: 2 boundary rows per event,
    * partial-aggregated to ≤ distinct timestamps per type before the
    * shuffle; the window runs over boundary rows, never events.
    */
  def qConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val iv = e.select(col("event_type"), col("ts").as("s"),
      (col("ts") + expr("INTERVAL 30 MINUTES")).as("en"))
    val bounds = iv.select(col("event_type"), col("s").as("t"), lit(1L).as("d"))
      .unionByName(iv.select(col("event_type"), col("en").as("t"),
        lit(-1L).as("d")))
      .groupBy(col("event_type"), col("t"))
      .agg(sum(col("d")).as("net"))
    val byType = Window.partitionBy(col("event_type"))
    val run = bounds
      .withColumn("active", sum(col("net")).over(byType.orderBy(col("t"))))
      .withColumn("mx", max(col("active")).over(byType))
    val peaks = run.filter(col("active") === col("mx"))
      .groupBy(col("event_type"))
      .agg(max(col("mx")).as("max_concurrent"), min(col("t")).as("peak_ts"))
    e.groupBy(col("event_type")).agg(count(lit(1)).as("n_intervals"))
      .join(peaks, "event_type")
      .select(col("event_type"), col("n_intervals"), col("max_concurrent"),
        col("peak_ts"))
      .orderBy(col("event_type"))
  }

  /** DISTRIBUTION-DRIFT monitor: Population Stability Index per event
    * type between a baseline cohort (first half of the month) and a
    * current cohort (second half), the standard pre-training gate on a
    * refreshed data snapshot ("did this source's value distribution move
    * since the last crawl?"). To make detection demonstrable on the
    * drift-free synthetic feed, the current cohort is CONSTRUCTED with a
    * deliberate shift (the q_entity_resolution dirty-input pattern):
    * purchase values inflate ×1.5 — the monitor must read ≈0.15
    * ("moderate drift" on the standard PSI scale) for purchase and the
    * ~0.006 noise floor elsewhere, and the oracle hash-pins both.
    *
    * Numerics: values bin into 10 fixed-width buckets (floor(v/50),
    * clamped — binning via IEEE divide+floor is bit-deterministic across
    * engines); +1 Laplace smoothing keeps every bin's ln finite; each
    * PSI term (p−q)·ln(p/q) snaps to the 2^-16 dyadic grid BEFORE the
    * sum (the BM25 ln discipline — the snap makes the 10-term sum exact
    * order-free arithmetic, cross-engine ln agreement is the ~2^-35
    * residual risk). All divisions are exact-int-over-exact-int single
    * IEEE ops. Plan: one scan, one (type, bin)-keyed partial-aggregated
    * shuffle, a 50-row bins×counts join — nothing scales with rows but
    * the first aggregate; at 100 TB per-bin counts partial-combine
    * map-side and only type×bin×2 cells cross the wire.
    */
  def qDriftPsi(spark: SparkSession, dir: String): DataFrame =
    driftPsiFromCounts(
      driftBinned(Tables.events(spark, dir))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(when(col("cohort") === 0L, 1)).as("n0"),
          count(when(col("cohort") === 1L, 1)).as("n1")))

  /** The drift monitor's BINNING head — (event_type, cohort, bin) per
    * event, shared verbatim by the batch row and the streaming store
    * builder so the two can't drift: cohort by the cutoff timestamp,
    * the constructed ×1.5 purchase shift on the current cohort, then
    * the fixed-width IEEE divide+floor bin.
    */
  private[graft] def driftBinned(e: DataFrame): DataFrame =
    driftBinnedTs(e).drop("ts")

  /** [[driftBinned]] keeping the event timestamp — the form the
    * WATERMARKED drift monitor needs, where the cohorts are event-time
    * windows rather than a per-row cutoff flag. One definition serves
    * both so batch and stream cannot disagree on the shift or the bin
    * grid.
    */
  private[graft] def driftBinnedTs(e: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = carry.map(col)
    e.select(Seq(col("ts"), col("event_type"),
        when(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"), 0L)
          .otherwise(1L).as("cohort"), col("value")) ++ keep: _*)
      .select(Seq(col("ts"), col("event_type"), col("cohort"),
        when(col("cohort") === 1L && col("event_type") === "purchase",
          col("value") * 1.5).otherwise(col("value")).as("v")) ++ keep: _*)
      .select(Seq(col("ts"), col("event_type"), col("cohort"),
        least(floor(col("v") / 50.0), lit(9.0)).cast("long").as("bin")) ++
        keep: _*)
  }

  /** The drift monitor's PSI TAIL over a (event_type, bin, n0, n1)
    * counts table — dense bins, Laplace smoothing, snapped ln terms
    * (numerics documented on [[qDriftPsi]]). Shared by the batch row and
    * the streaming fold, whose counts are equal by count linearity.
    */
  private[graft] def driftPsiFromCounts(counts: DataFrame): DataFrame = {
    val nBins = 10
    // dense bin frame: empty bins still carry their smoothed mass
    val bins = counts.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0L), lit(nBins - 1L))).as("bin"))
    // both joins are bookkeeping-sized (types × bins cells) but sit
    // downstream of aggregates whose size estimates are unknown — without
    // the explicit hints a narrow session plans them sort-merge (caught by
    // the PlanAuditSpec pin)
    val f = bins.join(broadcast(counts), Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        coalesce(col("n0"), lit(0L)).as("n0"),
        coalesce(col("n1"), lit(0L)).as("n1"))
    val tot = f.groupBy(col("event_type"))
      .agg(sum(col("n0")).as("t0"), sum(col("n1")).as("t1"))
    val G = 65536.0 // 2^16
    val terms = f.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("t0"), col("t1"),
        ((col("n0") + 1L).cast("double") / (col("t0") + lit(nBins.toLong)))
          .as("p"),
        ((col("n1") + 1L).cast("double") / (col("t1") + lit(nBins.toLong)))
          .as("q"))
    terms.groupBy(col("event_type"))
      .agg(max(col("t0")).as("n_before"), max(col("t1")).as("n_after"),
        sum(floor((col("p") - col("q")) * log(col("p") / col("q")) * G) / G)
          .as("psi"))
      .orderBy(col("event_type"))
  }

  /** SLIDING (hopping) windows — 2-hour windows every hour, so each
    * event lands in exactly two overlapping windows (r13; the tumbling
    * row's overlap twin): the smoothing shape monitoring dashboards use.
    * Same partial-aggregated one-shuffle plan as tumbling — the window
    * expression expands each row to its two buckets map-side.
    */
  def qWindowSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        decSum2(col("value")).cast("double").as("total_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n_events"), col("total_value"))
      .orderBy(col("bucket"), col("event_type"))

  /** Kolmogorov–Smirnov drift statistic over the binned ECDF (r13 — the
    * PSI monitor's nonparametric sibling): D = max over the 10-bin grid
    * of |F0(bin) − F1(bin)| between the baseline and current cohorts,
    * same constructed ×1.5 purchase shift, same dense-bin discipline.
    * Numerics: each CDF value is ONE IEEE long/long division (correctly
    * rounded in both engines), the difference and max are exact — no
    * snapping needed, unlike PSI's ln terms. Plan: the (type, bin)
    * partial-agg shuffle plus a 50-row window over the dense grid —
    * bookkeeping-sized, rows never sort.
    */
  def qDriftKs(spark: SparkSession, dir: String): DataFrame = {
    val counts = driftBinned(Tables.events(spark, dir))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(when(col("cohort") === 0L, 1)).as("n0"),
        count(when(col("cohort") === 1L, 1)).as("n1"))
    val bins = counts.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0L), lit(9L))).as("bin"))
    val f = bins.join(broadcast(counts), Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        coalesce(col("n0"), lit(0L)).as("n0"),
        coalesce(col("n1"), lit(0L)).as("n1"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = f.select(col("event_type"), col("n0"), col("n1"),
      sum(col("n0")).over(w).as("c0"), sum(col("n1")).over(w).as("c1"))
    val tot = f.groupBy(col("event_type"))
      .agg(sum(col("n0")).as("t0"), sum(col("n1")).as("t1"))
    cum.join(broadcast(tot), "event_type")
      .select(col("event_type"), col("t0"), col("t1"),
        abs(col("c0").cast("double") / col("t0") -
          col("c1").cast("double") / col("t1")).as("d"))
      .groupBy(col("event_type"))
      .agg(max(col("t0")).as("n_before"), max(col("t1")).as("n_after"),
        max(col("d")).as("ks"))
      .orderBy(col("event_type"))
  }

  /** SKEW-MITIGATION EVIDENCE (round-11 verdict #5) — the
    * q_zorder_skipping discipline applied to shuffle skew: for the
    * pathological 5-value `event_type` join key, COMPUTE what each
    * mitigation's reduce-side distribution would be, as pure functions of
    * the data the oracle replays exactly:
    *
    *   - `1_unsalted`   — one reduce unit per key: at most 5 active
    *     reducers on any cluster, max unit = the hottest key's rows.
    *   - `2_aqe_split`  — AQE's OptimizeSkewedJoin splits an oversized
    *     partition into advisory-sized chunks and replicates the matching
    *     build side; modeled as ceil(rows/65536)-way chunking per key
    *     (the row-domain image of the byte-domain advisory split).
    *   - `3_salted_8`   — explicit 8-way salting (ops.Salting): every key
    *     becomes 8 units; modeled with the deterministic salt
    *     event_id % 8 so the oracle can replay the exact distribution.
    *
    * `skew_ratio` = max_unit_rows × units ÷ total — 1.0 is perfect
    * balance; the unsalted row's ratio is the slowest-reducer multiplier
    * an unmitigated 100 TB join would pay. Alongside the simulated
    * distributions, the row also EXECUTES the real salted join
    * (shuffle_hash, so the salt governs partitioning) and carries its
    * result aggregate — mitigation must be invisible in values, so the
    * oracle's n_rows/n_above come from the plain unsalted join. The
    * RUNTIME half of the evidence (AQE actually splitting a skewed
    * partition into more tasks) is pinned by SkewSpec, where executed-plan
    * markers are observable; task timings aren't hash-stable, simulated
    * distributions are.
    */
  def qSkewEvidence(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = e.groupBy(col("event_type"))
      .agg(decAvg(col("value")).as("type_avg"))
    val res = graft.ops.Salting.saltedJoin(
        e, stats.hint("shuffle_hash"), "event_type", salts = 8)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(coalesce(col("value"), lit(0.0)) > col("type_avg"), 1L)
          .otherwise(0L)).as("n_above"))
    val perKey = e.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val total = perKey.agg(sum(col("n")).as("total"))
    val u1 = perKey
      .agg(count(lit(1)).as("units"), max(col("n")).as("max_unit_rows"))
      .select(lit("1_unsalted").as("strategy"), col("units"),
        col("max_unit_rows"))
    val u2 = perKey
      .select(col("n"), expr("(n - 1) div 65536 + 1").as("chunks"))
      .agg(sum(col("chunks")).as("units"),
        max(expr("(n + chunks - 1) div chunks")).as("max_unit_rows"))
      .select(lit("2_aqe_split").as("strategy"), col("units"),
        col("max_unit_rows"))
    val u3 = e
      .groupBy(col("event_type"), pmod(col("event_id"), lit(8L)).as("salt"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("units"), max(col("n")).as("max_unit_rows"))
      .select(lit("3_salted_8").as("strategy"), col("units"),
        col("max_unit_rows"))
    u1.unionByName(u2).unionByName(u3)
      .crossJoin(broadcast(total))
      .crossJoin(broadcast(res))
      .select(col("strategy"), col("units"), col("max_unit_rows"),
        ((col("max_unit_rows") * col("units")).cast("double") / col("total"))
          .as("skew_ratio"),
        col("n_rows"), col("n_above"))
      .orderBy(col("strategy"))
  }

  /** FORECAST BACKTEST (round 15c — the evaluation op a forecasting
    * pipeline needs before any model earns production traffic: score a
    * baseline forecaster against history and report per-series error).
    * Forecaster = seasonal naive (tomorrow looks like the same weekday
    * last week, f_t = v_(t-7)) — THE baseline every paper scores against;
    * metric = sMAPE (symmetric, scale-free, defined when v and f differ
    * in magnitude). Day-grain per type, 7-day warmup dropped.
    *
    * Exactness: daily values are exact decimal sums cast once; each
    * day's sMAPE term 2·|v−f|/(v+f) is IEEE-deterministic but SUMMING
    * raw terms would be reduction-order-dependent — each term is snapped
    * to the 2^-16 grid first (the BM25/entropy discipline), making the
    * sum exact and the mean one final division. The worst day is an
    * argmax over (term, day) — comparison-only, bit-deterministic.
    * Same calendar-bounded window-safety argument as the EWMA row.
    */
  def qForecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(decSum2(col("value")).cast("double").as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val scored = daily
      .select(col("event_type"), col("day"), col("v"),
        lag(col("v"), 7).over(w).as("f"),
        row_number().over(w).as("rn"))
      .filter(col("rn") > 7)
      .select(col("event_type"), col("day"), col("v"), col("f"),
        (floor(lit(2.0) * abs(col("v") - col("f")) /
          (col("v") + col("f")) * lit(65536.0)) / lit(65536.0))
          .as("term"))
    val worst = Window.partitionBy(col("event_type"))
      .orderBy(col("term").desc, col("day"))
    scored
      .select(col("event_type"), col("day"), col("term"),
        row_number().over(worst).as("wrk"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_scored"),
        (sum(col("term")) / count(lit(1)).cast("double")).as("smape"),
        max(when(col("wrk") === 1, col("day"))).as("worst_day"),
        max(when(col("wrk") === 1, col("term"))).as("worst_term"))
      .orderBy(col("event_type"))
  }

  /** INTERVAL MERGE (round 15c — the coverage-span operator beside the
    * sweep-line COUNT of q_concurrency: not "how many intervals overlap"
    * but "what is the merged footprint"): each event opens a 30-minute
    * activity interval; overlapping or touching intervals per user
    * coalesce into maximal spans (the classic stitching step before
    * computing true active time, SLA coverage, or visit blocks —
    * a naive SUM of interval lengths double-counts every overlap).
    *
    * One user-partitioned ordered window does it all: a span BREAK is a
    * start strictly greater than the running max of all previous ends
    * (running max, not lag — an early long interval can swallow several
    * later short ones), and a running sum of break flags numbers the
    * spans; one groupBy then emits (start, end, events, exact seconds).
    * All timestamps stay in exact long microseconds — no float anywhere.
    * Scale: the one user_id exchange the journey family shares; at
    * 100 TB events are pre-bucketed by user and this is shuffle-free.
    */
  def qIntervalMerge(spark: SparkSession, dir: String): DataFrame = {
    val winMicros = 30L * 60 * 1000000
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("s"))
      .withColumn("e", col("s") + lit(winMicros))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("s"), col("event_id"))
    val prevMaxEnd = max(col("e")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = e.select(col("user_id"), col("event_id"), col("s"),
      col("e"),
      when(prevMaxEnd.isNull || col("s") > prevMaxEnd, 1L)
        .otherwise(0L).as("brk"))
    flagged
      .select(col("user_id"), col("s"), col("e"),
        sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)).as("span_id"))
      .groupBy(col("user_id"), col("span_id"))
      .agg(min(col("s")).as("span_start_us"),
        max(col("e")).as("span_end_us"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("span_id"),
        timestamp_micros(col("span_start_us")).as("span_start"),
        timestamp_micros(col("span_end_us")).as("span_end"),
        col("n_events"),
        expr("(span_end_us - span_start_us) div 1000000")
          .as("span_seconds"))
      .orderBy(col("user_id"), col("span_id"))
  }

  /** CUSUM change-point detection (round 15c — the sequential sibling of
    * the EWMA chart: EWMA flags single-day spikes, CUSUM accumulates
    * SMALL persistent shifts until they cross a decision threshold — the
    * classic upward-shift detector for "the metric quietly drifted up
    * 10% a week ago"). The recurrence S_t = max(0, S_(t-1) + d_t) is not
    * window-expressible directly, but the classical identity
    *
    *   S_t = P_t − min(0, min_(j≤t) P_j),   P = prefix sum of d
    *
    * turns it into TWO stock windows (running sum + running min) over
    * the day-grain frame. Exactness discipline: deviations are SCALED to
    * stay integral — d_t = n·v_t − T (n = days in the series, T = the
    * series total), so prefix sums, running mins and the alarm
    * comparison 2·S > n·h̃ all run in the EXACT decimal domain with NO
    * division or ln anywhere; the one double cast happens at emission.
    * Alarm threshold h̃ = T/2 in scaled units (2·S_t > n·... folded to
    * the division-free form 2·S_t > T·1, i.e. S exceeds half the grand
    * mean × n). Same calendar-bounded window-safety argument as the
    * EWMA row.
    */
  def qCusumShift(spark: SparkSession, dir: String): DataFrame =
    cusumFromDaily(Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(decSum2(col("value")).as("v")))

  /** The CUSUM tail over a (event_type, day, v: decimal(18,2)) frame —
    * shared VERBATIM by the batch row and [[graft.queries.StreamQueries
    * .qStreamCusum]]'s store fold, so stream and batch cannot disagree
    * on the recurrence, the scaling, or the alarm rule.
    */
  def cusumFromDaily(daily: DataFrame): DataFrame = {
    val perType = Window.partitionBy(col("event_type"))
    val ordered = perType.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scaled = daily.select(col("event_type"), col("day"), col("v"),
      count(lit(1)).over(perType).as("n_days"),
      sum(col("v")).over(perType).as("total"))
    val p = (sum(col("v") * col("n_days")).over(ordered) -
      col("total") * row_number().over(perType.orderBy(col("day"))))
    val withP = scaled.select(col("event_type"), col("day"), col("v"),
      col("total"), p.as("p"))
    val runMin = min(col("p")).over(
      Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    withP.select(col("event_type"), col("day"),
        col("v").cast("double").as("v"),
        (col("p") - least(lit(0), runMin)).cast("double").as("cusum_scaled"),
        ((col("p") - least(lit(0), runMin)) * lit(2) > col("total"))
          .cast("long").as("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  /** EWMA control chart over a metric time series (round 15c): the
    * monitoring op that watches a pipeline's own health — forecast each
    * day's per-type event value as a truncated exponentially-weighted
    * average of the previous eight days and flag the days whose actuals
    * deviate past a tolerance band (the data-quality/drift alert shape:
    * volume collapse, value spike).
    *
    * Engine shape: the chart runs over the AGGREGATED day-grain series,
    * never the raw fact — the groupBy collapses the firehose in one
    * shuffled pass (exact decimal partial sums), and the per-type window
    * then orders a calendar-bounded frame (≤ days × types rows at ANY
    * scale factor; the q_period_over_period argument for why an
    * unsalted per-type window is safe here and nowhere else).
    *
    * Exactness: daily value = exact DECIMAL(18,2) sum cast once; the
    * forecast's weights are compile-time dyadic literals 2^-1..2^-7 plus
    * a tail 2^-7 (they sum to exactly 1), each product is an exact
    * power-of-two scaling, and the eight-term sum is written as one
    * fixed LEFT-ASSOCIATIVE expression tree — IEEE addition is
    * deterministic, so both engines round identically at every node.
    * Deviation is one subtract; the alert flag compares |dev| against
    * an exact 2^-2 multiple of the forecast. No snapping needed.
    */
  def qEwmaAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(decSum2(col("value")).cast("double").as("v"),
        count(lit(1)).as("n_events"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    // w_k = 2^-k for k=1..7, tail w_8 = 2^-7: Σ w_k = 1 exactly
    val terms = (1 to 8).map { k =>
      val wk = 1.0 / (1L << math.min(k, 7))
      lag(col("v"), k).over(w) * lit(wk)
    }
    val forecast = terms.reduceLeft(_ + _) // left-assoc, mirrored in SQL
    daily
      .select(col("event_type"), col("day"), col("v"), col("n_events"),
        forecast.as("forecast"),
        row_number().over(w).as("rn"))
      .filter(col("rn") > 8)
      .select(col("event_type"), col("day"), col("v"), col("n_events"),
        col("forecast"),
        (col("v") - col("forecast")).as("deviation"),
        (abs(col("v") - col("forecast")) >
          col("forecast") * lit(0.25)).cast("long").as("is_alert"))
      .orderBy(col("event_type"), col("day"))
  }

  // ---- Registry rows and their DuckDB oracles ----

  /** The q_scd2_history oracle; q_stream_scd2 replays it verbatim. */
  private[graft] def scd2HistoryOracle: String =
    """WITH e AS (SELECT user_id, ts, event_type, event_id,
      |    lag(event_type) OVER w AS prev,
      |    row_number() OVER w AS rn
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |ch AS (SELECT user_id, ts AS valid_from, event_type, event_id
      |  FROM e WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
      |SELECT user_id, event_type, valid_from,
      |  lead(valid_from) OVER w2 AS valid_to,
      |  CAST(row_number() OVER w2 AS BIGINT) AS version,
      |  (lead(valid_from) OVER w2) IS NULL AS is_current
      |FROM ch
      |WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** The 30-minute gap sessionization over `e` (user_id, event_id,
    * ts_us): `f` flags each session's first event, `n` numbers each
    * user's sessions in (ts_us, event_id) order. */
  private[graft] val sessionSeqCtes =
    """f AS (SELECT *, CASE
      |    WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
      |    WHEN lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |n AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
      |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM f)""".stripMargin

  /** The q_sessionize oracle; q_stream_sessionize replays it over its
    * coalesced value column. */
  private[graft] def sessionizeOracle(value: String): String =
    s"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
      |$sessionSeqCtes
      |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
      |  COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  CAST(SUM(CAST($value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM n GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** The q_window_tumbling oracle; q_stream_window replays it over its
    * coalesced value column. */
  private[graft] def windowTumblingOracle(value: String): String =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
      |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST($value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The q_range_join oracle (`join` = "JOIN"); q_stream_attribution
    * replays it verbatim, q_stream_outer_join as a "LEFT JOIN". */
  private[graft] def rangeJoinOracle(join: String): String =
    s"""WITH c AS (SELECT event_id AS click_id, user_id,
      |    CAST(ts AS TIMESTAMP) AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |p AS (SELECT event_id AS purchase_id, user_id AS p_user,
      |    CAST(ts AS TIMESTAMP) AS p_ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT click_id, purchase_id, user_id
      |FROM c $join p ON user_id = p_user
      |  AND click_ts >= p_ts - INTERVAL 1 HOUR AND click_ts < p_ts
      |ORDER BY click_id, purchase_id""".stripMargin

  /** Per-(event_type, bin) cohort counts over `b` (event_type, cohort,
    * bin) and `bins` (every type × bin): `c` counts each cohort, `f`
    * fills the empty bins with zeros. */
  private[graft] val driftCountCtes =
    """c AS (SELECT event_type, bin,
      |    COUNT(*) FILTER (cohort = 0) AS n0,
      |    COUNT(*) FILTER (cohort = 1) AS n1
      |  FROM b GROUP BY 1, 2),
      |f AS (SELECT bins.event_type, bins.bin,
      |    coalesce(c.n0, 0) AS n0, coalesce(c.n1, 0) AS n1
      |  FROM bins LEFT JOIN c
      |    ON bins.event_type = c.event_type AND bins.bin = c.bin)""".stripMargin

  /** PSI's add-one-smoothed bin shares over `f`: `tot` per-cohort
    * totals, `terms` each bin's (p, q). */
  private[graft] val psiTermsCtes =
    """tot AS (SELECT event_type, SUM(n0) AS t0, SUM(n1) AS t1
      |  FROM f GROUP BY 1),
      |terms AS (SELECT f.event_type, tot.t0, tot.t1,
      |    CAST(f.n0 + 1 AS DOUBLE) / (tot.t0 + 10) AS p,
      |    CAST(f.n1 + 1 AS DOUBLE) / (tot.t1 + 10) AS q
      |  FROM f JOIN tot USING (event_type))""".stripMargin

  /** The batch drift rows' binned cohorts: `e` (cohort 1 from
    * 2024-01-16, purchases scaled ×1.5), `b` (value bins of width 50,
    * capped at 9), `bins`, then [[driftCountCtes]]. */
  private val driftBinCtes =
    s"""e AS (SELECT event_type,
      |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END AS cohort,
      |    CASE WHEN ts >= TIMESTAMP '2024-01-16' AND event_type = 'purchase'
      |      THEN value * 1.5 ELSE value END AS v
      |  FROM events),
      |b AS (SELECT event_type, cohort,
      |    CAST(least(floor(v / 50.0), 9) AS BIGINT) AS bin FROM e),
      |bins AS (SELECT DISTINCT event_type, unnest(range(10)) AS bin FROM b),
      |$driftCountCtes""".stripMargin

  /** The q_drift_psi oracle; q_stream_drift replays it verbatim.
    * PSI terms snapped to the 2^-16 grid pre-sum (the BM25 ln
    * discipline); binning is IEEE divide+floor, identical both engines
    */
  private[graft] def driftPsiOracle: String =
    s"""WITH $driftBinCtes,
      |$psiTermsCtes
      |SELECT event_type, CAST(max(t0) AS BIGINT) AS n_before,
      |  CAST(max(t1) AS BIGINT) AS n_after,
      |  SUM(floor((p - q) * ln(p / q) * 65536.0) / 65536.0) AS psi
      |FROM terms GROUP BY 1 ORDER BY event_type""".stripMargin

  /** The q_cusum_shift oracle; q_stream_cusum replays it verbatim.
    * the whole CUSUM pipeline is exact decimal arithmetic (scaled
    * deviations n·v − T avoid every division); the only IEEE op is the
    * emission cast, identical on identical exact values. Every DuckDB
    * multiply is width-bounded by explicit casts — an over-38-digit
    * decimal product silently promotes to DOUBLE there, which would
    * smuggle float arithmetic into the "exact" pipeline (ulp drift on
    * ~39 rows before the fix)
    */
  private[graft] def cusumShiftOracle: String =
    """WITH daily AS (SELECT event_type,
      |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    SUM(CAST(value AS DECIMAL(18,2))) AS v
      |  FROM events GROUP BY 1, 2),
      |s1 AS (SELECT event_type, day, v,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n_days,
      |    CAST(SUM(v) OVER (PARTITION BY event_type) AS DECIMAL(28,2))
      |      AS total FROM daily),
      |s2 AS (SELECT event_type, day, v, total,
      |    CAST(SUM(v * CAST(n_days AS DECIMAL(6,0))) OVER w
      |      - total * CAST(row_number() OVER w AS DECIMAL(8,0))
      |      AS DECIMAL(20,2)) AS p
      |  FROM s1 WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s3 AS (SELECT event_type, day, v, total,
      |    p - (CASE WHEN m < 0 THEN m ELSE CAST(0 AS DECIMAL(20,2)) END)
      |      AS s
      |  FROM (SELECT *, min(p) OVER w2 AS m FROM s2
      |    WINDOW w2 AS (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
      |SELECT event_type, day, CAST(v AS DOUBLE) AS v,
      |  CAST(s AS DOUBLE) AS cusum_scaled,
      |  CAST(s + s > total AS BIGINT) AS alarm
      |FROM s3 ORDER BY event_type, day""".stripMargin

  /** The as-of attribution sides: `p` the purchases, `c` the clicks
    * (one per user and timestamp, the highest event id). */
  private val asofSidesCtes =
    """p AS (SELECT event_id AS purchase_id, user_id,
      |    CAST(ts AS TIMESTAMP) AS purchase_ts
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS click_ts,
      |    max(event_id) AS click_event_id
      |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)""".stripMargin

  /** The EventQueries registry rows. */
  def defs: Seq[(String, QueryDef)] = Seq(
    "q_sessionize" -> fixed(qSessionize _)(sessionizeOracle("value")),
    "q_window_tumbling" -> fixed(qWindowTumbling _)(
      windowTumblingOracle("value")),
    "q_incremental_watermark" -> fixed(qIncrementalWatermark _)(
      """SELECT user_id, COUNT(*) AS n_new_events,
        |  MAX(CAST(ts AS TIMESTAMP)) AS latest_ts
        |FROM events WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
    "q_asof_attribution" -> fixed(qAsofAttribution _)(
      s"""WITH $asofSidesCtes
        |SELECT purchase_id, user_id, purchase_ts, click_event_id, click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.c_user AND p.purchase_ts >= c.click_ts
        |ORDER BY purchase_id""".stripMargin),
    // tolerance = null out matches staler than 1h (merge_asof semantics)
    "q_asof_tolerance" -> fixed(qAsofTolerance _)(
      s"""WITH $asofSidesCtes,
        |j AS (SELECT purchase_id, user_id, purchase_ts, click_event_id, click_ts
        |  FROM p ASOF LEFT JOIN c
        |    ON p.user_id = c.c_user AND p.purchase_ts >= c.click_ts)
        |SELECT purchase_id, user_id, purchase_ts,
        |  CASE WHEN click_ts >= purchase_ts - INTERVAL 1 HOUR
        |    THEN click_event_id END AS click_event_id,
        |  CASE WHEN click_ts >= purchase_ts - INTERVAL 1 HOUR
        |    THEN click_ts END AS click_ts
        |FROM j ORDER BY purchase_id""".stripMargin),
    // SCD2 windows: change rows by null-safe lag compare, intervals by
    // lead, versions by row_number — all over (ts, event_id) per user
    // PIT enrichment: the dim is the SCD2 history of NON-purchase events;
    // ASOF LEFT JOIN picks the version current at purchase time (>= —
    // matching the engine's right-before-left sort at equal ts)
    "q_pit_join" -> fixed(qPitJoin _)(
      """WITH s AS (SELECT user_id, ts, event_type, event_id FROM events
        |  WHERE event_type <> 'purchase'),
        |e2 AS (SELECT user_id, ts, event_type, event_id,
        |    lag(event_type) OVER w AS prev, row_number() OVER w AS rn
        |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |ch AS (SELECT user_id, ts AS valid_from, event_type, event_id
        |  FROM e2 WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |hist AS (SELECT user_id, event_type AS state_at_purchase,
        |    valid_from,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY valid_from, event_id) AS BIGINT) AS dim_version
        |  FROM ch),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT purchase_id, p.user_id, state_at_purchase, dim_version
        |FROM p ASOF LEFT JOIN hist
        |  ON p.user_id = hist.user_id AND p.purchase_ts >= hist.valid_from
        |ORDER BY purchase_id""".stripMargin),
    "q_range_join" -> fixed(qRangeJoin _)(rangeJoinOracle("JOIN")),
    "q_attribution_linear" -> fixed(qAttributionLinear _)(
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |    CAST(ts AS TIMESTAMP) AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, value AS p_value,
        |    CAST(ts AS TIMESTAMP) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT click_id, purchase_id, user_id, p_value
        |  FROM c JOIN p ON user_id = p_user
        |    AND click_ts >= p_ts - INTERVAL 1 HOUR AND click_ts < p_ts)
        |SELECT click_id, purchase_id, user_id,
        |  p_value / COUNT(*) OVER (PARTITION BY purchase_id) AS credit
        |FROM j ORDER BY click_id, purchase_id""".stripMargin),
    "q_salted_join" -> fixed(qSaltedJoin _)(
      """WITH stats AS (SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS type_avg
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, COALESCE(value, 0.0) AS value, type_avg,
        |  COALESCE(value, 0.0) > type_avg AS above_avg
        |FROM events e JOIN stats USING (event_type)
        |ORDER BY event_id""".stripMargin),
    // skew evidence: the reduce-unit distributions are pure functions of
    // the data (per-key counts; ceil-chunking; the deterministic
    // event_id % 8 salt), and the n_rows/n_above invariance columns come
    // from the PLAIN join — mitigation must be invisible in values
    "q_skew_evidence" -> fixed(qSkewEvidence _)(
      """WITH stats AS (SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS type_avg
        |  FROM events GROUP BY event_type),
        |res AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN COALESCE(value, 0.0) > type_avg
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |  FROM events e JOIN stats USING (event_type)),
        |pk AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM pk),
        |u1 AS (SELECT '1_unsalted' AS strategy,
        |    CAST(COUNT(*) AS BIGINT) AS units,
        |    CAST(MAX(n) AS BIGINT) AS max_unit_rows FROM pk),
        |c2 AS (SELECT n, (n - 1) // 65536 + 1 AS chunks FROM pk),
        |u2 AS (SELECT '2_aqe_split' AS strategy,
        |    CAST(SUM(chunks) AS BIGINT) AS units,
        |    CAST(MAX((n + chunks - 1) // chunks) AS BIGINT) AS max_unit_rows
        |  FROM c2),
        |u3 AS (SELECT '3_salted_8' AS strategy,
        |    CAST(COUNT(*) AS BIGINT) AS units,
        |    CAST(MAX(n) AS BIGINT) AS max_unit_rows
        |  FROM (SELECT event_type, event_id % 8 AS salt, COUNT(*) AS n
        |    FROM events GROUP BY 1, 2)),
        |u AS (SELECT * FROM u1 UNION ALL SELECT * FROM u2
        |  UNION ALL SELECT * FROM u3)
        |SELECT strategy, units, max_unit_rows,
        |  CAST(max_unit_rows * units AS DOUBLE) / total AS skew_ratio,
        |  n_rows, n_above
        |FROM u, tot, res ORDER BY strategy""".stripMargin),
    // sliding windows: each event expands to its two hour-aligned
    // 2h-window starts
    "q_window_sliding" -> fixed(qWindowSliding _)(
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |    FROM events),
        |b AS (SELECT unnest([date_trunc('hour', ts),
        |    date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS bucket,
        |    event_type, value FROM e)
        |SELECT bucket, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // binned-ECDF KS: every CDF value is one long/long IEEE division
    // (correctly rounded both engines), diff and max exact — no snapping
    "q_drift_ks" -> fixed(qDriftKs _)(
      s"""WITH $driftBinCtes,
        |cum AS (SELECT event_type, bin, n0, n1,
        |    SUM(n0) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS c0,
        |    SUM(n1) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS c1
        |  FROM f),
        |tot AS (SELECT event_type, CAST(SUM(n0) AS BIGINT) AS t0,
        |    CAST(SUM(n1) AS BIGINT) AS t1 FROM f GROUP BY 1)
        |SELECT cum.event_type, CAST(max(t0) AS BIGINT) AS n_before,
        |  CAST(max(t1) AS BIGINT) AS n_after,
        |  max(abs(CAST(c0 AS DOUBLE) / t0 - CAST(c1 AS DOUBLE) / t1)) AS ks
        |FROM cum JOIN tot USING (event_type)
        |GROUP BY cum.event_type ORDER BY cum.event_type""".stripMargin),
    "q_lead_lag" -> fixed(qLeadLag _)(
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events)
        |SELECT event_id, user_id, ts,
        |  epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS us_since_prev,
        |  epoch_us(lead(ts, 1) OVER w) - epoch_us(ts) AS us_to_next,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS first_event
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin),
    // ROWS frames over the unique (ts, event_id) order; decimal frame sums
    // cast to double at the end
    "q_rolling_features" -> fixed(qRollingFeatures _)(
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events)
        |SELECT event_id, user_id,
        |  COUNT(*) OVER w5 AS roll_n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w5 AS DOUBLE) AS roll_sum,
        |  MIN(value) OVER w5 AS roll_min,
        |  MAX(value) OVER w5 AS roll_max,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER wc AS DOUBLE) AS cum_value
        |FROM e WINDOW
        |  w5 AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |  wc AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING)
        |ORDER BY event_id""".stripMargin),
    // top-10 heavy keys; deterministic tiebreak (count desc, key asc);
    // share = exact-int / exact-int
    "q_skew_profile" -> fixed(qSkewProfile _)(
      """WITH per AS (SELECT user_id, COUNT(*) AS n_events
        |  FROM events GROUP BY user_id),
        |t AS (SELECT COUNT(*) AS total FROM events)
        |SELECT user_id, n_events, CAST(n_events AS DOUBLE) / total AS share
        |FROM per CROSS JOIN t
        |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin),
    "q_scd2_history" -> fixed(qScd2History _)(scd2HistoryOracle),
    // RANGE-frame replay: frame key = epoch micros on both engines
    // (events.ts is micros after the nanos truncation both loaders do)
    "q_rolling_time" -> fixed(qRollingTime _)(
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    value FROM events)
        |SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin),
    // sweep-line concurrency: closed-open [s, s+30min) intervals, boundary
    // rows combined per (type, t), running sum = count(start<=t)-count(end<=t)
    // — equal-timestamp order can't matter, so both engines agree exactly
    "q_concurrency" -> fixed(qConcurrency _)(
      """WITH iv AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS s,
        |    CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS en FROM events),
        |b AS (SELECT event_type, s AS t, 1 AS d FROM iv
        |  UNION ALL SELECT event_type, en, -1 FROM iv),
        |g AS (SELECT event_type, t, SUM(d) AS net FROM b GROUP BY 1, 2),
        |r AS (SELECT event_type, t,
        |    SUM(net) OVER (PARTITION BY event_type ORDER BY t) AS active
        |  FROM g),
        |m AS (SELECT event_type, MAX(active) AS mx FROM r GROUP BY 1),
        |base AS (SELECT event_type, COUNT(*) AS n_intervals
        |  FROM events GROUP BY 1)
        |SELECT base.event_type, n_intervals,
        |  CAST(m.mx AS BIGINT) AS max_concurrent, MIN(r.t) AS peak_ts
        |FROM base JOIN m USING (event_type) JOIN r USING (event_type)
        |WHERE r.active = m.mx
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin),
    // PSI terms snapped to the 2^-16 grid pre-sum (the BM25 ln
    // discipline); binning is IEEE divide+floor, identical both engines
    "q_drift_psi" -> fixed(qDriftPsi _)(driftPsiOracle),
    // weights are exact dyadic literals (1/2^k); credit is one IEEE
    // multiply — engine-exact, per-pair rows, no cross-row double sum
    "q_attribution_decay" -> fixed(qAttributionDecay _)(
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type, value,
        |    lag(event_id, 1) OVER w AS t1, lag(event_type, 1) OVER w AS y1,
        |    lag(event_id, 2) OVER w AS t2, lag(event_type, 2) OVER w AS y2,
        |    lag(event_id, 3) OVER w AS t3, lag(event_type, 3) OVER w AS y3,
        |    lag(event_id, 4) OVER w AS t4, lag(event_type, 4) OVER w AS y4
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |    value AS p_value,
        |    unnest([t1, t2, t3, t4]) AS touch_id,
        |    unnest([y1, y2, y3, y4]) AS touch_type,
        |    unnest([1, 2, 3, 4]) AS k,
        |    unnest([0.5, 0.25, 0.125, 0.0625]) AS weight
        |  FROM e WHERE event_type = 'purchase')
        |SELECT purchase_id, user_id, touch_id, touch_type,
        |  CAST(k AS BIGINT) AS k, CAST(weight AS DOUBLE) AS weight,
        |  p_value * CAST(weight AS DOUBLE) AS credit
        |FROM p WHERE touch_id IS NOT NULL
        |ORDER BY purchase_id, k""".stripMargin),
    // daily v is an exact decimal sum cast once; the forecast's dyadic
    // weights are exact power-of-two scalings and the eight-term sum is
    // the SAME left-associative tree in both engines — IEEE addition is
    // deterministic, so every node rounds identically; no snapping
    "q_ewma_anomaly" -> fixed(qEwmaAnomaly _)(
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, v, n_events,
        |    lag(v,1) OVER w AS l1, lag(v,2) OVER w AS l2,
        |    lag(v,3) OVER w AS l3, lag(v,4) OVER w AS l4,
        |    lag(v,5) OVER w AS l5, lag(v,6) OVER w AS l6,
        |    lag(v,7) OVER w AS l7, lag(v,8) OVER w AS l8,
        |    row_number() OVER w AS rn
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |f AS (SELECT event_type, day, v, n_events,
        |    l1 * CAST(0.5 AS DOUBLE) + l2 * CAST(0.25 AS DOUBLE)
        |      + l3 * CAST(0.125 AS DOUBLE) + l4 * CAST(0.0625 AS DOUBLE)
        |      + l5 * CAST(0.03125 AS DOUBLE) + l6 * CAST(0.015625 AS DOUBLE)
        |      + l7 * CAST(0.0078125 AS DOUBLE)
        |      + l8 * CAST(0.0078125 AS DOUBLE) AS forecast
        |  FROM l WHERE rn > 8)
        |SELECT event_type, day, v, n_events, forecast,
        |  v - forecast AS deviation,
        |  CAST(abs(v - forecast) > forecast * CAST(0.25 AS DOUBLE)
        |    AS BIGINT) AS is_alert
        |FROM f ORDER BY event_type, day""".stripMargin),
    // the whole CUSUM pipeline is exact decimal arithmetic (scaled
    // deviations n·v − T avoid every division); the only IEEE op is the
    // emission cast, identical on identical exact values. Every DuckDB
    // multiply is width-bounded by explicit casts — an over-38-digit
    // decimal product silently promotes to DOUBLE there, which would
    // smuggle float arithmetic into the "exact" pipeline (ulp drift on
    // ~39 rows before the fix)
    "q_cusum_shift" -> fixed(qCusumShift _)(cusumShiftOracle),
    // all timestamps in exact long microseconds; the break flag uses the
    // running max of PREVIOUS ends (an early long interval swallows
    // later short ones — lag(e) would split spans it covers)
    "q_interval_merge" -> fixed(qIntervalMerge _)(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 1800000000 AS e FROM events),
        |f AS (SELECT user_id, event_id, s, e,
        |    CASE WHEN max(e) OVER pw IS NULL OR s > max(e) OVER pw
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW pw AS (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |g AS (SELECT user_id, s, e,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS span_id FROM f)
        |SELECT user_id, CAST(span_id AS BIGINT) AS span_id,
        |  make_timestamp(min(s)) AS span_start,
        |  make_timestamp(max(e)) AS span_end,
        |  COUNT(*) AS n_events,
        |  (max(e) - min(s)) // 1000000 AS span_seconds
        |FROM g GROUP BY user_id, span_id
        |ORDER BY user_id, span_id""".stripMargin),
    // per-day sMAPE terms snapped to the 2^-16 grid pre-sum (exact,
    // order-free); the mean is one final division; worst day is a
    // comparison-only argmax
    "q_forecast_backtest" -> fixed(qForecastBacktest _)(
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, v, lag(v, 7) OVER w AS f,
        |    row_number() OVER w AS rn
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |t AS (SELECT event_type, day,
        |    floor(CAST(2 AS DOUBLE) * abs(v - f) / (v + f)
        |      * CAST(65536 AS DOUBLE)) / CAST(65536 AS DOUBLE) AS term
        |  FROM l WHERE rn > 7),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY term DESC, day) AS wrk FROM t)
        |SELECT event_type, COUNT(*) AS n_scored,
        |  SUM(term) / CAST(COUNT(*) AS DOUBLE) AS smape,
        |  MAX(CASE WHEN wrk = 1 THEN day END) AS worst_day,
        |  MAX(CASE WHEN wrk = 1 THEN term END) AS worst_term
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin),
  )
}
