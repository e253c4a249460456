package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.QueryDef
import graft.QueryDef.{fixed}
import graft.ops.Agg._
import graft.sources.Tables

/** User-journey analytics over the events stream: ordered-step funnels,
  * cohort retention, and calendar gap-fill — the product-analytics layer the
  * reference's Kibana dashboards imply (index_to_es.py feeds dashboards;
  * these are the standard queries behind them, re-expressed as Spark plans).
  *
  * Scale shape shared by all three: everything is keyed by `user_id`, so ONE
  * shuffle on user_id serves every window/aggregate; at 100 TB an events
  * table bucketed by user_id makes the whole family exchange-free.
  */
object JourneyQueries {

  /** Ordered three-step funnel signup → click → purchase: each step must
    * happen at-or-after the previous step's FIRST occurrence (the strict
    * product-funnel rule, not mere set membership). Three chained
    * whole-partition window minima over the SAME user_id partitioning —
    * Catalyst plans one exchange and three WindowExec passes, no joins, no
    * second shuffle. The final per-user collapse reuses the partitioning.
    */
  def qFunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val w = Window.partitionBy(col("user_id"))
    val staged = e
      .withColumn("signup_ts",
        min(when(col("event_type") === "signup", col("ts"))).over(w))
      .withColumn("first_click_ts",
        min(when(col("event_type") === "click" &&
          col("ts") >= col("signup_ts"), col("ts"))).over(w))
      .withColumn("first_purchase_ts",
        min(when(col("event_type") === "purchase" &&
          col("ts") >= col("first_click_ts"), col("ts"))).over(w))
    staged
      .groupBy(col("user_id"))
      .agg(
        max(col("signup_ts")).as("signup_ts"),
        max(col("first_click_ts")).as("first_click_ts"),
        max(col("first_purchase_ts")).as("first_purchase_ts"))
      .filter(col("signup_ts").isNotNull)
      .withColumn("stage",
        when(col("first_purchase_ts").isNotNull, "purchased")
          .when(col("first_click_ts").isNotNull, "clicked")
          .otherwise("signed_up"))
      .orderBy(col("user_id"))
  }

  /** Cohort retention matrix: users grouped by their first-activity day,
    * counted on each later day they return. retention = exact-int ÷
    * exact-int. The cohort-size side is tiny (one row per cohort day) →
    * broadcast.
    *
    * Plan shape: the fact path rides ONE user_id shuffle — an explicit
    * `repartition(user_id)` whose HashPartitioning satisfies the clustered
    * distribution of the (user_id, day) distinct, the per-user window
    * minimum AND the day-0 size derivation (vs the naive
    * distinct→groupBy→self-join form: three differently-keyed exchanges of
    * the full grid). The only other full-grid exchange is the final
    * (cohort, offset) cell aggregate, which partial-aggregates map-side
    * into #cohorts×#offsets groups. cohort = window min over the
    * partitioning; sizes = the grid rows where day == cohort_day (exactly
    * one per user — their first day), a branch that re-reads the scan but
    * counts only #cohorts rows.
    */
  def qRetentionCohort(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .repartition(col("user_id"))
      .distinct()
    val w = Window.partitionBy(col("user_id"))
    val grid = ud.withColumn("cohort_day", min(col("day")).over(w))
    retentionMatrix(grid.select(col("cohort_day"),
      // BIGINT offset: Spark's datediff is INT, DuckDB's is BIGINT — the
      // driver hash is type-sensitive (SURVEY §4), so widen here
      datediff(col("day"), col("cohort_day")).cast("long").as("day_offset")))
  }

  /** The retention matrix over activity cells, one per (user, active
    * day): n_active counts the cells per (cohort_day, day_offset),
    * cohort_size the offset-0 cells of the cohort (a user's first active
    * day is their cohort day). Shared by q_retention_cohort and its
    * stream twins q_stream_retention and q_stream_recovery. */
  private[graft] def retentionMatrix(cells: DataFrame): DataFrame = {
    val sizes = cells.filter(col("day_offset") === 0)
      .groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    cells
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("day_offset"), col("n_active"),
        col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size")).as("retention"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Calendar gap-fill + forward-fill: densify each user's daily activity to
    * a full date range (`sequence` explode — scan-side, no shuffle), then
    * carry the last observed daily total forward across the gaps
    * (`last(..., ignoreNulls)` over a running frame) and measure staleness.
    * This is the standard feature-store preparation for time-series models
    * (no gaps, explicit staleness). The explode fans out ~span rows per
    * user BEFORE the window shuffle, so reducers see the dense grid evenly.
    */
  def qGapFill(spark: SparkSession, dir: String): DataFrame =
    gapFill(Tables.events(spark, dir))

  /** Hard cap on the per-user densified span. The `sequence(d0, d1)`
    * explode emits span+1 rows per user with NO inherent bound: one user
    * with a 30-year span emits ~11k rows; ONE corrupt millennium timestamp
    * emits millions and can OOM a task. ~20 years of daily activity is the
    * ceiling of plausible real data — beyond it the cause is data
    * corruption, and the right behavior is the vec_quantize pattern: fail
    * LOUDLY at the offending row, not silently densify garbage.
    */
  val MaxGapFillSpanDays = 7305 // 20 years

  private[graft] def gapFill(events: DataFrame,
      maxSpanDays: Int = MaxGapFillSpanDays): DataFrame = {
    // ONE explicit user_id shuffle feeds everything: the daily aggregate,
    // the per-user span, the densify join (both sides co-partitioned from
    // the same exchange) and the forward-fill window. At small SF the
    // optimizer still broadcasts the daily side (fine — it fits); the
    // repartition's point is the 100 TB shape, where daily cannot
    // broadcast and the co-partitioned join needs NO additional exchange
    // — pinned in JourneySpec with broadcast disabled.
    val daily = events
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n"),
        decSum2(col("value")).cast("double").as("day_total"))
    // span guard: raise_error sits in the dead branch of the cap check, so
    // the happy path costs one datediff comparison per user and a corrupt
    // span kills the job with the offending user in the message
    val calendar = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"),
          when(datediff(col("d1"), col("d0")) <= maxSpanDays, col("d1"))
            .otherwise(raise_error(concat(
              lit("gap-fill span overflow: user "), col("user_id"),
              lit(" spans "), datediff(col("d1"), col("d0")),
              lit(s" days (cap $maxSpanDays) — corrupt timestamp?")))
              .cast("date")))).as("day"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    calendar.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("day_total"), ignoreNulls = true).over(w).as("filled_total"),
        datediff(col("day"),
          last(when(col("n").isNotNull, col("day")), ignoreNulls = true)
            .over(w)).cast("long").as("days_since_active"),
        col("n").isNotNull.as("is_active"))
      .orderBy(col("user_id"), col("day"))
  }

  /** Typed JSON extraction from the semi-structured `props` column:
    * `from_json` with an explicit schema (codegen'd Jackson parse, one pass
    * per row — the idiomatic Spark form; get_json_object re-parses per
    * field). Pure projection: no shuffle, prunes to two columns at the
    * scan. Malformed/missing keys become NULL (PERMISSIVE), flagged not
    * dropped — the data-lake contract for schema-on-read.
    */
  def qJsonProps(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.select(col("event_id"),
        from_json(col("props"), StructType.fromDDL("k INT")).getField("k").as("k"))
      .select(col("event_id"), col("k"),
        col("k").isNotNull.as("has_k"),
        // decade bucket in pure int arithmetic (k - k%10): identical
        // semantics in both engines (double-divide-then-cast is not —
        // DuckDB CAST rounds where Spark truncates)
        (col("k") - (col("k") % lit(10))).as("k_decade"))
      .orderBy(col("event_id"))
  }

  /** First-order Markov transition matrix over event types (round 8):
    * P(next | current) per user journey. One `lead` window on the family's
    * shared user_id partitioning (ordered by ts, event_id — the unique
    * deterministic order), then a groupBy onto the tiny (#types²)-row
    * transition table; the row-normalizing total is a second window over
    * THAT table, so the only corpus-sized exchange is the user_id shuffle
    * every Journey query already pays (zero with a user_id-bucketed
    * table). Null event types are filtered before the window on BOTH
    * engines — a typed transition out of an untyped event is undefined.
    * p = exact-int / exact-int in double: reduction-order-free, so the
    * driver hash-checks it without any snapping.
    */
  def qMarkovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val steps = Tables.events(spark, dir)
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur_type"))
      .withColumn("next_type", lead(col("cur_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val counts = steps.groupBy(col("cur_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("cur_type"))).cast("double"))
      .orderBy(col("cur_type"), col("next_type"))
  }

  /** Top-20 session journeys: gap-30min sessions (the shared
    * [[graft.ops.Sessionize]] numbering), each session's ordered
    * event-type sequence joined into a path string, ranked by session
    * count. The session window, the per-session position cap, and the
    * ordered path collect all ride the ONE user_id exchange; the path
    * count is a second (tiny — #distinct paths) shuffle, and the top-20 is
    * TakeOrderedAndProject, never a global sort.
    *
    * Scale honesty: paths are capped at the first 64 events per session
    * (mirrored in the oracle) — bot sessions are unbounded, and an uncapped
    * collect_list is exactly the skew trap the 100 TB design must refuse.
    */
  def qTopPaths(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
    val sess = graft.ops.Sessionize
      .withSessionSeq(e, col("user_id"), col("ts"), col("event_id"))
    val bySess = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(unix_micros(col("ts")), col("event_id"))
    val paths = sess
      .withColumn("pos", row_number().over(bySess))
      .filter(col("pos") <= 64 && col("event_type").isNotNull)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(array_join(transform(
          sort_array(collect_list(struct(unix_micros(col("ts")).as("u"),
            col("event_id").as("i"), col("event_type").as("t")))),
          s => s.getField("t")), ">").as("path"))
    paths.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  // ---- Registry rows and their DuckDB oracles ----

  /** The q_retention_cohort oracle; q_stream_retention, q_stream_recovery
    * replay it verbatim.
    * retention = exact-int ÷ exact-int (one IEEE division, bit-identical);
    * day_offset BIGINT on both sides (Spark datediff is INT → widened)
    */
  private[graft] def retentionCohortOracle: String =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
      |c AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id),
      |sz AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM c
      |  GROUP BY cohort_day),
      |act AS (SELECT c.cohort_day,
      |    date_diff('day', c.cohort_day, ud.day) AS day_offset,
      |    COUNT(*) AS n_active
      |  FROM ud JOIN c USING (user_id) GROUP BY 1, 2)
      |SELECT act.cohort_day, day_offset, n_active, cohort_size,
      |  CAST(n_active AS DOUBLE)/cohort_size AS retention
      |FROM act JOIN sz USING (cohort_day)
      |ORDER BY cohort_day, day_offset""".stripMargin

  /** The q_markov_transitions oracle; q_stream_markov replays it verbatim.
    * null event types filtered BEFORE the lead window on both sides;
    * p = int/int in double — no snapping needed
    */
  private[graft] def markovTransitionsOracle: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
      |    event_type AS cur_type
      |  FROM events WHERE event_type IS NOT NULL),
      |s AS (SELECT cur_type, lead(cur_type) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM e),
      |c AS (SELECT cur_type, next_type, COUNT(*) AS n FROM s
      |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT cur_type, next_type, n,
      |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER
      |    (PARTITION BY cur_type) AS DOUBLE) AS p
      |FROM c ORDER BY cur_type, next_type""".stripMargin

  /** The q_funnel_steps oracle; q_stream_funnel replays it verbatim.
    * chained conditional window minima — each step's "first occurrence
    * at-or-after the previous step" is a whole-partition MIN over the
    * same user_id partitioning in both engines
    */
  private[graft] def funnelStepsOracle: String =
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events),
      |s1 AS (SELECT *, MIN(CASE WHEN event_type='signup' THEN ts END)
      |    OVER (PARTITION BY user_id) AS signup_ts FROM e),
      |s2 AS (SELECT *, MIN(CASE WHEN event_type='click' AND ts >= signup_ts
      |    THEN ts END) OVER (PARTITION BY user_id) AS first_click_ts FROM s1),
      |s3 AS (SELECT *, MIN(CASE WHEN event_type='purchase'
      |    AND ts >= first_click_ts THEN ts END)
      |    OVER (PARTITION BY user_id) AS first_purchase_ts FROM s2)
      |SELECT user_id, MAX(signup_ts) AS signup_ts,
      |  MAX(first_click_ts) AS first_click_ts,
      |  MAX(first_purchase_ts) AS first_purchase_ts,
      |  CASE WHEN MAX(first_purchase_ts) IS NOT NULL THEN 'purchased'
      |       WHEN MAX(first_click_ts) IS NOT NULL THEN 'clicked'
      |       ELSE 'signed_up' END AS stage
      |FROM s3 GROUP BY user_id HAVING MAX(signup_ts) IS NOT NULL
      |ORDER BY user_id""".stripMargin

  /** The q_gap_fill oracle; q_stream_gapfill replays it over its coalesced
    * value column.
    * calendar densify via generate_series (Spark: sequence+explode);
    * forward-fill via IGNORE NULLS running last_value; decimal day
    * totals cast to double after the aggregate
    */
  private[graft] def gapFillOracle(value: String): String =
    s"""WITH daily AS (SELECT user_id,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST($value AS DECIMAL(18,2))) AS DOUBLE) AS day_total
      |  FROM events GROUP BY 1, 2),
      |cal AS (SELECT user_id, CAST(unnest(generate_series(
      |      CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
      |      INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily
      |    GROUP BY user_id)),
      |j AS (SELECT cal.user_id, cal.day, daily.n, daily.day_total
      |  FROM cal LEFT JOIN daily USING (user_id, day))
      |SELECT user_id, day, COALESCE(n, 0) AS n_events,
      |  last_value(day_total IGNORE NULLS) OVER w AS filled_total,
      |  date_diff('day', last_value(CASE WHEN n IS NOT NULL THEN day END
      |    IGNORE NULLS) OVER w, day) AS days_since_active,
      |  n IS NOT NULL AS is_active
      |FROM j WINDOW w AS (PARTITION BY user_id ORDER BY day
      |  ROWS UNBOUNDED PRECEDING)
      |ORDER BY user_id, day""".stripMargin

  /** The JourneyQueries registry rows. */
  def defs: Seq[(String, QueryDef)] = Seq(
    "q_top_paths" -> fixed(qTopPaths _)(
      s"""WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |${EventQueries.sessionSeqCtes},
        |c AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
        |    ORDER BY ts_us, event_id) AS pos FROM n),
        |p AS (SELECT user_id, session_seq,
        |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        |  FROM c WHERE pos <= 64 AND event_type IS NOT NULL
        |  GROUP BY user_id, session_seq)
        |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),
    // chained conditional window minima — each step's "first occurrence
    // at-or-after the previous step" is a whole-partition MIN over the
    // same user_id partitioning in both engines
    "q_funnel_steps" -> fixed(qFunnelSteps _)(funnelStepsOracle),
    // retention = exact-int ÷ exact-int (one IEEE division, bit-identical);
    // day_offset BIGINT on both sides (Spark datediff is INT → widened)
    "q_retention_cohort" -> fixed(qRetentionCohort _)(retentionCohortOracle),
    // calendar densify via generate_series (Spark: sequence+explode);
    // forward-fill via IGNORE NULLS running last_value; decimal day
    // totals cast to double after the aggregate
    "q_gap_fill" -> fixed(qGapFill _)(gapFillOracle("value")),
    // typed JSON extraction; decade bucket in pure INT arithmetic
    // (k - k%10) — identical truncation semantics in both engines.
    // Data contract: the testdata generator emits props uniformly as
    // {"k": <int>} (verified at every SF). from_json's PERMISSIVE edge
    // semantics (quoted "42" → NULL, malformed JSON → NULL) have no
    // DuckDB equivalent in this CAST — messier props would need a
    // try_cast + json_valid guard AND would still diverge on
    // string-coercion; revisit if the generator changes.
    "q_json_props" -> fixed(qJsonProps _)(
      """WITH k AS (SELECT event_id,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
        |SELECT event_id, k, k IS NOT NULL AS has_k,
        |  k - (k % 10) AS k_decade
        |FROM k ORDER BY event_id""".stripMargin),
    // null event types filtered BEFORE the lead window on both sides;
    // p = int/int in double — no snapping needed
    "q_markov_transitions" -> fixed(qMarkovTransitions _)(
      markovTransitionsOracle),
  )
}
