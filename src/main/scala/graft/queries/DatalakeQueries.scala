package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QueryDef
import graft.QueryDef.{fixed}
import graft.sources.{Datalake, Tables, Watermark}

/** The reference's whole DAG (dags/DAG_Project.py:1-82) as ONE composed
  * Spark job: extract(raw) → transform(formatted) → compute_usage(usage) →
  * index/export, flowing through the Datalake raw/formatted/usage layers
  * with the incremental-ingest watermark committed at the end — the one
  * reference capability round 2 had in parts but never exercised
  * end-to-end.
  *
  * Stage → layer mapping (all reference file:line in the stage comments):
  *   raw:       one JSON-ARRAY file per fetch page (lbc_fetcher.py writes
  *              the whole API response) + the bulk JSONL feed; the page
  *              OVERLAPS the bulk feed and the format stage's dedup absorbs
  *              the overlap — exactly the reference's at-least-once fetch /
  *              dedup-keep-last pairing.
  *   formatted: coerce + dedup keep-last (raw_to_fmt_lbc.py:49-56), written
  *              as splittable snappy parquet.
  *   usage:     market-stats aggregate (compute_usage.py:46-60) over the
  *              formatted layer.
  *   export:    validated docs (index_to_es.py:233-252) as the JSONL bulk
  *              shape, written distributed.
  *   state:     watermark advanced to the batch max ts (lbc_fetcher.py's
  *              state/lbc_state.json) — crash before commit re-reads the
  *              increment; dedup makes the re-run idempotent.
  *
  * Scale notes: every stage is a distributed read/write; the only
  * driver-side data are the one bounded fetch page (a real API response is
  * driver-side by nature) and the single watermark timestamp. Raw JSON is
  * non-splittable per file but parallel ACROSS fetch files; formatted
  * parquet restores splittability for everything downstream. The dedup is
  * the pipeline's one wide shuffle; the usage aggregate partial-aggregates
  * into #(type × day) groups.
  */
object DatalakeQueries {

  private[graft] val rawSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("ts_us", LongType)))

  /** Coerce + derive (errors='coerce' → fillna(0), event_date from the
    * micros long) — the format-stage projection, shared with the streaming
    * micro-batch DAG (streaming/DatalakeStreams) so batch and stream agree
    * on what "formatted" means.
    */
  private[graft] def coerceRaw(df: DataFrame): DataFrame =
    df.withColumn("value_clean", coalesce(col("value"), lit(0.0)))
      .withColumn("event_date", timestamp_micros(col("ts_us")).cast("date"))

  /** Keep-last dedup per (user_id, event_type) by (ts_us, event_id). */
  private[graft] def dedupKeepLast(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Usage-layer market stats over a formatted frame (exact decimal sums,
    * DOUBLE final projection).
    */
  private[graft] def usageStats(fmt: DataFrame): DataFrame =
    fmt.filter(col("value_clean") > 0)
      .groupBy(col("event_type"), col("event_date"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value_clean").cast(DecimalType(18, 2)))
          .cast("double").as("total_value"))

  /** Full pipeline against a caller-supplied lake root (specs use a fixed
    * root to assert layer contents / watermark advance / idempotent
    * re-runs). Returns the usage-layer market stats read BACK from the lake
    * — the round trip through every layer is part of what's checked.
    */
  def run(spark: SparkSession, dir: String, root: String): DataFrame = {
    val statePath = s"$root/state/events.watermark"
    val usagePath = Datalake.path(root, Datalake.Usage, "events", "market_stats")

    // ---- extract → RAW. ts travels as micros-since-epoch longs: JSON has
    // no timestamp type, and a lossless integer beats parsing round-trips.
    val src = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("ts_us_ts", timestamp_micros(col("ts_us")))
    // each layer is read back with the schema of the frame just written
    // to it: Spark would otherwise run a job per read to infer it
    val usageSchema = graft.ops.Checkpoints.scoped { s =>
      // persisted: the increment is consumed by four actions (emptiness
      // probe, bulk write, page collect, watermark max) — one scan, not four
      val batch = s.persist(
        Watermark.incrementalRead(spark, src, "ts_us_ts", statePath))
      val bulkPath = Datalake.path(root, Datalake.Raw, "events", "bulk")
      val pageDir = Datalake.path(root, Datalake.Raw, "events", "page0")
      // raw ACCUMULATES across runs (the fetcher appends pages; formatted is
      // rebuilt from all of raw each run, like the reference's convert step).
      // The FIRST run always lands the raw dirs — possibly empty — so the
      // format stage has layers to read; after that an empty increment skips
      // the fetch writes entirely. A crash between fetch and commit
      // re-appends the same increment on retry; the format stage's dedup
      // absorbs the duplicates (at-least-once, idempotent).
      // BOTH raw artifacts must exist to skip the fetch — the format stage
      // reads both, and a crash between the bulk write and the page write
      // would otherwise wedge every later empty-increment run on a missing
      // fetch.json
      val hconf = spark.sparkContext.hadoopConfiguration
      def exists(p: String): Boolean = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).exists(hp)
      }
      val rawInitialized = exists(bulkPath) && exists(s"$pageDir/fetch.json")
      if (batch.head(1).nonEmpty || !rawInitialized) {
        Datalake.writeJsonl(batch.drop("ts_us_ts"), bulkPath,
          org.apache.spark.sql.SaveMode.Append)
        // one fetch page = one pretty JSON ARRAY (bounded: a real API page) —
        // overlaps the bulk feed on purpose. Written through the SAME Hadoop
        // FS as every other layer artifact (java.nio would silently land on
        // driver-local disk for an hdfs://-or-s3a:// root and the exists()
        // gate above would never see it).
        val pageRows = batch.drop("ts_us_ts").filter(col("event_id") <= 50)
          .orderBy(col("event_id")).toJSON.collect()
        val pagePath = new org.apache.hadoop.fs.Path(s"$pageDir/fetch.json")
        val fs = pagePath.getFileSystem(hconf)
        val out = fs.create(pagePath, true)
        try out.write(pageRows.mkString("[\n", ",\n", "\n]").getBytes("UTF-8"))
        finally out.close()
      }

      // ---- transform → FORMATTED: array + JSONL raw reads unioned, value
      // coerced (errors='coerce' → fillna(0)), dedup keep-last per
      // (user_id, event_type) — absorbs the page/bulk overlap and any
      // re-fetched increments
      val raw = Datalake.readJsonArray(spark, s"$pageDir/fetch.json", rawSchema)
        .unionByName(Datalake.readJsonl(spark, bulkPath, rawSchema))
      val formatted = dedupKeepLast(coerceRaw(raw)).drop("value")
      val fmtPath = Datalake.path(root, Datalake.Formatted, "events", "latest")
      Datalake.writeParquet(formatted, fmtPath)

      // ---- compute_usage → USAGE: per (type, day) market stats over the
      // formatted layer; exact decimal sums, final projection DOUBLE
      val fmt = spark.read.schema(formatted.schema).parquet(fmtPath)
      val usage = usageStats(fmt)
      Datalake.writeParquet(usage, usagePath)

      // ---- index/export: validated docs (whitelist + range + not-null) as
      // the JSONL bulk shape
      val validated = fmt.filter(
        col("event_type").isin("view", "click", "purchase") &&
          col("value_clean") >= 0 && col("user_id").isNotNull)
      Datalake.writeJsonl(
        validated.select(
          concat(lit("evt_"), col("event_id")).as("doc_id"),
          col("user_id"), col("event_type"), col("value_clean"),
          col("event_date")),
        Datalake.path(root, Datalake.Usage, "events", "export"))

      // ---- state: watermark forward to the batch max ts — next run's
      // incremental read starts past it
      Watermark.commit(spark, batch, "ts_us_ts", statePath)
      usage.schema
    }

    spark.read.schema(usageSchema).parquet(usagePath)
      .orderBy(col("event_type"), col("event_date"))
  }

  /** A fresh lake root, deleted at JVM exit
    * ([[graft.streaming.StreamReplay.scratch]]). */
  private[graft] def tempLakeRoot(): String =
    graft.streaming.StreamReplay.scratch("graft-lake").toString

  /** Driver-gate entry: fresh lake root per run (deterministic output —
    * the watermark always starts empty, so the batch is the full table).
    * The lake must outlive the returned LAZY DataFrame (it reads the usage
    * layer), so cleanup is a JVM shutdown hook, not an eager delete.
    */
  def qDatalakePipeline(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, tempLakeRoot())

  private[graft] val dimSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  /** The reference's ACTUAL dual-feed shape: TWO raw sources — a CSV.gz
    * bulk drop (dvf_fetcher.py downloads the government CSV.gz;
    * raw_to_fmt_dvf.py:1-24 coerces it) and a JSON API feed
    * (lbc_fetcher.py) — each independently coerced into the formatted
    * layer, then JOINED in the usage layer (compute_usage.py:70-76 joins
    * listings to the per-commune stats).
    *
    * Here: the events JSON feed (listings analog) joins the customer
    * dimension arriving as a gzip CSV drop (the DVF analog). Coercions:
    * JSON side = errors='coerce' fillna + keep-last dedup; CSV side =
    * explicit schema + PERMISSIVE (malformed → null), exactly
    * `Datalake.readCsv`.
    *
    * Scale notes: .gz CSV is NOT splittable — one file, one task — which
    * is fine for a raw drop read once per run; the formatted layer
    * re-lands both feeds as snappy parquet so everything downstream is
    * splittable. The usage join broadcasts the dimension (a dim table is
    * small by construction); the fact side's only wide shuffle is the
    * dedup, and the final aggregate partial-aggregates map-side into
    * #(segment × type) groups.
    */
  def runDual(spark: SparkSession, dir: String, root: String): DataFrame = {
    // ---- feed 1 → RAW: events as a JSONL API feed (ts as micros longs)
    val jsonRaw = Datalake.path(root, Datalake.Raw, "events", "feed")
    Datalake.writeJsonl(
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), unix_micros(col("ts")).as("ts_us")),
      jsonRaw)

    // ---- feed 2 → RAW: customer dimension as ONE gzip CSV drop with a
    // header line — the DVF bulk-file shape (dvf_fetcher.py)
    val csvRaw = Datalake.path(root, Datalake.Raw, "customer", "bulk_csv")
    Tables.customer(spark, dir)
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("header", "true").option("compression", "gzip")
      .csv(csvRaw)

    // ---- transform → FORMATTED, each feed through its own coercion
    val fmtEvents = dedupKeepLast(coerceRaw(
      Datalake.readJsonl(spark, jsonRaw, rawSchema))).drop("value")
    val fmtEventsPath = Datalake.path(root, Datalake.Formatted, "events", "latest")
    Datalake.writeParquet(fmtEvents, fmtEventsPath)

    val fmtDim = Datalake.readCsv(spark, csvRaw, dimSchema)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val fmtDimPath = Datalake.path(root, Datalake.Formatted, "customer", "latest")
    Datalake.writeParquet(fmtDim, fmtDimPath)

    // ---- compute_usage → USAGE: fact ⋈ broadcast(dim), per
    // (segment, type) stats — the reference's listings⋈stats join
    // each layer is read back with the schema of the frame just written
    // to it: Spark would otherwise run a job per read to infer it
    val usage = segmentStats(
      spark.read.schema(fmtEvents.schema).parquet(fmtEventsPath),
      spark.read.schema(fmtDim.schema).parquet(fmtDimPath))
    val usagePath = Datalake.path(root, Datalake.Usage, "events", "segment_stats")
    Datalake.writeParquet(usage, usagePath)

    spark.read.schema(usage.schema).parquet(usagePath)
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  def qDatalakeDual(spark: SparkSession, dir: String): DataFrame =
    runDual(spark, dir, tempLakeRoot())

  /** Usage-layer join of the dual DAG, exposed for plan assertions: the
    * dimension side is broadcast — a dim table is small by construction,
    * and at 100 TB the fact side never shuffles for this join.
    */
  private[graft] def segmentStats(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.filter(col("value_clean") > 0)
      .join(broadcast(dim), fact("user_id") === dim("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value_clean").cast(DecimalType(18, 2)))
          .cast("double").as("total_value"))

  /** Incremental maintenance of a JOIN view (round 15c) — the other half
    * of view maintenance beside [[qMvIncremental]]'s aggregate: a
    * persisted enrichment view V = orders ⋈ customer is kept current
    * under INSERT deltas arriving on BOTH base tables using the delta-join
    * algebra, never a base-side recompute:
    *
    *   V_new = V_old ∪ (ΔO ⋈ C_new) ∪ (O_old ⋈ ΔC)
    *
    * (the two-term form: ΔO joins the FULL new customer snapshot, which
    * folds the ΔO⋈C_old and ΔO⋈ΔC terms into one pass; O_old⋈ΔC picks up
    * exactly the old orders whose customer just appeared — disjoint from
    * the first term because those rows have old order keys, so the union
    * is duplicate-free without a distinct).
    *
    * Scale shape: every delta term is delta-sized on at least one side —
    * ΔO⋈C broadcasts the dim as usual, and O_old⋈ΔC BROADCASTS ΔC so the
    * stored fact never shuffles (at 100 TB this is the entire point: the
    * day's maintenance cost is O(|Δ|·scan), zero fact-side exchange; with
    * the store bucketed on the join key even the scan narrows to the
    * delta's key range via the file-stats prune). The view store itself
    * is read back from the lake, not recomputed — pinned by provenance
    * counters in the output.
    *
    * Exactness: per-segment revenue re-aggregates the three frames'
    * exact DECIMAL(18,2) partials (decimal addition associative), cast
    * to double once; counts are exact longs. The ORACLE recomputes the
    * whole join from scratch with the same provenance predicates — the
    * driver hash-compare re-proves incremental == from-scratch every
    * round.
    */
  def qMvJoinIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val oldO = o.filter(col("o_orderkey") % 5 =!= 4)
    val deltaO = o.filter(col("o_orderkey") % 5 === 4)
    val oldC = c.filter(col("c_custkey") % 7 =!= 3)
    val deltaC = c.filter(col("c_custkey") % 7 === 3)
    def enrich(orders: DataFrame, cust: DataFrame): DataFrame =
      orders.join(broadcast(cust),
        orders("o_custkey") === cust("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"),
          col("o_totalprice"))
    val root = tempLakeRoot()
    val storePath = Datalake.path(root, Datalake.Usage, "mv", "enriched")
    Datalake.writeParquet(enrich(oldO, oldC), storePath)
    val vOld = spark.read.parquet(storePath)
      .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"),
        lit("store").as("src"))
    val dNewOrders = enrich(deltaO, c).withColumn("src", lit("delta_o"))
    val dNewCust = enrich(oldO, deltaC).withColumn("src", lit("delta_c"))
    vOld.unionByName(dNewOrders).unionByName(dNewCust)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("src") === "store", 1L).otherwise(0L))
          .cast("bigint").as("n_from_store"),
        sum(when(col("src") =!= "store", 1L).otherwise(0L))
          .cast("bigint").as("n_from_delta"),
        decSum2(col("o_totalprice")).cast("double").as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  /** Incremental MATERIALIZED-VIEW maintenance (round 8) — the warehouse
    * shape every daily pipeline runs: a persisted aggregate view (daily
    * order revenue) is maintained by folding ONLY the day's delta, never
    * rescanning the base. "Yesterday's" job aggregates history
    * (o_orderkey % 5 ≠ 4 — the qDedupIncremental generation split) and
    * persists the view in the lake's usage layer; "today's" job
    * aggregates the delta alone and MERGES the two pre-aggregated tables
    * by key (union → re-aggregate: shuffled rows = |store keys| +
    * |delta keys|, never base rows; at scale the store is written
    * bucketed on the key so only the delta moves). Sums stay in the
    * exact decimal domain through BOTH aggregation levels — decimal
    * addition is associative, so (hist-sum + delta-sum) equals the
    * one-pass sum bit-for-bit — and the final projection casts to
    * DOUBLE once.
    *
    * The ORACLE is the full recompute over all orders: the driver
    * hash-compare re-proves incremental == from-scratch on every round
    * (the q_dedup_clusters_incremental contract, applied to aggregates).
    */
  def qMvIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
    val hist = o.filter(col("o_orderkey") % 5 =!= 4)
    val delta = o.filter(col("o_orderkey") % 5 === 4)
    def view(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderdate"))
        .agg(decSum2(col("o_totalprice")).as("rev"),
          count(lit(1)).as("n_orders"))
    val root = tempLakeRoot()
    val storePath = Datalake.path(root, Datalake.Usage, "mv", "daily_revenue")
    Datalake.writeParquet(view(hist), storePath)
    spark.read.parquet(storePath)
      .unionByName(view(delta))
      .groupBy(col("o_orderdate"))
      .agg(sum(col("rev")).as("rev"),
        sum(col("n_orders")).cast("long").as("n_orders"))
      .select(col("o_orderdate"), col("rev").cast("double").as("revenue"),
        col("n_orders"))
      .orderBy(col("o_orderdate"))
  }

  /** Snapshot table diff (round 8): classify every key as added / removed /
    * changed between two deterministic snapshots of `orders` (old = keys
    * not ≡ 0 mod 7; new = keys not ≡ 0 mod 5, with keys ≡ 0 mod 3 price-
    * bumped by +5.0 — an exact IEEE add, so "changed" is bit-decidable).
    * ONE co-partitioned full-outer join on the snapshot key; presence is
    * tracked with explicit marker columns, never by value-null checks, so
    * rows whose payload is legitimately NULL still classify correctly, and
    * "changed" uses null-safe inequality (IS DISTINCT FROM).
    *
    * Scale: both sides shuffle once on the same key (or not at all when
    * the snapshots are bucketed by key, the lakehouse layout this models);
    * unchanged rows — the overwhelming mass in a real diff — are dropped
    * before the sort. No window, no collect, no skew risk beyond the
    * key's own distribution.
    */
  def qTableDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val old = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), lit(1).as("in_old"),
        col("o_totalprice").as("old_price"))
    val nu = o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"), lit(1).as("in_new"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(5.0))
          .otherwise(col("o_totalprice")).as("new_price"))
    // full-outer can't broadcast; without a hint it falls to SortMergeJoin —
    // the shuffled hash join does the same one-shuffle-per-side without the
    // two per-partition sorts (registry plans stay SMJ-free)
    old.join(nu.hint("shuffle_hash"), Seq("o_orderkey"), "full_outer")
      .withColumn("status",
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(!(col("old_price") <=> col("new_price")), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .select(col("o_orderkey"), col("status"), col("old_price"),
        col("new_price"))
      .orderBy(col("o_orderkey"))
  }

  /** MERGE INTO semantics as one full-outer join (round 8): upsert a delta
    * feed into a base table — matched keys take the delta's values
    * ("updated"), unmatched delta keys insert ("inserted"), untouched base
    * rows carry through ("kept"). Base = orders keys not ≡ 0 mod 3; delta
    * = even keys with price +10.0 and priority 'MERGED'. The classic
    * lakehouse MERGE is exactly this plan plus a partition-overwrite
    * write; presence markers (not value nulls) drive the action column so
    * NULL payloads merge correctly.
    *
    * Scale: one shuffle per side on the merge key — and none at all when
    * base and delta are bucketed by it; delta is typically small, so AQE
    * broadcasts it and the base table never moves.
    */
  def qMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val base = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), lit(1).as("in_base"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"))
    val delta = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), lit(1).as("in_delta"),
        col("o_custkey").as("d_custkey"),
        (col("o_totalprice") + lit(10.0)).as("d_price"),
        lit("MERGED").as("d_priority"))
    // delta is the natural hash build side (small in a real merge); the
    // hint keeps the full-outer off SortMergeJoin
    base.join(delta.hint("shuffle_hash"), Seq("o_orderkey"), "full_outer")
      .select(col("o_orderkey"),
        coalesce(col("d_custkey"), col("o_custkey")).as("o_custkey"),
        when(col("in_delta").isNotNull, col("d_price"))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        when(col("in_delta").isNotNull, col("d_priority"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"),
        when(col("in_base").isNull, lit("inserted"))
          .when(col("in_delta").isNull, lit("kept"))
          .otherwise(lit("updated")).as("action"))
      .orderBy(col("o_orderkey"))
  }

  /** MERGE with a WHEN-MATCHED-DELETE arm (round 10 — the one MERGE arm
    * q_merge_upsert lacked; reference analog: the validation drops in
    * raw_to_fmt_lbc.py:49-56, where a feed row RETRACTS a bad base row
    * instead of updating it). Delta rows carry an op column: keys ≡ 0
    * (mod 10) are deletions, the rest upserts. Semantics follow ANSI
    * MERGE exactly: WHEN MATCHED AND op='delete' THEN DELETE (base row
    * dropped); WHEN NOT MATCHED AND op='delete' → no-op (a delete never
    * inserts); matched upserts update, unmatched upserts insert.
    * Deleted keys are therefore ABSENT from the output — a failed
    * delete arm shows up as extra rows and hash-fails at the driver.
    *
    * Scale: identical single full-outer shuffle-hash join as
    * q_merge_upsert (delete is a filter on the joined stream, zero extra
    * exchanges); none at all when base and delta are bucketed by key.
    */
  def qMergeDelete(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val base = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), lit(1).as("in_base"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"))
    val delta = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), lit(1).as("in_delta"),
        col("o_custkey").as("d_custkey"),
        (col("o_totalprice") + lit(10.0)).as("d_price"),
        lit("MERGED").as("d_priority"),
        when(col("o_orderkey") % 10 === 0, lit("delete"))
          .otherwise(lit("upsert")).as("d_op"))
    base.join(delta.hint("shuffle_hash"), Seq("o_orderkey"), "full_outer")
      // the DELETE arm: matched deletes drop the base row, unmatched
      // deletes produce nothing (kept rows have d_op NULL and pass)
      .filter(col("d_op").isNull || col("d_op") =!= "delete")
      .select(col("o_orderkey"),
        coalesce(col("d_custkey"), col("o_custkey")).as("o_custkey"),
        when(col("in_delta").isNotNull, col("d_price"))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        when(col("in_delta").isNotNull, col("d_priority"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"),
        when(col("in_base").isNull, lit("inserted"))
          .when(col("in_delta").isNull, lit("kept"))
          .otherwise(lit("updated")).as("action"))
      .orderBy(col("o_orderkey"))
  }

  /** CHANGE DATA FEED read (round 10): publish two versions of orders
    * through the manifest protocol, then emit the row-level feed that
    * replays v1 → v2 (Datalake.changeFeed — insert/delete rows plus
    * pre+post image pairs for updates, Delta `table_changes` shape).
    * q_table_diff is the snapshot summary of the same drift; this is the
    * REPLAYABLE form, and DatalakeSpec pins the algebra: v1 + feed = v2.
    * The publish→read round trip runs inside the oracle gate, so a
    * manifest/version bleed or a missed change class hash-fails.
    *
    * Scale: one full-outer shuffle-hash join on the key over the two
    * version scans, single-pass conditional explode — unchanged rows
    * (the mass of a real table) never leave the join.
    */
  def qChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = tempLakeRoot() + "/orders_cdf"
    Datalake.publish(o.filter(col("o_orderkey") % 7 =!= 0), root, "1")
    Datalake.publish(o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(5.0))
          .otherwise(col("o_totalprice")).as("o_totalprice")), root, "2")
    Datalake.changeFeed(spark, root, "1", "2", Seq("o_orderkey"))
      .orderBy(col("o_orderkey"), col("_change_type"))
  }

  /** MULTI-TABLE ATOMIC TRANSACTION (r13): a fact rollup and its
    * grand-total table are committed TOGETHER through one catalog swap
    * (`Datalake.publishAtomic`), twice — full data, then the even-key
    * half. A reader takes one catalog snapshot and resolves both tables
    * through it; the output interleaves the per-priority rollup with the
    * total-table columns, so a torn pair (rollup at txn 2 beside totals
    * still at txn 1) breaks the Σ n_orders == n_total invariant and
    * hash-fails — the oracle computes both sides from the same subset.
    * DatalakeSpec pins snapshot isolation (a held snapshot keeps reading
    * txn 1 after txn 2 lands) and partial-write-set pin carry-forward.
    */
  def qMultiTableTxn(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val root = tempLakeRoot() + "/cat"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    def pair(sub: DataFrame) = Seq(
      "orders_by_priority" -> sub.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          decSum2(col("o_totalprice")).cast("double").as("revenue")),
      "orders_total" -> sub.agg(count(lit(1)).as("n_total"),
        decSum2(col("o_totalprice")).cast("double").as("revenue_total")))
    Datalake.publishAtomic(spark, root, pair(o))
    Datalake.publishAtomic(spark, root,
      pair(o.filter(col("o_orderkey") % 2 === 0)))
    val (txn, snap) = Datalake.catalogSnapshot(spark, root)
    val a = Datalake.readCatalogTable(spark, root, snap, "orders_by_priority")
    val b = Datalake.readCatalogTable(spark, root, snap, "orders_total")
    a.crossJoin(broadcast(b))
      .select(lit(txn).as("txn"), col("o_orderpriority"), col("n_orders"),
        col("revenue"), col("n_total"), col("revenue_total"))
      .orderBy(col("o_orderpriority"))
  }

  /** RIGHT-TO-BE-FORGOTTEN erase (r13 — the GDPR/CCPA composition every
    * lakehouse needs, and the reason deletion vectors alone are NOT
    * erasure): (1) `deleteWhere` hides the subject's rows instantly (a
    * sidecar commit — the fast SLA half), (2) OPTIMIZE folds the vector
    * into a rewrite that physically omits them, (3) vacuum retires every
    * version dir and vector that still carries the bytes. The row then
    * proves PHYSICAL absence, not just read-path absence: it scans every
    * parquet file left on disk under the table root (bypassing the
    * manifest entirely) and counts the subject's rows — a forensic scan
    * of retained storage. Evidence: n_subject_rows_physical = 0,
    * n_versions_left = 1, plus the surviving table aggregate.
    */
  def qGdprErase(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val root = tempLakeRoot() + "/cust_gdpr"
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .repartition(4)
    Datalake.publish(c, root, "1", Nil, Seq("c_custkey"))
    val subject = col("c_custkey") % 100 === 7 // the erasure request set
    Datalake.deleteWhere(spark, root, subject)
    Datalake.optimize(spark, root, nFiles = 2, statsCols = Seq("c_custkey"))
    Datalake.vacuum(spark, root, keepLast = 1)
    // forensic sweep: EVERY parquet file still on disk under the root,
    // read directly — a file the protocol failed to retire would surface
    // the subject here even though the manifest no longer serves it
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val left = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet"))
          b += f.getPath.toString
      }
      b.result()
    }
    val physical = spark.read.parquet(left: _*).filter(subject).count()
    val versionsLeft = Datalake.listVersions(spark, root).length.toLong
    Datalake.readPublished(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        decSum2(col("c_acctbal")).cast("double").as("sum_bal"))
      .select(lit(physical).as("n_subject_rows_physical"),
        lit(versionsLeft).as("n_versions_left"), col("n_rows"),
        col("sum_bal"))
  }

  /** SELECTIVE small-file compaction end-to-end (r13 — Delta OPTIMIZE's
    * minFileSize behavior): a bulk load writes 2 well-sized files, six
    * trickle micro-batches append one small file each (the streaming-
    * ingest fragmentation shape), the directory joins the protocol via
    * `Datalake.adoptVersion` (external-writer adoption: footer sweep +
    * manifest PUT, no rewrite), and `optimizeCompact` then rewrites ONLY
    * the six sub-threshold files into one compacted file while the two
    * big files are byte-copied — no decode, no shuffle for the untouched
    * bulk. The threshold is total/20 rows so the same 8 → 3 evidence
    * holds at every scale factor. Readback hash-fails on any lost or
    * duplicated row; the 8/6/2/3 literals pin the file accounting.
    */
  def qCompactSmall(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val root = tempLakeRoot() + "/orders_c"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val ver = s"$root/v=1"
    o.filter(col("o_orderkey") % 10 < 8).repartition(2)
      .write.option("compression", "snappy").parquet(ver)
    (0 until 6).foreach { i =>
      o.filter(col("o_orderkey") % 10 >= 8 && col("o_orderkey") % 6 === i)
        .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Append)
        .option("compression", "snappy").parquet(ver)
    }
    Datalake.adoptVersion(spark, root, "1", Seq("o_orderkey"))
    val minRows = o.count() / 20
    val (v2, nCompacted, nCopied) =
      Datalake.optimizeCompact(spark, root, minRows, Seq("o_orderkey"))
    val filesAfter = Datalake.dataFiles(spark, root, v2).length.toLong
    Datalake.readPublished(spark, root)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        decSum2(col("o_totalprice")).cast("double").as("revenue"))
      .select(col("o_orderpriority"),
        lit((nCompacted + nCopied).toLong).as("files_before"),
        lit(nCompacted.toLong).as("files_compacted"),
        lit(nCopied.toLong).as("files_copied"),
        lit(filesAfter).as("files_after"),
        col("n_orders"), col("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** PER-PARTITION selective compaction (round 14 — r13 verdict #5:
    * optimizeCompact's flat-dir `require` made hourly maintenance on a
    * Hive-partitioned streaming ingest impossible). The fragmentation
    * shape a partitioned micro-batch sink actually produces: one bulk
    * file per priority partition plus three trickle appends per
    * partition, adopted via footer sweep, with a LIVE DELETION VECTOR
    * spanning both a small file's rows (every key ≡ 9 mod 10) and a
    * byte-copied file's rows (every key ≡ 0 mod 100). `optimizeCompact`
    * rewrites each partition's three sub-threshold files into ONE file
    * IN THAT PARTITION'S OWN name=value dir (never merging across
    * values — partition discovery and directory pruning survive),
    * byte-copies the bulk file, FOLDS the small files' share of the
    * vector into the rewrite and CARRIES the copied files' share
    * forward. Per-partition 4→2 accounting literals ride every row; the
    * readback hash-fails on a resurrected deleted row, a cross-partition
    * merge (partition column comes from the directory), or a lost row.
    *
    * Scale: the rewrite cost is Θ(small-file rows of touched
    * partitions); the untouched bulk is byte-copy (production:
    * server-side copy / manifest reference). One driver-side loop over
    * partitions with small files — catalog-sized.
    */
  def qCompactPartitioned(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val root = tempLakeRoot() + "/orders_cp"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val ver = s"$root/v=1"
    def landPartitioned(df: DataFrame, mode: org.apache.spark.sql.SaveMode)
        : Unit =
      df.repartition(col("o_orderpriority")) // one file per value per drop
        .write.mode(mode).partitionBy("o_orderpriority")
        .option("compression", "snappy").parquet(ver)
    landPartitioned(o.filter(col("o_orderkey") % 10 < 8),
      org.apache.spark.sql.SaveMode.Overwrite)
    (0 until 3).foreach { i =>
      landPartitioned(
        o.filter(col("o_orderkey") % 10 >= 8 && col("o_orderkey") % 3 === i),
        org.apache.spark.sql.SaveMode.Append)
    }
    Datalake.adoptVersion(spark, root, "1", Seq("o_orderkey"))
    Datalake.deleteWhere(spark, root,
      col("o_orderkey") % 10 === 9 || col("o_orderkey") % 100 === 0)
    val minRows = o.count() / 20
    val (v2, nCompacted, nCopied) =
      Datalake.optimizeCompact(spark, root, minRows, Seq("o_orderkey"))
    // per-partition file accounting from the version listings (relative
    // paths carry the name=value dir)
    def perPart(v: String): Map[String, Long] =
      Datalake.dataFiles(spark, root, v)
        .groupBy(f => f.takeWhile(_ != '/')).view.mapValues(_.length.toLong)
        .toMap
    val before = perPart("1"); val after = perPart(v2)
    val parts = before.keySet.toSeq.sorted
    val acct = parts.map { p =>
      (p.stripPrefix("o_orderpriority="), before(p), after(p))
    }
    val acctDf = spark.createDataFrame(acct)
      .toDF("o_orderpriority", "files_before_part", "files_after_part")
    Datalake.readPublished(spark, root)
      .groupBy(col("o_orderpriority").cast("string").as("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        decSum2(col("o_totalprice")).cast("double").as("revenue"))
      .join(broadcast(acctDf), Seq("o_orderpriority"))
      .withColumn("files_compacted", lit(nCompacted.toLong))
      .withColumn("files_copied", lit(nCopied.toLong))
      .orderBy(col("o_orderpriority"))
  }

  /** DYNAMIC PARTITION OVERWRITE end-to-end (r13 — the daily-restatement
    * op): events published day-partitioned, then one batch RESTATES
    * 2024-01-10 (re-sending only its click events — replacement
    * semantics: the day's other event types must vanish) and BACKFILLS a
    * partition the table has never seen (2024-01-01 shifted +31 days →
    * 2024-02-01). `Datalake.overwritePartitions` carries every untouched
    * day forward via a broadcast anti-join on the batch's distinct
    * partition tuples and publishes the result as a new atomic version.
    * The per-day readback hash-fails on a leaked non-click row in the
    * restated day, a lost untouched day, or a missing backfill day.
    */
  def qPartitionOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .withColumn("day", to_date(col("ts")))
    val root = tempLakeRoot() + "/events_po"
    Datalake.publish(e, root, "1", Seq("day"), Nil)
    val restated = e.filter(col("day") === lit("2024-01-10").cast("date") &&
      col("event_type") === "click")
    val backfill = e.filter(col("day") === lit("2024-01-01").cast("date"))
      .withColumn("ts", col("ts") + expr("INTERVAL 31 DAYS"))
      .withColumn("day", to_date(col("ts")))
    Datalake.overwritePartitions(spark, root,
      restated.unionByName(backfill), Seq("day"))
    Datalake.readPublished(spark, root)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("event_type")).as("n_types"))
      .orderBy(col("day"))
  }

  /** SCHEMA DRIFT REPORT between published versions (round 15c — the
    * breaking-change detector a lakehouse needs BEFORE an apply stream
    * dies at 3am: q_merge_evolve showed the lake absorbing a grown
    * column; this is the audit that tells a human what changed between
    * two versions — added / removed / retyped / unchanged per column,
    * from the parquet footers alone). Version 2 of the events extract
    * adds a `day` column, drops `event_type`, and narrows `value` to
    * float — the three drift classes plus a control.
    *
    * Scale: schema diffing reads two FOOTERS — catalog-sized driver
    * work, zero data scan, the same cost class as the manifest swap
    * itself. The report is the artifact a CI contract-check gates on.
    */
  def qSchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
    val root = tempLakeRoot() + "/events_schema"
    Datalake.publish(e.select(col("event_id"), col("event_type"),
      col("value")), root, "1")
    Datalake.publish(e.select(col("event_id"),
      col("value").cast("float").as("value"),
      to_date(col("ts")).as("day")), root, "2")
    val s1 = spark.read.parquet(s"$root/v=1").schema
      .map(f => f.name -> f.dataType.simpleString).toMap
    val s2 = spark.read.parquet(s"$root/v=2").schema
      .map(f => f.name -> f.dataType.simpleString).toMap
    val rows = (s1.keySet ++ s2.keySet).toSeq.sorted.map { c =>
      (s1.get(c), s2.get(c)) match {
        case (None, Some(t)) => (c, "added", null: String, t)
        case (Some(t), None) => (c, "removed", t, null: String)
        case (Some(a), Some(b)) if a == b => (c, "unchanged", a, b)
        case (Some(a), Some(b)) => (c, "retyped", a, b)
        case (None, None) => sys.error("unreachable")
      }
    }
    rows.toDF("col_name", "status", "old_type", "new_type")
      .orderBy(col("col_name"))
  }

  /** PARTITION-SPEC EVOLUTION (round 15c — the Iceberg flagship the Hive
    * layout can't offer): the events table starts partitioned by
    * event_type (version 1); the team re-decides and version 2's append
    * lands partitioned by day — WITHOUT rewriting version 1's files
    * ([[graft.sources.Datalake.publishEvolved]] chains immutable
    * segments; the old rows stay in their old layout behind a `_BASE`
    * pointer). The probe then reads `day = 2024-01-10` through
    * [[graft.sources.Datalake.evolvedPrunedScan]]: the day-partitioned
    * segment prunes to ONE directory's file while the pre-evolution
    * segment honestly admits every file (evolution changes the layout of
    * FUTURE data only — the documented Iceberg contract; OPTIMIZE is how
    * history migrates). Output = one row per segment with its spec, the
    * real directory-listing file counts, and the exact filtered
    * aggregate — a wrong union (dropped segment, doubled rows) or a
    * wrong layout (file counts off) both hash-fail.
    *
    * Determinism: each segment is written by ONE task (repartition(1)),
    * so the layout is one file per partition value — file counts are a
    * pure function of the data and the oracle replays them as
    * COUNT(DISTINCT key) over the same split predicates.
    *
    * Scale: the evolved read is a union of independent parquet scans (no
    * shuffle added); pruning work is directory listing per segment. The
    * win at 100 TB is the ZERO-rewrite spec change — repartitioning a
    * petabyte table because the query pattern changed is exactly the
    * job this makes unnecessary.
    */
  def qPartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"),
        to_date(col("ts")).as("day"))
    val root = tempLakeRoot() + "/events_evolve"
    Datalake.publishEvolved(
      e.filter(col("event_id") % 3 =!= 0).repartition(1),
      root, "1", Seq("event_type"))
    Datalake.publishEvolved(
      e.filter(col("event_id") % 3 === 0).repartition(1),
      root, "2", Seq("day"))
    val probes = Datalake.evolvedPrunedScan(spark, root, "day", "2024-01-10")
    probes.map { s =>
      s.df.filter(col("day") === lit("2024-01-10").cast("date"))
        .agg(count(lit(1)).cast("long").as("n_match"),
          coalesce(decSum2(col("value")).cast("double"), lit(0.0))
            .as("sum_value"))
        .select(lit(s.segment.version).as("version"),
          lit(s.segment.spec.mkString(",")).as("spec"),
          lit(s.filesTotal).as("files_total"),
          lit(s.filesScanned).as("files_scanned"),
          col("n_match"), col("sum_value"))
    }.reduce(_.unionByName(_)).orderBy(col("version"))
  }

  /** EVOLVED-TABLE OPTIMIZE (round 15c — the history-migration half of
    * the partition-evolution contract [[qPartitionEvolution]] defers):
    * the mixed-layout chain (v1 by event_type + v2 by day) is rewritten
    * by [[graft.sources.Datalake.rewriteEvolved]] into ONE day-
    * partitioned segment, after which the same day-probe prunes the
    * WHOLE table to one directory's file instead of full-scanning the
    * pre-evolution layout. Output = the probe before and after
    * migration: identical data (n_match/sum_value equal — a migration
    * that loses or doubles rows hash-fails), n_segments 2 → 1, and
    * files_scanned collapsing from (all old files + 1) to 1.
    *
    * Scale: the rewrite is the one full-table job evolution let you
    * defer until the layout matters for enough of the read traffic; the
    * probe costs are directory listings. Determinism: one writer task
    * per stage → one file per partition value, so every file count
    * replays as COUNT(DISTINCT key) in the oracle.
    */
  def qEvolveCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"),
        to_date(col("ts")).as("day"))
    val root = tempLakeRoot() + "/events_evolve_opt"
    Datalake.publishEvolved(
      e.filter(col("event_id") % 3 =!= 0).repartition(1),
      root, "1", Seq("event_type"))
    Datalake.publishEvolved(
      e.filter(col("event_id") % 3 === 0).repartition(1),
      root, "2", Seq("day"))
    def probe(stage: String): DataFrame = {
      val scans = Datalake.evolvedPrunedScan(spark, root, "day", "2024-01-10")
      val union = scans.map(_.df).reduce(_.unionByName(_))
      union.filter(col("day") === lit("2024-01-10").cast("date"))
        .agg(count(lit(1)).cast("long").as("n_match"),
          decSum2(col("value")).cast("double").as("sum_value"))
        .select(lit(stage).as("stage"),
          lit(scans.length.toLong).as("n_segments"),
          lit(scans.map(_.filesTotal).sum).as("files_total"),
          lit(scans.map(_.filesScanned).sum).as("files_scanned"),
          col("n_match"), col("sum_value"))
    }
    val pre = probe("1_pre_optimize")
    // one writer task → one file per day dir, keeping the evidence model
    // a pure function of the data (the oracle's COUNT(DISTINCT day))
    Datalake.rewriteEvolved(spark, root, "3", Seq("day"), tasks = Some(1))
    pre.unionByName(probe("2_post_optimize")).orderBy(col("stage"))
  }

  /** CHAIN-AWARE VACUUM on an evolved table (round 16 — closes the r15
    * data-loss-shaped hole the code itself documented: `_BASE` chain
    * segments are LIVE references the manifest-current read unions over,
    * so age-based retention must never retire one). The events table is
    * published as a three-segment chain (v1 by event_type, v2 and v3 by
    * day), then `vacuum(keepLast = 1)` runs TWICE:
    *
    *  1. on the live chain — retention wants to drop v1/v2 (older than
    *     keepLast), but both are `_BASE` ancestors of current v3, so the
    *     chain walk pins them: ZERO versions dropped and the full-table
    *     read is byte-identical after the sweep (pre-fix this deleted
    *     v1/v2 and the read died on a missing path);
    *  2. after [[graft.sources.Datalake.rewriteEvolved]] migrates the
    *     chain into one segment — v1/v2/v3 are no longer referenced by
    *     anything, so the SAME retention policy now legitimately retires
    *     all three, and the read is still identical.
    *
    * Output = one evidence row per stage (versions dropped, versions on
    * disk, exact full-table row count + decimal sum). Each stage's
    * aggregate is MATERIALIZED before the next protocol step (1-row
    * collect — stage 2's vacuum deletes the dirs stage 1's lazy plan
    * would re-read). A vacuum that over-deletes hash-fails on the read;
    * one that under-deletes hash-fails on n_versions.
    *
    * Scale: the chain walk reads one `_BASE` file per segment — catalog-
    * sized driver work; retention stays a lake-side GC decision with the
    * same recursive-delete cost as before.
    */
  def qEvolveVacuum(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        to_date(col("ts")).as("day"))
    val root = tempLakeRoot() + "/events_evolve_vac"
    Datalake.publishEvolved(e.filter(col("event_id") % 3 === 0)
      .repartition(1), root, "1", Seq("event_type"))
    Datalake.publishEvolved(e.filter(col("event_id") % 3 === 1)
      .repartition(1), root, "2", Seq("day"))
    Datalake.publishEvolved(e.filter(col("event_id") % 3 === 2)
      .repartition(1), root, "3", Seq("day"))
    def evidence(stage: String,
        dropped: Long): (String, Long, Long, Long, Double) = {
      val r = Datalake.readEvolved(spark, root)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          decSum2(col("value")).cast("double").as("sum_value"))
        .collect()(0)
      (stage, dropped,
        Datalake.listVersions(spark, root).length.toLong,
        r.getLong(0), r.getDouble(1))
    }
    val dropA = Datalake.vacuum(spark, root, keepLast = 1)
    val a = evidence("1_chain_pinned", dropA.length.toLong)
    Datalake.rewriteEvolved(spark, root, "4", Seq("day"), tasks = Some(1))
    val dropB = Datalake.vacuum(spark, root, keepLast = 1)
    val b = evidence("2_post_rewrite", dropB.length.toLong)
    Seq(a, b)
      .toDF("stage", "n_dropped", "n_versions", "n_rows", "sum_value")
      .orderBy(col("stage"))
  }

  /** PER-SEGMENT DELETION VECTORS ON AN EVOLVED CHAIN (round 17 — r16
    * verdict #5: `deleteWhere` used to refuse evolved chains loudly,
    * forcing a full `rewriteEvolved` to delete one row from a long-lived
    * evolved table). The lifecycle this row hash-proves:
    *
    *  1. a two-segment chain (v1 by event_type, v2 by day) takes a
    *     row-level `deleteWhere` — ONE root-relative position sidecar
    *     covering rows of BOTH segments, zero data files touched;
    *  2. a THIRD segment appends AFTER the delete
    *     ([[graft.sources.Datalake.publishEvolved]] carries the live
    *     vector forward — v3's rows arrive undeleted, and crucially the
    *     v3 rows matching the FIRST predicate stay live: deletes are
    *     point-in-time commits, not standing filters);
    *  3. a SECOND accumulating delete runs over the full three-segment
    *     chain, and the readback aggregates the survivors through the
    *     DV-aware `readPublished`.
    *
    * The oracle rebuilds the exact survivor algebra from the raw table
    * ((seg1 ∪ seg2) \ pred1 ∪ seg3, all \ pred2) plus the two vector
    * cardinalities as scalar subqueries — a dropped vector after the
    * append, a delete bleeding into v3, or a resurrected row all
    * hash-fail. Scale: each delete is O(matched positions) sidecar IO +
    * one manifest swap; the 100 TB row-delete story now covers evolved
    * tables.
    */
  def qEvolveDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        to_date(col("ts")).as("day"))
    val root = tempLakeRoot() + "/events_evolve_del"
    Datalake.publishEvolved(e.filter(col("event_id") % 3 === 0)
      .repartition(1), root, "1", Seq("event_type"))
    Datalake.publishEvolved(e.filter(col("event_id") % 3 === 1)
      .repartition(1), root, "2", Seq("day"))
    val nPosV1 = Datalake.deleteWhere(spark, root,
      col("event_id") % 10 === 0)
    Datalake.publishEvolved(e.filter(col("event_id") % 3 === 2)
      .repartition(1), root, "3", Seq("day"))
    val nPosTotal = Datalake.deleteWhere(spark, root,
      col("value") > 400.0)
    Datalake.readPublished(spark, root)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        decSum2(col("value")).cast("double").as("sum_value"))
      .select(col("event_type"), col("n_rows"), col("sum_value"),
        lit(nPosV1).as("n_pos_v1"), lit(nPosTotal).as("n_pos_total"))
      .orderBy(col("event_type"))
  }

  /** DELETION VECTORS end-to-end (r13 — the Delta/Iceberg row-level
    * delete without rewriting data files): orders is published as 8
    * files, then TWO accumulating `Datalake.deleteWhere` commits mark
    * every 10th key and every high-value order deleted — each commit
    * writes only a small `_dv/` position sidecar and a manifest swap.
    * The readback aggregates the surviving rows per priority through the
    * DV-aware `readPublished`; the files_before/files_after evidence
    * columns pin that the delete touched ZERO data files (both 8 — the
    * whole point: a 0.1% delete on a 100 TB table is a seconds-scale
    * sidecar commit, not an hours-scale rewrite). A resurrected or
    * over-deleted row hash-fails against the oracle's plain
    * NOT(p1) AND NOT(p2) aggregate. DatalakeSpec pins the protocol
    * edges: accumulation, OPTIMIZE folding the vector into its rewrite,
    * vacuum retiring only unreferenced vectors.
    */
  def qDeletionVectors(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val root = tempLakeRoot() + "/orders_dv"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .repartition(8) // deterministic file count for the evidence columns
    Datalake.publish(o, root, "1")
    val filesBefore = Datalake.dataFiles(spark, root, "1").length.toLong
    Datalake.deleteWhere(spark, root, col("o_orderkey") % 10 === 0)
    Datalake.deleteWhere(spark, root, col("o_totalprice") > 200000.0)
    val filesAfter = Datalake.dataFiles(spark, root, "1").length.toLong
    Datalake.readPublished(spark, root)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        decSum2(col("o_totalprice")).cast("double").as("revenue"))
      .select(col("o_orderpriority"), lit(filesBefore).as("files_before"),
        lit(filesAfter).as("files_after"), col("n_rows"), col("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Vacuum + cross-version schema evolution (round 9 — completes the
    * lakehouse story): publish THREE versioned snapshots of orders —
    * v3 ADDS a column (o_orderpriority, the schema-evolution event) —
    * vacuum with keepLast=2, then read the RETAINED versions through one
    * mergeSchema frame and aggregate per version. Everything the driver
    * hashes is a post-vacuum fact: v1's rows appearing would mean vacuum
    * did not delete (extra output rows → hash fail), a changed retained
    * sum would mean vacuum touched immutable version dirs, a non-zero
    * v2 priority count would mean the evolved schema misread old files,
    * and n_versions_left re-counts the directories on disk. The
    * keep-current safety rule (vacuum never deletes the manifest target)
    * is spec-pinned in DatalakeSpec with a manifest pinned to an old
    * version.
    *
    * Scale: publishes are the lakehouse commit writes; vacuum is a
    * catalog-sized listing + recursive deletes; the audit read is one
    * scan of the retained versions with footer-merged schemas.
    */
  def qVacuum(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
    val root = tempLakeRoot() + "/orders_vacuum"
    Datalake.publish(o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice")), root, "1")
    Datalake.publish(o.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"), col("o_totalprice")), root, "2")
    Datalake.publish(o.filter(col("o_orderkey") % 3 =!= 0), root, "3")
    Datalake.vacuum(spark, root, keepLast = 2)
    val left = Datalake.listVersions(spark, root)
    Datalake.readVersionsMerged(spark, root, left)
      .withColumn("version",
        regexp_extract(input_file_name(), "v=([^/]+)/", 1))
      .groupBy(col("version"))
      .agg(count(lit(1)).as("n_rows"),
        decSum2(col("o_totalprice")).cast("double").as("sum_price"),
        count(col("o_orderpriority")).as("n_with_priority"))
      .withColumn("n_versions_left", lit(left.length.toLong))
      .orderBy(col("version"))
  }

  /** COMMIT-LOG RETENTION end-to-end (round 14 — the vacuum companion
    * the CAS family was missing: publish/delete/stream-epoch/merge all
    * append `_commits/` records forever, and the per-commit listing is
    * what degrades on a long-lived 100 TB table). Five transactional
    * appends build the table (one record each), `vacuumCommits` sweeps
    * all but the newest two (the 3-removed literal), and the protocol
    * must CONTINUE over the truncated log — a deletion-vector commit
    * claims the next sequence (the 6 literal) and the survivor set
    * reflects it. A retention bug shows as a wrong literal (swept too
    * much / too little / dropped the newest record) or as resurrected /
    * missing rows.
    *
    * Scale: retention is one directory listing + O(swept) deletes,
    * catalog-sized; the appends are the version model's ordinary
    * write path.
    */
  def qVacuumCommits(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = tempLakeRoot() + "/orders_logvac"
    (0 until 5).foreach { i =>
      Datalake.transact(spark, root, {
        case Some(cur) => cur.unionByName(
          o.filter(col("o_orderkey") % 5 === i))
        case None => o.filter(col("o_orderkey") % 5 === i)
      })
    }
    val removed = Datalake.vacuumCommits(spark, root, keepLast = 2).toLong
    Datalake.deleteWhere(spark, root, col("o_orderkey") % 100 === 0)
    val latest = Datalake.latestCommitSeq(spark, root)
    Datalake.readPublished(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct"),
        decSum2(col("o_totalprice")).cast("double").as("sum_price"))
      .withColumn("n_removed", lit(removed))
      .withColumn("latest_seq", lit(latest))
  }

  /** Time travel through the manifest protocol (round 8): publish two
    * versioned snapshots of orders into a lake table, then read version 1
    * AS OF (Datalake.readVersion — immutable version dirs, the
    * Iceberg/Delta snapshot-read shape on plain storage) against the
    * manifest's current version (Datalake.readPublished must resolve v2),
    * and emit the per-status drift summary: row counts and exact-decimal
    * revenue totals per added/removed/changed class. The query EXERCISES
    * the atomic-publish protocol inside the driver's oracle gate — the
    * published parquet round-trips through the lake and a wrong manifest
    * resolution or version bleed hash-fails the row counts.
    *
    * Scale: same single co-partitioned full-outer join as q_table_diff,
    * then an aggregate onto ≤3 rows; publish writes are the lakehouse
    * commit itself.
    */
  def qTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = tempLakeRoot() + "/orders_versioned"
    Datalake.publish(o.filter(col("o_orderkey") % 7 =!= 0), root, "1")
    Datalake.publish(
      o.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(5.0))
            .otherwise(col("o_totalprice")).as("o_totalprice")),
      root, "2")
    val asOf1 = Datalake.readVersion(spark, root, "1")
      .select(col("o_orderkey"), lit(1).as("in_old"),
        col("o_totalprice").as("old_price"))
    val current = Datalake.readPublished(spark, root)
      .select(col("o_orderkey"), lit(1).as("in_new"),
        col("o_totalprice").as("new_price"))
    asOf1.join(current.hint("shuffle_hash"), Seq("o_orderkey"), "full_outer")
      .withColumn("status",
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(!(col("old_price") <=> col("new_price")), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"),
        decSum2(col("old_price")).cast("double").as("sum_old"),
        decSum2(col("new_price")).cast("double").as("sum_new"))
      .orderBy(col("status"))
  }

  /** OPTIMIZE as a versioned lakehouse operation (round 11): publish
    * orders deliberately fragmented into 64 small files (the classic
    * many-small-writers symptom), run `Datalake.optimize` — which
    * rewrites the current version into 4 range-clustered files WITH a
    * stats sidecar and publishes the rewrite as a NEW atomic manifest
    * version — then aggregate through `readPublished`, which now
    * resolves the optimized version. The aggregate's oracle is the plain
    * orders query VERBATIM: a rewrite that loses/duplicates a row, a
    * manifest that still points at the old version, or a botched
    * clustering shuffle all hash-fail. files_before/files_after carry
    * the compaction evidence (64 → 4, both deterministic: round-robin
    * and range repartition write exactly one file per non-empty
    * partition).
    *
    * Scale: OPTIMIZE is one table shuffle, paid once, that every later
    * read amortizes (fewer tasks, fewer footers, working stats
    * envelopes); the old version stays for time travel until vacuum.
    */
  def qOptimize(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val root = tempLakeRoot() + "/orders_optimize"
    Datalake.publish(o.repartition(64), root, "1")
    val before = Datalake.dataFiles(spark, root, "1").length
    val newV = Datalake.optimize(spark, root, nFiles = 4,
      clusterBy = Seq("o_orderkey"), statsCols = Seq("o_orderkey"))
    val after = Datalake.dataFiles(spark, root, newV).length
    Datalake.readPublished(spark, root)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        decSum2(col("o_totalprice")).cast("double").as("revenue"))
      .withColumn("files_before", lit(before.toLong))
      .withColumn("files_after", lit(after.toLong))
      .orderBy(col("o_orderpriority"))
  }

  /** CONCURRENT-WRITER publish (round 12 — verdict #2, the last lakehouse
    * protocol piece): two writers RACE to append disjoint halves of orders
    * (even / odd keys) to the same table through `Datalake.transact` — the
    * optimistic read-modify-write loop over the CAS commit log. A real
    * barrier starts both threads together, so whichever interleaving the
    * scheduler picks, exactly one writer loses the first commit race,
    * re-reads the winner's state and re-derives — the final table contains
    * BOTH writers' rows exactly once (n_rows == n_distinct per writer
    * pins it; a lost update would drop a whole half, a blind double-apply
    * would double rows) and the log holds exactly 2 commits regardless of
    * schedule (losing claims create no record). The conflict-ABORT arm is
    * exercised deterministically: a single-shot `publishCas` against a
    * stale snapshot (expectedSeq=0 when the log is at 2) must refuse with
    * ConcurrentCommitException and roll back its staged files —
    * stale_publish_aborted carries that evidence into the hash.
    *
    * Scale: the commit step is O(1) (one record create + one manifest
    * PUT) regardless of table size; conflict cost is per-writer restaging,
    * never per-row. DatalakeSpec pins the abort and crash-repair paths.
    */
  def qConcurrentPublish(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = tempLakeRoot() + "/orders_cas"
    def slice(par: Int): DataFrame = o.filter(col("o_orderkey") % 2 === par)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(par: Int): Thread = {
      val t = new Thread(() => {
        try {
          barrier.await()
          Datalake.transact(spark, root, {
            case Some(cur) => cur.unionByName(slice(par))
            case None => slice(par)
          })
          ()
        } catch { case e: Throwable => errs.add(e); () }
      }, s"graft-cas-writer-$par")
      t.start(); t
    }
    val threads = Seq(writer(0), writer(1))
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
    val aborted =
      try { Datalake.publishCas(o.limit(1), root, expectedSeq = 0L); 0L }
      catch { case _: Datalake.ConcurrentCommitException => 1L }
    val commits = Datalake.latestCommitSeq(spark, root)
    Datalake.readPublished(spark, root)
      .groupBy((col("o_orderkey") % 2).cast("long").as("writer"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct"),
        decSum2(col("o_totalprice")).cast("double").as("sum_price"))
      .withColumn("n_commits", lit(commits))
      .withColumn("stale_publish_aborted", lit(aborted))
      .orderBy(col("writer"))
  }

  /** MERGE INTO as a COMMITTED lake operation (round 14 — r13 verdict #3:
    * q_merge_upsert/q_merge_delete computed MERGE semantics but never
    * landed them as a version). The full production shape inside the
    * gate: publish a base version, put a LIVE DELETION VECTOR under it
    * (every 7th customer's orders deleted — the merge must fold the
    * vector, not resurrect those rows), then `Datalake.mergeInto` a
    * delta carrying all three ANSI arms (matched-update +10.0/MERGED,
    * unmatched-insert, matched-delete on every 10th key) and read the
    * committed result back through `readPublished`. The oracle replays
    * the identical FULL OUTER JOIN + CASE over orders with the DV
    * predicate folded into the base CTE — a resurrection, a lost arm, or
    * a version-bleed each hash-fail. DatalakeSpec pins the DV interplay
    * and the retired-vector token transition.
    *
    * Scale: one full-outer shuffle-hash join (delta build side), zero
    * extra exchanges over the non-committed q_merge_upsert; the commit
    * adds one directory write + one manifest PUT.
    */
  def qMergePublish(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val root = tempLakeRoot() + "/orders_merge"
    val base = o.filter(col("o_orderkey") % 3 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
    Datalake.publish(base, root, "1", Nil, Seq("o_orderkey"))
    Datalake.deleteWhere(spark, root, col("o_custkey") % 7 === 0)
    val delta = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + lit(10.0)).as("o_totalprice"),
        lit("MERGED").as("o_orderpriority"),
        when(col("o_orderkey") % 10 === 0, lit("delete"))
          .otherwise(lit("upsert")).as("d_op"))
    Datalake.mergeInto(spark, root, delta, Seq("o_orderkey"),
      deleteWhen = Some(col("d_op") === "delete"),
      statsCols = Seq("o_orderkey"))
    Datalake.readPublished(spark, root)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .orderBy(col("o_orderkey"))
  }

  /** CONCURRENT MERGE writers racing on one table (round 14 — completes
    * the multi-writer story: publish, delete, and stream epochs all ride
    * the CAS log; `mergeInto` alone was in-process-safe only).
    * `Datalake.mergeTransact` runs the shared three-arm merge as an
    * optimistic transaction: two barrier-synchronized mergers with
    * COMMUTING deltas (disjoint key classes — A upserts every key ≡ 2
    * mod 10 at +10.0; B upserts ≡ 7 at +20.0 and DELETES ≡ 5) race the
    * claim; whichever loses re-reads the winner's committed state and
    * re-derives its merge over it, so the final table carries BOTH
    * writers' arms exactly once under every schedule — a lost update
    * drops one writer's whole arm set, a blind double-apply doubles the
    * inserted keys, and either hash-fails. The log holds exactly 2
    * records (losing claims create none).
    *
    * Scale: conflict cost is per-writer re-derivation of ONE merge
    * (join over table + small delta), never per-row bookkeeping; the
    * commit step stays O(1).
    */
  def qMergeConcurrent(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = tempLakeRoot() + "/orders_merge_cas"
    Datalake.publish(o.filter(col("o_orderkey") % 3 =!= 0), root, "1")
    val deltaA = o.filter(col("o_orderkey") % 10 === 2)
      .select(col("o_orderkey"),
        (col("o_totalprice") + lit(10.0)).as("o_totalprice"),
        lit("up").as("d_op"))
    val deltaB = o.filter(col("o_orderkey") % 10 === 7)
      .select(col("o_orderkey"),
        (col("o_totalprice") + lit(20.0)).as("o_totalprice"),
        lit("up").as("d_op"))
      .unionByName(o.filter(col("o_orderkey") % 10 === 5)
        .select(col("o_orderkey"), col("o_totalprice"),
          lit("del").as("d_op")))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(("a", deltaA), ("b", deltaB)).map { case (tag, d) =>
      val t = new Thread(() => {
        try {
          barrier.await()
          Datalake.mergeTransact(spark, root, d, Seq("o_orderkey"),
            deleteWhen = Some(col("d_op") === "del"))
          ()
        } catch { case e: Throwable => errs.add(e); () }
      }, s"graft-cas-merger-$tag")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
    val commits = Datalake.latestCommitSeq(spark, root)
    Datalake.readPublished(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct"),
        decSum2(col("o_totalprice")).cast("double").as("sum_price"))
      .withColumn("n_commits", lit(commits))
  }

  /** CONCURRENT row-level DELETEs racing on one deletion-vector table
    * (round 14 — r13 verdict #2, the last standing protocol defect:
    * deleteWhere serialized concurrent deleters with an in-process lock
    * only, so two deleters in different JVMs could lose positions). The
    * delete path now rides the `_commits/` log: each delete snapshots the
    * manifest, stages its merged vector, and CLAIMS the next record —
    * rename-without-overwrite arbitration, so of two racing deleters
    * exactly one wins the sequence and the loser re-reads the winner's
    * vector before retrying. Here two barrier-synchronized deleters race
    * different predicates (every 10th key; price > 200k) on a published
    * orders table; whatever the schedule, the survivor set must exclude
    * BOTH predicates' rows (a lost update resurrects one whole predicate)
    * and the log must hold exactly 2 records. The cross-process
    * interleaving no in-process schedule can produce (competitor commits
    * between snapshot and claim) is exercised via a forced stale-sequence
    * attempt: it must LOSE its claim, roll back its staged vector, and
    * leave the table untouched — stale_delete_lost carries that into the
    * hash; its predicate (key = -1 matches nothing) makes a hypothetical
    * wrongly-won claim harmless AND visible (n_commits would read 3).
    *
    * Scale: a delete commit is O(matched positions) staging + one O(1)
    * record create; conflict cost is per-deleter re-staging, never
    * per-row of the table. DatalakeSpec pins the rollback arm and the
    * maintenance-op lost-update window this round closed alongside.
    */
  def qConcurrentDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = tempLakeRoot() + "/orders_del_cas"
    Datalake.publish(o, root, "1")
    val preds = Seq(
      col("o_orderkey") % 10 === 0,
      col("o_totalprice") > 200000.0)
    val barrier = new java.util.concurrent.CyclicBarrier(preds.length)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = preds.zipWithIndex.map { case (p, i) =>
      val t = new Thread(() => {
        try { barrier.await(); Datalake.deleteWhere(spark, root, p); () }
        catch { case e: Throwable => errs.add(e); () }
      }, s"graft-cas-deleter-$i")
      t.start(); t
    }
    threads.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
    // forced cross-process-shaped conflict: stale sequence snapshot →
    // the claim must lose and roll back (None), the survivor set and
    // commit count must be exactly what the two real deletes left
    val staleLost =
      if (Datalake.deleteWhereAttempt(spark, root,
        col("o_orderkey") === -1, seqOverride = Some(0L)).isEmpty) 1L
      else 0L
    val commits = Datalake.latestCommitSeq(spark, root)
    Datalake.readPublished(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct"),
        decSum2(col("o_totalprice")).cast("double").as("sum_price"))
      .withColumn("n_commits", lit(commits))
      .withColumn("stale_delete_lost", lit(staleLost))
  }

  /** SHALLOW CLONE as a driver row (round 11 — Datalake.shallowClone):
    * publish orders as a source table, clone it (one manifest PUT, ZERO
    * data copied — n_own_versions = 0 at clone time proves the clone has
    * no version dirs of its own yet still serves every source row), then
    * DIVERGE the clone with its own publish (+5.0 on every third order)
    * and re-read both tables. The three snapshot rows hash-pin the whole
    * contract: clone_at_clone must equal the source (a broken ref
    * pointer or partial copy changes n_rows/sum), clone_after must carry
    * the modification with exactly ONE own version (copy-on-write: the
    * divergence wrote one new version dir, nothing else), and src_after
    * must be UNCHANGED by the clone's entire lifecycle (isolation). The
    * oracle reconstructs all three from the orders table with the same
    * exact-decimal sums.
    *
    * Scale: clone is O(1) in table size — the entire point; at 100 TB a
    * deep copy is a day of cluster IO, a shallow clone is one PUT. The
    * vacuum hazard (source retention can break undiverged clones) is
    * documented on shallowClone and spec-pinned in DatalakeSpec.
    */
  def qShallowClone(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val base = tempLakeRoot()
    val src = base + "/orders_clone_src"
    val dst = base + "/orders_clone_dst"
    Datalake.publish(o, src, "1")
    Datalake.shallowClone(spark, src, dst)
    val ownAtClone = Datalake.listVersions(spark, dst).length
    def snap(df: DataFrame, name: String, own: Int): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          decSum2(col("o_totalprice")).cast("double").as("sum_price"))
        .select(lit(name).as("snapshot"), col("n_rows"), col("sum_price"),
          lit(own.toLong).as("n_own_versions"))
    val atClone = snap(Datalake.readPublished(spark, dst),
      "clone_at_clone", ownAtClone)
    Datalake.publish(
      Datalake.readPublished(spark, dst)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(5.0))
            .otherwise(col("o_totalprice")).as("o_totalprice")),
      dst, "2")
    val after = snap(Datalake.readPublished(spark, dst), "clone_after",
      Datalake.listVersions(spark, dst).length)
    val srcAfter = snap(Datalake.readPublished(spark, src), "src_after",
      Datalake.listVersions(spark, src).length)
    atClone.unionByName(after).unionByName(srcAfter)
      .orderBy(col("snapshot"))
  }

  /** COMMIT-LOG CHECKPOINT (round 15 — r14 verdict #1, the Delta
    * `_last_checkpoint` shape): twelve transactional appends build the
    * table (records 1..12; the claim at sequence 10 rolls the pointer),
    * then resolution is measured — with the pointer it PROBES records
    * 11 and 12 by existence (`n_examined` = 2 probes + 1 pointer read
    * = 3) instead of listing all 12 live records (`records_live`). The
    * aggregate over `readPublished` re-proves the pointer changed only
    * the resolution COST, never the resolved state: a wrong probe base
    * or an off-by-one at the tail resolves a stale snapshot and
    * hash-fails the row mass.
    *
    * Scale: this is the 100 TB liveness fix — a long-lived multi-writer
    * table pays O(commits-since-checkpoint) point lookups per
    * read/claim/transact instead of O(live records) directory listing
    * (half a million records a year at one commit a minute).
    */
  def qCommitCheckpoint(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = tempLakeRoot() + "/orders_ckpt"
    (0 until 12).foreach { i =>
      Datalake.transact(spark, root, {
        case Some(cur) => cur.unionByName(
          o.filter(col("o_orderkey") % 12 === i))
        case None => o.filter(col("o_orderkey") % 12 === i)
      })
    }
    val live = Datalake.commitLogSize(spark, root)
    val (latest, examined, usedCk) = Datalake.commitResolution(spark, root)
    Datalake.readPublished(spark, root)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_distinct"),
        decSum2(col("o_totalprice")).cast("double").as("sum_price"))
      .withColumn("latest_seq", lit(latest))
      .withColumn("records_live", lit(live))
      .withColumn("n_examined", lit(examined))
      .withColumn("used_checkpoint", lit(if (usedCk) 1L else 0L))
  }

  /** TIMESTAMP TIME TRAVEL (round 15 — r14 verdict #2): three snapshots
    * published with EXPLICIT commit timestamps (1000/2000/3000 — the
    * deterministic backfill form; the reference's per-day dirs,
    * compute_usage.py:15,25, are exactly date-addressed reads), then
    * four AS OF probes spanning the resolution rule's cases: strictly
    * between commits (1500 → v1), exactly ON a commit (2000 → v2, the ≤
    * boundary), between again (2500 → v2), and after everything
    * (9000 → v3). Each probe emits the resolved version name plus the
    * snapshot's row mass — a wrong resolution (off-boundary, wrong tie
    * direction, history/version mix-up) changes `resolved_version` AND
    * the aggregate, hash-failing both.
    *
    * Scale: resolution reads the catalog-sized `_history/` dir only —
    * never data; the probes are ordinary version reads.
    */
  def qTimeTravelTs(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
    val root = tempLakeRoot() + "/orders_asof"
    Datalake.publishAt(o.filter(col("o_orderkey") % 7 =!= 0), root, "1",
      commitTsMillis = 1000L)
    Datalake.publishAt(
      o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(5.0))
            .otherwise(col("o_totalprice")).as("o_totalprice")),
      root, "2", commitTsMillis = 2000L)
    Datalake.publishAt(o.filter(col("o_orderkey") % 5 =!= 0), root, "3",
      commitTsMillis = 3000L)
    Seq(1500L, 2000L, 2500L, 9000L).map { ts =>
      val v = Datalake.versionAsOf(spark, root, ts).getOrElse(
        throw new IllegalStateException(s"no version as of $ts"))
      Datalake.readAsOf(spark, root, ts)
        .agg(count(lit(1)).as("n_rows"),
          decSum2(col("o_totalprice")).cast("double").as("sum_price"))
        .select(lit(ts).as("probe_ts"), lit(v).as("resolved_version"),
          col("n_rows"), col("sum_price"))
    }.reduce(_.unionByName(_)).orderBy(col("probe_ts"))
  }

  /** BITEMPORAL read (round 15): the two time axes the lake now carries,
    * COMPOSED — valid time (when a fact was true in the world: the SCD2
    * `valid_from` chain) × system time (when the lake knew it:
    * [[Datalake.publishAt]] commit timestamps). The question neither
    * axis answers alone: "what did we believe user U's state at
    * valid-time V was, as of system-time T?" — the audit/backtest read
    * (reproduce yesterday's model features even though late events have
    * since rewritten history).
    *
    * Construction: events arrive in three deterministic ingest waves
    * (`event_id % 3` — wave k's history is built from waves ≤ k), each
    * wave's rebuilt SCD2 history published with a synthetic system
    * timestamp. The probe resolves each knowledge time via [[Datalake
    * .readAsOf]], then per user takes the newest `valid_from ≤ V` —
    * one window over the catalog-resolved snapshot. Late-arriving
    * events make earlier knowledge times genuinely WRONG about V (not
    * just incomplete), which is what the oracle re-proves row by row.
    *
    * Scale: history rebuilds are one window each over the fact table;
    * the probe is a window over one resolved version (never a scan of
    * all versions) — system-time resolution is catalog-sized.
    */
  def qBitemporal(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
    def history(wave: Int): DataFrame = {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      ev.filter(col("event_id") % 3 <= wave)
        .select(col("user_id"), col("ts"), col("event_type"),
          col("event_id"), lag(col("event_type"), 1).over(w).as("prev"),
          row_number().over(w).as("rn"))
        .filter(col("rn") === 1 || !(col("prev") <=> col("event_type")))
        .select(col("user_id"), col("event_type").as("state"),
          col("ts").as("valid_from"), col("event_id").as("change_id"))
    }
    val root = tempLakeRoot() + "/bitemporal"
    Datalake.publishAt(history(0), root, "1", commitTsMillis = 1000L)
    Datalake.publishAt(history(1), root, "2", commitTsMillis = 2000L)
    Datalake.publishAt(history(2), root, "3", commitTsMillis = 3000L)
    val v = lit("2024-01-16 00:00:00").cast("timestamp")
    val w2 = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from").desc, col("change_id").desc)
    Seq(1500L, 2500L, 3500L).map { t =>
      Datalake.readAsOf(spark, root, t)
        .filter(col("valid_from") <= v)
        .withColumn("rn2", row_number().over(w2))
        .filter(col("rn2") === 1)
        .select(lit(t).as("known_at"), col("user_id"), col("state"),
          col("valid_from"))
    }.reduce(_.unionByName(_))
      .orderBy(col("known_at"), col("user_id"))
  }

  /** BOUNDED TASK RETRY in a composed pipeline (round 15 — r14 "missing"
    * #2: the reference wraps every DAG task in `retries: 1, retry_delay`,
    * DAG_Project.py:17-20). A two-stage pipeline runs under
    * [[graft.ops.Pipeline.retry]]: the format stage lands clean; the
    * publish stage's FIRST attempt stages a half-written directory and
    * dies (the injected transient — exactly the failure shape a retry
    * exists for), the retry re-runs it and the idempotent
    * staging-overwrite + atomic manifest swap absorbs the wreckage. The
    * hashed output reads back through the manifest — so the torn first
    * attempt must be invisible — and carries both stages' attempt counts
    * (format=1, publish=2) as evidence; a wrapper that retried the wrong
    * stage, swallowed the failure, or double-applied shows up in one of
    * the three.
    *
    * Scale: the wrapper is driver-side control flow around whole stages
    * — zero change to any data path; idempotence comes from the lake's
    * own commit protocol, not from a rollback layer.
    */
  def qPipelineRetry(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Agg.decSum2
    import graft.ops.Pipeline
    val root = tempLakeRoot() + "/retry"
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    val (_, aFmt) = Pipeline.retry("format", retries = 1) {
      Datalake.writeParquet(o, s"$root/fmt")
    }
    var transientLeft = 1
    val (_, aPub) = Pipeline.retry("publish_usage", retries = 1) {
      val usage = spark.read.parquet(s"$root/fmt")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          decSum2(col("o_totalprice")).cast("double").as("revenue"))
      if (transientLeft > 0) {
        transientLeft -= 1
        // the torn first attempt: data staged into the version dir, then
        // the transient hits BEFORE the manifest swap
        usage.limit(2).write.mode("overwrite")
          .parquet(s"$root/usage/v=1")
        throw new java.io.IOException("injected transient after staging")
      }
      Datalake.publish(usage, s"$root/usage", "1")
    }
    Datalake.readPublished(spark, s"$root/usage")
      .withColumn("attempts_format", lit(aFmt.toLong))
      .withColumn("attempts_publish", lit(aPub.toLong))
      .orderBy(col("o_orderpriority"))
  }

  /** MERGE WITH SCHEMA EVOLUTION (round 15 — r14 verdict #3, Delta's
    * `autoMerge`: a CDC feed that grows a column today breaks a
    * strict-schema apply stream). The delta carries `o_orderpriority`,
    * a column the published base never had; the evolving merge appends
    * it to the table schema — matched and inserted rows carry the
    * delta's value, pre-existing unmatched base rows null-backfill. The
    * whole merged table reads back through `readPublished`, so a
    * dropped column, a wrong backfill, or a value landing on the wrong
    * arm hash-fails row-by-row against the FULL OUTER JOIN oracle.
    *
    * Scale: identical single full-outer shuffle-hash join as
    * q_merge_upsert — evolution is a select-list change, zero extra
    * exchanges.
    */
  def qMergeEvolve(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val root = tempLakeRoot() + "/orders_evolve"
    Datalake.publish(
      o.filter(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_totalprice")),
      root, "1")
    val delta = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") + lit(10.0)).as("o_totalprice"),
        col("o_orderpriority"))
    Datalake.mergeInto(spark, root, delta, Seq("o_orderkey"),
      evolveSchema = true)
    Datalake.readPublished(spark, root)
      .withColumn("action",
        when(col("o_orderpriority").isNull, lit("kept"))
          .when(col("o_orderkey") % 3 === 0, lit("inserted"))
          .otherwise(lit("updated")))
  }

  // ---- Registry rows and their DuckDB oracles ----

  /** The q_datalake_pipeline oracle; q_stream_datalake, q_stream_publish
    * replay it verbatim.
    * the full DAG (raw JSON → coerce+dedup → usage stats) reduced to its
    * data semantics: the lake-layer round trips are lossless (micros longs
    * through JSON, parquet elsewhere), so DuckDB computes the usage
    * aggregate straight off the source table
    */
  private[graft] def datalakePipelineOracle: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |    COALESCE(value, 0.0) AS value_clean,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
      |    CAST(ts AS TIMESTAMP) AS tsx
      |  FROM events),
      |d AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY tsx DESC, event_id DESC) AS rn FROM e)
      |SELECT event_type, event_date, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value_clean AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM d WHERE rn = 1 AND value_clean > 0
      |GROUP BY event_type, event_date
      |ORDER BY event_type, event_date""".stripMargin

  /** The row count, distinct keys and exact price sum of an `orders`
    * survivor set — the content check of the concurrent-commit rows. */
  private val tableStatsCols =
    """COUNT(*) AS n_rows,
      |  COUNT(DISTINCT o_orderkey) AS n_distinct,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_price""".stripMargin

  /** The committed MERGE's oracle: the FULL OUTER JOIN + CASE of a
    * keyed upsert with a delete arm (key ≡ 0 mod 10), over a base whose
    * `FROM` clause is `baseFrom` — the base filter is the one part the
    * merge rows vary. */
  private[graft] def mergeThroughOracle(baseFrom: String): String =
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
       |  $baseFrom
       |), delta AS (
       |  SELECT o_orderkey, o_custkey,
       |    o_totalprice + 10.0 AS o_totalprice,
       |    'MERGED' AS o_orderpriority,
       |    CASE WHEN o_orderkey % 10 = 0 THEN 'delete' ELSE 'upsert'
       |      END AS d_op
       |  FROM orders WHERE o_orderkey % 2 = 0
       |)
       |SELECT COALESCE(d.o_orderkey, b.o_orderkey) AS o_orderkey,
       |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_custkey
       |    ELSE b.o_custkey END AS o_custkey,
       |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_totalprice
       |    ELSE b.o_totalprice END AS o_totalprice,
       |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderpriority
       |    ELSE b.o_orderpriority END AS o_orderpriority
       |FROM base b FULL OUTER JOIN delta d
       |  ON b.o_orderkey = d.o_orderkey
       |WHERE NOT (d.o_orderkey IS NOT NULL AND d.d_op = 'delete')
       |ORDER BY 1""".stripMargin

  /** The in-session MERGE oracles (q_merge_upsert, q_merge_delete):
    * presence-marked base and delta, the action-labelled FULL OUTER
    * JOIN. `deltaCols` extends the delta's select list, `where` (empty
    * or one line ending in a newline) filters the joined rows. */
  private def mergeArmsOracle(deltaCols: String, where: String): String =
    s"""WITH base AS (SELECT o_orderkey, 1 AS in_base, o_custkey,
       |    o_totalprice, o_orderpriority
       |  FROM orders WHERE o_orderkey % 3 <> 0),
       |delta AS (SELECT o_orderkey, 1 AS in_delta,
       |    o_custkey AS d_custkey, o_totalprice + 10.0 AS d_price,
       |    'MERGED' AS d_priority$deltaCols
       |  FROM orders WHERE o_orderkey % 2 = 0)
       |SELECT COALESCE(base.o_orderkey, delta.o_orderkey) AS o_orderkey,
       |  COALESCE(d_custkey, o_custkey) AS o_custkey,
       |  CASE WHEN in_delta IS NOT NULL THEN d_price
       |    ELSE o_totalprice END AS o_totalprice,
       |  CASE WHEN in_delta IS NOT NULL THEN d_priority
       |    ELSE o_orderpriority END AS o_orderpriority,
       |  CASE WHEN in_base IS NULL THEN 'inserted'
       |    WHEN in_delta IS NULL THEN 'kept'
       |    ELSE 'updated' END AS action
       |FROM base FULL OUTER JOIN delta ON base.o_orderkey = delta.o_orderkey
       |${where}ORDER BY o_orderkey""".stripMargin

  /** The two table states every diff oracle compares, with presence
    * markers: `old` (keys ≢ 0 mod 7) and `new` (keys ≢ 0 mod 5, +5.0 on
    * every third key) — an exact IEEE add, so changed-ness is
    * bit-decidable in both engines. */
  private val diffStatesCtes =
    """old AS (SELECT o_orderkey, 1 AS in_old,
      |    o_totalprice AS old_price
      |  FROM orders WHERE o_orderkey % 7 <> 0),
      |new AS (SELECT o_orderkey, 1 AS in_new,
      |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5.0
      |      ELSE o_totalprice END AS new_price
      |  FROM orders WHERE o_orderkey % 5 <> 0)""".stripMargin

  /** The per-key diff class over [[diffStatesCtes]]' presence markers. */
  private val diffStatusSql =
    """CASE WHEN in_old IS NULL THEN 'added'
      |      WHEN in_new IS NULL THEN 'removed'
      |      WHEN old_price IS DISTINCT FROM new_price THEN 'changed'
      |      ELSE 'unchanged' END AS status""".stripMargin

  /** The change feed's two table versions over `orders`: `old` (keys
    * ≢ 0 mod 7) and `nu` (keys ≢ 0 mod 5, +5.0 on every third key). */
  private[graft] val feedOldCte =
    """old AS (SELECT o_orderkey, o_totalprice FROM orders
      |    WHERE o_orderkey % 7 <> 0)""".stripMargin
  private[graft] val feedNewCte =
    """nu AS (SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5.0
      |      ELSE o_totalprice END AS o_totalprice
      |  FROM orders WHERE o_orderkey % 5 <> 0)""".stripMargin

  /** `j`: [[feedOldCte]] ⟗ [[feedNewCte]] by key, each side's key and
    * price kept (`ko`/`po`, `kn`/`pn`). */
  private[graft] val feedJoinCte =
    """j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
      |    o.o_orderkey AS ko, n.o_orderkey AS kn,
      |    o.o_totalprice AS po, n.o_totalprice AS pn
      |  FROM old o FULL OUTER JOIN nu n ON o.o_orderkey = n.o_orderkey)""".stripMargin

  /** A feed's update rows from `j`: a pre- and a post-image per key on
    * both sides whose price changed, labelled `from` → `to`. */
  private[graft] def feedUpdateRows(from: String, to: String): String =
    s"""UNION ALL SELECT k, po, 'update_preimage', '$from', '$to' FROM j
       |  WHERE ko IS NOT NULL AND kn IS NOT NULL
       |    AND po IS DISTINCT FROM pn
       |UNION ALL SELECT k, pn, 'update_postimage', '$from', '$to' FROM j
       |  WHERE ko IS NOT NULL AND kn IS NOT NULL
       |    AND po IS DISTINCT FROM pn""".stripMargin

  /** The DatalakeQueries registry rows. */
  def defs: Seq[(String, QueryDef)] = Seq(
    // the full DAG (raw JSON → coerce+dedup → usage stats) reduced to its
    // data semantics: the lake-layer round trips are lossless (micros longs
    // through JSON, parquet elsewhere), so DuckDB computes the usage
    // aggregate straight off the source table
    "q_datalake_pipeline" -> fixed(qDatalakePipeline _)(datalakePipelineOracle),
    // the dual-feed DAG reduced to its data semantics: both lake round
    // trips are lossless for the columns used (micros longs through JSON;
    // long/int/varchar through CSV), so DuckDB joins the source tables
    // directly after replaying the JSON side's coerce+dedup
    "q_datalake_dual" -> fixed(qDatalakeDual _)(
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    COALESCE(value, 0.0) AS value_clean,
        |    CAST(ts AS TIMESTAMP) AS tsx
        |  FROM events),
        |d AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY tsx DESC, event_id DESC) AS rn FROM e),
        |f AS (SELECT * FROM d WHERE rn = 1 AND value_clean > 0)
        |SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value_clean AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM f JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // incremental == full recompute: the oracle is the ONE-PASS aggregate,
    // so the driver re-proves the store+delta merge exact every round
    "q_mv_incremental" -> fixed(qMvIncremental _)(
      """SELECT o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    // presence markers, not value-null checks; +5.0 is an exact IEEE add
    // so changed-ness is bit-decidable in both engines
    "q_table_diff" -> fixed(qTableDiff _)(
      s"""WITH $diffStatesCtes,
        |d AS (SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
        |    old_price, new_price,
        |    $diffStatusSql
        |  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey)
        |SELECT o_orderkey, status, old_price, new_price FROM d
        |WHERE status <> 'unchanged' ORDER BY o_orderkey""".stripMargin),
    "q_merge_upsert" -> fixed(qMergeUpsert _)(mergeArmsOracle("", "")),
    // MERGE with the DELETE arm: matched deletes (key ≡ 0 mod 10) drop
    // the base row, unmatched deletes are no-ops — the WHERE clause after
    // the full outer join IS the delete arm
    "q_merge_delete" -> fixed(qMergeDelete _)(
      mergeArmsOracle(
        ",\n    CASE WHEN o_orderkey % 10 = 0 THEN 'delete'" +
          "\n      ELSE 'upsert' END AS d_op",
        "WHERE d_op IS NULL OR d_op <> 'delete'\n")),
    // CDF replay: insert/delete one row each, updates emit PRE+POST image
    // pairs; unchanged keys emit nothing. The engine runs this through a
    // real publish → version-read round trip; the oracle replays the
    // feed classes from the same filters over orders.
    "q_change_feed" -> fixed(qChangeFeed _)(
      s"""WITH $feedOldCte,
        |$feedNewCte,
        |$feedJoinCte
        |SELECT k AS o_orderkey, pn AS o_totalprice,
        |    'insert' AS _change_type, '1' AS _from_version,
        |    '2' AS _to_version
        |  FROM j WHERE ko IS NULL
        |UNION ALL SELECT k, po, 'delete', '1', '2' FROM j WHERE kn IS NULL
        |${feedUpdateRows("1", "2")}
        |ORDER BY o_orderkey, _change_type""".stripMargin),
    // the oracle replays the SNAPSHOT RULES directly — the Spark side must
    // round-trip them through publish/readVersion/readPublished to match,
    // so a wrong manifest resolution or version bleed hash-fails here
    "q_time_travel" -> fixed(qTimeTravel _)(
      s"""WITH $diffStatesCtes,
        |d AS (SELECT $diffStatusSql, old_price, new_price
        |  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey)
        |SELECT status, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(old_price AS DECIMAL(18,2))) AS DOUBLE) AS sum_old,
        |  CAST(SUM(CAST(new_price AS DECIMAL(18,2))) AS DOUBLE) AS sum_new
        |FROM d WHERE status <> 'unchanged'
        |GROUP BY status ORDER BY status""".stripMargin),
    // AS OF TIMESTAMP: the oracle replays the resolution rule's four
    // cases directly (between / exactly-on / between / after) — a wrong
    // ≤-boundary or version mix-up changes resolved_version AND the mass
    "q_time_travel_ts" -> fixed(qTimeTravelTs _)(
      """WITH v1 AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |v2 AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(CASE WHEN o_orderkey % 3 = 0
        |        THEN o_totalprice + 5.0 ELSE o_totalprice END
        |      AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |v3 AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM orders WHERE o_orderkey % 5 <> 0)
        |SELECT CAST(1500 AS BIGINT) AS probe_ts, '1' AS resolved_version,
        |  n_rows, sum_price FROM v1
        |UNION ALL SELECT CAST(2000 AS BIGINT), '2', n_rows, sum_price
        |  FROM v2
        |UNION ALL SELECT CAST(2500 AS BIGINT), '2', n_rows, sum_price
        |  FROM v2
        |UNION ALL SELECT CAST(9000 AS BIGINT), '3', n_rows, sum_price
        |  FROM v3
        |ORDER BY probe_ts""".stripMargin),
    // commit-log checkpoint: 12 appends (pointer rolled at 10) → probe
    // resolution examines 3 (2 probes + the pointer read), never the 12
    // live records; the mass re-proves the resolved state is unchanged
    "q_commit_checkpoint" -> fixed(qCommitCheckpoint _)(
      s"""SELECT $tableStatsCols,
        |  CAST(12 AS BIGINT) AS latest_seq,
        |  CAST(12 AS BIGINT) AS records_live,
        |  CAST(3 AS BIGINT) AS n_examined,
        |  CAST(1 AS BIGINT) AS used_checkpoint
        |FROM orders""".stripMargin),
    // evolving MERGE: the delta's NEW column (o_orderpriority) appends to
    // the schema — delta rows carry it, pre-existing base rows
    // null-backfill ('kept'); the FULL OUTER JOIN form with the added
    // column is the oracle
    "q_merge_evolve" -> fixed(qMergeEvolve _)(
      """WITH base AS (SELECT o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |delta AS (SELECT o_orderkey, o_totalprice + 10.0 AS d_price,
        |    o_orderpriority AS d_prio
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT COALESCE(delta.o_orderkey, base.o_orderkey) AS o_orderkey,
        |  CASE WHEN delta.o_orderkey IS NOT NULL THEN d_price
        |    ELSE base.o_totalprice END AS o_totalprice,
        |  d_prio AS o_orderpriority,
        |  CASE WHEN d_prio IS NULL THEN 'kept'
        |    WHEN COALESCE(delta.o_orderkey, base.o_orderkey) % 3 = 0
        |      THEN 'inserted'
        |    ELSE 'updated' END AS action
        |FROM base FULL OUTER JOIN delta
        |  ON base.o_orderkey = delta.o_orderkey""".stripMargin),
    // bounded task retry: the publish stage's torn first attempt must be
    // invisible through the manifest; attempts (1, 2) are the evidence
    "q_pipeline_retry" -> fixed(qPipelineRetry _)(
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  CAST(1 AS BIGINT) AS attempts_format,
        |  CAST(2 AS BIGINT) AS attempts_publish
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    "q_vacuum" -> fixed(qVacuum _)(
      """WITH o AS (SELECT o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p, o_orderpriority
        |  FROM orders),
        |v2 AS (SELECT '2' AS version, COUNT(*) AS n_rows,
        |    CAST(SUM(p) AS DOUBLE) AS sum_price,
        |    CAST(0 AS BIGINT) AS n_with_priority
        |  FROM o WHERE o_orderkey % 5 <> 0),
        |v3 AS (SELECT '3' AS version, COUNT(*) AS n_rows,
        |    CAST(SUM(p) AS DOUBLE) AS sum_price,
        |    COUNT(o_orderpriority) AS n_with_priority
        |  FROM o WHERE o_orderkey % 3 <> 0)
        |SELECT version, n_rows, sum_price, n_with_priority,
        |  CAST(2 AS BIGINT) AS n_versions_left
        |FROM (SELECT * FROM v2 UNION ALL SELECT * FROM v3)
        |ORDER BY version""".stripMargin),
    "q_deletion_vectors" -> fixed(qDeletionVectors _)(
      """SELECT o_orderpriority, CAST(8 AS BIGINT) AS files_before,
        |  CAST(8 AS BIGINT) AS files_after, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE NOT (o_orderkey % 10 = 0) AND NOT (o_totalprice > 200000.0)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // partition-overwrite replay: final state = untouched days + the
    // restated day's clicks only + the shifted backfill day
    "q_partition_overwrite" -> fixed(qPartitionOverwrite _)(
      """WITH e AS (SELECT event_id, ts, event_type, value,
        |    CAST(ts AS DATE) AS day FROM events),
        |final AS (
        |  SELECT * FROM e WHERE day <> DATE '2024-01-10'
        |    AND day <> DATE '2024-02-01'
        |  UNION ALL
        |  SELECT * FROM e
        |  WHERE day = DATE '2024-01-10' AND event_type = 'click'
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL 31 DAY, event_type, value,
        |    CAST(ts + INTERVAL 31 DAY AS DATE)
        |  FROM e WHERE day = DATE '2024-01-01')
        |SELECT day, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM final GROUP BY day ORDER BY day""".stripMargin),
    // selective compaction: invisible in values (plain aggregate); the
    // 8/6/2/3 accounting is deterministic by construction (2 bulk +
    // 6 trickle files, threshold total/20 scales with SF)
    "q_compact_small" -> fixed(qCompactSmall _)(
      """SELECT o_orderpriority, CAST(8 AS BIGINT) AS files_before,
        |  CAST(6 AS BIGINT) AS files_compacted,
        |  CAST(2 AS BIGINT) AS files_copied,
        |  CAST(3 AS BIGINT) AS files_after, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    // erasure proof: physical-absence and version counts are structural
    // zeros/ones; survivors = NOT subject
    "q_gdpr_erase" -> fixed(qGdprErase _)(
      """SELECT CAST(0 AS BIGINT) AS n_subject_rows_physical,
        |  CAST(1 AS BIGINT) AS n_versions_left,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer WHERE NOT (c_custkey % 100 = 7)""".stripMargin),
    // both tables computed from the SAME subset — a torn snapshot breaks
    // the cross-table invariant and hash-fails
    "q_multi_table_txn" -> fixed(qMultiTableTxn _)(
      """WITH s AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
        |a AS (SELECT o_orderpriority, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue
        |  FROM s GROUP BY 1),
        |b AS (SELECT COUNT(*) AS n_total,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue_total
        |  FROM s)
        |SELECT CAST(2 AS BIGINT) AS txn, o_orderpriority, n_orders,
        |  revenue, n_total, revenue_total
        |FROM a, b ORDER BY o_orderpriority""".stripMargin),
    // OPTIMIZE evidence: the aggregate is the plain orders query (the
    // rewrite must be invisible in values); file counts are deterministic
    // (round-robin 64 → range 4, one file per non-empty partition)
    "q_optimize" -> fixed(qOptimize _)(
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(64 AS BIGINT) AS files_before, CAST(4 AS BIGINT) AS files_after
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    // the oracle replays all three clone-lifecycle snapshots from orders:
    // a broken ref pointer (clone_at_clone), a lost/duplicated divergence
    // row (clone_after), or source mutation (src_after) each hash-fail;
    // the n_own_versions literals pin zero-copy + exactly-one-new-version
    "q_shallow_clone" -> fixed(qShallowClone _)(
      """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
        |s0 AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price FROM o),
        |s1 AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(CASE WHEN o_orderkey % 3 = 0
        |        THEN o_totalprice + 5.0 ELSE o_totalprice END
        |      AS DECIMAL(18,2))) AS DOUBLE) AS sum_price FROM o)
        |SELECT 'clone_after' AS snapshot, n_rows, sum_price,
        |  CAST(1 AS BIGINT) AS n_own_versions FROM s1
        |UNION ALL SELECT 'clone_at_clone', n_rows, sum_price,
        |  CAST(0 AS BIGINT) FROM s0
        |UNION ALL SELECT 'src_after', n_rows, sum_price,
        |  CAST(1 AS BIGINT) FROM s0
        |ORDER BY snapshot""".stripMargin),
    // CAS-publish race: whichever writer wins the first commit, the final
    // table is even-keys ∪ odd-keys exactly once — so the oracle is the
    // plain per-half aggregate; the commit-count and abort literals pin
    // "2 commits, no lost version, stale single-shot refused"
    "q_concurrent_publish" -> fixed(qConcurrentPublish _)(
      s"""SELECT CAST(o_orderkey % 2 AS BIGINT) AS writer,
        |  $tableStatsCols,
        |  CAST(2 AS BIGINT) AS n_commits,
        |  CAST(1 AS BIGINT) AS stale_publish_aborted
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    // survivors = base minus BOTH racing predicates; the literals pin the
    // protocol evidence (2 log records, stale claim lost)
    "q_concurrent_delete" -> fixed(qConcurrentDelete _)(
      s"""SELECT $tableStatsCols,
        |  CAST(2 AS BIGINT) AS n_commits,
        |  CAST(1 AS BIGINT) AS stale_delete_lost
        |FROM orders
        |WHERE NOT (o_orderkey % 10 = 0)
        |  AND NOT (o_totalprice > 200000.0)""".stripMargin),
    // the committed MERGE: identical FULL OUTER JOIN + CASE as the
    // non-committed merges, with the deletion vector's predicate folded
    // into the base CTE (the merge reads THROUGH the vector)
    "q_merge_publish" -> fixed(qMergePublish _)(
      mergeThroughOracle("FROM orders\n" +
        "  WHERE o_orderkey % 3 <> 0 AND NOT (o_custkey % 7 = 0)")),
    // COMMUTING racing mergers: the final table is the closed form of
    // both writers' arms regardless of schedule; the 2-commit literal
    // pins that losing claims create no record
    "q_merge_concurrent" -> fixed(qMergeConcurrent _)(
      s"""WITH survivors AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 <> 0 AND o_orderkey % 10 NOT IN (2, 5, 7)
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 10.0 FROM orders
        |  WHERE o_orderkey % 10 = 2
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 20.0 FROM orders
        |  WHERE o_orderkey % 10 = 7)
        |SELECT $tableStatsCols,
        |  CAST(2 AS BIGINT) AS n_commits
        |FROM survivors""".stripMargin),
    // log retention: 5 appends (records 1-5) → sweep to newest 2 (3
    // removed) → a delete commit claims 6 over the truncated log
    "q_vacuum_commits" -> fixed(qVacuumCommits _)(
      s"""SELECT $tableStatsCols,
        |  CAST(3 AS BIGINT) AS n_removed,
        |  CAST(6 AS BIGINT) AS latest_seq
        |FROM orders
        |WHERE NOT (o_orderkey % 100 = 0)""".stripMargin),
    // per-partition compaction: survivors exclude both DV predicates
    // (small-file share FOLDED, copied-file share CARRIED); the literals
    // pin the per-partition 4→2 file accounting (1 bulk + 3 trickle →
    // 1 copied + 1 compacted in each of the 5 priority partitions)
    "q_compact_partitioned" -> fixed(qCompactPartitioned _)(
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  CAST(4 AS BIGINT) AS files_before_part,
        |  CAST(2 AS BIGINT) AS files_after_part,
        |  CAST(15 AS BIGINT) AS files_compacted,
        |  CAST(5 AS BIGINT) AS files_copied
        |FROM orders
        |WHERE NOT (o_orderkey % 10 = 9 OR o_orderkey % 100 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // bitemporal replay: wave k's SCD2 history from events with
    // event_id % 3 <= k, state at valid-time V = newest valid_from <= V
    // (change_id tie-break) — the knowledge-time axis replayed as the
    // wave filter instead of the lake's publishAt timestamps
    "q_bitemporal" -> fixed(qBitemporal _)(
      """WITH probes(known_at, wave) AS (
        |  VALUES (1500, 0), (2500, 1), (3500, 2)),
        |e AS (SELECT p.known_at, user_id, ts, event_type, event_id,
        |    lag(event_type) OVER w AS prev, row_number() OVER w AS rn
        |  FROM events, probes p WHERE event_id % 3 <= p.wave
        |  WINDOW w AS (PARTITION BY p.known_at, user_id
        |    ORDER BY ts, event_id)),
        |ch AS (SELECT known_at, user_id, event_type AS state,
        |    ts AS valid_from, event_id AS change_id
        |  FROM e WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |r AS (SELECT *, row_number() OVER (PARTITION BY known_at, user_id
        |    ORDER BY valid_from DESC, change_id DESC) AS rn2
        |  FROM ch
        |  WHERE valid_from <= TIMESTAMP '2024-01-16 00:00:00')
        |SELECT CAST(known_at AS BIGINT) AS known_at, user_id, state,
        |  valid_from
        |FROM r WHERE rn2 = 1
        |ORDER BY known_at, user_id""".stripMargin),
    // full-recompute oracle: the driver hash-compare re-proves
    // incremental == from-scratch on the delta-join algebra every round
    "q_mv_join_incremental" -> fixed(qMvJoinIncremental _)(
      """WITH j AS (SELECT o.o_orderkey, c.c_mktsegment, o.o_totalprice,
        |    CASE WHEN o.o_orderkey % 5 <> 4 AND c.c_custkey % 7 <> 3
        |      THEN 'store' ELSE 'delta' END AS src
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT c_mktsegment, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN src = 'store' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_from_store,
        |  CAST(SUM(CASE WHEN src <> 'store' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_from_delta,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin),
    // one writer task per segment → one file per partition value, so the
    // layout (and the file-count evidence) is a pure function of the
    // data: files replay as COUNT(DISTINCT key) over the same splits
    "q_partition_evolution" -> fixed(qPartitionEvolution _)(
      """WITH e AS (SELECT event_id,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    event_type, value FROM events),
        |old AS (SELECT * FROM e WHERE event_id % 3 <> 0),
        |new AS (SELECT * FROM e WHERE event_id % 3 = 0)
        |SELECT '1' AS version, 'event_type' AS spec,
        |  (SELECT COUNT(DISTINCT event_type) FROM old) AS files_total,
        |  (SELECT COUNT(DISTINCT event_type) FROM old) AS files_scanned,
        |  COUNT(CASE WHEN day = DATE '2024-01-10' THEN 1 END) AS n_match,
        |  CAST(COALESCE(SUM(CASE WHEN day = DATE '2024-01-10'
        |    THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE)
        |    AS sum_value
        |FROM old
        |UNION ALL
        |SELECT '2', 'day',
        |  (SELECT COUNT(DISTINCT day) FROM new),
        |  (SELECT COUNT(DISTINCT day) FROM new
        |    WHERE day = DATE '2024-01-10'),
        |  COUNT(CASE WHEN day = DATE '2024-01-10' THEN 1 END),
        |  CAST(COALESCE(SUM(CASE WHEN day = DATE '2024-01-10'
        |    THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE)
        |FROM new
        |ORDER BY version""".stripMargin),
    // both stages aggregate the same day's rows (migration must not lose
    // or double anything); the file model replays as COUNT(DISTINCT key)
    // per layout — one writer task per stage by construction
    "q_evolve_compact" -> fixed(qEvolveCompact _)(
      """WITH e AS (SELECT event_id,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    event_type, value FROM events),
        |old AS (SELECT * FROM e WHERE event_id % 3 <> 0),
        |new AS (SELECT * FROM e WHERE event_id % 3 = 0),
        |agg AS (SELECT COUNT(*) AS n_match,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM e WHERE day = DATE '2024-01-10')
        |SELECT '1_pre_optimize' AS stage, CAST(2 AS BIGINT) AS n_segments,
        |  (SELECT COUNT(DISTINCT event_type) FROM old)
        |    + (SELECT COUNT(DISTINCT day) FROM new) AS files_total,
        |  (SELECT COUNT(DISTINCT event_type) FROM old)
        |    + CAST(1 AS BIGINT) AS files_scanned,
        |  n_match, sum_value FROM agg
        |UNION ALL
        |SELECT '2_post_optimize', CAST(1 AS BIGINT),
        |  (SELECT COUNT(DISTINCT day) FROM e),
        |  CAST(1 AS BIGINT),
        |  n_match, sum_value FROM agg
        |ORDER BY stage""".stripMargin),
    // the report is a pure function of the two versions' footers —
    // SF-independent, so the oracle is the expected contract itself
    "q_schema_drift" -> fixed(qSchemaDrift _)(
      """SELECT * FROM (VALUES
        |  ('day', 'added', CAST(NULL AS VARCHAR), 'date'),
        |  ('event_id', 'unchanged', 'bigint', 'bigint'),
        |  ('event_type', 'removed', 'string', CAST(NULL AS VARCHAR)),
        |  ('value', 'retyped', 'double', 'float'))
        |  AS t(col_name, status, old_type, new_type)
        |ORDER BY col_name""".stripMargin),
    // chain-aware vacuum evidence: both stages must aggregate the FULL
    // events extract (retention never touches live chain segments); the
    // dropped/on-disk version counts are protocol facts the read verifies
    "q_evolve_vacuum" -> fixed(qEvolveVacuum _)(
      """WITH e AS (SELECT event_id, event_type, value,
        |    CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
        |agg AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM e)
        |SELECT '1_chain_pinned' AS stage, CAST(0 AS BIGINT) AS n_dropped,
        |  CAST(3 AS BIGINT) AS n_versions, n_rows, sum_value FROM agg
        |UNION ALL
        |SELECT '2_post_rewrite', CAST(3 AS BIGINT), CAST(1 AS BIGINT),
        |  n_rows, sum_value FROM agg
        |ORDER BY stage""".stripMargin),
    // post-vacuum facts only: v1 rows appearing, a drifted retained sum,
    // a misread evolved schema (v2 priority non-null) or a wrong surviving
    // directory count would each break the hash
    // deletion vectors: visibility is NOT(p1) AND NOT(p2) over the base
    // table regardless of physical layout; the 8/8 file-count evidence
    // pins that neither delete rewrote a data file
    // survivor algebra of the two point-in-time chain deletes: pred1
    // applies only to the segments that existed when it committed
    // (v1 ∪ v2 = event_id % 3 IN (0, 1)), pred2 to the whole chain; the
    // vector cardinalities replay as scalar subqueries (second = the
    // distinct union of both mark sets)
    "q_evolve_delete" -> fixed(qEvolveDelete _)(
      """WITH d1 AS (SELECT COUNT(*) AS c FROM events
        |    WHERE event_id % 3 IN (0, 1) AND event_id % 10 = 0),
        |dt AS (SELECT COUNT(*) AS c FROM events
        |    WHERE (event_id % 3 IN (0, 1) AND event_id % 10 = 0)
        |      OR value > 400.0)
        |SELECT event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  (SELECT c FROM d1) AS n_pos_v1,
        |  (SELECT c FROM dt) AS n_pos_total
        |FROM events
        |WHERE NOT (event_id % 3 IN (0, 1) AND event_id % 10 = 0)
        |  AND NOT (value > 400.0)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
  )
}
