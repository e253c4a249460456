package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Fixed-size frequency sketches over unbounded streams of items — the
  * Count-Min sketch (Cormode & Muthukrishnan 2005, "An improved data
  * stream summary: the count-min sketch and its applications"): d hash
  * rows × w counters answer point-frequency queries with one-sided error
  * (estimate ≥ true count, overshoot ≤ e/w · N with probability
  * 1 - e^-d), in O(d·w) memory regardless of item cardinality.
  *
  * Spark-first shape: the sketch IS a (lane, bucket) → count aggregation.
  * Each occurrence emits its d bucket rows map-side; partial aggregation
  * collapses them to ≤ d·w rows PER PARTITION before the shuffle, so the
  * exchange carries at most partitions × d·w counter rows at ANY corpus
  * size — the distributed analog of per-node sketches merged by cell-wise
  * addition (CMS's linearity). Nothing about the build depends on the
  * vocabulary fitting anywhere: 100 TB of tokens still shuffles ≤ a few
  * thousand counter rows per partition.
  *
  * Hashing: ONE md5 digest per occurrence, sliced into d=4 32-bit words
  * (lower lane low/high, upper lane low/high) — the standard
  * one-strong-hash-many-slices construction; md5 keeps every bucket
  * assignment exactly replayable in the DuckDB oracle
  * (md5_number_lower/upper, see TextSketch.md5Lanes). A throughput-first
  * variant would slice xxhash64 instead (same shape, no oracle).
  */
object Sketches {

  val Depth = 4

  /** The d bucket indices of one item value: its two md5 lanes sliced
    * into 32-bit words, masked to `width` (a power of two). Bitwise AND
    * on the signed long equals the unsigned mod; logical shift matches
    * the oracle's unsigned HUGEINT division by 2^32.
    */
  private def buckets(item: Column, width: Int): Column = {
    require(width > 0 && (width & (width - 1)) == 0,
      s"CMS width must be a power of two, got $width")
    val lanes = graft.functions.text.md5Lanes(item)
    val m = lit(width - 1L)
    array(
      lanes(0).bitwiseAND(m),
      shiftrightunsigned(lanes(0), 32).bitwiseAND(m),
      lanes(1).bitwiseAND(m),
      shiftrightunsigned(lanes(1), 32).bitwiseAND(m))
  }

  /** Build the sketch: (lane, bucket, cnt), one row per NON-EMPTY counter
    * (absent cells are zero; at most Depth × width rows). `items` is one
    * row per occurrence.
    */
  def cmsBuild(items: DataFrame, item: Column, width: Int): DataFrame =
    items
      .select(posexplode(buckets(item, width)).as(Seq("lane", "bucket")))
      .groupBy(col("lane"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Build the sketch from PRE-AGGREGATED (item, count) rows: identical
    * counters by CMS linearity (the sum over occurrences equals the sum
    * over distinct items weighted by their counts), but the input is the
    * vocab-sized count table instead of the corpus-sized occurrence
    * stream — so a caller that already aggregates exact counts (heavy
    * hitters) shares ONE corpus scan between the exact side and the
    * sketch instead of paying a second one.
    */
  def cmsBuildWeighted(counts: DataFrame, item: Column, weight: Column,
      width: Int): DataFrame =
    counts
      .select(weight.as("__w"),
        posexplode(buckets(item, width)).as(Seq("lane", "bucket")))
      .groupBy(col("lane"), col("bucket"))
      .agg(sum(col("__w")).as("cnt"))

  /** Point-frequency estimates for `queries` (one row per distinct item in
    * column `item`): min over the item's d counters. The sketch side is
    * tiny (≤ Depth × width rows) and broadcasts; estimates never
    * undercount, so `est ≥` the true count always (CMS's one-sided
    * guarantee — pinned in Round7Spec). LEFT join: the sketch stores only
    * non-empty counters, so an absent cell is a ZERO count — an item some
    * of whose cells were never touched must estimate through those zeros
    * (an unseen item correctly estimates 0), not lose the lane or vanish.
    */
  def cmsEstimate(cms: DataFrame, queries: DataFrame, item: Column,
      width: Int): DataFrame =
    queries
      // a NULL query item is not a countable item (cmsBuild's md5 lanes
      // are null for it too, so it was never inserted) — drop it HERE,
      // explicitly: left implicit, posexplode of the null bucket array
      // silently removed the row, which contradicted the documented
      // "every query item gets an estimate" reading of this API
      .filter(item.isNotNull)
      .select(item.as("item"),
        posexplode(buckets(item, width)).as(Seq("lane", "bucket")))
      .join(broadcast(cms), Seq("lane", "bucket"), "left")
      .groupBy(col("item"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  // ---- Bloom filter (runtime-filter pruning), oracle-exact variant ----

  /** Build-side Bloom bit set: the distinct (lane, bucket) cells of every
    * build key — k=4 slices of one md5 digest (same layout as the CMS),
    * ≤ Depth·width rows ≈ a few hundred KB broadcast at width 2^17. The
    * replayable form of the runtime filters engines push below joins
    * (Spark's runtime row-group filtering, Trino's dynamic filters).
    */
  def bloomBits(build: DataFrame, key: Column, width: Int): DataFrame =
    build
      .select(posexplode(buckets(key, width)).as(Seq("lane", "bucket")))
      .distinct()

  /** Per-row Bloom membership column for `key` against `bits`: true iff
    * ALL four of the key's cells are set. Implemented as four broadcast
    * LEFT joins against the per-lane bucket sets — map-side, no shuffle,
    * no false negatives (a build key's own cells are always set; pinned
    * in Round7Spec). Appends column `name` to `probe`.
    *
    * CALLER CONTRACT: pass `bits` already materialized (a checkpoint of
    * the caller's Checkpoints scope) — left as a plan, each of the four
    * broadcast exchanges independently re-runs the build-side scan and
    * its distinct shuffle (the qHeavyHitters lesson). The checkpoint
    * lives at the CALL SITE so the caller's scope releases it after its
    * terminal action.
    */
  def bloomMember(probe: DataFrame, key: Column, bits: DataFrame,
      width: Int, name: String): DataFrame = {
    val b = buckets(key, width)
    var out = probe.withColumn("__bb", b)
    for (l <- 0 until Depth) {
      val lane = bits.filter(col("lane") === l)
        .select(col("bucket").as(s"__set$l"))
      out = out.join(broadcast(lane), col("__bb")(l) === col(s"__set$l"),
        "left")
    }
    out
      .withColumn(name,
        (0 until Depth).map(l => col(s"__set$l").isNotNull).reduce(_ && _))
      .drop("__bb" +: (0 until Depth).map(l => s"__set$l"): _*)
  }

  // ---- HyperLogLog (Flajolet et al. 2007), oracle-exact variant ----
  //
  // Unlike Spark's approx_count_distinct (whose sketch internals are
  // engine-private — rows-only in the driver check), this HLL is built
  // from first principles on the md5 lane so EVERY step replays in
  // DuckDB: bucket = low b bits, rho = leading-zero rank of the
  // remaining 54-bit window (a generated comparison chain, identical in
  // both dialects), registers = per-bucket MAX — a mergeable, bounded
  // (m rows per group) aggregation exactly like any distributed HLL.
  //
  // The estimator's indicator sum Σ 2^-M_j is the one place naive
  // float math breaks bit-replay (adding 2^-55-granular terms to a
  // 2^10-magnitude sum needs 65 significand bits — reduction order
  // would matter). It is instead computed EXACTLY as the integer
  // numerator Σ 2^(55-M_j) (≤ m·2^55 < 10^20, exact in DECIMAL(38,0)
  // and HUGEINT), with absent buckets contributing 2^55 each; the
  // single double division α·m²·2^55 / numerator is then one IEEE op
  // on identically-rounded operands in both engines. Small-range
  // linear counting (E ≤ 2.5m, V > 0) replays through ln; the final
  // estimate is floored onto the 2^-16 grid (SURVEY §4) to absorb any
  // last-ulp ln divergence.

  val HllB = 10
  val HllM = 1024 // 2^HllB registers per group

  /** rho(w) = position of the highest set bit of the 54-bit window,
    * counted from the top (1-based); 55 when the window is zero. The
    * generated descending comparison chain is the same expression the
    * SQL oracle runs.
    */
  private def rhoCol(w: Column): Column = {
    var e: Column = lit(55)
    for (k <- 0 to 53) e = when(w >= lit(1L << k), lit(54 - k)).otherwise(e)
    e
  }

  /** The same chain as SQL text, for generated oracles. */
  def rhoCaseSql(w: String): String =
    (0 to 53).reverse
      .map(k => s"WHEN $w >= ${1L << k} THEN ${54 - k}")
      .mkString("CASE ", " ", " ELSE 55 END")

  /** α_m · m² · 2^55 — the raw-estimate numerator constant. Exact
    * power-of-two scaling of α_m, so the value (and its decimal string,
    * for the oracle) is one well-defined double in both engines.
    */
  val HllAlphaC: Double =
    0.7213 / (1.0 + 1.079 / HllM) * (1L << 20).toDouble * (1L << 55).toDouble

  /** Per-group HLL register table (g, bucket, rho) — ≤ m rows per group.
    * Registers are the MERGEABLE form of the sketch: per-bucket max is
    * associative, so registers of a union == cell-wise max of the
    * per-part registers (pinned by qHllUnion's merged_equals_direct).
    */
  def hllRegisters(df: DataFrame, group: Column, item: Column): DataFrame = {
    val h = graft.functions.text.md5Lanes(item.cast("string"))(0)
    // a null item must not become a phantom null-bucket register (it
    // would count as a distinct element COUNT DISTINCT ignores, and a
    // saturated group would read present=m+1 → zeros=-1): nulls are not
    // countable, drop them — mirrored in the generated oracles
    df.filter(item.isNotNull)
      .select(group.as("g"), h.as("__h"))
      .select(col("g"),
        col("__h").bitwiseAND(lit((HllM - 1).toLong)).as("bucket"),
        shiftrightunsigned(col("__h"), HllB).as("__w"))
      .select(col("g"), col("bucket"), rhoCol(col("__w")).as("rho"))
      .groupBy(col("g"), col("bucket"))
      .agg(max(col("rho")).as("rho"))
  }

  /** Estimate from a register table: (g, hll_est, est_kind). est_kind
    * records which estimator served the group ('linear' below 2.5m with
    * empty registers, 'raw' otherwise) — the standard HLL regime split,
    * visible instead of hidden.
    */
  def hllEstimate(regs: DataFrame): DataFrame = {
    val per = regs
      .groupBy(col("g"))
      .agg(
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 55 - rho) AS DECIMAL(38,0))"))
          .as("__sumterm"),
        count(lit(1)).as("__present"))
    val zeros = lit(HllM.toLong) - col("__present")
    val num = col("__sumterm") +
      zeros.cast(DecimalType(38, 0)) *
        lit(1L << 55).cast(DecimalType(38, 0))
    val raw = lit(HllAlphaC) / num.cast("double")
    val linearRange = raw <= lit(2.5 * HllM) && zeros > 0
    val est = when(linearRange,
        lit(HllM.toDouble) * log(lit(HllM.toDouble) / zeros.cast("double")))
      .otherwise(raw)
    per.select(col("g"),
      (floor(est * lit(65536.0)) / lit(65536.0)).as("hll_est"),
      when(linearRange, "linear").otherwise("raw").as("est_kind"))
  }

  /** Per-group HLL distinct estimate of `item`: (g, hll_est, est_kind). */
  def hllDistinct(df: DataFrame, group: Column, item: Column): DataFrame =
    hllEstimate(hllRegisters(df, group, item))

  /** Histogram quantiles — the oracle-exact stand-in for a quantile
    * sketch: fixed-width-1 buckets over [0, 1024) (values clamped into
    * range, nulls dropped), per-group cumulative counts, and each
    * requested quantile q answered by the lower bound of the first
    * bucket whose running count reaches ceil(q·n). Pure integer/IEEE
    * arithmetic end to end — no transcendentals, no engine-private
    * sketch state — so every estimate replays bit-for-bit in SQL, and
    * the sketch error is bounded by the bucket width by construction
    * (pinned against exact percentiles in Round7Spec). Scale shape: the
    * histogram is a (g, bucket) aggregation with map-side combine —
    * ≤ 1024 rows per group through the exchange at any row count — and
    * the quantile extraction windows over those ≤ 1024 rows only.
    */
  def histQuantiles(df: DataFrame, group: Column, value: Column,
      qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = df
      // non-finite values are not rankable (and the SQL replay's integer
      // CAST would error on them where Spark silently buckets) — drop
      // them on both sides, like nulls
      .filter(value.isNotNull && !isnan(value) &&
        value =!= lit(Double.PositiveInfinity) &&
        value =!= lit(Double.NegativeInfinity))
      .select(group.as("g"),
        greatest(lit(0L), least(lit(1023L), floor(value).cast("long")))
          .as("bucket"))
      .groupBy(col("g"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val byG = Window.partitionBy(col("g")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = hist
      .withColumn("cum", sum(col("cnt")).over(byG))
      .withColumn("n", sum(col("cnt"))
        .over(Window.partitionBy(col("g"))))
    val aggs = qs.map { q =>
      min(when(col("cum") >= ceil(lit(q) * col("n")), col("bucket")))
        .cast("double").as(s"p${math.round(q * 100)}_est")
    } :+ max(col("n")).as("n_rows")
    withCum.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
  }
}
