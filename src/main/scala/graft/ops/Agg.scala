package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deterministic aggregation helpers.
  *
  * Raw `sum(double)` is reduction-order dependent, so a distributed Spark run
  * and the single-threaded DuckDB oracle (and two Spark runs with different
  * partitioning!) can disagree in the last ulp. We cast money-like values to
  * DECIMAL *before* aggregating: decimal addition is exact and associative, so
  * results are identical regardless of partitioning — on 32 local threads or
  * 1000 executors. Averages divide the exact decimal sum as a double by the
  * count: a single deterministic IEEE division.
  */
object Agg {
  /* IMPORTANT: only cast RAW stored columns to decimal. Spark converts
    * double→decimal via the double's shortest string repr (HALF_UP on it)
    * while DuckDB rounds the exact binary value — for *computed* doubles the
    * two can disagree at the rounding boundary. Raw money columns carry
    * exactly 2 decimals, so their cast is boundary-free in both engines.
    * Derived products/ratios must be computed IN the decimal domain
    * (see mulFactor) or as a final double division of exact sums.
    */

  /** Exact sum of a raw money-like double at 2 decimal places. */
  def decSum2(c: Column): Column = sum(c.cast(DecimalType(18, 2)))

  /** Exact sum of a raw column at 6 decimal places. */
  def decSum6(c: Column): Column = sum(c.cast(DecimalType(18, 6)))

  /** Order-independent average of a RAW column. */
  def decAvg(c: Column): Column =
    decSum6(c).cast("double") / count(lit(1))

  /** Raw money column as exact DECIMAL(12,2) (keeps product precision ≤38). */
  def money(c: Column): Column = c.cast(DecimalType(12, 2))

  /** `1 - rate` / `1 + rate` factors as exact DECIMAL(9,4); rates are raw
    * ≤2-decimal columns. price*(1-disc) → scale 6; *(1+tax) → scale 10 —
    * matching DuckDB's s1+s2 multiplication scale, so sums are bit-identical.
    */
  def oneMinus(rate: Column): Column =
    lit(1).cast(DecimalType(8, 4)) - rate.cast(DecimalType(8, 4))
  def onePlus(rate: Column): Column =
    lit(1).cast(DecimalType(8, 4)) + rate.cast(DecimalType(8, 4))
}

/** Skew mitigation for joins whose key distribution is heavy-tailed.
  *
  * AQE's skew-join split handles most cases at runtime; explicit salting is
  * for the pathological ones AQE can't fix (e.g. a single key holding >10%
  * of a 100 TB fact when joined against a non-broadcastable side): the
  * skewed side gets a random salt in [0, salts), the other side is exploded
  * ×salts, and the join key becomes (key, salt) — one hot partition becomes
  * `salts` even ones at the cost of replicating the smaller side.
  */
object Salting {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Join types that survive exploding `other` ×salts: each skewed row still
    * matches exactly its one salt copy. Right/full outer would emit every
    * UNMATCHED `other` row `salts` times — wrong results, so rejected.
    */
  private val safeJoinTypes =
    Set("inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
      "left_anti", "leftanti", "semi", "anti")

  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
      salts: Int, joinType: String = "inner"): DataFrame = {
    require(safeJoinTypes.contains(joinType.toLowerCase(java.util.Locale.ROOT)),
      s"saltedJoin supports inner/left/left_semi/left_anti, got '$joinType' " +
        "(right/full outer would duplicate unmatched rows of the exploded side)")
    val s = skewed.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(salts)))
    val o = other.withColumn("__salt",
      explode(array((0 until salts).map(lit(_)): _*)))
    s.join(o, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
