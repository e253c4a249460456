package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CorpusQueries, DatalakeQueries, EventQueries, GraphQueries, JourneyQueries, LayoutQueries, Relational, SimilarityQueries, StreamQueries, TextQueries}

/** One registry row: how to compute its frame, and the DuckDB SQL that
  * checks it. */
sealed trait QueryDef {
  /** The row's frame alone; renders no oracle SQL. */
  def frame(spark: SparkSession, dir: String): DataFrame

  /** The row's oracle SQL and its frame from one model value. A fixed
    * row renders its SQL on demand; a trained row fetches its model once,
    * renders the oracle from it and computes the frame with it. The frame
    * is a thunk, so the oracle is known even when the frame throws.
    */
  def run(spark: SparkSession, dir: String): QueryDef.Run
}

object QueryDef {
  final case class Run(oracleSql: String, frame: () => DataFrame)

  /** A row whose oracle does not depend on a trained model. The SQL is a
    * thunk: listing the rows (what [[SparkEntry.queries]] does on timed
    * paths) renders none of it. */
  final case class Fixed(query: (SparkSession, String) => DataFrame,
      oracleSql: () => String) extends QueryDef {
    def frame(spark: SparkSession, dir: String): DataFrame = query(spark, dir)
    def run(spark: SparkSession, dir: String): Run =
      Run(oracleSql(), () => query(spark, dir))
  }

  /** A row over a trained model: `model` yields it, and that one value
    * goes to both `query` and `oracle`.
    */
  final case class Trained[M](model: (SparkSession, String) => M,
      query: (SparkSession, String, M) => DataFrame,
      oracle: M => String) extends QueryDef {
    def frame(spark: SparkSession, dir: String): DataFrame =
      query(spark, dir, model(spark, dir))
    def run(spark: SparkSession, dir: String): Run = {
      val m = model(spark, dir)
      Run(oracle(m), () => query(spark, dir, m))
    }
  }

  /** [[Fixed]] with the oracle SQL taken by name, rendered only when the
    * row runs. */
  def fixed(query: (SparkSession, String) => DataFrame)(
      oracleSql: => String): Fixed = Fixed(query, () => oracleSql)

  /** [[Trained]] with one argument list per part, so `M` is inferred from
    * `model` before the query and oracle lambdas are typed. */
  def trained[M](model: (SparkSession, String) => M)(
      query: (SparkSession, String, M) => DataFrame)(
      oracle: M => String): Trained[M] = Trained(model, query, oracle)
}

/** A model trained once per data dir. The model is a pure function of the
  * dir's data, so one JVM trains it on the first call for a dir and every
  * later call — each Verify pass, each spec, each row sharing the model —
  * returns that same value. A `train` that throws caches nothing. Each
  * instance owns its map, so a trainer may call another `PerDir` (a GBT
  * fit featurizes through the encoder's) without a recursive update.
  */
final class PerDir[M](train: (SparkSession, String) => M)
    extends ((SparkSession, String) => M) {
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, M]()

  def apply(spark: SparkSession, dir: String): M =
    memo.computeIfAbsent(dir, _ => train(spark, dir))
}

object PerDir {
  def apply[M](train: (SparkSession, String) => M): PerDir[M] =
    new PerDir(train)
}

/** Driver contract — see SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's market_analysis (compute_usage.py) re-expressed.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.qMarketStats(spark, "/root/testdata/sf0.001")

  /** Every registry row's frame. Renders no oracle SQL: the benchmark
    * and Bench call it on their timed paths. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    frames(defs)

  /** Every registry row with its DuckDB oracle — what Verify dumps. Each
    * domain object declares its rows once, the frame beside the SQL that
    * checks it over the same bare table names; numeric determinism rules
    * are in SURVEY.md §4.
    */
  def defs: Map[String, QueryDef] = registry(
    Relational.defs ++ TextQueries.defs ++ EventQueries.defs ++
      JourneyQueries.defs ++ CorpusQueries.defs ++ SimilarityQueries.defs ++
      GraphQueries.defs ++ LayoutQueries.defs ++ DatalakeQueries.defs ++
      StreamQueries.defs)

  /** The registry rows named in `names` (a comma list, as the dev mains
    * take it). An unknown name throws, listing every unknown name: a typo
    * must not silently shrink the selection to the rows that did match.
    */
  def select(names: String): Map[String, QueryDef] = {
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val all = defs
    val unknown = wanted.diff(all.keySet)
    require(wanted.nonEmpty, s"no query names in '$names'")
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} " +
        "(see SparkEntry.defs)")
    all.view.filterKeys(wanted).toMap
  }

  /** The rows by name; a name declared twice throws instead of silently
    * keeping one of the two rows. */
  private[graft] def registry(
      rows: Seq[(String, QueryDef)]): Map[String, QueryDef] = {
    val dups = rows.groupBy(_._1).collect { case (k, rs) if rs.size > 1 => k }
    require(dups.isEmpty,
      s"duplicate registry row(s): ${dups.toSeq.sorted.mkString(", ")}")
    rows.toMap
  }

  /** Each row's frame function; renders no oracle SQL. */
  private[graft] def frames(rows: Map[String, QueryDef])
      : Map[String, (SparkSession, String) => DataFrame] =
    rows.map { case (k, d) => k -> (d.frame _) }
}
