package graft.ops

import org.apache.spark.sql.SparkSession

/** Shared execution scope for the engine's fixpoint/refinement loops
  * (connected components, k-core peeling, BFS frontier, PageRank power
  * iterations).
  *
  * Two session-scoped knobs, set together and restored together:
  *
  *  - AQE OFF (the r18 discipline): every round's stage shape is KNOWN —
  *    checkpointed edge table ⋈ node-sized labels → keyed aggregate — so
  *    adaptive re-planning cannot improve it, only fragment each tiny round
  *    into extra per-stage jobs whose fixed driver cost dominates.
  *
  *  - Shuffle width DERIVED FROM THE LOOP'S DATA (r19, optimization guide
  *    §2: "make partitioning scale-adaptive … derive from input size,
  *    rather than a constant tuned for either local mode or the cluster").
  *    With AQE off the loop would otherwise run every round's exchanges at
  *    the session's static `spark.sql.shuffle.partitions` — a width sized
  *    for the CLUSTER, paid per stage per round on frames that are
  *    node-sized. Measured at sf0.1 (32 static partitions, ~16k-row loop
  *    frames): the components fixpoint spent >80% of its wall in empty
  *    task overhead. `widthFor` sizes the loop's exchanges from the row
  *    count the loop actually carries: rows/rowsPerPartition partitions,
  *    floored at 1, capped at the session's configured width (the loop
  *    never widens beyond the surrounding plan; at cluster scale the cap
  *    IS the cluster width, so big graphs keep full parallelism).
  *
  * Both mutations are session-global conf writes: the engine's contract is
  * single-threaded query execution per session (the Bench/Verify harness
  * and every registered query run queries sequentially — r18 ADVICE #3
  * documents the assumption here, at the shared pattern's definition).
  * Callers running loops concurrently on one session must clone it first.
  */
object Fixpoint {

  /** Rows per loop-shuffle partition. Loop frames are narrow (two long
    * columns, ~16-48 bytes serialized), so 2^20 rows ≈ 16-50 MB — inside
    * the guide's 100 MB-1 GB advisory once shuffle compression is counted.
    * Deployment knob, not a local tuning: raise it on fast-network
    * clusters, lower it for wide payload loops.
    */
  val RowsPerPartitionKey = "spark.graft.loop.rowsPerPartition"
  val DefaultRowsPerPartition: Long = 1L << 20

  /** Loop shuffle width for a loop whose per-round exchanges carry about
    * `rows` rows: ceil(rows / rowsPerPartition) clamped to
    * [1, session shuffle width].
    */
  def widthFor(spark: SparkSession, rows: Long): Int = {
    val rpp = spark.conf.getOption(RowsPerPartitionKey)
      .map(_.toLong).getOrElse(DefaultRowsPerPartition).max(1L)
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt.max(1)
    math.min(cap.toLong, math.max(1L, (rows + rpp - 1) / rpp)).toInt
  }

  /** Run `body` with AQE off and `spark.sql.shuffle.partitions = width`,
    * restoring both on every exit path. See the object scaladoc for why
    * and for the single-threaded-session assumption.
    */
  def withLoopConf[T](spark: SparkSession, width: Int)(body: => T): T =
    graft.GraftSession.withConf(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> width.toString)(body)
}
