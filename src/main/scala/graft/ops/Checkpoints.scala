package graft.ops

import org.apache.spark.sql.DataFrame

/** ONE switch for how iterative operators break lineage.
  *
  * Iterative DataFrame algorithms (pageRank, triangle orientation,
  * component propagation) MUST truncate their logical plan every round —
  * Catalyst re-analyzes the whole lineage per action, and by ~15 rounds
  * analysis cost dwarfs data work (the round-3 hang). Two ways to do it:
  *
  *  - `localCheckpoint` (the default here): materializes to EXECUTOR-LOCAL
  *    storage. Fast — no DFS round-trip — but lineage-UNSAFE under
  *    executor loss: the truncated plan cannot be recomputed, so a lost
  *    executor kills the job. Acceptable on a single-JVM sandbox and for
  *    re-runnable batch jobs; NOT the 100 TB answer under dynamic
  *    allocation, where executors come and go by design (round-7 verdict).
  *
  *  - reliable `checkpoint`: materializes to the lake
  *    (`spark.graft.checkpointDir`, e.g. an HDFS/S3 path). Survives any
  *    executor loss — the canonical GraphX/Pregel-style choice for long
  *    iterative jobs on real clusters. Costs one DFS write per round.
  *
  * Set `spark.graft.checkpointDir` in the session conf to switch every
  * iterative operator to reliable mode at once; GraphSpec proves both
  * modes converge to identical results.
  */
object Checkpoints {

  val ConfKey = "spark.graft.checkpointDir"

  /** Eagerly checkpoint `df` in the configured mode (reliable when
    * [[ConfKey]] is set, executor-local otherwise). The returned frame's
    * lineage is truncated either way; [[release]] on it drops the
    * in-memory copy (reliable checkpoint files are cleaned by Spark's
    * ContextCleaner when `spark.cleaner.referenceTracking.cleanCheckpoints`
    * is on, or by lake retention policy).
    *
    * A local checkpoint persists its RDD BEFORE the job that materializes
    * it, so a job that throws would leave a persisted RDD no caller holds
    * a handle to; the failure path releases every unnamed, unmaterialized
    * RDD persisted since the call began (cached tables carry a name). The
    * job stays inside the checkpoint action — a lazy checkpoint plus a
    * separate job would not do: `observe()`d metrics (Components, Graph)
    * are delivered by that action and would arrive empty. The window is
    * this call's own under the single-threaded-session assumption the
    * loop operators already make (see [[Fixpoint]]).
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // first reliable checkpoint wins the SparkContext-level dir; a
        // session that re-points the conf mid-flight keeps the original
        // (checkpoint dirs are append-only state, not per-query)
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None =>
        val sc = spark.sparkContext
        val before = sc.getPersistentRDDs.keySet
        try df.localCheckpoint(eager = true)
        catch {
          case e: Throwable =>
            (sc.getPersistentRDDs -- before).values
              .filter(r => r.name == null && !r.isCheckpointed)
              .foreach(_.unpersist(blocking = true))
            throw e
        }
    }
  }

  /** Release the storage of a frame produced by [[checkpoint]].
    *
    * `Dataset.unpersist()` is the WRONG tool for checkpointed frames: it
    * asks the CacheManager to uncache the query, but a checkpointed
    * dataset's blocks are persisted at the RDD level (the CacheManager
    * has never seen them), so the call is a silent no-op and superseded
    * checkpoints linger until the ContextCleaner happens to GC them —
    * the round-7 ADVICE leak, and the reason the GraphSpec leak test
    * needed a retry loop. This walks the analyzed plan to the backing
    * `LogicalRDD` and unpersists THAT, synchronously — deterministic
    * release, no GC luck involved. (Reliable-mode checkpoints keep their
    * lake files; only the block-cache copy is dropped.)
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = true)
      case _ => ()
    }
}
