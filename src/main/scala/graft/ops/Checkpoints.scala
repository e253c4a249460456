package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ListBuffer
import scala.util.control.NonFatal

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
  *
  * Operators make their working tables inside [[scoped]], which owns
  * every checkpoint and cache made in it and releases them when it exits;
  * [[release]] is for callers that free a result an operator returned.
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
        // the SparkContext holds ONE checkpoint dir (a fresh subdir of the
        // dir it was given): re-point it when the conf names another dir,
        // so the conf, not whichever checkpoint ran first, decides where
        // this one lands. Earlier checkpoints keep their own files.
        val root = new Path(dir)
        val qualified = root.getFileSystem(sc.hadoopConfiguration).makeQualified(root)
        if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == qualified))
          sc.setCheckpointDir(dir)
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

  /** The working state of one [[scoped]] block. Every frame made with
    * [[checkpoint]] or [[persist]] belongs to the block and is released
    * when it exits, except those marked with [[keep]].
    */
  final class Scope private[Checkpoints] () {
    // each owned frame with the call that frees it
    private val owned = ListBuffer.empty[(DataFrame, DataFrame => Unit)]
    private val kept = ListBuffer.empty[DataFrame]

    /** [[Checkpoints.checkpoint]] `df`, owned by this scope. */
    def checkpoint(df: DataFrame): DataFrame =
      own(Checkpoints.checkpoint(df), Checkpoints.release)

    /** Cache `df` (MEMORY_AND_DISK, lazy like `Dataset.persist`), owned by
      * this scope.
      */
    def persist(df: DataFrame): DataFrame =
      own(df.persist(StorageLevel.MEMORY_AND_DISK), _.unpersist(blocking = true))

    /** Let `df`, a frame of this scope, outlive a successful exit: the
      * caller reads it lazily. A throwing block releases it with the rest.
      */
    def keep(df: DataFrame): DataFrame = {
      require(owned.exists(_._1 eq df), "keep: the frame was not made in this scope")
      kept += df
      df
    }

    /** Free a frame of this scope now (a superseded round), so a loop
      * holds at most its live rounds.
      */
    def release(df: DataFrame): Unit = {
      val i = owned.indexWhere(_._1 eq df)
      require(i >= 0, "release: the frame was not made in this scope")
      val (_, free) = owned.remove(i)
      free(df)
    }

    private def own(df: DataFrame, free: DataFrame => Unit): DataFrame = {
      owned += df -> free
      df
    }

    /** Free every owned frame but the kept ones (`success`), or all. */
    private[Checkpoints] def close(success: Boolean): Unit = {
      val doomed = owned.filterNot(e => success && kept.exists(_ eq e._1)).toList
      owned.clear()
      doomed.foreach { case (df, free) => free(df) }
    }
  }

  /** Run `body` with a fresh [[Scope]] and release what it made on every
    * exit: on success all but the kept frames, on a throw everything (the
    * body's error propagates, a release error is suppressed into it).
    * This is adopt-before-release stated once: a checkpoint belongs to the
    * scope from the moment it is made, so no window leaves it unowned.
    */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    val out =
      try body(s)
      catch {
        case e: Throwable =>
          try s.close(success = false)
          catch { case NonFatal(r) => e.addSuppressed(r) }
          throw e
      }
    s.close(success = true)
    out
  }

  /** Release the storage of a frame produced by [[checkpoint]] — for a
    * caller freeing a result an operator returned; working tables are a
    * [[Scope]]'s to release.
    *
    * `Dataset.unpersist()` is the WRONG tool for checkpointed frames: it
    * asks the CacheManager to uncache the query, but a checkpointed
    * dataset's blocks are persisted at the RDD level (the CacheManager
    * has never seen them), so the call is a silent no-op and superseded
    * checkpoints linger until the ContextCleaner happens to GC them. This
    * walks the analyzed plan to the backing `LogicalRDD` and unpersists
    * THAT, synchronously — deterministic release, no GC luck involved.
    * (Reliable-mode checkpoints keep their lake files; only the
    * block-cache copy is dropped.)
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = true)
      case _ => ()
    }
}
