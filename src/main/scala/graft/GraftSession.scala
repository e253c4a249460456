package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration we want on a real cluster.
  *
  * Scale notes: AQE handles runtime coalescing + skew-join splitting, so the
  * static `shuffle.partitions` is only an upper bound for the local harness
  * (32 threads). On a 1000-executor cluster the same code runs with
  * `spark.sql.shuffle.partitions` sized to ~2-3x total cores and AQE
  * coalesces small stages back down.
  */
object GraftSession {
  /** Entries in Spark's compiled-class cache, `spark.sql.codegen.cache.maxEntries`
    * (default 100), one of the [[EngineConfs]].
    *
    * The conf is static: `CodeGenerator`'s cache is one JVM-wide LRU, sized
    * once by the session that first generates code, and a later session's
    * value is ignored.
    *
    * The default thrashes. One etl_dag round generates about 200 distinct
    * classes (lake_txn's first round about 70), so at 100 entries each class
    * is evicted before the next round asks for it, and every etl_dag round
    * recompiled ~200 classes.
    *
    * 2000 is ten times that working set; with it etl_dag's timed rounds
    * compile 0-4 classes. A full sf0.01 Verify pass compiles 6,374 classes
    * at 100 entries, 4,142 at 2000 and 3,921 at 20000, so 2000 already takes
    * 91% of what any cache size saves there.
    */
  val CodegenCacheEntries = 2000

  /** The confs that decide how Spark runs graft's work, as opposed to how
    * a harness sizes it. Every session builder graft owns applies them:
    * [[builder]] (which Verify, Bench, Inspect and perfbench use) and the
    * test session, so the specs run the same I/O and codegen paths. Each
    * is static: it holds only when set before the session is created.
    *
    *  - the compiled-class cache size, [[CodegenCacheEntries]];
    *  - the local file system, Hadoop's with file modes set in-process
    *    (`graft.sources.InProcessLocalFileSystem`), for both the
    *    `FileSystem` and the `FileContext` API: stock Hadoop without its
    *    native library forks a `chmod` per created file, `.crc` and dir
    *    and a `readlink` per `FileContext` link status;
    *  - no per-session artifact isolation: graft adds no jars or files to
    *    a session, and with isolation on every cloned session (each
    *    streaming query runs in one) gets its own executor class loader,
    *    which is part of the codegen cache key, so a stream recompiled
    *    every class it had compiled in an earlier run.
    */
  val EngineConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.hadoop.fs.file.impl" ->
      classOf[graft.sources.InProcessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[graft.sources.InProcessLocalFs].getName,
    "spark.sql.artifact.isolation.enabled" -> "false")

  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .appName(appName)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // allow co-partitioned joins to ride a partitioning on a SUBSET of
      // the join keys (e.g. one user_id repartition serving a
      // (user_id, day) join — qGapFill): rows equal on all join keys are
      // certainly co-located when partitioned by a subset. The default
      // (true) forces a full-key reshuffle purely to avoid inheriting a
      // coarser partitioning's skew; our skew story is AQE skew-join +
      // explicit salting, so the extra shuffle is pure waste here.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // graft custom expressions usable from plain SQL
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      // testdata events.ts is parquet TIMESTAMP(NANOS); read as raw nanos
      // longs and convert in sources.Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config(EngineConfs)
  }

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with each `key -> value` set on the session's conf,
    * restoring every key on every exit path: its prior value if it had one,
    * otherwise the key is unset. A session-wide write, so the usual
    * one-query-at-a-time contract per session applies.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
