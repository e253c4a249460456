package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (Spark startup dominates test
  * wall-clock otherwise).
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
      .config(GraftSession.EngineConfs)
      .getOrCreate()
    // getOrCreate() can return a session another suite built first (suites run
    // in parallel); builder configs are then only best-effort. The nanos read
    // conf is load-bearing for every events-table suite, so pin it on whatever
    // session we actually got.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  /** THE storage-release leak check every checkpoint-using query shares:
    * one invocation may leave exactly ONE persistent RDD behind — its
    * checkpointed result. Suites share this SparkContext and
    * cache/unpersist concurrently, so a single before/after count races
    * with them; the loop retries up to `attempts` times, and a clean
    * reading must then CONFIRM on the very next invocation — a recurring
    * leak can no longer hide behind one lucky clean attempt (round-8
    * ADVICE), while one transient race is still absorbed by the retry.
    * The cumulative bound (each clean attempt contributes exactly 1, plus
    * `slack` for at most that many racy readings) additionally catches a
    * leak that fires on most-but-not-all attempts. Returns the last
    * invocation's frame so callers can inspect its plan.
    */
  def assertReleasesStorage(name: String,
      run: () => org.apache.spark.sql.DataFrame,
      attempts: Int = 5, slack: Int = 1): org.apache.spark.sql.DataFrame = {
    val sc = spark.sparkContext
    val deltas = scala.collection.mutable.ListBuffer.empty[Int]
    var last: org.apache.spark.sql.DataFrame = null
    def attempt(): Int = {
      val before = sc.getPersistentRDDs.size
      last = run()
      last.collect()
      val after = sc.getPersistentRDDs.size
      deltas += (after - before)
      after - before
    }
    var clean = false
    var i = 0
    while (!clean && i < attempts) { clean = attempt() <= 1; i += 1 }
    assert(clean,
      s"$name leaked cached state on $attempts consecutive attempts: $deltas")
    assert(attempt() <= 1,
      s"$name leaked on the confirming attempt right after a clean one: $deltas")
    assert(deltas.sum <= deltas.length + slack,
      s"$name cumulative cached-RDD growth too high: $deltas")
    last
  }
}
