package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import graft.ops.{Checkpoints, Components}

class CheckpointsSpec extends SparkSpecBase {

  /** Runs `op` until the persistent RDDs it adds beyond `expected` are
    * none, then once more to confirm (the assertReleasesStorage rule:
    * suites share one context, so a single reading can race another
    * suite's cache, but a recurring leak cannot hide behind one clean
    * attempt). `op` returns the RDD ids it is allowed to leave.
    */
  private def assertLeavesOnly(name: String, attempts: Int = 5)(
      op: () => Set[Int]): Unit = {
    val sc = spark.sparkContext
    val readings = scala.collection.mutable.ListBuffer.empty[Set[Int]]
    def attempt(): Boolean = {
      val before = sc.getPersistentRDDs.keySet
      val allowed = op()
      val extra = sc.getPersistentRDDs.keySet -- before -- allowed
      readings += extra.toSet
      extra.isEmpty
    }
    var clean = false
    var i = 0
    while (!clean && i < attempts) { clean = attempt(); i += 1 }
    assert(clean, s"$name left persisted RDDs on $attempts attempts: $readings")
    assert(attempt(), s"$name leaked on the confirming attempt: $readings")
  }

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd.id }.toSet

  test("a checkpoint whose materialization throws leaves no persisted RDD behind") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val failing = spark.range(0, 100).select(
      when(col("id") === 42L, raise_error(lit("boom")))
        .otherwise(col("id")).as("id"))
    intercept[Exception](Checkpoints.checkpoint(failing))
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"the failed checkpoint left persisted RDDs $leaked")
  }

  test("a successful checkpoint is materialized and truncates the lineage") {
    val ck = Checkpoints.checkpoint(
      spark.range(0, 100).toDF().filter(col("id") % 3 === 0))
    try {
      val leaves = ck.queryExecution.analyzed.collectLeaves()
      assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]),
        s"lineage not truncated: ${ck.queryExecution.analyzed}")
      val rdd = leaves.head.asInstanceOf[LogicalRDD].rdd
      assert(rdd.isCheckpointed, "checkpoint returned before materializing")
      assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
      assert(ck.count() === 34L)
    } finally Checkpoints.release(ck)
  }

  test("a scope that throws releases every checkpoint and cache it made, kept ones too") {
    assertLeavesOnly("a throwing scope") { () =>
      val e = intercept[IllegalStateException](Checkpoints.scoped { s =>
        s.checkpoint(spark.range(0, 10).toDF())
        s.keep(s.checkpoint(spark.range(0, 20).toDF()))
        s.persist(spark.range(0, 30).toDF()).count()
        throw new IllegalStateException("scope body failed")
      })
      assert(e.getMessage === "scope body failed")
      Set.empty
    }
  }

  test("a scope that returns leaves only its kept frame persisted") {
    assertLeavesOnly("a returning scope") { () =>
      val kept = Checkpoints.scoped { s =>
        val a = s.checkpoint(spark.range(0, 10).toDF())
        val cached = s.persist(a.select((col("id") * 2).as("id")))
        cached.count()
        val early = s.checkpoint(cached.filter(col("id") > 4))
        s.release(early)
        s.keep(s.checkpoint(cached.filter(col("id") % 3 === 0)))
      }
      assert(kept.count() === 4L)
      val ids = rddIds(kept)
      assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains),
        "the kept checkpoint was released")
      Checkpoints.release(kept)
      ids
    }
  }

  test("connectedComponents that does not converge throws and leaves no persisted RDD") {
    val sp = spark
    import sp.implicits._
    // a 64-node path needs several pointer-jumping rounds; one is too few
    val nodes = (0L until 64L).toDF("id")
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    assertLeavesOnly("connectedComponents(maxIters = 1)") { () =>
      val e = intercept[IllegalArgumentException](
        Components.connectedComponents(nodes, edges, maxIters = 1))
      assert(e.getMessage.contains("not converged"))
      Set.empty
    }
  }

  test("qBloomPrune checkpoints reliably when spark.graft.checkpointDir is set") {
    val dir = graft.streaming.StreamReplay.scratch("graft-bloom-ck").toString
    val res = GraftSession.withConf(spark, Checkpoints.ConfKey -> dir)(
      graft.queries.Relational.qBloomPrune(spark, sfDir))
    try {
      val rdds = res.queryExecution.analyzed.collectLeaves()
        .collect { case l: LogicalRDD => l.rdd }
      assert(rdds.nonEmpty && rdds.forall(_.getCheckpointFile.isDefined),
        s"result not reliably checkpointed: ${res.queryExecution.analyzed}")
      assert(res.collect().length === 1)
    } finally Checkpoints.release(res)
  }
}
