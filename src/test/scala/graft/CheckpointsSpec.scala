package graft

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import graft.ops.Checkpoints

class CheckpointsSpec extends SparkSpecBase {

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
}
