package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev tool: time registry rows and show the plan each one executed.
  * Usage: sbt "runMain graft.Inspect <sfDir> [q_a,q_b,...] [reps]"
  *
  * Each selected row (every row when no list is given) runs `reps` times
  * (default 1); run 1 includes JVM and codegen warm-up. Each run prints
  * its time in two parts: building the frame (a row built on a checkpoint,
  * such as q_bom_rollup, runs its loop here) and executing it. Then one line of
  * operator counts from the last run's executed plan — a quick scan for
  * accidental shuffles — and that plan's formatted explain, which under AQE
  * is the final plan. Redirect stdout to keep the plans in a file.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args.length > 3) {
      System.err.println("usage: Inspect <sfDir> [q_a,q_b,...] [reps]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val rows = args.lift(1)
      .fold(SparkEntry.queries)(n => SparkEntry.frames(SparkEntry.select(n)))
    val reps = args.lift(2).fold(1)(_.toInt.max(1))
    val spark = GraftSession.get("graft-inspect")
    rows.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qe = (1 to reps).map { i =>
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          materialize(df)
          val t2 = System.nanoTime()
          println(f"INSPECT $name run$i: ${(t2 - t0) / 1e9}%.2fs " +
            f"(build ${(t1 - t0) / 1e9}%.2fs, execute ${(t2 - t1) / 1e9}%.2fs)")
          df
        }.last.queryExecution
        val plan = (qe.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }).toString
        def c(s: String) = s.r.findAllIn(plan).length
        println(f"PLAN $name%-24s exch=${c("Exchange")}%2d " +
          f"bcast=${c("BroadcastExchange")}%2d reuse=${c("ReusedExchange")}%2d " +
          f"smj=${c("SortMergeJoin")}%2d bhj=${c("BroadcastHashJoin")}%2d " +
          f"nlj=${c("BroadcastNestedLoopJoin")}%2d " +
          // negative lookahead: WindowGroupLimit (top-k pushdown, desirable)
          // must not count as a WindowExec
          f"win=${c("Window(?!GroupLimit)")}%2d wgl=${c("WindowGroupLimit")}%2d")
        println(qe.explainString(ExplainMode.fromString("formatted")))
      } catch { case e: Throwable => println(s"INSPECT $name FAILED: ${e.getMessage}") }
    }
    graft.streaming.StreamReplay.stopStreams(spark)
    spark.stop()
  }

  /** Computes every row of `df` and drops it, as the `noop` sink does, but
    * through the frame's own QueryExecution: a noop write plans a new one,
    * which leaves `df.queryExecution` at AQE's initial plan.
    */
  private def materialize(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("inspect")) {
      qe.executedPlan.execute().foreach(_ => ())
    }
  }
}
