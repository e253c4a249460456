package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.types.LongType

import graft.streaming.StreamReplay.{feed, foreachEpoch, scratch}

/** Spark's compiled-class cache is large enough that a generated class
  * survives the rest of a workload's classes and is not compiled again.
  *
  * The first spec asserts class identity rather than reading
  * `CodegenMetrics`: that counter is JVM-wide, so any other suite's
  * codegen would move it. The stream spec reads it, so it retries.
  */
class CodegenCacheSpec extends SparkSpecBase {

  /** `id + i` over one long column; each distinct `i` is inlined as a
    * literal, so each is its own generated class. */
  private def projection(i: Long) =
    GenerateUnsafeProjection.generate(
      Seq(Add(BoundReference(0, LongType, nullable = false), Literal(i))))

  test("a generated class is reused after 400 other classes are generated") {
    assert(spark.version.nonEmpty) // the shared session sizes the cache, so build it first
    val first = projection(0)
    // Spark's default of 100 entries (4 LRU segments of 25) evicts `first`
    // long before this loop ends
    (1 to 400).foreach(i => projection(i))
    assert(projection(0).getClass eq first.getClass,
      "the first projection's class was evicted and compiled again")
  }

  test("a second identical AvailableNow stream compiles no class") {
    val df = spark.range(0, 3000)
      .selectExpr("id AS k", "id % 7 AS g", "id * 3 AS v")
    // each run is a new sub-session and a new stream, each of them a
    // cloned session; with per-session artifact isolation every one had
    // its own executor class loader and recompiled every class
    def compiles(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      foreachEpoch(feed(spark, df, 2, "k"), scratch("graft-cg-ck").toString) {
        (batch, _) => batch.groupBy("g").agg(sum("v")).collect(); ()
      }.awaitTermination()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiles()
    // a compile on another thread lands in the same JVM-wide counter: the
    // least of three runs is this stream's own count
    val again = Seq.fill(3)(compiles())
    assert(again.min === 0L, s"compiles per repeated run: $again")
  }
}
