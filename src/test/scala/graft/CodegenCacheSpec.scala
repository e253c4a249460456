package graft

import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType

/** Spark's compiled-class cache is large enough that a generated class
  * survives the rest of a workload's classes and is not compiled again.
  *
  * It asserts class identity rather than reading `CodegenMetrics`: that
  * counter is JVM-wide, so any other suite's codegen would move it.
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
}
