package graft

/** `GraftSession.withConf` scopes conf writes to its body. Keys are
  * private to this suite: the session is shared with suites running in
  * parallel.
  */
class GraftSessionSpec extends SparkSpecBase {

  private val setKey = "spark.graft.test.withConf.set"
  private val absentKey = "spark.graft.test.withConf.absent"

  test("withConf restores a key set before and leaves an absent key absent, on success and on throw") {
    spark.conf.set(setKey, "before")
    try {
      def scoped[T](body: => T): T =
        GraftSession.withConf(spark, setKey -> "inside", absentKey -> "inside") {
          assert(spark.conf.get(setKey) === "inside")
          assert(spark.conf.get(absentKey) === "inside")
          body
        }
      assert(scoped(42) === 42)
      assert(spark.conf.get(setKey) === "before")
      assert(spark.conf.getOption(absentKey).isEmpty)
      intercept[IllegalStateException](scoped(throw new IllegalStateException("boom")))
      assert(spark.conf.get(setKey) === "before")
      assert(spark.conf.getOption(absentKey).isEmpty)
    } finally spark.conf.unset(setKey)
  }
}
