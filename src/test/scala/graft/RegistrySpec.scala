package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The row registry: every domain's rows land in `SparkEntry.defs` once,
  * `queries` lists the same rows, and listing frames renders no oracle SQL.
  */
class RegistrySpec extends SparkSpecBase {

  private val frame: (SparkSession, String) => DataFrame =
    (s, _) => s.range(3).toDF("id")

  test("defs holds all 236 rows and queries lists the same names") {
    val defs = SparkEntry.defs
    assert(defs.size == 236)
    assert(SparkEntry.queries.keySet == defs.keySet)
  }

  test("select returns exactly the named rows and throws naming each unknown name") {
    val picked = SparkEntry.select("q_market_stats, q_bom_rollup")
    assert(picked.keySet == Set("q_market_stats", "q_bom_rollup"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select("q_market_stats,q_market_statz,q_nope")
    }
    assert(e.getMessage.contains("q_market_statz"))
    assert(e.getMessage.contains("q_nope"))
    intercept[IllegalArgumentException](SparkEntry.select(" , "))
  }

  test("two rows with one name throw, naming the row") {
    val row = QueryDef.fixed(frame)("SELECT 1")
    val e = intercept[IllegalArgumentException] {
      SparkEntry.registry(Seq("q_a" -> row, "q_b" -> row, "q_a" -> row))
    }
    assert(e.getMessage.contains("q_a"))
    assert(!e.getMessage.contains("q_b"))
  }

  test("queries builds a fixed row's frame without rendering its oracle") {
    val boom = QueryDef.Fixed(frame, () => sys.error("oracle rendered"))
    val frames = SparkEntry.frames(SparkEntry.registry(Seq("q_x" -> boom)))
    assert(frames("q_x")(spark, sfDir).count() == 3)
    // the oracle is rendered only when the row runs
    intercept[RuntimeException](boom.run(spark, sfDir))
  }
}
