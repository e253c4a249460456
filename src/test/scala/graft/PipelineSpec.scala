package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Cleaning
import graft.sources.Datalake

/** End-to-end layered-datalake run mirroring the reference DAG
  * (fetch→format→usage→index, cf. /root/reference/dags): raw CSV with dirty
  * cells → formatted parquet via coercing casts + keep-last dedup → usage
  * aggregate → JSONL bulk export. Every stage is a distributed read/write —
  * the shape that scales to a partitioned 100 TB tree.
  */
class PipelineSpec extends SparkSpecBase {

  test("raw csv → formatted parquet → usage agg → jsonl export") {
    val root = graft.streaming.StreamReplay.scratch("graft-lake").toString
    // --- raw layer: dirty CSV (bad price, bad date, duplicate id)
    val rawDir = s"$root/raw/listings/ads"
    Files.createDirectories(Paths.get(rawDir))
    Files.writeString(Paths.get(s"$rawDir/part-0.csv"),
      """id,price,city,updated
        |1,100.5,paris,2024-01-01 10:00:00
        |2,oops,lyon,2024-01-02 11:00:00
        |3,300.0,paris,not-a-date
        |1,150.0,paris,2024-01-03 09:00:00
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("price", StringType),
      StructField("city", StringType), StructField("updated", StringType)))

    // --- format: coerce + dedup keep-last by id (raw_to_fmt_lbc.py semantics)
    val raw = Datalake.readCsv(spark, rawDir, schema)
    val fmt = raw
      .withColumn("price", Cleaning.coerceDouble(col("price")))
      .withColumn("updated", Cleaning.coerceTimestamp(col("updated")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("updated").desc_nulls_last)))
      .filter(col("__rn") === 1).drop("__rn")
    val fmtPath = Datalake.path(root, Datalake.Formatted, "listings", "ads")
    Datalake.writeParquet(fmt, fmtPath)

    // --- usage: per-city stats (compute_usage.py semantics)
    val usage = spark.read.parquet(fmtPath)
      .filter(col("price") > 0)
      .groupBy("city")
      .agg(avg("price").as("avg_price"), count(lit(1)).as("n"))
    val usagePath = Datalake.path(root, Datalake.Usage, "listings", "market")
    Datalake.writeParquet(usage, usagePath)

    // --- export: JSONL docs with ids (index_to_es.py semantics)
    val exportPath = s"$root/export/market"
    Datalake.writeJsonl(
      spark.read.parquet(usagePath)
        .select(concat(lit("city_"), col("city")).as("doc_id"),
          col("city"), col("avg_price"), col("n")),
      exportPath)

    // --- assertions
    val fmtRows = spark.read.parquet(fmtPath).orderBy("id").collect()
    assert(fmtRows.length === 3, "dedup keep-last: 4 raw rows → 3 ids")
    assert(fmtRows(0).getAs[Double]("price") === 150.0, "id=1 keeps latest row")
    assert(fmtRows(1).getAs[Double]("price") === 0.0, "bad price coerced to 0")
    assert(fmtRows(2).isNullAt(fmtRows(2).fieldIndex("updated")), "bad date → null")
    val docs = spark.read.json(exportPath).collect()
    assert(docs.length === 1, "lyon's only row had price coerced to 0 → filtered")
    val paris = docs.find(_.getAs[String]("city") == "paris").get
    assert(paris.getAs[String]("doc_id") === "city_paris")
    assert(paris.getAs[Long]("n") === 2L)
  }
}
