package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{AvroIo, Datalake}

/** The Avro container-file bridge and the export mapping sidecar: both
  * are INTEROP artifacts, so their contracts are value-exact round-trips
  * and byte-pinned formats, not approximations.
  */
class AvroSpec extends SparkSpecBase {

  test("avro round-trip is value-exact across every bridged type, nulls included") {
    import java.time.LocalDateTime
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("s", StringType), StructField("b", BooleanType),
      StructField("dt", DateType), StructField("ts", TimestampNTZType)))
    val rows = Seq(
      Row(1L, 2, 3.25, 4.5f, "x", true,
        java.sql.Date.valueOf("2024-02-29"),
        LocalDateTime.parse("2024-02-29T12:34:56.123456")),
      Row(null, null, null, null, null, null, null, null),
      Row(-9L, -8, -0.5, -1.5f, "déjà vu ✓", false,
        java.sql.Date.valueOf("1969-12-31"),
        LocalDateTime.parse("1969-12-31T23:59:59")))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val p = graft.streaming.StreamReplay.scratch("graft-avrospec")
      .resolve("t").toString
    AvroIo.writeAvro(df, p)
    val back = AvroIo.readAvro(spark, p)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      schema.map(f => (f.name, f.dataType)),
      "schema must survive the header round-trip")
    assert(back.collect().toSet === rows.toSet,
      "every value (nulls, negatives, non-ASCII, sub-second) bit-exact")
  }

  test("avro writer refuses an unbridgeable type loudly") {
    val df = spark.range(1).select(array(lit(1)).as("a"))
    val e = intercept[IllegalArgumentException] {
      AvroIo.toAvroSchema(df.schema, "r")
    }
    assert(e.getMessage.contains("unsupported Spark type"))
  }

  test("export mapping sidecar: byte-pinned body, geo struct detected, atomic beside the data") {
    val docs = spark.range(3).select(
      concat(lit("d"), col("id")).as("doc_id"),
      col("id").as("k"),
      (col("id") * 1.5).as("score"),
      struct(lit(1.0).as("lat"), lit(2.0).as("lon")).as("location"),
      array(lit("t1")).as("tags"),
      to_date(lit("2024-01-01")).as("created"))
    val p = graft.streaming.StreamReplay.scratch("graft-exportspec")
      .resolve("docs").toString
    Datalake.writeJsonlExport(docs, p)
    assert(Datalake.exportMapping(docs.schema) ===
      """{
        |  "properties": {
        |    "doc_id": {"type": "keyword"},
        |    "k": {"type": "long"},
        |    "score": {"type": "double"},
        |    "location": {"type": "geo_point"},
        |    "tags": {"type": "keyword"},
        |    "created": {"type": "date"}
        |  }
        |}
        |""".stripMargin)
    assert(Datalake.readExportMapping(spark, p) === Seq(
      "doc_id" -> "keyword", "k" -> "long", "score" -> "double",
      "location" -> "geo_point", "tags" -> "keyword", "created" -> "date"))
    // the sidecar's underscore name keeps it invisible to the data read
    assert(spark.read.json(p).count() === 3)
    // a struct that is NOT {lat,lon} doubles stays an object
    val notGeo = spark.range(1).select(
      struct(lit(1.0).as("lat"), lit("x").as("lon")).as("location"))
    assert(Datalake.exportMapping(notGeo.schema).contains("\"object\""))
  }
}
