package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial column builders (round 15c). Pure Column arithmetic — no
  * UDFs, every op stays inside whole-stage codegen, and every step is
  * integer/IEEE-deterministic so the SAME construction replays in the
  * DuckDB oracle (the generated-SQL twin lives in Relational's
  * geohash oracle).
  *
  * Geohash (the reference's geo_point world, index_to_es.py:247-268,
  * speaks exactly this encoding): quantize lon/lat to 15 bits each over
  * their full ranges, interleave MSB-first starting with longitude (the
  * published geohash bit order), and emit base32 characters from the
  * standard alphabet. Precision 6 ⇒ 30 bits ⇒ ±~0.3 km — the cell size
  * proximity UIs use.
  */
object geo {

  val GeohashAlphabet = "0123456789bcdefghjkmnpqrstuvwxyz"

  /** 30-bit interleaved geohash integer (precision 6). Quantization is
    * one multiply+floor per axis — the same IEEE expression tree as the
    * oracle; all bit surgery is exact long arithmetic. The quantized
    * indices are clamped to 32767: the domain maxima (lat=90, lon=180)
    * quantize to 32768, a 16th bit the 15-bit interleave would misplace
    * — the clamp folds each boundary into its max cell (half-open cells
    * everywhere except the closed top edge, the standard geohash
    * convention). Mirrored verbatim in Relational.geohashOracle.
    */
  def geohashBits(lat: Column, lon: Column): Column = {
    val (ix, iy) = cellIndices(lat, lon)
    // lon bits land at 29,27,...,1; lat bits at 28,26,...,0 (MSB first)
    val terms = (0 until 15).flatMap { j =>
      Seq(
        shiftright(ix, 14 - j).bitwiseAND(lit(1L)) * lit(1L << (29 - 2 * j)),
        shiftright(iy, 14 - j).bitwiseAND(lit(1L)) * lit(1L << (28 - 2 * j)))
    }
    terms.reduce(_ + _)
  }

  /** Precision-6 geohash string from the 30-bit integer. */
  def geohash6(lat: Column, lon: Column): Column = {
    val bits = geohashBits(lat, lon)
    val alpha = array(GeohashAlphabet.map(c => lit(c.toString)): _*)
    val chars = (0 until 6).map { i =>
      element_at(alpha,
        (shiftright(bits, 25 - 5 * i).bitwiseAND(lit(31L)) + lit(1L))
          .cast("int"))
    }
    concat(chars: _*)
  }

  /** Clamped 15-bit quantized axis indices — the (ix, iy) pair
    * [[geohashBits]] interleaves; exposed for cell-level operators
    * (prefix buckets, neighbor rings) that need to do integer
    * arithmetic on the axes before re-encoding.
    */
  def cellIndices(lat: Column, lon: Column): (Column, Column) = (
    least(floor((lon + lit(180.0)) / lit(360.0) * lit(32768.0))
      .cast("long"), lit(32767L)),
    least(floor((lat + lit(90.0)) / lit(180.0) * lit(32768.0))
      .cast("long"), lit(32767L)))

  /** Precision-5 geohash string from PREFIX-5 CELL indices
    * (cx = ix >> 2: 13 lon bits; cy = iy >> 3: 12 lat bits) — by
    * construction identical to `substring(geohash6(lat, lon), 1, 5)`
    * for any point in the cell (pinned in Round16Spec). This is the
    * re-encode half of a neighbor-ring proximity join: shift a cell
    * index by ±1 per axis, re-encode, and the string key addresses the
    * adjacent precision-5 bucket. No antimeridian/pole wrap — callers
    * filter shifted indices to the valid range instead.
    */
  def geohash5FromCell(cx: Column, cy: Column): Column = {
    val terms =
      (0 until 13).map { j =>
        shiftright(cx, 12 - j).bitwiseAND(lit(1L)) * lit(1L << (24 - 2 * j))
      } ++ (0 until 12).map { j =>
        shiftright(cy, 11 - j).bitwiseAND(lit(1L)) * lit(1L << (23 - 2 * j))
      }
    val bits = terms.reduce(_ + _)
    val alpha = array(GeohashAlphabet.map(c => lit(c.toString)): _*)
    val chars = (0 until 5).map { i =>
      element_at(alpha,
        (shiftright(bits, 20 - 5 * i).bitwiseAND(lit(31L)) + lit(1L))
          .cast("int"))
    }
    concat(chars: _*)
  }
}
