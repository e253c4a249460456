package graft

import org.apache.spark.sql.functions._
import graft.sources.Datalake
import java.nio.file.Files

/** Round-16 pins: chain-aware vacuum (retention must never retire a
  * `_BASE` segment the manifest-current read unions over), the evolved-
  * chain safety guards (self-base rejection, cycle detection, exact
  * path-segment pruning evidence), and the geohash domain-edge clamp.
  */
class Round16Spec extends SparkSpecBase {
  import spark.implicits._

  private def evolvedFixture(): String = {
    val root = graft.streaming.StreamReplay.scratch("graft-evac").toString + "/t"
    Datalake.publishEvolved(Seq((1L, "a", "d1")).toDF("id", "k", "day"),
      root, "1", Seq("k"))
    Datalake.publishEvolved(Seq((2L, "b", "d1")).toDF("id", "k", "day"),
      root, "2", Seq("day"))
    Datalake.publishEvolved(Seq((3L, "c", "d2")).toDF("id", "k", "day"),
      root, "3", Seq("day"))
    root
  }

  test("vacuum pins the _BASE chain: retention never retires a live segment") {
    val root = evolvedFixture()
    // keepLast=1 wants to drop v1/v2 — both are chain ancestors of the
    // current v3, so NOTHING may go and the read must be untouched
    assert(Datalake.vacuum(spark, root, keepLast = 1) === Seq())
    assert(Datalake.listVersions(spark, root) === Seq("1", "2", "3"))
    assert(Datalake.readEvolved(spark, root).collect()
      .map(_.getAs[Long]("id")).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("vacuum after rewriteEvolved retires the now-unreferenced chain") {
    val root = evolvedFixture()
    Datalake.rewriteEvolved(spark, root, "4", Seq("day"))
    assert(Datalake.vacuum(spark, root, keepLast = 1) === Seq("1", "2", "3"))
    assert(Datalake.listVersions(spark, root) === Seq("4"))
    assert(Datalake.readEvolved(spark, root).collect()
      .map(_.getAs[Long]("id")).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("vacuum keeps a chain hanging off a retained NON-current version") {
    val root = evolvedFixture()
    // leave the evolved state with a plain publish; the manifest moves on
    Datalake.publish(Seq((9L, "z", "d9")).toDF("id", "k", "day"), root, "5")
    Datalake.publish(Seq((10L, "y", "d9")).toDF("id", "k", "day"), root, "6")
    // keepLast=4 retains {2,3,5,6}; v3 is an evolved segment whose chain
    // tail v1 sits OUTSIDE the age window — the walk must pin it anyway
    assert(Datalake.vacuum(spark, root, keepLast = 4) === Seq())
    // keepLast=2 retains {5,6}: the chain head v3 leaves the window, so
    // v1/v2/v3 (the whole now-unreferenced chain) legitimately go

    assert(Datalake.vacuum(spark, root, keepLast = 2) === Seq("1", "2", "3"))
    assert(Datalake.listVersions(spark, root) === Seq("5", "6"))
  }

  test("time travel and change feed resolve evolved chain STATES") {
    val root = evolvedFixture()
    // readVersion at a historical chain head = the chain state THEN
    assert(Datalake.readVersion(spark, root, "2").collect()
      .map(_.getAs[Long]("id")).sorted.toSeq === Seq(1L, 2L))
    assert(Datalake.readVersion(spark, root, "3").collect()
      .map(_.getAs[Long]("id")).sorted.toSeq === Seq(1L, 2L, 3L))
    // the CDC diff between evolved versions = the later segments' adds
    val feed = Datalake.changeFeed(spark, root, "2", "3", Seq("id"))
      .collect()
    assert(feed.map(r => (r.getAs[Long]("id"),
      r.getAs[String]("_change_type"))).toSet === Set((3L, "insert")))
    // readPublished through the manifest matches readEvolved
    assert(Datalake.readPublished(spark, root).count() === 3L)
  }

  test("deleteWhere on an evolved chain deletes across segments (r17 upgrade)") {
    // round 16 pinned a loud REFUSAL here; round 17 upgraded deleteWhere
    // to chain-aware root-relative vectors (Round17Spec covers the full
    // lifecycle) — this pin now guards the basic cross-segment delete
    val root = evolvedFixture()
    assert(Datalake.deleteWhere(spark, root, col("id") === 1L) === 1L)
    val left = Datalake.readPublished(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(left === Set(2L, 3L))
  }

  test("publishEvolved rejects re-publishing the manifest-current version (cycle guard)") {
    val root = evolvedFixture()
    val ex = intercept[IllegalStateException] {
      Datalake.publishEvolved(Seq((4L, "d", "d2")).toDF("id", "k", "day"),
        root, "3", Seq("day"))
    }
    assert(ex.getMessage.contains("cyclic"))
    // the chain is still intact and readable
    assert(Datalake.readEvolved(spark, root).count() === 3L)
  }

  test("evolvedSegments fails loudly on a corrupted cyclic _BASE, never recurses") {
    val root = evolvedFixture()
    // hand-corrupt v2's _BASE to point at v3 (3 -> 2 -> 3 loop)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$root/v=2/_BASE")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(s"$root/v=3".getBytes("UTF-8")) finally out.close()
    val ex = intercept[IllegalStateException] {
      Datalake.evolvedSegments(spark, root)
    }
    assert(ex.getMessage.contains("cyclic"))
    // and vacuum refuses to compute retention over the corrupt chain
    // rather than guessing a keep set
    val ex2 = intercept[IllegalStateException] {
      Datalake.vacuum(spark, root, keepLast = 1)
    }
    assert(ex2.getMessage.contains("cyclic"))
  }

  test("evolvedPrunedScan matches exact path segments, not substrings") {
    val root = graft.streaming.StreamReplay.scratch("graft-eps").toString + "/t"
    // two partition values where one prefixes the other: day=1 vs day=10
    Datalake.publishEvolved(
      Seq((1L, "1"), (2L, "10")).toDF("id", "day").repartition(1),
      root, "1", Seq("day"))
    val scans = Datalake.evolvedPrunedScan(spark, root, "day", "1")
    assert(scans.length === 1)
    // substring matching counted the day=10 file too (2); exact segment
    // matching admits only day=1's single file
    assert(scans.head.filesTotal === 2L)
    assert(scans.head.filesScanned === 1L)
  }

  test("Ranking.withRank reproduces row_number over any key sign mix, asc and desc") {
    import graft.ops.Ranking
    import org.apache.spark.sql.expressions.Window
    // keys spanning negatives, zero, subnormal-ish, ties (broken by id)
    val rows = Seq(-1e9, -3.5, -3.5, -1e-12, 0.0, 0.0, 1e-12, 2.0, 2.0,
      4.0, 1e15).zipWithIndex.map { case (k, i) => (i.toLong, k) }
    val df = rows.toDF("id", "k")
    for (desc <- Seq(false, true)) {
      val got = Ranking.withRank(df, Nil, "k", desc, "id", "rk", "n").df
        .select(col("id"), col("rk"), col("n")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val w = Window.orderBy(if (desc) col("k").desc else col("k").asc,
        col("id"))
      val want = df.select(col("id"),
          row_number().over(w).cast("long").as("rk")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.view.mapValues(_._1).toMap === want, s"desc=$desc")
      assert(got.values.forall(_._2 === rows.length.toLong))
    }
  }

  test("Ranking.withRank per-group ranks and ntileOf match the window functions") {
    import graft.ops.Ranking
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 97).map(i => (i.toLong, s"g${i % 3}", (i * 37 % 19).toDouble))
      .toDF("id", "g", "k")
    val got = Ranking.withRank(df, Seq("g"), "k", desc = true, "id", "rk", "n")
      .df.select(col("id"), Ranking.ntileOf(col("rk"), col("n"), 4).as("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.partitionBy(col("g")).orderBy(col("k").desc, col("id"))
    val want = df.select(col("id"), ntile(4).over(w).cast("long").as("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("spend/RFM tier plans: every window is bucket-partitioned, no ntile left") {
    for (q <- Seq(graft.queries.Relational.qNtileSpend(spark, sfDir),
        graft.queries.Relational.qRfmSegmentation(spark, sfDir))) {
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      val windows = plan.linesIterator.filter(_.contains("Window ")).toSeq
      assert(windows.nonEmpty, "rank window expected")
      assert(windows.forall(_.contains("__rb")),
        s"window not partitioned by the rank bucket:\n${windows.mkString("\n")}")
      assert(!plan.contains("ntile("),
        "NTILE must be the map-side closed form, not a window function")
    }
  }

  test("ntileOf handles n < k (each row its own bucket)") {
    import graft.ops.Ranking
    val df = Seq((1L, 3L), (2L, 3L), (3L, 3L)).toDF("rk", "n")
    assert(df.select(Ranking.ntileOf(col("rk"), col("n"), 5)).collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
  }

  test("GBT regression beats the OLS closed form on the nonlinear slice") {
    import graft.ops.Gbt
    val rows = graft.queries.Relational.qGbtRegression(spark, sfDir,
        graft.queries.Relational.gbtTrainOrGet(spark, sfDir))
      .collect().map(r => r.getString(0) -> r).toMap
    val train = rows("train")
    val rmseGbt = train.getAs[Double]("rmse")
    // OLS of y on the quadratic driver p_size, closed form over exact
    // sums (the q_regression discipline) — structurally blind to the
    // parabola, so GBT must be strictly better on its own train split
    val f = Gbt.featurize(spark, sfDir)
      .filter(col("is_train"))
      .selectExpr("CAST(b_size AS DOUBLE) AS xb", "y")
    val a = f.agg(count(lit(1)).cast("double").as("n"),
      sum(col("xb")).as("sx"), sum(col("xb") * col("xb")).as("sxx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("xb") * col("y")).as("sxy"),
      sum(col("y") * col("y")).cast("double").as("syy")).collect()(0)
    val (n, sx, sxx, sy, sxy, syy) = (a.getDouble(0), a.getDouble(1),
      a.getDouble(2), a.getDouble(3), a.getDouble(4), a.getDouble(5))
    val m = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val b = (sy - m * sx) / n
    val sse = syy - 2 * m * sxy - 2 * b * sy + m * m * sxx +
      2 * m * b * sx + n * b * b
    val rmseOls = math.sqrt(sse / n)
    assert(rmseGbt < rmseOls,
      s"GBT train RMSE $rmseGbt must beat OLS $rmseOls")
    // and it must generalize: test R² well above the OLS ceiling
    assert(rows("test").getAs[Double]("r2") > 0.5)
  }

  test("GBT importance: nonlinear driver dominates, noise feature reads zero") {
    val m = graft.queries.Relational.gbtTrainOrGet(spark, sfDir)
    val rows = graft.queries.Relational.qGbtImportance(spark, sfDir, m)
      .collect().map(r => (r.getString(0),
        r.getLong(1), r.getAs[Double]("total_gain"),
        r.getAs[Double]("share"))).sortBy(-_._4)
    assert(rows.head._1 === "x_size",
      "the planted quadratic driver must rank first")
    val noise = rows.find(_._1 == "x_noise").get
    assert(noise._4 < 0.05, s"noise share ${noise._4} must be ~0")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-12,
      "shares must partition the total gain")
    assert(rows.map(_._2).sum === m.trees.length.toLong)
    // every trained stump carries a positive split gain
    assert(m.trees.forall(_.splits.values.forall(_.gainRaw > 0)))
  }

  test("geohash5FromCell is exactly the precision-5 prefix of geohash6") {
    import graft.functions.geo
    // deterministic scatter across the globe, including cell edges
    val pts = (0 until 500).map { i =>
      (-90.0 + (i * 2654435761L % 18001) / 100.0,
        -180.0 + (i * 1099087573L % 36001) / 100.0)
    }
    val df = pts.toDF("lat", "lon")
    val (ix, iy) = geo.cellIndices(col("lat"), col("lon"))
    val bad = df.select(
        substring(geo.geohash6(col("lat"), col("lon")), 1, 5).as("want"),
        geo.geohash5FromCell(shiftright(ix, 2), shiftright(iy, 3))
          .as("got"))
      .filter(col("want") =!= col("got")).count()
    assert(bad === 0L, "re-encoded prefix-5 cell must equal the prefix")
  }

  test("conformal intervals: calibration coverage >= 1 - alpha by construction, eval near it") {
    val rows = graft.queries.Relational.qConformalInterval(spark, sfDir,
        graft.queries.Relational.gbtTrainOrGet(spark, sfDir))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Double]("coverage"))).toMap
    val (nCal, qhat, covCal) = rows("calibration")
    assert(qhat > 0L)
    assert(covCal >= 0.9,
      s"calibration coverage $covCal is >= 1-alpha by the k-th-order-stat rule")
    // lower bound is the conformal guarantee (minus small-sample slack);
    // no upper pin — at the tiny test SF a 20-point eval half saturates
    val covEval = rows("eval")._3
    assert(covEval >= 0.85,
      s"eval coverage $covEval should sit at or above the 0.9 guarantee")
    assert(nCal > 0)
  }

  test("A/A CUPED readout: null result, sane variance accounting") {
    val r = graft.queries.Relational.qAbCuped(spark, sfDir).collect()(0)
    val z = r.getAs[Double]("z_cuped")
    assert(math.abs(z) < 4.0,
      s"hash-split A/A must not read a significant effect, z=$z")
    val vr = r.getAs[Double]("var_reduction")
    assert(vr >= 0.0 && vr < 1.0,
      s"CUPED variance reduction must be in [0,1), got $vr")
    assert(r.getAs[Double]("se_cuped") > 0.0)
    // arms are a near-even hash split
    val (na, nb) = (r.getLong(0), r.getLong(1))
    assert(math.abs(na - nb).toDouble / (na + nb) < 0.2)
  }

  test("k-core: every surviving node keeps degree >= k IN THE CORE") {
    val rows = graft.queries.GraphQueries.qKcore(spark, sfDir).collect()
    assert(rows.forall(_.getAs[Long]("core_deg") >= 2L),
      "a node below k survived the peel")
    // and the peel is not vacuous at the test SF: something was removed
    // (the raw repeat-graph has degree-1 leaves by construction)
    assert(rows.nonEmpty)
  }

  test("cohort LTV: cumulative curve is monotone and ends at total spend") {
    import graft.ops.Agg.decSum2
    val rows = graft.queries.Relational.qCohortLtv(spark, sfDir).collect()
    val byCohort = rows.groupBy(_.getAs[java.sql.Date]("cohort"))
    byCohort.values.foreach { rs =>
      val ages = rs.sortBy(_.getAs[Long]("age"))
      val cums = ages.map(_.getAs[Long]("cum_cents"))
      assert(cums.zip(cums.tail).forall { case (a, b) => b >= a },
        "cumulative revenue must be monotone in age")
      assert(ages.last.getAs[Long]("cum_cents") ===
        ages.map(_.getAs[Long]("rev_cents")).sum)
    }
    // grand total across cohorts equals the whole table's revenue
    val totalCents = rows.groupBy(_.getAs[java.sql.Date]("cohort"))
      .values.map(_.map(_.getAs[Long]("rev_cents")).sum).sum
    val want = graft.sources.Tables.orders(spark, sfDir)
      .agg((decSum2(col("o_totalprice")) * 100).cast("long")).collect()(0)
      .getLong(0)
    assert(totalCents === want)
  }

  test("geohash clamps the domain maxima into the top cell") {
    val df = Seq((90.0, 180.0), (89.999, 179.999), (-90.0, -180.0))
      .toDF("lat", "lon")
      .select(graft.functions.geo.geohash6(col("lat"), col("lon"))
        .as("gh"))
    val gh = df.collect().map(_.getString(0))
    // lat=90/lon=180 quantize to index 32768 pre-clamp; unclamped, the
    // 16th bit is lost and the corner encodes as the SW-most cell "00000"
    assert(gh(0) === "zzzzzz", s"NE corner must encode max cell, got ${gh(0)}")
    assert(gh(1) === "zzzzzz", "just-inside point shares the top cell")
    assert(gh(2) === "000000", "SW corner is the min cell")
  }
}
