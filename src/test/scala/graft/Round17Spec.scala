package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Ranking

/** Round-17 pins: the Ranking degenerate-skew sub-bucket guard (the r16
  * verdict's named residual — an all-identical sort key folding a whole
  * group into one bucket must no longer inherit a single-reducer sort),
  * the NULL-group and NaN-key contract hardening, and this round's GBT
  * additions (categorical feature, model store-then-serve, depth-2
  * trees).
  */
class Round17Spec extends SparkSpecBase {
  import spark.implicits._

  private def groundTruthRanks(df: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String], keyCol: String, desc: Boolean,
      tieCol: String): Map[Long, Long] = {
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy((if (desc) col(keyCol).desc else col(keyCol).asc) ::
        col(tieCol).asc :: Nil: _*)
    df.withColumn("__exp", row_number().over(w).cast("long"))
      .select(col(tieCol).cast("long"), col("__exp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("withRank sub-splits a constant-key bucket by tie order") {
    // every key identical → ALL rows fold into one log bucket; with the
    // old plan that is one reducer sorting the whole frame. The guard
    // must tie-sub-bucket it and keep every window partition bounded.
    val n = 12000
    val df = spark.range(1, n + 1)
      .select(col("id"), lit(7.5).as("k"))
    val r = Ranking.withRank(df, Nil, "k", desc = false, tieCol = "id",
      rankName = "rk", nName = "nn", skewThreshold = 1000)
    val got = r.df.select(col("id"), col("rk"), col("nn")).collect()
    assert(got.length === n)
    assert(got.forall(_.getLong(2) === n))
    // constant key ⇒ rank is exactly the tie (id) order
    got.foreach(row => assert(row.getLong(1) === row.getLong(0),
      s"rank ${row.getLong(1)} != id ${row.getLong(0)}"))
    assert(r.maxPartitionRows <= 1000,
      s"max window partition ${r.maxPartitionRows} must be " +
        "bounded by the threshold after the tie sub-split")
  }

  test("withRank sub-splits a spread oversized bucket by a linear key grid") {
    // keys packed inside ONE log-bucket octave slice (width ~2.2%) —
    // the cell is oversized but NOT constant-key, so the guard must
    // grid-split on the key itself and ranks must stay exact
    val n = 8000
    val df = spark.range(0, n)
      .select(col("id"),
        (lit(1024.0) + (col("id") % 200).cast("double") * 0.1).as("k"))
    val exp = groundTruthRanks(df, Nil, "k", desc = true, "id")
    val r = Ranking.withRank(df, Nil, "k", desc = true, tieCol = "id",
      rankName = "rk", nName = "nn", skewThreshold = 500)
    r.df.select(col("id"), col("rk")).collect().foreach { row =>
      assert(row.getLong(1) === exp(row.getLong(0)))
    }
    assert(r.maxPartitionRows <= 500,
      s"max window partition ${r.maxPartitionRows} exceeds " +
        "the threshold after the grid sub-split")
  }

  test("withRank sub-split composes with group columns and stays exact") {
    val n = 6000
    val df = spark.range(0, n)
      .select(col("id"), (col("id") % 3).cast("string").as("g"),
        lit(2.25).as("k"))
    val w = Window.partitionBy(col("g")).orderBy(col("id").asc)
    val exp = df.withColumn("e", row_number().over(w).cast("long"))
      .select(col("id"), col("e"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r = Ranking.withRank(df, Seq("g"), "k", desc = false,
      tieCol = "id", rankName = "rk", nName = "nn", skewThreshold = 400)
    r.df.select(col("id"), col("rk"), col("nn")).collect().foreach { row =>
      assert(row.getLong(1) === exp(row.getLong(0)))
      assert(row.getLong(2) === n / 3)
    }
    assert(r.maxPartitionRows <= 400)
  }

  test("withRank ranks a NULL group value instead of erroring (null-safe join)") {
    val df = Seq((1L, Some("a"), 10.0), (2L, Some("a"), 5.0),
      (3L, None, 7.0), (4L, None, 3.0))
      .toDF("id", "g", "k")
      .select(col("id"), col("g"), col("k"))
    val r = Ranking.withRank(df, Seq("g"), "k", desc = true,
      tieCol = "id", rankName = "rk", nName = "nn")
    val got = r.df.select(col("id"), col("rk")).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L))
  }

  test("withRank fails loudly on NaN sort keys") {
    val df = Seq((1L, 1.0), (2L, Double.NaN)).toDF("id", "k")
    val e = intercept[Exception] {
      Ranking.withRank(df, Nil, "k", desc = false, tieCol = "id",
        rankName = "rk", nName = "nn").df.collect()
    }
    def chainHas(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("NaN sort key"))
        || chainHas(t.getCause))
    assert(chainHas(e), s"expected the NaN guard, got: ${e.getMessage}")
  }

  test("withRank rejects a constant-key skew cell with a non-numeric tie") {
    val df = spark.range(0, 3000)
      .select(concat(lit("t"), col("id")).as("tie"), lit(1.0).as("k"))
    val e = intercept[IllegalStateException] {
      Ranking.withRank(df, Nil, "k", desc = false, tieCol = "tie",
        rankName = "rk", nName = "nn", skewThreshold = 100).df.collect()
    }
    assert(e.getMessage.contains("not numeric"))
  }

  test("categorical GBT feature carries signal the numeric features cannot reach") {
    import graft.ops.{Checkpoints, Gbt}
    // sf0.01: each brand has ~64 train rows, so the out-of-fold encoding
    // resolves the planted per-brand-level term well above fold noise
    val dir = "/root/testdata/sf0.01"
    val tr = Checkpoints.checkpoint(
      Gbt.featurize(spark, dir)
        .filter(col("is_train")))
    try {
      // one bin for every row: no split on the categorical feature is
      // valid, so the search never picks it — the 3-feature model
      val m3 = Gbt.trainDepth(tr.withColumn("b_cat", lit(0)), Gbt.Rounds, 1)
      val m4 = Gbt.trainDepth(tr, Gbt.Rounds, 1)
      def sse(m: Gbt.Model): Double = tr
        .select(((col("y") - Gbt.fhatColDeep(m)) *
          (col("y") - Gbt.fhatColDeep(m))).cast("decimal(25,0)").as("e"))
        .agg(sum(col("e")).cast("double")).collect()(0).getDouble(0)
      val (s3, s4) = (sse(m3), sse(m4))
      assert(s4 < s3,
        s"4-feature train SSE $s4 must beat the 3-feature model's $s3 — " +
          "the categorical encoding is the only path to the brand term")
      assert(m4.trees.exists(_.splits((0, 0)).f === 3),
        "the trained model must actually split on the categorical bin")
      // leakage check: the encoding is out-of-fold, so the categorical
      // feature cannot memorize rows — test R² must stay in the same
      // band as train R² (a leaking encoder shows train >> test)
      val rows = graft.queries.Relational.qGbtRegression(spark, dir,
          graft.queries.Relational.gbtTrainOrGet(spark, dir))
        .collect().map(r => r.getString(0) -> r.getAs[Double]("r2")).toMap
      assert(rows("test") > rows("train") - 0.1,
        s"test R² ${rows("test")} collapsed vs train ${rows("train")} — " +
          "categorical leakage?")
    } finally Checkpoints.release(tr)
  }

  test("model artifact round-trips losslessly, including IEEE gain bits") {
    import graft.ops.Gbt
    val m = graft.queries.Relational.gbtTrainOrGet(spark, sfDir)
    val (m2, n2) = Gbt.modelFromDf(Gbt.modelToDf(spark, m, 42L))
    assert(n2 === 42L)
    assert(m2 === m,
      "the stumps (incl. raw gain doubles) must survive the frame round trip")
  }

  test("store serving never retrains and matches in-session scoring") {
    import graft.ops.Gbt
    import graft.queries.Relational
    val root = graft.queries.DatalakeQueries.tempLakeRoot() + "/gbt_model"
    Relational.qModelServe(spark, sfDir,
      Relational.gbtVersionsFor(spark, sfDir), root).collect()
    val before = Gbt.trainCount.get()
    val served = Relational.scoreFromStore(spark, sfDir, root).collect()
    assert(Gbt.trainCount.get() === before,
      "the serving path must read the store, never the trainer")
    val insession = Relational.qGbtRegression(spark, sfDir,
      Relational.gbtTrainOrGet(spark, sfDir)).collect()
    assert(served.map(_.toString).toSeq ===
      insession.map(_.toString).toSeq,
      "stored-serve must equal in-session scoring bit-for-bit")
  }

  test("rollback's pinned v1 artifact is the in-session half model, not the fresh one") {
    import graft.ops.Gbt
    import graft.queries.Relational
    import graft.sources.Datalake
    val root =
      graft.queries.DatalakeQueries.tempLakeRoot() + "/gbt_model_rollback"
    Relational.qModelRollback(spark, sfDir,
      Relational.gbtVersionsFor(spark, sfDir), root).collect()
    val (v1, _) = Gbt.modelFromDf(Datalake.readVersion(spark, root, "1"))
    assert(v1 === Relational.gbtHalfTrainOrGet(spark, sfDir)._1,
      "the v1 read back must be the half-trained model the oracle inlines")
    assert(v1 !== Relational.gbtTrainOrGet(spark, sfDir),
      "v1 must differ from the fresh model, or the rollback oracle " +
        "could not tell the two versions apart")
  }

  test("depth-2 trees beat stumps on the planted interaction slice") {
    import graft.ops.{Checkpoints, Gbt}
    val dir = "/root/testdata/sf0.01"
    val tr = Checkpoints.checkpoint(
      Gbt.featurize(spark, dir)
        .filter(col("is_train")))
    try {
      val stump = graft.queries.Relational.gbtTrainOrGet(spark, dir)
      val tree = graft.queries.Relational.gbtTreeTrainOrGet(spark, dir)
      def sse(fhat: org.apache.spark.sql.Column): Double = tr
        .select(((col("y") - fhat) * (col("y") - fhat))
          .cast("decimal(25,0)").as("e"))
        .agg(sum(col("e")).cast("double")).collect()(0).getDouble(0)
      val (sDepth1, sDepth2) = (sse(Gbt.fhatColDeep(stump)),
        sse(Gbt.fhatColDeep(tree)))
      assert(sDepth2 < sDepth1,
        s"depth-2 train SSE $sDepth2 must beat the stump model's $sDepth1 — " +
          "the interaction term needs a second level")
      assert(tree.trees.exists(_.splits.keySet.exists(_._1 == 1)),
        "at least one tree must actually grow a child split")
      // every recorded gain is a variance REDUCTION: non-negative
      assert(tree.trees.forall(_.splits.values.forall(_.gainRed >= 0)))
    } finally Checkpoints.release(tr)
  }

  test("deleteWhere on an evolved chain: sidecar commit, append survival, rewrite fold") {
    import graft.sources.Datalake
    import java.nio.file.Files
    val root = graft.streaming.StreamReplay.scratch("graft-evdel").toString + "/t"
    Datalake.publishEvolved(
      Seq((1L, "a", 10.0), (2L, "a", 20.0)).toDF("id", "k", "v"),
      root, "1", Seq("k"))
    Datalake.publishEvolved(
      Seq((3L, "b", 30.0), (4L, "b", 40.0)).toDF("id", "k", "v"),
      root, "2", Seq("k"))
    // one row of EACH segment marked — a single root-relative vector
    assert(Datalake.deleteWhere(spark, root, col("id").isin(1L, 3L)) === 2L)
    def liveIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("id").collect().map(_.getLong(0)).toSet
    assert(liveIds(Datalake.readPublished(spark, root)) === Set(2L, 4L))
    assert(liveIds(Datalake.readEvolved(spark, root)) === Set(2L, 4L))
    // version-addressed time travel reads the PHYSICAL chain snapshot —
    // the vector is manifest-level state (the plain-table contract)
    assert(liveIds(Datalake.readVersion(spark, root, "2")) ===
      Set(1L, 2L, 3L, 4L))
    // an append AFTER the delete: the vector survives the publish, the
    // new segment's rows arrive live even where they match old
    // predicates (deletes are point-in-time commits)
    Datalake.publishEvolved(
      Seq((1L, "c", 50.0), (6L, "c", 60.0)).toDF("id", "k", "v"),
      root, "3", Seq("k"))
    assert(liveIds(Datalake.readPublished(spark, root)) ===
      Set(2L, 4L, 1L, 6L))
    // accumulating second delete over the extended chain
    assert(Datalake.deleteWhere(spark, root, col("v") > 45.0) === 4L)
    assert(liveIds(Datalake.readPublished(spark, root)) === Set(2L, 4L))
    // rewriteEvolved FOLDS the vector: plain token, single segment,
    // deleted rows stay gone; the orphaned vector becomes vacuum garbage
    Datalake.rewriteEvolved(spark, root, "4", Seq("k"))
    assert(Datalake.currentVersion(spark, root) === Some("4"))
    assert(liveIds(Datalake.readPublished(spark, root)) === Set(2L, 4L))
    val dropped = Datalake.vacuum(spark, root, keepLast = 1)
    assert(dropped.toSet === Set("1", "2", "3"),
      s"retention must retire the migrated chain, got $dropped")
    assert(liveIds(Datalake.readPublished(spark, root)) === Set(2L, 4L))
  }

  test("evolvedPrunedScan applies a live chain deletion vector") {
    import graft.sources.Datalake
    import java.nio.file.Files
    val root = graft.streaming.StreamReplay.scratch("graft-evdelscan").toString + "/t"
    Datalake.publishEvolved(
      Seq((1L, "a", 10.0), (2L, "a", 20.0)).toDF("id", "k", "v"),
      root, "1", Seq("k"))
    Datalake.publishEvolved(
      Seq((3L, "b", 30.0)).toDF("id", "k", "v"), root, "2", Seq("k"))
    Datalake.deleteWhere(spark, root, col("id") === 1L)
    val scans = Datalake.evolvedPrunedScan(spark, root, "k", "a")
    val ids = scans.map(_.df).reduce(_.unionByName(_))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 3L),
      "the pruned-scan evidence path must not surface deleted rows")
  }

  test("change feed across a chain-DV delete emits exactly the deleted rows") {
    import graft.sources.Datalake
    import java.nio.file.Files
    val root = graft.streaming.StreamReplay.scratch("graft-evdelcdc").toString + "/t"
    Datalake.publishEvolved(
      Seq((1L, "a", 10.0), (2L, "a", 20.0)).toDF("id", "k", "v"),
      root, "1", Seq("k"))
    Datalake.publishEvolved(
      Seq((3L, "b", 30.0)).toDF("id", "k", "v"), root, "2", Seq("k"))
    Datalake.deleteWhere(spark, root, col("id").isin(1L, 3L))
    val dvToken = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/MANIFEST")), "UTF-8").trim
    assert(dvToken.startsWith("dv=v=2;"), s"unexpected token $dvToken")
    // from the pre-delete chain head to the DV commit: the feed must be
    // exactly the two hidden rows as deletes (readToken resolves the
    // chain STATE on both sides — the r17 chain-DV branch)
    val feed = Datalake.changeFeedTokens(spark, root, "v=2", dvToken,
        Seq("id"))
      .select(col("id"), col("_change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed === Set((1L, "delete"), (3L, "delete")))
  }

  test("withRank fast path is untouched for non-degenerate inputs") {
    // keys spread across octaves with the default threshold: no cell
    // oversized, ranks exact — the round-16 plan shape (Round16Spec
    // pins the registered queries' window partitioning separately)
    val n = 5000
    val df = spark.range(0, n)
      .select(col("id"), (col("id").cast("double") + 1.0).as("k"))
    val r = Ranking.withRank(df, Nil, "k", desc = false, tieCol = "id",
      rankName = "rk", nName = "nn")
    r.df.select(col("id"), col("rk")).collect().foreach { row =>
      assert(row.getLong(1) === row.getLong(0) + 1)
    }
    assert(r.df.columns.toSet === Set("id", "k", "rk", "nn"),
      "no internal bucket columns may leak into the output")
  }
}
