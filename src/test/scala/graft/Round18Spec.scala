package graft

import org.apache.spark.sql.functions._
import graft.ops.{Gbt, Ranking}

/** Round-18 pins: the depth-d generalization of the tree trainer (d=1
  * must reproduce the stump trainer bit-for-bit), the tree-model
  * registry artifact and its never-retrains serving path, the alias
  * staging contract (atomic re-point, dangling fails loudly), the
  * served hybrid search == from-scratch fusion, and the Ranking
  * sub-bucket sentinel fix (r17 ADVICE: -1 collided with a reachable
  * monotoneBucket output).
  */
class Round18Spec extends SparkSpecBase {
  import spark.implicits._

  private def featurized(dir: String) =
    Gbt.featurize(spark, dir).filter(col("is_train"))

  test("trainDepth(d=1) reproduces the stump trainer bit-for-bit") {
    // the model the dedicated stump trainer (since folded into
    // trainDepth) grew on sf0.001: base, then per stump its feature,
    // bin, left and right deltas and the raw IEEE bits of its argmax gain
    val stumpBase = 147049L
    val stumps = Seq(
      (0, 0, 14152L, -1794L, 4759816185478226497L),
      (0, 12, -2142L, 10550L, 4758878999383168260L),
      (1, 10, -2890L, 6745L, 4757839229765624978L),
      (0, 1, 7804L, -1801L, 4756013613136326299L),
      (3, 7, -3961L, 3241L, 4755408272273912098L),
      (1, 4, -4346L, 2214L, 4753250444829065628L))
    val tr = graft.ops.Checkpoints.checkpoint(featurized(sfDir))
    try {
      val m = Gbt.trainDepth(tr, Gbt.Rounds, 1)
      assert(m.base === stumpBase)
      assert(m.trees.forall(t => t.splits.keySet === Set((0, 0)) &&
        t.deltas.keySet === Set(0, 1)))
      assert(m.trees.map { t =>
        val n = t.splits((0, 0))
        (n.f, n.b, t.deltas(0), t.deltas(1),
          java.lang.Double.doubleToLongBits(n.gainRaw))
      } === stumps,
        "the generic depth-1 induction must make the IDENTICAL split " +
          "decisions (features, bins, deltas, raw IEEE gains) as the " +
          "stump trainer")
    } finally graft.ops.Checkpoints.release(tr)
  }

  test("trainDepth rejects a leaf pattern wider than 31 bits") {
    // 34 depth-1 rounds would shift tree 32's leaf bit onto tree 0's
    val before = Gbt.trainCount.get()
    intercept[IllegalArgumentException] {
      Gbt.trainDepth(featurized(sfDir), rounds = 34, depth = 1)
    }
    intercept[IllegalArgumentException] {
      Gbt.trainDepth(featurized(sfDir), rounds = 8, depth = 4)
    }
    assert(Gbt.trainCount.get() === before,
      "a rejected call must not count as a training run")
  }

  test("trainDepth(d=3) trains and does not regress depth-2 train SSE") {
    val tr = graft.ops.Checkpoints.checkpoint(featurized(sfDir))
    try {
      val d2 = Gbt.trainDepth(tr, 2, 2)
      val d3 = Gbt.trainDepth(tr, 2, 3)
      def sse(m: Gbt.Model): Double = {
        val fhat = m.trees.foldLeft(lit(m.base)) { (acc, t) =>
          // score via the pattern column + a driver lookup CASE
          val leaf = Gbt.patColDeep(Seq(t), m.depth)
          acc + t.deltas.toSeq.sortBy(_._1).map { case (l, d) =>
            when(leaf === l, lit(d)).otherwise(lit(0L))
          }.reduce(_ + _)
        }
        tr.select(((col("y") - fhat) * (col("y") - fhat))
            .cast("decimal(25,0)").as("e"))
          .agg(sum(col("e")).cast("double")).collect()(0).getDouble(0)
      }
      assert(sse(d3) <= sse(d2),
        "a third level may only refine the fit on the training slice")
      assert(d3.trees.nonEmpty && d3.trees.head.splits.contains((0, 0)))
    } finally graft.ops.Checkpoints.release(tr)
  }

  test("tree-model artifact round-trips losslessly, incl. childless sides") {
    // hand-built model exercising every encoding edge: absent children,
    // extreme and negative deltas, subnormal and distinct IEEE gain bits
    def leaves(ds: Long*) = ds.zipWithIndex.map(_.swap).toMap
    val m = Gbt.Model(-17L, 2, Vector(
      Gbt.Tree(Map((0, 0) -> Gbt.Node(0, 3, 123.456, 1.5e-300),
          (1, 0) -> Gbt.Node(1, 7, 0.0, -0.0)),
        leaves(-5L, 9L, 4L, 4L)),
      Gbt.Tree(Map((0, 0) -> Gbt.Node(3, 15, 0.1 + 0.2, 7.0),
          (1, 1) -> Gbt.Node(2, 0, Double.MinPositiveValue, 2.5e-310)),
        leaves(Long.MinValue + 1, Long.MinValue + 1, -1L, Long.MaxValue))))
    val (m2, n2) = Gbt.modelFromDf(Gbt.modelToDf(spark, m, 99L))
    assert(n2 === 99L)
    assert(m2 === m,
      "trees (nodes, missing children, deltas, raw gain doubles) must " +
        "survive the frame round trip")
    def gainBits(x: Gbt.Model) = x.trees.flatMap(_.splits.values.flatMap(n =>
      Seq(n.gainRaw, n.gainRed).map(java.lang.Double.doubleToRawLongBits)))
    assert(gainBits(m2) === gainBits(m), "gains must keep their exact bits")
    import graft.queries.Relational
    for (trained <- Seq(Relational.gbtTreeTrainOrGet(spark, sfDir),
        Relational.gbtDeepTrainOrGet(spark, sfDir))) {
      val (t2, _) = Gbt.modelFromDf(Gbt.modelToDf(spark, trained, 1L))
      assert(t2 === trained, s"depth-${trained.depth} model round trip")
    }
    // a frame that is not an artifact fails loudly
    intercept[IllegalArgumentException] {
      Gbt.modelFromDf(Gbt.modelToDf(spark, m, 1L).filter(col("idx") >= 0))
    }
  }

  test("tree store serving never retrains and matches in-session scoring") {
    import graft.queries.Relational
    val root = graft.queries.DatalakeQueries.tempLakeRoot() + "/gbt_tree_model"
    Relational.qModelServe(spark, sfDir,
      Relational.gbtVersions(Relational.gbtTreeHalfTrainOrGet,
        Relational.gbtTreeTrainOrGet)(spark, sfDir), root).collect()
    val before = Gbt.trainCount.get()
    val served = Relational.scoreFromStore(spark, sfDir, root).collect()
    assert(Gbt.trainCount.get() === before,
      "the tree serving path must read the store, never a trainer")
    val m = Relational.gbtTreeTrainOrGet(spark, sfDir)
    val insession = Relational.scoreEval(
      Gbt.featurize(spark, sfDir),
      Gbt.fhatColDeep(m)).collect()
    assert(served.map(_.toString).toSeq === insession.map(_.toString).toSeq,
      "stored tree serve must equal in-session scoring bit-for-bit")
  }

  test("alias staging: atomic re-point, dangling and unknown fail loudly") {
    import graft.sources.Datalake
    import java.nio.file.Files
    val root = graft.streaming.StreamReplay.scratch("graft-alias").toString + "/t"
    Datalake.publish(Seq((1L, "v1")).toDF("id", "tag"), root, "1")
    Datalake.publish(Seq((2L, "v2")).toDF("id", "tag"), root, "2")
    // an alias may never be BORN dangling
    intercept[IllegalArgumentException] {
      Datalake.writeAlias(spark, root, "prod", "9")
    }
    Datalake.writeAlias(spark, root, "prod", "2")
    Datalake.writeAlias(spark, root, "challenger", "1")
    assert(Datalake.resolveAlias(spark, root, "prod") === "2")
    assert(Datalake.readAlias(spark, root, "prod")
      .select("tag").collect().map(_.getString(0)).toSeq === Seq("v2"))
    // rollback = ONE re-point; the other alias must stay intact
    Datalake.writeAlias(spark, root, "prod", "1")
    assert(Datalake.resolveAlias(spark, root, "prod") === "1")
    assert(Datalake.resolveAlias(spark, root, "challenger") === "1")
    assert(Datalake.readAlias(spark, root, "prod")
      .select("tag").collect().map(_.getString(0)).toSeq === Seq("v1"))
    // unknown alias fails loudly
    intercept[IllegalArgumentException] {
      Datalake.resolveAlias(spark, root, "champion")
    }
    // a DANGLING alias (version dir vacuumed after the alias was
    // written) must fail loudly, not serve garbage
    Datalake.writeAlias(spark, root, "old", "2")
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/v=2"))
    val e = intercept[IllegalStateException] {
      Datalake.resolveAlias(spark, root, "old")
    }
    assert(e.getMessage.contains("dangles"))
  }

  test("hybrid serve equals the from-scratch two-leg fusion") {
    import org.apache.spark.sql.expressions.Window
    val dir = sfDir
    val served = graft.queries.TextQueries.qHybridServe(spark, dir,
        graft.queries.SimilarityQueries.centroidsFor(spark, dir))
      .collect().map(_.toString).toSeq
    // from-scratch composition: bm25 from raw text + IVF probe on the
    // raw corpus (no stores anywhere), then the same RRF fusion
    val docs = sources.Tables.documents(spark, dir)
    val queryTerms = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"),
        explode(graft.functions.text.wordShingles(col("text"), 1)).as("term"))
      .filter(col("term") =!= "").distinct()
    val lex = graft.ops.Retrieval.bm25TopK(docs, col("doc_id"),
        col("text"), queryTerms, k = 20)
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("lex_rank"))
    val emb = graft.queries.SimilarityQueries.corpus(spark, dir)
    val qv = emb.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("emb").as("q_emb"))
    val vec = graft.ops.Similarity.ivfFlatKnnWith(emb, qv,
        graft.queries.SimilarityQueries.centroidsFor(spark, dir),
        k = 20, nProbe = graft.queries.SimilarityQueries.IvfNProbe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    val fused = lex.join(vec.hint("shuffle_hash"),
        Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60.0) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("vec_rank")), lit(0.0)))
          .as("rrf"),
        col("lex_rank"), col("vec_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    val scratch = fused
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("query_id"), col("rank"))
      .collect().map(_.toString).toSeq
    assert(served === scratch,
      "serving from the published stores must reproduce the from-scratch " +
        "fusion row-for-row")
  }

  test("withRank sub-splits a constant-key cell whose ties land in the -1 log bucket") {
    // r17 ADVICE: ties in [2^(-1/32), 1) bucket to -1, which the old
    // sentinel filtered out of the sub-bucket counts — on ties SPANNING
    // that region the counts disagreed and the pass died with the
    // misleading "snapshot changed" error on legitimate input
    val n = 3000
    val df = spark.range(0, n)
      .select(col("id"),
        (lit(0.9) + col("id").cast("double") * (0.2 / n)).as("tie"),
        lit(5.0).as("k"))
    val r = Ranking.withRank(df, Nil, "k", desc = false, tieCol = "tie",
      rankName = "rk", nName = "nn", skewThreshold = 600)
    val got = r.df.select(col("id"), col("rk")).collect()
    assert(got.length === n)
    got.foreach(row => assert(row.getLong(1) === row.getLong(0) + 1,
      s"rank ${row.getLong(1)} != tie order ${row.getLong(0) + 1}"))
    assert(r.maxPartitionRows <= 600,
      s"max window partition ${r.maxPartitionRows} must stay " +
        "bounded by the threshold after the tie sub-split")
  }

  test("withRanks (fused multi-dim) == sequential withRank per dimension") {
    // r18 optimization pin: the one-count-pass fused path must make the
    // IDENTICAL rank assignments as chaining withRank per dimension —
    // including on keys with ties (broken by tieCol), negatives and zero
    // (all three monotoneBucket ranges), and a descending dimension.
    val df = spark.range(0, 500)
      .select(col("id"),
        (col("id") % 7).cast("double").as("a"),
        (lit(250.0) - col("id").cast("double")).as("b"),
        when(col("id") % 3 === 0, -col("id").cast("double"))
          .otherwise(col("id").cast("double") / 10.0).as("c"))
    val dims = Seq(
      Ranking.RankDim("a", desc = false, "rk_a", "n_a"),
      Ranking.RankDim("b", desc = true, "rk_b", "n_b"),
      Ranking.RankDim("c", desc = false, "rk_c", "n_c"))
    val fused = Ranking.withRanks(df, dims, tieCol = "id").df
      .select("id", "rk_a", "n_a", "rk_b", "n_b", "rk_c", "n_c")
      .orderBy("id").collect().map(_.toString).toSeq
    val seq0 = dims.foldLeft(df) { (d, dim) =>
      Ranking.withRank(d, Nil, dim.keyCol, dim.desc, tieCol = "id",
        rankName = dim.rankName, nName = dim.nName).df
    }.select("id", "rk_a", "n_a", "rk_b", "n_b", "rk_c", "n_c")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(fused === seq0,
      "fused multi-dimension ranks must equal the sequential two-phase " +
        "ranks bit-for-bit")
    // the skew fallback routes through the sequential path — same output
    val fbRanked = Ranking.withRanks(df, dims, tieCol = "id",
        skewThreshold = 50)
    assert(fbRanked.fellBack, "threshold 50 must take the skew fallback")
    val fb = fbRanked.df
      .select("id", "rk_a", "n_a", "rk_b", "n_b", "rk_c", "n_c")
      .orderBy("id").collect().map(_.toString).toSeq
    assert(fb === seq0, "the skew fallback must stay output-identical")
  }
}
