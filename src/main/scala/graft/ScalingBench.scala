package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}

/** Scaling-exponent evidence for the quadratic-risk sketch families
  * (minhash / simhash / winnow / ngram / semantic): their plan SHAPES are
  * bucketed (work ∝ Σ bucket², never O(n²)), but shape alone doesn't prove
  * the bucket-size distribution stays tame as the corpus grows. This
  * harness MEASURES it: per family and per scale factor, the distinct
  * CANDIDATE pair count (the op with its verification threshold disabled —
  * exactly the join mass the banding admits), the verified pair count, and
  * the production op's wall time. The observed exponent between scale
  * points (log pair-ratio / log n-ratio) is printed per family; ~1 means
  * the candidate mass grows with the corpus, ~2 means the banding is NOT
  * containing the join and the df caps / cell counts need tightening.
  *
  * Usage:
  *   runMain graft.ScalingBench gen <outDir>      # synthesize ~5x sf0.1
  *   runMain graft.ScalingBench run <dir> [dir..] # one JSON line per dir
  *
  * The generated corpus models a GROWING corpus with a CONSTANT duplicate
  * rate (the production assumption: dup clusters grow in count, not size):
  * 5 replicas of sf0.1; within each replica 90% of docs are remapped to a
  * fresh shingle space (seeded alphabet permutation via translate — word
  * boundaries, lengths and df distribution survive; cross-replica shingle
  * collisions become RARE, not impossible: two distinct permutations can
  * map different words to the same image, and digits/punctuation are not
  * remapped at all), 10% are kept verbatim so every replica contributes
  * real cross-replica duplicate cliques. Embeddings get the
  * analogous treatment: a seeded dimension permutation (norms and
  * intra-replica geometry preserved) with the same 10% verbatim slice.
  */
object ScalingBench {

  private val Replicas = 5
  private val VerbatimPct = 10 // doc_id % 100 < this → copied unchanged

  private def permuted(seed: Int, xs: IndexedSeq[Char]): String =
    new scala.util.Random(seed).shuffle(xs).mkString

  def generate(spark: SparkSession, srcDir: String, outDir: String): Unit =
    generate(spark, srcDir, outDir, Replicas)

  /** `replicas` parameterized (round-10 verdict #7): the third scale
    * point (×10 ≈ 50k docs / 20k vecs over sf0.1) re-measures the
    * wall-time-heavy families far enough out to see an exponent BEND if
    * one exists — two scale points fit any power law, three falsify it.
    */
  def generate(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int): Unit = {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val embs = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val lower = ('a' to 'z').toIndexedSeq
    val upper = ('A' to 'Z').toIndexedSeq
    val docReps = (0 until replicas).map { r =>
      val shifted = docs.withColumn("doc_id",
        col("doc_id") + lit(r.toLong * 10000000L))
      if (r == 0) shifted
      else shifted.withColumn("text",
        when(col("doc_id") % 100 < VerbatimPct, col("text"))
          .otherwise(translate(col("text"),
            (lower ++ upper).mkString,
            permuted(1000 + r, lower) + permuted(2000 + r, upper))))
    }
    docReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    val dim = embs.select(size(col("embedding"))).head().getInt(0)
    val embReps = (0 until replicas).map { r =>
      val shifted = embs.withColumn("vec_id",
        col("vec_id") + lit(r.toLong * 10000000L))
      if (r == 0) shifted
      else {
        val perm = new scala.util.Random(3000 + r)
          .shuffle((0 until dim).toIndexedSeq)
        shifted.withColumn("embedding",
          when(col("vec_id") % 100 < VerbatimPct, col("embedding"))
            .otherwise(array(perm.map(i => col("embedding").getItem(i)): _*)))
      }
    }
    embReps.reduce(_ unionByName _)
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
  }

  /** (family, nRows, candidates, verified, secs) for one dir. `candidates`
    * = the op with verification disabled; `secs` times the PRODUCTION op
    * (same thresholds as the registered queries), best of `passes`.
    */
  def measure(spark: SparkSession, dir: String, passes: Int = 2): Seq[String] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val embs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val nDocs = docs.count()
    val nVecs = embs.count()
    def time(df: => DataFrame): Double =
      (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
    val cents = Similarity.trainCentroids(embs,
      Similarity.cellsFor(nVecs), iters = 2)
    val fams = Seq(
      ("minhash", nDocs,
        // agreement floor 0 = every banded candidate pair
        Dedup.minhashLshPairs(docs, col("doc_id"), col("text")).count(),
        Dedup.minhashLshPairs(docs, col("doc_id"), col("text"))
          .filter(col("est_jaccard") >= 0.5).count(),
        time(Dedup.minhashLshPairs(docs, col("doc_id"), col("text")))),
      ("simhash", nDocs,
        Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 64).count(),
        Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 16).count(),
        time(Dedup.simhashPairs(docs, col("doc_id"), col("text"), maxHamming = 16))),
      ("winnow", nDocs,
        Dedup.winnowPairs(docs, col("doc_id"), col("text")).count(),
        Dedup.winnowPairs(docs, col("doc_id"), col("text"))
          .filter(col("n_shared") >= 3).count(),
        time(Dedup.winnowPairs(docs, col("doc_id"), col("text")))),
      ("ngram", nDocs,
        Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          minJaccard = 0.0).count(),
        Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          minJaccard = 0.03).count(),
        time(Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
          minJaccard = 0.03))),
      ("semantic", nVecs,
        Similarity.clusteredNearDupPairs(embs, cents, tau = -1.0).count(),
        Similarity.clusteredNearDupPairs(embs, cents, tau = 0.35).count(),
        time(Similarity.clusteredNearDupPairs(embs, cents, tau = 0.35))),
      // prefix-filter set join (round-10 verdict #7 adds this family):
      // candidates = the pairs the PPJoin prefix index admits at τ=1/2
      // (verification off), verified/timed = the production exact join —
      // the df-ordered prefix bounds per-shingle fan-out, so the
      // exponent must stay ~1 under a constant duplicate rate
      ("setjoin", nDocs,
        graft.ops.SetJoin.prefixCandidates(docs, col("doc_id"),
          col("text"), tauNum = 1, tauDen = 2).count(),
        graft.ops.SetJoin.prefixJaccardPairs(docs, col("doc_id"),
          col("text"), tauNum = 1, tauDen = 2).count(),
        time(graft.ops.SetJoin.prefixJaccardPairs(docs, col("doc_id"),
          col("text"), tauNum = 1, tauDen = 2))),
      // asymmetric containment (r11): candidates = probe-prefix ×
      // FULL-index admitted DIRECTED pairs at τ=2/3 — the indexed side
      // posts everything, so candidate mass rides the full inverted
      // index like ngram (e≈1 expected under a constant dup rate), while
      // the probe prefix keeps it a fraction of the ngram row's
      ("containment", nDocs,
        graft.ops.SetJoin.containmentCandidates(docs, col("doc_id"),
          col("text"), tauNum = 2, tauDen = 3).count(),
        graft.ops.SetJoin.containmentPairs(docs, col("doc_id"),
          col("text"), tauNum = 2, tauDen = 3).count(),
        time(graft.ops.SetJoin.containmentPairs(docs, col("doc_id"),
          col("text"), tauNum = 2, tauDen = 3))),
      // fuzzy join: names synthesized from doc_ids (Item#%09d over a
      // growing id space) — candidates = distinct deletion-key-sharing
      // pairs, the mass the SymSpell index admits; neighbors per id are
      // bounded by digits×9, so the exponent must stay ~1
      {
        val names = docs.select(col("doc_id"),
          format_string("Item#%09d", col("doc_id")).as("name"))
        ("fuzzy", nDocs,
          graft.ops.FuzzyJoin.candidatePairs(
            names, col("doc_id"), col("name")).count(),
          graft.ops.FuzzyJoin.edit1Pairs(
            names, col("doc_id"), col("name")).count(),
          time(graft.ops.FuzzyJoin.edit1Pairs(
            names, col("doc_id"), col("name"))))
      },
      // exact-substring spans: no pair stage at all — "candidates" is the
      // flagged-window mass (Σ n_windows), the quantity that must stay
      // ∝ total words under a constant duplicate rate (exponent ~1)
      {
        // both stats come from the SAME plan — one aggregation pass
        val st = Dedup.exactSubstringSpans(docs, col("doc_id"), col("text"))
          .agg(coalesce(sum(col("n_windows")), lit(0L)), count(lit(1)))
          .head()
        ("substring", nDocs, st.getLong(0), st.getLong(1),
          time(Dedup.exactSubstringSpans(docs, col("doc_id"), col("text"))))
      })
    fams.map { case (fam, n, cand, ver, secs) =>
      s"""{"dir":"$dir","family":"$fam","n":$n,"candidates":$cand,""" +
        s""""verified":$ver,"secs":${f"$secs%.2f"}}"""
    }
  }

  /** 5× corpus for the GRAPH + STREAM families (round-9 verdict #6): the
    * relational tables the graph queries derive edges from, and the
    * events table the stream folds replay, replicated with DISJOINT key
    * spaces (every key shifted by r·10⁷ per replica) — the production
    * assumption: a growing business adds customers/suppliers/users, it
    * does not densify the existing ones. Per-replica subgraphs are
    * disjoint, so per-round graph cost and stream fold mass must scale
    * ∝ data (exponent ≈ 1); super-linear growth would mean a stage whose
    * cost depends on the whole reached/settled set rather than the
    * frontier/batch — exactly the regression these rows exist to catch.
    */
  def generateGraph(spark: SparkSession, srcDir: String,
      outDir: String): Unit = generateGraph(spark, srcDir, outDir, Replicas)

  def generateGraph(spark: SparkSession, srcDir: String,
      outDir: String, replicas: Int): Unit = {
    val shift = 10000000L
    def reps(df: DataFrame, cols: Seq[String]): DataFrame =
      (0 until replicas).map { r =>
        cols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(r * shift)))
      }.reduce(_ unionByName _)
    reps(spark.read.parquet(s"$srcDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey")),
      Seq("o_orderkey", "o_custkey"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")
    reps(spark.read.parquet(s"$srcDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_partkey")),
      Seq("l_orderkey", "l_suppkey", "l_partkey"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")
    reps(spark.read.parquet(s"$srcDir/supplier.parquet")
        .select(col("s_suppkey")), Seq("s_suppkey"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/supplier.parquet")
    reps(graft.sources.Tables.events(spark, srcDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")),
      Seq("event_id", "user_id"))
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")
    println(s"""{"generated":"$outDir","replicas":$replicas,"tables":["orders","lineitem","supplier","events"]}""")
  }

  /** (family, n, mass, wall) rows for the graph + stream families over
    * one dir. `mass` is the family's SCALING OBSERVABLE — the quantity
    * whose exponent proves the per-round cost model:
    *  - pagerank: |E| (the one per-iteration shuffle's input mass);
    *  - bfs: settled nodes within the hop bound from one spread source
    *    per ~replica (frontier-only rounds ⇒ Σ frontier-edge work ∝
    *    reached subgraph, which is what "settled" counts);
    *  - triangle: Σ n_tri over the degree-bounded co-purchase graph
    *    (top-8 kNN edges — the capped-degree design means wedge and
    *    triangle mass must track nodes, not density);
    *  - stream_retention: changelog cells emitted by the day-sealed
    *    fold (state + emission mass, the thing a stream's memory and
    *    sink cost scale with).
    * Wall times are best-of-`passes` and carry the usual multi-action
    * job-floor caveat; the exponent argument rests on the masses, which
    * are deterministic.
    */
  def measureGraphStream(spark: SparkSession, dir: String,
      passes: Int = 2): Seq[String] = {
    import graft.ops.{Checkpoints, Graph}
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val lineitem = spark.read.parquet(s"$dir/lineitem.parquet")
    val e0 = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    // pagerank gets the RAW (pre-distinct) pair stream — its dedup rides
    // the loop's own repartition (Graph.pageRank dedupEdges), matching
    // the registered q_pagerank's construction
    val e0raw = orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edgesRaw = e0raw.unionByName(
      e0raw.select(col("dst").as("src"), col("src").as("dst")))
    val nE = edges.count()
    def timeRelease(mk: => DataFrame): (Double, Long) =
      (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val r = mk
        val n = r.count()
        val dt = (System.nanoTime() - t0) / 1e9
        Checkpoints.release(r)
        (dt, n)
      }.minBy(_._1)
    val (prSecs, _) = timeRelease(
      Graph.pageRank(edgesRaw, 5, dedupEdges = true))
    // one spread source per ~replica: suppliers are keyed per replica
    // (disjoint shifts), so the reached mass scales with the corpus
    val suppliers = spark.read.parquet(s"$dir/supplier.parquet")
    val srcs = suppliers
      .select((floor(col("s_suppkey") / lit(10000000L))).as("rep"),
        col("s_suppkey"))
      .groupBy(col("rep")).agg(min(col("s_suppkey")).as("k"))
      .select((col("k") * 2 + 1).as("node"))
    val (bfsSecs, bfsSettled) =
      timeRelease(Graph.bfsDistances(edges, srcs, maxHops = 6))
    // degree-bounded co-purchase graph: the registered q_triangle_count
    // construction (top-8 strongest partners per part)
    val tri = graft.queries.GraphQueries.copurchaseEdges(spark, lineitem)
    val (triSecs, _) = timeRelease(Graph.triangleCounts(tri))
    val triMass = {
      val r = Graph.triangleCounts(tri)
      val m = r.agg(coalesce(sum(col("n_tri")), lit(0L))).head.getLong(0)
      Checkpoints.release(r)
      m
    }
    val (stSecs, stCells) = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      val cells = graft.streaming.StreamReplay.replayEvents(spark, dir)(
        graft.streaming.EventStreams.retentionActivity(_))
        .filter(col("user_id") >= 0).count()
      ((System.nanoTime() - t0) / 1e9, cells)
    }.minBy(_._1)
    Seq(
      s"""{"dir":"$dir","family":"pagerank","n":$nE,"mass":$nE,"secs":${f"$prSecs%.2f"}}""",
      s"""{"dir":"$dir","family":"bfs","n":$nE,"mass":$bfsSettled,"secs":${f"$bfsSecs%.2f"}}""",
      s"""{"dir":"$dir","family":"triangle","n":$nE,"mass":$triMass,"secs":${f"$triSecs%.2f"}}""",
      s"""{"dir":"$dir","family":"stream_retention","n":$stCells,"mass":$stCells,"secs":${f"$stSecs%.2f"}}""")
  }

  /** Skewed-join evidence (round-7 verdict #7): a fact table whose hottest
    * key holds 50% of all rows, shuffle-hash-joined against a keyed side
    * that must not broadcast — the pathological shape where one reducer
    * gets half the data. Three variants, each measured by wall time and
    * the per-task duration SPREAD (max/median over the job's tasks — the
    * straggler factor that sets cluster wall-clock):
    *   1. unsalted with AQE skew-split OFF  — the naive plan, one hot task;
    *   2. unsalted with AQE skew-split ON   — Spark's runtime mitigation;
    *   3. Salting.saltedJoin ×8, AQE OFF    — the explicit fix for cases
    *      AQE can't touch (its splitting works per shuffle block; a single
    *      mapper-side giant key is still one block sequence).
    * Emits one JSON line per variant; the spread reduction between them
    * is the skew evidence. Each variant's confs are scoped to it.
    */
  def skewBench(spark: SparkSession, n: Long = 4000000L,
      keys: Int = 1000, salts: Int = 8): Seq[String] = {
    val fact = spark.range(n).select(
      when(col("id") % 2 === 0, lit(0L))
        .otherwise(pmod(hash(col("id")), lit(keys)).cast("long")).as("key"),
      col("id").as("v"))
    val dim = spark.range(keys).select(col("id").as("key"),
      (col("id") * 7).as("w"))
    val durations = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) durations.add(te.taskInfo.duration)
    }
    spark.sparkContext.addSparkListener(listener)
    val aqeSkewKey = "spark.sql.adaptive.skewJoin.enabled"
    // AQE only splits a partition past skewedPartitionThresholdInBytes
    // (default 256 MB — sized for real clusters); at bench scale the hot
    // partition is tens of MB, so the threshold must come down for the
    // AQE variant to demonstrate the mechanism at all. That asymmetry IS
    // the finding: AQE skew-split needs its thresholds tuned to the
    // workload, salting works at any scale.
    val skewOff = Seq(aqeSkewKey -> "false")
    val skewOn = Seq(aqeSkewKey -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4MB")
    def run(variant: String, conf: Seq[(String, String)])(
        df: => DataFrame): String =
      GraftSession.withConf(spark, conf: _*) {
        // TaskEnd events arrive on the ASYNC listener bus — a save() can
        // return while its events are still queued, so both the clear and
        // the read must wait for quiescence or warm-pass stragglers
        // contaminate the measured buffer / measured tasks go missing.
        // There is no public drain API; poll until the buffer stops growing.
        def drained(): Unit = {
          // require THREE consecutive stable readings: a single 100ms-stable
          // sample can coincide with a bus-thread stall and declare
          // quiescence while warm-pass events are still queued
          var stable = 0
          var prev = -1L
          var spins = 0
          while (stable < 3 && spins < 50) {
            val cur = durations.size.toLong
            stable = if (cur == prev) stable + 1 else 0
            prev = cur
            Thread.sleep(100)
            spins += 1
          }
          if (stable < 3)
            System.err.println(
              "SKEW WARNING: listener bus not quiescent after 5s — task stats may mix passes")
        }
        // warm pass compiles codegen; measured pass starts with a clean
        // task-duration buffer
        df.write.format("noop").mode("overwrite").save()
        drained()
        durations.clear()
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        drained()
        val ds = durations.toArray(Array.empty[java.lang.Long])
          .map(_.longValue).sorted
        val p50 = if (ds.nonEmpty) ds(ds.length / 2) else 0L
        val mx = if (ds.nonEmpty) ds.last else 0L
        val spread = if (p50 > 0) mx.toDouble / p50 else 0.0
        s"""{"variant":"$variant","n":$n,"hot_share":0.5,"salts":$salts,""" +
          f""""wall_s":$wall%.2f,"task_p50_ms":$p50,"task_max_ms":$mx,""" +
          f""""spread":$spread%.1f,"tasks":${ds.length}}"""
      }
    try {
      // shuffle_hash hint keeps the tiny side from broadcasting — a
      // broadcast join would hide the skew entirely (and IS the first fix
      // when the side fits; this bench models the case where it doesn't)
      Seq(
        run("unsalted_noaqe", skewOff)(
          fact.join(dim.hint("shuffle_hash"), "key")),
        run("unsalted_aqe_skew", skewOn)(
          fact.join(dim.hint("shuffle_hash"), "key")),
        run(s"salted_x$salts", skewOff)(
          graft.ops.Salting.saltedJoin(fact, dim.hint("shuffle_hash"),
            "key", salts)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("graft-scaling")
    args.toList match {
      case "gen" :: outDir :: rest =>
        val src = rest.headOption.getOrElse("/root/testdata/sf0.1")
        val reps = rest.lift(1).map(_.toInt).getOrElse(Replicas)
        generate(spark, src, outDir, reps)
        println(s"""{"generated":"$outDir","replicas":$reps}""")
      case "run" :: dirs if dirs.nonEmpty =>
        dirs.foreach(d => measure(spark, d).foreach(println))
      case "gen-graph" :: outDir :: rest =>
        val src = rest.headOption.getOrElse("/root/testdata/sf0.1")
        val reps = rest.lift(1).map(_.toInt).getOrElse(Replicas)
        generateGraph(spark, src, outDir, reps)
      case "run-graph" :: dirs if dirs.nonEmpty =>
        dirs.foreach(d => measureGraphStream(spark, d).foreach(println))
      case "skew" :: rest =>
        val n = rest.headOption.map(_.toLong).getOrElse(4000000L)
        val salts = rest.drop(1).headOption.map(_.toInt).getOrElse(8)
        skewBench(spark, n, salts = salts).foreach(println)
      case _ =>
        System.err.println(
          "usage: ScalingBench gen <outDir> [srcDir] [replicas] | " +
            "run <dir>... | gen-graph <outDir> [srcDir] [replicas] | " +
            "run-graph <dir>... | skew [n]")
        sys.exit(2)
    }
    spark.stop()
  }
}
