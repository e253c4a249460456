package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.queries.{EventQueries, Relational}

/** Round-11 late additions: asymmetric containment join, Apriori
  * association rules, PSI drift monitor. The driver oracle proves
  * exactness at sf0.01 every round; these pin the SEMANTICS — the
  * properties that make each operator the thing it claims to be.
  */
class Round11bSpec extends SparkSpecBase {

  test("containment: directed — catches the embedded doc Jaccard misses") {
    import spark.implicits._
    val words = (1 to 20).map(i => s"w$i").mkString(" ")
    val tail = (1 to 40).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, words),                 // 18 shingles, all inside doc 2
      (2L, s"$words $tail"),       // superset + bridge/tail shingles
      (3L, (1 to 30).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val got = graft.ops.SetJoin.containmentPairs(docs, col("doc_id"),
        col("text"), tauNum = 2, tauDen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === Seq((1L, 2L, 1.0)),
      "A⊂B must surface exactly as the directed pair (A,B) at C=1.0 — " +
        "the reverse direction and the unrelated doc must be absent; " +
        s"got ${got.toSeq}")
    // the same pair is invisible to symmetric Jaccard at τ=1/2:
    // |∩|=18, |∪|=58 ⇒ J≈0.31
    val jac = graft.ops.SetJoin.prefixJaccardPairs(docs, col("doc_id"),
      col("text"), tauNum = 1, tauDen = 2).count()
    assert(jac === 0L, "Jaccard@1/2 must miss the embedded doc")
  }

  test("containment: prefix filter complete vs full inverted index") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // ground truth: FULL inverted-index exact containment (no prefix
    // pruning anywhere) — every directed pair with 3·|∩| ≥ 2·n_a
    val postings = docs.select(col("doc_id"),
        graft.functions.text.wordShingleHashes(col("text"), 3).as("__sh"))
      .select(col("doc_id"), size(col("__sh")).cast("long").as("n"),
        explode(col("__sh")).as("s"))
    val a = postings.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
      col("s"))
    val b = postings.select(col("doc_id").as("doc_b"), col("s").as("s_b"))
    val full = a.join(b, col("s") === col("s_b") &&
        col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_a"))
      .agg(count(lit(1)).as("inter"))
      .filter(lit(3L) * col("inter") >= lit(2L) * col("n_a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = graft.ops.SetJoin.containmentPairs(docs, col("doc_id"),
        col("text"), tauNum = 2, tauDen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned === full,
      s"asymmetric prefix filter dropped ${(full -- pruned).size} / " +
        s"invented ${(pruned -- full).size} directed pairs")
    assert(full.nonEmpty, "corpus must exercise the join")
  }

  test("assoc rules: directionality, exact scores, observable Apriori prune") {
    val rules = Relational.qAssocRules(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    assert(rules.nonEmpty)
    rules.foreach { case ((ant, cons), (nAb, nAnt, nCons, conf, lift)) =>
      // supports honored
      assert(nAb >= 3L && nAnt >= 25L && nCons >= 25L)
      // scores are THE single exact divisions
      assert(conf === nAb.toDouble / nAnt)
      assert(conf > 0.0 && conf <= 1.0)
      assert(lift > 0.0)
      // every rule's reverse exists, same support, same (symmetric) lift,
      // its own confidence
      val rev = rules.get((cons, ant))
      assert(rev.isDefined, s"missing reverse of $ant=>$cons")
      assert(rev.get._1 === nAb && rev.get._5 === lift)
      assert(rev.get._4 === nAb.toDouble / nCons)
    }
    // the prune must be OBSERVABLE on this corpus: infrequent items exist
    // and no rule touches one
    val marg = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val infrequent = marg.filter(col("n") < 25).count()
    assert(infrequent > 0L,
      "corpus must have a prunable tail for this test to mean anything")
    val touched = rules.keySet.flatMap(k => Set(k._1, k._2))
    val infreqSet = marg.filter(col("n") < 25)
      .collect().map(_.getLong(0)).toSet
    assert(touched.intersect(infreqSet).isEmpty,
      "a rule touched an item the Apriori prune should have dropped")
  }

  test("stream outer join: sealed nulls equal the batch left join") {
    val got = graft.queries.StreamQueries.qStreamOuterJoin(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
    // batch twin computed in-process (the driver re-proves it vs DuckDB)
    val e = spark.read.parquet(s"$sfDir/events.parquet")
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
    val want = c.join(p, col("user_id") === col("p_user") &&
        col("click_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") < col("p_ts"), "left_outer")
      .select(col("click_id"), col("purchase_id"), col("user_id"))
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
    assert(got.sorted.toSeq === want.sorted.toSeq)
    // the rows that make this an OUTER join must actually occur: sealed
    // nulls AND genuine matches both present, no sentinel leakage
    assert(got.count(_._2.isEmpty) > 0, "no sealed null rows — degenerated")
    assert(got.count(_._2.isDefined) > 0, "no matches — join broke")
    assert(got.forall(_._3 >= 0L), "sentinel leaked through the filter")
  }

  test("stream hygiene sees sub-session streams the root session cannot") {
    import java.nio.file.Files
    import graft.streaming.StreamReplay
    val root = graft.streaming.StreamReplay.scratch("graft-hygiene")
    StreamReplay.track(root)
    val feed = root.resolve("feed")
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").write.parquet(feed.toString)
    val sq = StreamReplay.subSession(spark)
    val q = sq.readStream.schema("id LONG, v STRING").parquet(feed.toString)
      .writeStream.format("noop")
      .option("checkpointLocation", root.resolve("ck").toString)
      .start()
    try {
      // the defect this pins: StreamingQueryManager is per-session, so a
      // leak check on the ROOT session's manager is blind to every stream
      // the engine actually starts (all run on subSessions)
      assert(!spark.streams.active.map(_.id).contains(q.id),
        "root manager unexpectedly sees the sub-session stream — if Spark " +
          "changed this, simplify activeStreamsAnywhere")
      assert(StreamReplay.activeStreamsAnywhere(spark).map(_.id)
        .contains(q.id),
        "activeStreamsAnywhere must see the sub-session stream")
    } finally q.stop()
    assert(!StreamReplay.activeStreamsAnywhere(spark).map(_.id)
      .contains(q.id))
  }

  test("drift psi: the injected shift is detected, the floor stays quiet") {
    val got = EventQueries.qDriftPsi(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got.keySet === Set("click", "error", "purchase", "signup", "view"))
    val purchase = got("purchase")
    got.foreach { case (et, psi) =>
      // each true PSI term is ≥ 0; the 2^-16 floor-snap can shave at most
      // 10·2^-16 ≈ 1.5e-4 below zero in aggregate
      assert(psi > -1e-3, s"$et psi negative: $psi")
      if (et != "purchase")
        assert(psi < 0.15, s"noise floor breached: $et at $psi")
    }
    assert(purchase > 0.15, s"injected 1.5x shift must read as drift " +
      s"(PSI > 0.15 on the standard scale); got $purchase")
    assert(got.values.max === purchase, "purchase must be the max-PSI type")
  }
}
