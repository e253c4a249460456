package graft

import org.apache.spark.sql.functions._
import graft.queries.{DatalakeQueries, JourneyQueries, TextQueries}

/** Round-8 second wave: fuzzy join, snapshot diff / merge-upsert, Markov
  * transitions, PMI collocations. The driver oracle proves exactness at
  * sf0.01; these pin the SEMANTICS on reference computations at sf0.001.
  */
class Round8bSpec extends SparkSpecBase {

  test("fuzzy join: deletion-neighborhood pairs equal the brute-force levenshtein join") {
    val got = graft.queries.SimilarityQueries.qFuzzyJoin(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    val names = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      (ia, na) <- names; (ib, nb) <- names if ia < ib
      d = lev(na, nb) if d <= 1
    } yield (ia, ib, d)).toSet
    assert(want.nonEmpty, "test data must actually contain distance-1 pairs")
    assert(got === want,
      s"missing=${(want -- got).take(5)}, extra=${(got -- want).take(5)}")
  }

  test("table diff: every key classifies correctly against the mod-rules") {
    val rows = DatalakeQueries.qTableDiff(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val statuses = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    statuses.foreach { case (k, s) =>
      val inOld = k % 7 != 0
      val inNew = k % 5 != 0
      val expected =
        if (!inOld && inNew) "added"
        else if (inOld && !inNew) "removed"
        else "changed" // survivors in the output are exactly the price-bumped
      assert(s === expected, s"key $k")
      if (s == "changed") assert(k % 3 == 0, s"only mod-3 keys change, got $k")
    }
    // no unchanged rows leak into the diff
    assert(!statuses.values.exists(_ == "unchanged"))
    // changed rows carry both prices, off by exactly +5.0
    rows.filter(_.getString(1) == "changed").foreach { r =>
      if (!r.isNullAt(2) && !r.isNullAt(3))
        assert(r.getDouble(3) === r.getDouble(2) + 5.0)
    }
  }

  test("merge upsert: actions partition the key space, values follow the winner") {
    val rows = DatalakeQueries.qMergeUpsert(spark, sfDir).collect()
    val orders = graft.sources.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val expectedKeys = orders.keySet.filter(k => k % 3 != 0 || k % 2 == 0)
    assert(rows.map(_.getLong(0)).toSet === expectedKeys,
      "result keys = base ∪ delta, nothing else")
    rows.foreach { r =>
      val k = r.getLong(0)
      val action = r.getString(4)
      val inBase = k % 3 != 0
      val inDelta = k % 2 == 0
      assert(action === (if (!inBase) "inserted"
        else if (!inDelta) "kept" else "updated"), s"key $k")
      val price = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      val want = if (inDelta) orders(k).map(_ + 10.0) else orders(k)
      assert(price === want, s"key $k price")
      if (inDelta) assert(r.getString(3) === "MERGED")
    }
  }

  test("markov transitions: rows normalize to 1 and counts match a driver-side scan") {
    val rows = JourneyQueries.qMarkovTransitions(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // per-cur probabilities sum to exactly the count ratio total (within
    // double addition of <100 terms)
    rows.groupBy(_.getString(0)).foreach { case (cur, rs) =>
      val p = rs.map(_.getDouble(3)).sum
      assert(math.abs(p - 1.0) < 1e-12, s"$cur rows sum to $p")
    }
    // brute force the counts
    val evs = graft.sources.Tables.events(spark, sfDir)
      .filter(col("event_type").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val pairs: Seq[(String, String)] = evs.groupBy(_._1).values.toSeq.flatMap { g =>
      val types = g.sortBy(e => (e._2, e._3)).map(_._4).toSeq
      types.zip(types.drop(1))
    }
    val want = pairs.groupBy(x => x).map { case (k, v) => k -> v.size.toLong }
    val got = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === want)
  }

  test("pmi collocations: scores replay from driver-side counts, order is total") {
    val rows = TextQueries.qPmiCollocations(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    // replay counts from the raw text with the same normalization
    val texts = graft.sources.Tables.documents(spark, sfDir)
      .select(col("text")).collect().map(_.getString(0))
    val bigrams = texts.flatMap { t =>
      val ws = t.trim.toLowerCase.split("\\s+").toSeq
      if (ws.length < 2) Nil else ws.sliding(2).map(p => (p(0), p(1))).toSeq
    }
    val cxy = bigrams.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cl = cxy.groupBy(_._1._1).map { case (w, m) => w -> m.values.sum }
    val cr = cxy.groupBy(_._1._2).map { case (w, m) => w -> m.values.sum }
    val total = cxy.values.sum
    rows.foreach { r =>
      val (w1, w2, n, pmi) =
        (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))
      assert(n === cxy((w1, w2)), s"($w1,$w2) count")
      assert(n >= 5, "min support")
      val want = math.floor(math.log((n.toDouble * total.toDouble) /
        (cl(w1).toDouble * cr(w2).toDouble)) * 65536.0) / 65536.0
      assert(pmi === want, s"($w1,$w2) pmi")
    }
    // descending by pmi, ties broken (w1, w2) ascending
    val key = rows.map(r => (-r.getDouble(3), r.getString(0), r.getString(1)))
    assert(key.sameElements(key.sorted), "output must be a total order")
  }

  test("time travel: manifest resolves the latest version, old versions stay readable") {
    import graft.sources.Datalake
    val root = graft.streaming.StreamReplay.scratch("graft-tt").toString + "/t"
    import spark.implicits._
    Datalake.publish(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root, "1")
    Datalake.publish(Seq((1L, "a2"), (3L, "c")).toDF("k", "v"), root, "2")
    assert(Datalake.readPublished(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "a2"), (3L, "c")),
      "the manifest must resolve to the LATEST published version")
    assert(Datalake.readVersion(spark, root, "1").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === Set((1L, "a"), (2L, "b")),
      "version 1 must stay readable AS OF after version 2 publishes")
    // the registered drift summary classifies against the mod-rules
    val got = graft.queries.DatalakeQueries.qTimeTravel(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keys = graft.sources.Tables.orders(spark, sfDir)
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    assert(got.getOrElse("added", 0L) ===
      keys.count(k => k % 7 == 0 && k % 5 != 0).toLong)
    assert(got.getOrElse("removed", 0L) ===
      keys.count(k => k % 7 != 0 && k % 5 == 0).toLong)
    assert(got.getOrElse("changed", 0L) <=
      keys.count(k => k % 7 != 0 && k % 5 != 0 && k % 3 == 0).toLong)
  }

  test("co-occurrence: counts and cosine replay from driver-side baskets") {
    val rows = graft.queries.Relational.qCooccurrence(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val baskets = graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val marg = baskets.groupBy(_._2).map { case (p, v) => p -> v.length.toLong }
    val want = baskets.groupBy(_._1).values.flatMap { items =>
      val ps = items.map(_._2).sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.groupBy(x => x).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= 3L)
    // access by field name: the join order decides the physical column order
    val byName = rows.map { r =>
      (r.getAs[Long]("p_a"), r.getAs[Long]("p_b")) ->
        (r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("cosine"))
    }.toMap
    assert(byName.keySet === want.keySet,
      s"missing=${(want.keySet -- byName.keySet).take(5)}, " +
        s"extra=${(byName.keySet -- want.keySet).take(5)}")
    byName.foreach { case ((pa, pb), (nab, na, nb, cos)) =>
      assert(nab === want((pa, pb)))
      assert(na === marg(pa) && nb === marg(pb))
      assert(cos === nab.toDouble / math.sqrt(na.toDouble * nb.toDouble))
    }
  }

  test("round-8 checkpointing queries release their working storage") {
    // the Round7Spec leak discipline extended to this round's
    // checkpoint-using queries: one invocation may leave exactly ONE
    // persistent RDD — its checkpointed result. Retried because suites
    // share the SparkContext (cache/unpersist races inflate one reading).
    for ((name, run) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "q_pmi_collocations" ->
          (() => graft.queries.TextQueries.qPmiCollocations(TestSession.spark, sfDir)),
        "q_cooccurrence" ->
          (() => graft.queries.Relational.qCooccurrence(TestSession.spark, sfDir)),
        "q_setjoin_prefix" ->
          (() => graft.queries.SimilarityQueries.qSetjoinPrefix(TestSession.spark, sfDir)))) {
      assertReleasesStorage(name, run)
    }
  }

  test("source entropy: snapped-term sum replays from driver-side counts") {
    val rows = graft.queries.TextQueries.qSourceEntropy(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val toks = graft.sources.Tables.documents(spark, sfDir)
      .select(col("source"), col("text")).collect()
      .flatMap(r => r.getString(1).trim.toLowerCase.split("\\s+")
        .map(t => (r.getString(0), t)))
    val bySource = toks.groupBy(_._1)
    rows.foreach { r =>
      val (src, n, v, h) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      val counts = bySource(src).groupBy(_._2).map(_._2.length.toLong)
      assert(n === counts.sum && v === counts.size.toLong)
      val want = -counts.map { c =>
        val p = c.toDouble / n.toDouble
        math.floor(p * math.log(p) * 65536.0) / 65536.0
      }.sum
      assert(h === want, s"$src entropy")
      // upper bound: floor-snapping each p·ln p term onto the 2^-16 grid
      // inflates -sum by < 2^-16 PER TERM, so the true bound is
      // ln(vocab) + v·2^-16 — a fixed 1e-4 slack is exceeded at vocab
      // ≥ ~7 by a near-uniform source (round-8 ADVICE)
      assert(h >= 0.0 && h <= math.log(v.toDouble) + v.toDouble / 65536.0 + 1e-9,
        s"$src entropy $h outside [0, ln vocab + snapping]")
    }
  }
}
