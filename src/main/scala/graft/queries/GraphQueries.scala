package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.{fixed}
import graft.ops.Graph
import graft.sources.Tables

/** Graph-analytics queries over the star schema. The reference's usage
  * layer aggregates the customer↔supplier trade relation flat
  * (compute_usage.py's groupbys); here the same relation becomes a graph
  * and importance propagates through it — the standard entity-ranking
  * upgrade of a co-occurrence table.
  */
object GraphQueries {

  /** 5 power iterations of PageRank over the bidirected customer–supplier
    * trade graph (an edge per distinct (o_custkey, l_suppkey) trading
    * pair). Node encoding: customer c → 2c, supplier s → 2s+1 — disjoint
    * id spaces, recovered in the output as (kind, entity_key). Suppliers
    * are ~15× fewer than customers, so trade mass concentrates on them:
    * the rank mass per supplier node materially exceeds any customer's.
    */
  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    // RAW pair stream, duplicates and all — the dedup rides pageRank's
    // own src-keyed repartition partition-locally (dedupEdges=true), so
    // edge construction pays ONE |E| shuffle instead of the old
    // distinct-then-repartition two (r14 verdict #6)
    val e0 = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
    val edges = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    Graph.pageRank(edges, iters = 5, dedupEdges = true)
      .select(col("node"),
        when(col("node") % 2 === 0, "customer").otherwise("supplier")
          .as("kind"),
        shiftright(col("node"), 1).as("entity_key"),
        col("r").as("pr"))
      .orderBy(col("node"))
  }

  /** BFS hop distances from the lowest-keyed supplier over the bidirected
    * trade graph (round 8) — "how far is every entity from this anchor",
    * the reachability question underneath influence radius, blast-radius
    * and fraud-ring analyses. The graph is bipartite
    * (customer ↔ supplier), so distances alternate parity: suppliers sit
    * at even hops, customers at odd. Source resolved as a bounded
    * 1-value model step; the propagation is ops.Graph.bfsDistances
    * (frontier-only edge join per round, early-converging, checkpointed).
    * Oracle: recursive CTE over the same edge construction — min d per
    * node over paths of ≤ maxHops hops, exact in both engines since hop
    * counts are integers.
    */
  def qBfsDistance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e0 = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    val srcNode = Tables.supplier(spark, dir)
      .agg(min(col("s_suppkey"))).head().getLong(0) * 2 + 1
    Graph.bfsDistances(edges, Seq(srcNode).toDF("node"), maxHops = 6)
      .select(col("node"),
        when(col("node") % 2 === 0, "customer").otherwise("supplier")
          .as("kind"),
        shiftright(col("node"), 1).as("entity_key"),
        col("dist"))
      .orderBy(col("node"))
  }

  /** Per-part triangle counts over the co-purchase graph. The graph is the
    * scale-robust kNN form of co-occurrence: edge strength = how many
    * orders contain both parts, each part keeps its top-8 strongest
    * partners (ties by partner id), edges canonicalized undirected. The
    * top-8 cap is what survives 1000×: a raw ≥-k-co-occurrences threshold
    * makes graph density scale with the corpus, while top-8 bounds degree
    * (≤ 16 after the union) and hence triangle work at ANY data size.
    * Pair enumeration itself is bounded: orders hold ≤ a handful of
    * parts, so the per-order self-join fans out C(lines,2), not n².
    */
  def qTriangleCount(spark: SparkSession, dir: String): DataFrame = {
    // pair enumeration WITHOUT a self-join: one shuffle by order collects
    // each order's distinct part set (orders hold a handful of lines, so
    // the set is tiny and collect_set's dedup replaces a separate
    // distinct exchange), then the ordered pairs explode map-side —
    // per-order C(parts,2) fan-out, bounded by order size at any SF
    Graph.triangleCounts(copurchaseEdges(spark, Tables.lineitem(spark, dir)))
      .orderBy(col("node"))
  }

  /** The degree-bounded co-purchase edge construction behind
    * qTriangleCount, factored out so ScalingBench can measure its
    * triangle mass on the 5× replica corpus with the same plan.
    */
  private[graft] def copurchaseEdges(spark: SparkSession,
      lineitem: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pairs = lineitem
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
    // top-8 via the bounded-heap aggregate, NOT a window: partial buffers
    // cap at 8 entries per u per partition, so the exchange carries
    // 8·partitions rows per node instead of sorting the full O(pairs)
    // candidate mass (the count fits a double exactly — ≤ 2^53; heap
    // tie-break is (w desc, v asc), identical to the oracle's row_number)
    pairs
      .groupBy(col("u"))
      .agg(graft.functions.vectors.topk(col("w").cast("double"), col("v"), 8)
        .as("tk"))
      .select(col("u"), explode(col("tk")).as("e"))
      .select(least(col("u"), col("e.id")).as("u"),
        greatest(col("u"), col("e.id")).as("v"))
      .distinct()
  }

  /** k-CORE DECOMPOSITION (round 16 — the graph-robustness peel every
    * abuse/community pipeline runs: the maximal subgraph where every
    * node keeps degree ≥ k, found by repeatedly deleting under-degree
    * nodes). Runs the classic synchronous peel over the REPEAT
    * co-purchase graph (pairs bought together in ≥2 orders — the
    * weight threshold gives the natural heavy-tailed degree variance
    * the fixed top-8 graph lacks, so the peel actually peels): per
    * round ONE degree aggregate over the
    * surviving edges + two semi-joins against the ≥k node set, each
    * round checkpointed (the qBomRollup lineage discipline) — no
    * all-pairs anything, per-round cost O(|E_surviving|). The loop
    * stops at the FIXPOINT (a round that deletes nothing) with a hard
    * 16-round cap that fails loudly rather than emitting a half-peeled
    * graph; the oracle unrolls a fixed 16 rounds — peeling a converged
    * core is the identity, so early convergence and the fixed unroll
    * agree by construction.
    *
    * Output = the 2-core's nodes with their in-core degree: a node
    * wrongly kept, dropped, or with a stale degree all hash-fail.
    */
  def qKcore(spark: SparkSession, dir: String, k: Int = 2): DataFrame = {
    import graft.ops.Checkpoints
    val und = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
      .select(explode(col("ps")).as("u"), col("ps"))
      .select(col("u"), explode(col("ps")).as("v"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
      .select(col("u"), col("v"))
    // Action floor (r18 optimization — the bfsDistances discipline): each
    // peel round pays exactly ONE job — the survivor count rides the
    // round's checkpoint action as an `observe`d metric instead of a
    // separate count() job. The loop runs under ops.Fixpoint's scope (r19):
    // AQE off (every round's stage shape is KNOWN: checkpointed edges →
    // degree agg → two keyed semi-joins — adaptive re-planning can only
    // fragment it into extra per-stage jobs) AND the shuffle width derived
    // from the surviving edge mass (2|E| degree rows per round), so a
    // node-sized peel stops paying cluster-width empty-task overhead per
    // stage per round. Construction stays under AQE for the scan-side
    // broadcast planning, materialized by the count below.
    Checkpoints.scoped { s =>
      var edges = s.checkpoint(und)
      var nEdges = edges.count()
      var converged = false
      var rounds = 0
      graft.ops.Fixpoint.withLoopConf(spark,
          graft.ops.Fixpoint.widthFor(spark, 2L * nEdges)) {
        while (rounds < 16 && !converged) {
          rounds += 1
          val deg = edges.select(col("u").as("n"))
            .unionAll(edges.select(col("v").as("n")))
            .groupBy(col("n")).agg(count(lit(1)).as("d"))
          val keep = deg.filter(col("d") >= k).select(col("n"))
          val pruned = edges
            .join(keep.withColumnRenamed("n", "u").hint("shuffle_hash"),
              Seq("u"), "leftsemi")
            .join(keep.withColumnRenamed("n", "v").hint("shuffle_hash"),
              Seq("v"), "leftsemi")
            .select(col("u"), col("v"))
          val obs = org.apache.spark.sql.Observation()
          val next = s.checkpoint(pruned.observe(obs, count(lit(1)).as("n")))
          // harvested from the checkpoint's own action — no second job
          val nNext = obs.get("n").asInstanceOf[Long]
          s.release(edges)
          edges = next
          converged = nNext == nEdges
          nEdges = nNext
        }
      }
      if (!converged) throw new IllegalStateException(
        "qKcore: peel did not reach a fixpoint within 16 rounds — raise " +
          "the bound instead of trusting a half-peeled core")
      // the converged edges stay persisted: the returned frame reads them
      s.keep(edges)
      edges.select(col("u").as("node"))
        .unionAll(edges.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
        .orderBy(col("node"))
    }
  }

  /** HIERARCHY ROLL-UP via POINTER DOUBLING (round 15c — the
    * bill-of-materials explosion every manufacturing/ops warehouse
    * runs: "how many units of each part does one unit of its root
    * assembly need?", the multiplied-quantity path aggregate a flat
    * groupBy cannot express). Synthetic 4-ary hierarchy over part:
    * parent(p) = p div 4 (roots are p ≤ 3), per-edge quantity
    * qty(p) = p mod 3 + 1 — deterministic, so the DuckDB recursive CTE
    * replays it exactly in bounded integer arithmetic.
    *
    * THE SCALE POINT: the naive walk is one self-join per LEVEL
    * (O(depth) shuffles); this runs POINTER DOUBLING — every node
    * carries (ancestor, path product, path length) and each round joins
    * the state with ITSELF, composing jumps: after k rounds every node
    * has jumped 2^k edges. Five rounds close ANY hierarchy up to depth
    * 32 — at 100 TB that is 5 shuffles where the per-level walk pays 32,
    * and the state never exceeds one row per node. Round-local plans are
    * checkpointed so the self-join tree doesn't compound.
    *
    * Exactness: quantities are exact longs (products ≤ 3^32 overflow?
    * no — depth here ≤ 8, product ≤ 3^8 = 6561; the CTE and the engine
    * agree in exact BIGINT), sums exact.
    */
  def qBomRollup(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Checkpoints
    val parts = Tables.part(spark, dir).select(col("p_partkey").as("node"))
    // initial state: one step up (or self for roots)
    val init = parts.select(col("node"),
      when(col("node") >= 4, expr("node div 4")).otherwise(col("node"))
        .as("cur"),
      when(col("node") >= 4, col("node") % 3 + 1).otherwise(lit(1L))
        .cast("long").as("prod"),
      when(col("node") >= 4, 1L).otherwise(0L).as("depth"))
    Checkpoints.scoped { s =>
      var state = s.checkpoint(init)
      for (_ <- 1 to 5) {
        val t = state.select(col("node").as("t_node"), col("cur").as("t_cur"),
          col("prod").as("t_prod"), col("depth").as("t_depth"))
        val next = state.join(t.hint("shuffle_hash"),
            state("cur") === t("t_node"), "left")
          .select(col("node"),
            when(col("cur") >= 4, col("t_cur")).otherwise(col("cur"))
              .as("cur"),
            when(col("cur") >= 4, col("prod") * col("t_prod"))
              .otherwise(col("prod")).as("prod"),
            when(col("cur") >= 4, col("depth") + col("t_depth"))
              .otherwise(col("depth")).as("depth"))
        val nextCp = s.checkpoint(next)
        s.release(state)
        state = nextCp
      }
      // convergence gate: 5 doubling rounds close depth ≤ 32; a deeper
      // hierarchy would silently emit non-root `cur` values as roots, so
      // assert reachability loudly (one cheap count over the checkpointed
      // state — roots are keys ≤ 3 by construction)
      val unconverged = state.filter(col("cur") >= 4).count()
      if (unconverged > 0) throw new IllegalStateException(
        s"qBomRollup: $unconverged nodes did not reach a root after 5 " +
          "pointer-doubling rounds (hierarchy deeper than 32 levels) — " +
          "raise the round count instead of trusting these as roots")
      s.keep(s.checkpoint(state
        .groupBy(col("cur").as("root"), col("depth"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("prod")).cast("bigint").as("total_units"))
        .orderBy(col("root"), col("depth"))))
    }
  }

  // ---- Registry rows and their DuckDB oracles ----

  /** Generated k-core oracle: the shared co-purchase edge CTEs, then a
    * FIXED unrolled peel of R = 16 rounds (degree → ≥k filter → edge
    * prune per round) — R matches the engine loop's 16-round hard cap
    * in [[qKcore]] and the two must move together. The engine loop stops
    * at its fixpoint; peeling a converged core is the identity, so the
    * fixed unroll and the early-stopping loop agree by construction (and
    * the engine fails loudly if 16 rounds ever stop sufficing).
    */
  private def kcoreOracle: String = {
    val k = 2
    val R = 16
    // MATERIALIZED is load-bearing: each round references its
    // predecessor three times, and default CTE inlining would expand
    // the unrolled chain into 3^R copies of the lineitem scan (observed
    // as a too-many-open-files explosion)
    val rounds = (1 to R).map { i =>
      s"""d$i AS MATERIALIZED (SELECT n, COUNT(*) AS d FROM
         |  (SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
         |  GROUP BY n),
         |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT n FROM d$i WHERE d >= $k)
         |    AND v IN (SELECT n FROM d$i WHERE d >= $k))""".stripMargin
    }
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
       |    l_partkey AS p
       |  FROM lineitem),
       |e0 AS MATERIALIZED (SELECT u, v FROM (
       |    SELECT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v,
       |      COUNT(*) AS w
       |    FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)
       |  WHERE w >= 2),
       |${rounds.mkString(",\n")}
       |SELECT node, COUNT(*) AS core_deg FROM
       |  (SELECT u AS node FROM e$R UNION ALL SELECT v FROM e$R)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  /** PageRank oracle: the power iteration UNROLLED as `iters` chained CTE
    * pairs (per-edge contributions snapped to the 2^-52 grid, then the
    * damping update), mirroring ops.Graph.pageRank's expression tree
    * exactly — identical literals, casts and association, so all five
    * iterations stay bit-equal in both engines.
    */
  private def pagerankOracle(iters: Int): String = {
    val head =
      """e0 AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |nt AS (SELECT COUNT(*) AS nd FROM deg),
        |r0 AS (SELECT src AS node, 1.0/CAST(nd AS DOUBLE) AS r
        |  FROM deg CROSS JOIN nt)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""s$i AS (SELECT e.dst AS node,
         |    SUM(floor((r.r/deg.deg)*4503599627370496.0)/4503599627370496.0) AS s
         |  FROM e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg ON e.src = deg.src
         |  GROUP BY e.dst),
         |r$i AS (SELECT node, 0.15/CAST(nd AS DOUBLE) + 0.85*s AS r
         |  FROM s$i CROSS JOIN nt)""".stripMargin
    }
    val ctes = (head +: steps).mkString(",\n")
    s"""WITH $ctes
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  node >> 1 AS entity_key, r AS pr
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** The GraphQueries registry rows. */
  def defs: Seq[(String, QueryDef)] = Seq(
    "q_pagerank" -> fixed(qPagerank _)(pagerankOracle(5)),
    // degree-oriented triangle enumeration over the top-8 co-purchase
    // graph — identical orientation rule ((deg, id)-smaller endpoint
    // first), identical kNN edge construction
    "q_triangle_count" -> fixed(qTriangleCount _)(
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |pairs AS (SELECT a.p AS u, b.p AS v, COUNT(*) AS w
        |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p GROUP BY 1, 2),
        |top8 AS (SELECT u, v FROM (SELECT u, v,
        |    row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
        |  FROM pairs) WHERE rn <= 8),
        |und AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        |  FROM top8),
        |deg AS (SELECT n, COUNT(*) AS d FROM
        |  (SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY n),
        |ori AS (SELECT
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |      THEN u ELSE v END AS s,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |      THEN v ELSE u END AS t
        |  FROM und JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM ori e1 JOIN ori e2 ON e1.t = e2.s
        |  JOIN ori e3 ON e3.s = e1.s AND e3.t = e2.t),
        |nodes AS (SELECT a AS node FROM tri UNION ALL
        |  SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |SELECT node, COUNT(*) AS n_tri FROM nodes GROUP BY node
        |ORDER BY node""".stripMargin),
    // BFS distances: min hop count over paths of <= 6 hops via recursive
    // CTE — integer arithmetic, exact in both engines; same edge CTE as
    // the pagerank oracle, source = lowest-keyed supplier node
    "q_bfs_distance" -> fixed(qBfsDistance _)(
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |s0 AS (SELECT MIN(s_suppkey)*2+1 AS n FROM supplier),
        |reach(node, d) AS (
        |  SELECT n, 0 FROM s0
        |  UNION
        |  SELECT e.dst, reach.d + 1 FROM reach JOIN e ON reach.node = e.src
        |  WHERE reach.d < 6)
        |SELECT node,
        |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        |  node >> 1 AS entity_key, CAST(MIN(d) AS BIGINT) AS dist
        |FROM reach GROUP BY node ORDER BY node""".stripMargin),
    // the recursive CTE IS the naive per-level walk — hash equality
    // re-proves the pointer-doubling composition == step-by-step every
    // round; all quantities exact BIGINT
    "q_bom_rollup" -> fixed(qBomRollup _)(
      """WITH RECURSIVE up AS (
        |  SELECT p_partkey AS node, p_partkey AS cur,
        |    CAST(1 AS BIGINT) AS prod, CAST(0 AS BIGINT) AS depth
        |  FROM part
        |  UNION ALL
        |  SELECT node, cur // 4, prod * (cur % 3 + 1), depth + 1
        |  FROM up WHERE cur >= 4)
        |SELECT cur AS root, depth, COUNT(*) AS n_parts,
        |  CAST(SUM(prod) AS BIGINT) AS total_units
        |FROM up WHERE cur < 4
        |GROUP BY 1, 2 ORDER BY root, depth""".stripMargin),
    "q_kcore" -> fixed((s, d) => qKcore(s, d))(kcoreOracle),
  )
}
