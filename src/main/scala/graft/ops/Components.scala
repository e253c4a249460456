package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Connected components over an undirected edge list — the step that turns
  * near-duplicate PAIRS into duplicate CLUSTERS (keep one canonical doc per
  * component, drop the rest). Every near-dup method here emits pairs;
  * without this step a trio A~B~C with no direct A~C edge dedups
  * inconsistently.
  *
  * Lineage mode: every per-round checkpoint goes through ops.Checkpoints —
  * executor-local by default, lake-backed reliable checkpointing when
  * `spark.graft.checkpointDir` is set (the dynamic-allocation-safe mode).
  *
  * Algorithm: iterative min-label propagation (distributed union-find) —
  *   label(v) ← min(label(v), min of neighbors' labels)
  * until a fixpoint. Each iteration is ONE equi-join of the edge list with
  * the current labels plus ONE groupBy-min — two shuffles, both keyed and
  * partial-aggregated; labels never leave the executors (the driver sees
  * only a convergence witness per iteration). Iterations = graph diameter;
  * dedup graphs are near-clique blobs, so 2-4 in practice. A production
  * deployment on a deep graph would switch to large-star/small-star
  * (Kiveris et al., "Connected Components in MapReduce", SoCC'14) to get
  * O(log n) rounds — the per-round plan shape is the same.
  *
  * The converged labeling (component = min reachable id) is independent of
  * iteration order → deterministic on any partitioning/engine, which is
  * what makes an exact SQL oracle possible (recursive CTE).
  */
object Components {

  /** nodes: an `id` column (one row per vertex); edges: (src, dst) rows,
    * undirected, endpoints must appear in `nodes`. Returns (id, component)
    * with component = MIN id reachable from `id`.
    *
    * NOTE: eager — runs one bounded job per iteration (the convergence
    * witness); intermediate labelings are persisted and dropped as they are
    * superseded. Fails loudly if the graph hasn't converged in `maxIters`
    * rather than returning a plausible-but-wrong partial labeling, and
    * releases every labeling when it does.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIters: Int = 25): DataFrame = {
    // checkpoint (not persist): iterative plans grow by one join per
    // round, and Catalyst re-analyzes the WHOLE lineage on every action —
    // by ~15 rounds the analysis cost dwarfs the data work. Checkpointing
    // truncates the logical plan each round; ops.Checkpoints picks
    // executor-local (fast, lineage-unsafe under executor loss) or
    // lake-backed reliable mode per spark.graft.checkpointDir.
    //
    // Action floor (r18 optimization — the bfsDistances discipline applied
    // here): each round pays exactly ONE Spark job. The convergence
    // witness — Σ component, exact decimal so a double sum cannot miss a
    // small change in a huge total and stop early with wrong components —
    // is an `observe`d metric harvested from the SAME action that
    // materializes the round's checkpoint, replacing the separate
    // witness aggregate job every round paid before. The loop runs under
    // ops.Fixpoint's scope: AQE off (every round's stage shape is KNOWN —
    // checkpointed edge table ⋈ node-sized labels → groupBy-min — so
    // adaptive re-planning cannot improve it, only fragment each tiny
    // round into extra per-stage jobs whose fixed driver cost dominates;
    // shuffle_hash hints keep the static planner off SMJ since a
    // checkpointed frame reports no size statistics) and the shuffle
    // width DERIVED from the loop's own row mass (r19, guide §2 — the
    // observed |sym| + |nodes| counts ride the construction checkpoints,
    // zero extra jobs), so a node-sized loop stops paying cluster-width
    // empty-task overhead per stage per round. The edge table is
    // re-checkpointed ONCE hash-partitioned by the loop's join key at
    // that width: every round's nbr join then reuses sym's partitioning
    // and only the node-sized labels move — the AQE-built sym0 checkpoint
    // carried no usable partitioning, so each round re-exchanged all
    // 2|E| edge rows. Construction (sym0 + initial labels) stays under
    // AQE — the CALLER's pair derivation (e.g. an LSH bucket join) needs
    // runtime broadcast planning.
    val spark = nodes.sparkSession
    Checkpoints.scoped { s =>
      val obsSym = org.apache.spark.sql.Observation()
      val sym0 = s.checkpoint(edges.select(col("src"), col("dst"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .observe(obsSym, count(lit(1)).as("n")))
      val nSym = obsSym.get("n").asInstanceOf[Long]
      val wSum = sum(col("component").cast(DecimalType(38, 0))).as("w")
      val obs0 = org.apache.spark.sql.Observation()
      var labels = s.checkpoint(
        nodes.select(col("id"), col("id").cast("long").as("component"))
          .observe(obs0, wSum, count(lit(1)).as("n")))
      var prev = obs0.get("w").asInstanceOf[java.math.BigDecimal]
      // an empty vertex set sums to NULL: the initial labeling is final
      if (prev != null) {
        val nNodes = obs0.get("n").asInstanceOf[Long]
        val width = Fixpoint.widthFor(spark, nSym + nNodes)
        var it = 0
        var converged = false
        Fixpoint.withLoopConf(spark, width) {
          // one bounded re-shuffle of the symmetrized edges, paid once,
          // replacing a 2|E| exchange per round (explicit partition count:
          // an eager checkpoint preserves the plan's output partitioning, so
          // the loop join below sees HashPartitioning(dst, width) and leaves
          // this side in place)
          val sym = s.checkpoint(sym0.repartition(width, col("dst")))
          s.release(sym0)
          while (!converged && it < maxIters) {
            val nbr = sym.as("e").join(labels.as("l").hint("shuffle_hash"),
                col("e.dst") === col("l.id"))
              .select(col("e.src").as("id"), col("l.component").as("component"))
            // pointer jumping: each node also adopts its label's label — chain
            // depth halves per round, so rounds = O(log diameter) instead of
            // O(diameter) (the Shiloach-Vishkin shortcut; a path graph would
            // otherwise need diameter rounds)
            val jump = labels.as("x").join(labels.as("y").hint("shuffle_hash"),
                col("x.component") === col("y.id"))
              .select(col("x.id").as("id"), col("y.component").as("component"))
            val obs = org.apache.spark.sql.Observation()
            val next = s.checkpoint(
              labels.unionByName(nbr).unionByName(jump)
                .groupBy("id").agg(min("component").as("component"))
                .observe(obs, wSum))
            // harvested from the checkpoint's own action — no second job
            val cur = obs.get("w").asInstanceOf[java.math.BigDecimal]
            s.release(labels)
            labels = next
            converged = cur.compareTo(prev) == 0
            prev = cur
            it += 1
          }
        }
        require(converged,
          s"connectedComponents: not converged after $maxIters iterations — " +
            "graph diameter exceeds the cap; raise maxIters or switch to " +
            "large-star/small-star rounds")
      }
      s.keep(labels)
    }
  }

  /** Incremental component maintenance — fold one day's NEW vertices and
    * edges into a PERSISTED labeling without touching the historical
    * graph: the 100 TB answer to "don't re-derive clusters from the full
    * pair store every day".
    *
    *  - `storeLabels`: yesterday's converged (id, component) rows,
    *    component = MIN reachable id (exactly what [[connectedComponents]]
    *    emits — the invariant this method RELIES on: each component's
    *    label is its minimum member).
    *  - `newNodes`: today's new vertex ids (not present in the store).
    *  - `newEdges`: every edge incident to a new vertex — batch-internal
    *    pairs plus batch-vs-history pairs. Historical-internal edges were
    *    already folded into the store and must not be re-supplied.
    *
    * Shape: each edge's historical endpoints CONTRACT to their stored
    * component representative (two broadcast-able lookups against only the
    * edge endpoints, never the full store), then min-label propagation
    * runs on the contracted graph — |new nodes| + |touched components|
    * vertices, O(day's edges) edges, regardless of corpus size. Because a
    * store component's representative IS its min member, the contracted
    * minimum equals the from-scratch minimum over the merged vertex sets,
    * so the output labeling is IDENTICAL to re-running
    * [[connectedComponents]] on the full two-generation graph (pinned in
    * DedupSpec; the registered query's DuckDB oracle is the full-graph
    * recursive CTE, so the driver re-proves the equivalence every round).
    * Finally the store relabels by broadcast-joining the (old rep → new
    * label) remap — map-side only: the historical rows never shuffle, and
    * untouched components pass through unchanged.
    */
  def incrementalComponents(storeLabels: DataFrame, newNodes: DataFrame,
      newEdges: DataFrame, maxIters: Int = 25): DataFrame = {
    val srcLbl = storeLabels
      .select(col("id").as("src"), col("component").as("__csrc"))
    val dstLbl = storeLabels
      .select(col("id").as("dst"), col("component").as("__cdst"))
    // contract: historical endpoints become their component rep; new
    // endpoints stay themselves. The joins key on the EDGE list (the small
    // side) — at scale the store side is bucketed on id, the edge side
    // shuffles O(day's edges).
    // checkpointed: cEdges feeds BOTH union branches of the propagation's
    // symmetrized edge list AND both branches of the vertex set — without
    // it the upstream day-pair derivation (an LSH bucket join in the
    // cluster query) re-executes once per consumer. The result reads only
    // the converged labels, so cEdges is released on return.
    Checkpoints.scoped { s =>
      val cEdges = s.checkpoint(
        newEdges.select(col("src"), col("dst"))
          .join(srcLbl, Seq("src"), "left")
          .join(dstLbl, Seq("dst"), "left")
          .select(coalesce(col("__csrc"), col("src")).as("src"),
            coalesce(col("__cdst"), col("dst")).as("dst")))
      // contracted vertex set: every new node (untouched ones stay
      // singletons) plus every rep an edge touches
      val cNodes = newNodes.select(col("id"))
        .unionByName(cEdges.select(col("src").as("id")))
        .unionByName(cEdges.select(col("dst").as("id")))
        .distinct()
      val sub = connectedComponents(cNodes, cEdges, maxIters)
      // relabel history: broadcast the bounded (old rep → new label) remap
      // over the store — the only rows that change are in touched components
      val remap = sub.select(col("id").as("component"),
        col("component").as("__newc"))
      val hist = storeLabels
        .join(broadcast(remap), Seq("component"), "left")
        .select(col("id"), coalesce(col("__newc"), col("component")).as("component"))
      val fresh = sub.join(newNodes.select(col("id")), Seq("id"), "leftsemi")
      hist.unionByName(fresh)
    }
  }
}
