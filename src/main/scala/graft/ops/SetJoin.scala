package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT set-similarity join by prefix filtering (the PPJoin family —
  * Chaudhuri et al. 2006 "A primitive operator for similarity joins",
  * Xiao et al. 2008): all document pairs whose shingle-set Jaccard is
  * ≥ τ, with NO approximation — the candidate set provably contains
  * every qualifying pair.
  *
  * Why this matters next to the sketch families: minhash/simhash/LSH
  * trade recall for speed; this operator shows the EXACT high-τ join
  * also has a sublinear scale path. Order every document's shingles by
  * ascending global document frequency (rarest first); a document of
  * set size s indexes only its first p = s − ⌈τ·s⌉ + 1 shingles (its
  * "prefix"). Completeness: for a qualifying pair (J ≥ τ implies, with
  * the length filter τ·max(sa,sb) ≤ min(sa,sb), overlap ≥ ⌈τ·sa⌉): if
  * the globally-smallest common shingle t sat outside A's prefix, all
  * p shingles before it would be A-only, capping the overlap at
  * sa − p = ⌈τ·sa⌉ − 1 — contradiction. So t lies in BOTH prefixes and
  * the prefix-shingle equi-join finds the pair. Rare-first ordering
  * makes prefix postings the LOW-df shingles, so candidate join mass is
  * a small fraction of the full inverted index (measured in Round8Spec;
  * the driver oracle — a full exact Jaccard join in DuckDB — re-proves
  * completeness empirically every round).
  *
  * τ is a RATIONAL num/den so every prefix length and length-filter
  * bound is exact integer arithmetic — no float-boundary ⌈⌉ drift
  * between prefix sizing and the verification threshold.
  *
  * Plan shape: shingle+hash one codegen pass (the ngram kernel); ONE
  * shingle-keyed shuffle serves the df window and the prefix equi-join;
  * one doc-keyed window ranks shingles rarest-first; candidates verify
  * with an exact IN-ROW `array_intersect` against each doc's shingle-set
  * array (r11 — the verify shuffle moves candidates ROWS, never the old
  * candidates × set-size posting-join explosion; the per-pair probe is a
  * codegen hash set, O(n_a + n_b)). At 100 TB hot shingles are
  * AQE-split like any bucketed family and the sets frame shuffle-joins
  * on the doc key.
  */
object SetJoin {

  /** Exact Jaccard ≥ tauNum/tauDen pairs over word-3-gram shingle sets.
    * Returns (doc_a, doc_b, jaccard). */
  def prefixJaccardPairs(df: DataFrame, id: Column, text: Column,
      tauNum: Int, tauDen: Int): DataFrame =
    core(df, id, text, tauNum, tauDen, verify = true)

  /** The CANDIDATE pairs the prefix admits (verification disabled) — the
    * join-mass evidence for Round8Spec: |prefix candidates| must be well
    * under the full inverted index's pair count at the same τ.
    */
  private[graft] def prefixCandidates(df: DataFrame, id: Column,
      text: Column, tauNum: Int, tauDen: Int): DataFrame =
    core(df, id, text, tauNum, tauDen, verify = false)

  private def core(df: DataFrame, id: Column, text: Column,
      tauNum: Int, tauDen: Int, verify: Boolean): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be in (0, 1]: $tauNum/$tauDen")
    // the PRODUCTION (verify) path checkpoints the postings: ranked/prefix
    // AND ta/tb all read them — without materialization each subtree
    // re-runs the corpus scan + shingle + hash (~4 corpus passes at
    // 100 TB), breaking the one-codegen-pass claim above. Released after
    // the (threshold-pruned, small) result materializes, the
    // q_pmi_collocations discipline. The DIAGNOSTIC candidates path
    // (verify=false) stays lazy and un-checkpointed: its output IS the
    // un-pruned candidate mass, which must not be block-cached eagerly
    // just to be counted.
    graft.ops.Checkpoints.scoped { s =>
      val rawPostings = df.select(id.as("doc_id"),
          graft.functions.text.wordShingleHashes(text, 3).as("__sh"))
        .select(col("doc_id"), size(col("__sh")).cast("long").as("n"),
          explode(col("__sh")).as("shingle"))
      val postings = if (verify) s.checkpoint(rawPostings) else rawPostings
      // global df per shingle as a count-over-window: one shingle-keyed
      // shuffle serves both the df and the prefix equi-join below
      val wDf = Window.partitionBy(col("shingle"))
      val wDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("__df"), col("shingle"))
      val ranked = postings
        .withColumn("__df", count(lit(1)).over(wDf))
        .withColumn("__rn", row_number().over(wDoc))
      // prefix length p = n − ⌈τ·n⌉ + 1, in exact integer arithmetic
      val ceilTauN = (lit(tauNum.toLong) * col("n") + lit(tauDen.toLong - 1L))
        .divide(lit(tauDen.toLong)).cast("long")
      val prefix = ranked.filter(col("__rn") <= col("n") - ceilTauN + lit(1L))
        .select(col("doc_id"), col("n"), col("shingle"))
      val a = prefix.select(col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("shingle"))
      val b = prefix.select(col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("shingle").as("__shingle_b"))
      // candidates: shared prefix shingle + the length filter
      // τ·max ≤ min ⟺ tauNum·n_a ≤ tauDen·n_b ∧ tauNum·n_b ≤ tauDen·n_a
      val cand = a.join(b, col("shingle") === col("__shingle_b") &&
          col("doc_a") < col("doc_b") &&
          lit(tauNum.toLong) * col("n_a") <= lit(tauDen.toLong) * col("n_b") &&
          lit(tauNum.toLong) * col("n_b") <= lit(tauDen.toLong) * col("n_a"))
        .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"))
        .distinct()
      val result = if (!verify) cand.select(col("doc_a"), col("doc_b"))
      else {
        // exact intersection count restricted to the candidate set — as an
        // IN-ROW set intersection, not a postings join. The old tail joined
        // cand ⋈ A-postings ⋈ B-postings, whose intermediate is
        // candidates × set-size ROWS through a composite-key shuffle (the
        // measured scaling-wall of this family: ~290M joined rows at the
        // ×10 corpus for 2.9M candidates). Carrying each doc's (distinct)
        // shingle set as ONE array column instead moves candidates rows —
        // same bytes, 100× fewer rows — and `array_intersect` is a
        // codegen'd hash-set probe per pair, O(n_a + n_b). The sets frame
        // is doc-sized (one array per doc): AQE broadcasts it at bench
        // scale; at 100 TB it shuffle-joins on the doc key, rows still
        // ∝ candidates, never candidates × set size. Derived from the RAW
        // CORPUS deliberately, not folded off the checkpointed postings:
        // the obvious "reuse the checkpoint" refactor (groupBy(doc_id)
        // .collect_list over the exploded postings) replaces one cheap
        // shuffle-FREE codegen scan (shingle arrays materialize in the
        // scan itself) with a full postings-mass shuffle — measured 2.98s
        // → 9.51s on this family at the ×10 corpus. The checkpoint's job
        // is de-duplicating the EXPLODED-posting subtrees (ranked/prefix/
        // indexed); the array-per-doc frame was never exploded.
        val sets = df.select(id.cast("long").as("__sid"),
          graft.functions.text.wordShingleHashes(text, 3).as("__set"))
        cand
          .join(sets.select(col("__sid").as("doc_a"), col("__set").as("__set_a")),
            "doc_a")
          .join(sets.select(col("__sid").as("doc_b"), col("__set").as("__set_b")),
            "doc_b")
          .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
            size(array_intersect(col("__set_a"), col("__set_b")))
              .cast("long").as("__inter"))
          .select(col("doc_a"), col("doc_b"),
            (col("__inter").cast("double") /
              (col("n_a") + col("n_b") - col("__inter"))).as("jaccard"))
          .filter(col("jaccard") >= lit(tauNum.toDouble / tauDen))
      }
      // materialize the (threshold-pruned, small) result; the corpus-sized
      // postings are released on return — one persistent RDD survives
      if (!verify) result else s.keep(s.checkpoint(result))
    }
  }

  /** EXACT asymmetric CONTAINMENT join: every DIRECTED pair (a, b),
    * a ≠ b, with |S_a ∩ S_b| / |S_a| ≥ τ over word-3-gram shingle sets —
    * "document a is mostly contained in b". The quote/partial-copy
    * detector of the dedup family (Broder 1997 calls this resemblance's
    * asymmetric sibling): Jaccard misses a short doc embedded in a long
    * one (the union is dominated by the long side), containment is
    * exactly the measure that catches it.
    *
    * Asymmetric prefix filter: only the PROBE side (a) can be prefix-
    * pruned. Rank a's shingles by ascending global df (rarest first,
    * ties by shingle value — a deterministic total order); a indexes its
    * first p = n_a − ⌈τ·n_a⌉ + 1 shingles, the INDEXED side (b) posts
    * ALL its shingles. Completeness: for a qualifying pair let t be the
    * minimum common shingle in that total order; if t sat outside a's
    * prefix, every prefix shingle of a would sort before t and hence be
    * a-only (t is the minimum COMMON one), capping the overlap at
    * n_a − p = ⌈τ·n_a⌉ − 1 — contradiction. So t is in a's prefix AND
    * (trivially) in b's full postings, and the shingle equi-join finds
    * the pair. The only admissible length filter is one-sided:
    * overlap ≤ n_b forces tauDen·n_b ≥ tauNum·n_a; nothing bounds n_b
    * from above — b MAY be arbitrarily larger, that's the point.
    *
    * τ is rational (num/den) so prefix sizing, the length filter and the
    * acceptance threshold are all exact integer arithmetic; the reported
    * containment is the single exact-int double division |∩|/n_a.
    *
    * Plan/scale: same one-shuffle posting spine as the Jaccard join
    * (shingle-keyed exchange serves df window + equi-join), candidate
    * mass = Σ_s df(s)·|prefix postings of s| — rare-first ranking keeps
    * the probe prefixes on the LOW-df end of the index; verification
    * moves candidate ROWS with in-row `array_intersect` (never the
    * candidates × set-size posting join). Hot shingles AQE-split at
    * 100 TB like every bucketed family.
    */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
      tauNum: Int, tauDen: Int): DataFrame =
    containmentCore(df, id, text, tauNum, tauDen, verify = true)

  /** The CANDIDATE pairs the asymmetric prefix admits (verification
    * disabled) — the join-mass evidence for the scaling table, the
    * [[prefixCandidates]] twin.
    */
  private[graft] def containmentCandidates(df: DataFrame, id: Column,
      text: Column, tauNum: Int, tauDen: Int): DataFrame =
    containmentCore(df, id, text, tauNum, tauDen, verify = false)

  private def containmentCore(df: DataFrame, id: Column, text: Column,
      tauNum: Int, tauDen: Int, verify: Boolean): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"tau must be in (0, 1]: $tauNum/$tauDen")
    // same checkpoint discipline as the Jaccard core: the production path
    // materializes the postings (ranked/prefix AND the full indexed side
    // read them), the diagnostic candidates path stays lazy
    graft.ops.Checkpoints.scoped { s =>
      val rawPostings = df.select(id.as("doc_id"),
          graft.functions.text.wordShingleHashes(text, 3).as("__sh"))
        .select(col("doc_id"), size(col("__sh")).cast("long").as("n"),
          explode(col("__sh")).as("shingle"))
      val postings = if (verify) s.checkpoint(rawPostings) else rawPostings
      val wDf = Window.partitionBy(col("shingle"))
      val wDoc = Window.partitionBy(col("doc_id"))
        .orderBy(col("__df"), col("shingle"))
      val ranked = postings
        .withColumn("__df", count(lit(1)).over(wDf))
        .withColumn("__rn", row_number().over(wDoc))
      val ceilTauN = (lit(tauNum.toLong) * col("n") + lit(tauDen.toLong - 1L))
        .divide(lit(tauDen.toLong)).cast("long")
      val probe = ranked.filter(col("__rn") <= col("n") - ceilTauN + lit(1L))
        .select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("shingle"))
      val indexed = postings.select(col("doc_id").as("doc_b"),
        col("n").as("n_b"), col("shingle").as("__shingle_b"))
      val cand = probe.join(indexed,
          col("shingle") === col("__shingle_b") &&
          col("doc_a") =!= col("doc_b") &&
          lit(tauDen.toLong) * col("n_b") >= lit(tauNum.toLong) * col("n_a"))
        .select(col("doc_a"), col("doc_b"), col("n_a"))
        .distinct()
      if (!verify) cand.select(col("doc_a"), col("doc_b"))
      else {
        // raw-corpus sets, same reasoning as the Jaccard core: the shingle
        // arrays materialize shuffle-free in a codegen scan; folding them
        // off the checkpointed postings costs a postings-mass shuffle
        val sets = df.select(id.cast("long").as("__sid"),
          graft.functions.text.wordShingleHashes(text, 3).as("__set"))
        val result = cand
          .join(sets.select(col("__sid").as("doc_a"), col("__set").as("__set_a")),
            "doc_a")
          .join(sets.select(col("__sid").as("doc_b"), col("__set").as("__set_b")),
            "doc_b")
          .select(col("doc_a"), col("doc_b"), col("n_a"),
            size(array_intersect(col("__set_a"), col("__set_b")))
              .cast("long").as("__inter"))
          .filter(lit(tauDen.toLong) * col("__inter") >=
            lit(tauNum.toLong) * col("n_a"))
          .select(col("doc_a"), col("doc_b"),
            (col("__inter").cast("double") / col("n_a")).as("containment"))
        s.keep(s.checkpoint(result))
      }
    }
  }
}
