package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection over text — the three standard sketches, all as
  * declarative plans (SQL higher-order functions; no UDFs, no driver loops).
  *
  * Shared shape, which is what makes these work at 100 TB:
  *   sketch per doc (one scan) → explode to a small constant number of
  *   bucket keys → ONE shuffle on the bucket key → pairs generated only
  *   within buckets. The candidate count is controlled by the banding
  *   parameters, never O(n²). Hot buckets (boilerplate docs) are split by
  *   AQE skew handling; a production pipeline additionally drops buckets
  *   above a size cap, which only loses pairs that exact-dedup would have
  *   caught anyway.
  */
object Dedup {

  /** Exploded LSH band rows of a signature frame (doc_id, __sig):
    * one row per (doc, band) with the murmur3 `bkey` (cheap 4-byte SHUFFLE
    * key) and the band-slice values themselves (`bslice` — the residual
    * equality that makes the bucket rule EXACTLY "same band content": no
    * false merges on 2^-32 murmur collisions, which is both the textbook
    * LSH definition and what lets the DuckDB oracle replay the banding by
    * joining on slice values). Shared by the all-pairs join and the
    * incremental store, so the two paths cannot drift.
    */
  private[graft] def bandRows(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    sigs.select(col("doc_id"), col("__sig"),
        explode(expr(s"transform(sequence(0, ${bands - 1}), b -> " +
          s"struct(b AS band, hash(slice(__sig, b*$rows+1, $rows), b) AS bkey, " +
          s"slice(__sig, b*$rows+1, $rows) AS bslice))")).as("bk"))
      .select(col("doc_id"), col("__sig"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"),
        col("bk.bslice").as("bslice"))
  }

  /** Per-doc minhash sketch: exact fingerprint + k-lane signature — the
    * row an incremental dedup STORE persists per historical document.
    */
  def minhashSketch(df: DataFrame, id: Column, text: Column,
      k: Int = 32): DataFrame =
    df.select(id.as("doc_id"),
      TextAnalysis.fingerprint(text).as("fp"),
      graft.functions.text.minhashSig(
        graft.functions.text.wordShingles(text, 3), k).as("__sig"))

  /** MinHash signature + LSH banding. Returns candidate pairs with the
    * signature-estimated Jaccard (fraction of agreeing positions).
    *
    * Each shingle STRING is hashed exactly once (ONE md5 digest yields two
    * independent 64-bit lanes — the same values DuckDB's md5_number_lower/
    * upper produce, which is what makes the oracle replay exact); the k
    * per-position hash functions are the Kirsch-Mitzenmacher family
    * g_j = h1 + j*h2 mod 2^64, so building the signature is k array-mins
    * over longs — cheap arithmetic instead of k full string hashes.
    */
  def minhashLshPairs(df: DataFrame, id: Column, text: Column,
      k: Int = 32, bands: Int = 8): DataFrame = {
    val sigs = df.select(id.as("doc_id"),
      graft.functions.text.minhashSig(
        graft.functions.text.wordShingles(text, 3), k).as("__sig"))
    val buckets = bandRows(sigs, k, bands)
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.bslice") === col("b.bslice") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        // codegen'd position-agreement (the HOF zip_with/aggregate form runs
        // interpreted per element per candidate pair)
        graft.functions.text.sigAgreement(col("a.__sig"), col("b.__sig"))
          .as("est_jaccard"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
  }

  /** Incremental dedup of a NEW batch against a persisted historical
    * sketch store — the production daily shape: the expensive work (the
    * historical pair graph) is NEVER recomputed; per day the engine
    * sketches only the new batch map-side and joins it against the store.
    *
    *  - `histExact`: (fp, keep_id) — one row per distinct historical
    *    fingerprint with the canonical (min) doc id.
    *  - `histBands`: persisted [[bandRows]] of the historical corpus.
    *  - `batch`: today's [[minhashSketch]] rows.
    *
    * A batch doc is `exact_dup` when its fingerprint exists in history,
    * else `near_dup` when it shares an LSH band with a historical doc at
    * signature agreement ≥ `nearTau`, else `unique`. `match_id` is the
    * minimal matching historical doc. Batch-internal duplicates are the
    * CLASSIC dedup jobs' business (q_dedup_exact / q_minhash_neardup) —
    * this operator is deliberately new-vs-history only.
    *
    * Scale shape: both joins key on small values (16-byte fp; band+bkey
    * ints with the bslice residual). With the store bucketed by its join
    * key (sources/Datalake bucketed writer) only the NEW side — a daily
    * increment, orders of magnitude smaller than history — shuffles;
    * history streams from bucketed parquet with zero exchange. The
    * candidate count is bounded by banding exactly as in the all-pairs
    * form.
    */
  def incrementalDedup(batch: DataFrame, histExact: DataFrame,
      histBands: DataFrame, k: Int = 32, bands: Int = 8,
      nearTau: Double = 0.5): DataFrame = {
    // both store joins are shuffle_hash with the BATCH as the build side:
    // the daily increment is orders of magnitude smaller than history, so
    // per partition the hash map is tiny while the store STREAMS through
    // the probe side — and with the store bucketed on the join key, the
    // store side needs no exchange at all. The planner's default here is a
    // sort-merge join, which would SORT the full history side every run —
    // exactly the O(corpus) cost the incremental design exists to avoid.
    val exact = batch.select(col("doc_id"), col("fp")).hint("shuffle_hash")
      .join(histExact, Seq("fp"), "left")
      .select(col("doc_id"), col("keep_id").as("exact_id"))
    val near = bandRows(batch.select(col("doc_id"), col("__sig")), k, bands)
      .hint("shuffle_hash")
      .as("b")
      .join(histBands.as("h"),
        col("b.band") === col("h.band") && col("b.bkey") === col("h.bkey") &&
          col("b.bslice") === col("h.bslice"))
      .select(col("b.doc_id").as("doc_id"), col("h.doc_id").as("hist_id"),
        graft.functions.text.sigAgreement(col("b.__sig"), col("h.__sig"))
          .as("est"))
      .filter(col("est") >= nearTau)
      .groupBy(col("doc_id"))
      .agg(min(col("hist_id")).as("near_id"))
    // `exact` already carries EVERY batch doc (left join), so it drives
    // the assembly — one co-partitioned shuffle_hash join on doc_id, not
    // two sort-merge joins re-sorting batch-sized frames
    exact.join(near.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_id").isNotNull, "exact_dup")
          .when(col("near_id").isNotNull, "near_dup")
          .otherwise("unique").as("status"),
        coalesce(col("exact_id"), col("near_id")).as("match_id"))
  }

  /** 64-bit SimHash per doc: per-token md5 lane (oracle-replayable), ±1
    * vote per bit, sign → bit. Native codegen expression — one pass over
    * the tokens.
    */
  def withSimhash(df: DataFrame, text: Column): DataFrame =
    df.withColumn("simhash",
      graft.functions.text.simhash64(graft.functions.text.wordShingles(text, 1)))

  /** SimHash near-dup candidates: bucket on the four 16-bit chunks, verify
    * with exact bit_count(xor). The pigeonhole guarantee is hamming < 4
    * ONLY (fewer differing bits than chunks forces a shared chunk); pairs at
    * hamming 4..maxHamming are found iff their differing bits happen to
    * leave some chunk untouched — candidate recall degrades as hamming
    * approaches maxHamming. Bucketing more/overlapping chunks would close
    * that gap at the cost of more candidates; for near-dup detection the
    * interesting pairs sit well below hamming 4 anyway.
    */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 12): DataFrame =
    hammingPairs64(
      withSimhash(df.select(id.as("doc_id"), text.as("__text")), col("__text"))
        .select(col("doc_id"), col("simhash")),
      col("doc_id"), col("simhash"), maxHamming)

  /** Hamming-ball candidate join over ANY 64-bit fingerprint column —
    * the bucket/verify spine simhashPairs always used, factored out so
    * other 64-bit signatures (the image aHash) share it: bucket on the
    * four 16-bit chunks (pigeonhole-complete below hamming 4), verify
    * with exact bit_count(xor). One shuffle on the chunk key.
    */
  def hammingPairs64(sh: DataFrame, id: Column, hash: Column,
      maxHamming: Int): DataFrame = {
    val buckets = sh.select(id.as("doc_id"), hash.as("__h"))
      .select(col("doc_id"), col("__h"),
        explode(expr("transform(sequence(0, 3), c -> " +
          "struct(c AS chunk, CAST(shiftright(__h, c*16) & 65535 AS INT) AS ckey))")).as("bk"))
      .select(col("doc_id"), col("__h"),
        col("bk.chunk").as("chunk"), col("bk.ckey").as("ckey"))
    val a = buckets.as("a")
    val b = buckets.as("b")
    a.join(b,
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.__h ^ b.__h)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Near-dup candidates via winnowed (MOSS) fingerprints: docs sharing any
    * window-minimum k-gram hash pair up, weighted by how many they share.
    * Same inverted-index shape as the other sketches — explode the sketch
    * (O(len/w) fingerprints per doc, much sparser than full shingles), one
    * shuffle on the fingerprint, pairs within posting lists only. Robust to
    * partial overlap (any shared ≥ w+n-1 word run fires), which whole-doc
    * digests miss.
    */
  def winnowPairs(df: DataFrame, id: Column, text: Column,
      w: Int = 4, maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val postings0 = df.select(id.as("doc_id"),
        explode(graft.functions.text.winnow(text, 3, w)).as("fp"))
    // boilerplate fingerprints (templated phrases) would dominate the join
    // quadratically; cap document frequency like the ngram inverted index
    val postings =
      if (maxDocFreq == Int.MaxValue) postings0
      else {
        // same single-shuffle window cap as ngramJaccardPairs
        val win = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
        postings0.withColumn("__df", count(lit(1)).over(win))
          .filter(col("__df") <= maxDocFreq)
          .drop("__df")
      }
    val a = postings.select(col("doc_id").as("doc_a"), col("fp"))
    val b = postings.select(col("doc_id").as("doc_b"), col("fp").as("__fp_b"))
    a.join(b, col("fp") === col("__fp_b") && col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Exact-substring duplicate SPANS (the ExactSubstr operator of Lee et
    * al. 2021, "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499 — there built on a corpus suffix array): any word run
    * of ≥ `w` words that occurs more than once in the corpus is flagged at
    * every occurrence except the canonical first, and flagged occurrences
    * are merged into per-doc removable spans. Unlike the pair-level
    * sketches above, the output is WHAT TO CUT — (doc, span) rows — not
    * who-matches-whom.
    *
    * Spark-first shape replacing the suffix array: the positioned window
    * hash table. One scan emits (doc, pos, h) for every word `w`-gram
    * (ordered md5-lane hashes — one codegen pass, longs through the
    * explode); ONE hash-partitioned window computes each window-hash's
    * occurrence count and minimal occurrence; every non-canonical
    * occurrence of a repeated hash is a flagged position; a per-doc
    * gaps-and-islands pass merges overlapping/adjacent fixed-width
    * [pos, pos+w-1] intervals into spans. Work is Θ(total words) rows
    * through two shuffles (hash key, then doc key) — no quadratic pair
    * stage at all, because identity, not similarity, is the predicate.
    * Self-repetition inside one doc is caught by the same rule (its later
    * occurrences are non-canonical). Boilerplate-heavy window hashes make
    * hot keys, but the per-key work is a count+min (linear, no pair join),
    * so skew costs sort time, not blowup.
    *
    * Docs shorter than `w` words are excluded: their whole-text collapse
    * shingle is exact-dup territory (q_dedup_exact), not substring spans.
    * Canonical occurrence = min (doc_id, pos), packed as
    * doc_id·2^20 + pos — positions must fit 20 bits (docs under ~1M words;
    * violated rows fail loudly rather than mis-rank).
    */
  def exactSubstringSpans(df: DataFrame, id: Column, text: Column,
      w: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nWords = size(split(trim(lower(text)), "\\s+", -1))
    val posts = df.filter(nWords >= w)
      .select(id.as("doc_id"),
        posexplode(graft.functions.text.wordShingleLanes(text, w))
          .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("h"))
    // both components are guarded loudly: pos must fit its 20 bits, and
    // doc_id must fit the remaining 43 (and be non-negative) or the packed
    // long would silently wrap and mis-rank the canonical occurrence
    val packed =
      when(col("doc_id").between(0L, (1L << 43) - 1), col("doc_id"))
        .otherwise(raise_error(concat(
          lit("exactSubstringSpans: doc_id outside [0, 2^43): "),
          // a null id takes this branch too — coalesce so the error
          // message itself cannot be null
          coalesce(col("doc_id").cast("string"), lit("NULL"))))) * lit(1048576L) +
      when(col("pos") < 1048576L, col("pos"))
        .otherwise(raise_error(concat(lit("exactSubstringSpans: pos overflows 20 bits in doc "),
          col("doc_id").cast("string"))))
    // count + canonical-min over ONE hash-partitioned window (single
    // shuffle; both aggregates share the unbounded frame)
    val byHash = Window.partitionBy(col("h"))
    val flagged = posts
      .withColumn("__packed", packed)
      .withColumn("__cnt", count(lit(1)).over(byHash))
      .withColumn("__keeper", min(col("__packed")).over(byHash))
      .filter(col("__cnt") >= 2 && col("__packed") =!= col("__keeper"))
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands: a new span starts when the gap to the previous
    // flagged position exceeds w (pos - lag > w ⇒ the fixed-width windows
    // neither overlap nor touch); island id = running sum of breaks
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= w, lit(0))
          .otherwise(lit(1)))
      .withColumn("__island", sum(col("__brk")).over(run))
      .groupBy(col("doc_id"), col("__island"))
      .agg(
        min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(w - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_words"),
        col("n_windows"))
  }

  /** Exact word-3gram Jaccard via an inverted-index self-join: explode each
    * doc's distinct shingles to (shingle, doc, |S_doc|) postings, equi-join
    * on the shingle, and count shared shingles per pair — the intersection
    * falls out of a groupBy and the union is |A| + |B| − |A∩B|, so there are
    * no per-pair array ops at all.
    *
    * Why this shape at 100 TB: work is proportional to Σ_s df(s)², spread
    * across millions of shingle keys (one well-balanced shuffle), instead of
    * a per-length-bucket cross product whose parallelism is capped by the
    * handful of buckets. `maxDocFreq` drops boilerplate shingles whose
    * posting lists would otherwise dominate the join (standard prefix-filter
    * tradeoff: pairs sharing ONLY capped shingles are lost).
    */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
      minJaccard: Double, maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // 64-bit hashed shingles: identity-only join keys, 8 bytes instead of a
    // ~20-char string through the explode/shuffle/broadcast
    val postings0 = df.select(id.as("doc_id"),
        graft.functions.text.wordShingleHashes(text, 3).as("__sh"))
      .select(col("doc_id"), size(col("__sh")).as("n"),
        explode(col("__sh")).as("shingle"))
    val postings =
      if (maxDocFreq == Int.MaxValue) postings0
      else {
        // df-cap as a count-over-window on the shingle key: ONE shuffle
        // (which the downstream equi-join needs anyway — exchange reuse),
        // no second pass over the shingling, no join-back
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
        postings0.withColumn("__df", count(lit(1)).over(w))
          .filter(col("__df") <= maxDocFreq)
          .drop("__df")
      }
    val a = postings.select(col("doc_id").as("doc_a"), col("shingle"),
      col("n").as("n_a"))
    val b = postings.select(col("doc_id").as("doc_b"),
      col("shingle").as("__shingle_b"), col("n").as("n_b"))
    a.join(b, col("shingle") === col("__shingle_b") &&
        col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "n_a", "n_b")
      .agg(count(lit(1)).as("__inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("__inter").cast("double") /
          (col("n_a") + col("n_b") - col("__inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }
}
