package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.ops.TextAnalysis._

/** Text-analysis queries over the `documents` table — the LLM-pipeline
  * additions from SURVEY.md §2. All are single-scan projections or one
  * groupBy; no UDFs, no collects.
  */
object TextQueries {

  /** Language ID: per-language stopword scores + argmax prediction. */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
        col("doc_id"),
        col("lang").as("labeled_lang"),
        langScore(col("text"), "en").as("score_en"),
        langScore(col("text"), "fr").as("score_fr"),
        langScore(col("text"), "de").as("score_de"),
        langScore(col("text"), "es").as("score_es"),
        langPredict(col("text")).as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  /** Quality features + composite score per document. */
  def qQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val base = d.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_txt"),
      wsTokenCount(col("text")).as("n_words"),
      punctCount(col("text")).as("n_punct"),
      langScore(col("text"), "en").as("n_stop"))
    base.select(
        col("doc_id"), col("n_chars_txt"), col("n_words"), col("n_punct"),
        (col("n_punct").cast("double") / col("n_chars_txt")).as("punct_ratio"),
        (col("n_stop").cast("double") / col("n_words")).as("stop_ratio"),
        qualityScore(col("n_words"),
          col("n_punct").cast("double") / col("n_chars_txt"),
          col("n_stop").cast("double") / col("n_words")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace words vs BPE-ish subword units. */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars_txt"),
        wsTokenCount(col("text")).as("ws_tokens"),
        bpeTokenCount(col("text")).as("bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF keyword extraction: top-5 terms per document (tf·N/df — see
    * TextAnalysis.tfidfKeywords for why the idf is rational, not ln).
    */
  def qTfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TextAnalysis.tfidfKeywords(
        Tables.documents(spark, dir), col("doc_id"), col("text"), k = 5)
      .orderBy(col("doc_id"), col("rank"))

  /** The fixed BM25 query set — one source of truth for the Spark query
    * AND the generated oracle VALUES (SparkEntry.bm25Oracle). Terms come
    * from the synthetic corpus vocabulary so every query matches.
    */
  val bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "spark", 0L -> "fast", 0L -> "query",
    1L -> "customer", 1L -> "order", 1L -> "join",
    2L -> "window", 2L -> "agg", 2L -> "stream",
    3L -> "vector", 3L -> "hash", 3L -> "table")

  /** BM25 top-10 per query over documents — the in-engine form of the
    * reference's Elasticsearch ranking (ops.Retrieval for the plan shape
    * and the fixed-point determinism contract).
    */
  def qBm25Search(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = bm25Queries.toDF("query_id", "term")
    graft.ops.Retrieval.bm25TopK(
        Tables.documents(spark, dir), col("doc_id"), col("text"), q, k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** HYBRID retrieval with reciprocal-rank fusion (round 11 — the
    * standard RAG serving pattern: lexical and vector rankers disagree
    * usefully, and RRF (Cormack et al. 2009, k₀=60) fuses them on RANKS
    * alone, so no score calibration is needed between BM25 logs and
    * cosine): the first 5 documents act as "more-like-this" queries —
    * the lexical leg is BM25 with each query doc's distinct unigrams as
    * the query (top-20), the vector leg is exact cosine kNN over the
    * embedding column (top-20), and the fused score is
    * 1/(60+lex_rank) + 1/(60+vec_rank) with absent legs contributing 0.
    *
    * Determinism: both legs' ranks are already oracle-exact machinery;
    * the fusion is two IEEE divides + one fixed-order add per row —
    * bit-identical in DuckDB — and ties break on doc_id. The lexical
    * ranks keep the self-doc's slot (bm25TopK ranks all docs, self
    * filtered after), mirrored by the oracle.
    *
    * Scale: each leg is its own bounded top-k (broadcast query set, heap
    * aggregates); the fusion joins two ≤ 20-row-per-query lists — a
    * window over ≤ 40 fused rows per query, negligible at any corpus
    * size because the INPUTS are already rank-truncated. At 100 TB the
    * legs run against their serving indexes (inverted / IVF) with this
    * same fusion tail.
    */
  def qHybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    // checkpoint the tiny corpus-derived query set: it feeds TWO
    // broadcasts inside the BM25 serve (the semi-restricting term set and
    // the scoring join) and each would otherwise re-derive this scan
    val queryTerms = graft.ops.Checkpoints.checkpoint(
      docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          explode(graft.functions.text.wordShingles(col("text"), 1)).as("term"))
        .filter(col("term") =!= "")
        .distinct())
    val lex = graft.ops.Retrieval.bm25TopK(docs, col("doc_id"), col("text"),
        queryTerms, k = 20)
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("lex_rank"))
    val embs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val qv = embs.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("emb").as("q_emb"))
    val vec = graft.ops.Similarity.knnBruteForceTopK(embs, qv, 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    // full-outer can't broadcast; without the hint it falls to
    // SortMergeJoin (the q_table_diff discipline — registry plans stay
    // SMJ-free; both sides are ≤20-row-per-query rank lists anyway)
    val fused = lex.join(vec.hint("shuffle_hash"),
      Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60.0) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("vec_rank")), lit(0.0)))
          .as("rrf"),
        col("lex_rank"), col("vec_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** BM25 served from a PUBLISHED, INCREMENTALLY-BUILT inverted index
    * (round 11 — the reference's actual indexing shape: index_to_es.py
    * ships documents to Elasticsearch in incremental batches and QUERIES
    * hit the stored index, never the raw text): the expensive build (the
    * one wide (term, doc) shuffle) runs per increment — version 1 indexes
    * the 4-in-5 history slice, version 2 appends the day's delta postings
    * (doc slices are disjoint, so the per-(term, doc) merge is a pure
    * union) — and each lands as an atomic manifest version with doc
    * stats alongside. Serving reads the manifest-current postings,
    * restricts to the query terms map-side, and reuses the EXACT scoring
    * tail of q_bm25_search (ops.Retrieval.bm25Serve — stored tf/dl are
    * the same integers the from-text path derives, df/N/Σdl recompute
    * from the store), so the oracle is q_bm25_search's VERBATIM: a lost
    * delta row, a stale manifest, or any build/serve drift hash-fails.
    *
    * Scale: this is the retrieval answer at 100 TB — pay the corpus
    * tokenization + shuffle ONCE per increment at index time (bucketed
    * by term in a real deployment so the serve's term restriction
    * becomes a pruned scan), then serve any number of query batches from
    * the compact store without touching raw text.
    */
  /** The inverted-index build both store-serving rows share: the ONE
    * wide (term, doc) shuffle, producing the stored postings an index
    * serve reads instead of raw text. */
  private def indexPostings(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        graft.ops.TextAnalysis.wsTokenCount(col("text")).cast("long")
          .as("dl"),
        explode(graft.functions.text.wordShingles(col("text"), 1))
          .as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))

  private def indexStats(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      graft.ops.TextAnalysis.wsTokenCount(col("text")).cast("long")
        .as("dl"))

  def qIndexServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.Datalake
    val docs = Tables.documents(spark, dir)
    def postings(d: org.apache.spark.sql.DataFrame) = indexPostings(d)
    def stats(d: org.apache.spark.sql.DataFrame) = indexStats(d)
    val root = graft.queries.DatalakeQueries.tempLakeRoot() + "/bm25_index"
    val hist = docs.filter(col("doc_id") % 5 =!= 4)
    val delta = docs.filter(col("doc_id") % 5 === 4)
    Datalake.publish(postings(hist), s"$root/postings", "1")
    Datalake.publish(stats(hist), s"$root/docstats", "1")
    // incremental maintenance: v2 = stored v1 ∪ the delta's increment —
    // the index build only ever tokenizes NEW documents
    Datalake.publish(
      Datalake.readVersion(spark, s"$root/postings", "1")
        .unionByName(postings(delta)), s"$root/postings", "2")
    Datalake.publish(
      Datalake.readVersion(spark, s"$root/docstats", "1")
        .unionByName(stats(delta)), s"$root/docstats", "2")
    val q = bm25Queries.toDF("query_id", "term")
    graft.ops.Retrieval.bm25TopKFromIndex(
        Datalake.readPublished(spark, s"$root/postings"),
        Datalake.readPublished(spark, s"$root/docstats"), q, k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** HYBRID RETRIEVAL OVER THE SERVED INDEXES (round 18 — r17 verdict
    * #7: q_hybrid_search ran its lexical leg from raw text and its
    * vector leg by exact kNN, while the engine already owns a published
    * BM25 store and a published IVF store — composing them IS the RAG
    * serving path at 100 TB): the lexical leg is bm25TopKFromIndex over
    * a PUBLISHED postings/docstats pair (built once, the q_index_serve
    * shape), the vector leg is the IVF probe (trained centroids, probed
    * cells only) over a PUBLISHED embedding store, and the tail is the
    * identical RRF fusion — 1/(60+lex_rank) + 1/(60+vec_rank), ties on
    * doc_id. The oracle replays BOTH store serves from scratch (the
    * bm25 CTE chain + the centroid-inlined assignment→probe→top-k) and
    * fuses them, so a store that drifts from its build input, a probe
    * that misses a cell, or any fusion drift hash-fails. Round18Spec
    * additionally pins served == the from-scratch composition in-engine.
    *
    * Scale: neither leg touches raw text/embeddings at query time
    * beyond the probed cells; the fusion input is two ≤ 20-row-per-query
    * rank lists. This is the serve-side twin of q_hybrid_search —
    * that row remains the build-side/exact reference.
    */
  def qHybridServe(spark: SparkSession, dir: String,
      cents: Array[Array[Float]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.sources.Datalake
    val docs = Tables.documents(spark, dir)
    val root = graft.queries.DatalakeQueries.tempLakeRoot() + "/hybrid_serve"
    // same checkpointed more-like-this query set as q_hybrid_search
    val queryTerms = graft.ops.Checkpoints.checkpoint(
      docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          explode(graft.functions.text.wordShingles(col("text"), 1)).as("term"))
        .filter(col("term") =!= "")
        .distinct())
    // the two serving stores — each one atomic publish, read back
    // through its manifest (a real deployment builds these hourly/daily)
    Datalake.publish(indexPostings(docs), s"$root/postings", "1")
    Datalake.publish(indexStats(docs), s"$root/docstats", "1")
    val emb = SimilarityQueries.corpus(spark, dir)
    Datalake.publish(emb, s"$root/ivf", "1")
    val lex = graft.ops.Retrieval.bm25TopKFromIndex(
        Datalake.readPublished(spark, s"$root/postings"),
        Datalake.readPublished(spark, s"$root/docstats"), queryTerms, k = 20)
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        col("rank").cast("long").as("lex_rank"))
    val qv = emb.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("emb").as("q_emb"))
    val vec = graft.ops.Similarity.ivfFlatKnnWith(
        Datalake.readPublished(spark, s"$root/ivf"), qv, cents,
        k = 20, nProbe = SimilarityQueries.IvfNProbe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    // the q_hybrid_search fusion tail verbatim (shuffle_hash: full-outer
    // of two rank-truncated lists — SMJ-free, never data-sized)
    val fused = lex.join(vec.hint("shuffle_hash"),
      Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(60.0) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("vec_rank")), lit(0.0)))
          .as("rrf"),
        col("lex_rank"), col("vec_rank"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
        col("lex_rank"), col("vec_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Bigram-LM quality scoring: every 10th doc trains the reference LM,
    * all docs scored by cross-entropy under it (ops.LanguageModel — the
    * in-engine KenLM-filter shape). tau = 6 nats ≈ perplexity 400.
    */
  def qLmScore(spark: SparkSession, dir: String): DataFrame =
    graft.ops.LanguageModel.bigramCrossEntropy(
        Tables.documents(spark, dir), col("doc_id"), col("text"),
        isRef = col("doc_id") % 10 === 0, tau = 6.0)
      .orderBy(col("doc_id"))

  private val bpeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  /** The 64 BPE merges trained on every-5th doc's word counts, memoized
    * per sfDir — the merges are a pure function of the data. SparkEntry
    * hands them to [[qBpeTokenize]] and inlines the same value into the
    * generated DuckDB replay.
    */
  private[graft] def bpeModelFor(spark: SparkSession,
      dir: String): Seq[(String, String)] =
    bpeMemo.computeIfAbsent(dir, _ =>
      graft.ops.Bpe.trainOnSlice(Tables.documents(spark, dir), col("doc_id"),
        col("text"), isTrain = col("doc_id") % 5 === 0, nMerges = 64))

  /** BPE subword tokenizer: tokenize the whole corpus dictionary-encoded
    * with `merges` (ops.Bpe).
    */
  def qBpeTokenize(spark: SparkSession, dir: String,
      merges: Seq[(String, String)]): DataFrame =
    graft.ops.Bpe.tokenizeStats(Tables.documents(spark, dir), col("doc_id"),
        col("text"), merges)
      .orderBy(col("doc_id"))

  /** Document fingerprinting: portable md5 of the normal form. */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"),
        col("source"))
      .orderBy(col("doc_id"))
  }

  /** Exact dedup: group identical normal forms, keep the smallest id.
    * One shuffle on the fingerprint — the canonical 100 TB exact-dedup plan
    * (hash-partition by digest, keep one per group).
    */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("fp"))
  }

  /** The end-to-end corpus-cleaning funnel: language filter → quality
    * filter → exact dedup (keep smallest id per normal-form fingerprint) —
    * the composition every training-data pipeline runs, as ONE declarative
    * plan: a scan-side projection computes all signals in a single pass,
    * one shuffle for the dedup group, one broadcast-able semi join back.
    */
  def qCorpusFunnel(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val scored = d.select(
      col("doc_id"),
      langPredict(col("text")).as("pred_lang"),
      qualityScore(wsTokenCount(col("text")),
        punctCount(col("text")).cast("double") / length(col("text")),
        langScore(col("text"), "en").cast("double") / wsTokenCount(col("text")))
        .as("quality"),
      fingerprint(col("text")).as("fp"))
    val kept = scored.filter(col("pred_lang") === "en" && col("quality") >= 0.5)
    val keepers = kept.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
    kept.join(keepers, Seq("fp", "doc_id"))
      .select(col("doc_id"), col("fp"), col("pred_lang"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing: contiguous-fill documents into 2048-token budgets
    * (whitespace tokens), then per-pack stats. See ops.Packing for the
    * shard-parallel 100 TB form.
    */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), wsTokenCount(col("text")).as("tokens"))
    graft.ops.Packing.packSequences(d, col("tokens"), col("doc_id"), 2048L)
      .groupBy(col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("pack_id"))
  }

  /** Frame fan-out as a first-class query: one media row (payload bytes)
    * becomes every-2nd-64-byte-frame rows via ops.Multimodal.sampleFrames —
    * mapPartitions fan-out, no shuffle, no driver. This is the
    * container-AGNOSTIC fixed-record slicer (raw video, PCM); the real
    * container demux + codec path is q_video_frames (MJPEG marker scan +
    * JDK JPEG decode). The oracle replays the slicing in SQL.
    */
  def qMultimodalFrames(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.sampleFrames(
        graft.ops.Multimodal.withPayload(Tables.documents(spark, dir), "text"),
        "doc_id", everyN = 2, frameBytes = 64)
      // frames stay raw bytes internally; the emitted column is their hex
      // encoding (driver's checker cannot sort/hash binary)
      .select(col("media_id"), col("frame_idx"), hex(col("frame")).as("frame"))
      .orderBy(col("media_id"), col("frame_idx"))

  /** Count-Min heavy hitters: the CMS built over every token occurrence
    * (fixed d×w state, see ops.Sketches), point-queried at the top-20
    * exact heavy hitters so the one-sided error is visible as an
    * `overcount` column. Exact side exists for the comparison; the sketch
    * is the scale artifact (estimate any token's frequency from ≤ 4096
    * counters, no vocabulary state).
    */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Sketches
    val toks = Tables.documents(spark, dir)
      .select(explode(graft.functions.text.wordShingles(col("text"), 1))
        .as("t"))
    // ONE corpus scan: the exact per-token counts feed the top-20 exact
    // side AND (by CMS linearity, cmsBuildWeighted) the sketch counters —
    // the occurrence-stream build would re-scan the corpus for the same
    // cells. The vocab-sized count table is checkpointed and released
    // after the 20-row result materializes.
    val counts = graft.ops.Checkpoints.checkpoint(
      toks.groupBy(col("t")).agg(count(lit(1)).as("exact_cnt")))
    val cms = Sketches.cmsBuildWeighted(counts, col("t"), col("exact_cnt"),
      width = 1024)
    val res = heavyHittersResult(counts, cms)
    graft.ops.Checkpoints.release(counts)
    res
  }

  /** Shared tail of the heavy-hitters rows: exact top-20 from the
    * checkpointed per-token `counts` joined with each token's estimate
    * from `cms` — which may be the batch-built sketch (qHeavyHitters) or
    * the cell-wise-summed streaming store (qStreamHeavyHitters); CMS
    * linearity makes both the SAME counters, so the result is identical.
    */
  private[graft] def heavyHittersResult(counts: DataFrame,
      cms: DataFrame): DataFrame = {
    import graft.ops.Sketches
    // the top-20 appears TWICE in the result plan (join left side + the
    // estimate's query set) and Spark has no cross-subtree reuse —
    // checkpoint the 20 rows so the vocab-wide TakeOrdered runs once
    val exact = graft.ops.Checkpoints.checkpoint(counts
      .orderBy(col("exact_cnt").desc, col("t"))
      .limit(20))
    val res = graft.ops.Checkpoints.checkpoint(exact
      .join(Sketches.cmsEstimate(cms, exact.select(col("t")), col("t"),
        width = 1024).withColumnRenamed("item", "t"), Seq("t"))
      .select(col("t").as("token"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("exact_cnt").desc, col("token")))
    graft.ops.Checkpoints.release(exact)
    res
  }

  /** In-engine trained multinomial Naive Bayes language classifier
    * (ops.LanguageModel.naiveBayes): trained on the every-10th-doc slice
    * with the `lang` column as labels, every document classified, argmax
    * deterministic via the snapped-ln score grid. The `is_correct` column
    * makes train-set leakage visible: ref docs score near-perfectly,
    * held-out docs show the model's real accuracy.
    */
  def qNbClassifier(spark: SparkSession, dir: String): DataFrame =
    graft.ops.LanguageModel.naiveBayes(Tables.documents(spark, dir),
        col("doc_id"), col("text"), col("lang"), col("doc_id") % 10 === 0)
      .orderBy(col("doc_id"))

  /** REAL image decode (round-8): every document's bytes become an
    * actual grayscale PNG, decoded back through the JDK's PNG codec
    * (javax.imageio), emitting the decoded pixel statistics. PNG is
    * lossless, so the stats replay arithmetically from the bytes in the
    * DuckDB oracle — a real codec in the loop, hash-checked every round
    * (ops.Multimodal.pngRoundTripStats for the full argument). Replaces
    * the round-2 `fake_brightness` stub.
    */
  def qMultimodalFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.pngRoundTripStats(
        graft.ops.Multimodal.withPayload(Tables.documents(spark, dir), "text"),
        "doc_id")
      .withColumnRenamed("media_id", "doc_id")
      .orderBy(col("doc_id"))

  /** REAL video demux + decode (round 9 — closes the last stub): each
    * document's payload becomes a true MJPEG stream, demuxed back into
    * frames by SOI/EOI marker scan, every 2nd frame decoded through the
    * JDK JPEG codec (ops.Multimodal.mjpegFrameStats for the full
    * argument). The hash-checked columns are the decode-derived frame
    * geometry (any demux/codec defect changes them or the row count) and
    * the source-slice brightness; the decoded brightness itself is lossy
    * (JPEG) and therefore spec-pinned, not oracle-hashed — dropped here.
    */
  /** REAL audio decode (round 9): every document's bytes become a true
    * 8-bit mono PCM WAV, parsed back through javax.sound's codec
    * (ops.Multimodal.wavRoundTripStats). PCM is lossless, so the decoded
    * sample statistics replay arithmetically from the bytes in the
    * DuckDB oracle — n_samples and sample_rate are the DECODER's view of
    * the container, so a header/width/rate parse defect hash-fails.
    */
  /** REAL image resize (round 10 — retires the last stub): payload →
    * real grayscale PNG → JDK decode → area-mean ÷2 resize → PNG
    * re-encode → JDK decode again → thumbnail pixel stats
    * (ops.Multimodal.thumbnailStats / resizeImage for the full
    * argument). Every stage is exact integer arithmetic on the bytes,
    * so the DuckDB oracle replays the thumbnail stats from the blob and
    * a defect anywhere in the two codec round-trips or the resize
    * kernel (edge clipping included — odd-height images exercise the
    * clipped 2×1 bottom blocks) hash-fails at the driver.
    */
  def qImageThumbnail(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.thumbnailStats(
        graft.ops.Multimodal.withPayload(Tables.documents(spark, dir), "text"),
        "doc_id")
      .withColumnRenamed("media_id", "doc_id")
      .orderBy(col("doc_id"))

  def qAudioFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.wavRoundTripStats(
        graft.ops.Multimodal.withPayload(Tables.documents(spark, dir), "text"),
        "doc_id")
      .withColumnRenamed("media_id", "doc_id")
      .orderBy(col("doc_id"))

  /** IMAGE near-dup pairs by perceptual hash (round 11 — the image-dedup
    * shape of every multimodal training pipeline): each document's
    * payload round-trips through a REAL PNG encode → JDK decode, the
    * decoded raster yields a 64-bit average hash
    * (ops.Multimodal.pngAHash64 — 8×8 center-sample downsample, bit =
    * sample ≥ mean in exact integers), and pairs come from the SHARED
    * hamming-ball bucket join (Dedup.hammingPairs64 — the simhash
    * spine over a different signature). Identical payloads land at
    * hamming 0. Recall contract is the banding's, stated honestly (the
    * simhashPairs doc): the four 16-bit chunks are pigeonhole-COMPLETE
    * only below hamming 4; pairs at 4..8 surface iff their flipped bits
    * leave some chunk untouched — the interesting visual dups sit well
    * below 4 anyway, and hamming-0 exact copies always bucket together.
    * Exact-oracled: DuckDB replays pixel sampling from the raw bytes
    * (pad-0, the q_image_thumbnail byte-arithmetic discipline), the
    * threshold rule v·64 ≥ Σv, the same four bucket keys and the
    * bit-list hamming — the hash proves the codec round-trip and
    * cross-engine CONSISTENCY of the banding (both engines admit the
    * same candidate set), not completeness beyond the pigeonhole radius.
    * Scale: decode is a linear shuffle-free scan; the pair stage is
    * bucketed, never all-pairs.
    */
  def qImagePhash(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.hammingPairs64(
        graft.ops.Multimodal.pngAHash64(
          graft.ops.Multimodal.withPayload(Tables.documents(spark, dir),
            "text"), "doc_id"),
        col("doc_id"), col("ahash"), maxHamming = 8)
      .orderBy(col("doc_a"), col("doc_b"))

  def qVideoFrames(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.mjpegFrameStats(
        graft.ops.Multimodal.withPayload(Tables.documents(spark, dir), "text"),
        "doc_id", width = 16, frameBytes = 64, everyN = 2)
      .select(col("media_id"), col("frame_idx"), col("frame_w"),
        col("frame_h"), col("n_src_bytes"), col("mean_src_px"))
      .orderBy(col("media_id"), col("frame_idx"))

  /** PMI collocations (round 8): top-100 word pairs by pointwise mutual
    * information over adjacent bigrams — the classic collocation-mining
    * pass of corpus construction (phrase detection à la word2vec's phrase
    * pass). Self-contained convention: marginals are the bigram table's
    * own left/right totals, so ONE codegen shingling scan feeds
    * everything and the whole computation after it runs on the tiny
    * (distinct-bigram)-sized table. PMI's ln is snapped to the 2^-16 grid
    * (the q_lm_score discipline) so the score is reduction-order-exact
    * and the driver hash-checks it; min support n_xy ≥ 5 kills the
    * noise floor, (pmi DESC, w1, w2) is a total order.
    *
    * Scale: corpus scan → (w1,w2) groupBy is the only corpus-sized
    * exchange; marginals and the 1-row total are aggregates OF the
    * transition table (vocab-sized), and the top-100 is a TakeOrdered,
    * never a global sort.
    */
  def qPmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(explode(graft.functions.text.wordShingles(col("text"), 2)).as("g"))
      // wordShingles(_, 2) emits the whole (single-word) text for <2-word
      // docs — a true bigram always has exactly one space
      .filter(col("g").contains(" "))
      .select(substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))
    // checkpoint the bigram table: marginals, the 1-row total, AND the main
    // join all read it — without materialization each subtree re-runs the
    // corpus scan + shingle + shuffle (4 corpus passes at 100 TB)
    val cxy = graft.ops.Checkpoints.checkpoint(
      bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_xy")))
    val cl = cxy.groupBy(col("w1")).agg(sum(col("n_xy")).as("n_left"))
    val cr = cxy.groupBy(col("w2")).agg(sum(col("n_xy")).as("n_right"))
    val total = cxy.agg(sum(col("n_xy")).as("total"))
    val res = graft.ops.Checkpoints.checkpoint(
      cxy.filter(col("n_xy") >= 5)
        .join(cl, Seq("w1"))
        .join(cr, Seq("w2"))
        .crossJoin(broadcast(total))
        .select(col("w1"), col("w2"), col("n_xy"),
          (floor(log(
            (col("n_xy").cast("double") * col("total").cast("double")) /
              (col("n_left").cast("double") * col("n_right").cast("double")))
            * lit(65536.0)) / lit(65536.0)).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(100))
    // the ≤100-row result is materialized — release the working bigram
    // table now (the q_heavy_hitters discipline: one persistent RDD per
    // invocation, the result)
    graft.ops.Checkpoints.release(cxy)
    res
  }

  /** Per-source token entropy (round 8): Shannon entropy of each source's
    * unigram distribution, with token and vocabulary totals — the corpus
    * diversity dashboard of a training-data mix (a low-entropy source is
    * boilerplate; the source-mix allocator wants to know). Each term
    * p·ln p is snapped to the 2^-16 grid BEFORE the sum, so the per-source
    * entropy is a sum of exact dyadics — reduction-order-free at any
    * parallelism (the q_lm_score argument) — and p itself is exact-int ÷
    * exact-int. One codegen shingling scan; everything after runs on the
    * (source × vocab)-sized count table; state per group is one running
    * double.
    */
  def qSourceEntropy(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"),
        explode(graft.functions.text.wordShingles(col("text"), 1)).as("t"))
    val counts = toks.groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("vocab_size"))
    val p = col("c").cast("double") / col("n_tokens").cast("double")
    counts.join(totals, Seq("source"))
      .select(col("source"), col("n_tokens"), col("vocab_size"),
        (floor((p * log(p)) * lit(65536.0)) / lit(65536.0)).as("term"))
      .groupBy(col("source"), col("n_tokens"), col("vocab_size"))
      .agg((-sum(col("term"))).as("entropy"))
      .orderBy(col("source"))
  }
}
