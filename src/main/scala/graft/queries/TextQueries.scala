package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{PerDir, QueryDef}
import graft.QueryDef.{fixed, trained}
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
    * AND the generated oracle VALUES ([[bm25Oracle]]). Terms come
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
    graft.ops.Checkpoints.scoped { s =>
      val docs = Tables.documents(spark, dir)
      val queryTerms = moreLikeThisTerms(s, docs)
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
  }

  /** The more-like-this query set of the two hybrid rows: the terms of
    * docs 0-4, checkpointed and kept in `s`. It feeds TWO broadcasts
    * inside the BM25 serve (the semi-restricting term set and the scoring
    * join), each of which would otherwise re-derive this scan.
    */
  private def moreLikeThisTerms(s: graft.ops.Checkpoints.Scope,
      docs: DataFrame): DataFrame =
    s.keep(s.checkpoint(
      docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          explode(graft.functions.text.wordShingles(col("text"), 1)).as("term"))
        .filter(col("term") =!= "")
        .distinct()))

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
    graft.ops.Checkpoints.scoped { s =>
      val docs = Tables.documents(spark, dir)
      val root = graft.queries.DatalakeQueries.tempLakeRoot() + "/hybrid_serve"
      val queryTerms = moreLikeThisTerms(s, docs)
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

  /** The 64 BPE merges trained on every-5th doc's word counts. The
    * q_bpe_tokenize row hands them to [[qBpeTokenize]] and inlines the
    * same value into the generated DuckDB replay.
    */
  private[graft] val bpeModelFor = PerDir { (spark, dir) =>
    graft.ops.Bpe.trainOnSlice(Tables.documents(spark, dir), col("doc_id"),
      col("text"), isTrain = col("doc_id") % 5 === 0, nMerges = 64)
  }

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
    graft.ops.Checkpoints.scoped { s =>
      val counts = s.checkpoint(
        toks.groupBy(col("t")).agg(count(lit(1)).as("exact_cnt")))
      val cms = Sketches.cmsBuildWeighted(counts, col("t"), col("exact_cnt"),
        width = 1024)
      heavyHittersResult(s, counts, cms)
    }
  }

  /** Shared tail of the heavy-hitters rows: exact top-20 from the
    * checkpointed per-token `counts` joined with each token's estimate
    * from `cms` — which may be the batch-built sketch (qHeavyHitters) or
    * the cell-wise-summed streaming store (qStreamHeavyHitters); CMS
    * linearity makes both the SAME counters, so the result is identical.
    * The result is a checkpoint kept in `s`; its working tables are not.
    */
  private[graft] def heavyHittersResult(s: graft.ops.Checkpoints.Scope,
      counts: DataFrame, cms: DataFrame): DataFrame = {
    import graft.ops.Sketches
    // the top-20 appears TWICE in the result plan (join left side + the
    // estimate's query set) and Spark has no cross-subtree reuse —
    // checkpoint the 20 rows so the vocab-wide TakeOrdered runs once
    val exact = s.checkpoint(counts
      .orderBy(col("exact_cnt").desc, col("t"))
      .limit(20))
    s.keep(s.checkpoint(exact
      .join(Sketches.cmsEstimate(cms, exact.select(col("t")), col("t"),
        width = 1024).withColumnRenamed("item", "t"), Seq("t"))
      .select(col("t").as("token"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("exact_cnt").desc, col("token"))))
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

  /** REAL audio decode (round 9): every document's bytes become a true
    * 8-bit mono PCM WAV, parsed back through javax.sound's codec
    * (ops.Multimodal.wavRoundTripStats). PCM is lossless, so the decoded
    * sample statistics replay arithmetically from the bytes in the
    * DuckDB oracle — n_samples and sample_rate are the DECODER's view of
    * the container, so a header/width/rate parse defect hash-fails.
    */
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

  /** REAL video demux + decode (round 9 — closes the last stub): each
    * document's payload becomes a true MJPEG stream, demuxed back into
    * frames by SOI/EOI marker scan, every 2nd frame decoded through the
    * JDK JPEG codec (ops.Multimodal.mjpegFrameStats for the full
    * argument). The hash-checked columns are the decode-derived frame
    * geometry (any demux/codec defect changes them or the row count) and
    * the source-slice brightness; the decoded brightness itself is lossy
    * (JPEG) and therefore spec-pinned, not oracle-hashed — dropped here.
    */
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
    // the ≤100-row result is checkpointed, so the working bigram table is
    // released on return: one persistent RDD per invocation, the result
    graft.ops.Checkpoints.scoped { s =>
      val cxy = s.checkpoint(
        bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_xy")))
      val cl = cxy.groupBy(col("w1")).agg(sum(col("n_xy")).as("n_left"))
      val cr = cxy.groupBy(col("w2")).agg(sum(col("n_xy")).as("n_right"))
      val total = cxy.agg(sum(col("n_xy")).as("total"))
      s.keep(s.checkpoint(
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
          .limit(100)))
    }
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

  // ---- Registry rows and their DuckDB oracles ----

  /** CTE `name`: each document's words `ws` with its `keys` columns —
    * TextSketch.words: lower, trim, split on whitespace. */
  private[graft] def wordsCte(name: String, keys: String): String =
    s"""$name AS (SELECT $keys,
       |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ws
       |  FROM documents)""".stripMargin

  /** The word bigrams of the word list `ws`, one row each (the whole
    * list as one bigram when it has under two words). */
  private[graft] def wordBigramsSql(ws: String): String =
    s"""unnest(CASE WHEN len($ws) < 2
       |    THEN [array_to_string($ws, ' ')]
       |    ELSE list_transform(generate_series(1, len($ws) - 1),
       |      i -> $ws[i]||' '||$ws[i+1]) END)""".stripMargin

  /** BM25 scoring of the query terms in CTE `q` (query_id, term),
    * mirroring ops.Retrieval.bm25TopK token for token: `w` tokens with
    * doc lengths, `t` term frequencies, `d` document frequencies, `n`
    * corpus stats, `s` the per-term partials floored onto the 2^-16
    * dyadic grid (so the cross-term SUM is reduction-order-exact in both
    * engines), `sc` each (query, doc) score.
    */
  private def bm25ScoreCtes(q: String): String =
    s"""w AS (SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS dl,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |t AS (SELECT doc_id, term, max(dl) AS dl, COUNT(*) AS tf FROM w
       |  WHERE term <> '' AND term IN (SELECT term FROM $q)
       |  GROUP BY doc_id, term),
       |d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
       |n AS (SELECT COUNT(*) AS nd,
       |    CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS sumdl
       |  FROM documents),
       |s AS (SELECT $q.query_id, t.doc_id,
       |    floor((ln(1.0 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5))
       |      * ((CAST(tf AS DOUBLE) * 2.2)
       |        / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
       |          * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / nd))))))
       |      * 65536.0) / 65536.0 AS ts
       |  FROM t JOIN $q USING (term) JOIN d USING (term) CROSS JOIN n),
       |sc AS (SELECT query_id, doc_id, SUM(ts) AS score FROM s
       |  GROUP BY query_id, doc_id)""".stripMargin

  /** The hybrid-retrieval LEXICAL leg (bm25 replay with each query doc's
    * distinct unigrams as the query set, self-doc slot kept in the
    * ranking then filtered) and the RRF fusion tail — ONE rendering
    * shared by q_hybrid_search (brute vector leg) and q_hybrid_serve
    * (IVF-probed vector leg from the published store) so the scoring and
    * fusion rules cannot drift between the build-side and serve-side
    * rows. Both fragments expect `lex`/`vec` CTEs of
    * (query_id, doc_id, *_rank ≤ 20).
    */
  private val hybridLexCtes =
    s"""qd AS (SELECT doc_id AS query_id, term FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      |    FROM documents WHERE doc_id < 5)
      |  WHERE term <> '' GROUP BY query_id, term),
      |${bm25ScoreCtes("qd")},
      |lexall AS (SELECT query_id, doc_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS lex_rank
      |  FROM sc),
      |lex AS (SELECT query_id, doc_id, lex_rank FROM lexall
      |  WHERE lex_rank <= 20 AND doc_id <> query_id)""".stripMargin

  private val hybridFuseSql =
    """fused AS (SELECT COALESCE(lex.query_id, vec.query_id) AS query_id,
      |    COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
      |    COALESCE(1.0/(60.0 + lex.lex_rank), 0.0)
      |      + COALESCE(1.0/(60.0 + vec.vec_rank), 0.0) AS rrf,
      |    lex.lex_rank, vec.vec_rank
      |  FROM lex FULL OUTER JOIN vec
      |    ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id),
      |r AS (SELECT query_id, doc_id, rrf, lex_rank, vec_rank,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf DESC, doc_id) AS rank
      |  FROM fused)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf,
      |  CAST(lex_rank AS BIGINT) AS lex_rank,
      |  CAST(vec_rank AS BIGINT) AS vec_rank
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** q_hybrid_serve oracle: the lexical store replay (identical to the
    * from-text replay — the q_index_serve equivalence) + the
    * centroid-inlined IVF assignment→probe→rank replay as the vector
    * leg (k = 20, self excluded before ranking, the serving path's
    * rule), fused by the shared RRF tail.
    */
  private def hybridServeOracle(cents: Array[Array[Float]]): String = {
    s"""WITH $hybridLexCtes,
       |${SimilarityQueries.centroidAssignCtes(cents)},
       |q AS (SELECT id AS query_id, embd AS q_embd FROM e WHERE id < 5),
       |${SimilarityQueries.probesCte(withQEmbd = true)},
       |vecall AS (SELECT p.query_id, a.id AS doc_id,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY list_cosine_similarity(p.q_embd, a.embd) DESC, a.id)
       |      AS vec_rank
       |  FROM probes p JOIN assigned a ON a.cell = p.cell
       |  WHERE a.id <> p.query_id),
       |vec AS (SELECT query_id, doc_id, vec_rank FROM vecall
       |  WHERE vec_rank <= 20),
       |$hybridFuseSql""".stripMargin
  }

  /** BM25 oracle — the query set inlined from its single source of truth
    * (bm25Queries); scoring expression mirrors
    * ops.Retrieval.bm25TopK token for token: same literals, same
    * association, per-term partials floored onto the 2^-16 dyadic grid so
    * the cross-term SUM is reduction-order-exact in both engines.
    */
  private def bm25Oracle: String = {
    val vals = bm25Queries
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
       |    FROM (VALUES $vals) AS v(query_id, term)),
       |${bm25ScoreCtes("q")},
       |r AS (SELECT query_id, doc_id, score, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc)
       |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** BPE oracle — trained-model pattern: the learned merge list inlined
    * as a chain of plain `replace` calls over the separator-wrapped
    * representation (ops.Bpe's portability trick: both engines' replace
    * is a left-to-right non-overlapping scan, and the double-separator
    * wrapping makes that exactly canonical simultaneous BPE merging).
    * chr(1) is the separator; RE2's replacement backref is `\1` where
    * Java's is `$1`, hence the dialect-specific wrap expression.
    */
  private def bpeOracle(merges: Seq[(String, String)]): String = {
    def sq(s: String): String = s.replace("'", "''")
    def wrapped(sym: String): String = s"chr(1)||'${sq(sym)}'||chr(1)"
    val repChain = merges.foldLeft(
      "regexp_replace(word, '(.)', chr(1)||'\\1'||chr(1), 'g')") {
      case (rep, (a, b)) =>
        s"replace($rep,\n      ${wrapped(a)}||${wrapped(b)}, ${wrapped(a + b)})"
    }
    s"""WITH w AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
       |  FROM documents),
       |wc AS (SELECT doc_id, word, COUNT(*) AS wn FROM w
       |  WHERE word <> '' GROUP BY doc_id, word),
       |dw AS (SELECT DISTINCT word FROM wc),
       |tok AS (SELECT word,
       |    $repChain AS rep
       |  FROM dw),
       |tl AS (SELECT word,
       |    CAST((length(rep) - length(replace(rep, chr(1), ''))) >> 1
       |      AS BIGINT) AS ntok
       |  FROM tok)
       |SELECT wc.doc_id, CAST(SUM(wn) AS BIGINT) AS n_words,
       |  CAST(SUM(wn * length(word)) AS BIGINT) AS n_chars,
       |  CAST(SUM(wn * ntok) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(wn * length(word)) AS DOUBLE) / SUM(wn * ntok)
       |    AS compression
       |FROM wc JOIN tl USING (word)
       |GROUP BY wc.doc_id ORDER BY doc_id""".stripMargin
  }

  /** The q_heavy_hitters oracle; q_stream_heavy_hitters replays it verbatim.
    * Count-Min replay: ONE md5 digest per token occurrence sliced into
    * four 32-bit bucket words (lower/upper lane, low/high half) — the
    * same slices Sketches.buckets masks engine-side; arithmetic stays in
    * HUGEINT because UBIGINT lanes exceed BIGINT
    */
  private[graft] def heavyHittersOracle: String = {
    // the four lanes' bucket of token `t`, one row per lane
    val buckets =
      """unnest([CAST(CAST(md5_number_lower(t) AS HUGEINT) % 1024 AS BIGINT),
        |      CAST((CAST(md5_number_lower(t) AS HUGEINT) // 4294967296) % 1024 AS BIGINT),
        |      CAST(CAST(md5_number_upper(t) AS HUGEINT) % 1024 AS BIGINT),
        |      CAST((CAST(md5_number_upper(t) AS HUGEINT) // 4294967296) % 1024 AS BIGINT)]) AS bucket,
        |    unnest([0, 1, 2, 3]) AS lane""".stripMargin
    s"""WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)),
      |    '\\s+')) AS t FROM documents),
      |buck AS (SELECT t,
      |    $buckets
      |  FROM tok),
      |cms AS (SELECT lane, bucket, COUNT(*) AS cnt FROM buck
      |  GROUP BY lane, bucket),
      |exact AS (SELECT t, COUNT(*) AS exact_cnt FROM tok GROUP BY t
      |  ORDER BY exact_cnt DESC, t LIMIT 20),
      |qb AS (SELECT t,
      |    $buckets
      |  FROM exact),
      |est AS (SELECT qb.t, MIN(cnt) AS cms_est FROM qb
      |  JOIN cms USING (lane, bucket) GROUP BY qb.t)
      |SELECT exact.t AS token, exact_cnt, cms_est,
      |  cms_est - exact_cnt AS overcount
      |FROM exact JOIN est ON est.t = exact.t
      |ORDER BY exact_cnt DESC, token""".stripMargin
  }

  /** Each document's UTF-8 bytes as the values the codec rows decode:
    * `b` the blob, `s` its unsigned bytes `bs` in order (from the blob's
    * hex), with the byte count `n` and the height `h` of the 32-wide
    * image the bytes fill when asked for. */
  private def docBytesCtes(withLength: Boolean, withHeight: Boolean)
      : String = {
    val n = if (withLength) " CAST(octet_length(bl) AS BIGINT) AS n," else ""
    val h = if (withHeight) "\n    greatest(1, CAST(ceil(octet_length(bl) / 32.0) AS BIGINT)) AS h,"
      else ""
    s"""b AS (SELECT doc_id, encode(text) AS bl FROM documents),
       |s AS (SELECT doc_id,$n$h
       |    list_transform(range(CAST(octet_length(bl) AS INT)),
       |      i -> CAST(('0x' || substr(hex(bl), CAST(i*2+1 AS INT), 2)) AS INT))
       |      AS bs
       |  FROM b)""".stripMargin
  }

  /** The TextQueries registry rows. */
  def defs: Seq[(String, QueryDef)] = Seq(
    "q_lang_id" -> fixed(qLangId _)(
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|is)\b')) AS BIGINT) AS score_en,
        |  CAST(len(regexp_extract_all(text, '\b(le|la|les|de|et|une)\b')) AS BIGINT) AS score_fr,
        |  CAST(len(regexp_extract_all(text, '\b(der|die|und|das|ist|ein)\b')) AS BIGINT) AS score_de,
        |  CAST(len(regexp_extract_all(text, '\b(el|los|y|que|como|un)\b')) AS BIGINT) AS score_es
        |  FROM documents)
        |SELECT doc_id, lang AS labeled_lang, score_en, score_fr, score_de, score_es,
        |  CASE WHEN score_en >= score_fr AND score_en >= score_de AND score_en >= score_es THEN 'en'
        |       WHEN score_fr >= score_de AND score_fr >= score_es THEN 'fr'
        |       WHEN score_de >= score_es THEN 'de'
        |       ELSE 'es' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin),
    "q_quality_score" -> fixed(qQualityScore _)(
      """WITH b AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_txt,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
        |  CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|is)\b')) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_chars_txt, n_words, n_punct,
        |  CAST(n_punct AS DOUBLE)/n_chars_txt AS punct_ratio,
        |  CAST(n_stop AS DOUBLE)/n_words AS stop_ratio,
        |  0.4 * least(1.0, CAST(n_words AS DOUBLE)/200.0)
        |  + 0.3 * (1.0 - least(1.0, (CAST(n_punct AS DOUBLE)/n_chars_txt) * 5.0))
        |  + 0.3 * least(1.0, (CAST(n_stop AS DOUBLE)/n_words) * 4.0) AS quality
        |FROM b ORDER BY doc_id""".stripMargin),
    "q_token_count" -> fixed(qTokenCount _)(
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_txt,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    // same tokenization as the ngram oracle (trim+lower+split \s+, drop
    // empty edge fields); score = tf*N/df — exact ints, one IEEE division
    "q_tfidf_keywords" -> fixed(qTfidfKeywords _)(
      """WITH w AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term, COUNT(*) AS tf FROM w
        |  WHERE term <> '' GROUP BY doc_id, term),
        |d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (SELECT t.doc_id, t.term, t.tf, d.df,
        |    CAST(t.tf * n.n_docs AS DOUBLE) / d.df AS score
        |  FROM t JOIN d USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rank FROM s)
        |SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin),
    "q_fingerprint" -> fixed(qFingerprint _)(
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  source
        |FROM documents ORDER BY doc_id""".stripMargin),
    "q_dedup_exact" -> fixed(qDedupExact _)(
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin),
    // real-codec round-trip replay: the engine encodes the UTF-8 bytes as
    // a 32-wide zero-padded grayscale PNG and decodes it back through
    // javax.imageio; PNG losslessness means the decoded pixel stats ARE
    // the byte stats, which this SQL computes from the hex of the blob —
    // any decode defect (color transform, padding, truncation) hash-fails
    "q_multimodal_features" -> fixed(qMultimodalFeatures _)(
      s"""WITH ${docBytesCtes(withLength = true, withHeight = true)}
        |SELECT doc_id, n AS n_bytes, CAST(32 AS BIGINT) AS img_w, h AS img_h,
        |  CAST(coalesce(list_sum(bs), 0) AS DOUBLE) / (32 * h) AS mean_px,
        |  CAST(coalesce(list_max(bs), 0) AS BIGINT) AS max_px
        |FROM s ORDER BY doc_id""".stripMargin),
    // frame fan-out: every-2nd 64-byte frame of the payload, emitted as
    // uppercase hex in both engines (docs are ASCII so VARCHAR slicing =
    // byte slicing; the driver's checker cannot sort raw binary)
    "q_multimodal_frames" -> fixed(qMultimodalFrames _)(
      """WITH f AS (SELECT doc_id, text,
        |    unnest(generate_series(0,
        |      CAST(ceil(length(text)/64.0) AS BIGINT) - 1, 2)) AS frame_idx
        |  FROM documents)
        |SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  hex(substring(text, CAST(frame_idx*64 + 1 AS BIGINT), 64)) AS frame
        |FROM f ORDER BY media_id, frame_idx""".stripMargin),
    "q_pack_sequences" -> fixed(qPackSequences _)(
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (SELECT doc_id, tokens,
        |    SUM(tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT CAST(FLOOR((cum - tokens) / 2048) AS BIGINT) AS pack_id,
        |  COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS total_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY pack_id""".stripMargin),
    "q_corpus_funnel" -> fixed(qCorpusFunnel _)(
      """WITH s AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|is)\b')) AS BIGINT) AS s_en,
        |    CAST(len(regexp_extract_all(text, '\b(le|la|les|de|et|une)\b')) AS BIGINT) AS s_fr,
        |    CAST(len(regexp_extract_all(text, '\b(der|die|und|das|ist|ein)\b')) AS BIGINT) AS s_de,
        |    CAST(len(regexp_extract_all(text, '\b(el|los|y|que|como|un)\b')) AS BIGINT) AS s_es,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |scored AS (SELECT doc_id, fp,
        |    CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
        |         WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
        |         WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS pred_lang,
        |    0.4 * least(1.0, CAST(n_words AS DOUBLE)/200.0)
        |    + 0.3 * (1.0 - least(1.0, (CAST(n_punct AS DOUBLE)/n_chars) * 5.0))
        |    + 0.3 * least(1.0, (CAST(s_en AS DOUBLE)/n_words) * 4.0) AS quality
        |  FROM s),
        |kept AS (SELECT * FROM scored WHERE pred_lang = 'en' AND quality >= 0.5)
        |SELECT doc_id, fp, pred_lang, quality FROM kept
        |WHERE doc_id = (SELECT min(k.doc_id) FROM kept k WHERE k.fp = kept.fp)
        |ORDER BY doc_id""".stripMargin),
    "q_bm25_search" -> fixed(qBm25Search _)(bm25Oracle),
    // add-one bigram LM trained on every-10th docs; ln p floored to the
    // 2^-16 grid pre-sum (reduction-order-exact, same tree as the Spark op)
    "q_lm_score" -> fixed(qLmScore _)(
      s"""WITH ${wordsCte("wr", "doc_id")},
        |bg AS (SELECT doc_id, ${wordBigramsSql("ws")} AS g
        |  FROM wr),
        |c2 AS (SELECT g, COUNT(*) AS c2n FROM bg
        |  WHERE doc_id % 10 = 0 GROUP BY g),
        |c1 AS (SELECT split_part(g, ' ', 1) AS w1,
        |    CAST(SUM(c2n) AS BIGINT) AS c1n FROM c2 GROUP BY 1),
        |vt AS (SELECT COUNT(DISTINCT t) AS v FROM
        |  (SELECT unnest(ws) AS t FROM wr WHERE doc_id % 10 = 0)),
        |p AS (SELECT bg.doc_id, c2.c2n IS NULL AS unseen,
        |    floor(ln(CAST(COALESCE(c2.c2n, 0) + 1 AS DOUBLE)
        |        / CAST(COALESCE(c1.c1n, 0) + v AS DOUBLE))
        |      * 65536.0) / 65536.0 AS lp
        |  FROM bg
        |  LEFT JOIN c2 USING (g)
        |  LEFT JOIN c1 ON split_part(bg.g, ' ', 1) = c1.w1
        |  CROSS JOIN vt)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN unseen THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
        |  (-SUM(lp)) / COUNT(*) AS cross_entropy,
        |  ((-SUM(lp)) / COUNT(*)) <= 6.0 AS keep
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Count-Min replay: ONE md5 digest per token occurrence sliced into
    // four 32-bit bucket words (lower/upper lane, low/high half) — the
    // same slices Sketches.buckets masks engine-side; arithmetic stays in
    // HUGEINT because UBIGINT lanes exceed BIGINT
    "q_heavy_hitters" -> fixed(qHeavyHitters _)(heavyHittersOracle),
    // trained-model replay (the q_lm_score pattern, supervised): the NB
    // model = (cls, token) counts + class totals + priors + vocab scalar,
    // every ln floored to the 2^-16 grid, argmax by (score desc, cls)
    "q_nb_classifier" -> fixed(qNbClassifier _)(
      s"""WITH ${wordsCte("wr", "doc_id, lang")},
        |tok AS (SELECT doc_id, lang, unnest(ws) AS t FROM wr),
        |ref AS (SELECT * FROM tok WHERE doc_id % 10 = 0),
        |ctk AS (SELECT lang AS cls, t, COUNT(*) AS ctn FROM ref
        |  GROUP BY 1, 2),
        |ck AS (SELECT cls, CAST(SUM(ctn) AS BIGINT) AS ckn FROM ctk
        |  GROUP BY 1),
        |vt AS (SELECT COUNT(DISTINCT t) AS v FROM ref),
        |dpc AS (SELECT lang AS cls, COUNT(*) AS nd FROM documents
        |  WHERE doc_id % 10 = 0 GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS ntot FROM documents WHERE doc_id % 10 = 0),
        |cls AS (SELECT ck.cls, ckn,
        |    floor(ln(CAST(nd AS DOUBLE) / CAST(ntot AS DOUBLE))
        |      * 65536.0) / 65536.0 AS lp0
        |  FROM ck JOIN dpc ON ck.cls = dpc.cls CROSS JOIN tot),
        |sc AS (SELECT tok.doc_id, tok.lang AS actual, cls.cls, cls.lp0,
        |    floor(ln(CAST(COALESCE(ctn, 0) + 1 AS DOUBLE)
        |        / CAST(ckn + v AS DOUBLE)) * 65536.0) / 65536.0 AS lp
        |  FROM tok CROSS JOIN cls
        |  LEFT JOIN ctk ON ctk.cls = cls.cls AND ctk.t = tok.t
        |  CROSS JOIN vt),
        |ag AS (SELECT doc_id, actual, cls, lp0 + SUM(lp) AS score FROM sc
        |  GROUP BY doc_id, actual, cls, lp0),
        |rk AS (SELECT doc_id, actual, cls, score, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn FROM ag)
        |SELECT doc_id, cls AS predicted, score, actual,
        |  cls = actual AS is_correct
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    // same shingling CTE as q_lm_score; marginals are the bigram table's
    // own left/right totals; ln snapped to the 2^-16 grid
    "q_pmi_collocations" -> fixed(qPmiCollocations _)(
      s"""WITH ${wordsCte("wr", "doc_id")},
        |bg AS (SELECT ${wordBigramsSql("ws")} AS g
        |  FROM wr),
        |b2 AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
        |  FROM bg WHERE g LIKE '% %'),
        |cxy AS (SELECT w1, w2, COUNT(*) AS n_xy FROM b2 GROUP BY 1, 2),
        |cl AS (SELECT w1, CAST(SUM(n_xy) AS BIGINT) AS n_left FROM cxy
        |  GROUP BY 1),
        |cr AS (SELECT w2, CAST(SUM(n_xy) AS BIGINT) AS n_right FROM cxy
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS total FROM cxy)
        |SELECT w1, w2, n_xy,
        |  floor(ln((CAST(n_xy AS DOUBLE) * CAST(total AS DOUBLE)) /
        |      (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)))
        |    * 65536.0) / 65536.0 AS pmi
        |FROM cxy JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN t
        |WHERE n_xy >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin),
    // p·ln p snapped to the 2^-16 grid per term → the entropy sum is
    // exact dyadic arithmetic, order-free on both engines
    "q_source_entropy" -> fixed(qSourceEntropy _)(
      s"""WITH ${wordsCte("wr", "source")},
        |tk AS (SELECT source, unnest(ws) AS t FROM wr),
        |c AS (SELECT source, t, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS vocab_size FROM c GROUP BY 1)
        |SELECT source, n_tokens, vocab_size,
        |  -SUM(floor((CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |      * 65536.0) / 65536.0) AS entropy
        |FROM c JOIN n USING (source)
        |GROUP BY source, n_tokens, vocab_size
        |ORDER BY source""".stripMargin),
    // real MJPEG demux + JDK decode on the Spark side; the oracle replays
    // the REPLAYABLE facts — frame geometry (w fixed, h = ceil(slice/16),
    // both produced by the actual decoder engine-side) and source-slice
    // brightness; the lossy decoded brightness is spec-pinned, not hashed
    "q_video_frames" -> fixed(qVideoFrames _)(
      """WITH b AS (SELECT doc_id, encode(text) AS bl FROM documents),
        |f AS (SELECT doc_id, bl, CAST(octet_length(bl) AS BIGINT) AS len,
        |    unnest(generate_series(0,
        |      CAST(ceil(octet_length(bl)/64.0) AS BIGINT) - 1, 2)) AS fi
        |  FROM b),
        |c AS (SELECT doc_id, fi,
        |    least(CAST(64 AS BIGINT), len - fi*64) AS clen,
        |    list_transform(range(CAST(least(CAST(64 AS BIGINT), len - fi*64) AS INT)),
        |      i -> CAST(('0x' || substr(hex(bl), CAST((fi*64 + i)*2 + 1 AS INT), 2)) AS INT))
        |      AS bs
        |  FROM f)
        |SELECT doc_id AS media_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(16 AS BIGINT) AS frame_w,
        |  greatest(1, CAST(ceil(clen/16.0) AS BIGINT)) AS frame_h,
        |  clen AS n_src_bytes,
        |  CAST(coalesce(list_sum(bs), 0) AS DOUBLE) /
        |    (16 * greatest(1, CAST(ceil(clen/16.0) AS BIGINT))) AS mean_src_px
        |FROM c ORDER BY media_id, frame_idx""".stripMargin),
    // real WAV PCM round-trip engine-side (javax.sound); PCM is lossless,
    // so the decoded sample stats replay arithmetically from the bytes —
    // n_samples/sample_rate are the DECODER's container view
    "q_audio_features" -> fixed(qAudioFeatures _)(
      s"""WITH ${docBytesCtes(withLength = true, withHeight = false)}
        |SELECT doc_id, n AS n_bytes, n AS n_samples,
        |  CAST(8000 AS DOUBLE) AS sample_rate,
        |  CAST(coalesce(list_sum(bs), 0) AS DOUBLE) / greatest(1, n) AS mean_amp,
        |  CAST(coalesce(list_max(bs), 0) AS BIGINT) AS max_amp
        |FROM s ORDER BY doc_id""".stripMargin),
    // real resize replay: the engine encodes the bytes as a 32-wide gray
    // PNG, decodes it, area-mean ÷2 downsamples (floor of each 2×2 block
    // mean; odd-height images end with clipped 2×1 blocks), re-encodes
    // PNG, decodes AGAIN, and emits the thumbnail's pixel stats. All
    // exact integer arithmetic → this SQL replays the thumbnail pixels
    // from the blob's hex; any kernel/codec defect hash-fails.
    "q_image_thumbnail" -> fixed(qImageThumbnail _)(
      s"""WITH ${docBytesCtes(withLength = true, withHeight = true)},
        |t AS (SELECT doc_id, n, h, CAST(ceil(h / 2.0) AS BIGINT) AS th,
        |    list_transform(range(CAST(16 * ceil(h / 2.0) AS INT)), q ->
        |      CASE WHEN (q // 16) * 2 + 1 < h THEN
        |        (coalesce(bs[CAST((q//16)*64 + (q%16)*2 + 1 AS INT)], 0)
        |       + coalesce(bs[CAST((q//16)*64 + (q%16)*2 + 2 AS INT)], 0)
        |       + coalesce(bs[CAST((q//16)*64 + 32 + (q%16)*2 + 1 AS INT)], 0)
        |       + coalesce(bs[CAST((q//16)*64 + 32 + (q%16)*2 + 2 AS INT)], 0)) // 4
        |      ELSE
        |        (coalesce(bs[CAST((q//16)*64 + (q%16)*2 + 1 AS INT)], 0)
        |       + coalesce(bs[CAST((q//16)*64 + (q%16)*2 + 2 AS INT)], 0)) // 2
        |      END) AS tp
        |  FROM s)
        |SELECT doc_id, n AS n_bytes, CAST(32 AS BIGINT) AS src_w, h AS src_h,
        |  CAST(16 AS BIGINT) AS thumb_w, th AS thumb_h,
        |  CAST(coalesce(list_sum(tp), 0) AS DOUBLE) / (16 * th) AS mean_thumb_px,
        |  CAST(coalesce(list_max(tp), 0) AS BIGINT) AS max_thumb_px
        |FROM t ORDER BY doc_id""".stripMargin),
    // RRF hybrid retrieval: the bm25 replay with each query DOC's distinct
    // unigrams as the query set, the knn cosine replay, then the pure
    // rank-arithmetic fusion 1/(60+r_lex) + 1/(60+r_vec) — two IEEE
    // divides + one fixed-order add, bit-identical across engines.
    // Lexical ranks keep the self-doc's slot (ranked before the self
    // filter); vector ranks exclude self before ranking — both mirror
    // the engine exactly.
    "q_hybrid_search" -> fixed(qHybridSearch _)(
      s"""WITH $hybridLexCtes,
        |ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embd
        |  FROM embeddings),
        |qv AS (SELECT vec_id AS query_id, embd AS q_embd
        |  FROM ed WHERE vec_id < 5),
        |vecall AS (SELECT q.query_id, e.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.q_embd, e.embd) DESC, e.vec_id)
        |      AS vec_rank
        |  FROM qv q CROSS JOIN ed e WHERE e.vec_id <> q.query_id),
        |vec AS (SELECT query_id, doc_id, vec_rank FROM vecall
        |  WHERE vec_rank <= 20),
        |$hybridFuseSql""".stripMargin),
    // stored-index serve == from-text serve, bit-for-bit: the build's
    // tf/dl are the same integers the on-the-fly path derives and the
    // scoring tail is shared code — so the oracle is bm25's VERBATIM,
    // and the publish→merge→read round trip is what the hash proves
    "q_index_serve" -> fixed(qIndexServe _)(bm25Oracle),
    // image aHash replay in byte arithmetic: pixel (r,c) of the 32-wide
    // pad-0 gray image IS byte r*32+c, samples at the 8×8 cell centers,
    // bit = v*64 >= Σv (ties set), chunk keys + bit-list hamming exactly
    // as the q_simhash oracle — a codec defect on the Spark side flips
    // bits and hash-fails here
    "q_image_phash" -> fixed(qImagePhash _)(
      s"""WITH ${docBytesCtes(withLength = false, withHeight = true)},
        |v AS (SELECT doc_id,
        |    list_transform(range(64), q ->
        |      coalesce(bs[CAST(((2*(q//8)+1)*h)//16 * 32
        |        + (2*(q%8)+1)*2 + 1 AS INT)], 0)) AS vq
        |  FROM s),
        |bits AS (SELECT doc_id,
        |    list_transform(vq, x ->
        |      CASE WHEN x * 64 >= list_sum(vq) THEN 1 ELSE 0 END) AS bl
        |  FROM v),
        |bk AS (SELECT doc_id, bl, c,
        |    list_sum(list_transform(range(16),
        |      i -> bl[CAST(c*16+i+1 AS INT)] * (1 << i))) AS ckey
        |  FROM bits CROSS JOIN (SELECT unnest(range(4)) AS c)),
        |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.bl AS ba, b.bl AS bb
        |  FROM bk a JOIN bk b
        |    ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id),
        |hm AS (SELECT doc_a, doc_b,
        |    CAST(len(list_filter(range(64), i -> ba[i+1] <> bb[i+1]))
        |      AS BIGINT) AS hamming
        |  FROM pr)
        |SELECT doc_a, doc_b, hamming FROM hm WHERE hamming <= 8
        |ORDER BY doc_a, doc_b""".stripMargin),
    "q_bpe_tokenize" -> trained(bpeModelFor)(qBpeTokenize)(bpeOracle),
    // hybrid-over-stores: the bm25 store replay + the centroid-inlined
    // IVF replay, fused with the same RRF tail as q_hybrid_search
    "q_hybrid_serve" -> trained(SimilarityQueries.centroidsFor)(
      qHybridServe)(hybridServeOracle),
  )
}
