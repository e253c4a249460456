package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.{fixed}
import graft.ops.Corpus
import graft.sources.Tables

/** Corpus-construction queries (ops.Corpus over the driver testdata) — the
  * training-set assembly stages downstream of cleaning: decontamination,
  * sampling, mixing, chunking, scrubbing, repetition filtering.
  */
object CorpusQueries {

  /** Decontaminate the training split against a deterministic "benchmark"
    * subset (every 50th doc plays the eval set): any shared word 8-gram
    * flags the training doc. Output covers every train doc so the clean
    * majority is visible too.
    */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val eval_ = d.filter(col("doc_id") % 50 === 0)
    val train = d.filter(col("doc_id") % 50 =!= 0)
    Corpus.decontaminate(train, eval_, col("doc_id"), col("text"), n = 8)
      .orderBy(col("doc_id"))
  }

  /** Quality-weighted sampling: keep probability = half the saturating
    * length score (longer docs up to 150 tokens are proportionally more
    * likely to survive, capped at 50 %). The weight is integer-derived ÷
    * and × by constants — bit-identical on both engines — and the draw is
    * the md5 prefix, so the SELECTED SET is exactly reproducible.
    */
  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = least(lit(1.0),
      graft.ops.TextAnalysis.wsTokenCount(col("text")).cast("double") / 150.0) * lit(0.5)
    Corpus.sampleWeighted(d.withColumn("weight", w), col("text"), col("weight"))
      .select(col("doc_id"), col("source"), col("weight"))
      .orderBy(col("doc_id"))
  }

  /** Weighted reservoir sampling WITHOUT replacement, exactly k per
    * source (Efraimidis & Spirakis 2006): each doc draws key =
    * ln(u)/w with u uniform from its md5 lane and w its length weight,
    * and the k LARGEST keys per source are the sample — the
    * exactly-k-per-stratum mixture-sampling primitive qSampleWeighted's
    * Bernoulli draw (variable sample size) cannot express. Engine shape:
    * the per-source top-k runs on the bounded-heap topk aggregate — k
    * rows per source per partition through the exchange, no sort of the
    * corpus. Determinism: u uses only the LOW 53 BITS of the lane
    * ((h & (2^53-1)) + 1) / 2^53 — exact in a double on both engines,
    * where converting the full unsigned 64-bit lane would double-round
    * in Spark (cast then add 2^64) but single-round in DuckDB; ln is
    * floored onto the 2^-16 grid before the weight division (ties the
    * snap introduces break on doc_id, same as the oracle's row_number).
    */
  def qSampleReservoir(spark: SparkSession, dir: String): DataFrame = {
    val h = graft.functions.text.md5Lanes(col("doc_id").cast("string"))(0)
    val u = (h.bitwiseAND(lit((1L << 53) - 1)) + lit(1L)).cast("double") /
      lit(9007199254740992.0)
    val key = (floor(log(u) * lit(65536.0)) / lit(65536.0)) /
      (col("n_chars") + lit(1L)).cast("double")
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), key.as("es_key"))
      .groupBy(col("source"))
      .agg(graft.functions.vectors.topk(col("es_key"), col("doc_id"), 8)
        .as("tk"))
      .select(col("source"), explode(col("tk")).as("e"))
      .select(col("source"), col("e.id").as("doc_id"),
        col("e.score").as("es_key"))
      .orderBy(col("source"), col("es_key").desc, col("doc_id"))
  }

  /** Stratified deterministic sampling: even-numbered sources keep ~50 %,
    * odd-numbered ~20 %, selected by the md5(text) hex prefix — stable
    * across runs, engines and partitionings.
    */
  def qSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val rate = when(
      regexp_extract(col("source"), "(\\d+)", 1).cast("int") % 2 === 0,
      lit("800")).otherwise(lit("333"))
    Corpus.sampleStratified(d, col("text"), rate)
      .select(col("doc_id"), col("source"), col("samp_key"))
      .orderBy(col("doc_id"))
  }

  /** Source-mixing table: per-source doc/token counts, corpus share, and an
    * exact 1M-token budget allocation.
    */
  def qSourceMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    Corpus.sourceMix(d, col("source"),
        graft.ops.TextAnalysis.wsTokenCount(col("text")), budget = 1000000L)
      .orderBy(col("source"))
  }

  /** Per-source document QUOTA (round 10 — the domain-quota pass of
    * corpus construction, C4/Dolma style: no single domain may dominate
    * the mix): keep each source's top-`quota` documents by content
    * length (ties to the smaller doc_id), with their quota rank.
    *
    * Scale shape — the reason this is an operator and not a window:
    * `ROW_NUMBER() OVER (PARTITION BY source ORDER BY …) <= k` sorts and
    * shuffles EVERY corpus row; the bounded-heap topk aggregate's
    * partial buffers cap at k entries per source per partition, so the
    * exchange carries ≤ k·partitions rows per source regardless of
    * corpus size — the difference between shuffling 100 TB and shuffling
    * k·partitions·|sources| rows. The oracle IS the window form, so the
    * driver re-proves heap == window semantics (including tie order) by
    * hash every round.
    */
  def qSourceQuota(spark: SparkSession, dir: String): DataFrame = {
    val quota = 50
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), length(col("text")).as("n_chars"))
      .groupBy(col("source"))
      .agg(graft.functions.vectors.topk(
        col("n_chars").cast("double"), col("doc_id"), quota).as("tk"))
      .select(col("source"), posexplode(col("tk")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("doc_id"),
        col("col.score").cast("long").as("n_chars"))
      .orderBy(col("source"), col("rank"))
  }

  /** Temperature-adjusted source mixing (r13): α=1/2 sampling shares and
    * an exact 1M-token allocation per source — q_source_mix's
    * head-flattening sibling (see ops.Corpus.sourceTemperature for why
    * α=1/2 keeps the weights bit-replayable cross-engine).
    */
  def qSourceTemperature(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    Corpus.sourceTemperature(d, col("source"),
        graft.ops.TextAnalysis.wsTokenCount(col("text")), budget = 1000000L)
      .orderBy(col("source"))
  }

  /** Token-budget fill (r13): per source, keep documents most-tokens-
    * first until 800 cumulative tokens (the crossing document is kept).
    * The engine runs ops.Corpus.tokenBudgetFill's histogram-window form
    * (no per-source row sort); the oracle is the naive per-row
    * running-sum window — the two are re-proven equivalent by hash every
    * round.
    */
  def qTokenBudget(spark: SparkSession, dir: String): DataFrame =
    Corpus.tokenBudgetFill(Tables.documents(spark, dir), col("source"),
        col("doc_id"), graft.ops.TextAnalysis.wsTokenCount(col("text")),
        budget = 800L)
      .orderBy(col("source"), col("n_tokens").desc, col("doc_id"))

  /** Chunk every document into 64-token windows with stride 48 (16-token
    * overlap) — the LM pretraining window shape.
    */
  def qChunkWindows(spark: SparkSession, dir: String): DataFrame =
    Corpus.chunkWindows(Tables.documents(spark, dir),
        col("doc_id"), col("text"), winSize = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Scrub digit runs out of the event payloads (the mechanical stand-in
    * for PII patterns) and count redactions per event.
    */
  def qPiiScrub(spark: SparkSession, dir: String): DataFrame =
    Corpus.scrub(Tables.events(spark, dir), col("props"), "\\d+", "[NUM]")
      .select(col("event_id"), col("clean").as("props_clean"), col("n_redacted"))
      .orderBy(col("event_id"))

  /** The corpus-construction pipeline COMPOSED as one declarative plan:
    * deterministic sampling → repetition-quality filter → LM window
    * chunking. Catalyst fuses the sample predicate and the chunk explode
    * into the scan side; the only shuffles are the repetition stats'
    * per-doc aggregations. The point (beyond each op alone): the stages
    * compose without materialization barriers, so the 100 TB corpus makes
    * one pass end-to-end.
    */
  def qCorpusPipeline(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val sampled = Corpus.sampleStratified(d, col("text"),
      when(regexp_extract(col("source"), "(\\d+)", 1).cast("int") % 2 === 0,
        lit("800")).otherwise(lit("333")))
    val keep = Corpus.repetitionStats(sampled, col("doc_id"), col("text"))
      .filter(col("dup_word_ratio") <= 0.95 && col("top_bigram_frac") <= 0.18)
      .select("doc_id")
    Corpus.chunkWindows(sampled.join(keep, "doc_id"),
        col("doc_id"), col("text"), winSize = 64, stride = 48)
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Repetition-based quality stats per document (Gopher-style): duplicate
    * word ratio + most-frequent-bigram fraction, with a keep flag.
    */
  def qRepetitionFilter(spark: SparkSession, dir: String): DataFrame =
    Corpus.repetitionStats(Tables.documents(spark, dir),
        col("doc_id"), col("text"))
      .withColumn("keep",
        col("dup_word_ratio") <= 0.95 && col("top_bigram_frac") <= 0.18)
      .orderBy(col("doc_id"))

  /** Curriculum data ordering: the corpus enumerated highest-quality-first
    * (tier 0 = top quality quartile), deterministically shuffled WITHIN
    * each tier — the "sort by quality, shuffle within" pretraining order,
    * with zero global sort (ops.Sharding.curriculumOrder's two-phase
    * enumeration). Quality is the q_quality_score composite; tier =
    * 3 − clamp(⌊quality·4⌋, 3) so better docs come first.
    */
  def qCurriculum(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextAnalysis
    val d = Tables.documents(spark, dir)
    val quality = TextAnalysis.qualityScore(
      TextAnalysis.wsTokenCount(col("text")),
      TextAnalysis.punctCount(col("text")).cast("double") / length(col("text")),
      TextAnalysis.langScore(col("text"), "en").cast("double") /
        TextAnalysis.wsTokenCount(col("text")))
    val tier = lit(3) - least(lit(3), floor(quality * 4.0).cast("int"))
    graft.ops.Sharding.curriculumOrder(d, col("doc_id"), tier)
      .orderBy(col("pos"))
  }

  /** Training-shard assignment + deterministic global shuffle (the final
    * pipeline step before shard files are written): stable md5-derived
    * shard + shuffled position per doc, enumerated with the two-phase
    * bounded-counts pattern so parallelism never collapses to one reducer
    * per shard (ops.Sharding). Exact-oracled: the permutation is a pure
    * function of md5 hex, replayed in DuckDB as one window.
    */
  def qShardShuffle(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Sharding.shardShuffle(Tables.documents(spark, dir),
        col("doc_id"), nShards = 8)
      .orderBy(col("shard"), col("pos"))

  /** Deterministic train/valid/test split (round 15): the assignment step
    * every training pipeline runs before sharding — multiplicative
    * (Knuth) hashing of the stable doc key into 100 buckets, 80/10/10.
    * The hash is `(key · 2654435761) div 2^16 mod 100` — the MIDDLE bits
    * of the classic golden-ratio multiplier, so consecutive ids scatter
    * (taking `mod 100` of the raw product would collapse to the linear
    * `61·id mod 100`). Properties the spec pins: pure map (no shuffle —
    * at 100 TB the split is free, computed inside the scan stage),
    * DETERMINISTIC (re-runs and different partitionings agree, unlike
    * `rand()`-based splits), and complete+disjoint by construction.
    * `shiftright` keeps the whole path in exact long arithmetic (no
    * double division anywhere); never overflows for any key < 2^32.
    */
  def qTrainSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = shiftright(col("doc_id") * lit(2654435761L), 16) % 100
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), bucket.as("bucket"),
        when(bucket < 80, lit("train"))
          .when(bucket < 90, lit("valid"))
          .otherwise(lit("test")).as("split"))
      .orderBy(col("doc_id"))
  }

  /** LARGEST-REMAINDER quota allocation (round 15c — the integer-exact
    * step q_source_quota's proportional targets hand-wave: distributing
    * a FIXED budget of sample slots across sources so the integer
    * allocations sum to exactly the budget; naive round() over- or
    * under-shoots and per-row rand() is irreproducible — this is the
    * Hamilton apportionment method in exact long arithmetic).
    *
    *   base_i = floor(S·n_i / N),  rem_i = S·n_i mod N  (scaled — no
    *   fractions anywhere), leftover = S − Σ base_i, and the `leftover`
    *   sources with the largest remainders (source name breaks ties
    *   deterministically) get one extra slot. Σ alloc == S by
    *   construction, pinned in Round15cSpec.
    *
    * Scale: one count aggregate collapses the corpus to |sources| rows;
    * everything after is windows over that catalog-sized frame. The
    * output is the allocation table a downstream stratified sampler
    * consumes ([[qSampleStratified]]'s per-group targets, made to sum
    * exactly to budget).
    */
  def qLargestRemainder(spark: SparkSession, dir: String): DataFrame = {
    val slots = 10000L
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val total = Window.partitionBy()
    val withTotals = counts.select(col("source"), col("n_docs"),
      sum(col("n_docs")).over(total).as("n_total"))
    val scaled = withTotals.select(col("source"), col("n_docs"),
      expr(s"($slots * n_docs) div n_total").as("base"),
      expr(s"($slots * n_docs) % n_total").as("rem"),
      col("n_total"))
    val leftover = lit(slots) - sum(col("base")).over(total)
    val rk = row_number().over(
      Window.partitionBy().orderBy(col("rem").desc, col("source")))
    scaled.select(col("source"), col("n_docs"), col("base"), col("rem"),
        rk.as("rem_rank"), leftover.as("leftover"))
      .select(col("source"), col("n_docs"),
        (col("base") + when(col("rem_rank") <= col("leftover"), 1L)
          .otherwise(0L)).as("alloc"),
        col("rem_rank").cast("long").as("rem_rank"))
      .orderBy(col("source"))
  }

  /** CORPUS OVERLAP via KMV (k-minimum-values) sketches (round 15c): the
    * set-INTERSECTION cardinality HLL cannot answer — "how much does
    * corpus A share with corpus B?", the corpus-level contamination /
    * source-redundancy measurement that runs BEFORE a pair-level
    * decontamination pass is worth its cost. Two shingle cohorts (3-gram
    * space, the q_ngram_jaccard construction) each keep their k=256
    * smallest distinct masked hashes; the union sketch is the k smallest
    * of the two sketches' union, θ = its k-th value, and:
    *
    *   est_union = (k-1) · 2^62 / θ          (the KMV estimator)
    *   jaccard   = ρ/k,  ρ = union-sketch values present in BOTH sketches
    *   est_inter = jaccard · est_union
    *
    * Engine shape: each sketch is a distinct + distributed top-k
    * (TakeOrderedAndProject — no global sort, no all-pairs anything);
    * sketch-vs-sketch joins touch 256-row frames. At 100 TB the sketches
    * are the ONLY thing that crosses the wire — per-source sketches
    * merge by re-taking the k smallest (mergeable like HLL registers,
    * pinned by construction here), and any pair of a catalog of corpora
    * can be compared after one scan each.
    *
    * Exactness: masked hashes are exact longs (mod 2^62 of the md5 lane,
    * so non-negative in BOTH engines' orderings); (k-1)·2^62 is an
    * 8-significant-bit double (exact), θ→double is one round-to-nearest
    * (identical both engines), the division one IEEE op snapped to the
    * 2^-16 grid; ρ/k with k=256 a power of two is EXACT dyadic; the
    * intersection estimate is one multiply of the snapped union by the
    * exact ratio. Exact counts ride along as evidence.
    */
  def qKmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val K = 256
    val mask = (1L << 62) - 1
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def hashes(cohort: DataFrame): DataFrame =
      cohort.select(explode(
          graft.functions.text.wordShingles(col("text"), 3)).as("s"))
        .select(graft.functions.text.md5Lanes(col("s"))(0)
          .bitwiseAND(lit(mask)).as("h"))
        .distinct()
    val ha = hashes(d.filter(col("doc_id") % 2 === 0))
    val hb = hashes(d.filter(col("doc_id") % 3 === 0))
    val sa = ha.orderBy(col("h")).limit(K)
    val sb = hb.orderBy(col("h")).limit(K)
    val su = sa.union(sb).distinct().orderBy(col("h")).limit(K)
    val both = su.join(broadcast(sa.withColumnRenamed("h", "h_a")),
        col("h") === col("h_a"))
      .join(broadcast(sb.withColumnRenamed("h", "h_b")),
        col("h") === col("h_b"))
    val exactU = ha.union(hb).distinct().agg(
      count(lit(1)).as("exact_union"))
    val exactI = ha.join(hb.withColumnRenamed("h", "h_b"),
        col("h") === col("h_b"))
      .agg(count(lit(1)).as("exact_intersection"))
    val theta = su.agg(max(col("h")).as("kth_value"),
      count(lit(1)).cast("long").as("k"))
    val rho = both.agg(count(lit(1)).cast("long").as("rho"))
    val estU = floor((lit((K - 1).toDouble) * lit(4611686018427387904.0) /
      col("kth_value").cast("double")) * lit(65536.0)) / lit(65536.0)
    theta.crossJoin(broadcast(rho))
      .crossJoin(broadcast(exactU)).crossJoin(broadcast(exactI))
      .select(col("k"), col("kth_value"),
        estU.as("est_union"), col("exact_union"),
        col("rho"),
        (col("rho").cast("double") / lit(K.toDouble)).as("jaccard_est"),
        (estU * (col("rho").cast("double") / lit(K.toDouble)))
          .as("est_intersection"),
        col("exact_intersection"))
  }

  // ---- Registry rows and their DuckDB oracles ----

  /** 64-word chunks at a 48-word stride over `src` (doc_id, ws, n —
    * the word list and its length): `c` one row per chunk, then each
    * chunk's span and text. */
  private def chunkWindowsSql(src: String): String =
    s"""c AS (SELECT doc_id, ws, n,
       |    unnest(generate_series(0, greatest((n-1)//48, 0))) AS chunk_idx
       |  FROM $src)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(chunk_idx*48 AS BIGINT) AS chunk_start,
       |  CAST(least(64, n - chunk_idx*48) AS BIGINT) AS chunk_len,
       |  array_to_string(list_slice(ws, chunk_idx*48 + 1,
       |    chunk_idx*48 + least(64, n - chunk_idx*48)), ' ') AS chunk_text
       |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** The CorpusQueries registry rows. */
  def defs: Seq[(String, QueryDef)] = Seq(
    // weight = integer-derived arithmetic (bit-identical both engines);
    // draw = md5 prefix vs fixed-width hex threshold, string compare
    "q_sample_weighted" -> fixed(qSampleWeighted _)(
      """WITH d AS (SELECT doc_id, source, text,
        |    least(1.0, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 150.0) * 0.5 AS weight
        |  FROM documents)
        |SELECT doc_id, source, weight FROM d
        |WHERE substring(md5(text), 1, 8) <
        |  lower(lpad(to_hex(greatest(least(CAST(floor(weight * 4294967296.0) AS BIGINT), 4294967295), 0)), 8, '0'))
        |ORDER BY doc_id""".stripMargin),
    // eval set = every 50th doc; contamination = any shared word 8-gram
    // (same normalization as the jaccard oracle)
    "q_decontaminate" -> fixed(qDecontaminate _)(
      s"""WITH ${TextQueries.wordsCte("w", "doc_id")},
        |sh AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
        |      ELSE list_transform(generate_series(1, len(ws) - 7),
        |        i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
        |          ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]) END) AS sg
        |  FROM w),
        |ev AS (SELECT DISTINCT unnest(sg) AS g FROM sh WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, unnest(sg) AS g FROM sh WHERE doc_id % 50 <> 0),
        |hits AS (SELECT tr.doc_id, count(DISTINCT tr.g) AS n_shared
        |  FROM tr JOIN ev ON tr.g = ev.g GROUP BY tr.doc_id)
        |SELECT d.doc_id, COALESCE(h.n_shared, CAST(0 AS BIGINT)) AS n_shared,
        |  COALESCE(h.n_shared, CAST(0 AS BIGINT)) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 50 <> 0
        |ORDER BY d.doc_id""".stripMargin),
    "q_sample_stratified" -> fixed(qSampleStratified _)(
      """SELECT doc_id, source, substring(md5(text), 1, 3) AS samp_key
        |FROM documents
        |WHERE substring(md5(text), 1, 3) <
        |  (CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 2 = 0
        |    THEN '800' ELSE '333' END)
        |ORDER BY doc_id""".stripMargin),
    "q_source_mix" -> fixed(qSourceMix _)(
      """WITH per AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens FROM per)
        |SELECT source, n_docs, tokens,
        |  CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
        |  CAST(FLOOR(1000000 *
        |    (CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)))
        |    AS BIGINT) AS token_budget
        |FROM per CROSS JOIN t ORDER BY source""".stripMargin),
    // DuckDB list_slice end is INCLUSIVE (start-1+len), unlike Spark's
    // slice(start, length)
    "q_chunk_windows" -> fixed(qChunkWindows _)(
      s"""WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\\s+') AS ws
        |  FROM documents),
        |t AS (SELECT doc_id, ws, len(ws) AS n FROM w),
        |${chunkWindowsSql("t")}""".stripMargin),
    "q_pii_scrub" -> fixed(qPiiScrub _)(
      """SELECT event_id,
        |  regexp_replace(props, '\d+', '[NUM]', 'g') AS props_clean,
        |  CAST(len(regexp_extract_all(props, '\d+')) AS BIGINT) AS n_redacted
        |FROM events ORDER BY event_id""".stripMargin),
    "q_repetition_filter" -> fixed(qRepetitionFilter _)(
      s"""WITH ${TextQueries.wordsCte("w", "doc_id")},
        |d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
        |  FROM w),
        |bg AS (SELECT doc_id, ${TextQueries.wordBigramsSql("ws")} AS b
        |  FROM w),
        |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
        |bt AS (SELECT doc_id, MAX(c) AS top_bigram_n,
        |    CAST(SUM(c) AS BIGINT) AS n_bigrams FROM bc GROUP BY doc_id)
        |SELECT d.doc_id, n_words, n_distinct,
        |  1.0 - CAST(n_distinct AS DOUBLE)/CAST(n_words AS DOUBLE) AS dup_word_ratio,
        |  CAST(top_bigram_n AS DOUBLE)/CAST(n_bigrams AS DOUBLE) AS top_bigram_frac,
        |  (1.0 - CAST(n_distinct AS DOUBLE)/CAST(n_words AS DOUBLE)) <= 0.95
        |    AND CAST(top_bigram_n AS DOUBLE)/CAST(n_bigrams AS DOUBLE) <= 0.18 AS keep
        |FROM d JOIN bt ON d.doc_id = bt.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    // the composed pipeline: sample → repetition keep → chunk, each stage
    // the proven oracle fragment of its standalone query
    "q_corpus_pipeline" -> fixed(qCorpusPipeline _)(
      s"""WITH s AS (SELECT doc_id, text FROM documents
        |  WHERE substring(md5(text), 1, 3) <
        |    (CASE WHEN CAST(regexp_extract(source, '(\\d+)', 1) AS INT) % 2 = 0
        |      THEN '800' ELSE '333' END)),
        |w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS lws
        |  FROM s),
        |d AS (SELECT doc_id, len(lws) AS n_words,
        |    len(list_distinct(lws)) AS n_distinct FROM w),
        |bg AS (SELECT doc_id, ${TextQueries.wordBigramsSql("lws")} AS b
        |  FROM w),
        |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
        |bt AS (SELECT doc_id, MAX(c) AS top_n, SUM(c) AS n_bg FROM bc GROUP BY doc_id),
        |keep AS (SELECT d.doc_id FROM d JOIN bt ON d.doc_id = bt.doc_id
        |  WHERE 1.0 - CAST(n_distinct AS DOUBLE)/CAST(n_words AS DOUBLE) <= 0.95
        |    AND CAST(top_n AS DOUBLE)/CAST(n_bg AS DOUBLE) <= 0.18),
        |t AS (SELECT s.doc_id, regexp_split_to_array(trim(s.text), '\\s+') AS ws
        |  FROM s JOIN keep ON s.doc_id = keep.doc_id),
        |t2 AS (SELECT doc_id, ws, len(ws) AS n FROM t),
        |${chunkWindowsSql("t2")}""".stripMargin),
    // the two-phase enumeration (bounded subbucket counts + offsets +
    // within-subbucket row_number) equals ONE window ranked by
    // (subbucket, key, doc_id) within the shard — which is how the oracle
    // replays it; shard/subbucket are ascii arithmetic on md5 hex chars,
    // identical in both engines
    "q_shard_shuffle" -> fixed(qShardShuffle _)(
      """WITH k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key
        |  FROM documents),
        |d AS (SELECT doc_id, key,
        |    (ascii(substring(key,1,1)) - CASE WHEN ascii(substring(key,1,1)) >= 97
        |      THEN 87 ELSE 48 END) % 8 AS shard,
        |    ascii(substring(key,2,1)) - CASE WHEN ascii(substring(key,2,1)) >= 97
        |      THEN 87 ELSE 48 END AS sub
        |  FROM k)
        |SELECT doc_id, CAST(shard AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY sub, key, doc_id) - 1 AS BIGINT) AS pos
        |FROM d ORDER BY shard, pos""".stripMargin),
    // two-phase curriculum enumeration == ONE window ordered globally by
    // (tier, subbucket, key, doc_id) — the same replay shape as
    // q_shard_shuffle; quality fragment = the proven q_quality_score CTE
    "q_curriculum" -> fixed(qCurriculum _)(
      """WITH b AS (SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars_txt,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
        |    CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|is)\b')) AS BIGINT) AS n_stop
        |  FROM documents),
        |q AS (SELECT doc_id,
        |    0.4 * least(1.0, CAST(n_words AS DOUBLE)/200.0)
        |    + 0.3 * (1.0 - least(1.0, (CAST(n_punct AS DOUBLE)/n_chars_txt) * 5.0))
        |    + 0.3 * least(1.0, (CAST(n_stop AS DOUBLE)/n_words) * 4.0) AS quality
        |  FROM b),
        |t AS (SELECT doc_id,
        |    CAST(3 - least(3, CAST(floor(quality * 4.0) AS INT)) AS INT) AS tier,
        |    md5(CAST(doc_id AS VARCHAR)) AS key
        |  FROM q),
        |d AS (SELECT doc_id, tier, key,
        |    ascii(substring(key,1,1)) - CASE WHEN ascii(substring(key,1,1)) >= 97
        |      THEN 87 ELSE 48 END AS sub
        |  FROM t)
        |SELECT doc_id, tier,
        |  CAST(row_number() OVER (ORDER BY tier, sub, key, doc_id) - 1
        |    AS BIGINT) AS pos
        |FROM d ORDER BY pos""".stripMargin),
    // Efraimidis-Spirakis replay: u from the LOW 53 BITS of the md5 lane
    // (exact in a double on both engines — the full unsigned lane would
    // double-round in Spark), snapped ln, weight division, top-8 per
    // source by (key desc, doc_id)
    "q_sample_reservoir" -> fixed(qSampleReservoir _)(
      """WITH k AS (SELECT source, doc_id,
        |    (floor(ln((CAST(md5_number_lower(CAST(doc_id AS VARCHAR))
        |          AS HUGEINT) % 9007199254740992 + 1)
        |        / 9007199254740992.0) * 65536.0) / 65536.0)
        |      / CAST(n_chars + 1 AS DOUBLE) AS es_key
        |  FROM documents),
        |r AS (SELECT source, doc_id, es_key, row_number() OVER
        |    (PARTITION BY source ORDER BY es_key DESC, doc_id) AS rn
        |  FROM k)
        |SELECT source, doc_id, es_key FROM r WHERE rn <= 8
        |ORDER BY source, es_key DESC, doc_id""".stripMargin),
    // domain-quota pass: the engine runs the bounded-heap topk aggregate
    // (k·partitions rows per source through the exchange); the oracle is
    // the WINDOW form — heap == window semantics incl. tie order
    // (n_chars DESC, doc_id ASC) is re-proven by hash every round
    "q_source_quota" -> fixed(qSourceQuota _)(
      """WITH r AS (SELECT source, doc_id, length(text) AS n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY length(text) DESC, doc_id) AS rank
        |  FROM documents)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM r WHERE rank <= 50 ORDER BY source, rank""".stripMargin),
    // the NAIVE per-row running-sum window — the engine's histogram-window
    // fill must equal it exactly (keep while tokens-before < budget, the
    // crossing doc kept)
    "q_token_budget" -> fixed(qTokenBudget _)(
      """WITH d AS (SELECT source, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |w AS (SELECT source, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY n_tokens DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM d)
        |SELECT source, doc_id, n_tokens FROM w WHERE cum_before < 800
        |ORDER BY source, n_tokens DESC, doc_id""".stripMargin),
    // α=1/2 temperature weights: sqrt is correctly rounded in both
    // engines, each weight snaps to the 2^-20 grid pre-sum → the
    // normalizer is an exact dyadic sum, shares single IEEE divisions
    "q_source_temperature" -> fixed(qSourceTemperature _)(
      """WITH per AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+')))
        |      AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT *, floor(sqrt(CAST(tokens AS DOUBLE)) * 1048576.0)
        |    / 1048576.0 AS w FROM per),
        |t AS (SELECT SUM(w) AS wsum, CAST(SUM(tokens) AS BIGINT)
        |    AS total_tokens FROM w)
        |SELECT source, n_docs, tokens,
        |  CAST(tokens AS DOUBLE) / total_tokens AS raw_share,
        |  w / wsum AS temp_share,
        |  CAST(floor(1000000.0 * (w / wsum)) AS BIGINT) AS token_budget
        |FROM w, t ORDER BY source""".stripMargin),
    "q_train_split" -> fixed(qTrainSplit _)(
      """SELECT doc_id, source,
        |  CAST(((doc_id * 2654435761) >> 16) % 100 AS BIGINT) AS bucket,
        |  CASE WHEN ((doc_id * 2654435761) >> 16) % 100 < 80 THEN 'train'
        |       WHEN ((doc_id * 2654435761) >> 16) % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    // KMV replay: masked hashes are exact longs in both engines (mod 2^62
    // of the md5 lane — non-negative, identical ordering); the estimator
    // divides two identically-rounded doubles and snaps to the 2^-16
    // grid; rho/256 is exact dyadic; exact counts ride along
    "q_kmv_overlap" -> fixed(qKmvOverlap _)(
      s"""WITH ${SimilarityQueries.distinctTrigramCtes},
        |p AS (SELECT doc_id, unnest(sg) AS s FROM sh),
        |hh AS (SELECT doc_id, CAST(CAST(md5_number_lower(s) AS HUGEINT)
        |    % 4611686018427387904 AS BIGINT) AS h FROM p),
        |ea AS (SELECT DISTINCT h FROM hh WHERE doc_id % 2 = 0),
        |eb AS (SELECT DISTINCT h FROM hh WHERE doc_id % 3 = 0),
        |sa AS (SELECT h FROM ea ORDER BY h LIMIT 256),
        |sb AS (SELECT h FROM eb ORDER BY h LIMIT 256),
        |su AS (SELECT DISTINCT h FROM
        |    (SELECT h FROM sa UNION ALL SELECT h FROM sb)
        |  ORDER BY h LIMIT 256),
        |kth AS (SELECT MAX(h) AS kth_value, COUNT(*) AS k FROM su),
        |rho_t AS (SELECT COUNT(*) AS rho FROM su
        |  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
        |exu AS (SELECT COUNT(*) AS exact_union FROM
        |  (SELECT h FROM ea UNION SELECT h FROM eb)),
        |exi AS (SELECT COUNT(*) AS exact_intersection FROM ea
        |  WHERE h IN (SELECT h FROM eb)),
        |est AS (SELECT k, kth_value,
        |    floor((CAST(255 AS DOUBLE) * CAST(4611686018427387904 AS DOUBLE)
        |      / CAST(kth_value AS DOUBLE)) * CAST(65536 AS DOUBLE))
        |      / CAST(65536 AS DOUBLE) AS est_union
        |  FROM kth)
        |SELECT CAST(k AS BIGINT) AS k, kth_value, est_union, exact_union,
        |  CAST(rho AS BIGINT) AS rho,
        |  CAST(rho AS DOUBLE) / CAST(256 AS DOUBLE) AS jaccard_est,
        |  est_union * (CAST(rho AS DOUBLE) / CAST(256 AS DOUBLE))
        |    AS est_intersection,
        |  exact_intersection
        |FROM est CROSS JOIN rho_t CROSS JOIN exu CROSS JOIN exi""".stripMargin),
    // Hamilton apportionment in exact long arithmetic: scaled remainders
    // (S·n mod N) avoid fractions; Σ alloc == S by construction
    "q_largest_remainder" -> fixed(qLargestRemainder _)(
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents
        |  GROUP BY 1),
        |t AS (SELECT source, n_docs, SUM(n_docs) OVER () AS n_total FROM c),
        |s AS (SELECT source, n_docs,
        |    (10000 * n_docs) // n_total AS base,
        |    (10000 * n_docs) % n_total AS rem FROM t),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rem_rank,
        |    10000 - SUM(base) OVER () AS leftover FROM s)
        |SELECT source, n_docs,
        |  CAST(base + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc,
        |  CAST(rem_rank AS BIGINT) AS rem_rank
        |FROM r ORDER BY source""".stripMargin),
  )
}
