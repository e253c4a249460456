package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.streaming.CorpusStreams

class CorpusStreamSpec extends SparkSpecBase {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  test("AvailableNow backfill drains a multi-file backlog in bounded batches") {
    val dir = graft.streaming.StreamReplay.scratch("graft-backfill")
    // 3 identical files = a backlog; maxFilesPerTrigger=1 → ≥3 micro-batches
    (1 to 3).foreach { i =>
      Files.copy(Paths.get(s"$sfDir/documents.parquet"),
        dir.resolve(s"drop$i.parquet"))
    }
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val batches = new AtomicInteger(0)
    val rows = new AtomicLong(0L)
    val maxBatchRows = new AtomicLong(0L)
    val q = CorpusStreams.readDocFiles(spark, dir.toString, docSchema, 1)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        graft.streaming.StreamReplay.scratch("graft-backfill-ckpt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val n = batch.count()
        if (n > 0) {
          batches.incrementAndGet()
          rows.addAndGet(n)
          maxBatchRows.getAndUpdate(m => math.max(m, n))
        }
        ()
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow must terminate on its own")
    assert(rows.get() === 3 * nDocs, "backfill must process every file exactly once")
    assert(batches.get() >= 3, s"rate limit ignored: ${batches.get()} batches")
    assert(maxBatchRows.get() <= nDocs,
      s"a micro-batch exceeded one file: ${maxBatchRows.get()}")
  }

  test("streaming incremental dedup: union of micro-batch results equals one batch run") {
    import graft.ops.Dedup
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val hist = docs.filter(col("doc_id") % 5 =!= 4)
    val batch = docs.filter(col("doc_id") % 5 === 4)
    // persisted store (yesterday's job)
    val histSk = Dedup.minhashSketch(hist, col("doc_id"), col("text"))
    val exact = histSk.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val bands = Dedup.bandRows(histSk.select(col("doc_id"), col("__sig")), 32, 8)
    // today's crawl lands as TWO file drops → two micro-batches. The file
    // source does not recurse into non-partition subdirs, so each drop
    // must be a parquet FILE in dropDir, not a write-output directory
    val dropDir = graft.streaming.StreamReplay.scratch("graft-incr-drops")
    def land(df: DataFrame, name: String): Unit = {
      val stage = graft.streaming.StreamReplay.scratch("graft-incr-stage").resolve("out")
      df.coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dropDir.resolve(name))
    }
    land(batch.filter(col("doc_id") % 2 === 0), "drop1.parquet")
    land(batch.filter(col("doc_id") % 2 =!= 0), "drop2.parquet")
    val incDir = graft.streaming.StreamReplay.scratch("graft-incr-store").toString
    val resDir = graft.streaming.StreamReplay.scratch("graft-incr-res").toString
    val q = CorpusStreams.incrementalDedupStream(
      CorpusStreams.readDocFiles(spark, dropDir.toString, docSchema, 1)
        .select(col("doc_id"), col("text")),
      exact, bands, incDir, resDir,
      graft.streaming.StreamReplay.scratch("graft-incr-ckpt").toString)
    try {
      val done = q.awaitTermination(120000)
      assert(done, "AvailableNow query did not drain the drops in 120s")
    } finally if (q.isActive) q.stop()
    val streamed = spark.read.parquet(resDir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"),
          Option(r.getAs[java.lang.Long]("match_id"))))).toMap
    val once = Dedup.incrementalDedup(
        Dedup.minhashSketch(batch, col("doc_id"), col("text")), exact, bands)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"),
          Option(r.getAs[java.lang.Long]("match_id"))))).toMap
    // new-vs-history only => chunking the arrival is exact
    assert(streamed === once,
      s"stream-only=${streamed.toSet -- once.toSet}, batch-only=${once.toSet -- streamed.toSet}")
    // the store increments landed (one sketch dir per epoch, ready to
    // compact into tomorrow's store)
    val inc = spark.read.parquet(incDir)
    assert(inc.count() === batch.count())
  }

  test("streaming incremental clusters: sequential epoch folds equal one from-scratch run") {
    import graft.ops.{Components, Similarity}
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val c = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val hist = c.filter(col("id") % 5 =!= 4)
    val batch = c.filter(col("id") % 5 === 4)
    // "yesterday's" persisted stores
    val baseLabels = Components.connectedComponents(hist.select(col("id")),
      Similarity.hyperplaneLshPairs(hist)
        .select(col("id_a").as("src"), col("id_b").as("dst")))
    val baseBuckets = Similarity.lshBuckets(hist)
    // today's arrivals land as TWO file drops → two SEQUENTIAL epochs
    // (unlike the dedup stream, epoch 2's fold depends on epoch 1's
    // labels and bucket rows — this is the stateful case)
    def land(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
      val stage = graft.streaming.StreamReplay.scratch("graft-clus-stage").resolve("out")
      df.coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(name))
    }
    val dropDir = graft.streaming.StreamReplay.scratch("graft-clus-drops")
    val src = spark.read.parquet(s"$sfDir/embeddings.parquet")
    land(src.filter(col("vec_id") % 5 === 4 && col("vec_id") % 3 === 0),
      dropDir, "drop1.parquet")
    land(src.filter(col("vec_id") % 5 === 4 && col("vec_id") % 3 === 1),
      dropDir, "drop2.parquet")
    val bucketsInc = graft.streaming.StreamReplay.scratch("graft-clus-binc").toString
    val labelsDir = graft.streaming.StreamReplay.scratch("graft-clus-labels").toString
    val q = graft.streaming.ClusterStreams.incrementalClusterStream(
      CorpusStreams.readDocFiles(spark, dropDir.toString, embSchema, 1)
        .select(col("vec_id").as("id"), col("embedding").as("emb")),
      baseLabels, baseBuckets, bucketsInc, labelsDir,
      graft.streaming.StreamReplay.scratch("graft-clus-ckpt").toString)
    try {
      assert(q.awaitTermination(120000),
        "AvailableNow query did not drain the drops in 120s")
    } finally if (q.isActive) q.stop()
    // both epochs must have produced a versioned labeling
    val epochs = new java.io.File(labelsDir).listFiles()
      .map(_.getName).filter(_.startsWith("epoch=")).sorted
    assert(epochs.length === 2, s"expected 2 label versions, got ${epochs.toSeq}")
    // the bucket increments landed per epoch (compaction feedstock)
    assert(spark.read.parquet(bucketsInc).count() ===
      batch.filter(col("id") % 3 =!= 2).count() * Similarity.LshParams.bands)
    // COMPACT: increments fold back into base form; then a NEW stream
    // (fresh checkpoint, empty increment history) resumes against the
    // compacted base with the third drop
    val cBuckets = graft.streaming.StreamReplay.scratch("graft-clus-cbuck").toString
    val cLabels = graft.streaming.StreamReplay.scratch("graft-clus-clab").resolve("base").toString
    graft.streaming.ClusterStreams.compactStores(spark, baseBuckets,
      bucketsInc, labelsDir, cBuckets, cLabels)
    val dropDir2 = graft.streaming.StreamReplay.scratch("graft-clus-drops2")
    land(src.filter(col("vec_id") % 5 === 4 && col("vec_id") % 3 === 2),
      dropDir2, "drop3.parquet")
    val bucketsInc2 = graft.streaming.StreamReplay.scratch("graft-clus-binc2").toString
    val labelsDir2 = graft.streaming.StreamReplay.scratch("graft-clus-labels2").toString
    val q2 = graft.streaming.ClusterStreams.incrementalClusterStream(
      CorpusStreams.readDocFiles(spark, dropDir2.toString, embSchema, 1)
        .select(col("vec_id").as("id"), col("embedding").as("emb")),
      spark.read.parquet(cLabels), spark.read.parquet(cBuckets),
      bucketsInc2, labelsDir2,
      graft.streaming.StreamReplay.scratch("graft-clus-ckpt2").toString)
    try {
      assert(q2.awaitTermination(120000),
        "resumed AvailableNow query did not drain drop 3 in 120s")
    } finally if (q2.isActive) q2.stop()
    // the final labeling — two folds, a compaction, and a resumed fold
    // later — equals a from-scratch run over the full corpus
    val epochs2 = new java.io.File(labelsDir2).listFiles()
      .map(_.getName).filter(_.startsWith("epoch=")).sorted
    val streamed = spark.read.parquet(s"$labelsDir2/${epochs2.last}")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val once = Components.connectedComponents(c.select(col("id")),
        Similarity.hyperplaneLshPairs(c)
          .select(col("id_a").as("src"), col("id_b").as("dst")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === once,
      s"stream-only=${streamed.toSet -- once.toSet}, " +
        s"batch-only=${once.toSet -- streamed.toSet}")
  }

  test("streaming IVF ingest: folded store equals batch store, serving equals the batch serve") {
    import graft.ops.Similarity
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val c = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val hist = c.filter(col("id") % 5 =!= 4)
    // the frozen coarse quantizer: trained offline, exactly as the
    // registered q_ann_ivf_quantized trains it (same params → same model)
    val cents = Similarity.trainCentroids(c,
      Similarity.cellsFor(c.count()), iters = 2)
    // "yesterday's" base store
    val baseDir = graft.streaming.StreamReplay.scratch("graft-ivf-base").resolve("s").toString
    graft.sources.Datalake.writeParquet(
      Similarity.ivfQuantizedStoreRows(hist, cents), baseDir)
    // today's embeddings arrive as TWO drops → two stateless epoch folds
    def land(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
      val stage = graft.streaming.StreamReplay.scratch("graft-ivf-stage").resolve("out")
      df.coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(name))
    }
    val dropDir = graft.streaming.StreamReplay.scratch("graft-ivf-drops")
    val src = spark.read.parquet(s"$sfDir/embeddings.parquet")
    land(src.filter(col("vec_id") % 5 === 4 && col("vec_id") % 2 === 0),
      dropDir, "drop1.parquet")
    land(src.filter(col("vec_id") % 5 === 4 && col("vec_id") % 2 === 1),
      dropDir, "drop2.parquet")
    val incDir = graft.streaming.StreamReplay.scratch("graft-ivf-inc").toString
    val q = graft.streaming.IndexStreams.ivfStoreStream(
      CorpusStreams.readDocFiles(spark, dropDir.toString, embSchema, 1)
        .select(col("vec_id").as("id"), col("embedding").as("emb")),
      cents, incDir,
      graft.streaming.StreamReplay.scratch("graft-ivf-ckpt").toString)
    try {
      assert(q.awaitTermination(120000),
        "AvailableNow query did not drain the drops in 120s")
    } finally if (q.isActive) q.stop()
    // store equality: base + streamed increments == one batch build over
    // the full corpus, row for row (cell assignment AND quantized bytes)
    def storeSet(df: DataFrame) = df
      .select(col("id"), col("cell"), col("qemb.scale"), hex(col("qemb.q")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getFloat(2), r.getString(3)))
      .toSet
    val live = graft.streaming.IndexStreams.liveStore(
      spark, spark.read.parquet(baseDir), incDir)
    val streamedStore = storeSet(live)
    val batchStore = storeSet(Similarity.ivfQuantizedStoreRows(c, cents))
    assert(streamedStore === batchStore,
      s"stream-only=${(streamedStore -- batchStore).take(3)}, " +
        s"batch-only=${(batchStore -- streamedStore).take(3)}")
    // serving equality: top-k from the streamed store (stored cells)
    // equals the on-the-fly quantized serve the registered
    // q_ann_ivf_quantized runs — whose DuckDB oracle re-proves it exact
    // every round
    val queries = c.filter(col("id") < 10)
      .select(col("id").as("query_id"), col("emb").as("q_emb"))
    def served(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(
      served(Similarity.ivfKnnFromStore(live, queries, cents, k = 5, nProbe = 4)) ===
        served(Similarity.ivfFlatKnnQuantized(Similarity.quantizeCorpus(c),
          queries, cents, k = 5, nProbe = 4)),
      "serving from the streamed store must equal the batch quantized serve")
  }

  test("cluster fold replay is idempotent: re-running an epoch lands on identical stores") {
    import graft.ops.{Components, Similarity}
    val c = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    val hist = c.filter(col("id") % 5 =!= 4)
    val batch = c.filter(col("id") % 5 === 4)
    val baseLabels = Components.connectedComponents(hist.select(col("id")),
      Similarity.hyperplaneLshPairs(hist)
        .select(col("id_a").as("src"), col("id_b").as("dst")))
    val baseBuckets = Similarity.lshBuckets(hist)
    val binc = graft.streaming.StreamReplay.scratch("graft-replay-binc").toString
    val ldir = graft.streaming.StreamReplay.scratch("graft-replay-labels").toString
    val b0 = batch.filter(col("id") % 2 === 0)
    val b1 = batch.filter(col("id") % 2 =!= 0)
    graft.streaming.ClusterStreams.foldEpoch(b0, 0, baseLabels, baseBuckets, binc, ldir)
    graft.streaming.ClusterStreams.foldEpoch(b1, 1, baseLabels, baseBuckets, binc, ldir)
    val first = spark.read.parquet(s"$ldir/epoch=1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketRows = spark.read.parquet(binc).count()
    // crash-replay of epoch 1: the fold reads only state BELOW its epoch
    // and overwrites its own outputs, so a retry must change nothing
    graft.streaming.ClusterStreams.foldEpoch(b1, 1, baseLabels, baseBuckets, binc, ldir)
    val replayed = spark.read.parquet(s"$ldir/epoch=1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replayed === first, "replayed epoch diverged from its first run")
    assert(spark.read.parquet(binc).count() === bucketRows,
      "replay must overwrite its bucket increment, not append to it")
  }

  test("streaming clean agrees with the batch funnel signals on the same docs") {
    val dir = graft.streaming.StreamReplay.scratch("graft-cleanstream")
    Files.copy(Paths.get(s"$sfDir/documents.parquet"),
      dir.resolve("documents.parquet"))
    val q = CorpusStreams.cleanDocs(
        CorpusStreams.readDocFiles(spark, dir.toString, docSchema, 10))
      .writeStream.format("memory").queryName("clean_docs").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("clean_docs")
        .select("doc_id", "pred_lang", "quality", "fp")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getString(3)))
        .toMap
      // INDEPENDENT batch reference (not cleanDocs itself): re-derive the
      // funnel's clean stage from the TextAnalysis primitives + thresholds
      import graft.ops.TextAnalysis._
      val batch = graft.sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          langPredict(col("text")).as("pred_lang"),
          qualityScore(wsTokenCount(col("text")),
            punctCount(col("text")).cast("double") / length(col("text")),
            langScore(col("text"), "en").cast("double") / wsTokenCount(col("text")))
            .as("quality"),
          fingerprint(col("text")).as("fp"))
        .filter(col("pred_lang") === "en" && col("quality") >= 0.5)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getString(3)))
        .toMap
      assert(streamed === batch)
      assert(batch.nonEmpty, "clean set must be non-trivial")
      // and the batch funnel's final output (clean + dedup) is a subset of
      // the streamed clean stage — batch and stream agree on "clean"
      val funnel = graft.queries.TextQueries.qCorpusFunnel(spark, sfDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(funnel.subsetOf(streamed.keySet),
        "funnel output must be a subset of the streamed clean set")
    } finally q.stop()
  }

  test("streaming CMS fold is EXACT: summed increments equal one batch sketch") {
    import graft.ops.Sketches
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // the corpus arrives as two file drops → two epochs, two increments
    val dropDir = graft.streaming.StreamReplay.scratch("graft-cms-drops")
    def land(df: DataFrame, name: String): Unit = {
      val stage = graft.streaming.StreamReplay.scratch("graft-cms-stage").resolve("out")
      df.coalesce(1).write.parquet(stage.toString)
      val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dropDir.resolve(name))
    }
    land(docs.filter(col("doc_id") % 2 === 0), "drop1.parquet")
    land(docs.filter(col("doc_id") % 2 =!= 0), "drop2.parquet")
    val storeDir = graft.streaming.StreamReplay.scratch("graft-cms-store").toString
    val q = CorpusStreams.cmsStream(
      CorpusStreams.readDocFiles(spark, dropDir.toString, docSchema, 1)
        .select(col("text")),
      storeDir,
      graft.streaming.StreamReplay.scratch("graft-cms-ckpt").toString, width = 256)
    try assert(q.awaitTermination(120000), "AvailableNow must terminate")
    finally q.stop()
    assert(Files.list(Paths.get(storeDir))
      .filter(_.getFileName.toString.startsWith("epoch=")).count() >= 2,
      "each micro-batch must land its own increment")
    def cells(df: DataFrame): Map[(Int, Int), Long] = df.collect()
      .map(r => (r.getInt(0), r.getAs[Number](1).intValue()) ->
        r.getAs[Number](2).longValue()).toMap
    val folded = cells(CorpusStreams.cmsRead(spark, storeDir))
    val batch = cells(Sketches.cmsBuild(
      docs.select(explode(graft.functions.text.wordShingles(col("text"), 1))
        .as("t")), col("t"), width = 256))
    // linearity: sketch(A ∪ B) = sketch(A) + sketch(B), cell for cell
    assert(folded === batch,
      "folded stream sketch must be bit-identical to the batch sketch")
  }
}
