package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Components, Similarity}
import graft.sources.Datalake

/** Streaming arrival form of incremental CLUSTER maintenance — the
  * continuous twin of q_dedup_clusters_incremental, built the way
  * CorpusStreams.incrementalDedupStream is: every micro-batch of newly
  * arrived vectors is one "daily batch", folded into the PERSISTED
  * component store with the batch operator
  * (Components.incrementalComponents) inside foreachBatch, so stream and
  * batch cannot disagree on cluster semantics.
  *
  * Unlike the dedup stream (stateless: new-vs-history only), the cluster
  * fold is SEQUENTIAL — epoch N folds into the labeling epoch N-1
  * produced, and its pair derivation must see every earlier batch's
  * bucket rows, not just history's. Both stores are therefore
  * epoch-versioned on disk, which is also what makes crash-replay
  * idempotent:
  *  - bucket rows land at `bucketsIncDir/epoch=N` (overwrite-on-replay);
  *    the pair join for epoch N reads base buckets + increments < N, so a
  *    replayed epoch never sees its own half-written first attempt;
  *  - labels land at `labelsDir/epoch=N`; the fold reads the labeling at
  *    the LATEST epoch < N (or the base store for the first epoch), so a
  *    replay re-derives epoch N from exactly the pre-crash state.
  *
  * Scale shape per epoch: bucket projection is map-side on the batch; the
  * pair join shuffles O(batch bucket rows) with the batch as build side;
  * the contracted fold is O(batch pairs + touched components); the store
  * relabel is a broadcast remap. The growing increment list is the same
  * story as the dedup sketch store: a periodic compaction folds
  * increments into the base buckets (and the latest labels into the base
  * labeling) — bounded housekeeping, not part of the per-epoch path.
  */
object ClusterStreams {

  private def epochsIn(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toLong)
  }

  /** The bounded housekeeping both stores' docs promise: fold the
    * epoch-versioned increments back into base form. New base buckets =
    * old base ∪ every increment (bucket rows only ever accumulate); new
    * base labels = the labeling at the LATEST epoch (labels supersede,
    * they don't accumulate — the latest version IS the full-corpus
    * labeling). After compaction the increment/label epoch dirs are dead
    * and a stream RESUMES against the new base with a fresh checkpoint —
    * the per-epoch read fan-in drops back to one store. CorpusStreamSpec
    * proves fold → compact → resume → fold lands on exactly the
    * from-scratch labeling.
    */
  def compactStores(spark: org.apache.spark.sql.SparkSession,
      baseBuckets: DataFrame, bucketsIncDir: String, labelsDir: String,
      outBucketsPath: String, outLabelsPath: String): Unit = {
    // resolve the label high-water mark FIRST: compacting with no labeling
    // at all must refuse up front (not die after half the outputs are
    // written), and bucket increments ABOVE the latest labeled epoch are a
    // crashed fold's orphans — folding them into the base would bake the
    // torn epoch in permanently (its rows bucketed forever but never
    // labeled, and re-bucketed AGAIN when the fold replays), so they are
    // left as increments for the replay to overwrite.
    val labelEpochs = epochsIn(spark, labelsDir)
    require(labelEpochs.nonEmpty,
      s"compactStores: no labeled epoch under $labelsDir — nothing to " +
        "compact (stream has not completed a fold yet)")
    val latest = labelEpochs.max
    val compacted = epochsIn(spark, bucketsIncDir).filter(_ <= latest).sorted
      .map(e => spark.read.parquet(s"$bucketsIncDir/epoch=$e"))
      .foldLeft(baseBuckets)(_ unionByName _)
    Datalake.writeParquet(compacted, outBucketsPath)
    Datalake.writeParquet(
      spark.read.parquet(s"$labelsDir/epoch=$latest"), outLabelsPath)
  }

  /** ONE epoch's fold — the foreachBatch body, factored out so the replay
    * path is directly testable: calling foldEpoch twice for the same epoch
    * (a crash-replay) must land on the same stores, because the epoch
    * reads only state strictly BELOW its own epoch number and overwrites
    * its own outputs (CorpusStreamSpec pins this).
    */
  private[graft] def foldEpoch(batch: DataFrame, epoch: Long,
      baseLabels: DataFrame, baseBuckets: DataFrame,
      bucketsIncDir: String, labelsDir: String): Unit = {
    val s = batch.sparkSession
    // 1. land this epoch's bucket rows (written once, read back as both
    //    join input and the store increment — the batch-sketch pattern)
    val bPath = s"$bucketsIncDir/epoch=$epoch"
    Datalake.writeParquet(Similarity.lshBuckets(batch), bPath)
    val batchBuckets = s.read.parquet(bPath)
    // 2. pre-crash state: labels at the latest epoch < this one (or the
    //    base store), buckets of base + every PRIOR epoch
    val prevLabels = epochsIn(s, labelsDir).filter(_ < epoch)
      .sorted.lastOption
      .map(e => s.read.parquet(s"$labelsDir/epoch=$e"))
      .getOrElse(baseLabels)
    val priorBuckets = epochsIn(s, bucketsIncDir).filter(_ < epoch)
      .sorted
      .map(e => s.read.parquet(s"$bucketsIncDir/epoch=$e"))
      .foldLeft(baseBuckets)(_ unionByName _)
    // 3. fold: day pairs → contracted propagation → versioned labels
    val newPairs = Similarity.lshIncrementalPairs(batchBuckets, priorBuckets)
    Datalake.writeParquet(
      Components.incrementalComponents(prevLabels,
        batch.select(col("id")), newPairs),
      s"$labelsDir/epoch=$epoch")
  }

  /** `vecs`: streaming (id, emb) arrivals. `baseLabels` (id, component) and
    * `baseBuckets` (lshBuckets rows) are "yesterday's" persisted stores.
    */
  def incrementalClusterStream(vecs: DataFrame, baseLabels: DataFrame,
      baseBuckets: DataFrame, bucketsIncDir: String, labelsDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    StreamReplay.foreachEpoch(vecs, checkpoint)(
      foldEpoch(_, _, baseLabels, baseBuckets, bucketsIncDir, labelsDir))
}
