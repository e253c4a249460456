package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.ops.Similarity
import graft.sources.Datalake

/** Streaming ingest into the PERSISTED quantized IVF store — the one
  * LLM-pipeline piece that had no streaming twin (round-7 verdict #8):
  * embeddings arrive continuously (new documents get embedded as they are
  * crawled), and each micro-batch is quantized + cell-assigned map-side
  * against the FROZEN centroid model, then landed as an epoch-versioned
  * store increment. The serving index is always `base ∪ increments` —
  * queries see new vectors one trigger after they arrive, with zero
  * streaming state.
  *
  * Why the model is frozen: production IVF retrains its coarse quantizer
  * OFFLINE (a periodic batch job over a sample) and ships the new model
  * with a store rebuild/compaction; the ingest path must never move
  * centroids, because a vector's stored cell is only valid under the model
  * that assigned it. That makes this fold STATELESS per batch — simpler
  * than the cluster stream (no sequential dependency between epochs), and
  * crash-replay idempotent by epoch-dir overwrite alone.
  *
  * Scale shape per epoch: quantize + assign are projections (no shuffle);
  * the write is O(batch). Compaction (fold increments into the base store,
  * the ClusterStreams.compactStores story) is bounded housekeeping outside
  * the per-epoch path. CorpusStreamSpec proves streamed store == the
  * batch-built store row-for-row AND that serving from it equals the
  * registered q_ann_ivf_quantized results — which the driver's DuckDB
  * oracle re-proves exact every round.
  */
object IndexStreams {

  /** ONE epoch's fold — factored out so replay is directly testable:
    * the fold reads nothing but its own batch and overwrites its own
    * epoch dir, so re-running an epoch lands byte-identical state.
    */
  private[graft] def foldEpoch(batch: DataFrame, epoch: Long,
      cents: Array[Array[Float]], storeIncDir: String): Unit =
    Datalake.writeParquet(
      Similarity.ivfQuantizedStoreRows(batch, cents),
      s"$storeIncDir/epoch=$epoch")

  /** `vecs`: streaming (id, emb) arrivals; `cents`: the frozen coarse
    * quantizer (train offline via Similarity.trainCentroids).
    */
  def ivfStoreStream(vecs: DataFrame, cents: Array[Array[Float]],
      storeIncDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StreamReplay.foreachEpoch(vecs, checkpoint)(
      foldEpoch(_, _, cents, storeIncDir))

  /** The live serving store: base ∪ every landed increment. Readers call
    * this per serve; a periodic compaction folds increments into a new
    * base exactly like ClusterStreams.compactStores.
    */
  def liveStore(spark: org.apache.spark.sql.SparkSession,
      baseStore: DataFrame, storeIncDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(storeIncDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val epochs =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("epoch=")).map(_.stripPrefix("epoch=").toLong)
        .sorted
    epochs.map(e => spark.read.parquet(s"$storeIncDir/epoch=$e"))
      .foldLeft(baseStore)(_ unionByName _)
  }
}
