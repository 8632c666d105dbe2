package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.ml.Pca

/** STREAMING model growth: embedding files land in a directory and
  * each micro-batch upserts ONE moments row (n, Σx, Σxxᵀ — a few KB
  * regardless of batch size) into the persisted artifact
  * ([[Pca.upsertMomentsBatch]]) — the covariance/PCA model grows while
  * the data streams in, and fitting ([[Pca.fitFromMoments]] /
  * [[Pca.covarianceFromMoments]]) never reads a data row. Because the
  * row is keyed by the STREAMING batchId and written as a dynamic
  * partitioned overwrite, an at-least-once redelivery replaces its own
  * row — idempotent end-to-end, strictly stronger than the
  * exactly-once-delivery contract [[Pca.appendMoments]] requires of
  * its caller (the q198/q202/q203 streaming-face family, applied to a
  * MODEL artifact instead of an output table: q207 hash-matches the
  * single-pass covariance oracle over everything the stream saw). */
object MomentsStream {

  def runToCompletion(spark: SparkSession, srcDir: String,
      momentsDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      dim: Int = 64, oneFilePerBatch: Boolean = true,
      shufflePartitions: Option[Int] =
        Some(EventStream.ReplayPartitions)): Unit =
    FileIngest.withPartitions(spark, shufflePartitions) {
      FileIngest.drain(
        FileIngest.stream(spark, srcDir, checkpointDir, oneFilePerBatch) {
          (batch, batchId) =>
            Pca.upsertMomentsBatch(batch, vecCol, dim, momentsDir,
              batchId)
        })
    }
}
