package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.operators.Sketches

/** STREAMING cardinality growth: key files land in a directory and
  * each micro-batch upserts at most 2^p portable-HLL register rows
  * ([[Sketches.upsertHllBatch]]) into the persisted artifact — "how
  * many distinct keys has this corpus ever seen" stays answerable from
  * the artifact alone while the data streams in, never by rescanning
  * history. The batchId-keyed dynamic partitioned overwrite makes an
  * at-least-once redelivery replace its own rows (the q207 moments
  * contract), and register-max merge across batches makes the merged
  * sketch independent of how the stream was batched — so the q211 face
  * hash-matches the single-pass q209 oracle through the checkpoint. */
object HllStream {

  def runToCompletion(spark: SparkSession, srcDir: String,
      hllDir: String, checkpointDir: String, keyCol: String,
      p: Int = 8, oneFilePerBatch: Boolean = true,
      shufflePartitions: Option[Int] =
        Some(EventStream.ReplayPartitions)): Unit =
    FileIngest.withPartitions(spark, shufflePartitions) {
      FileIngest.drain(
        FileIngest.stream(spark, srcDir, checkpointDir, oneFilePerBatch) {
          (batch, batchId) =>
            Sketches.upsertHllBatch(batch, keyCol, hllDir, batchId, p)
        })
    }
}
