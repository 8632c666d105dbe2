package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.PiiRedact

/** STREAMING PII screen: document files land in a directory and each
  * micro-batch flows through the SAME [[PiiRedact.redact]] expression
  * the batch pipeline uses, writing the audited redactions per batch.
  * The operator is stateless per row, but foreachBatch alone is only
  * at-least-once — a crash between the sink write and the checkpoint
  * offset commit replays the batch — so each batch lands in its own
  * `batch_id=<id>` partition directory with overwrite
  * ([[FileIngest.writeBatchExactlyOnce]]): the replay overwrites its
  * own previous output and the sink is effectively exactly-once. The
  * stream's union must equal the batch run over the same files — the
  * q41/q102 replay contract, gated by the q198 oracle hash-match.
  *
  * At 100 TB: per micro-batch cost is three codegen'd regex passes per
  * row, no shuffle — the screen keeps up with arrival rate by
  * construction. */
object ScreenStream {

  def runToCompletion(spark: SparkSession, srcDir: String,
      outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      oneFilePerBatch: Boolean = true,
      shufflePartitions: Option[Int] =
        Some(EventStream.ReplayPartitions)): Unit =
    FileIngest.withPartitions(spark, shufflePartitions) {
      FileIngest.drain(
        FileIngest.stream(spark, srcDir, checkpointDir, oneFilePerBatch) {
          (batch, batchId) =>
            FileIngest.writeBatchExactlyOnce(
              PiiRedact.redact(batch, idCol, textCol), outDir, batchId)
        })
    }

  /** Read the accumulated screen output (drops the batch_id layout
    * column — consumers see the per-batch schema). */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    FileIngest.readBatchedOutput(spark, outDir)
}
