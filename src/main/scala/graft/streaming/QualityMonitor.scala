package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Profiler

/** Streaming data-quality monitoring: the declarative [[Profiler]]
  * rules evaluated over every arriving file batch, with the long-form
  * report (tagged by batch_id) written to its own `batch_<id>` parquet
  * directory under the report store (read them all back with
  * `parquet(s"$reportDir/batch_*")`) — "expectations at the ingest
  * front door", continuously.
  *
  * Same architecture as [[DocIngest]]: durable state is the append-only
  * report itself, the checkpoint tracks only file progress, so a
  * restart resumes monitoring exactly where it stopped and batch jobs
  * can read the same report store. Each batch costs one scan + a
  * 2·|rules|+1-accumulator aggregate — ingest-bandwidth monitoring at
  * any corpus size. */
object QualityMonitor {

  def start(spark: SparkSession, srcDir: String, reportDir: String,
      checkpointDir: String, rules: Seq[Profiler.Rule],
      oneFilePerBatch: Boolean = false): StreamingQuery =
    FileIngest.stream(spark, srcDir, checkpointDir, oneFilePerBatch) {
      (batch, batchId) =>
        // one OVERWRITTEN directory per batch id: a batch redelivered
        // after a crash between write and checkpoint commit replaces
        // its own report instead of appending a duplicate (the same
        // retry-idempotence contract as DocIngest's per-batch dirs)
        Profiler.check(batch, rules)
          .withColumn("batch_id", lit(batchId))
          .coalesce(1)
          .write.mode("overwrite")
          .parquet(s"$reportDir/batch_$batchId")
    }

  /** Drain the current backlog and stop — replay/backfill harness;
    * production keeps the query running. */
  def runToCompletion(spark: SparkSession, srcDir: String,
      reportDir: String, checkpointDir: String,
      rules: Seq[Profiler.Rule],
      oneFilePerBatch: Boolean = true,
      shufflePartitions: Option[Int] =
        Some(EventStream.ReplayPartitions)): Unit =
    FileIngest.withPartitions(spark, shufflePartitions) {
      FileIngest.drain(start(spark, srcDir, reportDir, checkpointDir,
        rules, oneFilePerBatch))
    }
}
