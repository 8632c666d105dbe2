package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.operators.Sketches

/** Streaming growth for the other two portable sketches, completing
  * the mergeable-artifact trio with [[HllStream]]: each sketch family
  * has a different merge law, and each law is what makes its 100 TB
  * artifact append-only —
  *
  *   - HLL registers merge by MAX ([[HllStream]], q211): idempotent,
  *     so duplicates can never inflate a distinct count;
  *   - Bloom bits merge by set UNION (here, q212): idempotent, bits
  *     only turn on, so the merged screen keeps zero false negatives;
  *   - count-min counters merge by SUM (here, q213): NOT idempotent —
  *     the batchId-keyed overwrite upsert is what keeps at-least-once
  *     redelivery from double-counting.
  *
  * All three stream bodies write at most a fixed-size counter/bit/
  * register table per micro-batch however large the batch is, and the
  * merged artifact equals the one-pass sketch over everything ingested
  * — which is exactly what q212/q213 hash-match against the q210/q183
  * single-pass oracles through a real checkpoint. */
object SketchStreams {

  /** Drain `srcDir` into a Bloom-bit artifact at `bloomDir`: one
    * union-mergeable bit batch per micro-batch. */
  def runBloomToCompletion(spark: SparkSession, srcDir: String,
      bloomDir: String, checkpointDir: String, keyCol: String,
      mBits: Int = 4096, k: Int = 3,
      oneFilePerBatch: Boolean = true,
      shufflePartitions: Option[Int] =
        Some(EventStream.ReplayPartitions)): Unit =
    FileIngest.withPartitions(spark, shufflePartitions) {
      FileIngest.drain(
        FileIngest.stream(spark, srcDir, checkpointDir, oneFilePerBatch) {
          (batch, batchId) =>
            Sketches.upsertBloomBatch(batch, keyCol, bloomDir, batchId,
              mBits, k)
        })
    }

  /** Drain `srcDir` into a count-min counter artifact at `cmsDir`: one
    * sum-mergeable counter batch per micro-batch. */
  def runCmsToCompletion(spark: SparkSession, srcDir: String,
      cmsDir: String, checkpointDir: String, keyCol: String,
      d: Int = 4, w: Int = 512, oneFilePerBatch: Boolean = true,
      shufflePartitions: Option[Int] =
        Some(EventStream.ReplayPartitions)): Unit =
    FileIngest.withPartitions(spark, shufflePartitions) {
      FileIngest.drain(
        FileIngest.stream(spark, srcDir, checkpointDir, oneFilePerBatch) {
          (batch, batchId) =>
            Sketches.upsertCmsBatch(batch, keyCol, cmsDir, batchId, d, w)
        })
    }

  /** Drain `srcDir` into a histogram artifact at `histDir`: one
    * sum-mergeable bin-count batch per micro-batch — the quantile
    * sketch's streaming face (serve p50/p95/p99 from the artifact
    * while the data streams in). */
  def runHistToCompletion(spark: SparkSession, srcDir: String,
      histDir: String, checkpointDir: String, valueCol: String,
      width: Long, nbins: Int, oneFilePerBatch: Boolean = true,
      shufflePartitions: Option[Int] =
        Some(EventStream.ReplayPartitions)): Unit =
    FileIngest.withPartitions(spark, shufflePartitions) {
      FileIngest.drain(
        FileIngest.stream(spark, srcDir, checkpointDir, oneFilePerBatch) {
          (batch, batchId) =>
            Sketches.upsertHistBatch(batch, valueCol, histDir, batchId,
              width, nbins)
        })
    }
}
