package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Dedup

/** STREAMING near-duplicate screen: document files land in a directory
  * and every micro-batch is LSH-screened against the PERSISTED
  * replayable MinHash index ([[Dedup.writeReplayableIndex]]) — the
  * stream-static face of incremental dedup, and (because the index
  * carries the md5 hash family) the first STREAMING near-dup whose
  * whole pipeline — signatures, banding, candidate join, exact-Jaccard
  * verification — replays under an ANSI-SQL oracle (q203). The
  * production ingest loop ([[Dedup.ingest]], xxhash64 longs, index
  * growth, in-batch dedup) stays the deployment path; this face is its
  * verification twin, screen-only against a fixed index.
  *
  * Per-batch evidence is complete within the batch (a document's
  * shingles all come from its single row and the other join side is
  * static), but foreachBatch is only at-least-once, so each batch's
  * report lands in its own `batch_id=<id>` partition directory with
  * overwrite ([[FileIngest.writeBatchExactlyOnce]]) — a crash-replayed
  * batch overwrites its own previous output instead of duplicating it
  * (the q198/q202 contract). At 100 TB each arriving shard pays O(shard)
  * md5 signatures + one bucket join against the index; the screened
  * corpus is never re-read. */
object NearDupStream {

  def runToCompletion(spark: SparkSession, srcDir: String,
      indexDir: String, outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5, oneFilePerBatch: Boolean = true,
      shufflePartitions: Option[Int] =
        Some(EventStream.ReplayPartitions)): Unit = {
    // read the index ONCE (geometry + bands + shingle sets), not per
    // micro-batch
    val meta = spark.read.parquet(s"$indexDir/meta").head()
    val (numHashes, bands, shingleN) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val corpusBands = spark.read.parquet(s"$indexDir/bands")
    val corpusSh = spark.read.parquet(s"$indexDir/sh")
    FileIngest.withPartitions(spark, shufflePartitions) {
      FileIngest.drain(
        FileIngest.stream(spark, srcDir, checkpointDir, oneFilePerBatch) {
          (batch, batchId) =>
            FileIngest.writeBatchExactlyOnce(
              Dedup.minhashScreenReplayable(corpusBands, corpusSh, batch,
                idCol, textCol, numHashes, bands, threshold, shingleN),
              outDir, batchId)
        })
    }
  }

  /** Read the accumulated screen output (drops the batch_id layout
    * column — consumers see the per-batch schema). */
  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    FileIngest.readBatchedOutput(spark, outDir)
}
