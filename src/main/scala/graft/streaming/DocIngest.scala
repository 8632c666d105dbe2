package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.operators.Dedup

/** STREAMING dedup-ingest: the production front door of the corpus.
  * Document files land in a directory; each micro-batch is deduplicated
  * against the GROWING persisted MinHash index ([[Dedup.ingest]]:
  * in-batch near-dups resolved, cross-batch near-dups caught from the
  * index alone — corpus text is never re-read), survivors are written
  * per batch and their signatures appended to the index.
  *
  * The mutable state lives in the PERSISTED INDEX, not in Spark's state
  * store — `foreachBatch` is the right tool precisely because the
  * dedup "state" (the signature index) must outlive the query, be
  * shared with batch jobs ([[graft.Main]]'s `dedup-ingest` verb drives
  * the same [[Dedup.ingest]]), and stay O(corpus signatures) on disk
  * rather than O(keys) per state-store partition. The checkpoint only
  * tracks file progress, so a restart resumes ingesting exactly where
  * it stopped, against the index the previous run left behind.
  *
  * Cost per micro-batch: one signature pass over the batch, plus a
  * re-banding and re-sizing of the WHOLE index for the bucket join, so
  * a batch costs O(batch + index), not O(batch) — the same loop as the
  * batch ingest ([[Dedup.ingest]], DedupIngestSpec); the stream adds
  * only file-arrival orchestration. */
object DocIngest {

  /** Start the ingest stream over `srcDir` (parquet document files with
    * at least (idCol, textCol) columns; ids must be globally unique
    * across batches — the usual monotonic-id ingest contract). Each
    * batch writes `outDir/batch_<id>/` with `batch_index` (the batch's
    * (id, signature, hs) rows), `batch_pairs`, `cross_pairs`, `kept`
    * and, once an index exists, `kept_new` (the survivors not yet in
    * the index), then appends those survivors' signatures to
    * `indexDir`.
    *
    * `oneFilePerBatch` forces file-granularity micro-batches — the
    * deterministic replay used by the spec; leave false in production
    * so a burst of files amortizes into one batch. */
  def start(spark: SparkSession, srcDir: String, indexDir: String,
      outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      shingleN: Int = 3,
      maxBucket: Int = Dedup.DefaultMaxBucket,
      oneFilePerBatch: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    FileIngest.stream(spark, srcDir, checkpointDir, oneFilePerBatch) {
      (batch, batchId) =>
        val (cross, within, kept) = Dedup.ingest(spark, batch,
          indexDir, s"$outDir/batch_$batchId", idCol, textCol,
          numHashes, bands, threshold, shingleN, maxBucket)
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"[doc-ingest] batch=$batchId cross=$cross within=$within " +
            s"kept=$kept")
    }

  /** Run the ingest stream to completion over the files currently in
    * `srcDir` and return per-batch kept counts (ordered by batch id).
    * `Trigger.AvailableNow` ends the query once the backlog drains —
    * the replay/backfill harness; production would use a continuous
    * trigger with the same body. */
  def runToCompletion(spark: SparkSession, srcDir: String,
      indexDir: String, outDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      oneFilePerBatch: Boolean = true): Unit =
    FileIngest.drain(start(spark, srcDir, indexDir, outDir, checkpointDir,
      idCol, textCol, oneFilePerBatch = oneFilePerBatch))
}
