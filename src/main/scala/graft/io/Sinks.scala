package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Output-side operators (SURVEY.md §2.1 S7/S8): the reference's Mongo
  * insert/upsert become JSON / parquet directory writes keyed the same
  * way. Partition count is the caller's concern; docs are small so the
  * default is a single file per doc set.
  */
object Sinks {

  def writeJson(df: DataFrame, path: String, coalesceTo: Int = 1): Unit =
    df.coalesce(coalesceTo).write.mode(SaveMode.Overwrite).json(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Size-governed parquet write: bounds rows per output file
    * (maxRecordsPerFile) and pre-coalesces to an expected file count so
    * a 100 TB write neither produces multi-GB unsplittable files nor a
    * small-files storm. `expectedRows` can come from a cheap count() or
    * upstream metrics. */
  def writeParquetSized(df: DataFrame, path: String, expectedRows: Long,
      targetRowsPerFile: Long): Unit = {
    require(targetRowsPerFile > 0, "targetRowsPerFile must be positive")
    val files = math.max(1L,
      (expectedRows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    df.repartition(files)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRowsPerFile)
      .parquet(path)
  }

  /** Bucketed table write — the co-located-join primitive for fact
    * tables that are joined on the same key again and again: ONE
    * shuffle at write time (`bucketBy` hash-distributes rows into
    * `buckets` files per key, `sortBy` pre-sorts within each bucket),
    * and every later equi-join or aggregation on `key` between tables
    * bucketed the same way plans with ZERO exchanges — at 100 TB the
    * write-once shuffle is amortized across every downstream join
    * (BucketedJoinSpec proves the exchange-free plan). Bucket count is
    * the layout's parallelism contract: pick ~(table size / healthy
    * partition size), NOT the cluster's core count — the layout
    * outlives any one cluster.
    *
    * Goes through the session catalog (`saveAsTable`) because bucket
    * metadata lives in the table definition, not the parquet files —
    * a path-based read of the same files would not know the layout. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
      key: String, moreKeys: String*): Unit = {
    require(buckets > 0, "buckets must be positive")
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, key, moreKeys: _*)
      .sortBy(key, moreKeys: _*)
      .saveAsTable(table)
  }

  /** GLOBALLY range-sorted parquet export: rows are range-partitioned
    * on `key` (sampled split points) and sorted within each partition,
    * so the output files form one totally ordered run — file i's last
    * key ≤ file i+1's first key. This is the layout downstream
    * merge-join readers and binary-search consumers want (sorted-run
    * training shards, time-ordered event archives), and parquet's
    * per-row-group min/max stats make point/range reads on `key` prune
    * almost everything. Unlike [[writeBucketed]] (hash-clustered,
    * catalog-dependent) the ordering is carried by the FILES — any
    * path-based reader benefits. One range-exchange shuffle total;
    * `files` is the run's parallelism contract (size it to the data,
    * not the cluster). LayoutSpec proves the cross-file ordering. */
  def writeSorted(df: DataFrame, path: String, files: Int,
      key: String, moreKeys: String*): Unit = {
    require(files > 0, "files must be positive")
    val cols = (key +: moreKeys).map(col)
    df.repartitionByRange(files, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** MERGE-style upsert without a table format: rows from `updates`
    * replace same-key rows of `existing`, new keys append. One
    * anti-join + union — the emulation to use until a Delta/Iceberg
    * catalog is available; with one, this becomes MERGE INTO. */
  def upsertByKey(existing: DataFrame, updates: DataFrame,
      keys: Seq[String]): DataFrame =
    existing.join(updates.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(updates)

  /** Streaming MERGE sink: every micro-batch upserts by key into a
    * parquet store via `foreachBatch` + [[upsertByKey]]. The merged state
    * is written to a scratch dir and swapped in with filesystem renames;
    * [[recoverStore]] runs at the start of every batch so a crash at any
    * point of the swap never loses merged state: the next batch first
    * reinstates the newest complete store (`__tmp` if the swap had started,
    * else `__old`) before merging. A concurrent READER can observe a brief
    * store-missing window between the two renames — writer-side state is
    * still never lost; move to MERGE INTO on a transactional table format
    * for reader-side atomicity. Re-delivered batches converge to the same
    * state (keyed merge = idempotent), which together with the checkpoint
    * gives effectively-once semantics for the writer.
    */
  def streamUpsertByKey(stream: DataFrame, storePath: String,
      keys: Seq[String], checkpointPath: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        val store = new Path(storePath)
        val fs = store.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        recoverStore(fs, storePath)
        val merged =
          if (fs.exists(store))
            upsertByKey(spark.read.parquet(storePath), batch.toDF(), keys)
          else batch.toDF()
        val tmp = new Path(storePath + "__tmp")
        val old = new Path(storePath + "__old")
        merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        if (fs.exists(old)) fs.delete(old, true)
        if (fs.exists(store))
          require(fs.rename(store, old), s"swap failed: $store -> $old")
        require(fs.rename(tmp, store), s"swap failed: $tmp -> $store")
        fs.delete(old, true)
        ()
      }
      .start()

  /** Small-files compaction for a parquet directory: rewrite the same
    * rows into `ceil(totalBytes / targetFileBytes)` files and swap the
    * result in atomically (same tmp/old rename protocol and
    * [[recoverStore]] crash recovery as the streaming upsert sink).
    * This is the maintenance pass incremental ingest NEEDS: every
    * `curate --append` / dedup-ingest batch lands its own small files,
    * and a directory that accretes thousands of kB-files turns a 100 TB
    * scan into a task-scheduling and NameNode-metadata problem — the
    * fix is periodic compaction, not bigger batches.
    *
    * `coalesce`, not `repartition`: compaction changes the FILE COUNT,
    * so it must not spend a shuffle doing it — coalesce folds existing
    * partitions in place and the write streams each merged partition
    * once. Row ORDER within the directory is not part of the contract
    * (readers of a parquet directory never had one); content equality
    * is proven by order-invariant checksums in the spec. No-op (returns
    * early, no write) when the directory already has no more files than
    * the target. Returns (files before, files after).
    *
    * SINGLE-WRITER REQUIREMENT: compaction must run with writers
    * quiesced. Rows appended between the snapshot read and the swap
    * would be discarded by the rename, and readers can observe the
    * directory briefly missing inside the two-rename window. The first
    * hazard is guarded: the directory is re-listed just before the
    * swap, and if any data file appeared or vanished since the snapshot
    * the tmp output is deleted and the compaction aborts with the
    * original directory untouched (a TOCTOU race narrower than the
    * check remains — the guard detects concurrent writers, it does not
    * license them). The reader-visible rename gap is inherent to
    * directory swaps without a metastore; schedule compaction in the
    * same maintenance window as the writers' pause. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    compactHooked(spark, path, targetFileBytes)

  /** [[compact]] with a test seam: `beforeSwap` runs after the tmp
    * write and before the re-list guard, standing in for a concurrent
    * writer landing a file inside the race window. */
  private[graft] def compactHooked(spark: org.apache.spark.sql.SparkSession,
      path: String, targetFileBytes: Long = 128L * 1024 * 1024,
      beforeSwap: () => Unit = () => ()): (Int, Int) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverStore(fs, path) // a prior compaction crash mid-swap heals here
    // every data file counts — foreign writers (external tools, other
    // engines) don't follow Spark's part-* naming, and a compactor that
    // silently skips their files would report "already compact" on
    // exactly the fragmented directories it exists for
    val parts = fs.listStatus(dir).filter(st => st.isFile && {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }).toSeq
    val totalBytes = parts.map(_.getLen).sum
    val nOut = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    if (parts.length <= nOut) return (parts.length, parts.length)
    val df = spark.read.parquet(path)
    val tmp = new Path(path + "__tmp")
    val old = new Path(path + "__old")
    df.coalesce(nOut).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    beforeSwap()
    // concurrent-writer guard: the swap would silently drop any file
    // landed after the snapshot listing, so re-list and abort instead
    val now = fs.listStatus(dir).filter(st => st.isFile && {
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }).map(st => st.getPath.getName -> st.getLen).toMap
    val before = parts.map(st => st.getPath.getName -> st.getLen).toMap
    if (now != before) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"compact aborted: $path changed during compaction " +
          s"(${before.size} data files at snapshot, ${now.size} now). " +
          "compact requires writers to be quiesced; re-run once appends " +
          "have stopped. The directory was left untouched.")
    }
    if (fs.exists(old)) fs.delete(old, true)
    require(fs.rename(dir, old), s"swap failed: $dir -> $old")
    require(fs.rename(tmp, dir), s"swap failed: $tmp -> $dir")
    fs.delete(old, true)
    (parts.length, nOut)
  }

  /** Crash recovery for [[streamUpsertByKey]]'s rename swap. If the store
    * is missing, the previous batch died mid-swap: a COMMITTED `__tmp`
    * (its `_SUCCESS` marker proves the parquet job finished — a bare
    * directory could be a first-ever batch that died mid-write) is the
    * newest complete state and wins; `__old` is the complete previous
    * state and is the fallback; an UNcommitted `__tmp` is deleted. Every
    * `rename` return value is checked — several Hadoop filesystems report
    * failure by returning false, not by throwing — and `__old` is only
    * deleted once the promotion actually succeeded, so a failed rename
    * can never destroy the one remaining complete copy. If the store
    * exists, any leftover scratch is left for the normal path to clobber.
    */
  private[graft] def recoverStore(fs: org.apache.hadoop.fs.FileSystem,
      storePath: String): Unit = {
    val store = new Path(storePath)
    if (!fs.exists(store)) {
      val tmp = new Path(storePath + "__tmp")
      val old = new Path(storePath + "__old")
      val tmpCommitted = fs.exists(new Path(tmp, "_SUCCESS"))
      if (tmpCommitted && fs.rename(tmp, store)) fs.delete(old, true)
      else {
        if (fs.exists(tmp) && !tmpCommitted) fs.delete(tmp, true)
        if (fs.exists(old)) {
          require(fs.rename(old, store),
            s"recovery rename failed: $old -> $store")
        }
      }
    }
    ()
  }
}
