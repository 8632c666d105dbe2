package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The production ingest loop: each batch dedups against the GROWING
  * persisted index — batch 2 must catch its clones of batch-1 documents
  * from the index alone (batch-1 text is never re-read), survivors
  * append, and the geometry guard rejects a mismatched banding. Each
  * step's outputs equal the public operators they stand for, and a
  * steady step compiles no generated class. */
class DedupIngestSpec extends GraftSuite {
  import spark.implicits._

  private def docs = Tables.documents(spark, sf)
    .select($"doc_id", $"text")

  test("two-batch ingest: cross dups caught from the index, not the text") {
    val indexDir = Files.createTempDirectory("graft_ing_idx").toString + "/idx"
    val out1 = Files.createTempDirectory("graft_ing_o1").toString
    val out2 = Files.createTempDirectory("graft_ing_o2").toString

    val batch1 = docs.filter($"doc_id" < 40)
    val (c1, _, k1) = Dedup.ingest(spark, batch1, indexDir, out1,
      threshold = 0.5)
    assert(c1 === 0L) // bootstrap: no index yet, so no cross pairs
    assert(k1 > 0L)
    val keptIds1 = spark.read.parquet(s"$out1/kept")
      .select($"doc_id").as[Long].collect().toSet

    // batch 2: 5 exact clones of batch-1 SURVIVORS (new ids) + fresh docs
    val cloneSrc = docs.filter($"doc_id".isin(
      keptIds1.toSeq.sorted.take(5).map(Long.box): _*))
    val clones = cloneSrc.select(($"doc_id" + 100000L).as("doc_id"), $"text")
    val fresh = docs.filter($"doc_id" >= 40 && $"doc_id" < 60)
    val batch2 = clones.unionAll(fresh)
    val (c2, _, k2) = Dedup.ingest(spark, batch2, indexDir, out2,
      threshold = 0.5)
    // every clone is caught against the PERSISTED index — no batch-1 text
    // is an input to ingest() here, only indexDir
    val crossNewIds = spark.read.parquet(s"$out2/cross_pairs")
      .select($"new_id").as[Long].collect().toSet
    assert(keptIds1.toSeq.sorted.take(5).map(_ + 100000L).toSet
      .subsetOf(crossNewIds), s"clones not caught: $crossNewIds")
    assert(c2 >= 5L)
    // clones are dropped from kept; fresh docs survive
    val keptIds2 = spark.read.parquet(s"$out2/kept")
      .select($"doc_id").as[Long].collect().toSet
    assert(keptIds2.forall(_ < 100000L))
    assert(k2 === keptIds2.size.toLong)

    // the index grew append-only: batch-1 survivors + batch-2 survivors
    val idx = Dedup.readIndex(spark, indexDir)
    assert(idx.count() === k1 + k2)

    // RETRY idempotence (redelivery / crash between index append and a
    // streaming checkpoint commit): re-ingesting batch 2 must not match
    // docs against their own now-indexed signatures (which would empty
    // kept) and must not double their signatures in the index
    val out2b = Files.createTempDirectory("graft_ing_o2b").toString
    val (_, _, k2b) = Dedup.ingest(spark, batch2, indexDir, out2b,
      threshold = 0.5)
    assert(k2b === k2) // same survivors, not zero
    assert(spark.read.parquet(s"$out2b/kept").select($"doc_id")
      .as[Long].collect().toSet === keptIds2)
    assert(Dedup.readIndex(spark, indexDir).count() === k1 + k2) // no dupes

    // geometry guard: a third ingest with mismatched numHashes refuses
    val out3 = Files.createTempDirectory("graft_ing_o3").toString
    val e = intercept[IllegalArgumentException] {
      Dedup.ingest(spark, fresh, indexDir, out3, numHashes = 16)
    }
    assert(e.getMessage.contains("geometry"))
  }

  /** Batch `k`: 12 fresh docs, 2 in-batch clones of them and 2 clones of
    * batch k-1's fresh docs (cross dups from the second batch on), all
    * with ids unique to the batch. */
  private def shapedBatch(k: Int): org.apache.spark.sql.DataFrame = {
    val base = docs.filter($"doc_id" >= 12 * k && $"doc_id" < 12 * k + 12)
    val prev = docs.filter($"doc_id" >= 12 * (k - 1) &&
      $"doc_id" < 12 * (k - 1) + 2)
    base.select(($"doc_id" + 1000L * k).as("doc_id"), $"text")
      .unionAll(base.filter($"doc_id" < 12 * k + 2)
        .select(($"doc_id" + 1000L * k + 500L).as("doc_id"), $"text"))
      .unionAll(prev.select(($"doc_id" + 1000L * k + 700L).as("doc_id"),
        $"text"))
  }

  test("a steady ingest step compiles no generated class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = Files.createTempDirectory("graft_ing_cg").toString
    // batches are parquet files, as a stream's file source would read
    (0 until 4).foreach(k =>
      shapedBatch(k).write.parquet(s"$root/in/b$k"))
    val compiles = (0 until 4).map { k =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (cross, within, kept) = Dedup.ingest(spark,
        spark.read.parquet(s"$root/in/b$k"), s"$root/idx", s"$root/o$k")
      assert(within > 0L && kept > 0L && (k == 0 || cross > 0L))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    // the first two steps warm the cache (bootstrap, then the first
    // against-index step); every later step reuses every class
    assert(compiles.drop(2) === Seq(0L, 0L), s"compiles per step: $compiles")
  }

  test("ingest outputs equal the public operators, bit for bit") {
    val root = Files.createTempDirectory("graft_ing_par").toString
    val idxDir = s"$root/idx"
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    // bootstrap, a normal step, and the normal step's batch retried
    Seq(0, 1, 1).zipWithIndex.foreach { case (k, step) =>
      val batch = shapedBatch(k)
      val out = s"$root/o$step"
      val hasIndex = step > 0
      val idxBefore = if (hasIndex)
        Dedup.readIndex(spark, idxDir).select($"id").as[Long].collect().toSet
      else Set.empty[Long]
      val wantCross = if (hasIndex)
        rows(Dedup.minhashNearDupsAgainstIndex(
          Dedup.readIndex(spark, idxDir), batch, "doc_id", "text"),
          "new_id", "corpus_id", "jaccard")
      else Set.empty[Seq[Any]]
      val (nCross, nWithin, nKept) = Dedup.ingest(spark, batch, idxDir, out)

      val pairs = rows(spark.read.parquet(s"$out/batch_pairs"),
        "id_a", "id_b", "jaccard")
      assert(pairs === rows(Dedup.minhashNearDups(batch, "doc_id", "text"),
        "id_a", "id_b", "jaccard"))
      assert(pairs.nonEmpty && nWithin === pairs.size.toLong)
      val cross = rows(spark.read.parquet(s"$out/cross_pairs"),
        "new_id", "corpus_id", "jaccard")
      assert(cross === wantCross && nCross === cross.size.toLong)
      if (hasIndex) assert(cross.nonEmpty)

      val victims = cross.map(_.head) ++ Dedup.connectedComponents(
          spark.read.parquet(s"$out/batch_pairs"))
        .filter($"id" =!= $"component").select($"id").as[Long]
        .collect().toSet
      val kept = rows(spark.read.parquet(s"$out/kept"), "doc_id", "text")
      assert(kept === rows(batch, "doc_id", "text")
        .filterNot(r => victims.contains(r.head)))
      assert(nKept === kept.size.toLong)

      // the appended index rows are minhashIndex(kept_new), array order
      // included (Seq equality is ordered)
      val keptNew = spark.read.parquet(
        if (hasIndex) s"$out/kept_new" else s"$out/kept")
      val appended = Dedup.readIndex(spark, idxDir)
        .filter(!$"id".isin(idxBefore.toSeq.map(Long.box): _*))
      assert(rows(appended, "id", "signature", "hs") ===
        rows(Dedup.minhashIndex(keptNew, "doc_id", "text"),
          "id", "signature", "hs"))
      if (step == 2) assert(appended.isEmpty)
    }
  }
}
