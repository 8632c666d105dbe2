package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.GraphAnnIndex

/** The graph-ANN CLI surface (VERDICT r15 #1): build → ingest → serve
  * driven from PERSISTED ARTIFACTS ALONE — the dedup-ingest /
  * ann-query pattern — with both serve engines hash-equal to the
  * oracle-gated q243/q244 faces on the same probes. The CLI composes
  * the gated operators unchanged, so equality here chains the user
  * surface into the DuckDB oracle. */
class GraphAnnCliSpec extends GraftSuite {
  import spark.implicits._

  private def dir(p: String): String =
    Files.createTempDirectory(p).toString

  private type ServeRow = (Long, Int, Long, Double)

  private def servedRows(out: String): Seq[ServeRow] =
    spark.read.parquet(out)
      .select($"query_id", $"rank", $"node_id",
        round($"d2", 6).as("d2"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq

  test("build → serve from artifacts alone: the default budget picks " +
      "hot, a refused budget picks bulk, both return the q243/q244 " +
      "gated faces' rows bit-for-bit on the same probes, and a stale " +
      "corpus fails on both") {
    val idx = dir("graft_gann_idx") + "/idx"
    val (n, e) = GraphAnnIndex.build(spark,
      s"$sf/embeddings.parquet", idx)
    assert(n === 500L && e === n * 16)
    // the q243 probe convention (vec_id < 5, reversed embedding) as a
    // parquet the CLI reads — reverse commutes with the per-element
    // float→double cast, so the probe doubles are bit-equal
    val qDir = dir("graft_gann_q")
    Tables.embeddings(spark, sf).filter($"vec_id" < 5)
      .select($"vec_id", reverse($"embedding").as("embedding"))
      .write.mode("overwrite").parquet(qDir)
    def face(name: String): Seq[ServeRow] = Registry.byName(name)
      .run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val gated = face("q243_graph_ann_serve_topk_oracled")
    assert(gated.size === 40)
    assert(face("q244_graph_ann_serve_hot_oracled") === gated)
    for ((budget, engine) <- Seq(None -> "hot", Some(0L) -> "bulk")) {
      val out = dir(s"graft_gann_out_$engine")
      val served = GraphAnnIndex.serve(spark, idx, qDir, out,
        hotBudget = budget)
      assert(served.engine === engine, s"budget $budget")
      assert(served.estBytes > 0L &&
        (served.estBytes <= served.budget) === (engine == "hot"),
        s"$served")
      assert(served.probes === 5L && served.rows === 40L,
        s"engine $engine")
      assert(servedRows(out) === gated,
        s"engine $engine diverged from the gated face")
    }
    // a stale corpus (an adjacency id missing from the stored
    // vectors) fails fast on either engine instead of serving
    val victim = spark.read.parquet(s"$idx/graph").head()
      .getAs[Long]("nb")
    val fresh = s"$idx/vectors"
    val staleDir = dir("graft_gann_stale") + "/v"
    spark.read.parquet(fresh).filter($"id" =!= victim)
      .write.parquet(staleDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(fresh), true)
    fs.rename(new org.apache.hadoop.fs.Path(staleDir),
      new org.apache.hadoop.fs.Path(fresh))
    for (budget <- Seq(None, Some(0L))) {
      val err = intercept[IllegalArgumentException] {
        GraphAnnIndex.serve(spark, idx, qDir, dir("graft_gann_out_st"),
          hotBudget = budget)
      }
      assert(err.getMessage.contains("stale") &&
        err.getMessage.contains(victim.toString), s"budget $budget")
    }
  }

  test("ingest from artifacts alone: the stored lists the append " +
      "touched equal the q240 gated face's rows, the corpus copy " +
      "grows, --refresh-entries re-derives the entry frame from the " +
      "grown corpus, a replayed batch fails fast, and serving the " +
      "new ids afterwards works on every engine") {
    val idx = dir("graft_gann_idx2") + "/idx"
    GraphAnnIndex.build(spark, s"$sf/embeddings.parquet", idx)
    // the q240 batch convention: reversed stored vectors under fresh
    // ids (+1e9)
    val bDir = dir("graft_gann_b")
    Tables.embeddings(spark, sf).filter($"vec_id" < 5)
      .select(($"vec_id" + 1000000000L).cast("int").as("vec_id"),
        reverse($"embedding").as("embedding"))
      .write.mode("overwrite").parquet(bDir)
    val (nNew, nRefreshed) = GraphAnnIndex.ingest(spark, bDir, idx,
      refreshEntries = true)
    assert(nNew === 5L)
    // corpus copy grew; every new id carries ranks 1..16 (the
    // stored graph's list width)
    val v2 = spark.read.parquet(s"$idx/vectors")
    assert(v2.count() === 505L)
    val g2 = spark.read.parquet(s"$idx/graph")
    val newLists = g2.filter($"u" >= 1000000000L)
      .groupBy($"u").agg(sort_array(collect_list($"rank")).as("rs"))
      .collect()
    assert(newLists.length === 5)
    newLists.foreach(r =>
      assert(r.getSeq[Int](1) === (1 to 16), s"node ${r.getLong(0)}"))
    // the artifacts-only path == the gated q240 face: applyAppend
    // REPLACED exactly the appended nodes' lists, so the stored graph
    // restricted to those nodes must be the face's rows bit-for-bit
    // (same deterministic build, same entries, same protocol)
    val face = Registry.byName("q240_graph_ann_ingest_oracled")
      .run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2, t._3)).toSeq
    val faceUs = face.map(_._1).distinct
    assert(nRefreshed === (faceUs.size - 5).toLong)
    val stored = g2.filter($"u".isin(faceUs.map(Long.box): _*))
      .select($"u", $"rank", $"nb", round($"d2", 6).as("d2"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2, t._3)).toSeq
    assert(stored === face,
      "CLI ingest diverged from the q240 gated face")
    // --refresh-entries: the entry frame is the grown corpus' own
    // rank-spaced frame, not the stale build-time one
    def entRows(df: org.apache.spark.sql.DataFrame) =
      df.select($"node_id", $"v").collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
    val expected = entRows(graft.operators.NnDescent.refreshEntries(
      v2.select($"id", $"v"), entryCand = 32))
    assert(entRows(spark.read.parquet(s"$idx/entries")) === expected)
    // replayed batch: fail fast, not silent double-append
    val err = intercept[IllegalArgumentException] {
      GraphAnnIndex.ingest(spark, bDir, idx)
    }
    assert(err.getMessage.contains("already in the index"))
    // serve the ingested ids from the grown artifacts — both engines
    // agree and return 8 ranked non-self rows per probe
    val outs = Seq(None -> "hot", Some(0L) -> "bulk").map {
      case (budget, engine) =>
        val out = dir(s"graft_gann_out2_$engine")
        val served = GraphAnnIndex.serve(spark, idx, bDir, out,
          hotBudget = budget)
        assert(served.engine === engine && served.probes === 5L &&
          served.rows === 40L, s"$served")
        servedRows(out)
    }
    assert(outs(0) === outs(1), "post-ingest engines diverged")
    outs(0).groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted === (1 to 8))
      assert(!rows.exists(_._3 == q))
    }
  }

  test("streaming ingest (graph-ann-stream, VERDICT r15 #7): the " +
      "drained sharded backlog leaves the index EQUAL to sequential " +
      "batch ingests of the same shards, a same-checkpoint re-drain " +
      "no-ops, a fresh-checkpoint replay of committed batches skips " +
      "idempotently, and a partially-indexed batch fails fast") {
    val idxS = dir("graft_gann_sidx") + "/idx"
    val idxB = dir("graft_gann_bidx") + "/idx"
    GraphAnnIndex.build(spark, s"$sf/embeddings.parquet", idxS)
    GraphAnnIndex.build(spark, s"$sf/embeddings.parquet", idxB)
    // backlog: two batch files of reversed stored vectors under fresh
    // disjoint ids, with forced mtimes so file→batch order is
    // deterministic (the writeShardedBacklog protocol)
    val src = dir("graft_gann_src")
    val sharded = Tables.embeddings(spark, sf).filter($"vec_id" < 10)
      .select(($"vec_id".cast("long") + 1000000000L).as("vec_id"),
        reverse($"embedding").as("embedding"),
        when($"vec_id" < 5, 0).otherwise(1).as("shard"))
    graft.streaming.EventStream.writeShardedBacklog(spark, src,
      sharded, "shard", 2)
    // stream line: drain the backlog (one file per micro-batch)
    val chk = dir("graft_gann_chk")
    graft.streaming.GraphAnnStream.runToCompletion(spark, src, idxS,
      chk)
    // batch line: the same shards ingested sequentially
    for (s0 <- Seq(0, 1))
      GraphAnnIndex.ingestBatch(spark,
        sharded.filter($"shard" === s0).drop("shard"), idxB)
    def artifact(idx: String, sub: String, cols: Seq[String]) =
      spark.read.parquet(s"$idx/$sub")
        .select(cols.map(col): _*).collect()
        .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(artifact(idxS, "vectors", Seq("id")).size === 510)
    for ((sub, cols) <- Seq(
        ("graph", Seq("u", "rank", "nb", "d2")),
        ("vectors", Seq("id", "v")),
        ("entries", Seq("node_id", "v"))))
      assert(artifact(idxS, sub, cols) === artifact(idxB, sub, cols),
        s"stream and batch ingest diverged on $sub")
    // same checkpoint: nothing new to drain — a no-op
    graft.streaming.GraphAnnStream.runToCompletion(spark, src, idxS,
      chk)
    assert(artifact(idxS, "vectors", Seq("id")).size === 510)
    // fresh checkpoint (the at-least-once replay of committed
    // batches): every id already indexed → skipped, state unchanged
    graft.streaming.GraphAnnStream.runToCompletion(spark, src, idxS,
      dir("graft_gann_chk2"))
    assert(artifact(idxS, "vectors", Seq("id")).size === 510)
    // a partially-indexed batch (one committed id + one new id) can
    // only mean a crash inside a prior apply — fail fast, named
    val srcBad = dir("graft_gann_srcbad")
    Tables.embeddings(spark, sf)
      .filter($"vec_id" === 3 || $"vec_id" === 4)
      .select((when($"vec_id" === 3, $"vec_id" + 1000000000L)
          .otherwise($"vec_id" + 3000000000L)).cast("long")
          .as("vec_id"),
        reverse($"embedding").as("embedding"))
      .write.mode("overwrite").parquet(srcBad)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.streaming.GraphAnnStream.runToCompletion(spark, srcBad,
        idxS, dir("graft_gann_chk3"), oneFilePerBatch = false)
    }
    assert(e.getMessage.contains("PARTIALLY indexed"),
      s"wrong failure: ${e.getMessage}")
    assert(artifact(idxS, "vectors", Seq("id")).size === 510)
  }

  test("crash-consistent ingest (r16 self-review): every interrupted " +
      "swap prefix — graph only, graph+vectors — is recognized and " +
      "COMPLETED to the committed end state bit-for-bit, a replay of " +
      "the completed batch is AlreadyApplied, and the walk is never " +
      "re-run against its own reverse links") {
    // reference: a clean build + ingest whose artifacts define the
    // committed end state every recovery path must reproduce
    val idxRef = dir("graft_gann_cref") + "/idx"
    GraphAnnIndex.build(spark, s"$sf/embeddings.parquet", idxRef)
    val bDir = dir("graft_gann_cb")
    Tables.embeddings(spark, sf).filter($"vec_id" < 5)
      .select(($"vec_id" + 1000000000L).cast("int").as("vec_id"),
        reverse($"embedding").as("embedding"))
      .write.mode("overwrite").parquet(bDir)
    val (nRef, rRef) = GraphAnnIndex.ingest(spark, bDir, idxRef)
    assert(nRef === 5L)
    def art(idx: String, sub: String, cols: Seq[String]) =
      spark.read.parquet(s"$idx/$sub")
        .select(cols.map(c => round(col(c), 6).as(c)): _*).collect()
        .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    def allArts(idx: String) = Seq(
      ("graph", Seq("u", "rank", "nb", "d2")),
      ("vectors", Seq("id")),
      ("adj", Seq("u", "nb"))).map { case (s, c) => art(idx, s, c) }
    // a crash window is a fresh pre-append index with the reference's
    // already-swapped artifacts copied over — exactly the on-disk
    // prefix an interrupted apply leaves (builds are deterministic,
    // so the untouched artifacts equal the pre-crash state)
    def crashState(copied: Seq[String]): String = {
      val idx = dir("graft_gann_c" + copied.mkString("_")) + "/idx"
      GraphAnnIndex.build(spark, s"$sf/embeddings.parquet", idx)
      copied.foreach(s => spark.read.parquet(s"$idxRef/$s")
        .write.mode("overwrite").parquet(s"$idx/$s"))
      idx
    }
    for (prefix <- Seq(Seq("graph"), Seq("graph", "vectors"))) {
      val idx = crashState(prefix)
      GraphAnnIndex.ingestOutcome(spark,
          spark.read.parquet(bDir), idx) match {
        case GraphAnnIndex.Completed(n, r) =>
          assert(n === 5L && r === rRef, s"prefix $prefix")
        case other => fail(s"prefix $prefix: expected Completed, " +
          s"got $other")
      }
      assert(allArts(idx) === allArts(idxRef),
        s"completion from prefix $prefix diverged from the " +
          "committed end state")
      // the completed index treats the batch as committed from now on
      GraphAnnIndex.ingestOutcome(spark,
          spark.read.parquet(bDir), idx) match {
        case GraphAnnIndex.AlreadyApplied(n) => assert(n === 5L)
        case other => fail(s"expected AlreadyApplied, got $other")
      }
    }
    // genuinely partial id overlap (state the protocol cannot have
    // produced) still fails fast with the diagnosis
    val idxP = crashState(Seq("graph"))
    val mixed = Tables.embeddings(spark, sf)
      .filter($"vec_id" === 2 || $"vec_id" === 3)
      .select((when($"vec_id" === 2, $"vec_id" + 1000000000L)
          .otherwise($"vec_id" + 3000000000L)).cast("long")
          .as("vec_id"),
        reverse($"embedding").as("embedding"))
    val e = intercept[IllegalArgumentException] {
      GraphAnnIndex.ingestOutcome(spark, mixed, idxP)
    }
    assert(e.getMessage.contains("PARTIALLY indexed"))
  }

  test("serve and ingest refuse a directory with no built index, " +
      "naming the build verb") {
    val e = intercept[IllegalArgumentException] {
      GraphAnnIndex.serve(spark, dir("graft_gann_none"),
        s"$sf/embeddings.parquet", dir("graft_gann_none_out"))
    }
    assert(e.getMessage.contains("graph-ann-build"))
  }
}
