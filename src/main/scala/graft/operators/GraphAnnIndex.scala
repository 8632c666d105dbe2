package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The graph-ANN family's ARTIFACT LIFECYCLE as a user surface
  * (VERDICT r15 #1): build / ingest / serve entirely from persisted
  * artifacts — the operational trio IVF got with `ann-index` /
  * `ann-ingest` / `ann-query`, now for the NN-descent + beam-search
  * family, previously reachable only through gated queries and
  * specs. `graft.Main` wires these to the `graph-ann-build` /
  * `graph-ann-ingest` / `graph-ann-serve` verbs. Serving has one
  * path ([[serve]]): the broadcast RAM replica
  * ([[NnDescent.beamTopKHot]]) when its estimate fits the RAM
  * budget, the relational engine ([[NnDescent.beamTopKBulk]]) over
  * the pre-joined adjacency otherwise.
  *
  * Index layout under `indexDir` (all parquet):
  *  - `graph/`   (u, rank, nb, d2) — the k-NN graph;
  *  - `vectors/` (id, v)           — the corpus the graph covers
  *    (the serve and ingest walks read vectors by id; persisting
  *    them WITH the index is the IVF-bucket precedent — an index a
  *    serving tier can load without the original table);
  *  - `entries/` (node_id, v)      — the rank-spaced entry frame;
  *  - `adj/`     (u, nb, nv)       — the pre-joined serving layout
  *    (one equi-join per hop instead of two);
  *  - `meta/`    one row (k, cap, rounds, entry_cand, dim) — the
  *    build geometry, guarded on every later verb like the dedup
  *    index's banding geometry.
  *
  * Every artifact rewrite goes through write-to-temp-then-swap
  * ([[writeSwap]]): the new frame is derived lazily FROM the old
  * files, so an in-place overwrite would delete its own input
  * mid-job.
  *
  * Determinism: all three verbs compose the gated operators
  * unchanged (q231 build, q240 ingest, q243/q244 serve geometries are
  * the defaults), so a CLI-built index serves bit-identically to the
  * oracle-gated faces — GraphAnnCliSpec pins exactly that on both
  * serve engines.
  */
object GraphAnnIndex {

  final case class Meta(k: Int, cap: Int, rounds: Int,
      entryCand: Int, dim: Int)

  private def fs(spark: SparkSession, path: String) =
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  /** Write `df` to `<dir>__tmp`, then atomically (per rename) swap it
    * into `dir` — the artifact being replaced is an INPUT of the
    * frame being written, so overwrite-in-place would erase the files
    * the running job still reads. */
  private def writeSwap(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    val tmp = dir + "__tmp"
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    val f = fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (f.exists(p)) f.delete(p, true)
    require(f.rename(new org.apache.hadoop.fs.Path(tmp), p),
      s"swap of $tmp into $dir failed")
  }

  private def writeMeta(spark: SparkSession, indexDir: String,
      m: Meta): Unit = {
    import spark.implicits._
    writeSwap(Seq((m.k, m.cap, m.rounds, m.entryCand, m.dim))
      .toDF("k", "cap", "rounds", "entry_cand", "dim")
      .coalesce(1), s"$indexDir/meta")
  }

  def readMeta(spark: SparkSession, indexDir: String): Meta = {
    require(fs(spark, indexDir).exists(
      new org.apache.hadoop.fs.Path(s"$indexDir/meta")),
      s"no graph-ANN index under $indexDir — run graph-ann-build first")
    val r = spark.read.parquet(s"$indexDir/meta").head()
    Meta(r.getAs[Int]("k"), r.getAs[Int]("cap"),
      r.getAs[Int]("rounds"), r.getAs[Int]("entry_cand"),
      r.getAs[Int]("dim"))
  }

  /** (vec_id, embedding) → the engine shape (id: long,
    * v: array<double>) every NnDescent operator takes. */
  private def asVecs(df: DataFrame): DataFrame =
    df.select(col("vec_id").cast("long").as("id"),
      Similarity.asDouble(col("embedding")).as("v"))

  /** BUILD: k-NN graph + entry frame + pre-joined adjacency + the
    * corpus copy, persisted under `indexDir` (the q231/q232 build
    * protocol). Returns (nVectors, nEdges). Meta is INVALIDATED
    * first and written LAST: a rebuild over an existing index that
    * crashes mid-way must read as "no index" (readMeta fails fast,
    * naming this verb) rather than pair the OLD geometry's meta with
    * NEW artifacts — a later ingest would otherwise append with a
    * silently mismatched k. */
  def build(spark: SparkSession, input: String, indexDir: String,
      k: Int = 16, cap: Int = 32, rounds: Int = 3,
      entryCand: Int = 32): (Long, Long) = {
    val mp = new org.apache.hadoop.fs.Path(s"$indexDir/meta")
    val f0 = fs(spark, indexDir)
    if (f0.exists(mp)) f0.delete(mp, true)
    val vecs = asVecs(spark.read.parquet(input)).persist()
    val n = vecs.count()
    require(n > 0, s"empty input $input")
    val dim = vecs.select(size(col("v"))).head().getInt(0)
    val graph = NnDescent.knnGraph(vecs, k, cap, rounds)
    graph.write.mode(SaveMode.Overwrite).parquet(s"$indexDir/graph")
    vecs.write.mode(SaveMode.Overwrite).parquet(s"$indexDir/vectors")
    graph.select(col("u"), col("nb"))
      .join(vecs.select(col("id").as("nb"), col("v").as("nv")), "nb")
      .select(col("u"), col("nb"), col("nv"))
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/adj")
    val nEdges = graph.count()
    graph.unpersist() // knnGraph returns its result persisted
    NnDescent.entryCandidates(vecs, entryCand)
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/entries")
    writeMeta(spark, indexDir, Meta(k, cap, rounds, entryCand, dim))
    vecs.unpersist()
    (n, nEdges)
  }

  /** The outcome of one ingest attempt (see [[ingestOutcome]]). */
  sealed trait IngestOutcome
  /** Fresh append: the batch was searched, linked and all four
    * artifacts swapped. */
  final case class Appended(nNew: Long,
      nRefreshedOld: Long) extends IngestOutcome
  /** Crash recovery: a previous attempt's graph swap had landed but
    * the later swaps had not — the missing artifacts were COMPLETED
    * (each is a pure function of the swapped graph/vectors plus the
    * batch, so completion reproduces the interrupted apply exactly;
    * no walk is re-run). */
  final case class Completed(nNew: Long,
      nRefreshedOld: Long) extends IngestOutcome
  /** The whole batch is already committed (present through the adj
    * commit marker) — an at-least-once replay. */
  final case class AlreadyApplied(nNew: Long) extends IngestOutcome

  /** INGEST: append a batch of new vectors to the persisted index
    * without retraining (the q240 search-then-link protocol):
    * [[NnDescent.appendToGraph]] under the stored geometry, the keyed
    * merge into the stored edge list ([[NnDescent.applyAppend]]), the
    * corpus copy and the pre-joined adjacency refreshed, and — when
    * `refreshEntries` is set — the entry frame re-derived from the
    * GROWN corpus ([[NnDescent.refreshEntries]], the measured answer
    * to entry-coverage decay; VERDICT r15 #2). Batch ids must be
    * disjoint from the stored corpus — a replayed batch fails fast
    * here (the strict-CLI contract; the streaming face consumes
    * [[ingestOutcome]] directly and skips instead). Returns
    * (nNew, nRefreshedOld). */
  def ingest(spark: SparkSession, batch: String, indexDir: String,
      beam: Int = 4, hops: Int = 4,
      refreshEntries: Boolean = false): (Long, Long) =
    ingestBatch(spark, spark.read.parquet(batch), indexDir, beam,
      hops, refreshEntries)

  /** [[ingest]] over an in-memory batch frame. Strict replay
    * semantics: a fully committed batch throws; a crash-interrupted
    * apply is completed (see [[ingestOutcome]]). */
  def ingestBatch(spark: SparkSession, batchDf: DataFrame,
      indexDir: String, beam: Int = 4, hops: Int = 4,
      refreshEntries: Boolean = false): (Long, Long) =
    ingestOutcome(spark, batchDf, indexDir, beam, hops,
        refreshEntries) match {
      case Appended(n, r)     => (n, r)
      case Completed(n, r)    => (n, r)
      case AlreadyApplied(n)  => throw new IllegalArgumentException(
        s"$n batch id(s) already in the index at $indexDir — " +
          "graph-ann-ingest appends NEW vectors only (replayed batch?)")
    }

  /** How many of the batch ids appear in `store.storeCol`. The batch
    * side broadcasts (semi joins can only broadcast their right
    * side), so each check is one scan of the artifact with a tiny
    * matched output — no artifact-sized shuffle. */
  private def presentCount(store: DataFrame, storeCol: String,
      ids: DataFrame): Long =
    store.select(col(storeCol).as("nid"))
      .join(org.apache.spark.sql.functions.broadcast(ids),
        Seq("nid"), "left_semi")
      .distinct().count()

  /** One ingest attempt with CRASH-CONSISTENT replay semantics. The
    * four artifacts cannot be swapped atomically together, so the
    * swap ORDER is the commit protocol: graph → vectors → entries
    * (when refreshing) → adj. Adj is derived from the swapped
    * graph+vectors after everything else, so batch ids present in
    * adj ⇔ the whole apply committed — adj is the COMMIT MARKER.
    * Because presence is monotone down the chain, an interrupted
    * apply always leaves a recognizable PREFIX:
    *
    *  - in adj (all ids)          → [[AlreadyApplied]] — replay of a
    *    committed batch; skipping reproduces the no-replay end state;
    *  - in graph but not adj      → [[Completed]] — the append's walk
    *    already landed; the remaining artifacts are each a pure
    *    function of (swapped graph, swapped-or-unioned vectors,
    *    batch), so they are completed WITHOUT re-running the walk.
    *    Re-running it instead would double-link: the merge would see
    *    the batch's reverse edges already in the stored lists and
    *    admit bit-equal duplicates at two ranks;
    *  - in neither                → fresh [[Appended]] path;
    *  - any PARTIAL presence (some ids but not all, or ids in the
    *    corpus copy but not the graph) → state this protocol cannot
    *    have produced — overlapping batches or foreign writes — and
    *    the attempt fails fast with the diagnosis instead of
    *    guessing. */
  def ingestOutcome(spark: SparkSession, batchDf: DataFrame,
      indexDir: String, beam: Int = 4, hops: Int = 4,
      refreshEntries: Boolean = false): IngestOutcome = {
    val meta = readMeta(spark, indexDir)
    val newVecs = asVecs(batchDf)
      .select(col("id").as("nid"), col("v").as("qv")).persist()
    val nNew = newVecs.count()
    if (nNew == 0L) { newVecs.unpersist(); return Appended(0L, 0L) }
    val ids = newVecs.select(col("nid"))
    def partial(where: String, c: Long) = require(c == 0L || c == nNew,
      s"batch is PARTIALLY indexed ($c of $nNew ids in $where) — " +
        "overlapping batches or a foreign write; rebuild the index " +
        "(graph-ann-build) before resuming ingest")
    val cAdj = presentCount(
      spark.read.parquet(s"$indexDir/adj"), "u", ids)
    partial("adj", cAdj)
    if (cAdj == nNew) { newVecs.unpersist(); return AlreadyApplied(nNew) }
    val graph = spark.read.parquet(s"$indexDir/graph")
    val cG = presentCount(graph, "u", ids)
    partial("graph", cG)
    val vectors = spark.read.parquet(s"$indexDir/vectors")
    if (cG == nNew) {
      // COMPLETION: the graph swap landed, later swaps did not
      val cV = presentCount(vectors, "id", ids)
      partial("vectors", cV)
      if (cV == 0L)
        writeSwap(vectors.unionByName(
          newVecs.select(col("nid").as("id"), col("qv").as("v"))),
          s"$indexDir/vectors")
      finishSwaps(spark, indexDir, meta, refreshEntries)
      // refreshed-old count re-read from the stored lists: a stored
      // list admitted a new neighbor ⇔ it now contains a batch nb
      val nRefreshed = spark.read.parquet(s"$indexDir/graph")
        .join(org.apache.spark.sql.functions.broadcast(
          ids.select(col("nid").as("nb"))), Seq("nb"), "left_semi")
        .join(org.apache.spark.sql.functions.broadcast(
          ids.select(col("nid").as("u"))), Seq("u"), "left_anti")
        .select(col("u")).distinct().count()
      newVecs.unpersist()
      return Completed(nNew, nRefreshed)
    }
    val dup = presentCount(vectors, "id", ids)
    require(dup == 0L,
      s"$dup batch id(s) present in the stored corpus but not the " +
        s"graph at $indexDir — state this ingest protocol cannot " +
        "produce (foreign writes?); rebuild the index " +
        "(graph-ann-build)")
    val appended = NnDescent.appendToGraph(
      graph.select(col("u"), col("nb"), col("d2")), vectors, newVecs,
      k = meta.k, beam = beam, hops = hops,
      entries = spark.read.parquet(s"$indexDir/entries"))
    val nRefreshed = appended.join(
      newVecs.select(col("nid").as("u")), Seq("u"), "left_anti")
      .select(col("u")).distinct().count()
    writeSwap(NnDescent.applyAppend(graph, appended),
      s"$indexDir/graph")
    appended.unpersist() // caller-owned persist (appendToGraph)
    writeSwap(vectors.unionByName(
      newVecs.select(col("nid").as("id"), col("qv").as("v"))),
      s"$indexDir/vectors")
    newVecs.unpersist()
    finishSwaps(spark, indexDir, meta, refreshEntries)
    Appended(nNew, nRefreshed)
  }

  /** The commit tail shared by the fresh and completion paths: the
    * swapped graph/vectors are the stored truth — re-derive the
    * serving layout from the FILES, not pre-swap frames. Entries
    * (when refreshing) swap BEFORE adj so the adj commit marker also
    * covers the refreshed entry frame. */
  private def finishSwaps(spark: SparkSession, indexDir: String,
      meta: Meta, refreshEntries: Boolean): Unit = {
    val g2 = spark.read.parquet(s"$indexDir/graph")
    val v2 = spark.read.parquet(s"$indexDir/vectors")
    if (refreshEntries)
      writeSwap(NnDescent.refreshEntries(v2, meta.entryCand),
        s"$indexDir/entries")
    writeSwap(g2.select(col("u"), col("nb"))
      .join(v2.select(col("id").as("nb"), col("v").as("nv")), "nb")
      .select(col("u"), col("nb"), col("nv")), s"$indexDir/adj")
  }

  /** What one [[serve]] call did: the engine it picked (`hot` or
    * `bulk`), the replica estimate and the budget that decided it,
    * the probes read and the rows written. */
  final case class Served(engine: String, estBytes: Long,
      budget: Long, probes: Long, rows: Long)

  /** SERVE: top-k beam search for a parquet of query vectors, from
    * the stored artifacts alone. The engine follows the hot replica's
    * RAM guard: when [[NnDescent.hotSize]]'s estimate fits `hotBudget`
    * (default [[NnDescent.defaultHotBudget]], 40% of executor
    * memory) the walk runs on the broadcast replica
    * ([[NnDescent.beamTopKHot]], one job); otherwise it runs the
    * relational plan over the pre-joined adjacency
    * ([[NnDescent.beamTopKBulk]]), which is read only then. Both
    * return the same rows bit-for-bit, and both refuse a stale corpus
    * (adjacency ids missing from the stored vectors). Measured at
    * sf0.1 (2000 vectors, local[4]): the replica, its build included,
    * served 3–5× faster than the relational plan at every batch from
    * 1 to 2000 probes (CHANGES.md).
    *
    * Writes (query_id, rank, node_id, d2) parquet to `outDir`, counted
    * by the write itself. Geometry: `k` is the ANSWER count per probe
    * (the ef-search return contract), independent of the stored
    * graph's adjacency width (meta.k) — beam 4 / hops 8 / k 8 are the
    * gated q243/q244 serve defaults. */
  def serve(spark: SparkSession, indexDir: String, queries: String,
      outDir: String, beam: Int = 4, hops: Int = 8, k: Int = 8,
      hotBudget: Option[Long] = None): Served = {
    readMeta(spark, indexDir) // no index: fail fast, naming the build verb
    val graph = spark.read.parquet(s"$indexDir/graph")
      .select(col("u"), col("nb"))
    val vectors = spark.read.parquet(s"$indexDir/vectors")
    val entries = spark.read.parquet(s"$indexDir/entries")
    val probes = asVecs(spark.read.parquet(queries))
      .select(col("id").as("query_id"), col("v").as("qv")).persist()
    try {
      val n = probes.count()
      val est = NnDescent.hotSize(graph, vectors, entries).bytes
      val budget = hotBudget.getOrElse(NnDescent.defaultHotBudget(spark))
      val hot = if (est > budget) None
        else Some(NnDescent.replicate(graph, vectors, entries))
      val res = hot match {
        case Some(h) => NnDescent.beamTopKHot(h, probes, hops, beam, k)
        case None =>
          NnDescent.requireFresh(graph, vectors)
          NnDescent.beamTopKBulk(graph, vectors, probes, hops, beam, k,
            entries, Some(spark.read.parquet(s"$indexDir/adj")))
      }
      val rows = BroadcastRelease.writeCounted(res, outDir)
      hot.foreach(_.destroy())
      Served(if (hot.isDefined) "hot" else "bulk", est, budget, n, rows)
    } finally probes.unpersist()
  }
}
