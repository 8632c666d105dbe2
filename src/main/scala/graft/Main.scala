package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Cli.{Args, Verb}
import graft.config.GraftConfig
import graft.engine.{ClusterEngine, EngineConf, ResultDocs}
import graft.io.{KStore, Sinks, Sources}
import graft.operators.{Decontaminate, Dedup, GraphAnnIndex, IvfIndex,
  PqIndex, Sketches}
import graft.operators.BroadcastRelease.writeCounted

/** The command line: one table of verbs, two of them mirroring the
  * reference's scripts (ykursadkaya/Clustering `scripts/cluster.py:238-308`,
  * `scripts/optimal_k.py:351-393`):
  *
  *   graft.Main cluster   <interval> <input> <outDir> [conf.json]
  *   graft.Main optimal-k <input> <outDir> [conf.json]
  *
  * Each verb is declared once, as a usage signature ([[Cli]]) plus a
  * body. `main` parses argv against the table before any session
  * exists, so a bad argv prints the usage and exits 2 having started
  * and written nothing. Otherwise it creates the one session, runs the
  * body, prints `>>> [verb] k=v ...` from the fields the body returns,
  * and stops the session. Counts of a verb's own batch output come from
  * the writing job ([[graft.operators.BroadcastRelease.writeCounted]]),
  * not from reading the output back.
  *
  * `cluster` runs the config task grid over the input, writes
  * originalCollection/d3Collection-shaped JSON docs per task, and consults
  * the k-store under `<outDir>/kstore` (recompute-on-miss). `optimal-k`
  * runs the k-search for every task and upserts the k-store. The task grid
  * honors `threadNum` (G3) via a Future pool + FAIR scheduler when > 1;
  * with one-shuffle segmentation each task is a single job, so this only
  * overlaps scheduling gaps, never a job storm.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val code = run(args.toSeq) { body =>
      val spark = GraftSession("graft")
      try body(spark) finally spark.stop()
    }
    if (code != 0) sys.exit(code)
  }

  /** Parse `argv` against the verb table. A bad argv prints the reason
    * and the usage to stderr and returns 2 without calling `inSession`;
    * otherwise the verb's body runs inside `inSession`, its `>>>` line
    * is printed, and the result is 0. */
  private[graft] def run(argv: Seq[String])(
      inSession: (SparkSession => Unit) => Unit): Int =
    Cli.parse(verbs, argv) match {
      case Left(why) =>
        Console.err.println(s"$why\n${Cli.usage(verbs)}")
        2
      case Right((verb, a)) =>
        inSession { spark =>
          val fields = verb.body(spark, a)
          println(s">>> [${verb.name}] " +
            fields.map { case (k, v) => s"$k=$v" }.mkString(" "))
        }
        0
    }

  private def conf(a: Args): GraftConfig =
    a.get("conf.json").map(GraftConfig.fromFile).getOrElse(GraftConfig())

  private[graft] val verbs: Seq[Verb] = Seq(
    Verb("cluster <interval> <input> <outDir> [conf.json]") { (spark, a) =>
      clusterGrid(spark, conf(a), a("interval"), a("input"), a("outDir"),
        searchK = false)
    },
    Verb("optimal-k <input> <outDir> [conf.json]") { (spark, a) =>
      clusterGrid(spark, conf(a), "optimal-k", a("input"), a("outDir"),
        searchK = true)
    },

    /** North-star CLI: MinHash near-dup detection + duplicate families +
      * the surviving corpus, parameterized by the config overlay's dedup
      * knobs (minhashNumHashes/minhashBands/dedupThreshold/shingleN/
      * maxBucket). Writes `pairs`, `families`, `kept` under outDir. */
    Verb("dedup <docsParquet> <outDir> [conf.json]") { (spark, a) =>
      val gc = conf(a)
      val out = a("outDir")
      val docs = spark.read.parquet(a("docsParquet"))
      val pairs = Dedup.minhashNearDups(docs, "doc_id",
        "text", numHashes = gc.minhashNumHashes, bands = gc.minhashBands,
        threshold = gc.dedupThreshold, shingleN = gc.shingleN,
        maxBucket = gc.maxBucket).persist()
      val fields = Seq(
        "pairs" -> writeCounted(pairs, s"$out/pairs"),
        "families" -> writeCounted(Dedup.connectedComponents(pairs)
          .groupBy(col("component"))
          .agg(count(lit(1)).as("family_size")), s"$out/families"),
        "kept" -> writeCounted(Dedup.keepCanonical(docs, "doc_id", pairs),
          s"$out/kept"))
      pairs.unpersist()
      fields
    },

    /** Production ingest loop: dedup one batch against the growing
      * persisted MinHash index (and itself), keep survivors, append only
      * their signatures — batch-1 text is never re-read when batch 2
      * arrives. Knobs from the config overlay, like `dedup`. */
    Verb("dedup-ingest <batchParquet> <indexDir> <outDir> [conf.json]") {
      (spark, a) =>
        val gc = conf(a)
        val (cross, inBatch, kept) = Dedup.ingest(spark,
          spark.read.parquet(a("batchParquet")), a("indexDir"), a("outDir"),
          numHashes = gc.minhashNumHashes, bands = gc.minhashBands,
          threshold = gc.dedupThreshold, shingleN = gc.shingleN,
          maxBucket = gc.maxBucket)
        Seq("cross" -> cross, "in_batch" -> inBatch, "kept" -> kept)
    },

    /** Span-level dedup end-to-end: identify duplicated w-token spans
      * ([[graft.operators.Dedup.duplicateSpans]]) and write both the span
      * table and the excised corpus — the decontamination run of a
      * training-data pipeline. */
    Verb("dedup-spans <docsParquet> <outDir> [w:int=12]") { (spark, a) =>
      val out = a("outDir")
      val docs = spark.read.parquet(a("docsParquet"))
      val spans = writeCounted(Dedup.duplicateSpans(docs,
        "doc_id", "text", a.int("w")), s"$out/spans")
      // excise from the span table just WRITTEN — identification runs
      // exactly once, and the report reads files, not the DAG
      Sinks.writeParquet(Dedup.exciseSpans(docs, "doc_id",
        "text", spark.read.parquet(s"$out/spans")), s"$out/clean")
      val removed = spark.read.parquet(s"$out/clean")
        .agg(sum(col("n_removed"))).head().getLong(0)
      Seq("w" -> a.int("w"), "spans" -> spans, "tokens_removed" -> removed)
    },

    /** Architecture-contrast exhibits (q31/q32 spark.ml backends):
      * runnable on demand, out of the timed registry (their by-design
      * spark.ml per-job overhead measured nothing new at 11 s per
      * capture). Writes one parquet dir per exhibit. */
    Verb("exhibit <sfDir> <outDir>") { (spark, a) =>
      Registry.exhibits.map { q =>
        val t0 = System.nanoTime()
        q.run(spark, a("sfDir"))
          .write.mode("overwrite").parquet(s"${a("outDir")}/${q.name}")
        q.name -> f"${(System.nanoTime() - t0) / 1e9}%.1fs"
      }
    },

    /** Corpus quality scoring in one pass: per document, the text-quality
      * signals a pretraining filter consumes — token stats, heuristic
      * language ID, composite quality score, repetition signals, and the
      * mean unigram log-probability (the perplexity-style signal, trained
      * on the corpus itself). Pure expressions plus the LM's one counts
      * shuffle + scoring join. */
    Verb("score <docsParquet> <outDir>") { (spark, a) =>
      val docs = spark.read.parquet(a("docsParquet"))
      val tf = graft.functions.TextFunctions
      val signals = docs.select(
        col("doc_id"),
        tf.tokenCount(col("text")).as("n_tokens"),
        tf.langId(col("text")).as("lang_id"),
        round(tf.qualityScore(col("text")), 6).as("quality"),
        round(tf.dupBigramFrac(col("text")), 6).as("dup_bigram_frac"))
      val lm = tf.unigramLogProb(docs, "doc_id", "text")
        .select(col("doc_id"), round(col("avg_logprob"), 6).as("avg_logprob"))
      Seq("docs" -> writeCounted(signals.join(lm, Seq("doc_id"), "left_outer"),
        a("outDir")))
    },

    /** Container-metadata extraction over a binary corpus
      * ([[graft.multimodal.Multimodal.videoMeta]]): one map-side pass
      * writes (id, format, brand, duration_ms, width, height, codec) —
      * the honest metadata face of the codec-less MP4/WebM policy. */
    Verb("media-meta <binaryParquet> <outDir>") { (spark, a) =>
      Seq("rows" -> writeCounted(graft.multimodal.Multimodal.videoMeta(
        spark.read.parquet(a("binaryParquet"))), a("outDir")))
    },

    /** Whole-corpus k-means ([[graft.ml.DistributedKMeans]]): with an
      * explicit k, one deterministic k-means||-seeded fit — assignments
      * to `outDir/assignments`, centroids to `outDir/centroids`. With
      * k=0, the optimal-k SWEEP (2..8) runs first on a deterministic 10%
      * hash slice, the winner by simplified silhouette is fit on the
      * full corpus, and the decision surface lands in `outDir/sweep` —
      * the reference's k-search lifecycle at corpus scale, never
      * collecting the data. */
    Verb("kmeans-corpus <embParquet> <outDir> [k:int=0] [iters:int=5]") {
      (spark, a) =>
        import spark.implicits._
        val out = a("outDir")
        val iterations = a.int("iters")
        val vecs = spark.read.parquet(a("embParquet"))
          .select(col("vec_id").cast("long").as("id"),
            graft.operators.Similarity.asDouble(col("embedding")).as("v"))
        val sweep =
          if (a.int("k") > 0) Nil
          else {
            val slice = vecs.filter(
              pmod(xxhash64(col("id"), lit(159L)), lit(10)) === 0)
            val sw = graft.ml.DistributedKMeans
              .sweepK(slice, "id", "v", ks = (2 to 8), iterations = iterations)
            sw.toDF("k", "wssse", "silhouette")
              .coalesce(1).write.mode("overwrite").json(s"$out/sweep")
            sw
          }
        val chosenK =
          if (sweep.isEmpty) a.int("k")
          else sweep.maxBy(s => (s._3, -s._1))._1
        val (asg, cents) = graft.ml.DistributedKMeans.fit(
          vecs, "id", "v", chosenK, iterations)
        val assigned = writeCounted(asg, s"$out/assignments")
        Sinks.writeParquet(cents.select(col("c"), col("cv")),
          s"$out/centroids")
        sweep.map { case (kk, _, s) => s"sil$kk" -> f"$s%.4f" } ++
          Seq("k" -> chosenK, "assigned" -> assigned)
    },

    /** Dataset-card JSON for a document corpus
      * ([[graft.operators.CorpusReport]]) — three linear scans, one small
      * deterministic file. */
    Verb("report <docsParquet> <outJson>") { (spark, a) =>
      val json = graft.operators.CorpusReport.report(
        spark.read.parquet(a("docsParquet")))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(a("outJson")), json + "\n")
      Seq("card" -> json)
    },

    /** Graph analytics bundle over an edge parquet (first two columns =
      * the endpoints): PageRank centrality, label-propagation
      * communities, and per-node triangle counts, each a parquet
      * artifact. One verb because the three share the edge scan and
      * answer the same corpus question from three sides (who's central /
      * who clusters / how cliquish). */
    Verb("graph <edgesParquet> <outDir> [iters:int=10]") { (spark, a) =>
      val out = a("outDir")
      val edges = spark.read.parquet(a("edgesParquet"))
      val Array(x, y) = edges.columns.take(2)
      val g = graft.operators.Graph
      val ranks = g.pageRankUndirected(edges, x, y, a.int("iters"))
      val nodes = writeCounted(ranks, s"$out/ranks")
      val comms = g.labelPropagation(edges, x, y)
      Sinks.writeParquet(comms, s"$out/communities")
      val tri = g.triangleCounts(edges, x, y)
      Sinks.writeParquet(tri, s"$out/triangles")
      val fields = Seq("nodes" -> nodes,
        "communities" -> comms.select("lab").distinct().count(),
        "triangles" -> tri.agg(sum(col("n_tri"))).head().getLong(0) / 3)
      ranks.unpersist(); comms.unpersist(); tri.unpersist()
      fields
    },

    /** Content screening bundle: compression-ratio repetition gate plus
      * (optionally) an Aho–Corasick blocklist screen from a
      * phrase-per-line file. Writes one profile parquet — (doc_id,
      * n_bytes, ratio, hits, n_hits, keep) — with keep = in the
      * compression band AND zero blocklist hits; the caller filters,
      * the artifact keeps the evidence for every decision. */
    Verb("screen <docsParquet> <outDir> [phrasesFile]") { (spark, a) =>
      val docs = spark.read.parquet(a("docsParquet"))
      val comp = graft.operators.Compression.profile(docs, "doc_id", "text")
      val out = a.get("phrasesFile") match {
        case Some(f) =>
          val phrases = graft.operators.PhraseScreen.loadPhrases(f)
          val hits = graft.operators.PhraseScreen.screen(
            docs, "doc_id", "text", phrases)
          comp.join(hits, Seq("doc_id"))
            .withColumn("keep", col("keep") && col("n_hits") === 0)
        case None =>
          comp.withColumn("hits", array().cast("array<string>"))
            .withColumn("n_hits", lit(0L))
      }
      val total = writeCounted(out, a("outDir"))
      Seq("kept" -> spark.read.parquet(a("outDir")).filter(col("keep"))
        .count(), "of" -> total)
    },

    /** BPE artifact lifecycle — tokenizer twin of the ANN/PCA stories:
      * `bpe-train` runs the distributed word count + driver merge loop and
      * persists the rank-ordered merge table; `bpe-encode` reads it back
      * (never retrains) and tokenizes a corpus under the stored merges. */
    Verb("bpe-train <docsParquet> <mergesDir> [k:int=32]") { (spark, a) =>
      val merges = graft.operators.Bpe.topMerges(
        spark.read.parquet(a("docsParquet")), "text", a.int("k"))
      Seq("merges" -> writeCounted(merges.coalesce(1), a("mergesDir")))
    },
    Verb("bpe-encode <docsParquet> <mergesDir> <outDir>") { (spark, a) =>
      val merges = spark.read.parquet(a("mergesDir"))
        .orderBy(col("rank")).collect()
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
        .toSeq
      require(merges.nonEmpty,
        s"no merges at ${a("mergesDir")} — run bpe-train")
      val out = graft.operators.Bpe
        .encode(spark.read.parquet(a("docsParquet")), "text", merges)
        .select(col("doc_id"), col("bpe_tokens"),
          size(col("bpe_tokens")).as("n_bpe"))
      Seq("docs" -> writeCounted(out, a("outDir")))
    },

    /** PCA moments lifecycle from the command line — the model twin of
      * ann-index/ann-ingest: train starts the append-only moments
      * artifact, ingest appends a batch's moments (no old data re-read),
      * project fits from the artifact alone and writes pc columns. The
      * embedding width is read from the data. */
    Verb("pca-train <embParquet> <momentsDir>") { (spark, a) =>
      val emb = spark.read.parquet(a("embParquet"))
      val dim = embDim(emb)
      graft.ml.Pca.writeMoments(emb, "embedding", dim, a("momentsDir"))
      Seq("dim" -> dim, "rows" -> emb.count())
    },
    Verb("pca-ingest <batchParquet> <momentsDir>") { (spark, a) =>
      val emb = spark.read.parquet(a("batchParquet"))
      graft.ml.Pca.appendMoments(emb, "embedding", embDim(emb),
        a("momentsDir"))
      Seq("appended" -> emb.count())
    },
    Verb("pca-project <embParquet> <momentsDir> <outDir> [k:int=16]") {
      (spark, a) =>
        val model = graft.ml.Pca.fitFromMoments(spark, a("momentsDir"),
          a.int("k"))
        Sinks.writeParquet(model.transform(
          spark.read.parquet(a("embParquet")), "embedding"), a("outDir"))
        Seq("k" -> a.int("k"),
          "explained" -> f"${model.explainedVariance.sum}%.4f")
    },

    /** Build the persisted similarity indexes from the config overlay's
      * ANN knobs (annNlist, pqSubspaces, pqCentroids): a cosine IVF for
      * `ann-query`, an L2 IVF for the `ann-query-ivfpq` composition (the
      * coarse metric must match ADC's), and the PQ codebook + codes. */
    Verb("ann-index <embeddingsParquet> <outDir> [conf.json]") {
      (spark, a) =>
        val gc = conf(a)
        val out = a("outDir")
        val emb = spark.read.parquet(a("embeddingsParquet"))
        IvfIndex.writeIndex(emb, "vec_id", "embedding",
          s"$out/ivf", nlist = gc.annNlist, seed = 42L)
        IvfIndex.writeIndex(emb, "vec_id", "embedding",
          s"$out/ivf_l2", nlist = gc.annNlist, seed = 42L, metric = "l2")
        PqIndex.writeIndex(emb, "vec_id", "embedding",
          s"$out/pq", m = gc.pqSubspaces, k = gc.pqCentroids, seed = 42L)
        Seq("dir" -> out)
    },

    /** Ingest a new embedding batch into EVERY persisted index built by
      * `ann-index`: both IVF variants (bucket-assign under the stored
      * centroids) and the PQ codes (encode under the stored codebook) —
      * no retraining, no corpus re-read. */
    Verb("ann-ingest <batchParquet> <indexDir> [conf.json]") { (spark, a) =>
      val indexDir = a("indexDir")
      // guard each sub-index like VecIngest: a partial layout (only ivf/)
      // must not throw after the first append already committed, and a
      // fully absent layout must fail fast instead of silently no-opping
      val present = Seq("ivf", "ivf_l2", "pq")
        .filter(sub => Sources.exists(spark, s"$indexDir/$sub"))
      require(present.nonEmpty,
        s"no index found under $indexDir — run ann-index first")
      val emb = spark.read.parquet(a("batchParquet"))
      present.foreach {
        case "pq" => PqIndex.appendVectors(spark, s"$indexDir/pq",
          emb, "vec_id", "embedding")
        case ivf => IvfIndex.appendVectors(spark, s"$indexDir/$ivf",
          emb, "vec_id", "embedding")
      }
      Seq("appended" -> present.mkString(","))
    },

    /** Answer top-k queries from the PERSISTED IVF index (annNprobe from
      * the overlay) — no retraining, no corpus scan; only the probed
      * bucket partitions are read. */
    Verb("ann-query <indexDir> <queriesParquet> <outDir> [conf.json]") {
      (spark, a) =>
        val ivf = s"${a("indexDir")}/ivf"
        require(IvfIndex.readIndexMetric(spark, ivf) == "cosine",
          "ann-query serves the cosine index")
        val (centroids, buckets) = IvfIndex.readIndex(spark, ivf)
        val q = spark.read.parquet(a("queriesParquet"))
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        Seq("results" -> writeCounted(
          IvfIndex.topKAgainstIndex(q, centroids, buckets,
            "query_id", "qv", k = 10, nprobe = conf(a).annNprobe)
            .drop("qv"),
          a("outDir")))
    },

    /** Answer top-k from the PERSISTED PQ index alone (codebook + codes —
      * the 32×-compressed artifact; no float vector is read). */
    Verb("ann-query-pq <indexDir> <queriesParquet> <outDir> [conf.json]") {
      (spark, a) =>
        val (cb, codes) = PqIndex.readIndex(spark, s"${a("indexDir")}/pq")
        Seq("results" -> writeCounted(PqIndex.adcTopK(spark,
          loadQueryVectors(spark, a("queriesParquet")), codes, cb, k = 10),
          a("outDir")))
    },

    /** Answer top-k from the PERSISTED IVF-PQ composition: the L2 IVF
      * prunes to annNprobe bucket partitions, the PQ codes score the
      * survivors via ADC — the FAISS-style serving path, entirely from
      * stored artifacts. */
    Verb("ann-query-ivfpq <indexDir> <queriesParquet> <outDir> " +
        "[conf.json]") { (spark, a) =>
      val indexDir = a("indexDir")
      require(IvfIndex.readIndexMetric(spark, s"$indexDir/ivf_l2") == "l2",
        "ann-query-ivfpq needs the L2-bucketed index (coarse metric must " +
          "match ADC)")
      val (centroids, buckets) =
        IvfIndex.readIndex(spark, s"$indexDir/ivf_l2")
      val (cb, codes) = PqIndex.readIndex(spark, s"$indexDir/pq")
      Seq("results" -> writeCounted(PqIndex.ivfPqTopKAgainstIndex(spark,
        loadQueryVectors(spark, a("queriesParquet")), centroids, buckets,
        cb, codes, nprobe = conf(a).annNprobe, topK = 10), a("outDir")))
    },

    /** Graph-ANN index lifecycle from the command line (the serving
      * ladder as a user surface, mirroring the IVF trio):
      * build persists graph/vectors/entries/adj/meta, ingest appends a
      * batch without retraining (`--refresh-entries` re-derives the
      * entry frame from the grown corpus), serve answers a query
      * parquet on the hot RAM replica when its estimate fits the
      * budget, else on the relational engine. All three compose
      * the gated operators unchanged — GraphAnnCliSpec pins the CLI
      * path hash-equal to the q243/q244 oracle faces. */
    Verb("graph-ann-build <embeddingsParquet> <indexDir> [--k int=16] " +
        "[--cap int=32] [--rounds int=3] [--entries int=32]") { (spark, a) =>
      val (n, e) = GraphAnnIndex.build(spark, a("embeddingsParquet"),
        a("indexDir"), k = a.int("--k"), cap = a.int("--cap"),
        rounds = a.int("--rounds"), entryCand = a.int("--entries"))
      Seq("vectors" -> n, "edges" -> e, "dir" -> a("indexDir"))
    },
    Verb("graph-ann-ingest <batchParquet> <indexDir> [--refresh-entries] " +
        "[--beam int=4] [--hops int=4]") { (spark, a) =>
      val (nNew, nRefreshed) = GraphAnnIndex.ingest(spark,
        a("batchParquet"), a("indexDir"), beam = a.int("--beam"),
        hops = a.int("--hops"), refreshEntries = a.has("--refresh-entries"))
      Seq("appended" -> nNew, "refreshed_old_lists" -> nRefreshed) ++
        (if (a.has("--refresh-entries")) Seq("entries" -> "refreshed")
        else Nil)
    },
    Verb("graph-ann-serve <indexDir> <queriesParquet> <outDir> " +
        "[--beam int=4] [--hops int=8] [--topk int=8]") { (spark, a) =>
      val served = GraphAnnIndex.serve(spark, a("indexDir"),
        a("queriesParquet"), a("outDir"), beam = a.int("--beam"),
        hops = a.int("--hops"), k = a.int("--topk"))
      Seq("engine" -> served.engine, "est" -> served.estBytes,
        "budget" -> served.budget, "probes" -> served.probes,
        "results" -> served.rows)
    },

    /** Streaming graph-ANN ingest: drain the embedding backlog in
      * `srcDir` into the persisted index via the q240 append protocol,
      * batch-replay idempotent ([[graft.streaming.GraphAnnStream]]). */
    Verb("graph-ann-stream <srcDir> <indexDir> <chkDir> " +
        "[--refresh-entries]") { (spark, a) =>
      graft.streaming.GraphAnnStream.runToCompletion(spark, a("srcDir"),
        a("indexDir"), a("chkDir"),
        refreshEntries = a.has("--refresh-entries"))
      Seq("indexed" -> graft.streaming.GraphAnnStream
        .indexedVectors(spark, a("indexDir")).count())
    },

    /** Cardinality-sketch artifact lifecycle (`operators/Sketches.scala`):
      * ingest appends one tiny per-(source)-group HLL row per batch —
      * never reading old data — and report answers "distinct docs ever
      * seen" from the artifact alone. */
    Verb("sketch-ingest <batchParquet> <sketchDir> [batchId:long=1]") {
      (spark, a) =>
        Sketches.appendSketches(spark.read.parquet(a("batchParquet")),
          "source", "doc_id", a("sketchDir"), a.long("batchId"))
        Seq("batch" -> a.long("batchId"), "dir" -> a("sketchDir"))
    },
    Verb("sketch-report <sketchDir> <outDir>") { (spark, a) =>
      Seq("groups" -> writeCounted(
        Sketches.estimateFromArtifact(spark, a("sketchDir"))
          .orderBy(col("group")), a("outDir")))
    },

    /** Content-keyed incremental diff: only `added` rows need dedup +
      * scoring downstream; `removed` feeds retention bookkeeping. */
    Verb("snapshot-diff <oldParquet> <newParquet> <outDir>") { (spark, a) =>
      Sinks.writeParquet(Dedup.snapshotDiff(spark.read.parquet(
        a("oldParquet")), spark.read.parquet(a("newParquet")), "text"),
        a("outDir"))
      spark.read.parquet(a("outDir"))
        .groupBy("diff_status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    },

    /** fastText-style quality gate: train the hashed-bigram logistic
      * classifier against the `en` slice as the quality target, score
      * everything, keep rows at or above the threshold. */
    Verb("quality-filter <docsParquet> <outDir> [threshold:double=0.5]") {
      (spark, a) =>
        val docs = spark.read.parquet(a("docsParquet"))
        val model = graft.ml.QualityClassifier.train(docs, "doc_id", "text",
          isTarget = col("lang") === "en", buckets = 1024, seed = 42L,
          maxSample = 200, iters = 60)
        val scored = docs.join(
          graft.ml.QualityClassifier.score(docs, "doc_id", "text", model),
          "doc_id")
        Seq("kept" -> writeCounted(
          scored.filter(col("quality_score") >= a.double("threshold")),
          a("outDir")), "of" -> docs.count())
    },

    /** DSIR selection: importance-weight against the `en` target and keep
      * the Gumbel-top-k docs (`operators/Dsir.scala`). */
    Verb("dsir-select <docsParquet> <outDir> [k:int=100]") { (spark, a) =>
      val docs = spark.read.parquet(a("docsParquet"))
      val weights = graft.operators.Dsir.importanceWeights(docs, "doc_id",
        "text", isTarget = col("lang") === "en", buckets = 1024, seed = 42L)
      // target docs inform the model but only the RAW pool is selected
      // from — otherwise the highest-weighted target docs fill the top-k
      val raw = docs.filter(col("lang") =!= "en").select(col("doc_id"))
      val picked = graft.operators.Dsir.resampleTopK(
        weights.join(raw, "doc_id"), "doc_id", k = a.int("k"), seed = 7L)
      Seq("kept" -> writeCounted(docs.join(picked, "doc_id"), a("outDir")))
    },

    /** Small-files compaction for an ingest-grown parquet directory —
      * see [[graft.io.Sinks.compact]]. Writers must be quiesced. */
    Verb("compact <parquetDir> [targetMB:long=128]") { (spark, a) =>
      val (before, after) = Sinks.compact(spark, a("parquetDir"),
        a.long("targetMB") * 1024 * 1024)
      Seq("dir" -> a("parquetDir"), "files_before" -> before,
        "files_after" -> after)
    },

    /** JSONL front door: PERMISSIVE read with corrupt-line quarantine
      * ([[graft.io.Sources.readJsonl]]) → clean parquet + the quarantined
      * raw lines as the audit artifact. */
    Verb("jsonl-ingest <jsonlPath> <outDir>") { (spark, a) =>
      val (clean, bad) =
        Sources.splitQuarantine(Sources.readJsonl(spark, a("jsonlPath")))
      Seq("clean" -> writeCounted(clean, s"${a("outDir")}/clean"),
        "quarantined" -> writeCounted(bad, s"${a("outDir")}/quarantine"))
    },

    /** Benchmark decontamination: per-training-doc w-gram overlap report
      * against the eval set, plus the CLEANED corpus (overlapping docs
      * anti-joined away) — the artifact keeps the evidence, the clean
      * set is what trains. */
    Verb("decontaminate <docsParquet> <evalParquet> <outDir> [w:int=8]") {
      (spark, a) =>
        val out = a("outDir")
        val train = spark.read.parquet(a("docsParquet"))
        val report = Decontaminate.overlapReport(train,
          spark.read.parquet(a("evalParquet")), "doc_id", "text", a.int("w"))
        val contaminated = writeCounted(report, s"$out/report")
        val clean = train.join(
          spark.read.parquet(s"$out/report").select("doc_id"),
          Seq("doc_id"), "left_anti")
        Seq("contaminated" -> contaminated,
          "kept" -> writeCounted(clean, s"$out/clean"), "of" -> train.count())
    },

    /** Build the persisted eval-gram decon index once; `decon-stream`
      * then screens arriving shards without re-reading the eval set. */
    Verb("decon-index <evalParquet> <indexDir> [w:int=8]") { (spark, a) =>
      Seq("grams" -> Decontaminate.writeEvalIndex(
        spark.read.parquet(a("evalParquet")), "doc_id", "text",
        a("indexDir"), a.int("w")), "w" -> a.int("w"))
    },

    /** Streaming decontamination screen: drain the parquet backlog in
      * `srcDir` against the persisted index, writing per-doc overlap
      * evidence to batchId-keyed partition dirs (replay-idempotent; the
      * q202 face). Re-running with the same checkpoint is a no-op. */
    Verb("decon-stream <srcDir> <indexDir> <outDir> <chkDir>") {
      (spark, a) =>
        graft.streaming.DeconStream.runToCompletion(spark, a("srcDir"),
          a("indexDir"), a("outDir"), a("chkDir"))
        // an already-drained checkpoint (or all-empty source files) is a
        // correct no-op that never creates outDir
        Seq("flagged" -> (if (Sources.exists(spark, a("outDir")))
          graft.streaming.DeconStream.readOutput(spark, a("outDir")).count()
        else 0L))
    },

    /** Build the persisted REPLAYABLE near-dup index (md5 band keys +
      * shingle sets) for `neardup-stream`. The xxhash64 production index
      * stays behind `dedup-ingest`. */
    Verb("neardup-index <docsParquet> <indexDir>") { (spark, a) =>
      Seq("docs" -> Dedup.writeReplayableIndex(
        spark.read.parquet(a("docsParquet")), "doc_id", "text",
        a("indexDir")))
    },

    /** Streaming near-dup screen: drain the parquet backlog in `srcDir`
      * against the persisted replayable index, writing verified
      * (new_id, corpus_id, jaccard) matches to batchId-keyed partition
      * dirs (replay-idempotent; the q203 face). */
    Verb("neardup-stream <srcDir> <indexDir> <outDir> <chkDir> " +
        "[threshold:double=0.5]") { (spark, a) =>
      graft.streaming.NearDupStream.runToCompletion(spark, a("srcDir"),
        a("indexDir"), a("outDir"), a("chkDir"),
        threshold = a.double("threshold"))
      // same no-op contract as decon-stream: nothing drained, no outDir
      Seq("matches" -> (if (Sources.exists(spark, a("outDir")))
        graft.streaming.NearDupStream.readOutput(spark, a("outDir")).count()
      else 0L))
    },

    /** Streaming model growth: drain the embedding backlog in `srcDir`,
      * upserting one idempotent moments row per micro-batch (the q207
      * face); the artifact then serves [[graft.ml.Pca.fitFromMoments]]
      * without ever re-reading data. */
    Verb("moments-stream <srcDir> <momentsDir> <chkDir> [dim:int=64]") {
      (spark, a) =>
        graft.streaming.MomentsStream.runToCompletion(spark, a("srcDir"),
          a("momentsDir"), a("chkDir"), dim = a.int("dim"))
        Seq("batches" -> (if (Sources.exists(spark, a("momentsDir")))
          spark.read.parquet(a("momentsDir")).count() else 0L))
    },

    /** Streaming distinct-count growth over the portable-HLL artifact
      * ([[graft.streaming.HllStream]]): drain the backlog, then serve
      * the estimate from the register-max merge of the artifact alone —
      * the q211 lifecycle as an operational verb. */
    Verb("hll-stream <srcDir> <hllDir> <chkDir> <keyCol>") { (spark, a) =>
      val hllDir = a("hllDir")
      graft.streaming.HllStream.runToCompletion(spark, a("srcDir"), hllDir,
        a("chkDir"), a("keyCol"))
      val est = Sketches.hllEstimate(
        Sketches.hllRegistersFromArtifact(spark, hllDir))
        .select("est").head().getDouble(0)
      Seq("batches" -> spark.read.parquet(hllDir)
        .select("batch_id").distinct().count(), "est" -> est)
    },

    /** Streaming quantile growth over the histogram artifact
      * ([[graft.streaming.SketchStreams.runHistToCompletion]]): drain
      * the backlog, then serve p50/p95/p99 from the per-bin sum of the
      * artifact alone — the q222 lifecycle as an operational verb. */
    Verb("hist-stream <srcDir> <histDir> <chkDir> <valueCol> " +
        "[width:long=16] [nbins:int=64]") { (spark, a) =>
      val histDir = a("histDir")
      graft.streaming.SketchStreams.runHistToCompletion(spark, a("srcDir"),
        histDir, a("chkDir"), a("valueCol"), a.long("width"), a.int("nbins"))
      val qs = Sketches.histogramQuantiles(
        Sketches.histogramCountsFromArtifact(spark, histDir),
        a.long("width"), Seq(0.5, 0.95, 0.99))
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      Seq("batches" -> spark.read.parquet(histDir)
        .select("batch_id").distinct().count(),
        "p50" -> qs(0.5), "p95" -> qs(0.95), "p99" -> qs(0.99))
    },

    /** Dataset-overlap estimate by HLL set algebra ([[graft.operators
      * .Sketches]], the q214 mechanism): |A∩B| ≈ Â + B̂ - Û from p=12
      * portable registers — the two inputs are sketched independently
      * and never joined. Writes the one-row estimate to `outDir`. */
    Verb("overlap <aParquet> <bParquet> <keyCol> <outDir>") { (spark, a) =>
      val ra = Sketches.hllRegisters(spark.read.parquet(a("aParquet")),
        a("keyCol"), p = 12)
      val rb = Sketches.hllRegisters(spark.read.parquet(a("bParquet")),
        a("keyCol"), p = 12)
      val ru = Sketches.hllMergeRegisters(ra, rb)
      def est(r: DataFrame, name: String) =
        Sketches.hllEstimate(r, p = 12).select(col("est").as(name))
      Sinks.writeParquet(est(ra, "est_a").crossJoin(est(rb, "est_b"))
        .crossJoin(est(ru, "est_u"))
        .withColumn("est_overlap",
          round(col("est_a") + col("est_b") - col("est_u"), 4)), a("outDir"))
      val row = spark.read.parquet(a("outDir")).head()
      Seq("est_a", "est_b", "est_u", "est_overlap").zipWithIndex
        .map { case (n, i) => n -> row.getDouble(i) }
    },

    /** Int8 scalar quantization audit: per-vector code checksum +
      * reconstruction error ([[graft.operators.ScalarQuant]]). */
    Verb("quantize <embParquet> <outDir>") { (spark, a) =>
      val emb = spark.read.parquet(a("embParquet"))
      Sinks.writeParquet(graft.operators.ScalarQuant.quantizeReport(
        emb, "vec_id", "embedding"), a("outDir"))
      Seq("vectors" -> emb.count(), "meanReconErr" ->
        spark.read.parquet(a("outDir")).agg(round(avg("recon_err"), 6))
          .head().getDouble(0))
    },

    /** Hybrid BM25 + cosine retrieval with RRF fusion
      * ([[graft.operators.Retrieval.hybridTopK]]); `--rerank` re-scores
      * the fused candidates pairwise from the stored embeddings (the
      * q224 two-stage face). */
    Verb("hybrid-search <docsParquet> <embParquet> <outDir> <term ...> " +
        "[--vec long=0] [--k int=10] [--rerank]") { (spark, a) =>
      val (docs, emb) = (spark.read.parquet(a("docsParquet")),
        spark.read.parquet(a("embParquet")))
      val out =
        if (a.has("--rerank")) graft.operators.Retrieval.rerankTopK(docs,
          emb, queryTerms = a.terms, queryVecId = a.long("--vec"),
          k = a.int("--k"))
        else graft.operators.Retrieval.hybridTopK(docs, emb,
          queryTerms = a.terms, queryVecId = a.long("--vec"),
          k = a.int("--k"))
      Seq("results" -> writeCounted(out, a("outDir")))
    },

    /** The nightly corpus build in ONE verb — see
      * [[graft.operators.Curation.curate]]; `--append` grows an existing
      * directory with new-content docs only
      * ([[graft.operators.Curation.curateAppend]]). */
    Verb("curate [--append] <docsParquet> <outDir> " +
        "[rowsPerShard:long=2000]") { (spark, a) =>
      val docs = spark.read.parquet(a("docsParquet"))
      val counts =
        if (a.has("--append")) graft.operators.Curation.curateAppend(spark,
          docs, a("outDir"), a.long("rowsPerShard"))
        else graft.operators.Curation.curate(spark, docs, a("outDir"),
          a.long("rowsPerShard"))
      Seq("append" -> a.has("--append"), "in" -> docs.count(),
        "kept" -> counts.values.sum) ++ counts.toSeq.sortBy(_._1)
    }
  )

  /** Collect the bounded query probe set as local (id, vector) pairs —
    * the shape the ADC scorers take their per-query lookup tables from.
    */
  private def loadQueryVectors(spark: SparkSession,
      queries: String): Seq[(Long, Array[Double])] =
    spark.read.parquet(queries)
      .select(col("vec_id").cast("long"),
        graft.operators.Similarity.asDouble(col("embedding")))
      .collect()
      .map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]](1).toArray)
      .toSeq.sortBy(_._1)

  private def embDim(df: DataFrame): Int =
    df.select(size(col("embedding"))).head().getInt(0)

  /** The reference's two scripts: run the config task grid, either
    * searching k and upserting the k-store (`searchK`) or clustering
    * with the stored k and writing the JSON docs. Returns each task's
    * segment count. */
  private def clusterGrid(spark: SparkSession, gc: GraftConfig,
      interval: String, input: String, outDir: String,
      searchK: Boolean): Seq[(String, Long)] = {
    val date = java.time.LocalDate.now().toString
    val raw =
      if (input.endsWith(".csv")) Sources.readCsv(spark, input)
      else spark.read.parquet(input)
    // S4: interval row-limit as a sampling threshold, not LIMIT
    val limit = gc.args.get(interval).map(_.limit)
      .getOrElse(gc.args(gc.optimalKarg).limit)
    val df = Sources.downsample(raw, limit, seed = 42L)

    def runTask(task: (String, String, String, String, String))
        : (String, Long) = {
      val (macroCol, microCol, xCol, yCol, alg) = task
      val conf = EngineConf(
        macroCol = macroCol, microCol = microCol, xCol = xCol, yCol = yCol,
        algorithm = alg, startK = gc.startK, stopK = gc.stopK,
        iterNum = gc.iterNum, thresholdedIterNum = gc.thresholdedIterNum,
        silhouetteThreshold = gc.silhouetteThreshold,
        oldSilhouetteThreshold = gc.oldSilhouetteThreshold,
        d3NormalizeMax = gc.d3NormalizeMax, dontScale = gc.dontScale)
      val taskTag = s"$alg-$macroCol-$microCol-$xCol-$yCol"
      val kStorePath = s"$outDir/kstore"
      if (searchK) {
        val results = ClusterEngine.run(df, conf).persist()
        try {
          KStore.write(KStore.fromResults(results, conf, date), kStorePath)
          taskTag -> results.count()
        } finally results.unpersist()
      } else {
        val cached =
          try KStore.read(spark, kStorePath, conf)
          catch { case _: Exception => Map.empty[(String, String), graft.engine.KEntry] }
        val results = ClusterEngine.run(df, conf, cached).persist()
        try {
          Sinks.writeJson(ResultDocs.original(results, conf, date),
            s"$outDir/${interval}_originalCollection/$taskTag")
          Sinks.writeJson(ResultDocs.d3(results, conf, date),
            s"$outDir/${interval}_d3Collection/$taskTag")
          taskTag -> results.count()
        } finally results.unpersist()
      }
    }

    // G3: the reference fans the grid over threadNum driver threads
    // (conf.json:24) to hide its per-segment job storms. With one-shuffle
    // segmentation a task is one job, so concurrency only overlaps
    // scheduling gaps — still honored via a Future pool + FAIR scheduler
    // when threadNum > 1. The k-store writes stay race-free either way
    // (each task overwrites only its own partition).
    val grid = gc.taskGrid
    if (gc.threadNum > 1 && grid.size > 1) {
      spark.sparkContext.setLocalProperty("spark.scheduler.mode", "FAIR")
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(gc.threadNum, grid.size))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(grid.map(t => Future(runTask(t)))), Duration.Inf)
      finally pool.shutdown()
    } else grid.map(runTask)
  }
}
