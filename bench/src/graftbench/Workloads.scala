package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.{ClusterEngine, EngineConf, ResultDocs}
import graft.io.{KStore, Sinks, Sources}
import graft.ksearch.KPolicy
import graft.ml.{LocalKMeans, LocalMetrics}
import graft.operators.Dedup
import graft.preprocess.Scaling

/** What a workload gives the run loop. `setup` generates the inputs
  * and runs the one-off build into a fresh directory (the loop times it
  * several times and keeps the last); `step` is one closed-loop request;
  * `traced` steps wrap each layer call in a span and force its output,
  * so the span contains the execution. `observe` reads a step's output
  * back after the step's clock stopped and returns its digest. */
abstract class Workload(val spark: SparkSession, val work: Path, val seed: Long,
    val probes: Probes, val trace: Trace) {
  def warmupSteps: Int
  def minSteps: Int = 3
  /** Input rows, docs or probes one step consumes. */
  def rowsPerStep: Long
  def setup(rep: Int): Unit
  def step(i: Int, traced: Boolean): Unit
  def observe(i: Int, traced: Boolean): String
  /** Steps whose outputs fail a check, with the reason. Runs after the
    * timed phase. */
  def verify(): Map[Int, String]
  def quality: Double
  /** Layer metrics this workload measures; the rest read 0. */
  def layers(): Map[String, Double]

  protected def span[T](traced: Boolean, name: String)(body: => T): T =
    if (traced) trace.span(name)(body) else body

  /** Runs a frame to a sink that writes nothing. */
  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def dir(parts: String*): Path = {
    val p = parts.foldLeft(work)(_.resolve(_))
    Files.createDirectories(p)
  }

  protected def fresh(parts: String*): Path = {
    val p = parts.foldLeft(work)(_.resolve(_))
    Walk.delete(p)
    Files.createDirectories(p)
  }
}

object Walk {
  def delete(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** (files, bytes) under `p`, hidden checksum files included. */
  def size(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }

  /** The data files of a Spark output dir, in name order. */
  def partFiles(p: Path): Seq[Path] =
    Files.list(p).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.sorted
}

// ------------------------------------------------------------------ container

/** The reference cycle on a container-metrics CSV: read + downsample,
  * k-sweep, k-store write/read, cached-k run, result documents. */
final class ContainerKSelect(spark: SparkSession, work: Path, seed: Long,
    probes: Probes, trace: Trace) extends Workload(spark, work, seed, probes, trace) {
  import Gen.Container

  val warmupSteps = 3
  val rowsPerStep: Long = Container.rows.toLong
  private val Date = "2020-03-06"
  private val conf = EngineConf(macroCol = "customer_id", microCol = "application_id",
    xCol = "cpu_percent", yCol = "ram_usage", dontScale = Seq("cpu_percent"))
  private val limit = (Container.rows * 0.8).toLong
  private var csv: Path = _
  private var segments: Seq[Gen.Segment] = Nil
  private val digests = mutable.Map.empty[Int, String]
  private var sweptK = Map.empty[(String, String), Int]
  private val taskMs = mutable.ArrayBuffer.empty[Seq[Long]]
  private val kChanged = mutable.ArrayBuffer.empty[Double]

  def setup(rep: Int): Unit = {
    val d = fresh("container", "input")
    csv = d.resolve("metrics.csv")
    segments = Container.write(seed, csv)
  }

  private def outDir = work.resolve("container").resolve("out")
  private var lastCached = Map.empty[(String, String), graft.engine.KEntry]

  def step(i: Int, traced: Boolean): Unit = {
    val out = fresh("container", "out")
    val df = span(traced, "io.csv_read") {
      val d = Sources.downsample(Sources.readCsv(spark, csv.toString), limit, seed)
      if (traced) noop(d)
      d
    }
    if (traced) span(traced, "preprocess.scale") {
      noop(Scaling.scaleSegments(df, conf.macroCol, conf.microCol,
        Seq(conf.xCol, conf.yCol), conf.dontScale))
    }
    val from = probes.steps.groupTaskCount
    val swept = span(traced, "engine.sweep") {
      val s = ClusterEngine.run(df, conf).persist()
      if (traced) s.count()
      s
    }
    val kdir = out.resolve("kstore").toString
    val cached = try span(traced, "io.kstore") {
      KStore.write(KStore.fromResults(swept, conf, Date), kdir)
      KStore.read(spark, kdir, conf)
    } finally swept.unpersist()
    if (traced) {
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      taskMs += probes.steps.groupTasksSince(from)
    }
    val results = span(traced, "engine.cached") {
      val r = ClusterEngine.run(df, conf, cached).persist()
      if (traced) r.count()
      r
    }
    try span(traced, "io.docs_write") {
      Sinks.writeJson(ResultDocs.original(results, conf, Date), out.resolve("original").toString)
      Sinks.writeJson(ResultDocs.d3(results, conf, Date), out.resolve("d3").toString)
    } finally results.unpersist()
    lastCached = cached
  }

  def observe(i: Int, traced: Boolean): String = {
    val cached = lastCached
    val docs = Seq("original", "d3").flatMap(n => Walk.partFiles(outDir.resolve(n)))
      .map(p => new String(Files.readAllBytes(p), "UTF-8"))
    val digest = Gen.digestStrings(docs)
    digests(i) = digest
    if (i == 0) sweptK = cached.map { case (key, e) => key -> e.k }
    if (traced) {
      val ks = readKs(outDir.resolve("original"))
      kChanged += ks.count { case (key, k) => cached.get(key).exists(_.k != k) }.toDouble /
        math.max(1, ks.size)
    }
    digest
  }

  /** (customer, application) -> k of the written original docs. */
  private def readKs(p: Path): Map[(String, String), Int] = {
    val docs = spark.read.json(p.toString)
    docs.selectExpr("explode(list) as m").selectExpr("m.customer_id as c",
        "explode(m.application_id_List) as a")
      .selectExpr("c", "a.application_id", "size(a.clusters)")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
  }

  def verify(): Map[Int, String] = {
    val first = digests.get(0)
    val bad = digests.collect { case (i, d) if !first.contains(d) => i -> s"docs digest $d != step 0" }.toMap
    if (sweptK.size != segments.size)
      bad + (0 -> s"k-store holds ${sweptK.size} segments, generated ${segments.size}")
    else bad
  }

  def quality: Double = {
    val planted = segments.map(s => (s.customer, s.app) -> s.k).toMap
    planted.count { case (key, k) => sweptK.get(key).contains(k) }.toDouble / planted.size
  }

  /** LocalKMeans / LocalMetrics / KPolicy called directly on the
    * generated segments (all rows, no sampling): a k-sweep 2..10 with the
    * reference's three seeds per k. */
  def layers(): Map[String, Double] = {
    val lines = Files.readAllLines(csv).asScala.drop(1)
    val bySeg = lines.map(Container.point).groupBy(p => (p._1, p._2))
      .map { case (key, ps) => key -> ps.map(_._3).toArray }
    var fitNs, silNs, fitPts, silPts = 0L
    var hits = 0
    trace.step = -1
    trace.span("ml.ksweep") {
      segments.foreach { s =>
        val pts = bySeg((s.customer, s.app)).sortBy(p => (p(0), p(1)))
        val wssse = mutable.Map.empty[Int, Double]
        val sils = (2 to 10).map { k =>
          val best = (1 to 3).map { sd =>
            val t0 = System.nanoTime()
            val m = LocalKMeans.fit(pts, k, sd.toLong)
            val t1 = System.nanoTime()
            val sil = LocalMetrics.silhouette(pts, m.labels)
            silNs += System.nanoTime() - t1; fitNs += t1 - t0
            fitPts += pts.length; silPts += pts.length
            (sil, m)
          }.maxBy(_._1)
          wssse(k) = best._2.cost(pts)
          KPolicy.KScore(k, best._1)
        }
        val (k, _) = KPolicy.optimalK(wssse.toMap, sils, false, 2, 10, conf.silhouetteThreshold)
        if (k == s.k) hits += 1
      }
    }
    Map(
      "io.csv_read_ms" -> trace.medianSelfMs("io.csv_read"),
      "io.kstore_ms" -> trace.medianSelfMs("io.kstore"),
      "io.docs_write_ms" -> trace.medianSelfMs("io.docs_write"),
      "preprocess.scale_ms" -> trace.medianSelfMs("preprocess.scale"),
      "engine.sweep_ms" -> trace.medianSelfMs("engine.sweep"),
      "engine.cached_ms" -> trace.medianSelfMs("engine.cached"),
      "engine.task_max_ms" -> Stats.median(taskMs.map(t => if (t.isEmpty) 0.0 else t.max.toDouble).toSeq),
      "engine.task_p50_ms" -> Stats.median(taskMs.map(t => Stats.median(t.map(_.toDouble))).toSeq),
      "engine.k_changed_frac" -> Stats.median(kChanged.toSeq),
      "ml.fit_us_per_point" -> fitNs / 1e3 / math.max(1L, fitPts),
      "ml.silhouette_us_per_point" -> silNs / 1e3 / math.max(1L, silPts),
      "ksearch.k_hit_frac" -> hits.toDouble / segments.size)
  }
}

// --------------------------------------------------------------------- dedup

/** Incremental MinHash dedup: each step ingests the next batch against
  * the growing index. */
final class CorpusDedup(spark: SparkSession, work: Path, seed: Long,
    probes: Probes, trace: Trace) extends Workload(spark, work, seed, probes, trace) {
  import Gen.Corpus

  val warmupSteps = 2
  val rowsPerStep: Long = Corpus.BatchDocs.toLong
  /** Batches generated: bootstrap + more ingest steps than a run makes. */
  private val Batches = 24
  private var batches: IndexedSeq[IndexedSeq[Gen.Doc]] = _
  private var inputs: Path = _
  private var index: Path = _
  private val textOf = mutable.Map.empty[Long, String]
  /** Per step: (in-batch pairs, cross pairs, kept ids). */
  private val outputs = mutable.Map.empty[Int, (Set[(Long, Long)], Set[(Long, Long)], Set[Long])]
  private val counts = mutable.Map.empty[Int, (Long, Long, Long)]
  private val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]

  private def read(path: Path): DataFrame =
    spark.read.schema("doc_id BIGINT, text STRING").json(path.toString)

  def setup(rep: Int): Unit = {
    index = fresh("dedup").resolve("index")
    inputs = dir("dedup", "batches")
    batches = Corpus.batches(seed, Batches)
    batches.indices.foreach(b => Corpus.writeJsonl(batches(b), inputs.resolve(f"b$b%03d.jsonl")))
    trace.span("operators.build") {
      Dedup.writeIndex(read(inputs.resolve("b000.jsonl")), "doc_id", "text", index.toString)
    }
  }

  private def outDir(i: Int) = dir("dedup", "out", f"s$i%03d")

  def step(i: Int, traced: Boolean): Unit = {
    require(i + 1 < Batches, s"ran out of generated batches at step $i")
    val batch = read(inputs.resolve(f"b${i + 1}%03d.jsonl"))
    val out = outDir(i)
    if (traced) {
      span(traced, "expressions.minhash") {
        noop(Dedup.minhashSignatures(batch, "doc_id", "text"))
      }
      val cands = span(traced, "operators.lsh_candidates") {
        Dedup.lshCandidates(Dedup.minhashSignatures(batch, "doc_id", "text"), 8, 32,
          Corpus.MaxBucket).count()
      }
      span(traced, "operators.against_index") {
        Dedup.minhashNearDupsAgainstIndex(Dedup.readIndex(spark, index.toString), batch,
          "doc_id", "text", maxBucket = Corpus.MaxBucket).count()
      }
      layerRows += Map("operators.lsh_candidates" -> cands.toDouble)
    }
    if (traced) org.apache.spark.BenchBus.drain(spark.sparkContext)
    val capped0 = probes.caps.capped.get
    val c = span(traced, "operators.ingest") {
      Dedup.ingest(spark, batch, index.toString, out.toString, maxBucket = Corpus.MaxBucket)
    }
    counts(i) = c
    if (traced) {
      span(traced, "operators.components") {
        Dedup.connectedComponents(spark.read.parquet(out.resolve("batch_pairs").toString)).count()
      }
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      val (files, bytes) = Walk.size(out)
      val (ifiles, ibytes) = Walk.size(index)
      val cands = layerRows.last("operators.lsh_candidates")
      layerRows(layerRows.length - 1) = layerRows.last ++ Map(
        "operators.verified_pairs" -> (c._1 + c._2).toDouble,
        "operators.lsh_precision" -> (if (cands > 0) c._2 / cands else 0.0),
        "operators.capped_buckets" -> (probes.caps.capped.get - capped0).toDouble,
        "io.write_mb" -> bytes / 1048576.0,
        "io.files_written" -> files.toDouble,
        "io.index_files" -> ifiles.toDouble,
        "io.index_mb" -> ibytes / 1048576.0)
    }
  }

  def observe(i: Int, traced: Boolean): String = {
    val out = outDir(i)
    val pairs = spark.read.parquet(out.resolve("batch_pairs").toString)
      .select(col("id_a"), col("id_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cross = spark.read.parquet(out.resolve("cross_pairs").toString)
      .select(col("new_id"), col("corpus_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kept = spark.read.parquet(out.resolve("kept").toString)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    outputs(i) = (pairs, cross, kept)
    Gen.digestStrings(pairs.toSeq.sorted.map(p => s"b${p._1},${p._2}") ++
      cross.toSeq.sorted.map(p => s"c${p._1},${p._2}") ++ kept.toSeq.sorted.map(k => s"k$k"))
  }

  /** Truth per ingest step, replayed in plain Scala: (in-batch pairs,
    * cross pairs, victims). The index holds all of batch 0 and then each
    * batch's survivors; a doc is a victim if it matches the index at
    * Jaccard >= 0.5 or is not the smallest id of its in-batch family. */
  private lazy val truth: IndexedSeq[(Set[(Long, Long)], Set[(Long, Long)], Set[Long])] = {
    batches.foreach(_.foreach(d => textOf(d.id) = d.text))
    val idx = mutable.ArrayBuffer.empty[Gen.Doc] ++ batches(0)
    val steps = if (outputs.isEmpty) 0 else outputs.keys.max + 1
    (1 to steps).map { b =>
      val batch = batches(b)
      val inBatch = Corpus.exactPairs(batch, None)
      val cross = Corpus.exactPairs(batch, Some(idx.toSeq))
      val victims = cross.map(_._1) ++
        components(inBatch).collect { case (id, root) if id != root => id }
      idx ++= batch.filterNot(d => victims.contains(d.id))
      (inBatch, cross, victims)
    }
  }

  private def components(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  def verify(): Map[Int, String] = outputs.toSeq.flatMap { case (i, (pairs, cross, kept)) =>
    val (_, _, victims) = truth(i)
    val wrong = (pairs ++ cross).filter { case (a, b) =>
      Corpus.jaccard(Corpus.shingles(textOf(a)), Corpus.shingles(textOf(b))) < Corpus.Threshold
    }
    val (c, p, k) = counts(i)
    val removed = batches(i + 1).map(_.id).filterNot(kept.contains).toSet
    val recall = if (victims.isEmpty) 1.0 else (removed intersect victims).size.toDouble / victims.size
    if (wrong.nonEmpty) Some(i -> s"${wrong.size} reported pairs below Jaccard ${Corpus.Threshold}")
    else if ((c, p, k) != (cross.size.toLong, pairs.size.toLong, kept.size.toLong))
      Some(i -> s"ingest returned ${(c, p, k)}, wrote ${(cross.size, pairs.size, kept.size)}")
    else if (recall < 0.8) Some(i -> f"removed only $recall%.3f of the true duplicates")
    else None
  }.toMap

  /** Pair F1 against the exact truth over the first [[minSteps]] + warm-up
    * steps, which every run executes. */
  def quality: Double = {
    val steps = 0 until (warmupSteps + minSteps)
    val found = steps.flatMap(i => outputs.get(i).toSeq.flatMap(o => o._1 ++ o._2)).toSet
    val real = steps.flatMap(i => truth(i)._1 ++ truth(i)._2).toSet
    val tp = (found intersect real).size.toDouble
    if (tp == 0) 0.0 else 2 * tp / (found.size + real.size)
  }

  def layers(): Map[String, Double] = {
    val keys = layerRows.flatMap(_.keys).distinct
    keys.map(k => k -> Stats.median(layerRows.map(_.getOrElse(k, 0.0)).toSeq)).toMap ++ Map(
      "expressions.minhash_ms" -> trace.medianSelfMs("expressions.minhash"),
      "operators.ingest_ms" -> trace.medianSelfMs("operators.ingest"),
      "operators.against_index_ms" -> trace.medianSelfMs("operators.against_index"),
      "operators.components_ms" -> trace.medianSelfMs("operators.components"),
      "operators.build_ms" -> trace.medianSelfMs("operators.build"))
  }
}
