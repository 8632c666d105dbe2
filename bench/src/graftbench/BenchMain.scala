package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: session, timed set-up, warm-up, then closed-loop
  * steps from the driver thread for `--seconds`. With `--trace 0` it
  * reports the end-to-end metrics; with `--trace 1` it alternates plain
  * and traced steps and reports the per-layer metrics plus the tracing
  * overhead (traced minus plain step median).
  *
  * Usage: BenchMain --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --launch-ms EPOCH_MS --record FILE */
object BenchMain {

  /** Set-up is repeated this many times; setup_s uses the median. */
  val SetupReps = 3

  final case class StepRec(i: Int, traced: Boolean, wallMs: Double, cpuMs: Double,
      heapMb: Double, digest: String, error: Option[String], spark: Map[String, Double],
      host: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traceOn = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val launchMs = opt("launch-ms").toLong

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", graft.Scratch.sparkLocalDir)
      .config("spark.shuffle.sort.bypassMergeThreshold", graft.SparkTuning.bypassMergeThreshold)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    val probes = new Probes(spark)
    val trace = new Trace
    val wl: Workload = workload match {
      case "container-kselect" => new ContainerKSelect(spark, work, seed, probes, trace)
      case "corpus-dedup" => new CorpusDedup(spark, work, seed, probes, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val config = Seq(
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (traceOn) "1" else "0"),
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray
        .filter(a => a.toString.startsWith("-X")).mkString(" "),
      "scratch_dir" -> sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR", "(unset)"),
      "spark_local_dir" -> spark.conf.get("spark.local.dir"),
      "bypass_merge_threshold" -> graft.SparkTuning.bypassMergeThreshold,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "commit" -> sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown"))

    val setupS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val sc = spark.sparkContext

    def runStep(i: Int, traced: Boolean): StepRec = {
      trace.step = i
      val sp0 = probes.steps.snapshot(sc)
      val h0 = Host.cpu()
      val c0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val err =
        try { if (traced) trace.span("step")(wl.step(i, traced)) else wl.step(i, traced); None }
        catch { case e: Exception => Some(e.toString.linesIterator.next()) }
      val wall = (System.nanoTime() - t0) / 1e6
      val cpu = (cpuBean.getProcessCpuTime - c0) / 1e6
      val h1 = Host.cpu()
      val sp1 = probes.steps.snapshot(sc)
      val (digest, err2) =
        if (err.isDefined) ("", err)
        else try (wl.observe(i, traced), None)
        catch { case e: Exception => ("", Some(e.toString.linesIterator.next())) }
      // a full GC after every step, off the clock: each step starts from the
      // same heap, and the live heap is read once per step
      System.gc()
      val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      StepRec(i, traced, wall, cpu, heap, digest, err2,
        sp1.map { case (k, v) => k -> (v - sp0(k)) }, Host.between(h0, h1) ++ Host.now())
    }

    val warm = (0 until wl.warmupSteps).map(i => runStep(i, traced = false))
    val steady = mutable.ArrayBuffer.empty[StepRec]
    val phase0 = System.nanoTime()
    var i = wl.warmupSteps
    // a traced run needs at least two plain and two traced steps
    val minSteps = if (traceOn) math.max(4, wl.minSteps) else wl.minSteps
    while ((System.nanoTime() - phase0) / 1e9 < seconds || steady.length < minSteps) {
      steady += runStep(i, traced = traceOn && steady.length % 2 == 1)
      i += 1
    }
    val bad = wl.verify()
    val failedSteps = steady.filter(s => s.error.isDefined || bad.contains(s.i))
    val warmBad = warm.filter(s => s.error.isDefined || bad.contains(s.i))
    val quality = wl.quality

    val plain = steady.filterNot(_.traced)
    val med = (f: StepRec => Double, xs: Seq[StepRec]) => Stats.median(xs.map(f))
    val endToEnd = Seq(
      ("setup_s", sessionS + Stats.median(setupS), "s"),
      ("step_p50_ms", med(_.wallMs, plain.toSeq), "ms"),
      ("rows_per_s", wl.rowsPerStep * plain.length / (plain.map(_.wallMs).sum / 1000.0), "rows/s"),
      ("step_cpu_ms", med(_.cpuMs, plain.toSeq), "ms"),
      ("live_heap_mb", med(_.heapMb, plain.toSeq), "MB"),
      ("quality", quality, "fraction"))
    val perLayer: Seq[(String, Double, String)] = if (!traceOn) Nil else {
      val layer = wl.layers()
      val traced = steady.filter(_.traced).toSeq
      val sparkKeys = plain.head.spark.keys.toSeq.sorted
      val hostKeys = plain.head.host.keys.toSeq.sorted
      Layers.all.map { case (name, unit) =>
        val v =
          if (name == "trace.overhead_ms") med(_.wallMs, traced) - med(_.wallMs, plain.toSeq)
          else if (sparkKeys.contains(name)) med(_.spark(name), plain.toSeq)
          else if (hostKeys.contains(name)) med(_.host(name), steady.toSeq)
          else layer.getOrElse(name, 0.0)
        (name, v, unit)
      }
    }
    val metrics = if (traceOn) perLayer else endToEnd
    val correct = failedSteps.isEmpty && warmBad.isEmpty

    // human-readable report, then the record, then the result line
    config.foreach { case (k, v) => println(s"config $k = $v") }
    println(f"setup runs (s): ${setupS.map(s => f"$s%.3f").mkString(" ")}; session start ${sessionS}%.3f s")
    println(f"warm-up steps (ms): ${warm.map(s => f"${s.wallMs}%.1f").mkString(" ")}")
    println(f"steady steps: ${steady.length} (${plain.length} untraced), " +
      f"first warm-up / steady median = ${warm.head.wallMs / med(_.wallMs, plain.toSeq)}%.2f")
    (warm ++ steady).filter(s => s.error.isDefined || bad.contains(s.i)).foreach { s =>
      println(s"FAILED step ${s.i}: ${s.error.orElse(bad.get(s.i)).get}")
    }
    println(f"failed_frac = ${failedSteps.length.toDouble / steady.length}%.4f " +
      s"(${failedSteps.length} of ${steady.length})")
    val runDigest = Gen.digestStrings((warm ++ steady).take(wl.warmupSteps + wl.minSteps).map(_.digest))
    println(s"digest = $runDigest")
    (endToEnd ++ perLayer).foreach { case (n, v, u) => println(f"metric $n%-28s $v%14.4f $u") }

    val recordPath = Paths.get(opt("record"))
    Files.createDirectories(recordPath.getParent)
    Files.write(recordPath, Json.record(config, setupS, sessionS, runDigest, warm ++ steady,
      endToEnd ++ perLayer, failedSteps.length).getBytes("UTF-8"))
    if (traceOn) Files.write(recordPath.resolveSibling(s"$workload-s$seed.trace.json"),
      trace.toJson.getBytes("UTF-8"))
    println(Json.result(correct, steady.length, failedSteps.length, metrics))
    spark.stop()
  }
}

/** Every per-layer metric, in the order printed. Workloads that do not
  * touch a layer report 0 for it. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "io.csv_read_ms" -> "ms", "io.kstore_ms" -> "ms", "io.docs_write_ms" -> "ms",
    "io.write_mb" -> "MB", "io.files_written" -> "count", "io.index_files" -> "count",
    "io.index_mb" -> "MB",
    "preprocess.scale_ms" -> "ms",
    "engine.sweep_ms" -> "ms", "engine.cached_ms" -> "ms", "engine.task_max_ms" -> "ms",
    "engine.task_p50_ms" -> "ms", "engine.k_changed_frac" -> "fraction",
    "ml.fit_us_per_point" -> "us", "ml.silhouette_us_per_point" -> "us",
    "ksearch.k_hit_frac" -> "fraction",
    "expressions.minhash_ms" -> "ms",
    "operators.ingest_ms" -> "ms", "operators.against_index_ms" -> "ms",
    "operators.components_ms" -> "ms", "operators.lsh_candidates" -> "count",
    "operators.verified_pairs" -> "count", "operators.lsh_precision" -> "fraction",
    "operators.capped_buckets" -> "count",
    "operators.build_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_delay_ms" -> "ms", "spark.exec_run_ms" -> "ms", "spark.exec_cpu_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.task_gc_ms" -> "ms",
    "host.steal_pct" -> "%", "host.other_cpu_pct" -> "%", "host.load1" -> "count",
    "host.mem_available_mb" -> "MB",
    "trace.overhead_ms" -> "ms")
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (n, v, u) =>
        n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })))

  def record(config: Seq[(String, String)], setupS: Seq[Double], sessionS: Double,
      digest: String, steps: Seq[BenchMain.StepRec], metrics: Seq[(String, Double, String)], failed: Int): String =
    obj(Seq(
      "config" -> obj(config.map { case (k, v) => k -> str(v) }),
      "session_s" -> num(sessionS),
      "setup_runs_s" -> setupS.map(num).mkString("[", ", ", "]"),
      "digest" -> str(digest),
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
      "steps" -> steps.map { s =>
        obj(Seq("i" -> s.i.toString, "traced" -> s.traced.toString, "wall_ms" -> num(s.wallMs),
          "cpu_ms" -> num(s.cpuMs), "heap_mb" -> num(s.heapMb), "digest" -> str(s.digest),
          "error" -> s.error.map(str).getOrElse("null")) ++
          (s.spark ++ s.host).toSeq.sorted.map { case (k, v) => k -> num(v) })
      }.mkString("[\n", ",\n", "\n]"))) + "\n"
}
