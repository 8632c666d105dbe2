package graft

/** Dev-only single-query probe, the measure-first tool for the
  * registry: runs the named queries under the bench's session
  * ([[GraftSession]]) for `SPARK_GRAFT_PROBE_REPEATS` repeats each,
  * and splits every repeat into the pieces the bench's single wall
  * number hides:
  *
  *   - `build`  — driver time constructing the DataFrame (a query
  *     function that walks/collects eagerly — ML fits, serve walks,
  *     streaming replays — spends its life here);
  *   - `plan`   — analysis + optimization + physical planning of the
  *     returned frame (executedPlan force);
  *   - `exec`   — the count() the bench times;
  *   - `gcMs`   — summed task JVM GC over the repeat (bench telemetry);
  *   - `jobs`/`stages` — scheduler traffic per repeat (the per-round
  *     machinery cost of iterative operators is job count, invisible
  *     in bytes);
  *   - one `stream` line per micro-batch trigger when the query runs a
  *     streaming replay: the trigger's `durationMs` breakdown
  *     (addBatch / queryPlanning / walCommit / commitOffsets / ...)
  *     and its state operators' commit times.
  *
  * `SPARK_GRAFT_PROBE_CONF="k=v;k=v"` applies session conf overrides
  * before the repeats (the A/B knob — e.g. AQE off), printed back so a
  * probe log is self-describing. Not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.QProbe q120_pagerank q233_stream_join_late_oracled"
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QProbe <queryName>...")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPEATS", "3").toInt
    val spark = GraftSession("graft-qprobe")
    sys.env.get("SPARK_GRAFT_PROBE_CONF").foreach { spec =>
      spec.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
        println(s"[qprobe] conf $k=$v")
      }
    }
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (te.taskMetrics != null) gcMs.addAndGet(te.taskMetrics.jvmGCTime)
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(js.stageInfos.size)
        }
      })
    // streaming replays stop their query before returning, so progress
    // is captured globally and printed after the repeat
    val progresses = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          progresses.add(e.progress)
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })
    // Optional 25 ms all-thread stack sampler (SPARK_GRAFT_PROBE_SAMPLE=1):
    // executor task threads AND driver-side cost (planning, broadcast
    // builds, collects) — prints the top busy frames per query so
    // "where did the wall go" is answered from the probe log, not
    // guessed.
    val sampleOn = new java.util.concurrent.atomic.AtomicBoolean(false)
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    val fullStacks =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    if (sys.env.get("SPARK_GRAFT_PROBE_SAMPLE").contains("1")) {
      val t = new Thread(() => {
        while (true) {
          if (sampleOn.get) {
            Thread.getAllStackTraces.forEach { (th, frames) =>
              val n = th.getName
              val busy = frames.nonEmpty && {
                val h = frames.head.toString
                !h.contains("Unsafe.park") && !h.contains("Object.wait") &&
                  !h.contains("Thread.sleep") && !h.contains("epollWait") &&
                  !h.contains("SocketDispatcher.read") && !h.contains("poll0")
              }
              if (busy && (n.startsWith("Executor task launch") ||
                  n == "main" || n.startsWith("broadcast") ||
                  n.contains("QueryStage"))) {
                // a JDK head frame (mmap/write/classload) is attributed
                // to its nearest Spark/graft caller, however deep — the
                // 10-frame cap hid every mmap call site in r17's q187
                // adjudication (map0/unmap0 dominated with no caller)
                val sig = frames.take(10).map(_.toString)
                  .find(f => f.startsWith("org.apache.spark") ||
                    f.startsWith("graft") || f.startsWith("scala")) match {
                  case Some(f) => f.takeWhile(_ != '(')
                  case None =>
                    val head = frames.head.toString.takeWhile(_ != '(')
                    frames.drop(1).map(_.toString)
                      .find(f => f.startsWith("org.apache.spark") ||
                        f.startsWith("graft")) match {
                      case Some(f) =>
                        head + " <- " + f.takeWhile(_ != '(')
                      case None => head
                    }
                }
                frameCounts.computeIfAbsent(
                  (if (n == "main") "D " else "E ") + sig,
                  _ => new java.util.concurrent.atomic.AtomicLong)
                  .incrementAndGet()
                // one FULL stack per distinct head frame on demand —
                // for callers the signature heuristic can't name
                if (sys.env.get("SPARK_GRAFT_PROBE_STACKS").exists(
                      p => p == "1" || sig.contains(p))
                    && fullStacks.size < 12 &&
                    !fullStacks.containsKey(sig)) {
                  fullStacks.put(sig,
                    frames.take(24).mkString("\n    "))
                }
              }
            }
          }
          Thread.sleep(25)
        }
      })
      t.setDaemon(true)
      t.start()
    }
    // warm-up: JIT + codegen + parquet footer caches (bench parity)
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir).count()
    def settle(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(300)
      gcMs.set(0); jobs.set(0); stages.set(0)
    }
    args.foreach { name =>
      val q = Registry.byName(name)
      settle()
      progresses.clear()
      frameCounts.clear()
      (1 to repeats).foreach { r =>
        sampleOn.set(true)
        val t0 = System.nanoTime()
        val df = q.run(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val n = df.count()
        val t3 = System.nanoTime()
        sampleOn.set(false)
        Thread.sleep(200) // let the listener bus drain
        println(f"[qprobe] $name r$r rows=$n total=${(t3 - t0) / 1e9}%.3f " +
          f"build=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f " +
          f"exec=${(t3 - t2) / 1e9}%.3f gcMs=${gcMs.get} " +
          f"jobs=${jobs.get} stages=${stages.get}")
        printProgress(progresses)
        settle()
      }
      if (!frameCounts.isEmpty) {
        import scala.jdk.CollectionConverters._
        frameCounts.asScala.toSeq.map { case (k, v) => (v.get, k) }
          .sortBy(-_._1).take(18).foreach { case (c, f) =>
            println(f"[qprobe]   $c%5d  $f")
          }
        fullStacks.asScala.foreach { case (sig, st) =>
          println(s"[qprobe] STACK $sig\n    $st")
        }
        fullStacks.clear()
      }
    }
    spark.stop()
  }

  /** One `stream` line per trigger the repeat ran, in trigger order
    * (durations largest first), then drains the queue. */
  private def printProgress(ps: java.util.Queue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit = {
    import scala.jdk.CollectionConverters._
    ps.asScala.toSeq.sortBy(_.timestamp).foreach { p =>
      val d = p.durationMs.asScala.toSeq.map { case (k, v) =>
        k -> v.longValue }.sortBy(-_._2)
      val state = p.stateOperators.map(o =>
        s" ${o.operatorName}:commitMs=${o.commitTimeMs}").mkString
      println(s"[qprobe]   stream batch=${p.batchId} " +
        s"rows=${p.numInputRows} " +
        d.map { case (k, v) => s"$k=$v" }.mkString(",") + state)
    }
    ps.clear()
  }
}
