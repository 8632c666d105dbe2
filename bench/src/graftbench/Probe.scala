package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark counters, owned by the benchmark: a step's figures
  * are the difference of two snapshots taken after the listener bus has
  * drained. Task durations of stages that run the engine's
  * `flatMapGroups` (a `MapGroups` operator scope) are kept apart, so
  * the slowest and median segment task can be read per span. */
final class StepListener extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val schedDelayMs, runMs, cpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill = new AtomicLong
  private val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val groupTaskMs = mutable.ArrayBuffer.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (e.stageInfo.rddInfos.exists(_.scope.exists(_.name.startsWith("MapGroups"))))
      groupStages.add(e.stageInfo.stageId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val overhead = m.executorDeserializeTime + m.resultSerializationTime +
        info.gettingResultTime
      schedDelayMs.addAndGet(math.max(0L, info.duration - m.executorRunTime - overhead))
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      if (groupStages.contains(e.stageId)) groupTaskMs.synchronized {
        groupTaskMs += info.duration
      }
    }
  }

  def snapshot(sc: SparkContext): Map[String, Double] = {
    org.apache.spark.BenchBus.drain(sc)
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.sched_delay_ms" -> schedDelayMs.get.toDouble,
      "spark.exec_run_ms" -> runMs.get.toDouble,
      "spark.exec_cpu_ms" -> cpuNs.get / 1e6,
      "spark.shuffle_write_mb" -> shuffleWrite.get / mb,
      "spark.shuffle_read_mb" -> shuffleRead.get / mb,
      "spark.spill_mb" -> spill.get / mb,
      "spark.task_gc_ms" -> gcMs.get.toDouble)
  }

  /** Durations of `flatMapGroups` tasks that ended since `from`. */
  def groupTasksSince(from: Int): Seq[Long] = groupTaskMs.synchronized(groupTaskMs.drop(from).toSeq)
  def groupTaskCount: Int = groupTaskMs.synchronized(groupTaskMs.length)
}

/** Sums the engine's own bucket-cap observations (`Dataset.observe`
  * metrics named `graft_cap_*`) as queries finish. */
final class CapListener extends QueryExecutionListener {
  val capped = new AtomicLong
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      if (name.startsWith("graft_cap_")) {
        val v = row.getAs[java.lang.Long]("capped_buckets")
        if (v != null) capped.addAndGet(v.longValue)
      }
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Host contention from /proc, sampled around every step. Diagnostic
  * only: a contended sample is recorded, never dropped or retried. */
object Host {
  final case class Cpu(total: Long, idle: Long, steal: Long, self: Long)

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

  def cpu(): Cpu = {
    val f = read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal (guest is inside user)
    val total = f.take(8).sum
    val self = read("/proc/self/stat").split("\\) ", 2)(1).split(" ")
    Cpu(total, f(3) + f(4), f(7), self(11).toLong + self(12).toLong)
  }

  /** steal % and CPU % used by other processes between two samples, as a
    * share of all CPUs of the host. */
  def between(a: Cpu, b: Cpu): Map[String, Double] = {
    val dt = math.max(1L, b.total - a.total).toDouble
    val busy = (b.total - b.idle - b.steal) - (a.total - a.idle - a.steal)
    Map(
      "host.steal_pct" -> 100.0 * (b.steal - a.steal) / dt,
      "host.other_cpu_pct" -> 100.0 * math.max(0L, busy - (b.self - a.self)) / dt)
  }

  def now(): Map[String, Double] = Map(
    "host.load1" -> read("/proc/loadavg").split(" ")(0).toDouble,
    "host.mem_available_mb" -> read("/proc/meminfo").linesIterator
      .find(_.startsWith("MemAvailable:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0))
}

/** In-memory spans around the calls into each layer; written out once at
  * exit. A span's self time is its duration minus its children's. */
final class Trace {
  import Trace.Span

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  var step: Int = -1

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, name, stack.headOption.getOrElse(-1), step, System.nanoTime(), 0L)
    spans += s
    stack.push(s.id)
    try body finally { s.endNs = System.nanoTime(); stack.pop() }
  }

  def selfMs(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum
    (s.endNs - s.startNs - kids) / 1e6
  }

  /** Median self time of the spans with this name. */
  def medianSelfMs(name: String): Double =
    Stats.median(spans.filter(_.name == name).map(selfMs).toSeq)

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"step":${s.step},""" +
      s""""start_ms":${(s.startNs - spans.head.startNs) / 1e6},"end_ms":${(s.endNs - spans.head.startNs) / 1e6},""" +
      s""""self_ms":${selfMs(s)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, step: Int,
      startNs: Long, var endNs: Long)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Registers the benchmark's listeners on one session. */
final class Probes(spark: SparkSession) {
  val steps = new StepListener
  val caps = new CapListener
  spark.sparkContext.addSparkListener(steps)
  spark.listenerManager.register(caps)
}
