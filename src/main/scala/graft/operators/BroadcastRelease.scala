package graft.operators

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.util.QueryExecutionListener

/** Row-counted writes whose broadcast relations are freed as soon as the
  * write ends.
  *
  * Spark frees a broadcast only after the driver JVM has garbage-collected
  * its handle (the context cleaner); until then the driver's block manager
  * keeps the built hash relation, at least a 1 MB page each. An ingest
  * step that compiles nothing allocates too little to trigger a
  * collection, so every relation of the step stayed live to its end:
  * measured on the dedup benchmark, +31 MB of live heap per step (98 to
  * 129 MB), 16 MB of it these relations. A write has a plan of its own
  * that nothing re-executes, so its broadcasts are destroyed once it has
  * succeeded; plans a caller may run again are never touched.
  */
private[graft] object BroadcastRelease {

  /** Name of the row-count observation that marks a released write. */
  private val Tag = "graft_release_broadcasts"

  // weak keys: a collected session drops its entry (CapObserver's pattern)
  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  private object Plans extends AdaptiveSparkPlanHelper

  /** Write `df` as parquet to `path` and return its row count, counted
    * by the writing job itself (`Dataset.observe`); the write's
    * broadcasts are released when it ends. */
  def writeCounted(df: DataFrame, path: String,
      mode: SaveMode = SaveMode.Overwrite): Long = {
    ensureListener(df.sparkSession)
    val rows = Observation(Tag)
    df.observe(rows, count(lit(1)).as("n")).write.mode(mode).parquet(path)
    rows.get("n").asInstanceOf[Long]
  }

  private def ensureListener(spark: SparkSession): Unit =
    if (sessions.put(spark, java.lang.Boolean.TRUE) == null)
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit =
          if (qe.observedMetrics.contains(Tag)) release(qe)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = ()
      })

  /** Destroy every broadcast the finished plan built, off the listener
    * thread (destroy waits for each executor to drop its copy). */
  private def release(qe: QueryExecution): Unit = {
    val built = Plans.collectWithSubqueries(qe.executedPlan) {
      case b: BroadcastExchangeLike => b.relationFuture
    }.filter(_.isDone).flatMap(f => Try(f.get()).toOption)
      .distinctBy(_.id)
    if (built.nonEmpty)
      scala.concurrent.Future(built.foreach(b => Try(b.destroy())))(
        scala.concurrent.ExecutionContext.global)
  }
}
