package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. Every graft entrypoint (the CLI, Bench,
  * Verify, Smoke, QProbe and the test suite) builds its SparkSession
  * here, so master, partition count and tuning cannot drift between
  * them; `GraftSessionSpec` fails on any other builder call under
  * `src/`.
  *
  *  - `cores` = `SPARK_GRAFT_CPUS`, where unset or `*` means every
  *    available processor. It is both the local master's thread count
  *    and the shuffle partition count.
  *  - master = `SPARK_MASTER` when set, else `local[cores]`.
  *  - AQE on, session time zone UTC, UI off, log level WARN.
  *  - `spark.local.dir` = [[Scratch.sparkLocalDir]], and the shuffle
  *    writer threshold = [[SparkTuning.bypassMergeThreshold]].
  *
  * Native expressions are not registered here: they attach lazily
  * through `GraftExprBridge`, the single registration path. */
object GraftSession {

  /** The core count an environment asks for. */
  def cores(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim) match {
      case None | Some("*") => Runtime.getRuntime.availableProcessors
      case Some(n) => n.toInt
    }

  /** Every conf the factory owns, for a session of `cores` cores. */
  def settings(cores: Int,
      env: Map[String, String] = sys.env): Seq[(String, String)] = Seq(
    "spark.master" -> env.getOrElse("SPARK_MASTER", s"local[$cores]"),
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> Scratch.sparkLocalDir,
    "spark.shuffle.sort.bypassMergeThreshold" ->
      SparkTuning.bypassMergeThreshold)

  /** The session: [[settings]] plus any caller `extra` confs (the test
    * suite's temp warehouse dir). Returns the JVM's existing session
    * if one is already running, as `getOrCreate` does. */
  def apply(appName: String, cores: Int = GraftSession.cores(),
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    (settings(cores) ++ extra).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
