package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** The one session factory: the suite's own session carries every
  * setting [[GraftSession]] owns, `SPARK_GRAFT_CPUS` has one meaning
  * everywhere, no second builder creeps back into the tree, no dev
  * main sits in `src/main`, and the streaming replay width stays
  * under the shuffle-writer threshold. */
class GraftSessionSpec extends GraftSuite {

  test("the shared test session carries every setting GraftSession owns") {
    val conf = spark.sparkContext.getConf
    GraftSession.settings(8).foreach { case (k, v) =>
      assert(conf.get(k) === v, s"$k")
    }
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ===
      org.apache.logging.log4j.Level.WARN)
  }

  test("SPARK_GRAFT_CPUS unset or * means every available processor, " +
      "for the master and the partition count alike") {
    val n = Runtime.getRuntime.availableProcessors
    Seq(Map.empty[String, String], Map("SPARK_GRAFT_CPUS" -> "*"))
      .foreach { env =>
        val s = GraftSession.settings(GraftSession.cores(env), env).toMap
        assert(s("spark.master") === s"local[$n]", env)
        assert(s("spark.sql.shuffle.partitions").toInt === n, env)
      }
    val three = Map("SPARK_GRAFT_CPUS" -> "3")
    val s3 = GraftSession.settings(GraftSession.cores(three), three).toMap
    assert(s3("spark.master") === "local[3]")
    assert(s3("spark.sql.shuffle.partitions") === "3")
    // SPARK_MASTER picks the master; the partition count still follows
    // the cores
    val cluster = three + ("SPARK_MASTER" -> "spark://host:7077")
    val sc = GraftSession.settings(GraftSession.cores(cluster), cluster)
      .toMap
    assert(sc("spark.master") === "spark://host:7077")
    assert(sc("spark.sql.shuffle.partitions") === "3")
  }

  private lazy val root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).find(p => Files.exists(p.resolve("build.sbt")))
      .getOrElse(fail("project root (build.sbt) not found"))

  /** Scala sources under `dirs`, with their comments stripped. */
  private def sources(dirs: String*): Seq[(Path, String)] = {
    def code(src: String): String =
      src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    dirs.flatMap(d => Files.walk(root.resolve(d)).iterator.asScala)
      .filter(_.toString.endsWith(".scala"))
      .map(f => (f, code(Files.readString(f))))
  }

  test("no SparkSession builder call under src/ outside " +
      "GraftSession.scala (comments ignored)") {
    val builder = """SparkSession\s*\.\s*[bB]uilder""".r
    val files = sources("src/main/scala", "src/test/scala")
    assert(files.exists(_._1.getFileName.toString == "GraftSession.scala"))
    val offenders = files
      .filter(_._1.getFileName.toString != "GraftSession.scala")
      .filter(f => builder.findFirstIn(f._2).nonEmpty).map(_._1)
    assert(offenders.isEmpty,
      s"build sessions through GraftSession: ${offenders.mkString(", ")}")
  }

  test("src/main has no dev mains: def main( only in Main, Verify, " +
      "Bench, Explain, Smoke and QProbe (comments ignored)") {
    val mains = Set("Main", "Verify", "Bench", "Explain", "Smoke", "QProbe")
      .map(_ + ".scala")
    val main = """def\s+main\s*\(""".r
    val withMain = sources("src/main/scala")
      .filter(f => main.findFirstIn(f._2).nonEmpty)
      .map(_._1.getFileName.toString).toSet
    assert(withMain.contains("Main.scala"))
    assert(withMain.subsetOf(mains),
      s"dev mains in src/main: ${(withMain -- mains).mkString(", ")}")
  }

  test("the streaming replay width keeps the bypass shuffle writer") {
    assert(graft.streaming.EventStream.ReplayPartitions <=
      SparkTuning.bypassMergeThreshold.toInt)
  }
}
