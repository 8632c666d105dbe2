package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (lazy, never stopped — the
  * test JVM is forked per sbt run). 8 cores whatever the host, plus a
  * temp warehouse dir. */
object SparkSuite {
  lazy val spark: SparkSession = GraftSession("graft-test", cores = 8,
    extra = Seq("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))
  val sfSmoke = "/root/testdata/sf0.001"
}

abstract class GraftSuite extends AnyFunSuite with org.scalactic.Tolerance {
  lazy val spark: SparkSession = SparkSuite.spark
  def sf: String = SparkSuite.sfSmoke
}
