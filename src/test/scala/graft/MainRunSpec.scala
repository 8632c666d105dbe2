package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

/** Batch verbs run end to end through `Main.run` on the shared session:
  * each `>>>` count, taken from the write, equals a read-back of the
  * output, and the runner leaves the caller's session running. */
class MainRunSpec extends GraftSuite {

  /** Run `argv` on the shared session; the `k=v` fields of its `>>>`
    * line. */
  private def run(argv: String*): Map[String, String] = {
    val out = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(out)(Main.run(argv)(_(spark)))
    assert(code === 0, argv)
    val line = out.toString.linesIterator.filter(_.startsWith(">>> "))
      .toSeq
    assert(line.size === 1, out.toString)
    assert(line.head.startsWith(s">>> [${argv.head}] "))
    line.head.split(" ").drop(2).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
  }

  private def rows(path: String): String =
    spark.read.parquet(path).count().toString

  test("score, screen, decontaminate and bpe-train → bpe-encode print " +
      "the row counts of what they wrote, and the session stays up") {
    val root = Files.createTempDirectory("graft_main_run").toString
    val docs = s"$sf/documents.parquet"

    val score = run("score", docs, s"$root/score")
    assert(score("docs") === rows(s"$root/score"))
    assert(score("docs") === rows(docs))

    val screen = run("screen", docs, s"$root/screen")
    assert(screen("of") === rows(s"$root/screen"))
    assert(screen("kept") === spark.read.parquet(s"$root/screen")
      .filter(col("keep")).count().toString)

    val eval = s"$root/eval"
    spark.read.parquet(docs).filter(col("doc_id") % 25 === 0)
      .write.parquet(eval)
    val decon = run("decontaminate", docs, eval, s"$root/decon")
    assert(decon("contaminated") === rows(s"$root/decon/report"))
    assert(decon("kept") === rows(s"$root/decon/clean"))
    assert(decon("contaminated").toLong > 0L)

    val merges = run("bpe-train", docs, s"$root/merges", "16")
    assert(merges("merges") === rows(s"$root/merges"))
    val bpe = run("bpe-encode", docs, s"$root/merges", s"$root/bpe")
    assert(bpe("docs") === rows(s"$root/bpe"))

    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() === 3L)
  }
}
