package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The CLI verb table's argument checking, with no Spark work: every
  * verb's minimal argv (built from its own signature) parses, and a bad
  * argv is rejected by `Main.run` with exit code 2 before a session is
  * asked for or an output directory is made. */
class CliSpec extends AnyFunSuite {

  private val numeric = Set("int", "long", "double")

  /** `ps` as argv values: paths under `root` that do not exist, or 1
    * for a number. */
  private def values(ps: Seq[Cli.Param], root: Path): List[String] =
    ps.toList.map(p =>
      if (numeric(p.kind)) "1" else root.resolve(p.name).toString)

  /** Run `argv` through Main's exit-code path; the session factory
    * must never be called. Returns the exit code and the stderr text. */
  private def exitCode(argv: Seq[String]): (Int, String) = {
    val err = new java.io.ByteArrayOutputStream()
    val code = Console.withErr(err) {
      Main.run(argv)(_ => fail(s"a session was asked for: $argv"))
    }
    (code, err.toString)
  }

  private def assertRejected(argv: Seq[String], root: Path): Unit = {
    val (code, err) = exitCode(argv)
    assert(code === 2, argv)
    assert(err.contains("usage: graft.Main"), argv)
    assert(Files.list(root).count() === 0L,
      s"$argv created ${Files.list(root).toArray.mkString(", ")}")
  }

  test("the usage lists every verb of the table, once each") {
    val usage = Cli.usage(Main.verbs).linesIterator.toSeq
    assert(Main.verbs.size === 45)
    assert(Main.verbs.map(_.name).distinct.size === 45)
    assert(usage.size === 45)
    Main.verbs.zip(usage).foreach { case (v, line) =>
      assert(line.trim.stripPrefix("usage:").trim ===
        s"graft.Main ${v.signature}")
    }
  }

  test("every verb: the minimal argv parses; an unknown flag, a missing " +
      "or extra positional, and a non-numeric number exit 2 without a " +
      "session or an output directory") {
    val root = Files.createTempDirectory("graft_cli")
    var numericChecked = 0
    Main.verbs.foreach { v =>
      val positional = v.params.filterNot(_.flag)
      val argv = v.name :: values(positional.filter(_.required), root)
      assert(Cli.parse(Main.verbs, argv).isRight, argv)
      assertRejected(argv :+ "--bogus" :+ "1", root)
      assertRejected(argv.init, root)
      if (!positional.exists(_.variadic))
        assertRejected(v.name :: values(positional, root) ::: List("extra"), root)
      v.params.find(p => numeric(p.kind)).foreach { p =>
        assertRejected(
          if (p.flag) argv ++ Seq(p.name, "x1")
          else v.name :: values(positional.takeWhile(_ != p), root) ::: List("x1"),
          root)
        numericChecked += 1
      }
    }
    assert(numericChecked >= 15, "verbs with a numeric argument")
    assertRejected(Seq("no-such-verb", "a"), root)
    assertRejected(Nil, root)
  }

  test("graph-ann-serve rejects the removed --engine flag instead of " +
      "serving on the hot engine") {
    val root = Files.createTempDirectory("graft_cli")
    assertRejected(Seq("graph-ann-serve", s"$root/idx", s"$root/q",
      s"$root/out", "--engine", "bulk"), root)
  }

  test("flags and switches parse wherever they stand; defaults fill in") {
    def args(argv: String*): Cli.Args =
      Cli.parse(Main.verbs, argv).fold(e => fail(e), _._2)
    for (argv <- Seq(Seq("curate", "--append", "in", "out"),
        Seq("curate", "in", "out", "--append"))) {
      val a = args(argv: _*)
      assert(a.has("--append") && a("docsParquet") === "in" &&
        a("outDir") === "out" && a.long("rowsPerShard") === 2000L, argv)
    }
    assert(!args("curate", "in", "out", "50").has("--append"))
    assert(args("curate", "in", "out", "50").long("rowsPerShard") === 50L)
    val h = args("hybrid-search", "d", "e", "o", "spark", "join", "--k",
      "3", "--rerank")
    assert(h.terms === Seq("spark", "join") && h.int("--k") === 3 &&
      h.long("--vec") === 0L && h.has("--rerank"))
    assert(args("graph-ann-serve", "i", "q", "o", "--topk", "5")
      .int("--topk") === 5)
    assert(args("graph-ann-serve", "i", "q", "o").int("--hops") === 8)
    assert(args("screen", "d", "o").get("phrasesFile").isEmpty)
    assert(Cli.parse(Main.verbs, Seq("hybrid-search", "d", "e", "o"))
      .isLeft, "hybrid-search needs a term")
    assert(Cli.parse(Main.verbs, Seq("graph-ann-serve", "i", "q", "o",
      "--topk")).isLeft, "a flag without its value")
  }
}
