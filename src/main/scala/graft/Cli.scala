package graft

import org.apache.spark.sql.SparkSession

/** The CLI's argument grammar. A verb's usage signature declares every
  * argument it takes; the same signature parses argv and prints the
  * verb's usage line, so the two cannot drift apart.
  *
  *  - `<name>` is a required positional and `[name]` an optional one;
  *  - `<name ...>` takes one or more positionals (the last positional);
  *  - `[--switch]` is a switch and `[--flag kind=default]` a flag with
  *    a value;
  *  - a positional written `name:kind=default` is a number, where kind
  *    is `int`, `long` or `double` and the default fills it when absent.
  *
  * Parsing needs no session: an unknown flag, a missing or extra
  * positional, or a malformed number is rejected before anything runs.
  */
object Cli {

  /** A parsed argv: every positional and flag value by name (defaults
    * filled in), the variadic positionals, and the switches given. */
  final case class Args(values: Map[String, String], terms: Seq[String],
      switches: Set[String]) {
    def apply(name: String): String = values(name)
    def get(name: String): Option[String] = values.get(name)
    def int(name: String): Int = values(name).toInt
    def long(name: String): Long = values(name).toLong
    def double(name: String): Double = values(name).toDouble
    def has(switch: String): Boolean = switches(switch)
  }

  /** One verb: its usage signature and the body that runs it on a
    * session, returning the `k=v` fields of its `>>>` report line. */
  final case class Verb(signature: String)(
      val body: (SparkSession, Args) => Seq[(String, Any)]) {
    private val tokens = """<[^>]*>|\[[^\]]*\]|\S+""".r
      .findAllIn(signature).toList
    val name: String = tokens.head
    private[graft] val params = tokens.tail.map(Param.apply)
    private val positional = params.filterNot(_.flag)
    private val flags = params.filter(_.flag).map(p => p.name -> p).toMap

    def parse(argv: Seq[String]): Either[String, Args] = {
      var values = params.flatMap(p => p.default.map(p.name -> _)).toMap
      var switches = Set.empty[String]
      var given = Vector.empty[String]
      def set(p: Param, v: String): Option[String] =
        if (p.accepts(v)) { values += p.name -> v; None }
        else Some(s"${p.name} must be ${p.kind}, got '$v'")
      @annotation.tailrec
      def scan(rest: List[String]): Option[String] = rest match {
        case a :: tail if a.startsWith("--") => flags.get(a) match {
          case None => Some(s"unknown flag $a")
          case Some(p) if p.kind == "switch" => switches += a; scan(tail)
          case Some(_) if tail.isEmpty => Some(s"$a needs a value")
          case Some(p) => set(p, tail.head) match {
            case None => scan(tail.tail)
            case err => err
          }
        }
        case a :: tail => given :+= a; scan(tail)
        case Nil => None
      }
      val variadic = positional.lastOption.exists(_.variadic)
      val fixed = if (variadic) positional.init else positional
      scan(argv.toList).orElse {
        if (given.size < positional.count(_.required))
          Some(s"missing ${positional(given.size).name}")
        else if (!variadic && given.size > positional.size)
          Some(s"unexpected argument ${given(positional.size)}")
        else fixed.zip(given).flatMap { case (p, v) => set(p, v) }.headOption
      }.toLeft(Args(values, given.drop(fixed.size), switches))
    }
  }

  /** One declared argument of a signature token. */
  private[graft] final case class Param(name: String, kind: String,
      required: Boolean, default: Option[String], flag: Boolean,
      variadic: Boolean) {
    def accepts(v: String): Boolean = kind match {
      case "int" => v.toIntOption.nonEmpty
      case "long" => v.toLongOption.nonEmpty
      case "double" => v.toDoubleOption.nonEmpty
      case _ => true
    }
  }

  private object Param {
    private val Value = """([^:=]+)(?::(int|long|double))?(?:=(\S+))?""".r
    private val Kind = """(int|long|double)=(\S+)""".r

    def apply(token: String): Param = {
      val inner = token.drop(1).dropRight(1)
      (token.head, inner.split(" ").toList) match {
        case ('[', List(f)) if f.startsWith("--") =>
          Param(f, "switch", false, None, flag = true, variadic = false)
        case ('[', List(f, Kind(k, d))) if f.startsWith("--") =>
          Param(f, k, false, Some(d), flag = true, variadic = false)
        case ('<', List(n, "...")) =>
          Param(n, "string", true, None, flag = false, variadic = true)
        case (b, List(Value(n, k, d))) if b == '<' || b == '[' =>
          Param(n, Option(k).getOrElse("string"), b == '<', Option(d),
            flag = false, variadic = false)
        case _ => throw new IllegalArgumentException(
          s"bad signature token $token")
      }
    }
  }

  /** Find argv's verb and parse the rest against its signature. */
  def parse(verbs: Seq[Verb],
      argv: Seq[String]): Either[String, (Verb, Args)] =
    argv.headOption.flatMap(v => verbs.find(_.name == v)) match {
      case None => Left(s"unknown verb: ${argv.mkString(" ")}")
      case Some(verb) => verb.parse(argv.tail).map(verb -> _)
    }

  def usage(verbs: Seq[Verb]): String =
    verbs.map(v => s"graft.Main ${v.signature}")
      .mkString("usage: ", "\n       ", "")
}
