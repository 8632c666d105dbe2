package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.Locale

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators with planted truth, and the truth itself
  * computed in plain Scala (no engine code). Every generator is a pure
  * function of its seed, and the workload's SHAPE (sizes, names,
  * family counts, planted k) is fixed: the seed draws the values, so
  * step cost barely moves between seeds while the data does. */
object Gen {

  private def writer(p: Path): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), UTF_8),
      1 << 16)

  private def fmt(x: Double, digits: Int): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(x))

  // ------------------------------------------------------------ container

  /** One (customer_id, application_id) segment with its planted k. */
  final case class Segment(customer: String, app: String, k: Int, rows: Int)

  object Container {
    val Header = "ram_usage,cpu_percent,node_id,io_usage,application_id," +
      "ram_limit,container_id,customer_id,time,network_usage,pids"
    val Customers = 12
    val AppsPerCustomer = 20
    val MinRows = 150
    val TopRows = 4000

    /** Zipf(1) segment sizes by rank, floored at [[MinRows]]: the seed
      * never changes them, so every seed has the same skew. */
    val sizes: Array[Int] = Array.tabulate(Customers * AppsPerCustomer) { r =>
      math.max(MinRows, TopRows / (r + 1))
    }
    val rows: Int = sizes.sum

    /** Planted k by size rank: 2..6 in rotation, so the multiset is the
      * same for every seed. */
    def plantedK(rank: Int): Int = 2 + rank % 5

    /** Writes the reference-schema CSV to `path` and returns the segments.
      * Each segment is k Gaussian blobs (sd 2) in
      * (cpu_percent, ram_usage / ram_limit * 100), the two columns the
      * reference task clusters on, centred on a circle of radius 25: the
      * same geometry for every seed up to a seeded rotation and shift, so
      * the k-sweep's work does not depend on the seed. */
    def write(seed: Long, path: Path): Seq[Segment] = {
      val rnd = new Random(seed)
      // names stay with their size rank, so every seed hashes the same
      // segments into the same shuffle partitions
      val names = (0 until AppsPerCustomer).flatMap(a =>
        (0 until Customers).map(c => (f"cust$c%02d", f"app$c%02d_$a%02d")))
      val segs = names.indices.map(r =>
        Segment(names(r)._1, names(r)._2, plantedK(r), sizes(r)))
      val lines = mutable.ArrayBuffer.empty[String]
      var t = 1583488637522L
      segs.foreach { s =>
        val turn = rnd.nextDouble() * 2 * math.Pi
        val (cx, cy) = (40 + rnd.nextDouble() * 20, 40 + rnd.nextDouble() * 20)
        val centers = (0 until s.k).map { j =>
          val a = turn + 2 * math.Pi * j / s.k
          (cx + 25 * math.cos(a), cy + 25 * math.sin(a))
        }
        val nContainers = 1 + rnd.nextInt(6)
        val limits = Array.fill(nContainers)(
          ((1L + rnd.nextInt(16)) << 29).toDouble + 0.8)
        val cids = Array.fill(nContainers)(f"${rnd.nextLong() & 0xffffffffffffL}%012x")
        var i = 0
        while (i < s.rows) {
          val c = centers(i % s.k)
          val ct = rnd.nextInt(nContainers)
          val cpu = c._1 + rnd.nextGaussian() * 2.0
          val ramPct = c._2 + rnd.nextGaussian() * 2.0
          val ramUsage = math.round(ramPct / 100.0 * limits(ct))
          t += 1 + rnd.nextInt(5000)
          lines += s"$ramUsage,${fmt(cpu, 2)},node0,${fmt(rnd.nextDouble() * 50, 1)}," +
            s"${s.app},${fmt(limits(ct), 1)},${cids(ct)},${s.customer},$t," +
            s"${fmt(rnd.nextDouble() * 100000, 1)},${1 + rnd.nextInt(64)}"
          i += 1
        }
      }
      // rows arrive interleaved across segments, as a metrics scrape does
      val shuffled = rnd.shuffle(lines.toIndexedSeq)
      val w = writer(path)
      try {
        w.write(Header); w.write('\n')
        shuffled.foreach { l => w.write(l); w.write('\n') }
      } finally w.close()
      segs
    }

    /** The reference task's two clustering coordinates for one CSV line:
      * cpu_percent as-is (dontScale) and ram_usage * 100 / ram_limit. */
    def point(line: String): (String, String, Array[Double]) = {
      val f = line.split(",", -1)
      (f(7), f(4), Array(f(1).toDouble, f(0).toDouble * 100.0 / f(5).toDouble))
    }
  }

  // --------------------------------------------------------------- corpus

  final case class Doc(id: Long, text: String)

  object Corpus {
    val Threshold = 0.5
    /** Docs per ingest batch. */
    val BatchDocs = 1000
    /** Bootstrap batch: the index every step dedups against. */
    val BootstrapDocs = 3000
    /** Boilerplate family per batch: near-identical copies of one long
      * passage, more of them than [[MaxBucket]], so the LSH bucket cap
      * fires on it every step. */
    val BoilerplateDocs = 16
    val MaxBucket = 8
    /** In-batch families per batch: a fresh doc plus 1-3 copies with 1-2
      * words replaced. */
    val Families = 120
    /** Docs per ingest batch that are edits of a doc from an earlier batch. */
    val CrossDups = 40
    val Vocab = 4000

    private def vocab(rnd: Random): Array[String] = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < Vocab)
        seen += Iterator.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString
      seen.toArray
    }

    /** Batch 0 is the bootstrap; batches 1.. are the ingest steps. Every
      * batch has the same make-up (boilerplate family, in-batch families,
      * cross-batch edits from batch 1 on, fresh docs; every tenth fresh doc
      * carries one of three hot phrases); the seed draws the words and the
      * order. Ids are unique across batches (batch * 1e6 + position). */
    def batches(seed: Long, n: Int): IndexedSeq[IndexedSeq[Doc]] = {
      val rnd = new Random(seed)
      val words = vocab(rnd)
      def word() = words(rnd.nextInt(Vocab))
      val hot = Array.fill(3)(Array.fill(4)(word()))
      def fresh(j: Int): Array[String] = {
        val len = 40 + rnd.nextInt(40)
        val ws = Array.fill(len)(word())
        if (j % 10 == 0) hot(j / 10 % 3).copyToArray(ws, rnd.nextInt(len - 4))
        ws
      }
      def edit(ws: Array[String], edits: Int): Array[String] = {
        val out = ws.clone()
        (0 until edits).foreach(_ => out(rnd.nextInt(out.length)) = word())
        out
      }
      val originals = mutable.ArrayBuffer.empty[Array[String]]
      (0 until n).map { b =>
        val size = if (b == 0) BootstrapDocs else BatchDocs
        val texts = mutable.ArrayBuffer.empty[Array[String]]
        val passage = Array.fill(120)(word())
        (0 until BoilerplateDocs).foreach(_ => texts += passage :+ word())
        (0 until Families).foreach { j =>
          val base = fresh(j + 1)
          originals += base
          texts += base
          (0 to j % 3).foreach(_ => texts += edit(base, 1 + j % 2))
        }
        if (b > 0) (0 until CrossDups).foreach { j =>
          texts += edit(originals(rnd.nextInt(originals.length - Families)), 1 + j % 2)
        }
        var j = 0
        while (texts.length < size) { texts += fresh(j); j += 1 }
        rnd.shuffle(texts.toIndexedSeq).zipWithIndex.map { case (ws, i) =>
          Doc(b * 1000000L + i, ws.mkString(" "))
        }
      }
    }

    def writeJsonl(docs: Seq[Doc], path: Path): Unit = {
      val w = writer(path)
      try docs.foreach { d =>
        w.write(s"""{"doc_id":${d.id},"text":"${d.text}"}""")
        w.write('\n')
      } finally w.close()
    }

    /** Word 3-gram shingles, the engine's definition restated: split on
      * single spaces, windows 1..max(1, n-2), distinct. */
    def shingles(text: String): Set[String] = {
      val t = text.split(" ", -1)
      (0 until math.max(1, t.length - 2))
        .map(i => t.slice(i, i + 3).mkString(" ")).toSet
    }

    def jaccard(a: Set[String], b: Set[String]): Double =
      (a intersect b).size.toDouble / (a union b).size

    /** Exact pairs with Jaccard >= [[Threshold]] between `left` and
      * `right` (or within `left` when `right` is None), by prefix
      * filtering: with every shingle set ordered rarest first, two sets at
      * Jaccard >= t share a shingle among the first |x| - ceil(t|x|) + 1 of
      * each, so only docs meeting in those prefixes are compared. Pairs
      * come back (a, b) with a from `left`, and a < b within one set. */
    def exactPairs(left: Seq[Doc], right: Option[Seq[Doc]]): Set[(Long, Long)] = {
      val ls = left.map(d => d.id -> shingles(d.text))
      val rs = right.map(_.map(d => d.id -> shingles(d.text))).getOrElse(ls)
      val freq = mutable.HashMap.empty[String, Int].withDefaultValue(0)
      (if (right.isDefined) ls ++ rs else ls).foreach(_._2.foreach(x => freq(x) += 1))
      def prefix(sh: Set[String]): Seq[String] =
        sh.toSeq.sortBy(x => (freq(x), x)).take(sh.size - math.ceil(Threshold * sh.size).toInt + 1)
      val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
      rs.indices.foreach(j => prefix(rs(j)._2).foreach(x =>
        postings.getOrElseUpdate(x, mutable.ArrayBuffer.empty) += j))
      val out = mutable.Set.empty[(Long, Long)]
      ls.foreach { case (id, sh) =>
        val cands = mutable.HashSet.empty[Int]
        prefix(sh).foreach(x => postings.get(x).foreach(cands ++= _))
        cands.foreach { j =>
          val (rid, rsh) = rs(j)
          if ((right.isDefined || id < rid) && id != rid && jaccard(sh, rsh) >= Threshold)
            out += ((id, rid))
        }
      }
      out.toSet
    }
  }

  def hex(bytes: Array[Byte]): String = bytes.take(8).map(b => f"${b & 0xff}%02x").mkString

  def digestFile(p: Path): String =
    hex(java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)))

  def digestStrings(xs: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach { s => md.update(s.getBytes(UTF_8)); md.update('\n'.toByte) }
    hex(md.digest())
  }
}
