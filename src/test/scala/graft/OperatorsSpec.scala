package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.operators.{AsOfJoin, Dedup, Similarity}

class DedupSpec extends GraftSuite {
  import org.apache.spark.sql.DataFrame

  private def docs(rows: (Long, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup keeps min id and counts copies") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val out = Dedup.exact(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq === Seq((1L, 2L), (3L, 1L)))
    // hash-keyed variant agrees
    val outH = Dedup.exact(d, "doc_id", "text", byHash = true).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(outH.toSeq === out.toSeq)
  }

  test("shingles: n-grams, and whole text for short docs") {
    val d = docs((1L, "a b c d"), (2L, "a b"))
    val sh = d.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[String]]("sh")).toMap
    assert(sh(1L).toSet === Set("a b c", "b c d"))
    assert(sh(2L).toSet === Set("a b")) // shorter than n → one shingle
  }

  test("minhash LSH finds planted near-dups, not unrelated docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"w$i")
      .mkString(" ")
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val d = docs((1L, base), (2L, nearDup), (3L, other))
    val pairs = Dedup.minhashNearDups(d, "doc_id", "text",
      numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
  }

  test("simhash: identical → 0 hamming; near-dup found, unrelated not") {
    assert(Dedup.simhash64(Seq("a", "b")) === Dedup.simhash64(Seq("a", "b")))
    val base = (1 to 60).map(i => s"w$i")
    val d = docs((1L, base.mkString(" ")),
      (2L, base.updated(5, "CHANGED").mkString(" ")),
      (3L, (200 to 260).map(i => s"v$i").mkString(" ")))
    val pairs = Dedup.simhashNearDups(d, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("md5-family simhash: same near-dup behavior, exact bit mapping") {
    // bit mapping pin: single token, signature = the md5 bits verbatim
    // (each vote is decisive), hex char p → bits 4(p−1)..4(p−1)+3 LSB-first
    val tok = "pinned"
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(tok.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
    val want = hex.zipWithIndex.foldLeft(0L) { case (acc, (c, p)) =>
      val v = Integer.parseInt(c.toString, 16)
      (0 until 4).foldLeft(acc)((a, b) =>
        if (((v >> b) & 1) == 1) a | (1L << (p * 4 + b)) else a)
    }
    assert(Dedup.simhashMd5(Seq(tok)) === want)
    // banding parity: the pigeonhole path must return EXACTLY the
    // pairs whose direct signature Hamming is within the bound
    // (deterministic — no dependence on any family's luck), and the
    // planted exact duplicate guarantees the set is non-empty
    val base = (1 to 60).map(i => s"w$i")
    val rows = Seq(
      1L -> base.mkString(" "),
      2L -> base.mkString(" "),                                // dup of 1
      3L -> base.updated(5, "CHANGED").mkString(" "),
      4L -> (200 to 260).map(i => s"v$i").mkString(" "))
    val sigs = rows.map { case (id, text) =>
      id -> Dedup.simhashMd5(text.split(" ").toSeq) }
    val expect = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b &&
        java.lang.Long.bitCount(sa ^ sb) <= 6
    } yield (a, b)).toSet
    assert(expect.contains((1L, 2L))) // the planted duplicate
    val got = Dedup.simhashNearDupsReplayable(docs(rows: _*),
        "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expect)
  }

  test("length prefilter preserves the thresholded Jaccard pair set") {
    val d = Tables.documents(spark, sf)
    def pairs(mj: Option[Double]) =
      Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, mj)
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(Some(0.5)) === pairs(None))
    assert(pairs(Some(0.5)).nonEmpty)
  }

  test("prefix-filter Jaccard join equals the quadratic baseline") {
    // the q161 oracle replays the SAME algorithm, so an algorithmic
    // false negative (wrong prefix length, broken canonical order)
    // would pass it — this parity check against the all-pairs baseline
    // is the spec that would catch it
    val d = Tables.documents(spark, sf)
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, Some(0.5))
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val pf = Dedup.prefixFilterJaccardPairs(d, "doc_id", "text", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(pf.keySet === exact.keySet)
    assert(pf.nonEmpty) // the corpus plants near-dup pairs — prove seen
    pf.foreach { case (k, j) => assert(math.abs(j - exact(k)) < 1e-12) }
  }

  test("prefix-filter join: threshold edges and sub-threshold exclusion") {
    // identical docs (J=1) survive any threshold; a half-overlapping
    // pair sits BELOW 0.5 (J = 2/6 over distinct 3-shingles) and must
    // be pruned even though the docs share prefix tokens
    val a = (1 to 20).map(i => s"w$i").mkString(" ")
    val half = ((1 to 10).map(i => s"w$i") ++
      (100 to 109).map(i => s"z$i")).mkString(" ")
    val d = docs((1L, a), (2L, a), (3L, half))
    val at1 = Dedup.prefixFilterJaccardPairs(d, "doc_id", "text", 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(at1.toSeq === Seq((1L, 2L, 1.0)))
    val at05 = Dedup.prefixFilterJaccardPairs(d, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(at05 === Set((1L, 2L)))
  }

  test("replayable LSH finds the corpus's planted near-dups like the " +
      "production family, with exact Jaccard parity") {
    val d = Tables.documents(spark, sf)
    val replay = Dedup.minhashNearDupsReplayable(d, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // exact pairs at the same threshold: every replay pair must carry
    // the TRUE Jaccard, and recall over planted structure must be
    // near-total (banding is probabilistic per family, so compare
    // against exact, not against q44's different hash space)
    val exact = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, Some(0.5))
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(replay.nonEmpty && exact.nonEmpty)
    assert(replay.keySet.subsetOf(exact.keySet),
      "replayable LSH emitted a pair below the threshold")
    replay.foreach { case (k, j) =>
      assert(math.abs(j - exact(k)) < 1e-12, s"jaccard drift at $k") }
    val recall = replay.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall over ${exact.size} exact pairs")
  }

  test("containment equals the quadratic baseline on random docs, " +
      "including threshold 1.0 and short docs") {
    val rnd = new scala.util.Random(173)
    def words(tag: String, n: Int) =
      (1 to n).map(_ => s"$tag${rnd.nextInt(40)}").mkString(" ")
    // mixed corpus: random docs, a planted slice-quote, whole-doc dups,
    // and sub-shingle-length docs (whole-text shingle convention)
    val base = words("w", 40)
    val rows = Seq(
      1L -> base, 2L -> base.split(" ").slice(10, 22).mkString(" "),
      3L -> words("x", 25), 4L -> words("y", 30), 5L -> base,
      6L -> "tiny doc", 7L -> "tiny doc") ++
      (8L to 12L).map(i => i -> words(s"z$i", 10 + rnd.nextInt(30)))
    val d = docs(rows: _*)
    for (t <- Seq(0.6, 0.8, 1.0)) {
      val sh = d.select(col("doc_id").as("id"),
        explode(Dedup.shingles(col("text"), 3)).as("s"))
      val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("m"))
      val sets = sh.groupBy(col("id")).agg(collect_set(col("s")).as("ts"))
        .join(sz, "id")
      val exact = sets.select(col("id").as("id_a"), col("ts").as("ta"),
          col("m").as("m_a"))
        .crossJoin(sets.select(col("id").as("id_b"), col("ts").as("tb")))
        .filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("ta"), col("tb"))).cast("double") /
            col("m_a")).as("c"))
        .filter(col("c") >= t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.containmentPairs(d, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === exact, s"containment diverged at t=$t")
    }
  }

  test("winnowing guarantee holds at every run length above w+k-1 on " +
      "random placements") {
    val rnd = new scala.util.Random(175175)
    (1 to 6).foreach { trial =>
      val runLen = 11 + rnd.nextInt(10)
      val shared = (1 to runLen).map(i => s"r$i").mkString(" ")
      def noise(tag: String, n: Int) =
        (1 to n).map(_ => s"$tag${rnd.nextInt(300)}").mkString(" ")
      val (p1, p2) = (rnd.nextInt(50), rnd.nextInt(50))
      val d = docs(
        (1L, noise("a", p1) + " " + shared + " " + noise("b", 60 - p1)),
        (2L, noise("c", p2) + " " + shared + " " + noise("d", 60 - p2)))
      val fp = Dedup.winnowFingerprints(d, "doc_id", "text", 4, 8)
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val byDoc = fp.groupBy(_._1)
        .map { case (k2, v) => k2 -> v.map(_._2).toSet }
      assert((byDoc(1L) & byDoc(2L)).nonEmpty,
        s"guarantee violated on trial $trial (run $runLen, at $p1/$p2)")
    }
  }

  test("winnowing: the w+k-1 guarantee holds, disjoint docs share " +
      "nothing, density ~1/w") {
    val rnd = new scala.util.Random(175)
    def prose(tag: String, n: Int) =
      (1 to n).map(_ => s"$tag${rnd.nextInt(500)}").mkString(" ")
    val shared = (1 to 11).map(i => s"run$i").mkString(" ") // = w+k-1
    val d = docs(
      (1L, prose("a", 60) + " " + shared + " " + prose("b", 60)),
      (2L, prose("c", 40) + " " + shared + " " + prose("d", 80)),
      (3L, prose("e", 100)))
    val fp = Dedup.winnowFingerprints(d, "doc_id", "text", k = 4, w = 8)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDoc = fp.groupBy(_._1).map { case (k2, v) => k2 -> v.map(_._2).toSet }
    // guarantee: the 11-token shared run forces >=1 common fingerprint
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      "guarantee violated: shared 11-token run, no shared fingerprint")
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    assert((byDoc(2L) & byDoc(3L)).isEmpty)
    // selection density: ~1/w of windows, far below the gram count
    val nGrams = 60 + 11 + 60 - 3
    assert(byDoc(1L).size < nGrams / 2,
      s"selected ${byDoc(1L).size} of $nGrams grams — not winnowing")
    // candidates surface the overlapping pair only (minShared=1 here:
    // an 11-token run guarantees one shared print, not two)
    val cand = Dedup.winnowCandidates(d, "doc_id", "text", 4, 8,
        minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.toSeq === Seq((1L, 2L)))
  }

  test("containment join: quote-in-container found in the direction " +
      "Jaccard is blind to") {
    val article = (1 to 30).map(i => s"w$i").mkString(" ")
    val quote = (8 to 15).map(i => s"w$i").mkString(" ") // verbatim slice
    val other = (100 to 120).map(i => s"z$i").mkString(" ")
    val d = docs((1L, article), (2L, quote), (3L, other))
    val got = Dedup.containmentPairs(d, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // quote ⊂ article at containment 1.0, exactly once, DIRECTED —
    // while their symmetric Jaccard is 6/28, far below any dedup bar
    assert(got.toSeq === Seq((2L, 1L, 1.0)))
    val sym = Dedup.ngramJaccardPairs(d, "doc_id", "text", 3, None)
      .filter(col("id_a") === 1L && col("id_b") === 2L)
      .head().getDouble(2)
    assert(sym < 0.3, s"premise broken: Jaccard $sym not small")
  }

  test("containment join equals the quadratic baseline on the corpus") {
    val d = Tables.documents(spark, sf)
    val sh = d.select(col("doc_id").as("id"),
      explode(Dedup.shingles(col("text"), 3)).as("t"))
    val sz = sh.groupBy(col("id")).agg(count(lit(1)).as("m"))
    val sets = sh.groupBy(col("id")).agg(collect_set(col("t")).as("ts"))
      .join(sz, "id")
    val a = sets.select(col("id").as("id_a"), col("ts").as("ta"),
      col("m").as("m_a"))
    val b = sets.select(col("id").as("id_b"), col("ts").as("tb"))
    val exact = a.crossJoin(b).filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("ta"), col("tb"))).cast("double") /
          col("m_a")).as("c"))
      .filter(col("c") >= 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val got = Dedup.containmentPairs(d, "doc_id", "text", 0.8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(got.keySet === exact.keySet)
    assert(got.nonEmpty) // planted near-dups contain each other
    got.foreach { case (k, c) => assert(math.abs(c - exact(k)) < 1e-12) }
  }

  test("prefix-filter ingest screen equals the quadratic cross baseline") {
    val d = Tables.documents(spark, sf)
    val corpus = d.filter(col("doc_id") % 10 =!= 7)
    val batch = d.filter(col("doc_id") % 10 === 7)
    val got = Dedup.prefixFilterJaccardAgainst(corpus, batch, "doc_id",
        "text", 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // quadratic cross-side truth on shingle arrays
    def sh(df: org.apache.spark.sql.DataFrame, id: String) =
      df.select(col("doc_id").as(id),
        Dedup.shingles(col("text"), 3).as(s"sh_$id"))
    val want = sh(corpus, "id_a").crossJoin(sh(batch, "id_b"))
      .select(col("id_a"), col("id_b"),
        Dedup.jaccard(col("sh_id_a"), col("sh_id_b")).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(got.keySet === want.keySet)
    assert(got.nonEmpty) // straddling planted pairs exist in testdata
    got.foreach { case (k, j) => assert(math.abs(j - want(k)) < 1e-12) }
  }

  test("prefix-filter ingest screen: cross-side only, unseen shingles " +
      "safe") {
    val a = (1 to 20).map(i => s"w$i").mkString(" ")
    val corpus = docs((1L, a), (2L, (50 to 70).map(i => s"u$i")
      .mkString(" ")))
    // batch: an exact dup of corpus doc 1, a near-dup pair INTERNAL to
    // the batch, and a doc of entirely corpus-unseen shingles
    val b = (1 to 20).map(i => if (i == 3) "CHANGED" else s"w$i")
      .mkString(" ")
    val batch = docs((10L, a), (11L, b), (12L, b + " tail"),
      (13L, (100 to 120).map(i => s"z$i").mkString(" ")))
    val pairs = Dedup.prefixFilterJaccardAgainst(corpus, batch,
        "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 10L))) // exact dup across sides
    assert(pairs.contains((1L, 11L))) // near-dup across sides
    assert(!pairs.exists { case (x, y) => x >= 10L || y < 10L },
      "corpus ids left, batch ids right, never batch×batch")
    assert(!pairs.exists(_._2 == 13L)) // unseen-shingle doc matches none
  }

  test("duplicateSpans: maximal shared spans, gap separation, hash parity") {
    // doc 1 and 2 share two verbatim runs: S (12 tokens) and T (6 tokens),
    // separated by >w unique filler, so they must surface as TWO spans per
    // doc, each exactly covering the shared run. doc 3 is all-unique.
    val S = (1 to 12).map(i => s"s$i").mkString(" ")
    val T = (1 to 6).map(i => s"t$i").mkString(" ")
    def uniq(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val d = docs(
      (1L, s"${uniq("a", 5)} $S ${uniq("b", 10)} $T ${uniq("c", 3)}"),
      (2L, s"${uniq("d", 7)} $S ${uniq("e", 9)} $T ${uniq("f", 4)}"),
      (3L, uniq("g", 30)))
    val spans = Dedup.duplicateSpans(d, "doc_id", "text", w = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sortBy(x => (x._1, x._2))
    // doc1: S at tokens 6..17, T at 28..33; doc2: S at 8..19, T at 29..34
    assert(spans.toSeq === Seq(
      (1L, 6, 17), (1L, 28, 33), (2L, 8, 19), (2L, 29, 34)))
    // adjacent shared runs (gap <= w) merge into one maximal span
    val dm = docs(
      (1L, s"$S ${uniq("h", 2)} $T"),
      (2L, s"$S ${uniq("h", 2)} $T"))
    val merged = Dedup.duplicateSpans(dm, "doc_id", "text", w = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(merged.toSeq.sorted === Seq((1L, 1, 20), (2L, 1, 20)))
    // hash-keyed shuffle variant returns the identical span set
    val byHash = Dedup.duplicateSpans(d, "doc_id", "text", w = 4,
      byHash = true).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sortBy(x => (x._1, x._2))
    assert(byHash.toSeq === spans.toSeq)
  }

  test("exciseDuplicateSpans strips exactly the duplicated spans") {
    val S = (1 to 12).map(i => s"s$i").mkString(" ")
    def uniq(tag: String, n: Int) =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val d = docs(
      (1L, s"${uniq("a", 5)} $S ${uniq("b", 4)}"),
      (2L, s"$S ${uniq("e", 6)}"),
      (3L, uniq("g", 20)))
    val out = Dedup.exciseDuplicateSpans(d, "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2)))
      .toMap
    assert(out(1L) === (12, s"${uniq("a", 5)} ${uniq("b", 4)}"))
    assert(out(2L) === (12, uniq("e", 6)))
    assert(out(3L) === (0, uniq("g", 20))) // untouched passes through
    // a doc that is ENTIRELY a duplicated span empties, not drops
    val full = docs((1L, S), (2L, S))
    val fo = Dedup.exciseDuplicateSpans(full, "doc_id", "text", w = 4)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2)))
      .toMap
    assert(fo(1L) === (12, "")) // present, empty
    assert(fo(2L) === (12, ""))
  }

  test("duplicateSpans: within-doc repeats alone do not mark a span") {
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val d = docs((1L, s"$rep x1 x2 x3 $rep"), (2L, "y1 y2 y3 y4 y5 y6"))
    assert(Dedup.duplicateSpans(d, "doc_id", "text", w = 4).count() === 0L)
  }

  test("jaccard formula") {
    val d = docs((1L, "irrelevant"))
    val j = d.select(Dedup.jaccard(
      typedLit(Seq("a", "b", "c")), typedLit(Seq("b", "c", "d"))).as("j"))
      .first().getDouble(0)
    assert(j === 0.5 +- 1e-12) // |{b,c}| / |{a,b,c,d}|
  }
}

class ProfilerSpec extends GraftSuite {
  import graft.operators.Profiler
  import graft.operators.Profiler.Rule

  test("check: one pass separates nulls from violations, per rule") {
    val s = spark
    import s.implicits._
    val d = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 0.05), (2L, 0.20), (3L, null), (null, 0.01))
      .toDF("id", "disc")
    val out = Profiler.check(d, Seq(
        Rule("disc_range", col("disc") >= 0.0 && col("disc") <= 0.1),
        Rule("id_present", col("id").isNotNull)))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // disc: 4 rows, 1 null (row 3), 1 violation (0.20)
    assert(out("disc_range") === ((4L, 1L, 1L)))
    // isNotNull never evaluates to NULL: 1 violation, 0 nulls
    assert(out("id_present") === ((4L, 0L, 1L)))
  }

  test("check: empty input reports 0/0/0 per rule, never NULL") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Double)].toDF("id", "disc")
    val out = Profiler.check(empty, Seq(
        Rule("r1", col("disc") >= 0.0), Rule("r2", col("id").isNotNull)))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out === Map("r1" -> ((0L, 0L, 0L)), "r2" -> ((0L, 0L, 0L))))
  }

  test("check: duplicate rule names and empty rule sets are rejected") {
    val s = spark
    import s.implicits._
    val d = Seq((1, 2)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Profiler.check(d, Seq.empty) }
    intercept[IllegalArgumentException] {
      Profiler.check(d, Seq(Rule("x", col("a") > 0), Rule("x", col("b") > 0)))
    }
  }
}

class SimilaritySpec extends GraftSuite {

  test("cosine of identical / orthogonal vectors") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      Similarity.cosine(col("a"), col("b")).as("same"),
      Similarity.cosine(col("a"), col("c")).as("orth")).first()
    assert(r.getDouble(0) === 1.0 +- 1e-12)
    assert(r.getDouble(1) === 0.0 +- 1e-12)
  }

  test("bruteForceTopK ranks by cosine with id tie-break") {
    val s = spark
    import s.implicits._
    val cands = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "cv")
    val qs = Seq((99L, Seq(1.0f, 0.0f))).toDF("query_id", "qv")
    val top = Similarity.bruteForceTopK(qs, cands, "query_id", "qv",
      "vec_id", "cv", 2).select("vec_id").collect().map(_.getLong(0))
    assert(top.toSeq === Seq(1L, 2L))
  }

  test("md5SignPlanes is a deterministic ±1 family and the replayable " +
      "ANN path returns verifiable within-bucket top-k") {
    val planes = Similarity.md5SignPlanes(dim = 64, bits = 4)
    assert(planes.size === 4 && planes.forall(_.size === 64))
    assert(planes.flatten.forall(w => w == 1 || w == -1))
    assert(planes === Similarity.md5SignPlanes(64, 4))
    // not degenerate: each plane mixes signs
    assert(planes.forall(p => p.contains(1) && p.contains(-1)))
    val e = Tables.embeddings(spark, sf)
    val s = spark
    import s.implicits._
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = e.select($"vec_id", $"embedding".as("cv"))
    val got = Similarity.annTopKReplayable(q, c, "query_id", "qv",
      "vec_id", "cv", k = 5, bits = 4)
    val rows = got.collect()
    assert(rows.nonEmpty)
    // every (query, cand) pair shares its integer-arithmetic bucket —
    // replay the bucket expression directly
    val buckets = e.select($"vec_id",
        Similarity.lshBucketReplayable($"embedding", planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val (qi, ci) = (r.getLong(0), r.getLong(1))
      assert(buckets(qi) === buckets(ci), s"pair ($qi,$ci) not bucket-mates")
    }
    // partition-invariant (integer bucket bits + exact ranking)
    val re = Similarity.annTopKReplayable(q, c.repartition(7), "query_id",
      "qv", "vec_id", "cv", k = 5, bits = 4).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      re.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("annRecall emits every query with recall in [0,1]") {
    val e = Tables.embeddings(spark, sf)
    val s = spark
    import s.implicits._
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = e.select($"vec_id", $"embedding".as("cv"))
    val rec = Similarity.annRecall(q, c, "query_id", "qv", "vec_id", "cv",
      k = 5, bits = 4, seed = 42L).collect()
    assert(rec.length === 5)
    assert(rec.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }
}

class TextFunctionsSpec extends GraftSuite {

  private def one(text: String) = {
    val s = spark
    import s.implicits._
    Seq(text).toDF("text")
  }

  test("CorpusReport: deterministic dataset-card JSON with sane values") {
    val docs = Tables.documents(spark, sf)
    val j1 = graft.operators.CorpusReport.report(docs)
    val j2 = graft.operators.CorpusReport.report(docs.repartition(5))
    assert(j1 === j2) // partitioning-invariant
    // parse the fields we can cross-check cheaply
    def field(j: String, k: String): String =
      s""""$k":([^,}]+)""".r.findFirstMatchIn(j).get.group(1)
    assert(field(j1, "n_docs").toLong === docs.count())
    assert(field(j1, "vocab").toLong > 10)
    assert(field(j1, "exact_dup_rate").toDouble >= 0.0)
    val keep = field(j1, "gopher_keep_rate").toDouble
    assert(keep >= 0.0 && keep <= 1.0)
    assert(j1.contains(""""languages":{"""))
    // round-5-late card fields: split balance sums to n_docs, passage
    // dup rate is a sane fraction
    assert(j1.contains(""""splits":{"""))
    val splitTotal = """"splits":\{([^}]*)\}""".r
      .findFirstMatchIn(j1).get.group(1)
      .split(",").map(_.split(":")(1).toLong).sum
    assert(splitTotal === docs.count())
    val bdr = field(j1, "block_dup_rate").toDouble
    assert(bdr >= 0.0 && bdr <= 1.0)
    // must be one JSON object line (the CLI writes it verbatim)
    assert(j1.startsWith("{") && j1.endsWith("}") && !j1.contains("\n"))
  }

  test("bigramLogProb: hand-computed scores; held-out backoff is finite") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, "a b a")).toDF("doc_id", "text")
    val got = TextFunctions.bigramLogProb(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // tokens a,b,a: C(a)=2, C(b)=1, N=3, V=2; bigrams (a,b),(b,a) once
    // each, heads a→1, b→1
    // (a,b): 0.5·(1/1) + 0.5·(1+1)/5 = 0.7 ; (b,a): 0.5 + 0.5·3/5 = 0.8
    val want = (math.log(0.7) + math.log(0.8)) / 2
    assert(got.toSeq === Seq((1L, 2L, got.head._3)))
    assert(math.abs(got.head._3 - want) < 1e-12)
    // held-out doc with an unseen bigram: the unigram backoff keeps the
    // score finite (no -Inf / NaN)
    val held = Seq((9L, "b b")).toDF("doc_id", "text")
    val hs = TextFunctions.bigramLogProb(held, "doc_id", "text",
        train = Some(corpus))
      .collect().map(r => r.getDouble(2))
    assert(hs.length === 1 && !hs.head.isNaN && !hs.head.isInfinite)
    // (b,b) unseen: 0.5·0 + 0.5·(1+1)/5 = 0.2
    assert(math.abs(hs.head - math.log(0.2)) < 1e-12)
  }

  test("gopherFlags: rule values and keep decision") {
    val s = spark
    import s.implicits._
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "some more of the usual filler words keep coming here to make " +
      "the word count pass the gate with room to spare ok"
    val df = Seq((1L, good), (2L, "## # ###"), (3L, "the of and"))
      .toDF("id", "text")
      .withColumn("g", TextFunctions.gopherFlags($"text", minWords = 20,
        minMeanWordLen = 3.0, maxMeanWordLen = 10.0,
        stopwords = Seq("the", "of", "and"), minStopHits = 2))
    val rows = df.select($"id", $"g.n_words", $"g.symbol_ratio",
      $"g.stop_hits", $"g.keep").collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getDouble(2), r.getInt(3), r.getBoolean(4)))
      .toMap
    assert(rows(1L)._4 === true)
    assert(rows(1L)._3 === 3) // the, of, and all present — DISTINCT hits
    assert(rows(2L)._2 > 0.5 && rows(2L)._4 === false) // symbol soup
    assert(rows(3L)._1 === 3 && rows(3L)._4 === false) // too short
  }

  test("langId spots obvious languages and falls back to und") {
    def lid(t: String): String =
      one(t).select(TextFunctions.langId(col("text"))).first().getString(0)
    assert(lid("the cat sat on the mat and it is a cat") === "en")
    assert(lid("der hund und die katze ist nicht da und das ist gut") === "de")
    assert(lid("xyzzy plugh qwerty asdf") === "und")
  }

  test("vocabulary is a deterministic top-N; oovFraction counts misses") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a a a b b c"),
      (2L, "a b d")).toDF("doc_id", "text")
    val v = TextFunctions.vocabulary(d, "text", 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(v === Seq(("a", 4L), ("b", 3L))) // count desc, token asc
    val oov = d.select($"doc_id",
        TextFunctions.oovFraction($"text", v.map(_._1)).as("o"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(oov(1L) - 1.0 / 6) < 1e-12) // only "c" misses
    assert(math.abs(oov(2L) - 1.0 / 3) < 1e-12) // only "d" misses
  }

  test("unigramLogProb: Laplace math exact; unseen tokens penalized") {
    val s = spark
    import s.implicits._
    // corpus: tokens a×3, b×1 → N=4, V=2; p(a)=(3+1)/6, p(b)=(1+1)/6
    val train = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val got = TextFunctions.unigramLogProb(train, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = (3 * math.log(4.0 / 6) + math.log(2.0 / 6)) / 4
    assert(got.length === 1 && got(0)._2 === 4L)
    assert(math.abs(got(0)._3 - want) < 1e-12)
    // scoring a different corpus under the trained LM: unseen token
    // gets the +1-smoothed floor, scoring low
    val score = Seq((9L, "a zzz")).toDF("doc_id", "text")
    val sc = TextFunctions.unigramLogProb(score, "doc_id", "text",
        train = Some(train))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val wantMix = (math.log(4.0 / 6) + math.log(1.0 / 6)) / 2
    assert(math.abs(sc(9L) - wantMix) < 1e-12)
  }

  test("fingerprint is deterministic and order-sensitive") {
    def fp(t: String): Long =
      one(t).select(TextFunctions.fingerprint(col("text"))).first().getLong(0)
    assert(fp("a b c") === fp("a b c"))
    assert(fp("a b c") !== fp("c b a"))
  }

  test("subword estimate grows with token length") {
    def sw(t: String): Long =
      one(t).select(TextFunctions.subwordCountEstimate(col("text")))
        .first().getLong(0)
    assert(sw("a b c") === 3L)              // short tokens: 1 unit each
    assert(sw("abcdefgh") === 2L)           // 8 chars → 1 + (7/4=1)
    assert(sw("abcdefghijkl xy") === 4L)    // 12 chars → 1+2, "xy" → 1
  }

  test("quality score stays in [0,1] on real docs") {
    val q = Tables.documents(spark, sf)
      .select(TextFunctions.qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).first()
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
  }
}

class AsOfJoinSpec extends GraftSuite {

  test("backward as-of picks the latest right row at or before left ts") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, "u1", ts(100)), (2L, "u1", ts(50)), (3L, "u2", ts(10)))
      .toDF("id", "user", "t")
    val right = Seq(("u1", ts(40), 40.0), ("u1", ts(100), 99.0),
      ("u2", ts(20), 1.0)).toDF("user", "t", "v")
    val out = AsOfJoin.backward(left, right, Seq("user"), "t", "t", Seq("v"))
      .select($"id", $"v_asof").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) === Some(99.0)) // equal ts matches (<=)
    assert(out(2L) === Some(40.0))
    assert(out(3L) === None)       // no right row at/before t=10
  }

  test("as-of result matches naive join-filter-max formulation on events") {
    val s = spark
    import s.implicits._
    val ev = Tables.events(spark, sf)
    val purch = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click").select($"user_id", $"ts")
    val fast = AsOfJoin.backward(purch, clicks, Seq("user_id"), "ts", "ts")
      .select($"event_id", $"ts_asof")
    val matched = purch.join(clicks.withColumnRenamed("ts", "cts"),
        Seq("user_id"))
      .filter($"cts" <= $"ts")
      .groupBy($"event_id").agg(max($"cts").as("ts_naive"))
    val naive = purch.select($"event_id")
      .join(matched, Seq("event_id"), "left_outer")
    val joined = fast.join(naive, Seq("event_id"))
    val mismatches = joined.filter(!($"ts_asof" <=> $"ts_naive")).count()
    assert(mismatches === 0)
    assert(joined.count() === purch.count())
  }
}

class MultimodalSpec extends GraftSuite {

  test("binary plumbing: meta matches payload, features deterministic") {
    val withBin = Multimodal.attachBinary(Tables.documents(spark, sf))
    val s = spark
    import s.implicits._
    val bad = withBin.filter(length($"content") =!= $"meta.n_bytes").count()
    assert(bad === 0)
    val a = Multimodal.extractFeatures(withBin).collect().sortBy(_.doc_id)
    val b = Multimodal.extractFeatures(withBin).collect().sortBy(_.doc_id)
    assert(a.toSeq === b.toSeq)
    assert(a.forall(f => f.width >= 64 && f.height >= 64))
    assert(a.forall(f => f.byte_entropy > 0.0 && f.byte_entropy <= 8.0))
  }

  test("frameSample: real frames for decodable containers, explicit " +
      "empty for codec-less bytes — never synthetic frames") {
    val s = spark
    import s.implicits._
    // text bytes (stand-in for MP4/WebM: no JVM codec) + a real
    // animated GIF + a real MJPEG AVI in one corpus
    val rows = Seq(
      (1L, "just some text bytes".getBytes("UTF-8")),
      (2L, animatedGifBytes(Seq(40 -> 8, 120 -> 8, 200 -> 8))),
      (3L, mjpegAviBytes(Seq(30, 110, 220))))
      .toDF("doc_id", "content")
    val out = Multimodal.frameSample(rows, nFrames = 2)
      .select($"doc_id", $"n_frames").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out(1L) === 0, "codec-less bytes must yield ZERO frames")
    assert(out(2L) === 2 && out(3L) === 2)
    // and the decoded frames carry real dimensions, not byte slices
    val f = Multimodal.frameSample(rows, nFrames = 2)
      .filter($"doc_id" === 2L)
      .select(explode($"frames").as("f")).select($"f.width", $"f.luma_mean")
      .collect()
    assert(f.forall(_.getInt(0) === 8))
    assert(f.map(_.getDouble(1)).distinct.length === 2) // distinct lumas
  }

  test("mediaProfile: per-format decodability counts make the " +
      "codec-less gap measurable, and the card carries them") {
    val s = spark
    import s.implicits._
    val mp4ish = Array[Byte](0, 0, 0, 24) ++
      "ftypisom".getBytes("US-ASCII") ++ Array.fill[Byte](32)(7)
    val rows = Seq(
      (1L, animatedGifBytes(Seq(40 -> 8))),
      (2L, animatedGifBytes(Seq(40 -> 8, 200 -> 8))),
      (3L, mjpegAviBytes(Seq(30, 110))),
      (4L, mp4ish),
      (5L, "opaque text payload".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val prof = Multimodal.mediaProfile(rows).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(prof("gif") === ((2L, 0L)))
    assert(prof("avi") === ((1L, 0L)))
    assert(prof("mp4") === ((1L, 1L))) // shipped but NOT decodable
    assert(prof("unknown") === ((1L, 1L)))
    // the dataset card gains the media section when the binary frame
    // is supplied, and the text profile is unchanged without it
    val docs = Seq((1L, "some words here for the card")).toDF("doc_id",
      "text")
    val card = graft.operators.CorpusReport.report(docs,
      media = Some(rows))
    assert(card.contains(""""media":{"""))
    assert(card.contains(""""mp4":{"n":1,"undecodable":1,"with_meta":0}"""))
    assert(card.contains(""""gif":{"n":2,"undecodable":0,"with_meta":0}"""))
    assert(graft.operators.CorpusReport.report(docs) ===
      card.split(""","media":""")(0) + "}")
  }

  test("containerFormat: EBML DocType separates webm from mkv rows") {
    // the 0x1A45DFA3 magic is shared by the whole Matroska family — a
    // card that filed .mkv under "webm" would misreport both buckets
    def ebml(docType: String): Array[Byte] =
      Array(0x1a, 0x45, 0xdf, 0xa3, 0x9f).map(_.toByte) ++
        Array(0x42, 0x86, 0x81, 0x01).map(_.toByte) ++ // EBMLVersion=1
        Array(0x42, 0x82, 0x80 | docType.length).map(_.toByte) ++
        docType.getBytes("US-ASCII") ++ Array.fill[Byte](16)(0)
    assert(Multimodal.containerFormat(ebml("webm")) === "webm")
    assert(Multimodal.containerFormat(ebml("matroska")) === "matroska")
    // bare magic without a parseable DocType stays the generic family
    assert(Multimodal.containerFormat(
      Array(0x1a, 0x45, 0xdf, 0xa3).map(_.toByte)) === "matroska")
    // decodability policy unchanged: both are explicit-empty
    assert(!Multimodal.decodable(ebml("webm")))
    assert(!Multimodal.decodable(ebml("matroska")))
  }

  /** Animated-GIF bytes: one solid `size`×`size` frame per (gray, size)
    * pair, built with the JDK's own gif sequence writer — no fixture
    * file, no external codec. Undersized later frames mimic the
    * dirty-rect deltas frame-optimized GIFs store. */
  private def animatedGifBytes(frames: Seq[(Int, Int)]): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach { case (g, size) =>
      val img = new java.awt.image.BufferedImage(size, size,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = (g << 16) | (g << 8) | g
      for (y <- 0 until size; x <- 0 until size) img.setRGB(x, y, rgb)
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    baos.toByteArray
  }

  /** Minimal MJPEG-in-AVI fixture: RIFF('AVI ', JUNK, LIST('movi',
    * '00dc' JPEG chunks)) — built byte-by-byte so the parser is tested
    * against the container spec, not against itself. */
  private def mjpegAviBytes(grays: Seq[Int], wh: Int = 8): Array[Byte] = {
    def jpeg(gray: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(wh, wh,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(gray, gray, gray))
      g.fillRect(0, 0, wh, wh); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    def chunk(cc: String, data: Array[Byte]): Array[Byte] = {
      val pad = data.length & 1
      val b = java.nio.ByteBuffer.allocate(8 + data.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(cc.getBytes("US-ASCII")); b.putInt(data.length); b.put(data)
      b.array()
    }
    val movi = "movi".getBytes("US-ASCII") ++
      grays.toArray.flatMap(g => chunk("00dc", jpeg(g)))
    val payload = "AVI ".getBytes("US-ASCII") ++
      chunk("JUNK", Array.fill[Byte](10)(0)) ++ chunk("LIST", movi)
    val riff = java.nio.ByteBuffer.allocate(8 + payload.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    riff.put("RIFF".getBytes("US-ASCII")).putInt(payload.length)
      .put(payload)
    riff.array()
  }

  test("MJPEG AVI frames decode for REAL: chunk walk, sampling, luma") {
    val s = spark
    import s.implicits._
    val bytes = mjpegAviBytes(Seq(30, 110, 220))
    val all = Multimodal.decodeMjpegAviFrames(1L, bytes, maxFrames = 4).get
    assert(all.map(_.frame_index) === Seq(0, 1, 2))
    assert(all.forall(f => f.n_frames === 3 && f.width === 8 &&
      f.height === 8))
    // solid-gray JPEG round-trips near-exactly (±3 for DCT rounding)
    all.map(_.luma_mean).zip(Seq(30.0, 110.0, 220.0)).foreach {
      case (got, want) => assert(math.abs(got - want) <= 3.0, s"$got/$want")
    }
    // even-timeline sample of 2 from 3 → indices 0 and 1
    val two = Multimodal.decodeMjpegAviFrames(1L, bytes, maxFrames = 2).get
    assert(two.map(_.frame_index) === Seq(0, 1))
    // Dataset path: AVI and GIF rows both land in the same typed output
    val df = Seq(
      (1L, bytes),
      (2L, animatedGifBytes(Seq(40 -> 8, 120 -> 8))),
      (3L, "neither".getBytes("UTF-8"))).toDF("doc_id", "content")
    val frames = Multimodal.extractFrames(df, maxFrames = 4).collect()
    assert(frames.filter(_.doc_id == 1L).length === 3)
    assert(frames.filter(_.doc_id == 2L).length === 2)
    assert(!frames.exists(_.doc_id == 3L))
    // corrupt tail (truncated chunk) → None, not garbage
    val truncated = bytes.dropRight(bytes.length / 3)
    assert(Multimodal.decodeMjpegAviFrames(4L, truncated, 4)
      .forall(_.nonEmpty)) // either decodes leading frames or None
    // an AVI with audio-only chunks is undecodable, not wrong
    val audioOnly = {
      val movi = "movi".getBytes("US-ASCII") ++ {
        val data = Array.fill[Byte](16)(1)
        val b = java.nio.ByteBuffer.allocate(8 + data.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put("01wb".getBytes("US-ASCII")).putInt(data.length).put(data)
        b.array()
      }
      val payload = "AVI ".getBytes("US-ASCII") ++ {
        val b = java.nio.ByteBuffer.allocate(8 + movi.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        b.put("LIST".getBytes("US-ASCII")).putInt(movi.length).put(movi)
        b.array()
      }
      val riff = java.nio.ByteBuffer.allocate(8 + payload.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      riff.put("RIFF".getBytes("US-ASCII")).putInt(payload.length)
        .put(payload)
      riff.array()
    }
    assert(Multimodal.decodeMjpegAviFrames(5L, audioOnly, 4).isEmpty)
  }

  test("MJPEG MP4 frames decode for REAL: sample-table walk, SOI " +
      "guard, policy boundaries") {
    val s = spark
    import s.implicits._
    def jpeg(gray: Int, wh: Int = 8): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(wh, wh,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(gray, gray, gray))
      g.fillRect(0, 0, wh, wh); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val bytes = graft.multimodal.ContainerMeta.buildMjpegMp4(
      Seq(jpeg(30), jpeg(110), jpeg(220)), 8, 8)
    val all = Multimodal.decodeMjpegMp4Frames(1L, bytes, maxFrames = 4).get
    assert(all.map(_.frame_index) === Seq(0, 1, 2))
    assert(all.forall(f => f.n_frames === 3 && f.width === 8 &&
      f.height === 8))
    all.map(_.luma_mean).zip(Seq(30.0, 110.0, 220.0)).foreach {
      case (got, want) => assert(math.abs(got - want) <= 3.0, s"$got/$want")
    }
    // even-timeline sample of 2 from 3 → indices 0 and 1
    val two = Multimodal.decodeMjpegMp4Frames(1L, bytes, maxFrames = 2).get
    assert(two.map(_.frame_index) === Seq(0, 1))
    // Dataset path picks MP4 rows up alongside AVI/GIF
    val df = Seq((1L, bytes),
      (2L, "neither".getBytes("UTF-8"))).toDF("doc_id", "content")
    val frames = Multimodal.extractFrames(df, maxFrames = 4).collect()
    assert(frames.count(_.doc_id == 1L) === 3)
    assert(!frames.exists(_.doc_id == 2L))
    // the decodable predicate (and so the dataset card) now counts
    // this class as decoded
    assert(Multimodal.decodable(bytes))
    // an mp4v-labelled track whose payload is NOT JPEG → None (the SOI
    // guard), never garbage features
    val notJpeg = graft.multimodal.ContainerMeta.buildMjpegMp4(
      Seq(Array.fill[Byte](64)(7)), 8, 8, codec = "mp4v")
    assert(Multimodal.decodeMjpegMp4Frames(3L, notJpeg, 4).isEmpty)
    // a metadata-only MP4 (no sample tables — the r8 fixture shape)
    // stays explicit-empty
    val metaOnly = graft.multimodal.ContainerMeta.buildMp4(
      1000L, 8, 8, "avc1")
    assert(Multimodal.decodeMjpegMp4Frames(4L, metaOnly, 4).isEmpty)
    assert(!Multimodal.decodable(metaOnly))
    // truncating into mdat: samples point past the end → None via the
    // bounds guard
    val truncated = bytes.take(bytes.length / 2)
    assert(Multimodal.decodeMjpegMp4Frames(5L, truncated, 4).isEmpty ||
      Multimodal.decodeMjpegMp4Frames(5L, truncated, 4).get.nonEmpty)
    // a malformed fixed-size stsz declaring sample_count ~2^31 must NOT
    // attempt a multi-GB allocation (OutOfMemoryError is not an
    // Exception — it would kill the task, not return None): patch the
    // fixture's stsz in place to fixed=1024, count=Int.MaxValue
    val evil = bytes.clone()
    val stszAt = evil.indices.find(i => i + 4 <= evil.length &&
      new String(evil, i, 4, "US-ASCII") == "stsz").get
    def put32(at: Int, v: Long): Unit = (0 until 4).foreach { j =>
      evil(at + j) = ((v >>> (8 * (3 - j))) & 0xff).toByte
    }
    put32(stszAt + 8, 1024L)              // sample_size (fixed branch)
    put32(stszAt + 12, Int.MaxValue.toLong) // sample_count
    assert(Multimodal.decodeMjpegMp4Frames(6L, evil, 4).isEmpty)
  }

  test("animated GIF frames decode for REAL: even sampling, true luma") {
    val s = spark
    import s.implicits._
    val bytes = animatedGifBytes(Seq(40 -> 8, 120 -> 8, 200 -> 8))
    // take=2 of n=3: indices floor(0·3/2)=0 and floor(1·3/2)=1
    val sampled = Multimodal.decodeGifFrames(1L, bytes, maxFrames = 2).get
    assert(sampled.map(_.frame_index) === Seq(0, 1))
    assert(sampled.forall(f => f.n_frames === 3 && f.width === 8 &&
      f.height === 8))
    // solid gray g has Rec.601 luma g; GIF palettization is lossless for
    // a one-color frame (±2 guards rounding in the writer's quantizer)
    val all = Multimodal.decodeGifFrames(1L, bytes, maxFrames = 4).get
    assert(all.map(_.frame_index) === Seq(0, 1, 2))
    all.map(_.luma_mean).zip(Seq(40.0, 120.0, 200.0)).foreach {
      case (got, want) => assert(math.abs(got - want) <= 2.0, s"$got/$want")
    }
    // Dataset path: GIF rows yield frames, codec-less rows are skipped
    val df = Seq((1L, bytes),
      (2L, "not a gif".getBytes("UTF-8"))).toDF("doc_id", "content")
    val frames = Multimodal.extractFrames(df, maxFrames = 3).collect()
    assert(frames.map(_.doc_id).distinct.toSeq === Seq(1L))
    assert(frames.length === 3)
    // single-frame GIFs stay decodeImage territory
    assert(Multimodal.decodeGifFrames(3L,
      animatedGifBytes(Seq(99 -> 8)), 4).isEmpty)
  }

  test("delta frames composite onto the canvas, not reported raw") {
    // frame 1 is a 4×4 patch over an 8×8 canvas — the dirty-rect shape
    // frame-optimized GIFs store. The report must describe the
    // composited canvas: 8×8 dims, luma = (16·200 + 48·40) / 64
    val bytes = animatedGifBytes(Seq(40 -> 8, 200 -> 4))
    val frames = Multimodal.decodeGifFrames(1L, bytes, maxFrames = 2).get
    assert(frames.map(_.frame_index) === Seq(0, 1))
    assert(frames.forall(f => f.width === 8 && f.height === 8))
    val expected = (16.0 * 200 + 48.0 * 40) / 64
    assert(math.abs(frames(1).luma_mean - expected) <= 2.0,
      s"${frames(1).luma_mean} vs $expected")
  }

  /** PNG bytes for a w×h image whose pixel (x, y) = rgb(x, y). Built with
    * the JDK only — no fixture file, no external codec. */
  private def pngBytes(w: Int, h: Int,
      rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("image payloads decode for REAL: true dimensions and Rec.601 luma") {
    // 5×3 all-white: luma exactly 255; dimensions must be the true ones
    val white = Multimodal.decode(1L, pngBytes(5, 3, (_, _) => 0xffffff))
    assert(white.width === 5 && white.height === 3)
    assert(white.luma_mean === 255.0 +- 1e-9)
    // pure-red square: Rec.601 luma = 0.299 × 255
    val red = Multimodal.decode(2L, pngBytes(4, 4, (_, _) => 0xff0000))
    assert(red.luma_mean === 0.299 * 255 +- 1e-9)
    // non-image bytes keep the deterministic fallback (never throw)
    val blob = "not an image".getBytes("UTF-8")
    assert(Multimodal.decode(3L, blob) === Multimodal.fakeDecode(3L, blob))
  }

  /** Block image for the dHash tests: 8×9 luma blocks (multiples of 16
    * from a seeded hash), each block k×k pixels — same construction as
    * q167's synthesis. */
  private def blockPng(seed: Long, k: Int, brightness: Int = 0,
      dither: Boolean = false): Array[Byte] =
    pngBytes(9 * k, 8 * k, (x, y) => {
      val (r, c) = (y / k, x / k)
      var h = seed * 1000003L + r * 9 + c
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      h *= 0xc4ceb9fe1a85ec53L; h ^= h >>> 33
      val d = if (dither) (if ((x + y) % 2 == 0) 1 else -1) else 0
      val v = math.min(255, ((h & 0xf) * 16).toInt + brightness + d)
      (v << 16) | (v << 8) | v
    })

  test("dHash64: invariant under resize + brightness + dither; " +
      "distinct patterns far apart; non-images rejected") {
    val a = Multimodal.dHash64(blockPng(7L, k = 4)).get
    val aTwin = Multimodal.dHash64(
      blockPng(7L, k = 8, brightness = 4, dither = true)).get
    assert(a === aTwin, "perceptual replica must hash identically")
    val b = Multimodal.dHash64(blockPng(8L, k = 4)).get
    assert(java.lang.Long.bitCount(a ^ b) > 2,
      s"distinct patterns too close: ${java.lang.Long.bitCount(a ^ b)}")
    assert(Multimodal.dHash64("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.dHash64(Array[Byte](0x89.toByte, 'P', 1, 2)).isEmpty)
  }

  test("image near-dups: planted replica found at Hamming 0, text rows " +
      "and unrelated images excluded") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, blockPng(1L, k = 4)),
      (2L, blockPng(2L, k = 4)),
      (3L, blockPng(1L, k = 8, brightness = 4, dither = true)), // ~ doc 1
      (4L, "plain text, no perceptual identity".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val sigs = Multimodal.imageDHashes(rows)
    assert(sigs.count() === 3) // text row dropped
    val pairs = Dedup.hammingNearDups(sigs, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 3L, 0)))
  }

  test("hammingNearDups rejects out-of-range budgets (64 would " +
      "degenerate banding to an all-pairs cross join)") {
    val s = spark
    import s.implicits._
    val sigs = Seq((1L, 0L), (2L, 1L)).toDF("doc_id", "sig")
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDups(sigs, maxHamming = 64)
    }
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDups(sigs, maxHamming = -1)
    }
  }

  /** In-memory 16-bit mono PCM WAV of a sine wave — JDK-only fixture. */
  private def wavBytes(sampleRate: Float, seconds: Double,
      amplitude: Double, hz: Double): Array[Byte] = {
    val n = (sampleRate * seconds).toInt
    val pcm = new Array[Byte](n * 2)
    for (i <- 0 until n) {
      val s = (amplitude * math.sin(2 * math.Pi * hz * i / sampleRate) *
        32767).toInt.toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true,
      false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Square-wave WAV with a 65-segment amplitude envelope — window RMS
    * equals the segment amplitude EXACTLY at any sample rate, the
    * property q170's synthesis leans on. */
  private def envelopeWav(amps: Seq[Double], perSeg: Int,
      rate: Float): Array[Byte] = {
    val pcm = new Array[Byte](amps.size * perSeg * 2)
    amps.zipWithIndex.foreach { case (amp, seg) =>
      for (j <- 0 until perSeg) {
        val i = seg * perSeg + j
        val s = ((if (i % 2 == 0) 1 else -1) * amp * 32767).toInt.toShort
        pcm(2 * i) = (s & 0xff).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt,
      (amps.size * perSeg).toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("audioHash64: invariant under volume + resample; distinct " +
      "envelopes far apart; non-audio rejected") {
    val rnd = new scala.util.Random(170)
    val amps = (1 to 65).map(_ => rnd.nextInt(16) * 0.05 + 0.05)
    val a = Multimodal.audioHash64(envelopeWav(amps, 160, 8000f)).get
    val aTwin = Multimodal.audioHash64(
      envelopeWav(amps.map(_ * 0.5), 320, 16000f)).get
    assert(a === aTwin, "volume+resample replica must hash identically")
    val other = (1 to 65).map(_ => rnd.nextInt(16) * 0.05 + 0.05)
    val b = Multimodal.audioHash64(envelopeWav(other, 160, 8000f)).get
    assert(java.lang.Long.bitCount(a ^ b) > 2,
      s"distinct envelopes too close: ${java.lang.Long.bitCount(a ^ b)}")
    assert(Multimodal.audioHash64("not audio".getBytes("UTF-8")).isEmpty)
  }

  test("audio near-dups: planted half-volume resampled replica found " +
      "at Hamming 0") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(171)
    val e1 = (1 to 65).map(_ => rnd.nextInt(16) * 0.05 + 0.05)
    val e2 = (1 to 65).map(_ => rnd.nextInt(16) * 0.05 + 0.05)
    val rows = Seq(
      (1L, envelopeWav(e1, 160, 8000f)),
      (2L, envelopeWav(e2, 160, 8000f)),
      (3L, envelopeWav(e1.map(_ * 0.5), 320, 16000f)), // ~ clip 1
      (4L, "not audio at all".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val sigs = Multimodal.audioFingerprints(rows)
    assert(sigs.count() === 3)
    val pairs = Dedup.hammingNearDups(sigs, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 3L, 0)))
  }

  test("audio payloads decode for REAL: format, duration, sine RMS") {
    val wav = wavBytes(8000f, 0.1, amplitude = 0.5, hz = 440)
    val f = Multimodal.decodeAudio(1L, wav).get
    assert(f.sample_rate === 8000.0 && f.channels === 1)
    assert(f.n_frames === 800L)
    assert(f.duration_s === 0.1 +- 1e-9)
    // RMS of a sine of amplitude a is a/sqrt(2)
    assert(f.rms === 0.5 / math.sqrt(2) +- 0.01)
    // non-audio bytes are rejected, not mangled
    assert(Multimodal.decodeAudio(2L, "not audio".getBytes).isEmpty)
  }

  test("mixed corpus: audio extraction keeps only decodable rows") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, wavBytes(16000f, 0.05, 0.25, 220)),
      (2L, "plain text".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val feats = Multimodal.extractAudioFeatures(rows).collect()
    assert(feats.map(_.doc_id).toSeq === Seq(1L))
    assert(feats.head.sample_rate === 16000.0)
    assert(feats.head.n_frames === 800L)
  }

  test("decode runs distributed: image rows and text rows share a column") {
    val s = spark
    import s.implicits._
    val img = pngBytes(7, 2, (_, _) => 0x000000) // all-black: luma 0
    val rows = Seq((1L, img), (2L, "plain text payload".getBytes("UTF-8")))
      .toDF("doc_id", "content")
    val feats = Multimodal.extractFeatures(rows)
      .collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L).width === 7 && feats(1L).height === 2)
    assert(feats(1L).luma_mean === 0.0 +- 1e-9)
    assert(feats(2L) === Multimodal.fakeDecode(2L,
      "plain text payload".getBytes("UTF-8")))
  }
}

class StreamingSpec extends GraftSuite {

  test("stream-stream interval join equals the batch range join") {
    val s = spark
    import s.implicits._
    val ev = Tables.events(spark, sf)
    val batch = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_event_id"), $"user_id".as("p_user"),
        $"ts".as("p_ts"))
      .join(ev.filter($"event_type" === "click")
        .select($"user_id".as("c_user"), $"ts".as("c_ts")),
        expr("p_user = c_user AND " +
          "c_ts >= p_ts - interval 1 hour AND c_ts <= p_ts"))
      .select($"p_event_id", $"p_user", unix_millis($"p_ts").as("p_ms"),
        unix_millis($"c_ts").as("c_ms"))
    val streamed = graft.streaming.EventStream.runAppend(
      spark, sf, graft.streaming.EventStream.purchaseClickPairs, "spec_ssj")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming hourly counts equal the batch aggregation") {
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(unix_millis(col("hr")).as("hr_ms"), col("event_type"),
        col("n"), col("sum_value"))
    val streamed = graft.streaming.EventStream.runToCompletion(
      spark, sf, graft.streaming.EventStream.hourlyCounts, "spec_stream")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("sessionize closes sessions on gaps") {
    val s = spark
    import s.implicits._
    implicit val sp = s
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    // u1: events at 0,10,20 (one session) then 120,125 (second session)
    val events = Seq(
      graft.streaming.EventStream.Event(1, ts(0), 1L, "view", 1.0),
      graft.streaming.EventStream.Event(2, ts(10), 1L, "view", 2.0),
      graft.streaming.EventStream.Event(3, ts(20), 1L, "view", 3.0),
      graft.streaming.EventStream.Event(4, ts(120), 1L, "view", 4.0),
      graft.streaming.EventStream.Event(5, ts(125), 1L, "view", 5.0)
    ).toDS()
    // batch-mode flatMapGroupsWithState: all rows in one trigger → the
    // first session closes, the dangling one stays in state
    val sessions = graft.streaming.EventStream.sessionize(events, 30)
      .collect()
    assert(sessions.length === 1)
    assert(sessions(0).n_events === 3 && sessions(0).total_value === 6.0)
  }
}

class SessionizeReplaySpec extends GraftSuite {

  test("streaming sessionize replay equals the batch gaps-and-islands " +
      "closed-session set") {
    val s = spark
    import s.implicits._
    val streamed = graft.streaming.EventStream
      .runSessionize(spark, sf, gapMinutes = 30,
        queryName = "spec_sessions")
      .select($"user_id", unix_millis($"session_start").as("start_ms"),
        unix_millis($"session_end").as("end_ms"), $"n_events",
        round($"total_value", 2).as("total_value"))
    // batch twin: lag + cumulative-sum session ids, each user's LAST
    // session dropped (it dangles in stream state until timeout)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val batch = Tables.events(spark, sf)
      .withColumn("new_s",
        when(lag($"ts", 1).over(w).isNull ||
          unix_millis($"ts") - unix_millis(lag($"ts", 1).over(w)) >
            30L * 60 * 1000, 1).otherwise(0))
      .withColumn("sess", sum($"new_s").over(
        w.rowsBetween(Long.MinValue, 0)))
      .groupBy($"user_id", $"sess")
      .agg(unix_millis(min($"ts")).as("start_ms"),
        unix_millis(max($"ts")).as("end_ms"),
        count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("total_value"))
      .withColumn("last_sess",
        max($"sess").over(org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id")))
      .filter($"sess" < $"last_sess")
      .select($"user_id", $"start_ms", $"end_ms", $"n_events",
        $"total_value")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("event-time-timeout flush emits the COMPLETE session set") {
    // runSessionizeFlush must equal the full batch gaps-and-islands
    // answer INCLUDING each user's dangling last session (which the
    // NoTimeout replay deliberately leaves in state)
    val s = spark
    import s.implicits._
    val flushed = graft.streaming.EventStream
      .runSessionizeFlush(spark, sf, gapMinutes = 30,
        queryName = "spec_sessions_flush")
      .select($"user_id", unix_millis($"session_start").as("start_ms"),
        unix_millis($"session_end").as("end_ms"), $"n_events",
        round($"total_value", 2).as("total_value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val batch = Tables.events(spark, sf)
      .withColumn("new_s",
        when(lag($"ts", 1).over(w).isNull ||
          unix_millis($"ts") - unix_millis(lag($"ts", 1).over(w)) >
            30L * 60 * 1000, 1).otherwise(0))
      .withColumn("sess", sum($"new_s").over(
        w.rowsBetween(Long.MinValue, 0)))
      .groupBy($"user_id", $"sess")
      .agg(unix_millis(min($"ts")).as("start_ms"),
        unix_millis(max($"ts")).as("end_ms"),
        count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("total_value"))
      .select($"user_id", $"start_ms", $"end_ms", $"n_events",
        $"total_value")
    assert(flushed.count() === batch.count()) // danglers included
    assert(flushed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(flushed).count() === 0)
  }

  test("built-in session_window agrees row-for-row with the custom " +
      "sessionizer (the operator implemented twice)") {
    // q53 uses session_window (splits on gap >= G); q95's
    // flatMapGroupsWithState keeps gap == G in-session (splits on > G).
    // On ms-quantized timestamps, session_window with G+1ms reproduces
    // the strict-> boundary exactly, so after dropping each user's
    // dangling last session both ENGINE paths must emit identical rows —
    // closing the loop q53-vs-DuckDB and q95-vs-DuckDB leave open.
    val s = spark
    import s.implicits._
    val streamed = graft.streaming.EventStream
      .runSessionize(spark, sf, gapMinutes = 30,
        queryName = "spec_sessions_sw")
      .select($"user_id", unix_millis($"session_start").as("start_ms"),
        unix_millis($"session_end").as("end_ms"), $"n_events",
        round($"total_value", 2).as("total_value"))
    val sw = Tables.events(spark, sf)
      .groupBy(session_window($"ts", "1800001 milliseconds"), $"user_id")
      .agg(unix_millis(min($"ts")).as("start_ms"),
        unix_millis(max($"ts")).as("end_ms"),
        count(lit(1)).as("n_events"),
        round(sum($"value"), 2).as("total_value"))
      .withColumn("last_start",
        max($"start_ms").over(org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id")))
      .filter($"start_ms" < $"last_start")
      .select($"user_id", $"start_ms", $"end_ms", $"n_events",
        $"total_value")
    assert(streamed.count() > 0)
    assert(streamed.count() === sw.count())
    assert(streamed.exceptAll(sw).count() === 0)
    assert(sw.exceptAll(streamed).count() === 0)
  }
}

class StreamingWindowsSpec extends GraftSuite {

  test("sliding-window stream equals the batch sliding aggregation") {
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("win_ms"),
        col("event_type"), col("n"))
    val streamed = graft.streaming.EventStream.runToCompletion(
      spark, sf, graft.streaming.EventStream.slidingCounts, "spec_sliding")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
  }

  test("append mode emits only watermark-finalized windows (subset of complete)") {
    val complete = graft.streaming.EventStream.runToCompletion(
      spark, sf, graft.streaming.EventStream.hourlyCounts, "spec_c2")
    val appended = graft.streaming.EventStream.runAppend(
      spark, sf, graft.streaming.EventStream.hourlyCounts, "spec_a2")
    // finalized rows are a subset of the complete result, identical values
    assert(appended.count() <= complete.count())
    assert(appended.exceptAll(complete).count() === 0)
    // with a 2h watermark over a 30-day event span, most windows finalize
    assert(appended.count() > complete.count() / 2)
  }
}

class AsOfForwardSpec extends GraftSuite {

  test("forward as-of picks the earliest right row at or after left ts") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq((1L, "u1", ts(100)), (2L, "u1", ts(50)), (3L, "u2", ts(90)))
      .toDF("id", "user", "t")
    val right = Seq(("u1", ts(100), 99.0), ("u1", ts(60), 60.0),
      ("u2", ts(20), 1.0)).toDF("user", "t", "v")
    val out = graft.operators.AsOfJoin
      .forward(left, right, Seq("user"), "t", "t", Seq("v"))
      .select($"id", $"v_asof").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) === Some(99.0)) // equal ts matches (>=)
    assert(out(2L) === Some(60.0)) // earliest at/after 50
    assert(out(3L) === None)       // nothing at/after t=90 for u2
  }
}

/** Adversarial-occupancy gates for the LSH bucket cap (VERDICT r2 #1):
  * a clone-heavy corpus (500 identical docs) must NOT make candidate
  * generation quadratic, while planted near-dups stay found and the clone
  * family stays fully grouped via the star representative + connected
  * components. */
class BucketCapSpec extends GraftSuite {

  private def cloneCorpus(n: Int): Seq[(Long, String)] = {
    val boilerplate = (1 to 30).map(i => s"b$i").mkString(" ")
    (1 to n).map(i => (i.toLong, boilerplate))
  }

  private val base = (1 to 40).map(i => s"w$i").mkString(" ")
  private val nearDup =
    (1 to 40).map(i => if (i == 7) "CHANGED" else s"w$i").mkString(" ")

  test("minhash cap: clone bucket stays linear, planted pair + family kept") {
    val s = spark
    import s.implicits._
    val d = (cloneCorpus(500) ++ Seq((1000L, base), (1001L, nearDup)))
      .toDF("doc_id", "text")
    val idx = Dedup.minhashIndex(d, "doc_id", "text", 32, 3)
    val uncapped = Dedup.lshCandidates(idx, 8, 32, maxBucket = 0).count()
    val capped = Dedup.lshCandidates(idx, 8, 32, maxBucket = 50).count()
    assert(uncapped >= 500L * 499 / 2) // the quadratic blowup is real
    assert(capped <= 499 + 10,         // star around the rep + planted pair
      s"capped candidates not linear: $capped")
    val pairs = Dedup.minhashNearDups(d, "doc_id", "text",
      threshold = 0.5, maxBucket = 50)
    val ps = pairs.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ps.contains((1000L, 1001L))) // planted near-dup still found
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1 to 500).foreach(i => assert(comps(i.toLong) === 1L,
      s"clone $i not grouped with the family"))
  }

  test("simhash cap: clone bucket stays linear, planted pair kept") {
    val s = spark
    import s.implicits._
    val longBase = (1 to 60).map(i => s"w$i")
    val d = (cloneCorpus(500) ++ Seq(
      (1000L, longBase.mkString(" ")),
      (1001L, longBase.updated(5, "CHANGED").mkString(" "))))
      .toDF("doc_id", "text")
    val uncapped = Dedup.simhashNearDups(d, "doc_id", "text",
      maxHamming = 6, maxBucket = 0).count()
    val capped = Dedup.simhashNearDups(d, "doc_id", "text",
      maxHamming = 6, maxBucket = 50)
    assert(uncapped >= 500L * 499 / 2)
    assert(capped.count() <= 499 + 10)
    val ps = capped.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ps.contains((1000L, 1001L)))
    (2 to 500).foreach(i => assert(ps.contains((1L, i.toLong)),
      s"clone $i lost its star edge"))
  }

  test("incremental cap: hot corpus bucket costs one candidate per new doc") {
    val s = spark
    import s.implicits._
    val corpus = cloneCorpus(500).toDF("doc_id", "text")
    val boilerplate = (1 to 30).map(i => s"b$i").mkString(" ")
    val newBatch = Seq((9000L, boilerplate), (9001L, base))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupsAgainst(corpus, newBatch,
      "doc_id", "text", threshold = 0.5, maxBucket = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // only the representative partners the new clone; the unrelated new
    // doc pairs with nothing
    assert(pairs.toSeq === Seq((9000L, 1L)))
  }
}

/** Linear-growth gate for the MinHash stack ([[DedupScaleCounts]]):
  * at fixed dup rate, candidate pairs and found dup pairs must grow
  * ~linearly with corpus size — the 100 TB survival property (the
  * all-pairs baseline grows quadratically). */
class DedupScaleSpec extends GraftSuite {

  test("candidates and dup pairs grow linearly in corpus replication") {
    val docs = Tables.documents(spark, sf)
    val (c1, d1) = DedupScaleCounts.counts(docs, 1)
    val (c4, d4) = DedupScaleCounts.counts(docs, 4)
    assert(d1 > 0, "no planted dups found at base size")
    // dup structure replicates exactly: disjoint shingle spaces mean no
    // cross-replica pairs, so dups scale by exactly m
    assert(d4 === 4 * d1)
    // candidates scale ~linearly (replica buckets are disjoint; allow
    // slack for incidental band collisions across replicas)
    assert(c4 <= 4 * c1 + math.max(20L, c1 / 2),
      s"candidate growth superlinear: x1=$c1 x4=$c4")
  }

  test("block-dup instances replicate EXACTLY m× — no cross-corpus term") {
    val docs = Tables.documents(spark, sf)
    val (b1, d1) = DedupScaleCounts.blockCounts(docs, 1)
    val (b3, d3) = DedupScaleCounts.blockCounts(docs, 3)
    assert(d1 > 0, "no duplicated blocks planted at base size")
    assert(b3 === 3 * b1)
    assert(d3 === 3 * d1)
  }

  test("duplicated spans replicate EXACTLY m× — no cross-corpus term") {
    val docs = Tables.documents(spark, sf)
    val s1 = DedupScaleCounts.spanCounts(docs, 1)
    val s3 = DedupScaleCounts.spanCounts(docs, 3)
    assert(s1 > 0, "no duplicated spans found at base size")
    assert(s3 === 3 * s1)
  }

  test("streaming near-dup screen equals the direct batch screen and " +
      "leaks nothing across replicas at x2") {
    val docs = Tables.documents(spark, sf)
    val (streamed, direct, cross) =
      DedupScaleCounts.streamScreenCounts(spark, docs, 2)
    assert(streamed > 0, "no matches found at x2 — fixture broken")
    assert(streamed === direct,
      s"stream != batch through the checkpoint: $streamed vs $direct")
    assert(cross === 0L, s"cross-replica matches leaked: $cross")
  }

  test("SimHash pairs are EXACTLY additive across replicas — zero " +
      "cross-corpus term") {
    // per-replica counts legitimately differ (hamming distance depends
    // on token hash values, not just overlap), so the gated invariant
    // is additivity: the union's pairs are exactly the sum of each
    // replica's own — the banded join adds no cross-corpus pair
    val docs = Tables.documents(spark, sf)
    val (total, per) = DedupScaleCounts.simhashCounts(docs, 3)
    assert(per.forall(_ > 0), s"a replica found no pairs: $per")
    assert(total === per.sum,
      s"cross-replica pairs leaked: $total != sum of $per")
  }

  test("phrase-screen hits are EXACTLY additive and content-pure " +
      "across clones") {
    val docs = Tables.documents(spark, sf)
    val (h1, m1) = DedupScaleCounts.screenCounts(docs, 1)
    val (h3, m3) = DedupScaleCounts.screenCounts(docs, 3)
    assert(h1 > 0, "no screening hits at base size")
    assert(h3 === 3 * h1, s"hits not additive: x1=$h1 x3=$h3")
    // one distinct hit string across all clones of every base doc —
    // the scan is content-pure, no corpus-level state leaks in
    assert(m1 === 1L && m3 === 1L)
  }

  test("DSIR weights are content-pure: every clone bit-equal to its " +
      "base doc, at 1× and 3× replication") {
    val docs = Tables.documents(spark, sf)
    val (r1, m1) = DedupScaleCounts.dsirCounts(docs, 1)
    val (r3, m3) = DedupScaleCounts.dsirCounts(docs, 3)
    assert(r1 > 0 && r3 === 3 * r1)
    // the model shifts with the corpus, but a doc's weight under a
    // given model may depend on its TEXT only — one distinct weight
    // across all clones of every base doc
    assert(m1 === 1L, s"base corpus: $m1 distinct weights for one doc")
    assert(m3 === 1L, s"3x corpus: $m3 distinct weights for one doc")
  }

  test("quality-classifier scores are content-pure across clones; " +
      "training stays bounded") {
    val docs = Tables.documents(spark, sf)
    val (r1, m1) = DedupScaleCounts.qcCounts(docs, 1)
    val (r3, m3) = DedupScaleCounts.qcCounts(docs, 3)
    assert(r1 > 0 && r3 === 3 * r1)
    assert(m1 === 1L, s"base corpus: $m1 distinct scores for one doc")
    assert(m3 === 1L, s"3x corpus: $m3 distinct scores for one doc")
  }

  test("image and audio near-dup pairs are EXACTLY additive across " +
      "id-space replicas — zero cross-corpus term") {
    // per-replica twin counts shift with the stride offset (the mod-40
    // pattern), so the gated invariant is additivity, like --simhash:
    // decorrelated fmix64 signatures mean the banded Hamming join must
    // add no cross-replica pair
    val docs = Tables.documents(spark, sf)
    val (iT, iP, aT, aP) = DedupScaleCounts.mmCounts(docs, 2)
    assert(iP.forall(_ > 0), s"a replica planted no image pairs: $iP")
    assert(aP.forall(_ > 0), s"a replica planted no audio pairs: $aP")
    assert(iT === iP.sum, s"image cross-replica leak: $iT != sum $iP")
    assert(aT === aP.sum, s"audio cross-replica leak: $aT != sum $aP")
  }

  test("SemDedup recovers every planted clone at 1× and 4× replication") {
    // per-replica orthogonal transforms keep within-replica cosines
    // exact, cluster count scales with the corpus (16·m) — so planted
    // exact clones must ALL be found at any m, and total pair growth
    // must stay ~linear (the Σ|cluster|² claim, measured rather than
    // asserted from the plan shape)
    val emb = Tables.embeddings(spark, sf)
    val (p1, t1, n1) = DedupScaleCounts.semCounts(emb, 1)
    val (p4, t4, n4) = DedupScaleCounts.semCounts(emb, 4)
    assert(n1 > 0, "no clones planted at base size")
    assert(p1 === n1, s"base recall: found $p1 of $n1 planted pairs")
    assert(n4 === 4 * n1)
    assert(p4 === n4, s"4x recall: found $p4 of $n4 planted pairs")
    // natural + planted pair total grows ~linearly, never quadratically
    assert(t4 <= 4 * t1 + math.max(20L, t1 / 2),
      s"pair growth superlinear: x1=$t1 x4=$t4")
  }
}

class IncrementalDedupSpec extends GraftSuite {

  test("new batch is deduped against the corpus without self-pairs") {
    val s = spark
    import s.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, base),
      (2L, (100 to 140).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "text")
    val nearDup = (1 to 40).map(i => if (i == 3) "X" else s"w$i").mkString(" ")
    val newBatch = Seq((100L, nearDup),
      (101L, (200 to 240).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .minhashNearDupsAgainst(corpus, newBatch, "doc_id", "text",
        numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((100L, 1L))) // only the cross near-dup
  }

  test("persisted index: ingest dedups against parquet, corpus never re-read") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter($"doc_id" < 80)
    val newBatch = docs.filter($"doc_id" >= 80)
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    val path = s"$dir/minhash_index"
    // index built once and persisted in two appended slices (append-only
    // growth contract)
    graft.operators.Dedup.writeIndex(
      corpus.filter($"doc_id" < 40), "doc_id", "text", path)
    graft.operators.Dedup.writeIndex(
      corpus.filter($"doc_id" >= 40), "doc_id", "text", path)
    val idx = graft.operators.Dedup.readIndex(spark, path)
    assert(idx.count() === corpus.count())
    val viaIndex = graft.operators.Dedup
      .minhashNearDupsAgainstIndex(idx, newBatch, "doc_id", "text",
        threshold = 0.5)
      .select($"new_id", $"corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = graft.operators.Dedup
      .minhashNearDupsAgainst(corpus, newBatch, "doc_id", "text",
        threshold = 0.5)
      .select($"new_id", $"corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex === direct)
    assert(viaIndex.nonEmpty)
  }

  test("incremental result agrees with batch LSH on the union") {
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter($"doc_id" < 80)
    val newBatch = docs.filter($"doc_id" >= 80)
    val incremental = graft.operators.Dedup
      .minhashNearDupsAgainst(corpus, newBatch, "doc_id", "text",
        threshold = 0.5)
      .select($"new_id", $"corpus_id").collect()
      .map(r => (r.getLong(1), r.getLong(0))).toSet
    val batch = graft.operators.Dedup
      .minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => a < 80 && b >= 80 }.toSet
    assert(incremental === batch)
  }
}

class SamplingSpec extends GraftSuite {

  test("stratified sample respects per-stratum fractions (loosely)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val sampled = graft.operators.Sampling.stratified(docs, "lang",
      Map("en" -> 0.5, "de" -> 1.0, "es" -> 0.0, "fr" -> 0.0, "zh" -> 0.0),
      seed = 7L)
    val counts = sampled.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enTotal = docs.filter(col("lang") === "en").count()
    val deTotal = docs.filter(col("lang") === "de").count()
    assert(counts.getOrElse("de", 0L) === deTotal)       // fraction 1.0
    assert(!counts.contains("es") && !counts.contains("zh"))
    val enFrac = counts.getOrElse("en", 0L).toDouble / enTotal
    assert(enFrac > 0.3 && enFrac < 0.7, s"en fraction $enFrac")
  }

  test("capPerGroup keeps at most n per group, deterministically") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val capped = graft.operators.Sampling
      .capPerGroup(docs, "lang", "doc_id", 10)
    val sizes = capped.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.values.forall(_ <= 10))
    assert(sizes.values.exists(_ === 10L)) // big groups hit the cap
    // deterministic: the kept set is the n smallest ids per group
    val again = graft.operators.Sampling
      .capPerGroup(docs.repartition(13), "lang", "doc_id", 10)
    assert(capped.select("doc_id").exceptAll(again.select("doc_id"))
      .count() === 0)
  }

  test("shardManifest: stable across identical writes, moves with seed") {
    val S = graft.operators.Sampling
    val docs = Tables.documents(spark, sf)
    val d1 = java.nio.file.Files.createTempDirectory("graft_sh1").toString
    val d2 = java.nio.file.Files.createTempDirectory("graft_sh2").toString
    val d3 = java.nio.file.Files.createTempDirectory("graft_sh3").toString
    S.writeShuffledShards(docs, "doc_id", d1, seed = 7L, rowsPerShard = 20)
    S.writeShuffledShards(docs, "doc_id", d2, seed = 7L, rowsPerShard = 20)
    S.writeShuffledShards(docs, "doc_id", d3, seed = 8L, rowsPerShard = 20)
    def m(d: String): Seq[(String, Long, Long)] =
      S.shardManifest(spark, d, "doc_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
    val (m1, m2, m3) = (m(d1), m(d2), m(d3))
    // identical write → identical manifest (reproducible artifact)
    assert(m1 === m2)
    assert(m1.map(_._2).sum === docs.count())
    assert(m1.size > 1)
    // different seed → different shard contents, manifest catches it
    assert(m1 !== m3)
  }

  test("temperatureWeights: T=1 natural, T→∞ flattens, composes with " +
      "mixtureRates") {
    val S = graft.operators.Sampling
    val counts = Map("web" -> 800L, "code" -> 150L, "papers" -> 50L)
    val nat = S.temperatureWeights(counts, 1.0)
    assert(math.abs(nat("web") - 0.8) < 1e-12)
    assert(math.abs(nat.values.sum - 1.0) < 1e-12)
    val flat = S.temperatureWeights(counts, 1000.0)
    assert(flat.values.forall(w => math.abs(w - 1.0 / 3) < 0.01))
    val sharp = S.temperatureWeights(counts, 0.5)
    assert(sharp("web") > nat("web")) // T<1 sharpens toward the biggest
    // composition: flattened weights force down-sampling of the big
    // source; every rate stays realizable (<= 1)
    val rates = S.mixtureRates(counts, flat)
    assert(rates.values.forall(r => r > 0 && r <= 1.0))
    assert(rates("papers") === 1.0) // smallest source binds, kept whole
    intercept[IllegalArgumentException] {
      S.temperatureWeights(Map("x" -> 0L), 1.0)
    }
  }

  test("hash split: disjoint, exhaustive, partitioning-invariant") {
    val docs = Tables.documents(spark, sf)
    val (tr, va) = graft.operators.Sampling.splitByHash(docs, "doc_id",
      0.8, seed = 42L)
    assert(tr.count() + va.count() === docs.count())
    assert(tr.join(va, Seq("doc_id"), "inner").count() === 0)
    val (tr2, _) = graft.operators.Sampling.splitByHash(
      docs.repartition(13), "doc_id", 0.8, seed = 42L)
    assert(tr.select("doc_id").exceptAll(tr2.select("doc_id")).count() === 0)
  }

  test("sha split: same invariants as splitByHash + near-fraction") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val (tr, va) = graft.operators.Sampling.splitBySha(docs, "doc_id",
      0.8, seed = 42L)
    val (nt, nv) = (tr.count(), va.count())
    assert(nt + nv === n)
    assert(tr.join(va, Seq("doc_id"), "inner").count() === 0)
    // membership is a pure function of (id, seed): partitioning-invariant
    val (tr2, _) = graft.operators.Sampling.splitBySha(
      docs.repartition(13), "doc_id", 0.8, seed = 42L)
    assert(tr.select("doc_id").exceptAll(tr2.select("doc_id")).count() === 0)
    // sha256 buckets are uniform: train mass within 5pp of the fraction
    assert(math.abs(nt.toDouble / n - 0.8) < 0.05)
    // different seed = different split (not degenerate)
    val (tr3, _) = graft.operators.Sampling.splitBySha(docs, "doc_id",
      0.8, seed = 43L)
    assert(tr.select("doc_id").exceptAll(tr3.select("doc_id")).count() > 0)
  }

  test("sha split: near-1 fraction clamps to 0xffff instead of inverting") {
    // 0.9999995 rounds to 1.0 at 6 dp; unclamped it formatted as the
    // 5-char "10000", which the 4-char bucket string compare routed
    // ~94% of rows AWAY from the train side. Clamped, the cut is
    // "ffff": train keeps everything except the top 1/65536 bucket.
    assert(graft.operators.Sampling.shaCut(0.9999995) === "ffff")
    assert(graft.operators.Sampling.shaCut(1.0 - 1e-9) === "ffff")
    assert(graft.operators.Sampling.shaCut(0.8)
      === f"${(0.8 * 65536).toLong}%04x")
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val (tr, va) = graft.operators.Sampling.splitBySha(docs, "doc_id",
      0.9999995, seed = 42L)
    val nt = tr.count()
    assert(nt + va.count() === n)
    assert(nt.toDouble / n > 0.999, s"train kept only $nt of $n")
  }
}

class TopKAggPathSpec extends GraftSuite {
  test("aggregator top-k equals the window top-k exactly") {
    val s = spark
    import s.implicits._
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val c = e.select($"vec_id", $"embedding".as("cv"))
    val win = graft.operators.Similarity.bruteForceTopK(
      q, c, "query_id", "qv", "vec_id", "cv", 7)
      .select($"query_id", $"vec_id", $"rk")
    val agg = graft.operators.Similarity.bruteForceTopKAgg(
      q, c, "query_id", "qv", "vec_id", "cv", 7)
      .select($"query_id", $"vec_id", $"rk")
    assert(win.exceptAll(agg).count() === 0)
    assert(agg.exceptAll(win).count() === 0)
  }
}

class ConnectedComponentsSpec extends GraftSuite {
  test("transitive duplicate chains collapse into one component") {
    val s = spark
    import s.implicits._
    // chain 1-2, 2-3 plus isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) === 1L && comps(2L) === 1L && comps(3L) === 1L)
    assert(comps(10L) === 10L && comps(11L) === 10L)
  }

  test("components: the distributed min-label path matches the local " +
      "union-find, and a repeated call serves fresh state") {
    val s = spark
    import s.implicits._
    // localEdgeLimit=0 forces the distributed path on a graph small
    // enough to check by hand: a 5-chain, a triangle, an isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (20L, 21L), (21L, 22L), (22L, 20L), (30L, 31L))
      .toDF("id_a", "id_b")
    def run(): Map[Long, Long] =
      graft.operators.Dedup.connectedComponents(pairs, localEdgeLimit = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L)
    assert(run() === want)
    // second call on the same input: the stale-entry eviction must hand
    // back a correct, freshly-owned frame (the pageRank bug class)
    assert(run() === want)
    assert(graft.operators.Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === want) // local path agrees
  }

  test("components over the corpus near-dup pairs are canonical-min") {
    val pairs = graft.operators.Dedup.minhashNearDups(
      Tables.documents(spark, "/root/testdata/sf0.01"), "doc_id", "text",
      threshold = 0.5)
    val comps = graft.operators.Dedup.connectedComponents(pairs)
    val s = spark
    import s.implicits._
    // every component label is <= every member id
    assert(comps.filter($"component" > $"id").count() === 0)
    assert(comps.count() > 0)
  }
}

class StreamingDedupSpec extends GraftSuite {

  test("streaming dropDuplicates emits each event_id once") {
    // duplicate the source rows, then dedupe on the stream
    val dedup = graft.streaming.EventStream.runToCompletion(
      spark, sf,
      df => df.select(col("event_id"), col("event_type"))
        .union(df.select(col("event_id"), col("event_type")))
        .dropDuplicates("event_id")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      "spec_sdedup")
    val batch = Tables.events(spark, sf)
      .groupBy(col("event_type")).agg(countDistinct(col("event_id")).as("n"))
    assert(dedup.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(dedup).count() === 0)
  }

  test("dropDuplicatesWithinWatermark: redeliveries inside the bound " +
      "are dropped, state is evicted past it") {
    // the production swap runExactlyOnce's scaladoc promises for
    // unbounded streams: dedup state holds an id only until the
    // watermark passes its event time + delay, so state stays finite.
    // Pinned both ways: a redelivery INSIDE the bound is dropped, and
    // the same id arriving after its state was evicted emits AGAIN —
    // the bounded-state trade made explicit.
    import graft.streaming.EventStream.Event
    val s = spark
    import s.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Event](implicitly[org.apache.spark.sql.Encoder[Event]],
        spark)
    def ev(id: Long, minute: Int): Event =
      Event(id, new java.sql.Timestamp(3600000L + minute * 60000L),
        1L, "click", 1.0)
    val q = mem.toDS()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("spec_wm_dedup").start()
    try {
      mem.addData(ev(1, 0), ev(2, 0)); q.processAllAvailable()
      // redelivery of id 1 five minutes later — inside the bound
      mem.addData(ev(1, 5), ev(3, 5)); q.processAllAvailable()
      // minute 60 advances the watermark to 50: id 1's state
      // (expires at 0 + 10) is evicted at this batch's end
      mem.addData(ev(100, 60)); q.processAllAvailable()
      // same id, fresh event time past the bound: emits again
      mem.addData(ev(1, 60)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("spec_wm_dedup").groupBy($"event_id")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 100L -> 1L))
  }
}

class PhraseScreenSpec extends GraftSuite {
  import graft.operators.PhraseScreen

  test("automaton equals naive contains on overlapping phrase sets") {
    // nested + overlapping patterns: the fail-link closure cases
    val phrases = IndexedSeq("aba", "ab", "b", "baba", "cab")
    val auto = new PhraseScreen.Automaton(phrases)
    val rnd = new scala.util.Random(169)
    (1 to 200).foreach { _ =>
      val text = (1 to rnd.nextInt(30))
        .map(_ => "abc" (rnd.nextInt(3))).mkString
      val want = phrases.zipWithIndex
        .collect { case (p, i) if text.contains(p) => i }.toSet
      assert(auto.matches(text) === want, s"text=$text")
    }
  }

  test("suffix outputs surface through fail links mid-scan") {
    // matching "xabay": at 'a' the node for "aba" must also emit "b"'s
    // suffix output and "ab" ended earlier — all three, no rescans
    val auto = new PhraseScreen.Automaton(IndexedSeq("aba", "ab", "b"))
    assert(auto.matches("xabay") === Set(0, 1, 2))
    assert(auto.matches("xx") === Set.empty)
    assert(auto.matches(null) === Set.empty)
  }

  test("screen: sorted hits, empty array for clean docs, long n_hits") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "clean text"),
      (3L, "brown quick brown")).toDF("doc_id", "text")
    val got = PhraseScreen.screen(docs, "doc_id", "text",
        Seq("quick", "brown", "missing phrase"))
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2)))
    assert(got(0) === ((1L, Seq("brown", "quick"), 2L)))
    assert(got(1) === ((2L, Seq(), 0L)))
    assert(got(2) === ((3L, Seq("brown", "quick"), 2L)))
  }

  test("degenerate phrase lists are rejected at build time") {
    intercept[IllegalArgumentException] {
      new PhraseScreen.Automaton(IndexedSeq.empty)
    }
    intercept[IllegalArgumentException] {
      new PhraseScreen.Automaton(IndexedSeq("a", ""))
    }
    intercept[IllegalArgumentException] {
      new PhraseScreen.Automaton(IndexedSeq("dup", "dup"))
    }
  }

  test("loadPhrases: trims, drops blanks, dedupes whitespace variants " +
      "— an Automaton builds from any file") {
    val f = java.io.File.createTempFile("phrases", ".txt")
    f.deleteOnExit()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print("quick\n  brown \n\nquick\nbrown\n   \nfox\n")
    finally w.close()
    val phrases = PhraseScreen.loadPhrases(f.getPath)
    assert(phrases === Seq("quick", "brown", "fox"))
    // the point of the dedupe: this must NOT trip the duplicate require
    val auto = new PhraseScreen.Automaton(phrases.toIndexedSeq)
    assert(auto.matches("a quick fox") === Set(0, 2))
  }
}

class CompressionSpec extends GraftSuite {
  import graft.operators.Compression

  test("ratio separates repetition from prose from noise, and is " +
      "replay-stable") {
    val looped = "spam and eggs " * 200
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders into a field of wheat looking for something new to chase"
    val rnd = new scala.util.Random(171)
    val noise = (1 to 2000).map(_ => rnd.nextPrintableChar()).mkString
    val (rl, rp, rn) = (Compression.ratio(looped),
      Compression.ratio(prose), Compression.ratio(noise))
    assert(rl < 0.05, s"looped text should collapse: $rl")
    assert(rp > rl && rp < rn, s"prose between: $rl < $rp < $rn")
    assert(rn > 0.8, s"noise should refuse to compress: $rn")
    assert(Compression.ratio(looped) === rl) // pure function, replayable
    assert(Compression.ratio("") === 1.0)
    assert(Compression.ratio(null) === 1.0)
  }

  test("profile: band gate, byte counts, deterministic at any " +
      "partitioning") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "na " * 500),             // degenerate repetition -> drop
      (2L, "a perfectly ordinary sentence about data pipelines " * 3),
      (3L, "")).toDF("doc_id", "text")
    def run(parts: Int) = Compression.profile(
        docs.repartition(parts), "doc_id", "text")
      .orderBy($"doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSeq
    val got = run(2)
    assert(got === run(5))
    assert(got(0)._4 === false && got(0)._3 < 0.25) // repetition dropped
    assert(got(1)._4 === true)
    assert(got(2)._3 === 1.0 && got(2)._2 === 0L)   // empty: no evidence
    assert(got(2)._4 === false)                     // 1.0 > hi -> out of band
  }
}

class KeepBestSpec extends GraftSuite {
  test("keepBest keeps the argmax-score member per family, min-id ties") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a", 50L), (2L, "b", 90L), (3L, "c", 90L), // family {1,2,3}
      (10L, "d", 10L), (11L, "e", 5L),                // family {10,11}
      (42L, "f", 1L))                                 // no family
      .toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = graft.operators.Dedup
      .keepBest(docs, "doc_id", pairs, "n_chars")
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // family one: 2 and 3 tie at 90 -> min id 2; family two: 10 wins;
    // 42 passes through untouched
    assert(kept === Seq(2L, 10L, 42L))
  }

  test("keepBest with a constant score degenerates to keepCanonical") {
    val s = spark
    import s.implicits._
    val docs = (1L to 8L).map(i => (i, s"t$i", 7L))
      .toDF("doc_id", "text", "n_chars")
    val pairs = Seq((1L, 2L), (5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val best = graft.operators.Dedup
      .keepBest(docs, "doc_id", pairs, "n_chars")
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val canon = graft.operators.Dedup
      .keepCanonical(docs, "doc_id", pairs)
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(best === canon)
  }
}

class RetrievalSpec extends GraftSuite {
  import spark.implicits._
  import graft.operators.Retrieval

  test("rrfFuse matches the hand-computed RRF on a tiny case, " +
      "missing legs contribute zero") {
    val lex = Seq((10L, 1), (20L, 2)).toDF("doc_id", "rk")
    val sem = Seq((20L, 1), (30L, 2)).toDF("doc_id", "rk")
    val got = Retrieval.rrfFuse(lex, sem, k = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    // B(20) in both legs wins; A(10) lex-only beats C(30) sem-only
    // (rank 1 vs rank 2)
    assert(got.map(_._1).toSeq === Seq(20L, 10L, 30L))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got(0)._2 === r6(1.0 / 61 + 1.0 / 62))
    assert(got(1)._2 === r6(1.0 / 61))
    assert(got(2)._2 === r6(1.0 / 62))
  }

  test("hybridTopK excludes the query doc from the semantic leg and " +
      "returns exactly k fused rows") {
    val got = Retrieval.hybridTopK(
      Tables.documents(spark, sf), Tables.embeddings(spark, sf),
      queryTerms = Seq("customer", "vector"), queryVecId = 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(got.length === 10)
    assert(got.map(_._3).toSeq === (1 to 10))
    // doc 0 can reach the list through the LEXICAL leg only — if
    // present its rrf must be a pure single-leg value (< 1/60 once),
    // never carrying a semantic rank-1 self-match (which would give
    // it 1/61 + lex and near-certain first place)
    got.find(_._1 == 0L).foreach { case (_, rrf, _) =>
      assert(rrf <= 1.0 / 61 + 1e-9, s"doc 0 scored both legs: $rrf")
    }
  }

  test("rerankTopK keeps exactly the hybrid candidate set, scores " +
      "every pair by the stored-embedding dot, and re-orders by it") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val terms = Seq("customer", "vector", "window", "merge")
    val cands = Retrieval.hybridTopK(docs, emb, terms, 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    val got = Retrieval.rerankTopK(docs, emb, terms, 0L, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2),
        r.getDouble(3), r.getInt(4)))
    // same candidate set, stage-1 ranks carried through verbatim
    assert(got.map(_._1).toSet === cands.keySet)
    got.foreach { case (id, _, rrfRk, _, _) =>
      assert(rrfRk === cands(id), s"stage-1 rank drifted for doc $id")
    }
    // stage-2 order: rerank_score DESC with doc_id tie-break
    assert(got.map(_._5).toSeq === (1 to 10))
    val resorted = got.sortBy(t => (-t._4, t._1)).map(_._1).toSeq
    assert(got.map(_._1).toSeq === resorted)
    // every score equals the dot of the stored vectors, recomputed
    // locally at the same 6-dp pin
    val vecs = emb.select($"vec_id".cast("long"),
        graft.operators.Similarity.asDouble($"embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val qv = vecs(0L)
    got.foreach { case (id, _, _, score, _) =>
      val dot = vecs(id).zip(qv).map { case (a, b) => a * b }
        .foldLeft(0.0)(_ + _)
      assert(math.abs(score - math.rint(dot * 1e6) / 1e6) < 1e-9,
        s"doc $id: $score vs local dot $dot")
    }
  }
}

class DecontaminateSpec extends GraftSuite {
  import spark.implicits._
  import graft.operators.Decontaminate

  test("flags exactly the docs sharing a w-gram, with exact evidence " +
      "counts; short docs emit no grams") {
    val evalSet = Seq(
      (1000L, "alpha beta gamma delta epsilon"),
      (2000L, "one two three four")).toDF("doc_id", "text")
    val train = Seq(
      // shares "alpha beta gamma delta" AND "beta gamma delta epsilon"
      (1L, "x alpha beta gamma delta epsilon y"),
      // shares one gram with EACH eval doc
      (2L, "one two three four alpha beta gamma delta"),
      (3L, "nothing in common with anything here"),
      (4L, "too short")).toDF("doc_id", "text")
    val got = Decontaminate.overlapReport(train, evalSet,
        "doc_id", "text", w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 2L, 1L), (2L, 2L, 2L)))
  }

  test("gram stream is content-pure and deduplicated per doc") {
    // a doc repeating the same 4-gram contributes it ONCE
    val evalSet = Seq((9L, "a b c d")).toDF("doc_id", "text")
    val train = Seq((1L, "a b c d a b c d")).toDF("doc_id", "text")
    val got = Decontaminate.overlapReport(train, evalSet,
        "doc_id", "text", w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 1L, 1L)))
  }
}

class ScalarQuantSpec extends GraftSuite {
  import spark.implicits._
  import graft.operators.ScalarQuant

  test("codes are within the per-dim quantization error bound; " +
      "constant dims decode exactly; partition-invariant") {
    val e = Tables.embeddings(spark, sf)
    val (mns, mxs) = ScalarQuant.bounds(e, "vec_id", "embedding")
    assert(mns.length === 64 && mxs.length === 64)
    // worst-case squared error per dim is (step/2)^2 at the cell edge
    val bound = mns.zip(mxs)
      .map { case (mn, mx) => math.pow((mx - mn) / 255.0 / 2, 2) }.sum
    val got = ScalarQuant.quantizeReport(e, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === e.count())
    got.foreach { case (id, _, err) =>
      assert(err >= 0 && err <= bound + 1e-9,
        s"vec $id recon_err $err above bound $bound")
    }
    // determinism at another partitioning
    val again = ScalarQuant.quantizeReport(e.repartition(7),
        "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq === again.toSeq)
  }

  test("a constant dimension codes to 0 and contributes zero error") {
    val df = Seq(
      (1L, Array(5.0f, 1.0f)),
      (2L, Array(5.0f, 3.0f))).toDF("vec_id", "embedding")
    val got = ScalarQuant.quantizeReport(df, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // dim 1 constant -> code 0 both rows; dim 2 codes 0 and 255
    assert(got.toSeq === Seq((1L, 0L, 0.0), (2L, 255L, 0.0)))
  }
}

class PiiRedactSpec extends GraftSuite {
  import spark.implicits._
  import graft.operators.PiiRedact

  test("detects and redacts each PII class with exact counts; clean " +
      "text passes through untouched") {
    val docs = Seq(
      (1L, "mail a.user@corp.example.org or b_x%2@my-host.io today"),
      (2L, "server 192.168.0.1 then 10.0.200.25 replied"),
      (3L, "call 555-867-5309 re 555-123-4567"),
      (4L, "plain text with no identifiers at all"),
      (5L, "mixed x@y.zw from 8.8.8.8 call 111-222-3333"))
      .toDF("doc_id", "text")
    val got = PiiRedact.redact(docs, "doc_id", "text")
      .orderBy($"doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    assert(got(0) === ((1L, 2, 0, 0,
      "mail [EMAIL] or [EMAIL] today")))
    assert(got(1) === ((2L, 0, 2, 0,
      "server [IP] then [IP] replied")))
    assert(got(2) === ((3L, 0, 0, 2, "call [PHONE] re [PHONE]")))
    assert(got(3) === ((4L, 0, 0, 0,
      "plain text with no identifiers at all")))
    assert(got(4) === ((5L, 1, 1, 1, "mixed [EMAIL] from [IP] call [PHONE]")))
  }

  test("placeholder tokens never cascade into later patterns; " +
      "numeric-TLD addresses are IPs, not emails") {
    // x@10.0.0.1 is NOT an email under the conservative pattern (the
    // TLD must be alphabetic) — the embedded IP redacts instead; and
    // a replaced [EMAIL] token must never re-match the ip/phone pass
    val docs = Seq(
      (1L, "x@10.0.0.1 and 10.0.0.1"),
      (2L, "a@b.cd then 1.2.3.4 then 555-123-4567"))
      .toDF("doc_id", "text")
    val got = PiiRedact.redact(docs, "doc_id", "text")
      .orderBy($"doc_id").collect()
    assert(got(0).getString(4) === "x@[IP] and [IP]")
    assert(got(0).getInt(1) === 0) // not counted as an email either
    assert(got(1).getString(4) === "[EMAIL] then [IP] then [PHONE]")
  }

  test("mixed-case emails are detected (case-insensitive classes)") {
    val docs = Seq((1L, "reach John.Doe@Example.COM or ALL@CAPS.NET"))
      .toDF("doc_id", "text")
    val got = PiiRedact.redact(docs, "doc_id", "text")
      .collect().head
    assert(got.getInt(1) === 2)
    assert(got.getString(4) === "reach [EMAIL] or [EMAIL]")
  }

  test("audit counts agree with what was actually removed when an " +
      "earlier substitution exposes a later match") {
    // x@y.com192.168.0.1: no \b boundary before 192 in the ORIGINAL
    // (m→1 is word→word), but after [EMAIL] lands the ]→1 boundary
    // lets the IP pattern match — the count must see the same text
    // the replacement pass does, so n_ips = 1, not 0
    val docs = Seq((1L, "ping x@y.com192.168.0.1 now"))
      .toDF("doc_id", "text")
    val got = PiiRedact.redact(docs, "doc_id", "text")
      .collect().head
    assert(got.getInt(1) === 1)
    assert(got.getInt(2) === 1)
    assert(got.getString(4) === "ping [EMAIL][IP] now")
  }
}

class SemanticDeconSpec extends GraftSuite {
  import spark.implicits._
  import graft.operators.Decontaminate

  test("finds exactly the planted near-clones above tau, none below") {
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long").as("vec_id"),
        graft.operators.Similarity.asDouble($"embedding").as("embedding"))
    val evalSet = e.filter($"vec_id" < 5)
    val clone = evalSet.filter($"vec_id" === 2)
      .select(($"vec_id" + 5000L).as("vec_id"),
        zip_with($"embedding", sequence(lit(1), size($"embedding")),
          (x, i) => when(i === 1, x * 1.02).otherwise(x)).as("embedding"))
    val train = e.filter($"vec_id" >= 5).unionByName(clone)
    val got = Decontaminate.semanticOverlap(train, evalSet,
        "vec_id", "embedding", tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === 1)
    assert(got(0)._1 === 5002L && got(0)._2 === 2L)
    assert(got(0)._3 > 0.99)
  }
}

class ScreenStreamSpec extends GraftSuite {
  import spark.implicits._

  test("streaming screen equals the batch redaction and a restart " +
      "with the same checkpoint appends nothing") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_screenstream").toString
    val docs = Seq(
      (1L, "mail a@b.cd now"),
      (2L, "server 10.0.0.1 up"),
      (3L, "clean row")).toDF("doc_id", "text")
    docs.repartition(3).write.parquet(s"$root/src")
    graft.streaming.ScreenStream.runToCompletion(spark, s"$root/src",
      s"$root/out", s"$root/chk")
    val streamed = graft.streaming.ScreenStream.readOutput(spark, s"$root/out")
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    val batch = graft.operators.PiiRedact.redact(docs, "doc_id", "text")
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    // restart against the same checkpoint: backlog already consumed
    graft.streaming.ScreenStream.runToCompletion(spark, s"$root/src",
      s"$root/out", s"$root/chk")
    assert(graft.streaming.ScreenStream.readOutput(spark, s"$root/out")
      .count() === 3)
  }

  test("a replayed batch overwrites its own previous output instead " +
      "of duplicating it (foreachBatch is at-least-once)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_screenreplay").toString
    val docs = Seq(
      (1L, "mail a@b.cd now"),
      (2L, "server 10.0.0.1 up"),
      (3L, "clean row")).toDF("doc_id", "text")
    docs.repartition(3).write.parquet(s"$root/src")
    graft.streaming.ScreenStream.runToCompletion(spark, s"$root/src",
      s"$root/out", s"$root/chk")
    // simulate the crash-replay window: the checkpoint is lost but the
    // sink output survives — every batch re-runs against the same
    // files in the same deterministic order, and the batchId-keyed
    // overwrite must land each replay on top of its own output (a
    // blind append sink would double the corpus here)
    graft.streaming.ScreenStream.runToCompletion(spark, s"$root/src",
      s"$root/out", s"$root/chk2")
    val got = graft.streaming.ScreenStream.readOutput(spark, s"$root/out")
    assert(got.count() === 3)
    assert(got.select("doc_id").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
  }

  test("readOutput fails loudly on a directory mixing the legacy flat " +
      "append layout with batch_id partition dirs") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_screenmixed").toString
    val docs = Seq((1L, "mail a@b.cd now")).toDF("doc_id", "text")
    docs.write.parquet(s"$root/src")
    graft.streaming.ScreenStream.runToCompletion(spark, s"$root/src",
      s"$root/out", s"$root/chk")
    // simulate a pre-migration outDir: one flat part file beside the
    // batch_id= dirs (the old blind-append sink's layout)
    graft.operators.PiiRedact.redact(docs, "doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/flat")
    val flatPart = new java.io.File(s"$root/flat").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(flatPart.toPath,
      java.nio.file.Paths.get(s"$root/out/legacy-part.parquet"))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.ScreenStream.readOutput(spark, s"$root/out")
    }
    assert(e.getMessage.contains("batch_id"))
  }
}

class DeconStreamSpec extends GraftSuite {
  import spark.implicits._
  import graft.operators.Decontaminate

  test("streaming screen against the persisted index equals the batch " +
      "report and a restart with the same checkpoint appends nothing") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_deconstream").toString
    val evalSet = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "a b c d e and more"),   // two shared grams
      (2L, "keep a b c d tail"),    // one shared gram
      (3L, "totally clean document here"),
      (4L, "x y z a b c d e"))      // matches arrive in a later file
      .toDF("doc_id", "text")
    Decontaminate.writeEvalIndex(evalSet, "doc_id", "text",
      s"$root/idx", w = 4)
    train.repartition(3).write.parquet(s"$root/src")
    graft.streaming.DeconStream.runToCompletion(spark, s"$root/src",
      s"$root/idx", s"$root/out", s"$root/chk")
    val streamed = graft.streaming.DeconStream.readOutput(spark, s"$root/out")
      .orderBy($"doc_id").collect().map(_.toSeq).toSeq
    val batch = Decontaminate.overlapReport(train, evalSet,
        "doc_id", "text", w = 4)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch)
    assert(streamed.map(_.head) === Seq(1L, 2L, 4L))
    // restart against the same checkpoint: backlog already consumed,
    // nothing double-screened
    graft.streaming.DeconStream.runToCompletion(spark, s"$root/src",
      s"$root/idx", s"$root/out", s"$root/chk")
    assert(graft.streaming.DeconStream.readOutput(spark, s"$root/out")
      .count() === 3)
  }
}

class NearDupStreamSpec extends GraftSuite {
  import spark.implicits._
  import graft.operators.Dedup

  test("streaming LSH screen against the persisted replayable index " +
      "finds the planted cross-split clone, equals the direct screen, " +
      "and a restart appends nothing") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_ndstream").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      (1L, base),                              // clone source (indexed)
      (3L, "completely different words here by construction okay"),
      (5L, "yet another unrelated document body with many tokens"))
      .toDF("doc_id", "text")
    val arriving = Seq(
      (2L, base + " lambda"),                  // near-dup of doc 1
      (4L, "nothing in common with anything at all whatsoever truly"),
      (6L, "fresh clean content that matches no indexed document text"))
      .toDF("doc_id", "text")
    Dedup.writeReplayableIndex(corpus, "doc_id", "text", s"$root/idx")
    arriving.repartition(3).write.parquet(s"$root/src")
    graft.streaming.NearDupStream.runToCompletion(spark, s"$root/src",
      s"$root/idx", s"$root/out", s"$root/chk")
    val streamed = graft.streaming.NearDupStream
      .readOutput(spark, s"$root/out")
      .orderBy($"new_id", $"corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    // the direct (non-streaming) screen over the same index
    val direct = Dedup.minhashScreenReplayable(
        spark.read.parquet(s"$root/idx/bands"),
        spark.read.parquet(s"$root/idx/sh"),
        arriving, "doc_id", "text")
      .orderBy($"new_id", $"corpus_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq
    assert(streamed === direct)
    assert(streamed.map(t => (t._1, t._2)) === Seq((2L, 1L)))
    assert(streamed.head._3 > 0.5)
    // restart against the same checkpoint: backlog already consumed
    graft.streaming.NearDupStream.runToCompletion(spark, s"$root/src",
      s"$root/idx", s"$root/out", s"$root/chk")
    assert(graft.streaming.NearDupStream.readOutput(spark, s"$root/out")
      .count() === 1)
  }
}

class WatermarkLateSpec extends GraftSuite {
  import spark.implicits._
  import graft.streaming.EventStream

  test("late semantics pinned: a closed-window row arriving in the " +
      "batch that finalizes its window still merges; one arriving " +
      "AFTER finalization is dropped; an older-than-watermark row " +
      "whose window is open aggregates; un-finalized windows are " +
      "never emitted") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_wmlate").toString
    def ms(s: String) =
      java.time.Instant.parse(s"2024-01-01T$s:00Z").toEpochMilli
    val rows = Seq(
      (1L, ms("10:05"), 0), // win 10-11
      (2L, ms("13:05"), 0), // wm during batch 1 becomes 12:35
      (3L, ms("10:15"), 1), // closed win, arrives in the SAME batch
                            // whose eviction finalizes it -> merges
      (4L, ms("13:20"), 1), // wm during batch 2 becomes 12:50
      (5L, ms("10:10"), 2), // closed win, arrives AFTER finalization
      (6L, ms("12:20"), 2), // ts < wm but win 12-13 is open -> kept
      (7L, ms("13:40"), 2)) // advances the final wm to 13:10
      .toDF("event_id", "m", "shard")
      .select($"event_id", timestamp_millis($"m").as("ts"), $"shard")
    EventStream.writeShardedBacklog(spark, s"$root/src", rows, "shard", 3)
    val got = EventStream.runLateAppend(spark, s"$root/src",
        "30 minutes", queryName = "graft_late_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // final wm 13:10: win 10-11 emitted once with BOTH the on-time
    // 10:05 and the same-batch-as-finalization 10:15 (count 2), the
    // post-finalization 10:10 dropped; win 12-13 emitted with the
    // older-than-watermark 12:20; win 13-14 (end 14:00 > 13:10) held
    assert(got.toSeq === Seq((ms("10:00"), 2L), (ms("12:00"), 1L)))
  }

  test("keyed (window x grid-cell) density counts ride the SAME " +
      "tumbling protocol: cells are extra grouping keys, eviction is " +
      "by window end alone, a post-finalization straggler drops for " +
      "EVERY cell of its window (the q241 protocol, pinned before " +
      "its oracle)") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_wmcell").toString
    def ms(s: String) =
      java.time.Instant.parse(s"2024-01-01T$s:00Z").toEpochMilli
    val rows = Seq(
      (1L, ms("10:05"), 12.0, 0), // win 10-11, cell 1
      (2L, ms("10:06"), 13.0, 0), // win 10-11, cell 1
      (3L, ms("10:07"), 27.0, 0), // win 10-11, cell 2
      (4L, ms("13:05"), 1.0, 0),  // wm -> 12:35 after batch 1
      (5L, ms("10:15"), 14.0, 1), // closed win, same-batch-as-
                                  // finalization -> merges into cell 1
      (6L, ms("13:20"), 1.0, 1),  // wm -> 12:50
      (7L, ms("10:10"), 15.0, 2), // post-finalization -> dropped even
                                  // though cell 1 already existed
      (8L, ms("12:20"), 60.0, 2), // ts < wm, win 12-13 open -> kept
      (9L, ms("13:40"), 1.0, 2))  // final wm 13:10
      .toDF("event_id", "m", "value", "shard")
      .select($"event_id", timestamp_millis($"m").as("ts"), $"value",
        $"shard")
    EventStream.writeShardedBacklog(spark, s"$root/src", rows,
      "shard", 3)
    val got = EventStream.runLateCellDensity(spark, s"$root/src",
        "30 minutes", eps = 10.0, queryName = "graft_cell_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    // final wm 13:10: win 10-11 emits cell 1 (10:05, 10:06, merged
    // 10:15 = 3) and cell 2 (10:07 = 1); the post-finalization 10:10
    // is dropped; win 12-13 emits cell 6 (12:20); win 13-14 held
    assert(got.toSeq === Seq(
      (ms("10:00"), 1L, 3L), (ms("10:00"), 2L, 1L),
      (ms("12:00"), 6L, 1L)))
  }

  test("2-D (window x cx x cy) density counts ride the SAME keyed " +
      "tumbling protocol (the q242 pin, before its oracle): the cell " +
      "key's dimensionality is irrelevant to eviction — a " +
      "post-finalization straggler drops for every cell of its " +
      "window, an open window keeps sub-watermark rows") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_wmcell2d").toString
    def ms(s: String) =
      java.time.Instant.parse(s"2024-01-01T$s:00Z").toEpochMilli
    val rows = Seq(
      (1L, ms("10:05"), 12.0, 3L, 0),  // win 10-11, cell (1, 0)
      (2L, ms("10:06"), 13.0, 14L, 0), // win 10-11, cell (1, 1)
      (3L, ms("10:07"), 13.5, 14L, 0), // merges into cell (1, 1)
      (4L, ms("13:05"), 1.0, 0L, 0),   // wm -> 12:35 after batch 1
      (5L, ms("10:15"), 14.0, 3L, 1),  // same-batch-as-finalization
                                       // -> merges into cell (1, 0)
      (6L, ms("13:20"), 1.0, 0L, 1),   // wm -> 12:50
      (7L, ms("10:10"), 15.0, 3L, 2),  // post-finalization -> dropped
      (8L, ms("12:20"), 60.0, 25L, 2), // ts < wm, win 12-13 open
      (9L, ms("13:40"), 1.0, 0L, 2))   // final wm 13:10
      .toDF("event_id", "m", "value", "user_id", "shard")
      .select($"event_id", timestamp_millis($"m").as("ts"), $"value",
        $"user_id", $"shard")
    EventStream.writeShardedBacklog(spark, s"$root/src", rows,
      "shard", 3)
    val got = EventStream.runLateCellDensity2d(spark, s"$root/src",
        "30 minutes", epsV = 10.0, epsU = 10.0,
        queryName = "graft_cell2d_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))
    // final wm 13:10: win 10-11 emits cell (1,0) with 10:05 + the
    // merged 10:15 (2) and cell (1,1) with 10:06 + 10:07 (2); the
    // post-finalization 10:10 is dropped; win 12-13 emits (6,2);
    // win 13-14 held
    assert(got.toSeq === Seq(
      (ms("10:00"), 1L, 0L, 2L), (ms("10:00"), 1L, 1L, 2L),
      (ms("12:00"), 6L, 2L, 1L)))
  }

  test("sliding windows drop late input PER (row, window): a straggler " +
      "whose earlier window is finalized still counts in its open " +
      "later window") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_wmslide").toString
    def ms(s: String) =
      java.time.Instant.parse(s"2024-01-01T$s:00Z").toEpochMilli
    val rows = Seq(
      (1L, ms("10:05"), 0), // windows 09:30 and 10:00
      (2L, ms("13:05"), 0), // lagged wm during batch 2 becomes 12:35
      (3L, ms("13:20"), 1),
      (4L, ms("12:10"), 2), // windows 11:30 (end 12:30 <= 12:35:
                            // DROPPED) and 12:00 (end 13:00: KEPT)
      (5L, ms("13:40"), 2)) // final wm 13:10
      .toDF("event_id", "m", "shard")
      .select($"event_id", timestamp_millis($"m").as("ts"), $"shard")
    EventStream.writeShardedBacklog(spark, s"$root/src", rows, "shard", 3)
    val got = EventStream.runLateAppend(spark, s"$root/src",
        "30 minutes", queryName = "graft_slide_spec",
        slide = Some("30 minutes"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // emitted = windows ending <= 13:10: the straggler 12:10 appears
    // in its open 12:00 window but NOT in the finalized 11:30 one
    // (which was never created, so it is absent rather than zero)
    assert(got.toSeq === Seq((ms("09:30"), 1L), (ms("10:00"), 1L),
      (ms("12:00"), 1L)))
  }

  test("session windows: gap-merging, watermark-gated emission, and " +
      "the late predicate discovered at the ts-vs-session-end boundary") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_wmsess").toString
    def ms(s: String) =
      java.time.Instant.parse(s"2024-01-01T$s:00Z").toEpochMilli
    def msS(s: String) =
      java.time.Instant.parse(s"2024-01-01T${s}Z").toEpochMilli
    val rows = Seq(
      (1L, msS("10:00:00"), 7L, 0), // merges with the next (same key)
      (2L, msS("10:00:30"), 7L, 0),
      (3L, msS("10:00:40"), 8L, 0), // same span, OTHER key: own session
      (4L, ms("13:00"), 7L, 0),     // lagged wm during batch 1 -> 12:30
      (5L, msS("12:29:30"), 7L, 1), // ts < wm, session end 12:30:30 > wm
      (6L, ms("13:30"), 7L, 1))     // final wm 13:00
      .toDF("event_id", "m", "k", "shard")
      .select($"event_id", timestamp_millis($"m").as("ts"), $"k",
        $"shard")
    EventStream.writeShardedBacklog(spark, s"$root/src", rows, "shard", 2)
    val got = EventStream.runSessionAppend(spark, s"$root/src",
        "30 minutes", "1 minute", queryName = "graft_sess_spec")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._2, t._1))
    // final wm 13:00 emits sessions ending <= 13:00: key 7's merged
    // pair (10:00:00-10:01:30, n=2), key 8's singleton in the same
    // span (keys never merge), and — the late predicate being
    // SESSION-END-scoped like the window one — key 7's 12:29:30
    // singleton (end 12:30:30 > lagged wm 12:30 at arrival). The
    // 13:00 session (end 13:01 > 13:00) and 13:30 stay in state.
    assert(got.toSeq === Seq(
      (7L, msS("10:00:00"), msS("10:01:30"), 2L),
      (8L, msS("10:00:40"), msS("10:01:40"), 1L),
      (7L, msS("12:29:30"), msS("12:30:30"), 1L)))
  }

  test("update mode emits the cumulative count once per updating " +
      "batch; dropped stragglers never update; no final-watermark " +
      "emission gate") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_wmupdate").toString
    def ms(s: String) =
      java.time.Instant.parse(s"2024-01-01T$s:00Z").toEpochMilli
    // the q225 tumbling fixture, observed through update mode
    val rows = Seq(
      (1L, ms("10:05"), 0),
      (2L, ms("13:05"), 0),
      (3L, ms("10:15"), 1), // lagged wm still unset -> updates win 10
      (4L, ms("13:20"), 1),
      (5L, ms("10:10"), 2), // lagged wm 12:35 -> dropped, NO update
      (6L, ms("12:20"), 2),
      (7L, ms("13:40"), 2))
      .toDF("event_id", "m", "shard")
      .select($"event_id", timestamp_millis($"m").as("ts"), $"shard")
    EventStream.writeShardedBacklog(spark, s"$root/src", rows, "shard", 3)
    val got = EventStream.runUpdateCounts(spark, s"$root/src",
        "30 minutes", queryName = "graft_update_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // win 10: updated by batches 0 and 1 (the batch-2 straggler was
    // filtered), final 2; win 12: one update; win 13: three updates —
    // and unlike append mode, the still-open 13-14 window IS visible
    assert(got.toSeq === Seq(
      (ms("10:00"), 2L, 2L),
      (ms("12:00"), 1L, 1L),
      (ms("13:00"), 3L, 3L)))
  }

  test("stream-stream interval join late/eviction protocol (q233 " +
      "discovery): inner-join input is NEVER watermark-filtered " +
      "(unlike aggregations); the global clock is the MIN of both " +
      "sides' node watermarks; state eviction at batch end uses the " +
      "LAGGED global watermark with NON-strict thresholds (purchase " +
      "dies at p_ts <= wm, click at c_ts + 1h <= wm — the interval's " +
      "upper bound extends the click's lifetime); a row arriving in " +
      "the very batch whose eviction kills its partner still joins") {
    def ms(s: String) =
      java.time.Instant.parse(s"2024-01-01T$s:00Z").toEpochMilli
    def run(rows: Seq[(Long, Long, String, Int)], nShards: Int,
        name: String): Seq[(Long, Long)] = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_ssj_spec").toString
      val df = rows.toDF("event_id", "m", "event_type", "shard")
        .select($"event_id", timestamp_millis($"m").as("ts"),
          $"event_type", lit(1L).as("user_id"), $"shard")
      EventStream.writeShardedBacklog(spark, s"$root/src", df,
        "shard", nShards)
      EventStream.runLateJoin(spark, s"$root/src", "30 minutes", name)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(identity).toSeq
    }
    // the discovery fixture: every branch of the protocol at once
    val got = run(Seq(
      (1L, ms("10:00"), "click", 0),
      (2L, ms("10:30"), "purchase", 0),
      (3L, ms("13:00"), "purchase", 0),
      (4L, ms("10:15"), "click", 1),     // joins buffered P2
      (5L, ms("12:15"), "click", 2),     // BELOW any agg-style input
                                         // wm, still admitted: joins
                                         // P3/P6 now and P10 LATER
      (6L, ms("12:40"), "purchase", 2),
      (7L, ms("13:40"), "purchase", 2),
      (8L, ms("13:05"), "click", 3),
      (9L, ms("12:35"), "click", 3),
      (10L, ms("12:50"), "purchase", 3),
      (11L, ms("13:15"), "click", 4),
      (12L, ms("15:00"), "purchase", 4),
      (13L, ms("10:10"), "click", 3),    // P2 dies END of b3 (lagged
                                         // min-wm 11:45) — same-batch
                                         // arrival still matches
      (14L, ms("12:20"), "click", 4),    // P3/P6/P10 die end of b4 —
                                         // same-batch match again
      (15L, ms("13:30"), "purchase", 4),
      (16L, ms("15:10"), "click", 4),    // advances the click clock
      (17L, ms("13:10"), "purchase", 5), // clicks die end of b5 —
                                         // same-batch match
      (18L, ms("13:55"), "purchase", 6), // C8/C11 evicted (c+1h <=
                                         // 14:30) -> NO pairs
      (19L, ms("12:05"), "click", 6)),   // P3/P6/P10 evicted -> NONE
      7, "graft_ssj_spec_a")
    assert(got === Seq((2L, 1L), (2L, 4L), (2L, 13L), (3L, 5L),
      (3L, 9L), (3L, 14L), (6L, 5L), (6L, 9L), (6L, 14L), (7L, 8L),
      (7L, 11L), (10L, 5L), (10L, 9L), (10L, 14L), (15L, 8L),
      (15L, 9L), (15L, 11L), (17L, 5L), (17L, 8L), (17L, 9L),
      (17L, 14L)))
    // boundary strictness: WM(0) lands EXACTLY on P1's threshold
    // (min side-max 12:30 - 30min = 12:00 = p_ts); the b2 click finds
    // it gone -> eviction is p_ts <= wm, not <
    val got2 = run(Seq(
      (1L, ms("12:00"), "purchase", 0),
      (2L, ms("12:30"), "click", 0),
      (3L, ms("12:30"), "purchase", 0),
      (4L, ms("23:00"), "click", 1),
      (5L, ms("11:30"), "click", 2)), 3, "graft_ssj_spec_b")
    assert(got2 === Seq((3L, 2L)))
  }

  test("LEFT OUTER stream-stream join protocol (q235 discovery): an " +
      "input-late row (ts <= the LAGGED watermark at arrival) is " +
      "dropped ENTIRELY — it joins nothing, not even alive state, " +
      "and never gets a null row; an ADMITTED unmatched left row " +
      "emits (p, NULL) only when evicted, including by the trailing " +
      "no-data batch with the FINAL watermark") {
    def ms(s: String) =
      java.time.Instant.parse(s"2024-01-01T$s:00Z").toEpochMilli
    def run(rows: Seq[(Long, Long, String, Int)], nShards: Int,
        name: String): Seq[(Long, Long)] = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_oj_spec").toString
      val df = rows.toDF("event_id", "m", "event_type", "shard")
        .select($"event_id", timestamp_millis($"m").as("ts"),
          $"event_type", lit(1L).as("user_id"), $"shard")
      EventStream.writeShardedBacklog(spark, s"$root/src", df,
        "shard", nShards)
      EventStream.runLateJoin(spark, s"$root/src", "30 minutes", name,
          joinType = "leftOuter")
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .sortBy(identity).toSeq
    }
    // W(0) = 12:00 (min side-max). C6@11:50 arrives b2 where the
    // LAGGED wm is 12:00 >= its ts: dropped entirely, even though
    // P1@12:10 sits alive in state and P8 arrives the same batch —
    // P1 then nulls as UNMATCHED once the final watermark (19:30)
    // passes it. The input-late purchase P7 is dropped too: no null.
    // P9@20:00 is admitted but unevicted (> 19:30): no null either.
    val got = run(Seq(
      (1L, ms("12:10"), "purchase", 0),
      (2L, ms("12:30"), "purchase", 0),
      (3L, ms("12:30"), "click", 0),
      (4L, ms("13:10"), "click", 1),
      (5L, ms("13:40"), "purchase", 1),
      (6L, ms("11:50"), "click", 2),
      (7L, ms("11:55"), "purchase", 2),
      (8L, ms("12:40"), "purchase", 2),
      (9L, ms("20:00"), "purchase", 3),
      (10L, ms("20:05"), "click", 3)), 4, "graft_oj_spec_a")
    assert(got === Seq((1L, -1L), (2L, 3L), (5L, 4L), (8L, 3L)))
    // null emission NEEDS eviction: the same fixture truncated before
    // the clock-pusher shard leaves the final watermark at 12:40, so
    // P1@12:10 still nulls but nothing else changes except the
    // now-unevicted rows silently holding state
    val got2 = run(Seq(
      (1L, ms("12:10"), "purchase", 0),
      (2L, ms("12:30"), "purchase", 0),
      (3L, ms("12:30"), "click", 0),
      (4L, ms("13:10"), "click", 1),
      (5L, ms("13:40"), "purchase", 1),
      (6L, ms("11:50"), "click", 2),
      (7L, ms("11:55"), "purchase", 2),
      (8L, ms("12:40"), "purchase", 2)), 3, "graft_oj_spec_b")
    assert(got2 === Seq((1L, -1L), (2L, 3L), (5L, 4L), (8L, 3L)))
  }

  test("FULL OUTER stream-stream join protocol (q236): the union of " +
      "the inner pairs, the q235 left-null class (admitted unmatched " +
      "purchase, evicted: p_ts <= final wm), and the SYMMETRIC right " +
      "nulls — an admitted unmatched click emits (NULL, c) only when " +
      "its state is evicted (c_ts + 1h <= final wm, the shifted " +
      "interval bound); dropped input-late rows on EITHER side " +
      "never null") {
    def ms(s: String) =
      java.time.Instant.parse(s"2024-01-01T$s:00Z").toEpochMilli
    def run(rows: Seq[(Long, Long, String, Int)], nShards: Int,
        name: String): Seq[(Long, Long)] = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_foj_spec").toString
      val df = rows.toDF("event_id", "m", "event_type", "shard")
        .select($"event_id", timestamp_millis($"m").as("ts"),
          $"event_type", lit(1L).as("user_id"), $"shard")
      EventStream.writeShardedBacklog(spark, s"$root/src", df,
        "shard", nShards)
      EventStream.runLateJoin(spark, s"$root/src", "30 minutes", name,
          joinType = "fullOuter")
        .collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1)))
        .sortBy(identity).toSeq
    }
    // the q235 fixture plus C11@14:50 — admitted (b2 lagged wm
    // 12:00), matches NO purchase (none in [14:50, 15:50]), and IS
    // evicted by the final watermark (14:50 + 1h = 15:50 <= 19:30) —
    // the one right-null row. C10@20:05 is admitted+unmatched but
    // UNEVICTED (21:05 > 19:30): no null. C6@11:50 is input-late:
    // dropped entirely, no null. P1 nulls as in q235; P7 (input-late)
    // and P9 (unevicted) don't.
    val got = run(Seq(
      (1L, ms("12:10"), "purchase", 0),
      (2L, ms("12:30"), "purchase", 0),
      (3L, ms("12:30"), "click", 0),
      (4L, ms("13:10"), "click", 1),
      (5L, ms("13:40"), "purchase", 1),
      (6L, ms("11:50"), "click", 2),
      (7L, ms("11:55"), "purchase", 2),
      (8L, ms("12:40"), "purchase", 2),
      (11L, ms("14:50"), "click", 2),
      (9L, ms("20:00"), "purchase", 3),
      (10L, ms("20:05"), "click", 3)), 4, "graft_foj_spec_a")
    assert(got === Seq((-1L, 11L), (1L, -1L), (2L, 3L), (5L, 4L),
      (8L, 3L)))
  }

  test("RIGHT OUTER stream-stream join protocol (q238): exactly the " +
      "full-outer output minus the left-null class — only admitted " +
      "unmatched CLICKS null, at the click eviction threshold " +
      "(c_ts + 1h <= final wm); unmatched purchases emit nothing") {
    def ms(s: String) =
      java.time.Instant.parse(s"2024-01-01T$s:00Z").toEpochMilli
    def run(rows: Seq[(Long, Long, String, Int)], nShards: Int,
        name: String): Seq[(Long, Long)] = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_roj_spec").toString
      val df = rows.toDF("event_id", "m", "event_type", "shard")
        .select($"event_id", timestamp_millis($"m").as("ts"),
          $"event_type", lit(1L).as("user_id"), $"shard")
      EventStream.writeShardedBacklog(spark, s"$root/src", df,
        "shard", nShards)
      EventStream.runLateJoin(spark, s"$root/src", "30 minutes", name,
          joinType = "rightOuter")
        .collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1)))
        .sortBy(identity).toSeq
    }
    // the q236 fixture: same pairs, the right null (C11), and NO
    // (1, -1) row — P1's unmatched fate is invisible to right-outer
    val got = run(Seq(
      (1L, ms("12:10"), "purchase", 0),
      (2L, ms("12:30"), "purchase", 0),
      (3L, ms("12:30"), "click", 0),
      (4L, ms("13:10"), "click", 1),
      (5L, ms("13:40"), "purchase", 1),
      (6L, ms("11:50"), "click", 2),
      (7L, ms("11:55"), "purchase", 2),
      (8L, ms("12:40"), "purchase", 2),
      (11L, ms("14:50"), "click", 2),
      (9L, ms("20:00"), "purchase", 3),
      (10L, ms("20:05"), "click", 3)), 4, "graft_roj_spec_a")
    assert(got === Seq((-1L, 11L), (2L, 3L), (5L, 4L), (8L, 3L)))
  }

  test("q227 oracle constraint holds at all three SFs: no surviving " +
      "straggler lands within the session gap of an earlier same-key " +
      "survivor whose session end had already passed an eviction " +
      "watermark at the straggler's arrival (the session-re-opening " +
      "case where Spark emits two rows and the gaps-and-islands " +
      "replay merges one)") {
    import org.apache.spark.sql.expressions.Window
    val gapMs = 60L * 1000           // q227's 1-minute session gap
    val delayMs = 30L * 60 * 1000    // q227's 30-minute delay
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      // replicate q227's shard assignment exactly
      val w = Window.orderBy($"ts", $"event_id")
      val sh = Tables.events(spark, dir)
        .select($"ts", ($"user_id" % 4).as("k"),
          (ntile(4).over(w) - 1).as("q"),
          row_number().over(w).as("rn"))
        .select(unix_millis($"ts").as("t"), $"k",
          when($"rn" % 37 === 0, least($"q" + 2, lit(3)))
            .otherwise($"q").cast("int").as("shard"))
      val ws = Window.orderBy($"shard")
      // wml = the LAGGED (late-events) watermark at this shard's
      // batch: the filter q227's oracle replays, AND the strongest
      // eviction watermark any batch BEFORE this one can have used
      // (batch j evicts with max ts through batch j-1, so the max
      // over batches < this one is the 2-preceding running max)
      val wm = sh.groupBy($"shard").agg(max($"t").as("mt"))
        .select($"shard",
          (max($"mt").over(ws.rowsBetween(Window.unboundedPreceding,
            -2)) - delayMs).as("wml"))
      val surv = sh.join(broadcast(wm), Seq("shard"))
        .filter($"wml".isNull || $"t" + gapMs > $"wml")
      // consecutive same-key survivors by event time: the earlier one
      // is the last event of the island the oracle would merge the
      // later one into. Fragile iff they are within the gap AND the
      // FIRST arrival's session end had passed an eviction watermark
      // of some batch STRICTLY BEFORE the second arrival's batch —
      // only then is the first one's state gone when the second one
      // merges. Same-batch pairs and the merge-before-evict case (the
      // eviction that would finalize the first session lands in the
      // very batch the second event arrives in — the WatermarkLateSpec
      // pinned semantics) always merge, whatever the watermark says.
      val wk = Window.partitionBy($"k").orderBy($"t")
      val fragile = surv
        .select($"k", $"t", $"shard", $"wml",
          lag($"t", 1).over(wk).as("pt"),
          lag($"shard", 1).over(wk).as("pshard"),
          lag($"wml", 1).over(wk).as("pwml"))
        .filter($"pt".isNotNull && $"t" - $"pt" <= gapMs &&
          (($"pshard" < $"shard" && $"pt" + gapMs <= $"wml") ||
            ($"shard" < $"pshard" && $"t" + gapMs <= $"pwml")))
      assert(fragile.count() === 0L,
        s"q227 oracle re-opening constraint violated at $dir")
    }
  }
}

class DeconExciseSpec extends GraftSuite {
  import spark.implicits._
  import graft.operators.Decontaminate

  test("excises exactly the covered tokens, merges overlapping gram " +
      "spans, and a fully-covered doc cleans to empty") {
    val evalSet = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val train = Seq(
      // two overlapping matched grams (a b c d @1, b c d e @2) cover
      // tokens 1..5 — the interval UNION, not 8 removals
      (1L, "a b c d e keep these words"),
      (2L, "keep a b c d tail"),
      (3L, "totally clean document"),
      (4L, "a b c d e")) // fully covered
      .toDF("doc_id", "text")
    val got = Decontaminate.exciseOverlap(train, evalSet,
        "doc_id", "text", w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq === Seq(
      (1L, 5L, "keep these words"),
      (2L, 4L, "keep tail"),
      (4L, 5L, "")))
  }
}

class DatasetSimSpec extends GraftSuite {
  import spark.implicits._
  import graft.operators.DatasetSim

  test("identical sources score 1.0 on both faces, disjoint score 0") {
    val docs = Seq(
      ("s1", "alpha beta gamma delta epsilon"),
      ("s2", "alpha beta gamma delta epsilon"),
      ("s3", "one two three four five six"))
      .toDF("source", "text")
    val got = DatasetSim.pairwise(docs, "source", "text")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(5), r.getDouble(6)))).toMap
    assert(got(("s1", "s2")) === ((1.0, 1.0)))
    assert(got(("s1", "s3")) === ((0.0, 0.0)))
    assert(got(("s2", "s3")) === ((0.0, 0.0)))
  }

  test("the 32-slot estimate tracks exact Jaccard within MinHash " +
      "sampling error on the corpus") {
    val rows = DatasetSim.pairwise(Tables.documents(spark, sf),
        "source", "text")
      .collect().map(r => (r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    val errs = rows.map { case (j, e) => math.abs(j - e) }
    // std of a 32-slot estimator is sqrt(J(1-J)/32) <= 0.089
    assert(errs.sum / errs.length < 0.1,
      s"mean |exact-est| ${errs.sum / errs.length}")
    assert(errs.max < 0.35, s"worst pair off by ${errs.max}")
  }
}

class DeconScaleSpec extends GraftSuite {
  test("contaminated docs are EXACTLY additive across disjoint-gram " +
      "replicas — the eval broadcast join has no cross-corpus term") {
    val docs = Tables.documents(spark, sf)
    val (total, per) = DedupScaleCounts.deconCounts(docs, 3)
    assert(total > 0, "no contamination found at base size")
    assert(total === per.sum,
      s"cross-replica gram leak: $total != sum of $per")
  }
}

class DeconIndexSpec extends GraftSuite {
  import spark.implicits._
  import graft.operators.Decontaminate

  test("index-served screen equals the direct screen; append is " +
      "idempotent and extends coverage") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_decon_idx").toString
    val docs = Tables.documents(spark, sf)
    val evalA = docs.filter($"doc_id" % 97 === 0)
    val evalB = docs.filter($"doc_id" % 89 === 0 && $"doc_id" % 97 =!= 0)
    val train = docs.filter($"doc_id" % 97 =!= 0 && $"doc_id" % 89 =!= 0)
    Decontaminate.writeEvalIndex(evalA, "doc_id", "text",
      s"$root/idx", w = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    val direct = rows(Decontaminate.overlapReport(train, evalA,
      "doc_id", "text", w = 4))
    val served = rows(Decontaminate.overlapAgainstIndex(spark,
      s"$root/idx", train, "doc_id", "text"))
    assert(direct.nonEmpty && served === direct)
    // append a second eval wave: coverage must equal the UNION screen
    Decontaminate.appendEvalDocs(spark, s"$root/idx", evalB,
      "doc_id", "text")
    val both = rows(Decontaminate.overlapAgainstIndex(spark,
      s"$root/idx", train, "doc_id", "text"))
    val union = rows(Decontaminate.overlapReport(train,
      evalA.unionByName(evalB), "doc_id", "text", w = 4))
    assert(both === union)
    // retry idempotence: re-appending the same wave changes nothing
    val n = spark.read.parquet(s"$root/idx/grams").count()
    Decontaminate.appendEvalDocs(spark, s"$root/idx", evalB,
      "doc_id", "text")
    assert(spark.read.parquet(s"$root/idx/grams").count() === n)
  }
}

class NewOpGuardsSpec extends GraftSuite {
  import spark.implicits._

  test("new operators reject degenerate arguments loudly") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      graft.operators.Decontaminate.overlapReport(docs, docs,
        "doc_id", "text", w = 0)
    }
    intercept[IllegalArgumentException] {
      graft.operators.DatasetSim.pairwise(
        Seq(("s", "a b")).toDF("source", "text"), "source", "text",
        slots = 0)
    }
    intercept[IllegalArgumentException] {
      graft.ml.DistributedWord2Vec.fitReplayable(docs, "doc_id",
        "text", rounds = 0)
    }
    // a missing hybrid-search query vector fails loudly instead of
    // silently degrading to the lexical leg alone
    val emb = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.operators.Retrieval.hybridTopK(docs, emb,
        Seq("a"), queryVecId = 99L, k = 5)
    }
    // ragged embedding tables are rejected by the quantizer
    val ragged = Seq((1L, Array(1.0f)), (2L, Array(1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.operators.ScalarQuant.quantizeReport(ragged,
        "vec_id", "embedding")
    }
  }
}
