package graftbench

import java.nio.file.{Files, Path, Paths}

/** The benchmark's own tests: generators are pure functions of the seed
  * (same seed, byte-identical inputs; another seed, other inputs), and
  * the plain-Scala truth sees what was planted. Exits 1 on the first
  * failed check. Usage: GenCheck WORKDIR */
object GenCheck {
  private var failures = 0

  private def check(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val dir = Files.createDirectories(Paths.get(args(0)).resolve("gencheck"))
    def csv(seed: Long, name: String): (Path, Seq[Gen.Segment]) = {
      val p = dir.resolve(name)
      (p, Gen.Container.write(seed, p))
    }
    val (a, segs) = csv(7, "a.csv")
    val (b, _) = csv(7, "b.csv")
    val (c, _) = csv(8, "c.csv")
    check("container: same seed, identical bytes", Gen.digestFile(a) == Gen.digestFile(b))
    check("container: other seed, other bytes", Gen.digestFile(a) != Gen.digestFile(c))
    check("container: planted k multiset is 2..6 for every seed",
      segs.map(_.k).toSet == (2 to 6).toSet)
    check("container: rows match the Zipf plan",
      Files.readAllLines(a).size - 1 == Gen.Container.rows)

    def corpus(seed: Long, name: String): Path = {
      val p = dir.resolve(name)
      Gen.Corpus.writeJsonl(Gen.Corpus.batches(seed, 3).flatten, p)
      p
    }
    val (ca, cb, cc) = (corpus(7, "a.jsonl"), corpus(7, "b.jsonl"), corpus(8, "c.jsonl"))
    check("corpus: same seed, identical bytes", Gen.digestFile(ca) == Gen.digestFile(cb))
    check("corpus: other seed, other bytes", Gen.digestFile(ca) != Gen.digestFile(cc))
    val bs = Gen.Corpus.batches(7, 3)
    val inBatch = Gen.Corpus.exactPairs(bs(1), None)
    val cross = Gen.Corpus.exactPairs(bs(1), Some(bs(0)))
    val boiler = Gen.Corpus.BoilerplateDocs
    check("corpus: planted in-batch near-duplicates are found, boilerplate family whole",
      inBatch.size >= boiler * (boiler - 1) / 2 + Gen.Corpus.Families)
    check("corpus: planted cross-batch near-duplicates are found", cross.nonEmpty)
    check("corpus: truth pairs meet the threshold", (inBatch ++ cross).forall { case (x, y) =>
      val t = (bs(0) ++ bs(1)).map(d => d.id -> d.text).toMap
      Gen.Corpus.jaccard(Gen.Corpus.shingles(t(x)), Gen.Corpus.shingles(t(y))) >= Gen.Corpus.Threshold
    })
    val sample = bs(1).take(400)
    val brute = (for (x <- sample; y <- sample if x.id < y.id &&
      Gen.Corpus.jaccard(Gen.Corpus.shingles(x.text), Gen.Corpus.shingles(y.text)) >= Gen.Corpus.Threshold)
      yield (x.id, y.id)).toSet
    check("corpus: prefix-filtered truth equals all-pairs brute force",
      Gen.Corpus.exactPairs(sample, None) == brute)
    check("corpus: shingles follow the engine's windowing",
      Gen.Corpus.shingles("a b") == Set("a b") &&
        Gen.Corpus.shingles("a b c d") == Set("a b c", "b c d"))

    println(s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
