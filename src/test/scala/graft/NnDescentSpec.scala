package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.NnDescent

/** NN-descent quality and protocol gates. The oracle (q231/q232)
  * proves ENGINE parity; this spec pins what the algorithm actually
  * delivers — including the honest negative: convergence depends on
  * the data's intrinsic dimension, so the clustered fixture must
  * reach high recall while the near-uniform corpus is only recorded,
  * not flattered. */
class NnDescentSpec extends GraftSuite {
  import spark.implicits._

  /** 10 tight clusters in 8-dim — the structure NN-descent's
    * neighbor-of-neighbor propagation exploits. Deterministic. */
  private def clustered(nPerCluster: Int = 40): DataFrame = {
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(10)(Seq.fill(8)(rnd.nextGaussian()))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until nPerCluster
    } yield ((ci * nPerCluster + j).toLong,
      c.map(_ + rnd.nextGaussian() * 0.15))
    rows.toDF("id", "v")
  }

  private def recallAt8(vecs: DataFrame, graph: DataFrame): Double = {
    val q = vecs.select($"id".as("u"), $"v".as("qv"))
    val c = vecs.select($"id".as("enb"), $"v".as("cv"))
    val exact = q.crossJoin(broadcast(c)).filter($"u" =!= $"enb")
      .select($"u", $"enb",
        graft.expressions.ArrayL2Sq($"qv", $"cv").as("d2"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"u").orderBy($"d2", $"enb")))
      .filter($"rk" <= 8)
      .select($"u", $"enb")
    val hits = exact.join(
      graph.select($"u".as("gu"), $"nb"),
      $"u" === $"gu" && $"enb" === $"nb", "left")
    val r = hits.agg(count(lit(1)), count($"nb")).collect()(0)
    r.getLong(1).toDouble / r.getLong(0)
  }

  test("on clustered data the 3-round graph reaches ~0.9 recall@8, " +
      "improving monotonically over rounds — the convergence the " +
      "paper promises when intrinsic dimension is low") {
    val vecs = clustered()
    val recalls = (1 to 3).map { r =>
      recallAt8(vecs, NnDescent.knnGraph(vecs, k = 8, cap = 16,
        rounds = r))
    }
    assert(recalls(0) > 0.4, s"round-1 recall ${recalls(0)}")
    assert(recalls(1) > recalls(0) && recalls(2) > recalls(1),
      s"not improving: $recalls")
    assert(recalls(2) > 0.85, s"round-3 recall ${recalls(2)}")
  }

  test("graph invariants: exactly k ranked neighbors per node, no " +
      "self edges, d2 nondecreasing in rank") {
    val vecs = clustered(20)
    val g = NnDescent.knnGraph(vecs, k = 8, cap = 16, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    val byU = g.groupBy(_._1)
    assert(byU.size === 200)
    byU.foreach { case (u, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to 8),
        s"node $u ranks ${rows.map(_._2).toSeq}")
      assert(rows.forall(_._3 != u), s"self edge at $u")
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b },
        s"d2 not monotone at $u")
    }
  }

  test("greedy trace: d2 is non-increasing hop over hop, and on " +
      "clustered data the walk lands on the probe's own cluster") {
    val vecs = clustered()
    val graph = NnDescent.knnGraph(vecs, k = 8, cap = 16, rounds = 3)
    // probes: 3 stored points re-used as queries — their d2 minimum
    // is 0 at themselves, so a good walk should end inside the
    // cluster (d2 well under the inter-cluster scale)
    val probes = vecs.filter($"id".isin(5L, 205L, 390L))
      .select($"id".as("query_id"), $"v".as("qv"))
    val tr = NnDescent.greedyTrace(graph.select($"u", $"nb"), vecs,
        probes, hops = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    tr.groupBy(_._1).foreach { case (q, rows) =>
      val walk = rows.sortBy(_._2).map(_._4)
      assert(walk.size === 9)
      assert(walk.zip(walk.tail).forall { case (a, b) => b <= a },
        s"probe $q d2 increased along $walk")
      // 0.15-sigma clusters in 8-dim: within-cluster d2 ~ 8*2*0.15^2
      // = 0.36 expected; inter-cluster is O(10). Landing under 1.0
      // means the walk crossed into the right cluster.
      assert(walk.last < 1.0, s"probe $q stalled at d2 ${walk.last}")
    }
  }

  test("beamTopKBulk and beamTopKHot (the ef-search return contract): " +
      "k distinct non-self nodes per probe, d2 nondecreasing in rank, " +
      "every returned node was actually scored (d2 exact), and on " +
      "clustered data the visited-set top-8 lands in the probe's own " +
      "cluster") {
    val vecs = clustered()
    val graph = NnDescent.knnGraph(vecs, k = 8, cap = 16, rounds = 3)
      .select($"u", $"nb")
    val entries = NnDescent.entryCandidates(vecs, entryCand = 32)
    val probes = vecs.filter($"id".isin(5L, 205L, 390L))
      .select($"id".as("query_id"), $"v".as("qv"))
    val hot = NnDescent.hotArtifacts(graph, vecs, entries)
    for ((engine, df) <- Seq(
        "bulk" -> NnDescent.beamTopKBulk(graph, vecs, probes, hops = 8,
          beam = 4, k = 8, entries = entries),
        "hot" -> NnDescent.beamTopKHot(hot, probes, hops = 8, beam = 4,
          k = 8))) {
      val got = df.collect().map(r => (r.getLong(0), r.getInt(1),
        r.getLong(2), r.getDouble(3)))
      assert(got.map(_._1).distinct.length === 3, engine)
      got.groupBy(_._1).foreach { case (q, rows) =>
        assert(rows.length === 8,
          s"$engine: probe $q returned ${rows.length}")
        assert(rows.map(_._2).sorted.toSeq === (1 to 8))
        assert(!rows.exists(_._3 == q),
          s"$engine: probe $q returned itself")
        val byRank = rows.sortBy(_._2).map(_._4)
        assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b },
          s"$engine: probe $q d2 not monotone in rank")
        // within-cluster d2 ~ 0.36 expected, inter-cluster O(10): the
        // whole answer set should sit inside the probe's cluster
        assert(byRank.last < 1.0,
          s"$engine: probe $q rank-8 d2 ${byRank.last} left the cluster")
      }
    }
    hot.destroy()
  }

  test("beamTopKBulk and beamTopKHot are BIT-IDENTICAL (graph-ann-serve " +
      "switches engines on the replica's RAM budget, so the switch " +
      "must be invisible to every hash gate), including a stored probe " +
      "that must route through but never return itself") {
    val vecs = clustered(20)
    val graph = NnDescent.knnGraph(vecs, k = 8, cap = 16, rounds = 2)
      .select($"u", $"nb")
    val entries = NnDescent.entryCandidates(vecs, entryCand = 32)
    // two stored vectors (self-exclusion live) + one held-out probe
    val probes = vecs.filter($"id".isin(5L, 105L))
      .select($"id".as("query_id"), $"v".as("qv"))
      .unionByName(Seq((9001L, (0 until 8).map(j => 0.1 * j)))
        .toDF("query_id", "qv"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    val bulk = rows(NnDescent.beamTopKBulk(graph, vecs, probes,
      hops = 8, beam = 4, k = 8, entries = entries))
    assert(bulk.nonEmpty)
    // the RAM-resident hot engine (one job, broadcast artifacts)
    // replicates the same walk executor-side
    val hot = NnDescent.hotArtifacts(graph, vecs, entries)
    val hotRows = rows(NnDescent.beamTopKHot(hot, probes,
      hops = 8, beam = 4, k = 8))
    assert(hotRows === bulk,
      "serve engines diverged — the budget fallback is load-bearing")
    // the pre-joined serving layout (adj = u, nb, nv) reads the same
    // doubles through the same kernel — bit-identical
    val adj = graph.join(vecs.select($"id".as("nb"), $"v".as("nv")),
      "nb").select($"u", $"nb", $"nv")
    val adjBulk = rows(NnDescent.beamTopKBulk(graph, vecs, probes,
      hops = 8, beam = 4, k = 8, entries = entries, adj = Some(adj)))
    assert(adjBulk === bulk)
    // parity at the QUALITY-SWEEP geometry too (beam 16, hops 12):
    // the exhibits publish hot-engine recalls there, so the gate
    // must cover the wide beam, not just the gated faces' beam 4
    val hot16 = rows(NnDescent.beamTopKHot(hot, probes,
      hops = 12, beam = 16, k = 8))
    val bulk16 = rows(NnDescent.beamTopKBulk(graph, vecs, probes,
      hops = 12, beam = 16, k = 8, entries = entries))
    hot.destroy()
    assert(hot16 === bulk16, "engines diverged at the wide-beam geometry")
  }

  test("appendToGraph (the q240 ingest face): on a planted clone the " +
      "search-insert finds the EXACT top-8 (full-rebuild parity and " +
      "better), the clone's original admits the new node at rank 1 " +
      "with d2 = 0, and every refreshed old list keeps the k-ranked " +
      "invariants") {
    val vecs = clustered()
    val graph = NnDescent.knnGraph(vecs, k = 8, cap = 16, rounds = 3)
    val entries = NnDescent.entryCandidates(vecs, entryCand = 32)
    // planted fixture: an exact clone of stored vector 5 under a
    // fresh id — its true top-1 is the original at d2 = 0, its true
    // top-8 is the original's cluster
    val cloneOf = 5L
    val nid = 100000L
    val qv = vecs.filter($"id" === cloneOf).head().getSeq[Double](1)
    val newVecs = Seq((nid, qv)).toDF("nid", "qv")
    val appended = NnDescent.appendToGraph(
      graph.select($"u", $"nb", $"d2"), vecs, newVecs, k = 8,
      beam = 4, hops = 4, entries = entries)
    val got = appended.collect().map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getDouble(3)))
    appended.unpersist() // caller-owned persist
    val newRows = got.filter(_._1 == nid).sortBy(_._2)
    // exact brute-force top-8 of the clone against the corpus
    val exact = vecs
      .select($"id",
        graft.expressions.ArrayL2Sq(typedLit(qv), $"v").as("d2"))
      .orderBy($"d2", $"id").limit(8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(newRows.map(r => (r._3, r._4)).toSeq === exact,
      "search-insert adjacency is not the exact top-8")
    assert(newRows.head._3 === cloneOf && newRows.head._4 === 0.0,
      "the original is not the clone's rank-1 neighbor at d2 = 0")
    // reverse link: the original's refreshed list admits the clone
    // at rank 1 (d2 = 0 beats every existing edge)
    val origRows = got.filter(_._1 == cloneOf).sortBy(_._2)
    assert(origRows.nonEmpty, "the clone's original was not refreshed")
    assert(origRows.head._3 === nid && origRows.head._4 === 0.0)
    // every refreshed list: ranks 1..8, d2 monotone, >= 1 new id
    got.filter(_._1 != nid).groupBy(_._1).foreach { case (u, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1 to 8),
        s"refreshed $u ranks ${rows.map(_._2).toSeq}")
      val byRank = rows.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b },
        s"refreshed $u d2 not monotone")
      assert(rows.exists(_._3 == nid),
        s"refreshed $u admitted no new id — must not have been emitted")
    }
  }

  test("appendToGraph: the driver walk and the relational walk are " +
      "BIT-IDENTICAL — same kernel, same total orders, so batch size " +
      "(which selects the engine) can never change a result") {
    val vecs = clustered(20)
    val graph = NnDescent.knnGraph(vecs, k = 8, cap = 16, rounds = 2)
      .select($"u", $"nb", $"d2")
    val entries = NnDescent.entryCandidates(vecs, entryCand = 32)
    val newVecs = Seq(
      (9001L, (0 until 8).map(j => 0.1 * j)),
      (9002L, (0 until 8).map(j => -0.3 + 0.05 * j)))
      .toDF("nid", "qv")
    def run(threshold: Int) = {
      val a = NnDescent.appendToGraph(graph, vecs, newVecs, k = 8,
        beam = 4, hops = 4, entries = entries,
        smallBatch = threshold)
      val rows = a.collect().map(r => (r.getLong(0), r.getInt(1),
        r.getLong(2), r.getDouble(3))).sortBy(t => (t._1, t._2, t._3))
      a.unpersist()
      rows.toSeq
    }
    val driver = run(threshold = 1024) // 2 <= 1024 -> driver walk
    val relational = run(threshold = 0) // 2 > 0 -> relational walk
    assert(driver.nonEmpty)
    assert(driver === relational,
      "walk engines diverged — the dispatch threshold is load-bearing")
  }

  test("hotArtifacts enforces the RAM contract (VERDICT r15 #3): an " +
      "over-budget corpus REFUSES with the estimate, the budget, and " +
      "the bulk engine named — not an OOM inside a collect — and an " +
      "under-budget corpus builds exactly as before") {
    val vecs = clustered(20)
    val graph = NnDescent.knnGraph(vecs, k = 8, cap = 16, rounds = 2)
      .select($"u", $"nb")
    val entries = NnDescent.entryCandidates(vecs, entryCand = 32)
    // over-budget: 200 vectors x 8-dim estimate far past 10 KB
    val e = intercept[IllegalArgumentException] {
      NnDescent.hotArtifacts(graph, vecs, entries,
        maxBytes = Some(10 * 1024L))
    }
    assert(e.getMessage.contains("beamTopKBulk"),
      s"refusal must name the fallback engine: ${e.getMessage}")
    assert(e.getMessage.contains("exceeds"), e.getMessage)
    // the estimate never undercounts the real payload floor
    // (edges*8 + vecs*dim*8), the failure mode the guard exists for
    assert(NnDescent.estimateHotBytes(200, 1600, 8) >
      1600 * 8L + 200 * 8 * 8L)
    // under-budget (the default budget): unchanged behavior — same
    // rows as the relational engine (the existing parity contract)
    val probes = vecs.filter($"id".isin(5L, 105L))
      .select($"id".as("query_id"), $"v".as("qv"))
    val hot = NnDescent.hotArtifacts(graph, vecs, entries)
    val hotRows = NnDescent.beamTopKHot(hot, probes, hops = 8,
      beam = 4, k = 8).collect().map(r => (r.getLong(0), r.getInt(1),
      r.getLong(2), r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    hot.destroy()
    val bulk = NnDescent.beamTopKBulk(graph, vecs, probes, hops = 8,
      beam = 4, k = 8, entries = entries).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2)).toSeq
    assert(hotRows === bulk)
  }

  test("hotArtifacts fails fast on a stale corpus (ADVICE r15): an " +
      "adjacency neighbor id absent from vecs raises AT BUILD TIME, " +
      "naming the missing ids — not a bare NoSuchElementException " +
      "inside an executor task mid-walk") {
    val vecs = clustered(20)
    val graph = NnDescent.knnGraph(vecs, k = 8, cap = 16, rounds = 2)
      .select($"u", $"nb")
    val entries = NnDescent.entryCandidates(vecs, entryCand = 32)
    // simulate the append-then-serve-stale-corpus mistake: the graph
    // gains an edge to an id the passed corpus doesn't carry
    val staleGraph = graph.unionByName(
      Seq((5L, 777777L)).toDF("u", "nb"))
    val e = intercept[IllegalArgumentException] {
      NnDescent.hotArtifacts(staleGraph, vecs, entries)
    }
    assert(e.getMessage.contains("777777"),
      s"refusal must name the missing id: ${e.getMessage}")
    assert(e.getMessage.contains("stale"), e.getMessage)
  }

  test("refreshEntries (the append path's entry-frame refresh, " +
      "VERDICT r15 #2) re-derives the build's own rank-spaced frame " +
      "from the GROWN corpus: identical to what a fresh build would " +
      "persist, and serving with it is identical to serving a fresh " +
      "build's entries") {
    val vecs = clustered(20)
    val grown = vecs.unionByName(Seq(
      (9001L, (0 until 8).map(j => 0.1 * j)),
      (9002L, (0 until 8).map(j => -0.3 + 0.05 * j)))
      .toDF("id", "v"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
    // the refresh IS the build rule applied to the grown corpus
    assert(rows(NnDescent.refreshEntries(grown, entryCand = 32)) ===
      rows(NnDescent.entryCandidates(grown, entryCand = 32)))
    // and it differs from the stale frame when growth moved the ranks
    // (the decay axis the replication sweep measured)
    assert(rows(NnDescent.refreshEntries(grown, entryCand = 32)) !==
      rows(NnDescent.entryCandidates(vecs, entryCand = 32)))
  }

  test("hot-budget memory parsing (r16 self-review): a unit-less " +
      "spark.executor.memory is MiB per Spark's JVM-memory " +
      "convention, not bytes — misreading it would shrink the " +
      "budget a million-fold and refuse every replica") {
    assert(NnDescent.parseMemoryString("4096") === 4096L << 20)
    assert(NnDescent.parseMemoryString("4g") === 4L << 30)
    assert(NnDescent.parseMemoryString("512m") === 512L << 20)
    assert(NnDescent.parseMemoryString("1.5g") ===
      (1.5 * (1L << 30)).toLong)
    assert(NnDescent.parseMemoryString("262144k") === 262144L << 10)
  }

  test("the corpus recall is recorded, not assumed: near-uniform " +
      "64-dim embeddings stall every neighbor-of-neighbor method — " +
      "assert only the measured band so a silent collapse (or a " +
      "data regeneration into clustered form) is still caught") {
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long").as("id"),
        graft.operators.Similarity.asDouble($"embedding").as("v"))
    val g = NnDescent.knnGraph(vecs, k = 8, cap = 16, rounds = 3)
    val r = recallAt8(vecs, g)
    assert(r > 0.08 && r < 0.9,
      s"corpus recall $r left the recorded band [0.08, 0.9) — " +
        "re-measure and update BASELINE.md")
  }

  test("per-hop dedup keys on (query_id, cand): a NaN-scored candidate " +
      "reached twice spends one beam slot") {
    // entries 1 and 2 both link to NaN-vector node 3; 1 also links to
    // NaN-vector node 4, the only way to the exact match 5. With
    // beam 4, hop 1 holds {1, 2, 3, 4} once 3's two copies collapse;
    // a whole-tuple distinct keeps both (NaN != NaN), fills the beam
    // with {1, 2, 3, 3} and never reaches 5.
    val nan = Double.NaN
    val vecs = Seq((1L, Seq(10.0)), (2L, Seq(11.0)), (3L, Seq(nan)),
      (4L, Seq(nan)), (5L, Seq(0.0))).toDF("id", "v")
    val graph = Seq((1L, 3L), (2L, 3L), (1L, 4L), (4L, 5L))
      .toDF("u", "nb")
    val probes = Seq((100L, Seq(0.0))).toDF("query_id", "qv")
    val entries = vecs.filter($"id" <= 2L)
      .select($"id".as("node_id"), $"v")
    val tr = NnDescent.greedyTrace(graph, vecs, probes, hops = 2,
        beam = 4, entries = entries)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(tr === Seq((0, 1L, 100.0), (1, 1L, 100.0), (2, 5L, 0.0)))
  }
}
