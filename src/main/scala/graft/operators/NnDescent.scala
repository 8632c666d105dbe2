package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based ANN: deterministic NN-descent k-NN-graph construction
  * (Dong et al., WWW 2011) and greedy graph search — the family face
  * VERDICT r11 #4 asked for next to LSH/IVF/PQ/IVF-PQ/SQ8.
  *
  * Classic NN-descent is randomized (random init, sampled reverse
  * edges); this variant applies the q120 unrolled-rounds discipline so
  * the graph is a pure function of (vectors, k, cap, rounds) and every
  * round is DuckDB-replayable:
  *
  *  - init: a RING in projection-rank space — points sorted by the
  *    deterministic 1-D projection Σᵢ v[i] (ties by id), each point's
  *    first candidates the next k in that order. The projection gives
  *    the init what the paper gets from random sampling: candidates
  *    that are already near-ish when the data has structure, at the
  *    cost of one rank;
  *  - each round: undirect the current graph, cap each node's
  *    co-neighbor list at `cap` by the (distance, id) total order
  *    (the deterministic stand-in for reverse-edge sampling — bounds
  *    the candidate volume at N·cap² whatever the hub structure),
  *    generate all co-neighbor pairs, score them with the exact
  *    [[graft.expressions.ArrayL2Sq]] kernel (bit-equal to DuckDB's
  *    list fold, the q154 contract), and keep each node's k best
  *    (distance, id) neighbors seen so far;
  *  - rounds are FIXED (no convergence test), so the unrolled replay
  *    is finite and the result partition-invariant.
  *
  * Scale shape: every step is an equi-join or a windowed top-k on the
  * node or edge relation — shuffles on node id, candidate volume
  * N·cap² per round, never an all-pairs term. Greedy serving reads
  * the PERSISTED graph: each hop touches one node's k edges plus k
  * vectors, however large the corpus.
  *
  * Convergence is a property of the DATA's intrinsic dimension (Dong
  * et al. §5): on clustered vectors 3 rounds reach ~0.9 recall@8
  * (NnDescentSpec pins 0.51 → 0.73 → 0.91 on a 10-cluster fixture);
  * on the synthetic embeddings corpus — near-uniform 64-dim, whose
  * exact top-8 share a label at chance rate — every
  * neighbor-of-neighbor method stalls, and the measured ~0.06-0.2
  * recall is recorded in BASELINE.md next to the fixture numbers
  * rather than hidden behind a friendlier fixture.
  */
object NnDescent {

  /** Exact squared-L2 — the single-pass native kernel, bit-equal to
    * the zip_with/aggregate left fold and DuckDB's list kernels. */
  private def d2(a: Column, b: Column): Column =
    graft.expressions.ArrayL2Sq(a, b)

  /** The driver walks' per-hop dedup of scored (query_id, cand, d2)
    * rows: one row per (query_id, cand), first kept. d2 recomputes are
    * bit-stable, so keying on the ids collapses exactly what the
    * relational DISTINCT does — including NaN d2 rows, which a
    * whole-tuple `Seq.distinct` keeps apart (NaN != NaN) so that each
    * copy spends a beam slot. */
  private def distinctCand(
      rows: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] =
    rows.distinctBy(t => (t._1, t._2))

  /** Global rank 0..n-1 of every vector by (Σᵢ v[i], id) —
    * bit-identical to `row_number().over(Window.orderBy(proj, id))`
    * but DISTRIBUTED (VERDICT r12 #2): the unpartitioned window this
    * replaces funneled the ENTIRE vector table through ONE task to be
    * numbered — invisible at sf0.1, the textbook single-partition
    * sort bottleneck at 100 TB. Here the table is range-partitioned
    * on the sort key, sorted within partitions (a parallel
    * total-order sort — the partitioner guarantees partition i's
    * keys precede partition i+1's), and numbered by the
    * per-partition-counts → cumulative-offsets pattern
    * (RDD.zipWithIndex: one lightweight count job, then a map).
    * (id, Σv) is unique per row (ids are unique), so the rank is a
    * pure function of the data — partition count and boundary
    * placement cannot change it (InvarianceSpec-class property;
    * q231/q232 hashes are the gate).
    *
    * The Σᵢ v[i] fold is left-to-right — bit-equal to DuckDB's
    * list_sum (the q148/q154 contract), so projection ranks agree
    * across engines. */
  private[graft] def projRanked(vecs: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val proj = aggregate(col("v"), lit(0.0), (a, x) => a + x)
    val sorted = vecs.select(col("id"), col("v"), proj.as("p"))
      .repartitionByRange(col("p"), col("id"))
      .sortWithinPartitions(col("p"), col("id"))
    sorted.select(col("id"), col("v")).rdd
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .zipWithIndex
      .map { case ((id, v), rn) => (id, v, rn) }
      .toDF("id", "v", "rn")
  }

  /** The rank-spaced entry candidates for [[greedyTrace]] —
    * `entryCand` rows at projection ranks ⌊q·n/entryCand⌋, the same
    * rank order [[knnGraph]]'s ring init used. Computed ONCE at build
    * time and persisted WITH the graph (the q232 protocol): the r12
    * serve path re-ranked the whole corpus on every call, paying the
    * full-table sort per trace for a frame that is a pure function of
    * the stored vectors. Returns (node_id, v), ≤ entryCand rows. */
  def entryCandidates(vecs: DataFrame, entryCand: Int = 32)
      : DataFrame = {
    val n = vecs.count()
    val entryRanks = (0 until entryCand).map(q => n * q / entryCand)
      .distinct
    projRanked(vecs.select(col("id"), col("v")))
      .filter(col("rn").isin(entryRanks: _*))
      .select(col("id").as("node_id"), col("v"))
  }

  /** ENTRY-FRAME REFRESH for the append path (VERDICT r15 #2) —
    * re-derives the rank-spaced entry frame from the GROWN corpus
    * under the build's own rule ([[entryCandidates]]: entryCand rows
    * at projection ranks ⌊q·n/entryCand⌋). [[appendToGraph]] refreshes
    * ADJACENCY but never the entry frame, and the measured graph-ANN
    * serve replication sweep (BASELINE.md round 15) showed what
    * that costs: a fixed 32-entry frame's serve recall decays
    * 0.540 → 0.175 as disjoint regions grow the corpus 10×, because
    * entry COVERAGE thins — the graph and the walk are fine. This is
    * the operator the "schedule refreshes by entry-frame staleness"
    * guidance schedules: one O(N log N) rank pass over the grown
    * corpus (no edge work at all), vs the O(N·cap²·rounds) rebuild.
    * The append+refresh column of BASELINE.md round 16's drift
    * table measures the effect per append stage next to the
    * append-with-stale-entries and full-rebuild lines. Pass the grown
    * corpus (base ∪ every appended batch); size `entryCand` with the
    * corpus' region/cluster count (the sweep's 32·m rule held recall
    * exactly flat). */
  def refreshEntries(vecs: DataFrame, entryCand: Int = 32): DataFrame =
    entryCandidates(vecs, entryCand)

  /** Best-effort release of a DEAD localCheckpoint state's storage
    * blocks. `Dataset.unpersist` only talks to the cache manager and
    * never touches checkpoint blocks, and the context cleaner frees
    * them only on a periodic driver-GC sweep — so a loop that
    * checkpoints per iteration must drop the previous iteration's
    * blocks itself once nothing can read them again. The checkpointed
    * Dataset's analyzed plan is a LogicalRDD over exactly the
    * persisted RDD; unpersisting that RDD frees the blocks. MUST only
    * be called on states no later plan will re-read (checkpoint
    * blocks are the sole copy — a post-release read would fail, not
    * recompute). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Build the k-NN graph over `vecs` (id: long, v: array<double>).
    * Returns (u, rank, nb, d2) with rank 1..k per node, d2 raw
    * (callers round for display). */
  def knnGraph(vecs: DataFrame, k: Int, cap: Int, rounds: Int)
      : DataFrame = {
    val vv = vecs.select(col("id"), col("v")).persist()
    val n = vv.count()
    val ranked = projRanked(vv).persist()
    ranked.count()
    // every round's edge state is localCheckpoint'd: materialized
    // (unpersisting round r-1 inside a persist chain re-compiled and
    // recomputed the whole chain — measured 0.5/0.8/3.1 s over 3
    // rounds) AND lineage-truncated — round r's plan references round
    // r-1's tree TWICE (undirect + keep-k union), so an untruncated
    // chain grows ~2^rounds and OOMs in plan stringification from
    // rounds ≥ 5 (hit by the build-knob geometry sweep, BASELINE.md
    // round 16; persist alone cannot fix it — the q240 lesson).
    // DEAD round states (N·k rows each) are released explicitly as
    // soon as the next round materializes — checkpoint blocks are the
    // data's ONLY copy (not LRU-evictable like a persist), so leaving
    // rounds+1 of them per build to the periodic context-cleaner
    // sweep would accumulate storage across multi-build runs (the
    // round-16 knob sweep ran 12 builds per dataset). Only the FINAL round's
    // blocks stay: they back the returned output's recompute path.
    var edges = ranked
      .select(col("id").as("u"), col("v").as("uv"), col("rn"),
        explode(expr(s"sequence(1, $k)")).as("o"))
      .select(col("u"), col("uv"),
        ((col("rn") + col("o")) % n).as("rn2"))
      .join(ranked.select(col("rn").as("rn2"), col("id").as("nb"),
        col("v").as("nv")), "rn2")
      .select(col("u"), col("nb"), d2(col("uv"), col("nv")).as("d2"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val prevRound = edges
      // capped co-neighbor lists in ONE aggregation per node: undirect
      // (d2 is exactly symmetric — (a-b)^2 == (b-a)^2 in IEEE, same
      // index order both ways, so duplicates are bit-equal), then
      // sort_array on struct(d2, y) IS the (d2, id) total order,
      // array_distinct collapses the both-directions duplicates
      // (first occurrence of bit-equal structs), slice caps. The
      // distinct + row_number window formulation this replaces spent
      // three exchanges on the same result (r12 A/B: hash-identical
      // at all three SFs, build median 11.6 → 7.0 s at sf0.1)
      val nxArr = edges.select(col("u").as("x"),
          struct(col("d2"), col("nb").as("y")).as("e"))
        .unionAll(edges.select(col("nb").as("x"),
          struct(col("d2"), col("u").as("y")).as("e")))
        .groupBy(col("x"))
        // fused sort+distinct+cap kernel (r17): the generic
        // slice(array_distinct(sort_array(..))) chain was the build's
        // dominant executor cost — interpreted struct ordering plus a
        // per-element boxed copy in Slice; same (d2, id) total order,
        // same ordering-equivalence dedup, identical output
        // (SortedStructTopKSpec pins parity, q231/q232/q240/q243/q244
        // hash-gate it end-to-end)
        .agg(graft.expressions.SortedStructTopK(
          collect_list(col("e")), cap).as("ns"))
      // co-neighbor pairs explode MAP-SIDE from the capped array —
      // no self-join; duplicate (u, nb) pairs across hub nodes just
      // recompute a bit-identical d2 and collapse in the final dedup
      val cp = nxArr.select(
          explode(expr("transform(ns, e -> e.y)")).as("u"), col("ns"))
        .select(col("u"),
          explode(expr("transform(ns, e -> e.y)")).as("nb"))
        .filter(col("u") =!= col("nb"))
      val cd = cp
        .join(vv.select(col("id").as("u"), col("v").as("uv")), "u")
        .join(vv.select(col("id").as("nb"), col("v").as("nv")), "nb")
        .select(col("u"), col("nb"), d2(col("uv"), col("nv")).as("d2"))
      // keep-k: the same one-aggregation shape (sort, dedup, cap)
      edges = edges.unionAll(cd)
        .select(col("u"), struct(col("d2"), col("nb")).as("e"))
        .groupBy(col("u"))
        .agg(graft.expressions.SortedStructTopK(
          collect_list(col("e")), k).as("es"))
        .select(col("u"), explode(col("es")).as("e"))
        .select(col("u"), col("e.nb").as("nb"), col("e.d2").as("d2"))
        .localCheckpoint()
      releaseCheckpoint(prevRound)
    }
    // the ranked output reads the final checkpointed round — a
    // shallow plan whatever `rounds` was; persisted for the caller
    // (the OWNERSHIP contract is unchanged)
    val out = edges.withColumn("rank", row_number().over(
        Window.partitionBy(col("u")).orderBy(col("d2"), col("nb"))))
      .select(col("u"), col("rank"), col("nb"), col("d2"))
    out.persist().count()
    ranked.unpersist()
    vv.unpersist()
    out
  }

  /** Append a BATCH of new vectors to a BUILT graph without
    * retraining (q240) — the ingest face IVF got with q208, closing
    * the index-lifecycle story for the graph family: new vectors
    * currently meant a full O(N·cap²·rounds) rebuild; this reads ONLY
    * the two stored artifacts plus the vectors it touches.
    *
    * Protocol (HNSW's search-then-link insert, made replayable):
    * each new vector (nid, qv)
    *
    *  1. scores the persisted entry candidates and seeds a
    *     width-`beam` frontier from its best by (d2, id) — the same
    *     routing q232's serve uses;
    *  2. walks `hops` beam-search rounds over the stored neighbor
    *     lists (frontier ∪ frontier's neighbors, keep `beam`) and
    *     takes its `k` best over EVERYTHING the walk scored (the
    *     visited-set return contract, same as beamTopKBulk) → the new
    *     node's adjacency;
    *  3. REVERSE-links: every (old ← new) edge competes into the old
    *     node's stored list under the same (d2, nb) total order —
    *     old nodes whose top-k actually admits a new neighbor emit
    *     their full updated list.
    *
    * TWO walk engines, ONE semantics (a driver walk in the
    * greedyTrace shape, with a parity gate): a batch of ≤ `smallBatch`
    * vectors walks DRIVER-side — per hop one job joining a literal
    * frontier against the stored lists, the q232 serving shape,
    * because a 9-stage relational hop chain costs more in stage
    * scheduling than it computes for a probe-sized batch (measured
    * 21 s vs ~4 s at sf0.1) — while a bulk batch rides the fully
    * RELATIONAL unrolled plan (equi-joins keyed on the frontier,
    * windows partitioned per new node), whose fixed depth amortizes
    * over any batch size. Both paths score with the same ArrayL2Sq
    * kernel under the same (d2, id) total orders, so their outputs
    * are BIT-IDENTICAL (NnDescentSpec pins equality on a fixture;
    * the q240 oracle replays the shared protocol).
    *
    * Returns (u, rank, nb, d2): the new nodes' lists plus the
    * refreshed old lists. Batch-internal pairs (new-new edges) are
    * deferred to the next full refresh — the standard append-only
    * trade, stated here so the dataset card can say it. Cost per new
    * vector: entryCand entry scores + hops·beam·k stored edges + one
    * keyed merge into the affected old lists — independent of corpus
    * size.
    *
    * MEASURED drift (append-path drift, BASELINE.md round 15):
    * through 5 append batches of 5% each (25% total growth), base-probe
    * recall@8 against the GROWN corpus never drops below the
    * same-geometry full rebuild — search-insert places each new node
    * near-exactly over the already-converged graph, while a fresh
    * 3-round build re-pays ring-init convergence (clustered: append
    * 0.67→0.63 vs rebuild 0.57→0.54). Refresh guidance: a full
    * rebuild buys nothing at ≤ 25% growth under this geometry;
    * schedule [[refreshEntries]] over the grown corpus by ENTRY-FRAME
    * staleness (appends refresh adjacency, never the entry frame,
    * and stale entries are the measured decay axis — one rank pass
    * fixes it without touching an edge), and re-measure recall
    * against an exact baseline when the data distribution shifts.
    *
    * `graph`: the persisted (u, nb, d2) edge list; `vecs`: (id, v);
    * `newVecs`: (nid, qv) with ids disjoint from `vecs`;
    * `entries`: the persisted (node_id, v) entry candidates.
    *
    * OWNERSHIP: the returned DataFrame is PERSISTED (materialized
    * while the intermediate caches are alive); the caller unpersists
    * once its downstream result has materialized (q240 localizes its
    * bounded output; NnDescentSpec releases after its assertions). */
  def appendToGraph(graph: DataFrame, vecs: DataFrame,
      newVecs: DataFrame, k: Int, beam: Int, hops: Int,
      entries: DataFrame, smallBatch: Int = 1024): DataFrame = {
    val nv = newVecs.select(col("nid"), col("qv"))
    val useDriver = nv.count() <= smallBatch
    val temp = scala.collection.mutable.Buffer.empty[DataFrame]
    val newAdj =
      if (useDriver) newAdjDriver(graph, vecs, nv, k, beam, hops,
        entries)
      // localCheckpoint: materialized AND lineage-truncated — the
      // unrolled walk references each frontier subtree twice per hop,
      // so an un-truncated plan tree grows ~2^hops on top of however
      // deep the graph's own lineage is (measured: OOM in plan
      // stringification on a spec fixture)
      else newAdjRelational(graph, vecs, nv, k, beam, hops, entries)
        .localCheckpoint()
    // stage 3: reverse-link — merge (old ← new) edges into the
    // affected old lists under the same (d2, nb) order, emit only
    // lists the merge actually changed. merged feeds both the
    // admitted test and the refreshed lists — persist it.
    val rev = newAdj.select(col("nb").as("u"), col("u").as("nb"),
      col("d2"))
    val merged = graph.join(rev.select(col("u")).distinct(), Seq("u"),
        "left_semi")
      .select(col("u"), col("nb"), col("d2"))
      .unionByName(rev)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("u")).orderBy(col("d2"), col("nb"))))
      .filter(col("rank") <= k)
      .persist()
    temp += merged
    // "changed" = the merged top-k admitted at least one new id; the
    // new-id test is membership in the batch, carried via a semi join
    val admitted = merged.join(
        nv.select(col("nid").as("nb")), Seq("nb"), "left_semi")
      .select(col("u")).distinct()
    val refreshed = merged.join(admitted, Seq("u"), "left_semi")
      .select(col("u"), col("rank"), col("nb"), col("d2"))
    // materialize while the intermediates are cached, then release
    // them (the knnGraph pattern); the output stays persisted —
    // caller-owned (see OWNERSHIP above)
    val out = newAdj.unionByName(refreshed)
    out.unpersist()
    out.persist().count()
    temp.foreach(_.unpersist())
    out
  }

  /** Apply an [[appendToGraph]] result to the stored edge list: every
    * node present in `appended` (new nodes and refreshed old ones)
    * has its stored list REPLACED by the appended rows; everything
    * else is carried unchanged — the keyed-merge a serving tier runs
    * between the ingest call and the artifact rewrite. One anti-join
    * + union, both keyed on u. */
  def applyAppend(graph: DataFrame, appended: DataFrame): DataFrame =
    graph.join(appended.select(col("u")).distinct(), Seq("u"),
        "left_anti")
      .select(col("u"), col("rank"), col("nb"), col("d2"))
      .unionByName(appended.select(col("u"), col("rank"), col("nb"),
        col("d2")))

  /** The driver-side walk (small batches): per hop ONE job joining a
    * literal frontier frame against the stored lists — the
    * greedyTrace shape. Bit-identical to [[newAdjRelational]]: same
    * kernel, same (d2, id) orders, same visited-set dedup on
    * identical (bit-stable) triples. Returns a LOCAL (u, rank, nb,
    * d2) frame. */
  private def newAdjDriver(graph: DataFrame, vecs: DataFrame,
      nv: DataFrame, k: Int, beam: Int, hops: Int,
      entries: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val nvLocal = nv.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    // stage 1: one job scoring the entry frame (same expressions as
    // the relational path -> bit-equal doubles)
    val s0 = nv.crossJoin(broadcast(
        entries.select(col("node_id").as("cand"), col("v"))))
      .select(col("nid"), col("cand"),
        d2(col("qv"), col("v")).as("d2"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val visited =
      scala.collection.mutable.LinkedHashSet[(Long, Long, Double)]()
    visited ++= s0
    def topB(rows: Seq[(Long, Long, Double)],
        n: Int): Seq[(Long, Long, Double)] =
      distinctCand(rows).groupBy(_._1).values.flatMap(
        _.sortBy(t => (t._3, t._2)).take(n)).toSeq
        .sortBy(t => (t._1, t._3, t._2))
    var frontier = topB(s0, beam)
    val qvOf = nvLocal.toMap
    for (_ <- 1 to hops) {
      val curDf = frontier.map { case (nid, cand, d2v) =>
        (nid, qvOf(nid), cand, d2v)
      }.toDF("nid", "qv", "cand", "d2")
      val stepped = broadcast(curDf)
        .join(graph.select(col("u").as("cand"), col("nb")), "cand")
        .join(vecs.select(col("id").as("nb"), col("v").as("nv2")),
          "nb")
        .select(col("nid"), col("nb").as("cand"),
          d2(col("qv"), col("nv2")).as("d2"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val hopSet = distinctCand(stepped ++ frontier)
      visited ++= hopSet
      frontier = topB(hopSet, beam)
    }
    val adj = topB(visited.toSeq, k).groupBy(_._1).values.flatMap {
      rows =>
        rows.sortBy(t => (t._3, t._2)).zipWithIndex.map {
          case ((nid, cand, d2v), i) => (nid, i + 1, cand, d2v)
        }
    }.toSeq.sortBy(r => (r._1, r._2))
    adj.toDF("u", "rank", "nb", "d2")
  }

  /** The fully relational walk (bulk batches): every hop an
    * equi-join keyed on the frontier, windows partitioned per new
    * node — fixed plan depth however large the batch. Every hop
    * frame is eagerly localCheckpoint'd: it feeds BOTH the next
    * frontier and the final visited-set union (the
    * multi-referenced-CTE trap), and checkpointing — unlike
    * persist — also TRUNCATES the logical plan, which otherwise
    * doubles per hop. */
  private def newAdjRelational(graph: DataFrame, vecs: DataFrame,
      nv: DataFrame, k: Int, beam: Int, hops: Int,
      entries: DataFrame): DataFrame = {
    val s0 = nv.crossJoin(broadcast(
        entries.select(col("node_id").as("cand"), col("v"))))
      .select(col("nid"), col("cand"),
        d2(col("qv"), col("v")).as("d2"))
      .localCheckpoint()
    def topB(df: DataFrame, n: Int): DataFrame =
      df.withColumn("rk", row_number().over(
          Window.partitionBy(col("nid"))
            .orderBy(col("d2"), col("cand"))))
        .filter(col("rk") <= n)
        .select(col("nid"), col("cand"), col("d2"))
    val visited = scala.collection.mutable.Buffer[DataFrame](s0)
    var frontier = topB(s0, beam)
    for (_ <- 1 to hops) {
      val stepped = frontier
        .join(broadcast(nv), "nid")
        .join(graph.select(col("u").as("cand"), col("nb")), "cand")
        .join(vecs.select(col("id").as("nb"), col("v").as("nv2")),
          "nb")
        .select(col("nid"), col("nb").as("cand"),
          d2(col("qv"), col("nv2")).as("d2"))
        .unionByName(frontier)
        .distinct()
        .localCheckpoint()
      visited += stepped
      frontier = topB(stepped, beam)
    }
    visited.reduce(_ unionByName _).distinct()
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("nid"))
          .orderBy(col("d2"), col("cand"))))
      .filter(col("rank") <= k)
      .select(col("nid").as("u"), col("rank"),
        col("cand").as("nb"), col("d2"))
  }

  /** Beam search over a built graph with SAMPLED entry routing — the
    * deterministic core of HNSW's ef-search plus an IVF-flavored
    * coarse stage: every probe scores `entryCand` candidates at
    * evenly spaced projection ranks (rank ⌊q·n/entryCand⌋) and starts
    * its width-`beam` frontier at the best `beam` of them; each hop
    * the frontier becomes the best `beam` of {frontier} ∪ {frontier's
    * graph neighbors} by (d2 to the probe, id). Both stages are
    * load-bearing on clustered data: a k-NN graph of well-separated
    * clusters is DISCONNECTED, so no amount of beam can leave the
    * entry's component (NnDescentSpec's stall case — pure greedy from
    * one entry froze at d2≈5 where within-cluster is ≈0.4) — the
    * rank-spaced sample puts an entry candidate inside every
    * rank-contiguous component, and the beam then descends within the
    * right one. The best frontier element is monotone non-increasing
    * by construction. Returns the per-hop BEST as the trace
    * (query_id, hop, node_id, d2 raw) — the walk IS the protocol, and
    * its serving cost (entryCand vectors once, then beam·k edges +
    * beam·k vectors per hop) is independent of corpus size.
    *
    * `graph`: (u, nb) edges; `vecs`: (id, v); `probes`:
    * (query_id, qv). All probe-side frames stay probe-sized.
    *
    * The no-`entries` overload derives the entry candidates from
    * `vecs` on the spot (one [[entryCandidates]] rank pass) —
    * convenience for ad-hoc traces; a SERVING path should build them
    * once with the graph and call the explicit-entries overload (the
    * q232 protocol) so no per-call pass over the corpus remains. */
  def greedyTrace(graph: DataFrame, vecs: DataFrame, probes: DataFrame,
      hops: Int, beam: Int = 4, entryCand: Int = 32): DataFrame =
    greedyTrace(graph, vecs, probes, hops, beam,
      entryCandidates(vecs, entryCand))

  /** [[greedyTrace]] with PRE-BUILT entry candidates (node_id, v) —
    * the serving form: reads only the persisted graph, the persisted
    * entries, and the k vectors each hop touches. */
  def greedyTrace(graph: DataFrame, vecs: DataFrame, probes: DataFrame,
      hops: Int, beam: Int, entries: DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // probe vectors land on the driver ONCE (probe-sized by
    // contract); each hop's frontier is then rebuilt from literal
    // rows, so hop plans never chain — a persisted-frontier chain
    // re-derived the full lineage each hop (measured 0.4 → 36 s/hop
    // over 8 hops before this)
    val pr = probes.select(col("query_id"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val prDf = broadcast(pr.toDF("query_id", "qv"))
    def curDf(pos: Seq[(Long, Long, Double)]): DataFrame =
      pos.toDF("query_id", "node_id", "d2")
        .join(prDf, "query_id")
        .select(col("query_id"), col("qv"), col("node_id"), col("d2"))
    // the beam starts at the best `beam` of the entry candidates per
    // probe (entries: ≤ entryCand rows by the entryCandidates
    // contract — the crossJoin is probe-sized × entry-sized)
    var pos: Seq[(Long, Long, Double)] = prDf.crossJoin(
        entries.select(col("node_id"), col("v")))
      .select(col("query_id"), col("node_id"),
        d2(col("qv"), col("v")).as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("node_id"))))
      .filter(col("rk") <= beam)
      .select(col("query_id"), col("node_id"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(p => (p._1, p._3, p._2))
    def best(p: Seq[(Long, Long, Double)]): Seq[(Long, Long, Double)] =
      p.groupBy(_._1).values
        .map(_.minBy(t => (t._3, t._2))).toSeq.sortBy(_._1)
    val trace = Seq.newBuilder[(Long, Int, Long, Double)]
    trace ++= best(pos).map(p => (p._1, 0, p._2, p._3))
    for (h <- 1 to hops) {
      val cur = curDf(pos)
      // the hop collects the scored neighbor expansion in ONE job and
      // dedups + beam-cuts DRIVER-side (r17, VERDICT r16 #5 — the
      // pattern newAdjDriver uses): the frame is bounded at
      // probes·beam·k rows by the walk contract, so an in-plan
      // DISTINCT + row_number window spent two keyed shuffles per hop
      // on data that fits in one task. distinctCand collapses exactly
      // what DISTINCT did (a candidate reached from two beam nodes, or
      // already in the beam, spends one slot), and sortBy (d2, cand)
      // is the same total order the window ranked by — the kept set
      // is identical.
      val expanded = cur.join(graph.select(col("u").as("node_id"),
          col("nb")), "node_id")
        .join(vecs.select(col("id").as("nb"), col("v").as("nv")), "nb")
        .select(col("query_id"), col("nb").as("cand"),
          d2(col("qv"), col("nv")).as("d2"))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getDouble(2))).toSeq
      pos = distinctCand(expanded ++ pos)
        .groupBy(_._1).values
        .flatMap(_.sortBy(t => (t._3, t._2)).take(beam))
        .toSeq.sortBy(p => (p._1, p._3, p._2))
      trace ++= best(pos).map(p => (p._1, h, p._2, p._3))
    }
    trace.result().toDF("query_id", "hop", "node_id", "d2")
  }

  /** Beam-search TOP-K serving as a fully RELATIONAL unrolled plan —
    * the scan-tier engine, for corpora past the hot replica's RAM
    * budget. The walk is [[greedyTrace]]'s, but each probe returns its
    * k best DISTINCT nodes across EVERYTHING the walk scored (entry
    * candidates + every hop's frontier ∪ neighbor expansion): HNSW's
    * ef-search return contract, where the answer set is the best of
    * the visited set, not the final beam. The walk may route THROUGH
    * a stored probe's own node but never returns it (the self-
    * exclusion applies to the answer set, not the beam). Returns
    * (query_id, rank 1..k, node_id, d2).
    *
    * Shape: the [[newAdjRelational]] plan keyed on query_id — entry
    * scoring, `hops` beam rounds (equi-joins on the frontier, windows
    * partitioned per probe), and the visited-set top-k ride ONE
    * fixed-depth plan whose cost amortizes over any batch size and
    * whose state stays executor-side, with per-hop `localCheckpoint`
    * (materializes AND truncates lineage — each hop frame feeds both
    * the next frontier and the final visited union, the
    * multi-referenced-subtree trap).
    *
    * BIT-IDENTICAL to [[beamTopKHot]] (NnDescentSpec pins equality on
    * a fixture; q243 and q244 hash both against one oracle): same
    * ArrayL2Sq kernel, same (d2, id) total orders, dedup keyed on
    * (query_id, cand). [[GraphAnnIndex.serve]] picks between the
    * two. */
  def beamTopKBulk(graph: DataFrame, vecs: DataFrame,
      probes: DataFrame, hops: Int, beam: Int, k: Int,
      entries: DataFrame): DataFrame =
    beamTopKBulk(graph, vecs, probes, hops, beam, k, entries, None)

  /** [[beamTopKBulk]] with an optional PRE-JOINED adjacency `adj`
    * (u, nb, nv = nb's vector): the serving-tier layout — storing
    * each neighbor's vector NEXT TO the edge trades k× vector-storage
    * inflation for HALF the per-hop join work (one equi-join instead
    * of edge-join + vector-join). Scoring reads the same doubles
    * through the same kernel, so results are bit-identical with and
    * without `adj` (NnDescentSpec pins it); `graph` and `vecs` are
    * unused when `adj` is given. */
  def beamTopKBulk(graph: DataFrame, vecs: DataFrame,
      probes: DataFrame, hops: Int, beam: Int, k: Int,
      entries: DataFrame, adj: Option[DataFrame]): DataFrame = {
    val hopAdj = adj.getOrElse(
      graph.select(col("u"), col("nb"))
        .join(vecs.select(col("id").as("nb"), col("v").as("nv")),
          "nb")
        .select(col("u"), col("nb"), col("nv")))
    val pv = probes.select(col("query_id"), col("qv"))
    val s0 = pv.crossJoin(broadcast(
        entries.select(col("node_id").as("cand"), col("v"))))
      .select(col("query_id"), col("cand"),
        d2(col("qv"), col("v")).as("d2"))
      .localCheckpoint()
    def topB(df: DataFrame, n: Int): DataFrame =
      df.withColumn("rk", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("d2"), col("cand"))))
        .filter(col("rk") <= n)
        .select(col("query_id"), col("cand"), col("d2"))
    val visited = scala.collection.mutable.Buffer[DataFrame](s0)
    var frontier = topB(s0, beam)
    for (_ <- 1 to hops) {
      val stepped = frontier
        .join(pv, "query_id")
        .join(hopAdj.select(col("u").as("cand"), col("nb"),
          col("nv")), "cand")
        .select(col("query_id"), col("nb").as("cand"),
          d2(col("qv"), col("nv")).as("d2"))
        .unionByName(frontier)
        .distinct()
        .localCheckpoint()
      visited += stepped
      frontier = topB(stepped, beam)
    }
    visited.reduce(_ unionByName _).distinct()
      .filter(col("cand") =!= col("query_id"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("d2"), col("cand"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("cand").as("node_id"), col("d2"))
  }

  /** RAM-RESIDENT serving artifacts: the graph's adjacency, the
    * touched vectors, and the entry candidates collected once and
    * broadcast to every executor — the deployment shape every
    * production graph-ANN serving tier actually uses (HNSW replicas
    * hold graph + vectors in memory; the walk never leaves the
    * node). The RAM precondition — corpus × (k edges + dim doubles)
    * must fit executor memory, the envelope real HNSW deployments
    * live in (≈10⁸ vectors on big-memory nodes) — is ENFORCED by
    * [[hotArtifacts]], not just documented; [[GraphAnnIndex.serve]]
    * falls back to [[beamTopKBulk]] past it. Neighbor lists are
    * stored sorted by id (dedup insurance only — the walk's orders
    * are all (d2, id)). */
  final case class HotGraph(
      adj: Map[Long, Array[Long]],
      vec: Map[Long, Array[Double]],
      entries: Array[(Long, Array[Double])]) extends Serializable

  /** Estimated JVM bytes of the [[HotGraph]] replica BEFORE building
    * it, from the artifacts' own counts: per edge one boxed Long in a
    * neighbor array plus its share of the adjacency map entry (~16 B
    * in a Long→Array map once array headers amortize); per vector a
    * map entry + boxed key + array header (~72 B) plus 8·dim payload;
    * entries are entryCand vector rows (the same per-row shape). A
    * deliberate UNDER-estimate is the failure mode this guard exists
    * to prevent, so the constants lean high and a fixed 64 KiB covers
    * the struct roots. */
  private[graft] def estimateHotBytes(nVecs: Long, nEdges: Long,
      dim: Int, nEntries: Long = 32L): Long =
    nEdges * 16L + (nVecs + nEntries) * (8L * dim + 72L) + 65536L

  /** The default replica budget: 40% of `spark.executor.memory` when
    * set (each executor holds the whole broadcast NEXT TO its working
    * heap — shuffle buffers, task state, the probe batch), else 40%
    * of this JVM's max heap (local mode, where driver and executor
    * share one heap and the driver's own collect+broadcast copy
    * doubles the peak). */
  private[graft] def defaultHotBudget(
      spark: org.apache.spark.sql.SparkSession): Long = {
    val conf = spark.conf.getOption("spark.executor.memory")
    val bytes = conf.map(parseMemoryString)
      .getOrElse(Runtime.getRuntime.maxMemory)
    (bytes * 0.4).toLong
  }

  /** `spark.executor.memory`-style size string → bytes. A UNIT-LESS
    * value means MiB (Spark's JVM-memory convention: the conf is
    * bytesConf(ByteUnit.MiB)) — reading it as bytes would shrink the
    * budget ~10⁶× and spuriously refuse every replica. */
  private[graft] def parseMemoryString(s: String): Long = {
    val t = s.trim.toLowerCase
    val num = t.takeWhile(c => c.isDigit || c == '.')
    val mult = t.drop(num.length) match {
      case "k" | "kb" => 1L << 10
      case "m" | "mb" => 1L << 20
      case "g" | "gb" => 1L << 30
      case "t" | "tb" => 1L << 40
      case ""         => 1L << 20
      case _          => 1L
    }
    (num.toDouble * mult).toLong
  }

  /** The [[HotGraph]] replica's size BEFORE building it:
    * [[estimateHotBytes]] over the artifacts' own counts (three count
    * jobs and one head over the stored frames, nothing collected). */
  final case class HotSize(nVecs: Long, nEdges: Long, dim: Int,
      bytes: Long)

  def hotSize(graph: DataFrame, vecs: DataFrame,
      entries: DataFrame): HotSize = {
    val nVecs = vecs.count()
    val nEdges = graph.count()
    val nEntries = entries.count()
    val dim =
      if (nVecs == 0L) 0
      else vecs.select(size(col("v"))).head().getInt(0)
    HotSize(nVecs, nEdges, dim,
      estimateHotBytes(nVecs, nEdges, dim, nEntries))
  }

  /** Build the broadcast RAM replica — with the RAM contract ENFORCED
    * (VERDICT r15 #3: this was the one operator in the repo whose
    * failure mode at 100× scale was an unexplained OOM rather than a
    * slow plan). Before collecting anything, the replica size is
    * estimated ([[hotSize]]) and checked against `maxBytes` (default
    * [[defaultHotBudget]]: 40% of executor memory); past the budget
    * the call REFUSES with the numbers and the fallback engine named,
    * instead of OOMing inside a collect. */
  def hotArtifacts(graph: DataFrame, vecs: DataFrame,
      entries: DataFrame, maxBytes: Option[Long] = None)
      : org.apache.spark.broadcast.Broadcast[HotGraph] = {
    val est = hotSize(graph, vecs, entries)
    val budget = maxBytes.getOrElse(defaultHotBudget(vecs.sparkSession))
    require(est.bytes <= budget,
      f"hotArtifacts: estimated replica size ${est.bytes}%,d bytes " +
        f"(${est.nVecs}%,d vectors x dim ${est.dim} + " +
        f"${est.nEdges}%,d edges) exceeds " +
        f"the RAM budget $budget%,d bytes (40%% of executor memory, " +
        "or the explicit maxBytes arg). The hot tier is for corpora " +
        "that fit executor RAM; past it serve with beamTopKBulk (the " +
        "scan-tier relational engine, same results bit-for-bit) or " +
        "raise maxBytes deliberately.")
    replicate(graph, vecs, entries)
  }

  /** Collect and broadcast the replica, unguarded: the caller has
    * already weighed [[hotSize]] against its budget. Every neighbor
    * id the adjacency references must resolve in `vecs` (ADVICE r15:
    * a stale corpus after appends used to surface as a bare
    * NoSuchElementException inside an executor task mid-walk) — the
    * mismatch fails fast here, naming the missing ids. */
  private[graft] def replicate(graph: DataFrame, vecs: DataFrame,
      entries: DataFrame)
      : org.apache.spark.broadcast.Broadcast[HotGraph] = {
    val adj = graph.select(col("u"), col("nb")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, es) =>
        (u, es.map(_._2).distinct.sorted)
      }
    val vec = vecs.select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    val missing = adj.valuesIterator.flatten
      .filter(id => !vec.contains(id)).toSet
    require(missing.isEmpty,
      "hotArtifacts: " +
        staleCorpus(s"${missing.size} neighbor id(s)", missing.toSeq))
    val ent = entries.select(col("node_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    vecs.sparkSession.sparkContext.broadcast(
      HotGraph(adj, vec, ent))
  }

  /** [[replicate]]'s stale-corpus check for the relational engine,
    * which never collects the corpus: one anti-join aggregate over the
    * stored edge list and vectors, naming the smallest missing id. */
  private[graft] def requireFresh(graph: DataFrame,
      vecs: DataFrame): Unit = {
    val r = graph.select(col("nb"))
      .join(vecs.select(col("id").as("nb")), Seq("nb"), "left_anti")
      .agg(count(lit(1)), min(col("nb"))).head()
    val n = r.getLong(0)
    require(n == 0L,
      staleCorpus(s"$n edge(s) to neighbor id(s)", Seq(r.getLong(1))))
  }

  private def staleCorpus(missing: String, sample: Seq[Long]): String =
    s"the adjacency references $missing absent from vecs (e.g. " +
      s"${sample.sorted.take(10).mkString(", ")}) — the corpus is stale " +
      "relative to the graph (appended batches missing from vecs?). " +
      "Pass the grown corpus the graph was built/appended over."

  /** Beam-search top-k ([[beamTopKBulk]]'s return contract) against
    * RAM-resident artifacts — ONE job, each task walking its probes
    * locally (the hot-tier engine: the relational engine pays a job
    * per hop; a RAM replica makes the whole walk one map). Scoring
    * replicates [[graft.expressions.ArrayL2Sq]]'s exact IEEE fold
    * (d = x−y, acc += d·d, left to right), every order is the same
    * (d2, id) total order, dedup keys on the node id and the probe's
    * own id is never returned — outputs are BIT-IDENTICAL to
    * [[beamTopKBulk]] (NnDescentSpec pins it). The walk stops early
    * at a fixed point: once a hop leaves the frontier unchanged, every
    * later hop would rescore the same set. Per-probe state is
    * O(entryCand + hops·beam·k) and the walk is a pure per-row
    * function — partition count cannot change results. */
  def beamTopKHot(
      hot: org.apache.spark.broadcast.Broadcast[HotGraph],
      probes: DataFrame, hops: Int, beam: Int, k: Int): DataFrame = {
    val spark = probes.sparkSession
    import spark.implicits._
    probes.select(col("query_id"), col("qv"))
      .as[(Long, Seq[Double])]
      .mapPartitions { iter =>
        val g = hot.value
        def l2sq(a: Array[Double], b: Array[Double]): Double = {
          var acc = 0.0
          var i = 0
          while (i < a.length) {
            val d = a(i) - b(i)
            acc += d * d
            i += 1
          }
          acc
        }
        iter.flatMap { case (q, qvSeq) =>
          val qv = qvSeq.toArray
          val seen =
            scala.collection.mutable.LinkedHashMap.empty[Long, Double]
          def note(c: Long, d: Double): Unit =
            if (c != q && !seen.contains(c)) seen.put(c, d)
          val s0 = g.entries.map { case (c, v) => (c, l2sq(qv, v)) }
          s0.foreach { case (c, d) => note(c, d) }
          var pos = s0.sortBy(p => (p._2, p._1)).take(beam).toSeq
          var h = 0
          var fixed = false
          while (h < hops && !fixed) {
            h += 1
            val stepped = pos.flatMap { case (u, _) =>
              g.adj.getOrElse(u, Array.empty[Long]).map { nb =>
                (nb, l2sq(qv, g.vec(nb)))
              }
            }
            stepped.foreach { case (c, d) => note(c, d) }
            // keyed on the node id, as distinctCand is
            val next = (pos ++ stepped).distinctBy(_._1)
              .sortBy(p => (p._2, p._1)).take(beam)
            fixed = next == pos
            pos = next
          }
          seen.toSeq.map { case (c, d) => (c, d) }
            .sortBy(p => (p._2, p._1)).take(k).zipWithIndex
            .map { case ((c, d), i) => (q, i + 1, c, d) }
        }
      }
      .toDF("query_id", "rank", "node_id", "d2")
  }
}
