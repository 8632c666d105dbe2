package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Whole-corpus Lloyd's k-means as pure DataFrame algebra — the
  * 100 TB complement to [[LocalKMeans]] (which collects a SEGMENT's
  * points to the driver and is the right tool when segments are small
  * and numerous). Here nothing is ever collected: per round,
  * assignment is a broadcast join of the points against the k-row
  * centroid frame and the update is ONE aggregation of (cluster, dim)
  * partial means — the same shuffle key every round.
  *
  * Determinism contract (what makes the fit oracle-able, q158):
  *  - init is explicit (caller-supplied frame or the first k points by
  *    id) — no seeded sampling;
  *  - every centroid coordinate is re-quantized to `roundDp` decimals
  *    at each round boundary, so the one order-sensitive reduction
  *    (the mean) cannot leak partition-order FP wobble into the next
  *    round: any two runs — or two engines — agree bit-for-bit on the
  *    quantized centroids;
  *  - argmin ties break on cluster id (min_by on the (d2, c) struct).
  *
  * Lineage: a fixed unroll builds one join+agg per round; past
  * `checkpointEvery` rounds the centroid frame is localCheckpoint'ed,
  * the PageRank cadence reasoning ([[graft.operators.Graph]]) applied
  * to the k-row frame — cheap at any k, and the plan depth stays
  * bounded by the cadence window.
  */
object DistributedKMeans {

  /** Squared L2 between two array<double> columns as the textbook
    * zip_with/aggregate fold — rewritten to the fused native kernel by
    * [[graft.expressions.L2Fusion]] when the rule is ensured. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Fit: returns (assignments, centroids) where assignments =
    * (id, cluster, d2) for every input row against the FINAL centroids
    * and centroids = (c, cv) after `iterations` rounds.
    *
    * `points` must carry (`idCol`: long-castable, `vecCol`:
    * array<double>). `init` defaults to the first k points by id — the
    * explicit, replayable choice; pass a frame (c, cv) for k-means++
    * or any other seeding computed elsewhere. */
  def fit(points: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int, init: Option[DataFrame] = None,
      roundDp: Int = 6, checkpointEvery: Int = 5)
      : (DataFrame, DataFrame) = {
    require(k >= 1, "k must be >= 1")
    require(iterations >= 1, "iterations must be >= 1")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val spark = points.sparkSession
    org.apache.spark.sql.GraftExprBridge.ensureOptimization(spark,
      graft.expressions.L2Fusion)
    val vecs = points
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val c0 = init.getOrElse {
      // first k by id: explicit and replayable (SQL: WHERE id < kth id)
      vecs.orderBy(col("id")).limit(k)
        .select(col("id").as("c"), col("v").as("cv"))
    }
    var cents = c0
    for (iter <- 1 to iterations) {
      cents = vecs.crossJoin(broadcast(cents))
        .withColumn("d2", sqDist(col("v"), col("cv")))
        .groupBy(col("id"))
        .agg(min_by(struct(col("c"), col("v")),
          struct(col("d2"), col("c"))).as("a"))
        .select(col("a.c").as("c"), posexplode(col("a.v")).as(Seq("p", "x")))
        .groupBy(col("c"), col("p"))
        .agg(round(avg(col("x")), roundDp).as("m"))
        .groupBy(col("c"))
        .agg(array_sort(collect_list(struct(col("p"), col("m")))).as("pm"))
        .select(col("c"), transform(col("pm"), e => e.getField("m")).as("cv"))
      if (iter % checkpointEvery == 0 && iter < iterations)
        cents = cents.localCheckpoint(true)
    }
    val assignments = vecs.crossJoin(broadcast(cents))
      .withColumn("d2", sqDist(col("v"), col("cv")))
      .groupBy(col("id"))
      .agg(min_by(struct(col("c"), col("d2")),
        struct(col("d2"), col("c"))).as("a"))
      .select(col("id"), col("a.c").as("cluster"), col("a.d2").as("d2"))
    (assignments, cents)
  }

  /** Grouped multi-k Lloyd — every k of a sweep fit in ONE pass per
    * round. Tagging each centroid row with its sweep key `kk` and
    * grouping the argmin by (kk, id) makes the per-round cost one scan
    * and one shuffle for the WHOLE sweep instead of one per k: the
    * point×centroid pair count is identical to running the fits
    * separately (Σ n·k either way), but a 100 TB sweep re-reads the
    * corpus `iterations` times, not `iterations · |ks|` times. Each
    * k's math is untouched — the (kk, id) group sees exactly its own
    * k's centroids, and the q158 quantization contract (6-dp centroid
    * re-quantization per round, decimal-summable scores downstream)
    * makes the grouped fit bit-identical to |ks| separate [[fit]]
    * calls (DistributedKMeansSpec pins that equivalence).
    *
    * `inits` (optional) supplies per-k seeds as (kk, c, cv); default is
    * the first k points by id for each k — one limit(max k) + a
    * row_number over those ≤ max(ks) rows, not a scan per k. The final
    * centroid frame (Σk rows) is eagerly localCheckpoint'ed so every
    * downstream scoring pass is shallow instead of replaying the
    * `iterations`-round lineage per action — the sweep's whole reason
    * to exist. Returns (assignments (kk, id, cluster, d2),
    * centroids (kk, c, cv)). */
  def fitMulti(points: DataFrame, idCol: String, vecCol: String,
      ks: Seq[Int], iterations: Int, inits: Option[DataFrame] = None,
      roundDp: Int = 6, checkpointEvery: Int = 5)
      : (DataFrame, DataFrame) = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "every k must be >= 1")
    require(ks.distinct.size == ks.size, "duplicate k in sweep")
    require(iterations >= 1, "iterations must be >= 1")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val spark = points.sparkSession
    import spark.implicits._
    org.apache.spark.sql.GraftExprBridge.ensureOptimization(spark,
      graft.expressions.L2Fusion)
    val vecs = points
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val c0 = inits.getOrElse {
      val top = vecs.orderBy(col("id")).limit(ks.max)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("id"))))
      top.crossJoin(broadcast(ks.toDF("kk")))
        .filter(col("rn") <= col("kk"))
        .select(col("kk"), col("id").as("c"), col("v").as("cv"))
    }
    var cents = c0
    for (iter <- 1 to iterations) {
      cents = vecs.crossJoin(broadcast(cents))
        .withColumn("d2", sqDist(col("v"), col("cv")))
        .groupBy(col("kk"), col("id"))
        .agg(min_by(struct(col("c"), col("v")),
          struct(col("d2"), col("c"))).as("a"))
        .select(col("kk"), col("a.c").as("c"),
          posexplode(col("a.v")).as(Seq("p", "x")))
        .groupBy(col("kk"), col("c"), col("p"))
        .agg(round(avg(col("x")), roundDp).as("m"))
        .groupBy(col("kk"), col("c"))
        .agg(array_sort(collect_list(struct(col("p"), col("m")))).as("pm"))
        .select(col("kk"), col("c"),
          transform(col("pm"), e => e.getField("m")).as("cv"))
      if (iter % checkpointEvery == 0 && iter < iterations)
        cents = cents.localCheckpoint(true)
    }
    // Σk rows: cut the unrolled lineage here so scoring actions don't
    // each replay `iterations` rounds
    cents = cents.localCheckpoint(true)
    val assignments = vecs.crossJoin(broadcast(cents))
      .withColumn("d2", sqDist(col("v"), col("cv")))
      .groupBy(col("kk"), col("id"))
      .agg(min_by(struct(col("c"), col("d2")),
        struct(col("d2"), col("c"))).as("a"))
      .select(col("kk"), col("id"), col("a.c").as("cluster"),
        col("a.d2").as("d2"))
    (assignments, cents)
  }

  /** Grouped Lloyd over DISJOINT point sets — the [[fitMulti]] dual:
    * there the same points carry every sweep k, here each group `g`
    * brings its OWN points (PQ subspace slices, per-segment fits) and
    * its own k (encoded in `inits`). Assignment joins the points to
    * their group's centroids on the group key (a broadcast hash join —
    * the candidate set is per-group, not the cross product), so every
    * Lloyd round is ONE scan + ONE shuffle for ALL groups instead of
    * one fit per group: a 100 TB PQ codebook fit with m = 16 subspaces
    * pays `iterations` corpus scans, not 16·iterations. Per-group math
    * is identical to [[fit]] under the q158 quantization contract
    * (PqSpec pins the equivalence on the subspace shape).
    *
    * `grouped` carries (g, id, v); `inits` carries (g, c, cv) and is
    * REQUIRED — per-group seeding is the caller's policy (a global
    * first-k-ids frame for PQ slices, anything else for general use).
    * Returns (assignments (g, id, cluster, d2), centroids (g, c, cv)).
    *
    * `checkpointFinal` eagerly localCheckpoint's the final centroid
    * frame (Σ|g|·k rows) so each downstream ACTION reads it instead of
    * replaying the round lineage — right when consumers collect
    * several times (the sweep shape). Pass FALSE when everything
    * funnels into ONE action over a persisted/cached result: a
    * checkpoint mints fresh RDD-backed leaves every run, which breaks
    * logical-plan canonicalization and with it cross-run cache reuse
    * AND intra-plan exchange reuse — measured 2.9 vs 1.1 s on q188's
    * bench repeats (the r8 PageRank cache-served-repeat mechanism,
    * this time load-bearing). */
  def fitGrouped(grouped: DataFrame, inits: DataFrame, iterations: Int,
      roundDp: Int = 6, checkpointEvery: Int = 5,
      checkpointFinal: Boolean = true)
      : (DataFrame, DataFrame) = {
    require(iterations >= 1, "iterations must be >= 1")
    require(checkpointEvery >= 1, "checkpointEvery must be >= 1")
    val spark = grouped.sparkSession
    org.apache.spark.sql.GraftExprBridge.ensureOptimization(spark,
      graft.expressions.L2Fusion)
    var cents = inits.select(col("g"), col("c"), col("cv"))
    for (iter <- 1 to iterations) {
      cents = grouped.join(broadcast(cents), "g")
        .withColumn("d2", sqDist(col("v"), col("cv")))
        .groupBy(col("g"), col("id"))
        .agg(min_by(struct(col("c"), col("v")),
          struct(col("d2"), col("c"))).as("a"))
        .select(col("g"), col("a.c").as("c"),
          posexplode(col("a.v")).as(Seq("p", "x")))
        .groupBy(col("g"), col("c"), col("p"))
        .agg(round(avg(col("x")), roundDp).as("m"))
        .groupBy(col("g"), col("c"))
        .agg(array_sort(collect_list(struct(col("p"), col("m")))).as("pm"))
        .select(col("g"), col("c"),
          transform(col("pm"), e => e.getField("m")).as("cv"))
      if (iter % checkpointEvery == 0 && iter < iterations)
        cents = cents.localCheckpoint(true)
    }
    if (checkpointFinal) cents = cents.localCheckpoint(true)
    val assignments = grouped.join(broadcast(cents), "g")
      .withColumn("d2", sqDist(col("v"), col("cv")))
      .groupBy(col("g"), col("id"))
      .agg(min_by(struct(col("c"), col("d2")),
        struct(col("d2"), col("c"))).as("a"))
      .select(col("g"), col("id"), col("a.c").as("cluster"),
        col("a.d2").as("d2"))
    (assignments, cents)
  }

  /** One REPLAYABLE bisecting step — the distributed, oracle-able face
    * of the reference's BisectingKMeans family ([[LocalKMeans
    * .fitBisecting]] stays the per-segment production path): fit k=2 on
    * the full input (init = first two points by id, `iterations`
    * unrolled Lloyd rounds under the q158 quantization contract), pick
    * the LARGEST child (count desc, cluster-id asc — fitBisecting's
    * largest-splittable rule made total), then fit k=2 on that child's
    * members (init = its first two members by id). Output: (id, parent,
    * child, d2) — parent = the level-1 label, child = the final leaf
    * label within it (= parent for the unsplit cluster), d2 = squared
    * distance to the final centroid. The (parent, child) PAIR is the
    * leaf key: labels are init-point ids, which can collide across
    * levels. Only bounded artifacts reach the driver (a 2-row count). */
  def bisectOnce(points: DataFrame, idCol: String, vecCol: String,
      iterations: Int = 3, roundDp: Int = 6): DataFrame = {
    // persisted: the two fits + the selection + the member join scan
    // this frame ~2·(iterations+1) times — at these widths the cache is
    // a clear win and changes nothing numerically (quantized contract)
    val vecs = points
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .persist()
    val (a1u, _) = fit(vecs, "id", "v", k = 2, iterations = iterations,
      roundDp = roundDp)
    val a1 = a1u.persist()
    val chosen = a1.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("cluster"))
      .limit(1).collect()(0).getLong(0)
    val sub = vecs.join(
      a1.filter(col("cluster") === chosen).select("id"), "id")
    val (a2, _) = fit(sub, "id", "v", k = 2, iterations = iterations,
      roundDp = roundDp)
    val out = a1.filter(col("cluster") =!= chosen)
      .select(col("id"), col("cluster").as("parent"),
        col("cluster").as("child"), col("d2"))
      .unionByName(a2.select(col("id"), lit(chosen).as("parent"),
        col("cluster").as("child"), col("d2")))
    out.unpersist()
    val res = out.persist()
    res.count()
    a1.unpersist()
    vecs.unpersist()
    res
  }

  /** k-means|| (Bahmani et al., VLDB'12) seeding, fully distributed and
    * DETERMINISTIC: instead of k sequential k-means++ draws (k driver
    * round-trips, unusable at 100 TB), each of `rounds` passes samples
    * every point independently with probability min(1, oversample·d²/
    * cost) — the d²-weighting that gives the k-means++ guarantee, but
    * one shuffle per round. Randomness is seeded xxhash64 uniforms, so
    * the chosen candidate set is a pure function of (data, seed) — same
    * on every run and every partitioning. The bounded candidate set
    * (≈ rounds·oversample, NOT data-sized) is then weighted by how many
    * points it attracts and reduced to k centers driver-side with a
    * deterministic greedy weighted farthest-point pass (max-weight
    * start, weighted-d² farthest next, ids break ties) — the standard
    * KMeans|| finisher shape with the RNG replaced by argmax. */
  def initParallel(points: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Long, rounds: Int = 2, oversampleFactor: Int = 2)
      : DataFrame =
    initParallelMulti(points, idCol, vecCol, Seq(k), seed, rounds,
      oversampleFactor).select(col("c"), col("cv"))

  /** [[initParallel]] for a whole k-sweep in one set of passes: every
    * k's candidate trajectory is tracked independently (tagged `kk`),
    * but each sampling round is ONE corpus scan + ONE driver collect
    * for all ks instead of one per k — the d²-min, the per-k cost sum,
    * and the Bernoulli draw all ride the same grouped aggregation. The
    * per-k results are bit-identical to |ks| separate [[initParallel]]
    * calls (the draw threshold min(1, l·d²/cost) is the only place k
    * enters, and it's applied per-kk row). Returns (kk, c, cv). */
  def initParallelMulti(points: DataFrame, idCol: String, vecCol: String,
      ks: Seq[Int], seed: Long, rounds: Int = 2, oversampleFactor: Int = 2)
      : DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1) && rounds >= 1)
    require(ks.distinct.size == ks.size, "duplicate k in sweep")
    val spark = points.sparkSession
    import spark.implicits._
    val vecs = points
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // start from the minimum seeded-hash point: arbitrary but pure —
    // and k-independent, so every sweep entry shares it. The candidate
    // sets stay COLLECTED local relations throughout — bounded
    // (≈ rounds·oversample·k rows each), each round's cross join
    // broadcasts their union, and keeping them local avoids a lineage
    // chain and a driver action per k beyond the one grouped collect.
    val start: Seq[(Long, Seq[Double])] = vecs
      .orderBy(xxhash64(col("id"), lit(seed)), col("id")).limit(1)
      .select(col("id").as("c"), col("v").as("cv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    var centers: Map[Int, Seq[(Long, Seq[Double])]] =
      ks.map(k => k -> start).toMap
    def centersDf = broadcast(
      ks.flatMap(k => centers(k).map { case (c, cv) => (k, c, cv) })
        .toDF("kk", "c", "cv"))
    for (r <- 1 to rounds) {
      val d2min = vecs.crossJoin(centersDf)
        .withColumn("d2", sqDist(col("v"), col("cv")))
        .groupBy(col("kk"), col("id")).agg(min(col("d2")).as("d2"),
          first(col("v")).as("v"))
      // uniform in [0,1) from the top 53 bits of the seeded hash; the
      // per-k cost sum rides the same pass via a broadcast re-agg
      val u = shiftrightunsigned(
        xxhash64(col("id"), lit(seed + r)), 11)
        .cast("double") / lit(9007199254740992.0)
      val l = col("kk").cast("double") * lit(oversampleFactor.toDouble)
      // the acceptance ratio is quantized at 12 dp: `cost` is an
      // order-sensitive double sum whose last ulps depend on the
      // physical plan (grouped vs solo, partition count), and an
      // unquantized threshold would let that wobble flip a draw sitting
      // within ulps of u — 12 dp absorbs it (relative wobble ~1e-16)
      // while leaving every real draw untouched
      val chosen = d2min
        .join(broadcast(
          d2min.groupBy(col("kk")).agg(sum(col("d2")).as("cost"))), "kk")
        .filter(col("cost") > 0 &&
          u < least(lit(1.0), round(l * col("d2") / col("cost"), 12)))
        .select(col("kk"), col("id"), col("v"))
        .collect()
        .map(row => (row.getInt(0), row.getLong(1), row.getSeq[Double](2)))
      centers = ks.map { k =>
        val ch = chosen.collect { case (`k`, id, v) => (id, v) }.toSeq
        k -> (centers(k) ++ ch).distinctBy(_._1).sortBy(_._1)
      }.toMap
    }
    // weight candidates by attraction, reduce to k deterministically —
    // one grouped pass for the whole sweep
    val weightRows = vecs.crossJoin(centersDf)
      .withColumn("d2", sqDist(col("v"), col("cv")))
      .groupBy(col("kk"), col("id"))
      .agg(min_by(col("c"), struct(col("d2"), col("c"))).as("c"))
      .groupBy(col("kk"), col("c")).agg(count(lit(1)).as("w"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    ks.flatMap { k =>
      val cand = centers(k)
        .map { case (c, cv) =>
          (c, cv.toArray, weightRows.getOrElse((k, c), 0L))
        }
        .sortBy(_._1)
      val picked = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[Double])]
      if (cand.nonEmpty) {
        def d2(a: Array[Double], b: Array[Double]): Double = {
          var s = 0.0; var i = 0
          while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
          s
        }
        // max weight first (id-asc tie-break via stable sorted input)
        picked += { val m = cand.maxBy(_._3); (m._1, m._2) }
        while (picked.size < math.min(k, cand.size)) {
          val next = cand
            .filterNot(c => picked.exists(_._1 == c._1))
            .maxBy { c =>
              (c._3.toDouble * picked.map(p => d2(c._2, p._2)).min, -c._1)
            }
          picked += ((next._1, next._2))
        }
      }
      picked.toSeq.map { case (c, cv) => (k, c, cv.toSeq) }
    }.toDF("kk", "c", "cv")
  }

  /** The REPLAYABLE k-sweep — M9/A9's oracle-able face (q189): fit
    * every k under the q158 determinism contract (first-k-by-id init,
    * fixed unrolled rounds, 6-dp centroid quantization), score each fit
    * with WSSSE and the simplified silhouette, and apply the selection
    * policy (max silhouette, smaller k on ties) — the n-way
    * generalization of [[bisectOnce]]'s 2-way choice, with every number
    * relationally verifiable. The seeded-k-means|| production sweep
    * ([[sweepK]]) stays rows-only; THIS face pins sweep + scoring +
    * argmax.
    *
    * Cross-engine determinism beyond the fit itself: WSSSE and the
    * silhouette mean are order-sensitive double reductions, so each
    * per-point term is quantized at 6 dp and summed as DECIMAL(20,6) —
    * decimal addition is exact and order-insensitive (the q177
    * contract) — then converted to double once at the end. Returns one
    * row per k: (k, wssse, silhouette, chosen), ordered by k. */
  def sweepKReplayable(points: DataFrame, idCol: String, vecCol: String,
      ks: Seq[Int], iterations: Int = 3): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    val vecs = points
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .persist()
    // grouped fit: one scan+shuffle per round for the whole sweep, and
    // ONE scoring action for all ks (WSSSE off the grouped assignments,
    // silhouette off one grouped two-nearest pass) — was 2 actions × |ks|,
    // each replaying its fit lineage. Same quantized numbers, so the
    // DuckDB oracle (per-k CTE replay) is untouched.
    val (af, cents) = fitMulti(vecs, "id", "v", ks.sorted, iterations)
    val w = af
      .groupBy(col("kk"))
      .agg(sum(round(col("d2"), 6).cast(DecimalType(20, 6)))
        .cast("double").as("wssse"))
    val sil = vecs.crossJoin(broadcast(cents))
      .withColumn("dd", sqrt(sqDist(col("v"), col("cv"))))
      .groupBy(col("kk"), col("id"))
      .agg(sort_array(collect_list(col("dd"))).as("ds"))
      .select(col("kk"), col("ds").getItem(0).as("a"),
        col("ds").getItem(1).as("b"))
      .groupBy(col("kk"))
      .agg(
        sum(round(when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)), 6).cast(DecimalType(20, 6)))
          .cast("double").as("ss"),
        count(lit(1)).as("n"))
      .select(col("kk"), round(col("ss") / col("n"), 6).as("sil"))
    val rows = w.join(sil, "kk").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    vecs.unpersist()
    // selection policy, total: max silhouette, smaller k on ties —
    // applied to the already-quantized scores so any engine replays it
    val bestK = rows.maxBy { case (k, _, s) => (s, -k) }._1
    rows.map { case (k, w0, s) => (k, w0, s, k == bestK) }
      .toDF("k", "wssse", "silhouette", "chosen")
      .orderBy(col("k"))
  }

  /** The reference's optimal-k sweep re-expressed for one huge corpus:
    * fit every k with the deterministic k-means|| seeding, score with
    * the simplified silhouette, report WSSSE for the elbow — the same
    * decision surface `ksearch.KPolicy` consumes, computed without
    * ever collecting the data. The fits and the scoring run GROUPED
    * over all ks ([[fitMulti]]): one corpus scan per Lloyd round and
    * ONE scoring pass for the whole sweep (per-point min d² and the
    * two nearest centroid distances come from the same aggregation) —
    * the sweep is seeding-round-trip-bound, not data-bound. Returns
    * (k, wssse, silhouette) rows. */
  def sweepK(points: DataFrame, idCol: String, vecCol: String,
      ks: Seq[Int], iterations: Int = 5, seed: Long = 42L)
      : Seq[(Int, Double, Double)] = {
    val spark = points.sparkSession
    import spark.implicits._
    // NOT persisted, by measurement: the sweep re-reads the point set
    // across ~6 jobs × |ks|, but caching the projection made the sweep
    // ~25% SLOWER at sf0.1 (8.8 → 10–11.8 s isolated medians) — Spark's
    // columnar cache serializes array<double> rows generically, and
    // re-reading that beats the parquet vectorized scan only when the
    // source scan itself is expensive, which a sliced embeddings
    // projection is not. Revisit only with a measured win.
    val vecs = points
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // everything runs GROUPED across the sweep: the k-means|| seeding
    // (one collect per sampling round for all ks), the `iterations`
    // Lloyd rounds (one scan+shuffle per round, fitMulti), and the
    // scoring (one pass) — instead of ~(rounds·2 + iterations + 1)
    // corpus scans PER k
    val inits = initParallelMulti(vecs, "id", "v", ks, seed)
    val (_, centsDf) = fitMulti(vecs, "id", "v", ks, iterations,
      inits = Some(inits))
    // kEff per k: seeding can return < k centers on tiny inputs; the
    // <2-centers guard (silhouette := 0) keys off it as before
    val kEff = centsDf.groupBy(col("kk")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val scored = vecs.crossJoin(broadcast(centsDf))
      .withColumn("d2", sqDist(col("v"), col("cv")))
      .groupBy(col("kk"), col("id"))
      .agg(min(col("d2")).as("w"),
        sort_array(collect_list(sqrt(col("d2")))).as("ds"))
      .select(col("kk"), col("w"), col("ds").getItem(0).as("a"),
        when(size(col("ds")) >= 2, col("ds").getItem(1))
          .otherwise(lit(0.0)).as("b"))
      .groupBy(col("kk"))
      .agg(sum(col("w")).as("wssse"),
        avg(when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0))).as("sil"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    ks.map { k =>
      val (w, s) = scored(k)
      (k, w, if (kEff.getOrElse(k, 0L) < 2) 0.0 else s)
    }
  }
}
