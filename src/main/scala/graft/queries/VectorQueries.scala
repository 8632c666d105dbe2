package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding-similarity operators over the `embeddings` table
  * (`Array[Float]`, 64-dim). The dot/cosine kernels are higher-order
  * built-in expressions (zip_with + aggregate) — sequential left-to-right
  * double accumulation, which matches DuckDB's list kernels bit-for-bit,
  * so the brute-force scores are oracle-checkable.
  */
object VectorQueries {

  def all: Seq[GraftQuery] =
    Seq(q25CosinePairs, q26KnnBruteForce, q110Covariance,
      q206IncrementalMomentsOracled, q207StreamMomentsOracled,
      q111PcaProject,
      q115PcaAnnRecall, q118PcaPerLabel, q148ArrayHof,
      q153ExactTopK, q154ExactL2TopK, q158KmeansLloyd, q159KmeansSweep,
      q180PcaPowerIteration, q181BisectOracled, q182GmmEmOracled,
      q184SemdedupOracled, q185IvfOracled, q208IvfGrowOracled,
      q186PcaPerLabelOracled,
      q188PqOracled, q189SweepOracled, q194ScalarQuant,
      q195IvfPqOracled, q197SemanticDecon,
      q231NnDescentOracled, q232GraphAnnServeOracled,
      q240GraphAnnIngestOracled, q243GraphAnnServeTopKOracled,
      q244GraphAnnServeHotOracled)

  /** The GROUND-TRUTH half of every cosine recall gate
    * (q47/q64/q66/q115), served through the SAME per-JVM cache those
    * queries read ([[AnnIndexes.exactCosineTopK]]) and oracled
    * end-to-end: DuckDB recomputes the exact top-10 (self excluded,
    * cosine desc, id tie-break) from scratch. The recall queries stay
    * rows-only because the INDEX half is not SQL-expressible — this
    * row turns their denominator into a green CORRECTNESS entry, so a
    * recall regression can be attributed to the index side alone. */
  val q153ExactTopK: GraftQuery = GraftQuery(
    "q153_exact_topk",
    (s, d) => {
      import s.implicits._
      AnnIndexes.exactCosineTopK(s, d, 10)
        .orderBy($"query_id", $"cand_id")
    },
    Some(
      "WITH scored AS (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS cand_id, " +
        "list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) / " +
        "(sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) * " +
        "sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos_raw " +
        "FROM embeddings q, embeddings c " +
        "WHERE q.vec_id < 5 AND c.vec_id != q.vec_id) " +
        "SELECT query_id, cand_id FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos_raw DESC, cand_id) AS rk FROM scored) " +
        "WHERE rk <= 10 ORDER BY query_id, cand_id"))

  /** The ground-truth half of the L2/ADC recall gates (q93/q94): the
    * exact squared-L2 top-10 in precisely the form
    * [[graft.operators.PqIndex.recallAgainstIndex]] computes its
    * denominator (zip_with/aggregate left-fold, self excluded, d2 asc,
    * id tie-break), hash-matched against DuckDB's list kernels. The
    * textbook HOF shape is written on purpose: the
    * [[graft.expressions.L2Fusion]] rule (ensured on the running
    * session) rewrites it to the single-pass native [[graft.expressions
    * .ArrayL2Sq]] kernel — bit-identical fold, so the oracle face is
    * unchanged; PlanAuditSpec asserts the fusion fired. */
  val q154ExactL2TopK: GraftQuery = GraftQuery(
    "q154_exact_l2_topk",
    (s, d) => {
      import s.implicits._
      org.apache.spark.sql.GraftExprBridge.ensureOptimization(s,
        graft.expressions.L2Fusion)
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".cast("long").as("id"),
          graft.operators.Similarity.asDouble($"embedding").as("v"))
      val q = vecs.filter($"id" < 5)
        .select($"id".as("query_id"), $"v".as("qv"))
      q.crossJoin(broadcast(vecs.select($"id".as("cand_id"),
          $"v".as("cv"))))
        .filter($"query_id" =!= $"cand_id")
        .select($"query_id", $"cand_id",
          aggregate(zip_with($"qv", $"cv", (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x).as("d2"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"query_id").orderBy($"d2".asc, $"cand_id".asc)))
        .filter($"rk" <= 10)
        .select($"query_id", $"cand_id", round($"d2", 6).as("d2"), $"rk")
        .orderBy($"query_id", $"rk")
    },
    Some(
      // same elementwise-difference fold as the Spark zip_with form —
      // list_sum accumulates in list order, so both engines produce the
      // same double before the 6-dp pin (the q148 precedent)
      "WITH qs AS (SELECT vec_id, embedding::DOUBLE[] AS v " +
        "FROM embeddings WHERE vec_id < 5), " +
        "cs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "scored AS (" +
        "SELECT qs.vec_id AS query_id, cs.vec_id AS cand_id, " +
        "list_sum(list_transform(range(1, len(qs.v) + 1), " +
        "i -> (qs.v[i] - cs.v[i]) * (qs.v[i] - cs.v[i]))) AS d2 " +
        "FROM qs, cs WHERE cs.vec_id != qs.vec_id) " +
        "SELECT query_id, cand_id, round(d2, 6) AS d2, rk FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY d2 ASC, cand_id) AS rk FROM scored) " +
        "WHERE rk <= 10 ORDER BY query_id, rk"))

  /** The cluster family's first fully-ORACLED fit: distributed Lloyd's
    * k-means (k=4, 3 unrolled iterations, init = the first four vectors
    * by id) over the embeddings table, with every final assignment and
    * distance hash-matched against an independent DuckDB CTE replay of
    * the same iterations — the q120-PageRank unroll trick applied to
    * clustering. The seeded k-means++ paths (q30–q39) stay rows-only
    * because their init is not SQL-expressible; THIS query pins the
    * Lloyd iteration itself, so an engine drift in assign/update
    * arithmetic is caught relationally.
    *
    * Cross-engine determinism: the per-round centroid update rounds each
    * coordinate to 6 dp (`round(avg(x),6)`) on BOTH sides, so the one
    * order-sensitive reduction (the mean) is re-quantized before the
    * next round consumes it; distances are the same left-to-right
    * zip_with/aggregate fold q154 proved bit-identical to DuckDB's list
    * kernels, and argmin ties break on cluster id. 100 TB shape:
    * assignment is a broadcast join against k tiny centroid rows, the
    * update is ONE aggregation — per round, one shuffle of (cluster,
    * dim) partial means, never a collect; a production iteration count
    * would add the PageRank-style checkpoint cadence. */
  val q158KmeansLloyd: GraftQuery = GraftQuery(
    "q158_kmeans_lloyd",
    (s, d) => {
      import s.implicits._
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".cast("long").as("id"),
          graft.operators.Similarity.asDouble($"embedding").as("v"))
      val (assignments, _) = graft.ml.DistributedKMeans.fit(
        vecs, "id", "v", k = 4, iterations = 3)
      assignments
        .select($"id", $"cluster", round($"d2", 6).as("d2"))
        .orderBy($"id")
    },
    Some {
      // the same three rounds as chained CTEs; distances via the q154
      // list kernels, centroid means re-quantized at 6 dp per round
      def dist(cAlias: String): String =
        "list_sum(list_transform(range(1, len(p.v) + 1), " +
          s"i -> (p.v[i] - $cAlias.cv[i]) * (p.v[i] - $cAlias.cv[i])))"
      val rounds = (1 to 3).map { r =>
        val prev = if (r == 1) "c0" else s"c${r - 1}"
        s", s$r AS (SELECT p.id, p.v, c.c, ${dist("c")} AS d2 " +
          s"FROM v p, $prev c)" +
          s", a$r AS (SELECT id, v, c FROM (SELECT *, row_number() " +
          "OVER (PARTITION BY id ORDER BY d2, c) AS rk " +
          s"FROM s$r) WHERE rk = 1)" +
          s", c$r AS (SELECT c, list(m ORDER BY p) AS cv FROM " +
          s"(SELECT a.c, t.i AS p, round(avg(a.v[t.i]), 6) AS m " +
          s"FROM a$r a, range(1, 65) t(i) GROUP BY a.c, t.i) GROUP BY c)"
      }.mkString
      "WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v " +
        "FROM embeddings), " +
        "c0 AS (SELECT id AS c, v AS cv FROM v WHERE id < 4)" +
        rounds +
        s", sf AS (SELECT p.id, c.c, ${dist("c")} AS d2 FROM v p, c3 c) " +
        "SELECT id, c AS cluster, round(d2, 6) AS d2 FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY id " +
        "ORDER BY d2, c) AS rk FROM sf) WHERE rk = 1 ORDER BY id"
    })

  /** Shared builder for a k-means Lloyd unroll as chained DuckDB CTEs
    * (the q158 pattern parametrized by source CTE, name prefix, k and
    * dimensionality): init = first k points of `src` by id, 3 rounds,
    * 6-dp centroid re-quantization, final assignment CTE `<p>af` =
    * (id, c, d2), final centroids `<p>c3` = (c, cv). */
  private def lloydCte(src: String, p: String, k: Int,
      dims: Int = 64): String = {
    def dist(cAlias: String): String =
      "list_sum(list_transform(range(1, len(p.v) + 1), " +
        s"i -> (p.v[i] - $cAlias.cv[i]) * (p.v[i] - $cAlias.cv[i])))"
    val rounds = (1 to 3).map { r =>
      val prev = if (r == 1) s"${p}c0" else s"${p}c${r - 1}"
      s", ${p}s$r AS (SELECT p.id, p.v, c.c, ${dist("c")} AS d2 " +
        s"FROM $src p, $prev c)" +
        s", ${p}a$r AS (SELECT id, v, c FROM (SELECT *, row_number() " +
        "OVER (PARTITION BY id ORDER BY d2, c) AS rk " +
        s"FROM ${p}s$r) WHERE rk = 1)" +
        s", ${p}c$r AS (SELECT c, list(m ORDER BY pp) AS cv FROM " +
        s"(SELECT a.c, t.i AS pp, round(avg(a.v[t.i]), 6) AS m " +
        s"FROM ${p}a$r a, range(1, ${dims + 1}) t(i) " +
        "GROUP BY a.c, t.i) GROUP BY c)"
    }.mkString
    s", ${p}c0 AS (SELECT id AS c, v AS cv FROM $src ORDER BY id " +
      s"LIMIT $k)" +
      rounds +
      s", ${p}af AS MATERIALIZED (SELECT id, c, d2 FROM (SELECT p.id, " +
      s"c.c, ${dist("c")} AS d2, row_number() OVER (PARTITION BY p.id " +
      s"ORDER BY ${dist("c")}, c) AS rk FROM $src p, ${p}c3 c) " +
      "WHERE rk = 1)"
  }

  /** One REPLAYABLE bisecting step ([[graft.ml.DistributedKMeans
    * .bisectOnce]]) — the first green CORRECTNESS row for the M3
    * (BisectingKMeans) family: level-1 k=2 Lloyd fit (q158 contract),
    * the largest-child selection rule made total (count desc, cluster
    * asc), then a k=2 refit of the chosen child with init = its first
    * two members by id. DuckDB replays both unrolls AND the selection;
    * every (parent, child, d2) hash-matched. The per-segment
    * full-recursion production path (q36, LocalKMeans.fitBisecting)
    * stays rows-only. */
  val q181BisectOracled: GraftQuery = GraftQuery(
    "q181_bisect_oracled",
    (s, d) => {
      import s.implicits._
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".cast("long").as("id"),
          graft.operators.Similarity.asDouble($"embedding").as("v"))
      graft.ml.DistributedKMeans.bisectOnce(vecs, "id", "v",
          iterations = 3)
        .select($"id", $"parent", $"child", round($"d2", 6).as("d2"))
        .orderBy($"id")
    },
    Some(
      "WITH v AS MATERIALIZED (SELECT vec_id AS id, " +
        "embedding::DOUBLE[] AS v FROM embeddings)" +
        lloydCte("v", "x", 2) +
        ", ch AS (SELECT c FROM xaf GROUP BY c " +
        "ORDER BY count(*) DESC, c LIMIT 1)" +
        ", v2 AS MATERIALIZED (SELECT v.id, v.v FROM v " +
        "JOIN xaf ON v.id = xaf.id JOIN ch ON xaf.c = ch.c)" +
        lloydCte("v2", "y", 2) +
        " SELECT id, parent, child, round(d2, 6) AS d2 FROM (" +
        "SELECT a.id, a.c AS parent, a.c AS child, a.d2 " +
        "FROM xaf a, ch WHERE a.c != ch.c " +
        "UNION ALL SELECT b.id, ch.c AS parent, b.c AS child, b.d2 " +
        "FROM yaf b, ch) ORDER BY id"))

  /** One REPLAYABLE GMM EM round ([[graft.ml.DistributedGmm
    * .emRoundReplayable]]) — the first green CORRECTNESS row for the
    * M4 (GaussianMixture) family: 2 components, diagonal unit
    * covariance, explicit init (π=½, μ = first two points by id),
    * E → M → E with log-likelihoods quantized BEFORE the softmax and
    * means/weights re-quantized after the M step, so the exp() library
    * wobble (≤1 ulp) is absorbed by 6-dp output rounding (the q119 ln
    * precedent). The per-segment full-covariance production path
    * (q32/q37, LocalGMM) stays rows-only. */
  val q182GmmEmOracled: GraftQuery = GraftQuery(
    "q182_gmm_em_oracled",
    (s, d) => {
      import s.implicits._
      graft.ml.DistributedGmm.emRoundReplayable(
          Tables.embeddings(s, d), "vec_id", "embedding")
        .orderBy($"id")
    },
    Some(
      "WITH e AS MATERIALIZED (SELECT vec_id AS id, " +
        "embedding::DOUBLE[] AS v FROM embeddings), " +
        "mm AS MATERIALIZED (SELECT v, row_number() OVER (ORDER BY id) " +
        "AS r FROM (SELECT id, v FROM e ORDER BY id LIMIT 2)), " +
        "r1 AS MATERIALIZED (SELECT id, v, " +
        "round(1.0 / (1.0 + exp(l1 - l0)), 6) AS r0 FROM (" +
        "SELECT e.id, e.v, " +
        "round(-0.5 * list_sum(list_transform(range(1, 65), " +
        "i -> (e.v[i] - a.v[i]) * (e.v[i] - a.v[i]))), 6) AS l0, " +
        "round(-0.5 * list_sum(list_transform(range(1, 65), " +
        "i -> (e.v[i] - b.v[i]) * (e.v[i] - b.v[i]))), 6) AS l1 " +
        "FROM e, (SELECT v FROM mm WHERE r = 1) a, " +
        "(SELECT v FROM mm WHERE r = 2) b)), " +
        "mw AS (SELECT sum(r0) AS w0, sum(1.0 - r0) AS w1, " +
        "round(avg(r0), 6) AS p0, round(avg(1.0 - r0), 6) AS p1 " +
        "FROM r1), " +
        "mus AS MATERIALIZED (SELECT t.i AS i, " +
        "round(sum(r1.r0 * r1.v[t.i]) / any_value(mw.w0), 6) AS m0, " +
        "round(sum((1.0 - r1.r0) * r1.v[t.i]) / any_value(mw.w1), 6) " +
        "AS m1 FROM r1, range(1, 65) t(i), mw GROUP BY t.i), " +
        "mu0n AS (SELECT list(m0 ORDER BY i) AS mu FROM mus), " +
        "mu1n AS (SELECT list(m1 ORDER BY i) AS mu FROM mus), " +
        "e2 AS (SELECT r1.id, r1.r0, " +
        "round(-0.5 * list_sum(list_transform(range(1, 65), " +
        "i -> (r1.v[i] - a.mu[i]) * (r1.v[i] - a.mu[i]))), 6) AS l0b, " +
        "round(-0.5 * list_sum(list_transform(range(1, 65), " +
        "i -> (r1.v[i] - b.mu[i]) * (r1.v[i] - b.mu[i]))), 6) AS l1b " +
        "FROM r1, mu0n a, mu1n b) " +
        "SELECT e2.id, e2.r0, round(1.0 / (1.0 + (mw.p1 / mw.p0) * " +
        "exp(e2.l1b - e2.l0b)), 6) AS r0b, " +
        "CASE WHEN round(1.0 / (1.0 + (mw.p1 / mw.p0) * " +
        "exp(e2.l1b - e2.l0b)), 6) >= 0.5 THEN 0 ELSE 1 END AS assign " +
        "FROM e2, mw ORDER BY e2.id"))

  /** SemDedup with a replayable cluster stage — the ORACLED face of
    * q105 (whose seeded-k-means++ clustering stays rows-only): the
    * q158 Lloyd fit (k=4, first-4 init, 3 unrolled rounds) assigns
    * clusters, then every same-cluster pair with cosine ≥ 0.95 is an
    * emitted near-dup — the exact SemDedup shape (cluster to avoid the
    * n² term, score only within clusters), with DuckDB replaying the
    * fit AND the within-cluster pair scoring end-to-end. The τ
    * comparison runs on the raw cosine both sides (the q153-proven
    * bit-identical list fold), so no boundary wobble. The synthetic
    * embeddings carry no natural ≥0.95 pairs (max pairwise cosine
    * ~0.51), so near-dup CLONES are planted IN THE QUERY (the
    * q96/q150 convention — both engines build identical clones:
    * ids < 25 duplicated at id+10000 with coordinate 1 scaled by
    * 1.02, cosine ≈ 0.9997) — what the oracle then verifies is that
    * the cluster stage CO-LOCATES each clone with its base and the
    * scorer finds exactly the planted pairs. */
  val q184SemdedupOracled: GraftQuery = GraftQuery(
    "q184_semdedup_oracled",
    (s, d) => {
      import s.implicits._
      val base = Tables.embeddings(s, d)
        .select($"vec_id".cast("long").as("id"),
          graft.operators.Similarity.asDouble($"embedding").as("v"))
      val clones = base.filter($"id" < 25)
        .select(($"id" + 10000L).as("id"),
          zip_with($"v", sequence(lit(1), size($"v")),
            (x, i) => when(i === 1, x * 1.02).otherwise(x)).as("v"))
      val vecs = base.unionByName(clones)
      val (af, _) = graft.ml.DistributedKMeans.fit(
        vecs, "id", "v", k = 4, iterations = 3)
      val withV = af.select($"id", $"cluster").join(vecs, "id")
      withV.as("a").join(withV.as("b"),
          col("a.cluster") === col("b.cluster") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.cluster").as("cluster"),
          graft.operators.Similarity.cosine(col("a.v"), col("b.v"))
            .as("cos_raw"))
        .filter($"cos_raw" >= 0.95)
        .select($"id_a", $"id_b", $"cluster",
          round($"cos_raw", 6).as("cos"))
        .orderBy($"id_a", $"id_b")
    },
    Some(
      "WITH b AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v " +
        "FROM embeddings), " +
        "cl AS (SELECT id + 10000 AS id, list_transform(" +
        "range(1, len(v) + 1), i -> CASE WHEN i = 1 THEN v[1] * 1.02 " +
        "ELSE v[i] END) AS v FROM b WHERE id < 25), " +
        "v AS MATERIALIZED (SELECT * FROM b UNION ALL SELECT * FROM cl)" +
        lloydCte("v", "x", 4) +
        ", pw AS MATERIALIZED (SELECT a.id, a.c, v.v FROM xaf a " +
        "JOIN v ON v.id = a.id)" +
        ", pr AS (SELECT a.id AS id_a, b.id AS id_b, a.c AS cluster, " +
        "list_dot_product(a.v, b.v) / " +
        "(sqrt(list_dot_product(a.v, a.v)) * " +
        "sqrt(list_dot_product(b.v, b.v))) AS cos_raw " +
        "FROM pw a JOIN pw b ON a.c = b.c AND a.id < b.id) " +
        "SELECT id_a, id_b, cluster, round(cos_raw, 6) AS cos FROM pr " +
        "WHERE cos_raw >= 0.95 ORDER BY id_a, id_b"))

  /** IVF ANN with a replayable coarse quantizer — the ORACLED face of
    * the q66/q94 index family (whose LocalKMeans-seeded codebooks stay
    * rows-only): coarse centroids come from the q158 Lloyd fit (k=4
    * lists, 3 unrolled rounds), each query probes its nprobe=2 nearest
    * lists (d², centroid-id tie-break), and candidates in the probed
    * lists are ranked by exact cosine (top-5, id tie-break). DuckDB
    * replays the fit, the probe selection, and the ranking — the full
    * IVF search path relationally verified. */
  val q185IvfOracled: GraftQuery = GraftQuery(
    "q185_ivf_oracled",
    (s, d) => {
      import s.implicits._
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".cast("long").as("id"),
          graft.operators.Similarity.asDouble($"embedding").as("v"))
      val (af, cents) = graft.ml.DistributedKMeans.fit(
        vecs, "id", "v", k = 4, iterations = 3)
      val q = vecs.filter($"id" < 5)
        .select($"id".as("qid"), $"v".as("qv"))
      val qd = q.crossJoin(broadcast(cents))
        .select($"qid", $"qv", $"c",
          aggregate(zip_with($"qv", $"cv", (a, b) => (a - b) * (a - b)),
            lit(0.0), (acc, x) => acc + x).as("d2"))
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"d2".asc, $"c".asc)
      val probed = qd.withColumn("rk", row_number().over(wp))
        .filter($"rk" <= 2).select($"qid", $"qv", $"c")
      val cands = probed.join(af.select($"cluster".as("c"),
          $"id".as("cand")), "c")
        .filter($"cand" =!= $"qid")
        .join(vecs.select($"id".as("cand"), $"v".as("cv")), "cand")
        .select($"qid", $"cand",
          graft.operators.Similarity.cosine($"qv", $"cv").as("cos_raw"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"cos_raw".desc, $"cand".asc)
      cands.withColumn("rk", row_number().over(wr)).filter($"rk" <= 5)
        .select($"qid".as("query_id"), $"cand".as("vec_id"),
          round($"cos_raw", 6).as("cos"), $"rk")
        .orderBy($"query_id", $"rk")
    },
    Some {
      val dist = "list_sum(list_transform(range(1, len(p.v) + 1), " +
        "i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])))"
      "WITH v AS MATERIALIZED (SELECT vec_id AS id, " +
        "embedding::DOUBLE[] AS v FROM embeddings)" +
        lloydCte("v", "x", 4) +
        s", qd AS (SELECT p.id AS qid, c.c, $dist AS d2 " +
        "FROM v p, xc3 c WHERE p.id < 5)" +
        ", qp AS (SELECT qid, c FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY qid ORDER BY d2, c) AS rk FROM qd) " +
        "WHERE rk <= 2)" +
        ", cand AS (SELECT qp.qid, a.id AS cid FROM qp " +
        "JOIN xaf a ON a.c = qp.c AND a.id != qp.qid)" +
        ", sc AS (SELECT cand.qid, cand.cid, " +
        "list_dot_product(q.v, c2.v) / " +
        "(sqrt(list_dot_product(q.v, q.v)) * " +
        "sqrt(list_dot_product(c2.v, c2.v))) AS cos_raw " +
        "FROM cand JOIN v q ON q.id = cand.qid " +
        "JOIN v c2 ON c2.id = cand.cid) " +
        "SELECT qid AS query_id, cid AS vec_id, " +
        "round(cos_raw, 6) AS cos, rk FROM (SELECT *, row_number() " +
        "OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS rk " +
        "FROM sc) WHERE rk <= 5 ORDER BY query_id, rk"
    })

  /** INCREMENTAL IVF index growth ORACLED — the `ann-ingest` semantic
    * with a green row: the coarse quantizer is fit on the BASE corpus
    * only (two thirds, q158 contract), the appended third is
    * bucket-assigned under the STORED centroids (no retraining — the
    * exact mechanism `IvfIndex.appendVectors` runs per micro-batch),
    * and the q185 search (nprobe=2, within-bucket cosine top-5) over
    * the GROWN bucket table must rank appended vectors alongside base
    * ones. DuckDB replays the base fit, the append-time assignment,
    * the union, and the search — index growth verified end-to-end,
    * including findability of what was appended. */
  val q208IvfGrowOracled: GraftQuery = GraftQuery(
    "q208_ivf_grow_oracled",
    (s, d) => {
      import s.implicits._
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".cast("long").as("id"),
          graft.operators.Similarity.asDouble($"embedding").as("v"))
        .persist()
      val base = vecs.filter($"id" % 3 =!= 0)
      val (baf, cents) = graft.ml.DistributedKMeans.fit(
        base, "id", "v", k = 4, iterations = 3)
      def sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
      // append-time assignment: the stored-centroid argmin (what each
      // ingested micro-batch pays), NOT a refit
      val aaf = vecs.filter($"id" % 3 === 0)
        .crossJoin(broadcast(cents))
        .withColumn("d2", sq($"v", $"cv"))
        .groupBy($"id")
        .agg(min_by($"c", struct($"d2", $"c")).as("c"))
      val idx = baf.select($"id", $"cluster".as("c"))
        .unionByName(aaf.select($"id", $"c"))
      val q = vecs.filter($"id" < 5)
        .select($"id".as("qid"), $"v".as("qv"))
      val qd = q.crossJoin(broadcast(cents))
        .select($"qid", $"qv", $"c", sq($"qv", $"cv").as("d2"))
      val wp = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"d2".asc, $"c".asc)
      val probed = qd.withColumn("rk", row_number().over(wp))
        .filter($"rk" <= 2).select($"qid", $"qv", $"c")
      val cands = probed.join(idx, "c")
        .filter($"id" =!= $"qid")
        .join(vecs.select($"id", $"v".as("cv")), "id")
        .select($"qid", $"id",
          graft.operators.Similarity.cosine($"qv", $"cv").as("cos_raw"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy($"cos_raw".desc, $"id".asc)
      val out = cands.withColumn("rk", row_number().over(wr))
        .filter($"rk" <= 5)
        .select($"qid".as("query_id"), $"id".as("vec_id"),
          round($"cos_raw", 6).as("cos"), $"rk")
        .orderBy($"query_id", $"rk")
      out.persist().count()
      vecs.unpersist()
      out
    },
    Some {
      val dist = "list_sum(list_transform(range(1, len(p.v) + 1), " +
        "i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])))"
      "WITH v AS MATERIALIZED (SELECT vec_id AS id, " +
        "embedding::DOUBLE[] AS v FROM embeddings), " +
        "b AS MATERIALIZED (SELECT * FROM v WHERE id % 3 != 0)" +
        lloydCte("b", "x", 4) +
        s", ap AS (SELECT id, c FROM (SELECT p.id, c.c, $dist AS d2, " +
        s"row_number() OVER (PARTITION BY p.id ORDER BY $dist, c) " +
        "AS rk FROM v p, xc3 c WHERE p.id % 3 = 0) WHERE rk = 1)" +
        ", idx AS (SELECT id, c FROM xaf UNION ALL " +
        "SELECT id, c FROM ap)" +
        s", qd AS (SELECT p.id AS qid, c.c, $dist AS d2 " +
        "FROM v p, xc3 c WHERE p.id < 5)" +
        ", qp AS (SELECT qid, c FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY qid ORDER BY d2, c) AS rk FROM qd) " +
        "WHERE rk <= 2)" +
        ", cand AS (SELECT qp.qid, i.id AS cid FROM qp " +
        "JOIN idx i ON i.c = qp.c AND i.id != qp.qid)" +
        ", sc AS (SELECT cand.qid, cand.cid, " +
        "list_dot_product(q.v, c2.v) / " +
        "(sqrt(list_dot_product(q.v, q.v)) * " +
        "sqrt(list_dot_product(c2.v, c2.v))) AS cos_raw " +
        "FROM cand JOIN v q ON q.id = cand.qid " +
        "JOIN v c2 ON c2.id = cand.cid) " +
        "SELECT qid AS query_id, cid AS vec_id, " +
        "round(cos_raw, 6) AS cos, rk FROM (SELECT *, row_number() " +
        "OVER (PARTITION BY qid ORDER BY cos_raw DESC, cid) AS rk " +
        "FROM sc) WHERE rk <= 5 ORDER BY query_id, rk"
    })

  /** PQ/ADC search with a fully replayable pipeline — the ORACLED face
    * of the q93/q94 product-quantization family (whose seeded-sample
    * LocalKMeans codebooks stay rows-only), closing the last ANN family
    * without a green fit row: [[graft.operators.PqIndex
    * .adcTopKReplayable]] splits each 64-dim vector into m=4 16-dim
    * subspaces, fits a k=4 codebook per subspace under the q158 Lloyd
    * contract (first-4 init, 3 unrolled rounds, 6-dp centroid
    * quantization — the fit's final argmin IS the first-min PQ code),
    * then ranks candidates for queries id<5 by ADC: per subspace a
    * 4-row query-to-centroid distance table, per candidate four
    * broadcast-join lookups summed left-to-right (bit-identical to
    * DuckDB's left-assoc `+` chain over the q154-proven list folds).
    * DuckDB replays all four subspace fits, the code assignment, the
    * ADC tables AND the ranking end-to-end. */
  val q188PqOracled: GraftQuery = GraftQuery(
    "q188_pq_oracled",
    (s, d) => graft.operators.PqIndex.adcTopKReplayable(
      Tables.embeddings(s, d), "vec_id", "embedding",
      m = 4, k = 4, iterations = 3, maxQueryId = 5L, topK = 5),
    Some {
      val m = 4
      val subDim = 16
      def dist: String =
        "list_sum(list_transform(range(1, len(p.v) + 1), " +
          "i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])))"
      val slices = (0 until m).map { s =>
        s", v$s AS MATERIALIZED (SELECT id, " +
          s"v[${s * subDim + 1}:${(s + 1) * subDim}] AS v FROM v)" +
          lloydCte(s"v$s", s"p$s", 4, subDim) +
          s", qd$s AS (SELECT p.id AS qid, c.c, $dist AS d2 " +
          s"FROM v$s p, p${s}c3 c WHERE p.id < 5)"
      }.mkString
      val wideJoins = (1 until m)
        .map(s => s"JOIN p${s}af a$s USING (id) ").mkString
      val adcJoins = (1 until m)
        .map(s => s"JOIN qd$s t$s ON t$s.qid = t0.qid " +
          s"AND t$s.c = w.c$s ").mkString
      val adcSum = (0 until m).map(s => s"t$s.d2").mkString(" + ")
      "WITH v AS MATERIALIZED (SELECT vec_id AS id, " +
        "embedding::DOUBLE[] AS v FROM embeddings)" +
        slices +
        ", wide AS (SELECT a0.id, " +
        (0 until m).map(s => s"a$s.c AS c$s").mkString(", ") +
        s" FROM p0af a0 $wideJoins)" +
        s", sc AS (SELECT t0.qid, w.id AS cid, $adcSum AS adc " +
        s"FROM wide w JOIN qd0 t0 ON t0.c = w.c0 $adcJoins" +
        "WHERE w.id != t0.qid) " +
        "SELECT qid AS query_id, cid AS cand_id, round(adc, 6) " +
        "AS adc_d2, rk FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY qid ORDER BY adc, cid) AS rk FROM sc) " +
        "WHERE rk <= 5 ORDER BY query_id, rk"
    })

  /** The ORACLED k-sweep + selection — M9/A9's distributed face with a
    * green row (q159's seeded production sweep stays rows-only):
    * [[graft.ml.DistributedKMeans.sweepKReplayable]] fits k ∈ {2,3,4}
    * under the q158 Lloyd contract, scores each fit with WSSSE and the
    * simplified silhouette (per-point terms 6-dp-quantized and summed
    * as DECIMAL(20,6) — the q177 order-insensitive reduction), and
    * flags the policy winner (max silhouette, smaller k on ties).
    * DuckDB replays all three fits, both scores AND the argmax — the
    * n-way generalization of q181's 2-way selection replay. */
  val q189SweepOracled: GraftQuery = GraftQuery(
    "q189_sweep_oracled",
    (s, d) => graft.ml.DistributedKMeans.sweepKReplayable(
      Tables.embeddings(s, d)
        .selectExpr("cast(vec_id as long) as id",
          "cast(embedding as array<double>) as v"),
      "id", "v", ks = Seq(2, 3, 4), iterations = 3),
    Some {
      def dist: String =
        "list_sum(list_transform(range(1, len(p.v) + 1), " +
          "i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])))"
      val perK = Seq(2, 3, 4).map { k =>
        lloydCte("v", s"k$k", k) +
          s", w$k AS (SELECT sum(round(d2, 6)::DECIMAL(20,6)) AS w " +
          s"FROM k${k}af)" +
          s", sd$k AS (SELECT p.id, sqrt($dist) AS dd " +
          s"FROM v p, k${k}c3 c)" +
          s", ab$k AS (SELECT id, (list_sort(list(dd)))[1] AS a, " +
          s"(list_sort(list(dd)))[2] AS b FROM sd$k GROUP BY id)" +
          s", s$k AS (SELECT sum(round(CASE WHEN greatest(a, b) > 0 " +
          "THEN (b - a) / greatest(a, b) ELSE 0 END, 6)" +
          s"::DECIMAL(20,6)) AS ss, count(*) AS n FROM ab$k)" +
          s", r$k AS (SELECT $k AS k, (SELECT w FROM w$k)::DOUBLE " +
          s"AS wssse, round((SELECT ss FROM s$k)::DOUBLE / " +
          s"(SELECT n FROM s$k), 6) AS silhouette)"
      }.mkString
      "WITH v AS MATERIALIZED (SELECT vec_id AS id, " +
        "embedding::DOUBLE[] AS v FROM embeddings)" +
        perK +
        ", allr AS (SELECT * FROM r2 UNION ALL SELECT * FROM r3 " +
        "UNION ALL SELECT * FROM r4) " +
        "SELECT k, wssse, silhouette, (row_number() OVER " +
        "(ORDER BY silhouette DESC, k) = 1) AS chosen " +
        "FROM allr ORDER BY k"
    })

  /** The reference's optimal-k search re-expressed for ONE huge corpus
    * ([[graft.ml.DistributedKMeans.sweepK]]): deterministic k-means||
    * seeding (seeded-hash sampling — no RNG state), a fixed-iteration
    * distributed Lloyd fit per k, simplified silhouette (O(n·k),
    * centroid distances) and WSSSE — the same decision surface the
    * per-segment `ksearch.KPolicy` consumes, computed without ever
    * collecting the data. Rows-only: the seeding is not
    * SQL-expressible, but the output is a pure function of
    * (data, seed) — deterministic across runs and partitionings
    * (DistributedKMeansSpec pins both). */
  val q159KmeansSweep: GraftQuery = GraftQuery(
    "q159_kmeans_sweep",
    (s, d) => {
      import s.implicits._
      // deterministic 10% hash slice: k is a corpus-level property a
      // sample estimates fine — the sweep pays 1/10th of the scans and
      // only the CHOSEN k would be fit on the full corpus (q158's job)
      val vecs = Tables.embeddings(s, d)
        .filter(pmod(xxhash64($"vec_id", lit(159L)), lit(10)) === 0)
        .select($"vec_id".cast("long").as("id"),
          graft.operators.Similarity.asDouble($"embedding").as("v"))
      graft.ml.DistributedKMeans
        .sweepK(vecs, "id", "v", ks = Seq(2, 3, 4), iterations = 3)
        .map { case (k, w, sil) =>
          (k, math.rint(w * 100) / 100, math.rint(sil * 1e6) / 1e6)
        }
        .toDF("k", "wssse", "silhouette")
        .orderBy($"k")
    })

  /** The fused IVF-PQ composite with a green row — q94's oracle-able
    * face ([[graft.operators.PqIndex.ivfAdcTopKReplayable]]): the q185
    * coarse quantizer (full-dim k=4 Lloyd fit, nprobe=2 list
    * selection) prunes candidates, the q188 ADC stage (4×16-dim
    * subspace fits, broadcast table lookups) scores only the
    * survivors — the FAISS pairing relationally verified end-to-end.
    * The seeded-codebook production composite (q94) stays rows-only. */
  val q195IvfPqOracled: GraftQuery = GraftQuery(
    "q195_ivfpq_oracled",
    (s, d) => graft.operators.PqIndex.ivfAdcTopKReplayable(
      Tables.embeddings(s, d), "vec_id", "embedding",
      m = 4, k = 4, iterations = 3, nlist = 4, nprobe = 2,
      maxQueryId = 5L, topK = 5),
    Some {
      val m = 4
      val subDim = 16
      def dist: String =
        "list_sum(list_transform(range(1, len(p.v) + 1), " +
          "i -> (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])))"
      val slices = (0 until m).map { s =>
        s", v$s AS MATERIALIZED (SELECT id, " +
          s"v[${s * subDim + 1}:${(s + 1) * subDim}] AS v FROM v)" +
          lloydCte(s"v$s", s"p$s", 4, subDim) +
          s", qd$s AS (SELECT p.id AS qid, c.c, $dist AS d2 " +
          s"FROM v$s p, p${s}c3 c WHERE p.id < 5)"
      }.mkString
      val wideJoins = (1 until m)
        .map(s => s"JOIN p${s}af a$s USING (id) ").mkString
      val adcJoins = (0 until m)
        .map(s => s"JOIN qd$s t$s ON t$s.qid = cand.qid " +
          s"AND t$s.c = w.c$s ").mkString
      val adcSum = (0 until m).map(s => s"t$s.d2").mkString(" + ")
      "WITH v AS MATERIALIZED (SELECT vec_id AS id, " +
        "embedding::DOUBLE[] AS v FROM embeddings)" +
        lloydCte("v", "x", 4) +
        s", cqd AS (SELECT p.id AS qid, c.c, $dist AS d2 " +
        "FROM v p, xc3 c WHERE p.id < 5)" +
        ", qp AS (SELECT qid, c FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY qid ORDER BY d2, c) AS rk FROM cqd) " +
        "WHERE rk <= 2)" +
        ", cand AS (SELECT qp.qid, a.id FROM qp " +
        "JOIN xaf a ON a.c = qp.c)" +
        slices +
        ", wide AS (SELECT a0.id, " +
        (0 until m).map(s => s"a$s.c AS c$s").mkString(", ") +
        s" FROM p0af a0 $wideJoins)" +
        s", sc AS (SELECT cand.qid, w.id AS cid, $adcSum AS adc " +
        s"FROM wide w JOIN cand ON cand.id = w.id $adcJoins" +
        "WHERE w.id != cand.qid) " +
        "SELECT qid AS query_id, cid AS cand_id, round(adc, 6) " +
        "AS adc_d2, rk FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY qid ORDER BY adc, cid) AS rk FROM sc) " +
        "WHERE rk <= 5 ORDER BY query_id, rk"
    })

  /** SEMANTIC decontamination ([[graft.operators.Decontaminate
    * .semanticOverlap]]) — the embedding-space complement of q193's
    * gram screen: train×eval cosine ≥ 0.95 with the eval side
    * broadcast (benchmark-sized). The corpus has no natural ≥0.95
    * pairs (max ~0.51), so leaks are PLANTED IN THE QUERY (the q184
    * convention): the first 10 eval vectors (vec_id ≡ 0 mod 97) get a
    * near-clone on the TRAIN side at id+1000000 with coordinate 1
    * scaled 1.02 — the screen must find exactly those pairs. Fully
    * oracled end-to-end. */
  val q197SemanticDecon: GraftQuery = GraftQuery(
    "q197_semantic_decon",
    (s, d) => {
      import s.implicits._
      val base = Tables.embeddings(s, d)
        .select($"vec_id".cast("long").as("vec_id"),
          graft.operators.Similarity.asDouble($"embedding")
            .as("embedding"))
      val evalSet = base.filter($"vec_id" % 97 === 0)
      val clones = evalSet.orderBy($"vec_id").limit(10)
        .select(($"vec_id" + 1000000L).as("vec_id"),
          zip_with($"embedding", sequence(lit(1), size($"embedding")),
            (x, i) => when(i === 1, x * 1.02).otherwise(x))
            .as("embedding"))
      val train = base.filter($"vec_id" % 97 =!= 0).unionByName(clones)
      graft.operators.Decontaminate.semanticOverlap(
        train, evalSet, "vec_id", "embedding", tau = 0.95)
    },
    Some(
      "WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS v " +
        "FROM embeddings), " +
        "ev AS (SELECT vec_id AS eval_id, v AS ev FROM b " +
        "WHERE vec_id % 97 = 0), " +
        "cl AS (SELECT eval_id + 1000000 AS train_id, " +
        "list_transform(range(1, len(ev) + 1), i -> CASE WHEN i = 1 " +
        "THEN ev[1] * 1.02 ELSE ev[i] END) AS tv FROM " +
        "(SELECT * FROM ev ORDER BY eval_id LIMIT 10)), " +
        "tr AS (SELECT vec_id AS train_id, v AS tv FROM b " +
        "WHERE vec_id % 97 != 0 UNION ALL SELECT * FROM cl), " +
        "sc AS (SELECT tr.train_id, ev.eval_id, " +
        "list_dot_product(tr.tv, ev.ev) / " +
        "(sqrt(list_dot_product(tr.tv, tr.tv)) * " +
        "sqrt(list_dot_product(ev.ev, ev.ev))) AS cos_raw " +
        "FROM tr, ev) " +
        "SELECT train_id, eval_id, round(cos_raw, 6) AS cos FROM sc " +
        "WHERE cos_raw >= 0.95 ORDER BY train_id, eval_id"))

  /** Int8 scalar quantization of the embedding store
    * ([[graft.operators.ScalarQuant.quantizeReport]]) — the
    * storage-tier compression companion to PQ (faiss SQ8): per-dim
    * corpus min/max define a linear [0,255] code (4× smaller at rest,
    * independent per-dimension decode). Fully oracled: bounds, every
    * code (exact integer checksum per vector) and the reconstruction
    * error are affine arithmetic DuckDB re-derives end-to-end. */
  val q194ScalarQuant: GraftQuery = GraftQuery(
    "q194_scalar_quant",
    (s, d) => graft.operators.ScalarQuant.quantizeReport(
      Tables.embeddings(s, d), "vec_id", "embedding"),
    Some(
      "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v " +
        "FROM embeddings), " +
        "b AS (SELECT t.i AS j, min(v.v[t.i]) AS mn, " +
        "max(v.v[t.i]) AS mx FROM v, range(1, 65) t(i) GROUP BY t.i), " +
        "bl AS (SELECT list(mn ORDER BY j) AS mns, " +
        "list(mx ORDER BY j) AS mxs FROM b), " +
        "c AS (SELECT vec_id, v, list_transform(range(1, 65), " +
        "i -> CASE WHEN bl.mxs[i] - bl.mns[i] > 0 THEN " +
        "round((v.v[i] - bl.mns[i]) / (bl.mxs[i] - bl.mns[i]) " +
        "* 255.0)::BIGINT ELSE 0 END) AS cs FROM v, bl) " +
        "SELECT vec_id, list_sum(cs)::BIGINT AS code_sum, " +
        "round(list_sum(list_transform(range(1, 65), i -> " +
        "(c.v[i] - (bl.mns[i] + cs[i] / 255.0 * " +
        "(bl.mxs[i] - bl.mns[i]))) * (c.v[i] - (bl.mns[i] + " +
        "cs[i] / 255.0 * (bl.mxs[i] - bl.mns[i]))))), 6) " +
        "AS recon_err FROM c, bl ORDER BY vec_id"))

  /** Higher-order array-function coverage, fully oracled: per-element
    * transform (x²) folded by `aggregate`, a `filter` count, and the
    * TEXTBOOK zip_with/aggregate cosine composition against the
    * reversed vector. The cosine is written in the naive HOF form on
    * purpose — the [[graft.expressions.CosineFusion]] optimizer rule
    * (ensured lazily on whatever session runs the registry) rewrites
    * it to the single-pass native ArrayCosine kernel; PlanAuditSpec
    * asserts the fusion actually fired in the optimized plan. DuckDB
    * replays everything via list_transform / list_filter / list_sum /
    * list_dot_product / list_reverse — both engines accumulate doubles
    * left-to-right, and 6-dp rounding pins the remaining bits. */
  val q148ArrayHof: GraftQuery = GraftQuery(
    "q148_array_hof",
    (s, d) => {
      import s.implicits._
      org.apache.spark.sql.GraftExprBridge.ensureOptimization(s,
        graft.expressions.CosineFusion)
      val e = Tables.embeddings(s, d)
      val v = graft.operators.Similarity.asDouble($"embedding")
      e.select($"vec_id",
        round(aggregate(transform(v, x => x * x), lit(0.0),
          (acc, x) => acc + x), 6).as("sum_sq"),
        size(filter(v, x => x > lit(0.0))).cast("long").as("n_pos"),
        round(graft.operators.Similarity.cosineHof($"embedding",
          reverse($"embedding")), 6).as("cos_rev"))
        .orderBy($"vec_id")
    },
    Some(
      "SELECT vec_id, " +
        "round(list_sum(list_transform(embedding::DOUBLE[], " +
        "x -> x*x)), 6) AS sum_sq, " +
        "len(list_filter(embedding::DOUBLE[], x -> x > 0))::BIGINT " +
        "AS n_pos, " +
        "round(list_dot_product(embedding::DOUBLE[], " +
        "list_reverse(embedding::DOUBLE[])) / " +
        "(sqrt(list_dot_product(embedding::DOUBLE[], " +
        "embedding::DOUBLE[])) * " +
        "sqrt(list_dot_product(list_reverse(embedding::DOUBLE[]), " +
        "list_reverse(embedding::DOUBLE[])))), 6) AS cos_rev " +
        "FROM embeddings ORDER BY vec_id"))

  /** Cosine kernel — the native single-pass expression (see
    * [[graft.operators.Similarity.cosine]]). */
  def cosine(a: Column, b: Column): Column =
    graft.operators.Similarity.cosine(a, b)

  /** Brute-force cosine scores: 5 query vectors × all candidates.
    * Queries are broadcast; at scale this is the exact-scoring baseline
    * the LSH path (graft.operators.Similarity) is measured against. */
  val q25CosinePairs: GraftQuery = GraftQuery(
    "q25_cosine_pairs",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      e.select($"vec_id", $"embedding".as("cv"))
        .crossJoin(broadcast(q))
        .select($"query_id", $"vec_id",
          round(cosine($"qv", $"cv"), 6).as("cos"))
        .orderBy($"query_id", $"vec_id")
    },
    Some(
      "SELECT q.vec_id AS query_id, c.vec_id AS vec_id, " +
        "round(list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) / " +
        "(sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) * " +
        "sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos " +
        "FROM embeddings q, embeddings c WHERE q.vec_id < 5 " +
        "ORDER BY query_id, vec_id"))

  /** Exact k-NN top-5 per query via ranking window over the scored pairs
    * (tie-broken on vec_id; scores computed identically in both engines). */
  val q26KnnBruteForce: GraftQuery = GraftQuery(
    "q26_knn_brute_force",
    (s, d) => {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val scored = e.select($"vec_id", $"embedding".as("cv"))
        .crossJoin(broadcast(q))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id", cosine($"qv", $"cv").as("cos_raw"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"cos_raw".desc, $"vec_id")
      scored.withColumn("rk", row_number().over(w))
        .filter($"rk" <= 5)
        .select($"query_id", $"vec_id", round($"cos_raw", 6).as("cos"), $"rk")
        .orderBy($"query_id", $"rk")
    },
    Some(
      "WITH scored AS (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS vec_id, " +
        "list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) / " +
        "(sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) * " +
        "sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos_raw " +
        "FROM embeddings q, embeddings c " +
        "WHERE q.vec_id < 5 AND c.vec_id != q.vec_id) " +
        "SELECT query_id, vec_id, round(cos_raw, 6) AS cos, rk FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cos_raw DESC, vec_id) AS rk FROM scored) " +
        "WHERE rk <= 5 ORDER BY query_id, rk"))

  /** Upper-triangle sample covariance of the 64-dim embedding column —
    * the distributed Gramian pass behind [[graft.ml.Pca]] (one d×d
    * partial per partition, partition-index-ordered combine, no shuffle
    * of pair rows). The oracle recomputes every entry from scratch with
    * DuckDB's covar_samp over unnested (index, value) pairs. */
  val q110Covariance: GraftQuery = GraftQuery(
    "q110_embedding_covariance",
    (s, d) => {
      import s.implicits._
      graft.ml.Pca.covarianceLong(
          Tables.embeddings(s, d), "embedding", dim = 64, roundTo = 8)
        .orderBy($"i", $"j")
    },
    Some(
      "WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v, " +
        "unnest(generate_series(1, len(embedding))) AS i " +
        "FROM embeddings), " +
        "p AS (SELECT a.i AS i, b.i AS j, covar_samp(a.v, b.v) AS cov " +
        "FROM e a JOIN e b USING (vec_id) WHERE a.i <= b.i " +
        "GROUP BY 1, 2) " +
        "SELECT i, j, round(cov, 8) AS cov FROM p ORDER BY i, j"))

  /** The incremental-moments lifecycle ORACLED end-to-end
    * ([[graft.ml.Pca.writeMoments]]/[[graft.ml.Pca.appendMoments]]/
    * [[graft.ml.Pca.covarianceFromMoments]]): two thirds of the corpus
    * start the persisted artifact, the last third is APPENDED as a
    * second batch (one ~d²/2-double row — the old data is never
    * re-read), and the covariance derived from the SUMMED artifact
    * must equal DuckDB's single-pass covar_samp over everything —
    * q110's oracle verbatim. Moment associativity is the whole reason
    * a 100 TB model can grow per-shard; this row makes it checkable
    * rather than assumed. */
  val q206IncrementalMomentsOracled: GraftQuery = GraftQuery(
    "q206_incremental_moments_oracled",
    (s, d) => {
      import s.implicits._
      val root = Scratch.dir("graft_q206")
      val emb = Tables.embeddings(s, d)
      graft.ml.Pca.writeMoments(
        emb.filter($"vec_id" % 3 =!= 0), "embedding", 64, s"$root/m")
      graft.ml.Pca.appendMoments(
        emb.filter($"vec_id" % 3 === 0), "embedding", 64, s"$root/m")
      graft.ml.Pca.covarianceFromMoments(s, s"$root/m", roundTo = 8)
        .orderBy($"i", $"j")
    },
    Some(
      "WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v, " +
        "unnest(generate_series(1, len(embedding))) AS i " +
        "FROM embeddings), " +
        "p AS (SELECT a.i AS i, b.i AS j, covar_samp(a.v, b.v) AS cov " +
        "FROM e a JOIN e b USING (vec_id) WHERE a.i <= b.i " +
        "GROUP BY 1, 2) " +
        "SELECT i, j, round(cov, 8) AS cov FROM p ORDER BY i, j"))

  /** STREAMING model growth ORACLED ([[graft.streaming.MomentsStream]]):
    * the corpus arrives as four parquet files, every micro-batch
    * upserts one moments row keyed by its streaming batchId (dynamic
    * partitioned overwrite — an at-least-once redelivery REPLACES its
    * row, so the model cannot double-count), and the covariance served
    * from the artifact must hash-match DuckDB's single-pass covar_samp
    * over everything the stream saw — q110's oracle through the
    * checkpoint. The q202/q203 streaming-face contract applied to a
    * MODEL artifact instead of an output table. */
  val q207StreamMomentsOracled: GraftQuery = GraftQuery(
    "q207_stream_moments_oracled",
    (s, d) => {
      import s.implicits._
      val src = AnnIndexes.prepared("q207src", d) { p =>
        Tables.embeddings(s, d)
          .repartition(4)
          .write.mode("overwrite").parquet(p)
      }
      val root = Scratch.dir("graft_q207")
      graft.streaming.MomentsStream.runToCompletion(s, src,
        s"$root/m", s"$root/chk")
      graft.ml.Pca.covarianceFromMoments(s, s"$root/m", roundTo = 8)
        .orderBy($"i", $"j")
    },
    Some(
      "WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v, " +
        "unnest(generate_series(1, len(embedding))) AS i " +
        "FROM embeddings), " +
        "p AS (SELECT a.i AS i, b.i AS j, covar_samp(a.v, b.v) AS cov " +
        "FROM e a JOIN e b USING (vec_id) WHERE a.i <= b.i " +
        "GROUP BY 1, 2) " +
        "SELECT i, j, round(cov, 8) AS cov FROM p ORDER BY i, j"))

  /** Dimensionality-reduced retrieval recall ([[graft.ml.Pca]] as an
    * index accelerator): score the standard probe set in 16-dim PCA
    * space (4× fewer flops and bytes per comparison than the 64-dim
    * original; at 100 TB the reduced vectors ARE the stored scan) and
    * grade the reduced-space cosine top-10 against the shared exact
    * full-dim baseline. Model is fit once per JVM ([[AnnIndexes]]);
    * rows-only (eigensolve isn't SQL) but deterministic, floor-gated at
    * execution time like q47/q66/q93. Measured mean recall ~0.22 at
    * sf0.01 and ~0.06 at sf0.1 — recall@10 falls as the candidate set
    * grows 10× while the compressed width stays fixed, and the
    * synthetic embeddings are near-isotropic (16/64 dims ≈ 25% of
    * variance), which is exactly what the query surfaces: PCA
    * compression only pays when the spectrum decays. Floors are
    * PER-SF ([[graft.operators.Similarity.RecallFloors]]) — r5's
    * single shared constant was a value-pin that the first full sf0.1
    * dump legitimately tripped, and a per-SF table encodes
    * scale-dependent recall instead of re-litigating it per round. */
  val q115PcaAnnRecall: GraftQuery = GraftQuery(
    "q115_pca_ann_recall",
    (s, d) => {
      import s.implicits._
      val k = 10
      val model = AnnIndexes.pcaModel(s, d, k = 16)
      val reduced = model.transform(Tables.embeddings(s, d), "embedding")
        .select($"vec_id",
          array((1 to 16).map(j => col(s"pc$j")): _*).as("rvec"))
      val q = reduced.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"rvec".as("qv"))
      val approx = graft.operators.Similarity.bruteForceTopK(
          q, reduced.select($"vec_id", $"rvec".as("cv")),
          "query_id", "qv", "vec_id", "cv", k)
        .select($"query_id", $"vec_id".as("cand_id"))
      val exact = AnnIndexes.exactCosineTopK(s, d, k)
      val hits = exact.join(approx, Seq("query_id", "cand_id"),
          "left_semi")
        .groupBy($"query_id").agg(count(lit(1)).as("hits"))
      val recalls = exact.select($"query_id").distinct()
        .join(hits, Seq("query_id"), "left_outer")
        .select($"query_id",
          (coalesce($"hits", lit(0L)).cast("double") / k).as("recall"))
      graft.operators.Similarity.assertRecallFloor(recalls,
        graft.operators.Similarity.RecallFloors.floor("q115", d))
        .select($"query_id", round($"recall", 2).as("recall"),
          $"min_recall")
        .orderBy($"query_id")
    })

  /** PER-GROUP PCA ([[graft.ml.Pca.fitPerGroup]]): every label's own
    * 2-component model fit in ONE distributed aggregation (a moments
    * buffer per group × map partition — rows never shuffle), eigensolved
    * per group on the driver, projections applied via a broadcast join.
    * The segment-wise twin of q111; rows-only (eigensolve), summarized
    * per label. mean(pc1) ≡ 0 by centering, so the summary reports
    * mean |pc1| and max pc1 — values an uncentered or wrong-group
    * projection would break. */
  val q118PcaPerLabel: GraftQuery = GraftQuery(
    "q118_pca_per_label",
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val models = graft.ml.Pca.fitPerGroup(emb, "label", "embedding",
        dim = 64, k = 2)
      graft.ml.Pca.transformPerGroup(emb, models, "label", "embedding")
        .select($"label", element_at($"pcs", 1).as("pc1"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n"),
          round(avg(abs($"pc1")), 6).as("mean_abs_pc1"),
          round(max($"pc1"), 6).as("max_pc1"))
        .orderBy($"label")
    })

  /** Top principal component via UNROLLED POWER ITERATION
    * ([[graft.ml.Pca.powerIterationTopPc]]) — the ORACLED face of the
    * PCA family (q111 stays rows-only for the Jacobi eigensolve).
    * DuckDB replays every stage: the 8-dp covariance grid (q110's
    * proven covar_samp parity, upper triangle mirrored exactly as the
    * Scala side mirrors it), 8-dp means, v₀ = round(1/√64, 6), five
    * matvec+normalize rounds with 6-dp re-quantization (the q158
    * contract — both engines iterate on identical quantized inputs, and
    * the matvec/norm sums are ascending-index left folds on both
    * sides), then the q154 zip_with/aggregate projection fold. */
  val q180PcaPowerIteration: GraftQuery = GraftQuery(
    "q180_pca_power_iteration",
    (s, d) => {
      import s.implicits._
      graft.ml.Pca.powerIterationTopPc(
          Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, iterations = 5)
        .orderBy($"vec_id")
    },
    Some {
      val rounds = (1 to 5).map { r =>
        val prev = if (r == 1) "v0" else s"v${r - 1}"
        s", u$r AS (SELECT i, list_sum(list_transform(range(1, 65), " +
          s"k -> cm.r[k] * pv.v[k])) AS u FROM cm, $prev pv)" +
          s", ul$r AS (SELECT list(u ORDER BY i) AS ul FROM u$r)" +
          s", v$r AS (SELECT list_transform(ul, x -> round(x / " +
          "sqrt(list_sum(list_transform(ul, y -> y * y))), 6)) AS v " +
          s"FROM ul$r)"
      }.mkString
      "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v " +
        "FROM embeddings), " +
        "ex AS (SELECT vec_id, unnest(v) AS x, " +
        "unnest(generate_series(1, len(v))) AS i FROM e), " +
        "mu AS (SELECT i, round(avg(x), 8) AS m FROM ex GROUP BY i), " +
        "mul AS (SELECT list(m ORDER BY i) AS mu FROM mu), " +
        "cvu AS (SELECT a.i AS i, b.i AS j, " +
        "round(covar_samp(a.x, b.x), 8) AS cov FROM ex a " +
        "JOIN ex b USING (vec_id) WHERE a.i <= b.i GROUP BY 1, 2), " +
        "cvf AS (SELECT i, j, cov FROM cvu " +
        "UNION ALL SELECT j, i, cov FROM cvu WHERE i != j), " +
        "cm AS MATERIALIZED (SELECT i, list(cov ORDER BY j) AS r " +
        "FROM cvf GROUP BY i), " +
        "v0 AS (SELECT list_transform(range(1, 65), " +
        "x -> round(1.0 / sqrt(64.0), 6)) AS v)" +
        rounds +
        " SELECT e.vec_id, round(list_sum(list_transform(range(1, 65), " +
        "i -> (e.v[i] - mul.mu[i]) * fv.v[i])), 6) AS pc1 " +
        "FROM e, mul, v5 fv ORDER BY vec_id"
    })

  /** PER-LABEL power-iteration PCA — the ORACLED face of the
    * per-group family (q118's fitPerGroup stays rows-only for its
    * Jacobi eigensolves): every label's own top component via the
    * q180 contract (8-dp covariance/means grid, v₀ = round(1/√64, 6),
    * five 6-dp re-quantized rounds), all ten labels replayed by ONE
    * DuckDB CTE chain with the label carried through every stage.
    * Output mirrors q118's summary: mean |pc1| and max pc1 per label
    * (mean(pc1) ≡ 0 by centering, so those are the values a
    * wrong-group or uncentered projection would break). */
  val q186PcaPerLabelOracled: GraftQuery = GraftQuery(
    "q186_pca_per_label_oracled",
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val labels = emb.select($"label").distinct()
        .collect().map(_.getInt(0)).sorted
      // the per-label fits are INDEPENDENT (each collects its own
      // covariance + mean and power-iterates driver-side), so submit
      // them from a small thread pool and let later labels' jobs
      // back-fill executors freed by earlier labels' tails (guide
      // §2.6 overlap-independent-jobs; r16 optimization round:
      // 10 sequential fits were 64 driver-serialized jobs, measured
      // 4.6-5.4 s — overlapped ≈2× faster). Each label's computation
      // is untouched, so every number is bit-identical to the
      // sequential order; the final union stays label-sorted.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fits = labels.map { l =>
        scala.concurrent.Future {
          graft.ml.Pca.powerIterationTopPc(
              emb.filter($"label" === l), "vec_id", "embedding",
              dim = 64, iterations = 5)
            .agg(count(lit(1)).as("n"),
              round(avg(abs($"pc1")), 6).as("mean_abs_pc1"),
              round(max($"pc1"), 6).as("max_pc1"))
            .select(lit(l).as("label"), $"n", $"mean_abs_pc1",
              $"max_pc1")
        }
      }
      val parts =
        try fits.map(f => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration.Inf))
        finally pool.shutdown()
      parts.reduce(_ unionByName _).orderBy($"label")
    },
    Some {
      val rounds = (1 to 5).map { r =>
        val prev = if (r == 1) "v0" else s"v${r - 1}"
        s", u$r AS (SELECT cm.label, cm.i, " +
          "list_sum(list_transform(range(1, 65), " +
          s"k -> cm.r[k] * pv.v[k])) AS u FROM cm JOIN $prev pv " +
          "USING (label))" +
          s", ul$r AS (SELECT label, list(u ORDER BY i) AS ul " +
          s"FROM u$r GROUP BY label)" +
          s", v$r AS (SELECT label, list_transform(ul, x -> round(x / " +
          "sqrt(list_sum(list_transform(ul, y -> y * y))), 6)) AS v " +
          s"FROM ul$r)"
      }.mkString
      "WITH e AS (SELECT label, vec_id, embedding::DOUBLE[] AS v " +
        "FROM embeddings), " +
        "ex AS (SELECT label, vec_id, unnest(v) AS x, " +
        "unnest(generate_series(1, len(v))) AS i FROM e), " +
        "mu AS (SELECT label, i, round(avg(x), 8) AS m FROM ex " +
        "GROUP BY 1, 2), " +
        "mul AS (SELECT label, list(m ORDER BY i) AS mu FROM mu " +
        "GROUP BY label), " +
        "cvu AS (SELECT a.label, a.i AS i, b.i AS j, " +
        "round(covar_samp(a.x, b.x), 8) AS cov FROM ex a " +
        "JOIN ex b ON a.vec_id = b.vec_id AND a.label = b.label " +
        "WHERE a.i <= b.i GROUP BY 1, 2, 3), " +
        "cvf AS (SELECT label, i, j, cov FROM cvu " +
        "UNION ALL SELECT label, j, i, cov FROM cvu WHERE i != j), " +
        "cm AS MATERIALIZED (SELECT label, i, list(cov ORDER BY j) " +
        "AS r FROM cvf GROUP BY 1, 2), " +
        "v0 AS (SELECT DISTINCT label, list_transform(range(1, 65), " +
        "x -> round(1.0 / sqrt(64.0), 6)) AS v FROM e)" +
        rounds +
        ", pc AS (SELECT e.label, e.vec_id, " +
        "round(list_sum(list_transform(range(1, 65), " +
        "i -> (e.v[i] - mul.mu[i]) * (fv.v[i]))), 6) AS pc1 " +
        "FROM e JOIN mul USING (label) JOIN v5 fv USING (label)) " +
        "SELECT label, count(*)::BIGINT AS n, " +
        "round(avg(abs(pc1)), 6) AS mean_abs_pc1, " +
        "round(max(pc1), 6) AS max_pc1 FROM pc GROUP BY label " +
        "ORDER BY label"
    })

  /** PCA projection ([[graft.ml.Pca]]): 64-dim embeddings reduced to the
    * top-3 principal components. Eigensolve happens on the driver's d×d
    * covariance; the projection is pure zip_with/aggregate expressions.
    * No SQL oracle (eigendecomposition isn't expressible) — rows-only,
    * deterministic: index-ordered Gramian combine + fixed sign
    * convention, verified against spark.ml in PcaSpec. */
  val q111PcaProject: GraftQuery = GraftQuery(
    "q111_pca_project",
    (s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val model = graft.ml.Pca.fit(emb, "embedding", dim = 64, k = 3)
      model.transform(emb, "embedding")
        .select($"vec_id", round($"pc1", 6).as("pc1"),
          round($"pc2", 6).as("pc2"), round($"pc3", 6).as("pc3"))
        .orderBy($"vec_id")
    })

  /** The q154 fold as a SQL macro — both engines accumulate the
    * elementwise squared differences left-to-right, so the doubles
    * are bit-equal wherever this string and
    * [[graft.expressions.ArrayL2Sq]] score the same pair. */
  private def sqlD2(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** The unrolled NN-descent replay for
    * [[graft.operators.NnDescent.knnGraph]]: ring init in
    * projection-rank space (list_sum(v) = the same left-to-right fold
    * as the Spark aggregate, so ranks agree), then per round
    * undirect → cap co-neighbor lists at `cap`
    * by (d2, id) → co-neighbor pairs → exact d2 → keep each node's k
    * best. Distances are raw doubles: d2 is exactly symmetric and
    * recomputation is bit-stable, so the DISTINCT dedups and the
    * row_number tie-breaks see identical values on both engines. */
  private def nnDescentCtes(k: Int, cap: Int, rounds: Int): String = {
    val prefix =
      "WITH vecs AS MATERIALIZED (SELECT vec_id AS id, " +
        "embedding::DOUBLE[] AS v FROM embeddings), " +
        "nn AS (SELECT count(*)::BIGINT AS n FROM vecs), " +
        "rkd AS MATERIALIZED (SELECT id, v, " +
        "(row_number() OVER (ORDER BY list_sum(v), id) - 1)::BIGINT " +
        "AS rn FROM vecs), " +
        s"e0 AS MATERIALIZED (SELECT a.id AS u, b.id AS nb, " +
        s"${sqlD2("a.v", "b.v")} AS d2 FROM rkd a CROSS JOIN nn " +
        s"CROSS JOIN (SELECT unnest(generate_series(1, $k)) AS o) os " +
        "JOIN rkd b ON b.rn = (a.rn + os.o) % nn.n)"
    val body = (1 to rounds).map { r =>
      s", ud$r AS (SELECT DISTINCT x, y, d2 FROM (" +
        s"SELECT u AS x, nb AS y, d2 FROM e${r - 1} UNION ALL " +
        s"SELECT nb AS x, u AS y, d2 FROM e${r - 1}))" +
        s", nx$r AS MATERIALIZED (SELECT x, y FROM (" +
        "SELECT x, y, row_number() OVER (PARTITION BY x " +
        s"ORDER BY d2, y) AS rk FROM ud$r) WHERE rk <= $cap)" +
        s", cp$r AS MATERIALIZED (SELECT DISTINCT a.y AS u, " +
        s"b.y AS nb FROM nx$r a JOIN nx$r b ON a.x = b.x " +
        "WHERE a.y != b.y)" +
        s", cd$r AS (SELECT c.u, c.nb, " +
        s"${sqlD2("va.v", "vb.v")} AS d2 FROM cp$r c " +
        "JOIN vecs va ON va.id = c.u JOIN vecs vb ON vb.id = c.nb)" +
        s", e$r AS MATERIALIZED (SELECT u, nb, d2 FROM (" +
        "SELECT u, nb, d2, row_number() OVER (PARTITION BY u " +
        "ORDER BY d2, nb) AS rk FROM (SELECT DISTINCT u, nb, d2 " +
        s"FROM (SELECT u, nb, d2 FROM e${r - 1} UNION ALL " +
        s"SELECT u, nb, d2 FROM cd$r))) WHERE rk <= $k)"
    }.mkString
    prefix + body
  }

  /** Graph-based ANN, face 1: deterministic NN-descent k-NN-graph
    * construction over the embeddings table
    * ([[graft.operators.NnDescent.knnGraph]]) — the family face next
    * to LSH/IVF/PQ/IVF-PQ/SQ8 (VERDICT r11 #4), FULLY ORACLED: DuckDB
    * re-derives the ring init and all three unrolled refinement
    * rounds, so every (node, rank, neighbor, distance) row of the
    * built graph hashes. Geometry k=16/cap=32/rounds=3 since r16 —
    * the build-knob frontier (BASELINE.md r16, VERDICT r15 #5)
    * showed it buys clustered serve recall 0.527→0.822 at beam 4
    * for ≤2× build wall over the old k=8/cap=16, and the serve
    * faces keep their k=8 answer contract unchanged. */
  val q231NnDescentOracled: GraftQuery = GraftQuery(
    "q231_nndescent_graph_oracled",
    (s, d) => {
      import s.implicits._
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".cast("long").as("id"),
          graft.operators.Similarity.asDouble($"embedding").as("v"))
      graft.operators.NnDescent.knnGraph(vecs, k = 16, cap = 32,
          rounds = 3)
        .select($"u", $"rank", $"nb", round($"d2", 6).as("d2"))
        .orderBy($"u", $"rank")
    },
    Some(
      nnDescentCtes(k = 16, cap = 32, rounds = 3) +
        " SELECT u, rk AS rank, nb, round(d2, 6) AS d2 FROM (" +
        "SELECT u, nb, d2, row_number() OVER (PARTITION BY u " +
        "ORDER BY d2, nb) AS rk FROM e3) ORDER BY u, rank"))

  /** Graph-based ANN, face 2: beam-search serving from the PERSISTED
    * NN-descent graph ([[graft.operators.NnDescent.greedyTrace]],
    * beam = 4 — the deterministic core of HNSW's ef-search) — five
    * held-out probes (reversed stored vectors, the q206 convention)
    * each score 32 entry candidates at evenly spaced projection ranks
    * (rank ⌊q·n/32⌋, the same rank order the build used) and seed the
    * beam from the best 4 of them; each hop the frontier becomes
    * the best 4 of {frontier} ∪ {frontier's neighbors}. The per-hop
    * BEST forms the hashed 9-row-per-probe trace: the walk IS the
    * serving protocol, and each hop reads beam·k edges + beam·k
    * vectors however large the corpus. The graph builds once per JVM
    * ([[AnnIndexes.prepared]]) so bench repeats measure serving, not
    * reconstruction. */
  val q232GraphAnnServeOracled: GraftQuery = GraftQuery(
    "q232_graph_ann_serve_oracled",
    (s, d) => {
      import s.implicits._
      def vecs = Tables.embeddings(s, d)
        .select($"vec_id".cast("long").as("id"),
          graft.operators.Similarity.asDouble($"embedding").as("v"))
      // entry candidates persist WITH the graph (VERDICT r12 #2): the
      // serve path must not re-rank the corpus per call — it reads
      // two stored artifacts and k vectors per hop, nothing else.
      // The build lives in AnnIndexes.nnDescentServing so the bench's
      // pre-settle pass shares it (VERDICT r13 #2).
      val dir = AnnIndexes.nnDescentServing(s, d)
      val probes = Tables.embeddings(s, d).filter($"vec_id" < 5)
        .select($"vec_id".cast("long").as("query_id"),
          reverse(graft.operators.Similarity.asDouble($"embedding"))
            .as("qv"))
      graft.operators.NnDescent.greedyTrace(
          s.read.parquet(s"$dir/graph").select($"u", $"nb"), vecs,
          probes, hops = 8, beam = 4,
          entries = s.read.parquet(s"$dir/entries"))
        .select($"query_id", $"hop", $"node_id",
          round($"d2", 6).as("d2"))
        .orderBy($"query_id", $"hop")
    },
    Some(
      nnDescentCtes(k = 16, cap = 32, rounds = 3) +
        ", pr AS (SELECT vec_id AS query_id, " +
        "list_reverse(embedding::DOUBLE[]) AS qv FROM embeddings " +
        "WHERE vec_id < 5), " +
        // entry candidates at ranks floor(q·n/32) of the SAME
        // projection order the build ranked by (rkd) — integer
        // division matches the Scala Long division; the beam starts
        // at the best 4 of the 32
        "ents AS (SELECT DISTINCT r.id, r.v FROM rkd r CROSS JOIN nn " +
        "JOIN (SELECT unnest(generate_series(0, 31)) AS q) q " +
        "ON r.rn = (nn.n * q.q) // 32), " +
        "g0 AS MATERIALIZED (SELECT query_id, qv, node_id, d2, rn " +
        "FROM (SELECT query_id, qv, node_id, d2, " +
        "row_number() OVER (PARTITION BY query_id " +
        "ORDER BY d2, node_id) AS rn FROM (" +
        "SELECT pr.query_id, pr.qv, ents.id AS node_id, " +
        s"${sqlD2("pr.qv", "ents.v")} AS d2 " +
        "FROM pr CROSS JOIN ents)) WHERE rn <= 4)" +
        (1 to 8).map { h =>
          s", g$h AS MATERIALIZED (SELECT query_id, qv, node_id, " +
            "d2, rn FROM (SELECT c.query_id, c.qv, " +
            "c.cand AS node_id, c.d2, " +
            "row_number() OVER (PARTITION BY c.query_id " +
            "ORDER BY c.d2, c.cand) AS rn FROM (" +
            "SELECT DISTINCT query_id, qv, cand, d2 FROM (" +
            s"SELECT g.query_id, g.qv, g.node_id AS cand, g.d2 " +
            s"FROM g${h - 1} g UNION ALL " +
            "SELECT g.query_id, g.qv, e.nb AS cand, " +
            s"${sqlD2("g.qv", "v.v")} AS d2 FROM g${h - 1} g " +
            "JOIN e3 e ON e.u = g.node_id " +
            "JOIN vecs v ON v.id = e.nb)) c) WHERE rn <= 4)"
        }.mkString +
        " SELECT query_id, hop, node_id, round(d2, 6) AS d2 FROM (" +
        (0 to 8).map(h =>
          s"SELECT query_id, $h AS hop, node_id, d2 FROM g$h " +
            "WHERE rn = 1")
          .mkString(" UNION ALL ") +
        ") ORDER BY query_id, hop"))

  /** Graph-based ANN, face 3: APPEND-ONLY INGEST
    * ([[graft.operators.NnDescent.appendToGraph]]) — grow the
    * persisted graph without retraining, the lifecycle face IVF got
    * with q208 (VERDICT r13 #6). Five new vectors (reversed stored
    * vectors under fresh ids — the q232 probe convention) seed a
    * width-4 beam from the persisted entry candidates, walk FOUR
    * unrolled beam-search hops over the stored neighbor lists
    * (ef-construction made relational — per hop an equi-join keyed
    * on the frontier, windows partitioned per new node), and keep
    * their 16 best over everything the walk scored (k = the stored
    * graph's list width, so appended nodes are first-class graph
    * rows); every (old ← new) edge then competes into the old
    * node's stored list under the same (d2, nb) order. FULLY
    * ORACLED: DuckDB re-derives the graph (the q231 unrolled
    * replay), the entry frame, all four hops, the visited-set
    * top-16, and the reverse-link merge — every row of the new
    * adjacency AND every refreshed old list hashes. Cost per new
    * vector: 32 entry scores + 4·4·16 stored edges + the keyed
    * merge — independent of corpus size. */
  val q240GraphAnnIngestOracled: GraftQuery = GraftQuery(
    "q240_graph_ann_ingest_oracled",
    (s, d) => {
      import s.implicits._
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".cast("long").as("id"),
          graft.operators.Similarity.asDouble($"embedding").as("v"))
      val dir = AnnIndexes.nnDescentServing(s, d)
      val newVecs = Tables.embeddings(s, d).filter($"vec_id" < 5)
        .select(($"vec_id".cast("long") + lit(1000000000L)).as("nid"),
          reverse(graft.operators.Similarity.asDouble($"embedding"))
            .as("qv"))
      val appended = graft.operators.NnDescent.appendToGraph(
        s.read.parquet(s"$dir/graph").select($"u", $"nb", $"d2"),
        vecs, newVecs, k = 16, beam = 4, hops = 4,
        entries = s.read.parquet(s"$dir/entries"))
      val res = appended
        .select($"u", $"rank", $"nb", round($"d2", 6).as("d2"))
        .orderBy($"u", $"rank", $"nb")
      // caller-owned persist: this face's output is bounded (5 new
      // vectors × k + the refreshed lists) — localize and release
      val rows = res.collect().toSeq
      appended.unpersist()
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), res.schema)
        .orderBy($"u", $"rank", $"nb")
    },
    Some(
      nnDescentCtes(k = 16, cap = 32, rounds = 3) +
        ", nv AS (SELECT vec_id + 1000000000 AS nid, " +
        "list_reverse(embedding::DOUBLE[]) AS qv FROM embeddings " +
        "WHERE vec_id < 5), " +
        "ents AS (SELECT DISTINCT r.id, r.v FROM rkd r CROSS JOIN nn " +
        "JOIN (SELECT unnest(generate_series(0, 31)) AS q) q " +
        "ON r.rn = (nn.n * q.q) // 32), " +
        // stage 1: score every entry candidate (the visited set
        // starts with all of them), frontier = best beam=4
        "s0 AS MATERIALIZED (SELECT nv.nid, ents.id AS cand, " +
        s"${sqlD2("nv.qv", "ents.v")} AS d2 " +
        "FROM nv CROSS JOIN ents), " +
        "f0 AS (SELECT nid, cand, d2 FROM (SELECT nid, cand, d2, " +
        "row_number() OVER (PARTITION BY nid ORDER BY d2, cand) " +
        "AS rk FROM s0) WHERE rk <= 4)" +
        // stage 2: four unrolled beam hops over the stored lists
        (1 to 4).map { h =>
          s", s$h AS MATERIALIZED (SELECT DISTINCT nid, cand, d2 " +
            s"FROM (SELECT f.nid, e.nb AS cand, " +
            s"${sqlD2("nv.qv", "v.v")} AS d2 " +
            s"FROM f${h - 1} f JOIN nv ON nv.nid = f.nid " +
            "JOIN e3 e ON e.u = f.cand JOIN vecs v ON v.id = e.nb " +
            s"UNION ALL SELECT nid, cand, d2 FROM f${h - 1}))" +
            s", f$h AS (SELECT nid, cand, d2 FROM (SELECT nid, " +
            "cand, d2, row_number() OVER (PARTITION BY nid " +
            s"ORDER BY d2, cand) AS rk FROM s$h) WHERE rk <= 4)"
        }.mkString +
        // the new adjacency: top-16 (the graph's list width) of the
        // visited set
        ", na AS MATERIALIZED (SELECT nid AS u, rk AS rank, " +
        "cand AS nb, d2 FROM (" +
        "SELECT nid, cand, d2, row_number() OVER (" +
        "PARTITION BY nid ORDER BY d2, cand) AS rk FROM (" +
        "SELECT DISTINCT nid, cand, d2 FROM (" +
        "SELECT nid, cand, d2 FROM s0 " +
        (1 to 4).map(h =>
          s"UNION ALL SELECT nid, cand, d2 FROM s$h")
          .mkString(" ") +
        "))) WHERE rk <= 16), " +
        // stage 3: reverse-link merge into the affected old lists
        "rev AS (SELECT nb AS u, u AS nb, d2 FROM na), " +
        "mgk AS MATERIALIZED (SELECT u, rk, nb, d2 FROM (" +
        "SELECT u, nb, d2, row_number() OVER (PARTITION BY u " +
        "ORDER BY d2, nb) AS rk FROM (" +
        "SELECT e.u, e.nb, e.d2 FROM e3 e " +
        "JOIN (SELECT DISTINCT u FROM rev) a USING (u) " +
        "UNION ALL SELECT u, nb, d2 FROM rev)) WHERE rk <= 16), " +
        "aff AS (SELECT DISTINCT u FROM mgk " +
        "WHERE nb IN (SELECT nid FROM nv)) " +
        "SELECT u, rank, nb, round(d2, 6) AS d2 FROM (" +
        "SELECT u, rank, nb, d2 FROM na " +
        "UNION ALL SELECT m.u, m.rk AS rank, m.nb, m.d2 " +
        "FROM mgk m JOIN aff USING (u)) " +
        "ORDER BY u, rank, nb"))

  /** Graph-based ANN, face 4: beam-search TOP-K SERVING from the
    * persisted artifacts ([[graft.operators.NnDescent.beamTopKBulk]]
    * — the ef-search RETURN contract: each probe's k best DISTINCT
    * non-self nodes across EVERYTHING the walk scored, not the final
    * beam q232's trace shows). Runs the fully RELATIONAL engine, the
    * scan-tier path `graph-ann-serve` falls back to past the hot
    * replica's RAM budget, so it sits behind the oracle gate
    * directly; q244 gates the hot engine against the same SQL, and
    * the NnDescentSpec parity spec pins the two bit-identical. Five
    * reversed-stored-vector probes (the q232 convention),
    * hops=8, beam=4, k=8; the oracle re-derives the graph, the entry
    * frame, all eight visited-set hops, and the self-excluded top-8
    * (the q240 CTE shape pointed at probes instead of new ids). */
  val q243GraphAnnServeTopKOracled: GraftQuery = GraftQuery(
    "q243_graph_ann_serve_topk_oracled",
    (s, d) => {
      import s.implicits._
      val vecs = Tables.embeddings(s, d)
        .select($"vec_id".cast("long").as("id"),
          graft.operators.Similarity.asDouble($"embedding").as("v"))
      val dir = AnnIndexes.nnDescentServing(s, d)
      val probes = Tables.embeddings(s, d).filter($"vec_id" < 5)
        .select($"vec_id".cast("long").as("query_id"),
          reverse(graft.operators.Similarity.asDouble($"embedding"))
            .as("qv"))
      graft.operators.NnDescent.beamTopKBulk(
          s.read.parquet(s"$dir/graph").select($"u", $"nb"), vecs,
          probes, hops = 8, beam = 4, k = 8,
          entries = s.read.parquet(s"$dir/entries"))
        .select($"query_id", $"rank", $"node_id",
          round($"d2", 6).as("d2"))
        .orderBy($"query_id", $"rank")
    },
    Some(graphAnnServeTopKSql))

  /** The beam-serve top-k oracle SHARED by q243 (bulk engine) and
    * q244 (hot engine): the engines are bit-identical by the
    * NnDescentSpec parity gate, so ONE DuckDB re-derivation — graph
    * build, entry frame, all eight visited-set hops, self-excluded
    * top-8 — is the spec both faces hash against. Reusing the string
    * verbatim (VERDICT r15 #4) makes the shared contract syntactic:
    * the two faces can never drift onto different oracles. */
  private lazy val graphAnnServeTopKSql: String =
    nnDescentCtes(k = 16, cap = 32, rounds = 3) +
        ", pr AS (SELECT vec_id AS query_id, " +
        "list_reverse(embedding::DOUBLE[]) AS qv FROM embeddings " +
        "WHERE vec_id < 5), " +
        "ents AS (SELECT DISTINCT r.id, r.v FROM rkd r CROSS JOIN nn " +
        "JOIN (SELECT unnest(generate_series(0, 31)) AS q) q " +
        "ON r.rn = (nn.n * q.q) // 32), " +
        // s0: every entry candidate scored (the visited set's seed);
        // f0: frontier = best beam=4 (self rows may route)
        "s0 AS MATERIALIZED (SELECT pr.query_id, ents.id AS cand, " +
        s"${sqlD2("pr.qv", "ents.v")} AS d2 " +
        "FROM pr CROSS JOIN ents), " +
        "f0 AS (SELECT query_id, cand, d2 FROM (SELECT query_id, " +
        "cand, d2, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY d2, cand) AS rk FROM s0) WHERE rk <= 4)" +
        (1 to 8).map { h =>
          s", s$h AS MATERIALIZED (SELECT DISTINCT query_id, cand, " +
            s"d2 FROM (SELECT f.query_id, e.nb AS cand, " +
            s"${sqlD2("pr.qv", "v.v")} AS d2 " +
            s"FROM f${h - 1} f JOIN pr ON pr.query_id = f.query_id " +
            "JOIN e3 e ON e.u = f.cand JOIN vecs v ON v.id = e.nb " +
            s"UNION ALL SELECT query_id, cand, d2 FROM f${h - 1}))" +
            s", f$h AS (SELECT query_id, cand, d2 FROM (SELECT " +
            "query_id, cand, d2, row_number() OVER (PARTITION BY " +
            s"query_id ORDER BY d2, cand) AS rk FROM s$h) " +
            "WHERE rk <= 4)"
        }.mkString +
        // the answer: self-excluded top-8 of the whole visited set
        " SELECT query_id, rk AS rank, cand AS node_id, " +
        "round(d2, 6) AS d2 FROM (" +
        "SELECT query_id, cand, d2, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY d2, cand) AS rk FROM (" +
        "SELECT DISTINCT query_id, cand, d2 FROM (" +
        "SELECT query_id, cand, d2 FROM s0 " +
        (1 to 8).map(h =>
          s"UNION ALL SELECT query_id, cand, d2 FROM s$h")
          .mkString(" ") +
        ") WHERE cand != query_id)) WHERE rk <= 8 " +
        "ORDER BY query_id, rank"

  /** Graph-based ANN, face 5: the HOT engine behind its OWN oracle
    * gate (VERDICT r15 #4) — q243 hash-gates the relational bulk
    * engine and the parity spec carries that gate to the hot engine
    * transitively; this face runs the PRODUCTION serving
    * tier itself ([[graft.operators.NnDescent.beamTopKHot]]: the
    * [[AnnIndexes.hotReplica]] broadcast RAM replica, the whole walk
    * ONE job) on the SAME probes against the SAME DuckDB SQL (shared
    * verbatim — see [[graphAnnServeTopKSql]]), so the serving tier's
    * correctness is first-class, not transitive. Identical output to
    * q243 by the bit-identity contract; the RAM guard inside
    * hotArtifacts is live on this path. */
  val q244GraphAnnServeHotOracled: GraftQuery = GraftQuery(
    "q244_graph_ann_serve_hot_oracled",
    (s, d) => {
      import s.implicits._
      val probes = Tables.embeddings(s, d).filter($"vec_id" < 5)
        .select($"vec_id".cast("long").as("query_id"),
          reverse(graft.operators.Similarity.asDouble($"embedding"))
            .as("qv"))
      graft.operators.NnDescent.beamTopKHot(
          AnnIndexes.hotReplica(s, d), probes,
          hops = 8, beam = 4, k = 8)
        .select($"query_id", $"rank", $"node_id",
          round($"d2", 6).as("d2"))
        .orderBy($"query_id", $"rank")
    },
    Some(graphAnnServeTopKSql))
}
