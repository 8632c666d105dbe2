package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The recall-protocol kernel of the ANN exhibits (AnnServeSweep; the
  * r15/r16 frontier and drift exhibits in BASELINE.md used the same
  * one): ONE definition of the
  * exact-L2 baseline (self-excluded, (d2, cand_id) tie-break), the
  * recall@k denominator rule (the exact baseline's OWN row count —
  * ADVICE r13), the seed-7 clustered fixture, and the timing helper.
  * Extracted in r15 (self-review): three verbatim private copies
  * meant a future tweak to the tie-break or the fixture could
  * silently diverge exhibits BASELINE.md presents as comparable. */
object AnnProbeUtil {

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Exact top-`k` (query_id, cand_id) under squared-L2 over
    * `vecs` (id, v) for `probes` (query_id, qv), self excluded. */
  def exactL2(vecs: DataFrame, probes: DataFrame, k: Int): DataFrame =
    vecs.crossJoin(broadcast(probes))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("cand_id"),
        graft.expressions.ArrayL2Sq(col("qv"), col("v")).as("d2"))
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("d2"), col("cand_id"))))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("cand_id"))

  /** recall = |approx ∩ exact| / |exact| — the denominator is the
    * exact baseline's own row count, not k·probes (ADVICE r13: a
    * probe set smaller than requested must not deflate recall). */
  def recallOf(exact: DataFrame, approx: DataFrame): Double = {
    val hits = exact
      .join(approx.select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"), "left_semi")
      .count()
    val denom = exact.count()
    if (denom == 0L) 0.0 else hits.toDouble / denom
  }

  /** 10 tight Gaussian clusters in 64-dim, 2000 points, seed 7 — the
    * structure every pruning method exploits, sized to differ from
    * the embeddings corpus ONLY in structure. */
  def clustered(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(10)(Seq.fill(64)(rnd.nextGaussian()))
    val rows = for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 200
    } yield ((ci * 200 + j).toLong,
      c.map(_ + rnd.nextGaussian() * 0.15))
    rows.toDF("id", "v")
  }
}
