package graft

import org.apache.spark.sql.functions._

import graft.expressions.SortedStructTopK

/** The fused cap/keep-k kernel vs the generic
  * slice(array_distinct(sort_array(..))) chain it replaced in
  * knnGraph: parity on random struct arrays WITH duplicates (the
  * undirect union's both-directions duplicates are the load-bearing
  * case), tie shapes, caps beyond/below the array length, and codegen
  * participation. */
class SortedStructTopKSpec extends GraftSuite {

  private def generic(e: org.apache.spark.sql.Column, k: Int) =
    slice(array_distinct(sort_array(e)), 1, k)

  test("parity with slice(array_distinct(sort_array)) on random " +
      "arrays with duplicates, for several caps") {
    val s = spark
    import s.implicits._
    // deterministic LCG; duplicate d2 values (small domain) AND
    // duplicate (d2, y) pairs both occur
    var x = 42L
    def nxt(m: Int): Int = {
      x = x * 6364136223846793005L + 1442695040888963407L
      math.floorMod(x, m.toLong).toInt
    }
    val rows = (1 to 300).map { _ =>
      val n = 1 + nxt(60)
      (1 to n).map(_ => (nxt(12).toDouble / 4.0, nxt(20).toLong))
    }
    val df = rows.toDF("a")
      .select(struct(lit(1)).as("dummy"), col("a"))
      .select(transform(col("a"),
        e => struct(e.getField("_1").as("d2"),
          e.getField("_2").as("y"))).as("e"))
    Seq(1, 4, 16, 64).foreach { k =>
      val cmp = df.select(
        SortedStructTopK(col("e"), k).as("m"),
        generic(col("e"), k).as("g"))
      assert(cmp.filter(!(col("m") <=> col("g"))).count() === 0,
        s"mismatch at k=$k")
    }
  }

  test("the production shape: collect_list over an undirected edge " +
      "union groups equals the generic chain, bit-for-bit") {
    val s = spark
    import s.implicits._
    val edges = Seq((1L, 2L, 0.5), (1L, 3L, 0.25), (2L, 3L, 0.5),
      (1L, 4L, 0.25), (4L, 2L, 0.125), (3L, 4L, 0.5))
      .toDF("u", "nb", "d2")
    val und = edges.select(col("u").as("x"),
        struct(col("d2"), col("nb").as("y")).as("e"))
      .unionAll(edges.select(col("nb").as("x"),
        struct(col("d2"), col("u").as("y")).as("e")))
      // duplicate every edge (the both-directions duplicate class)
      .unionAll(edges.select(col("u").as("x"),
        struct(col("d2"), col("nb").as("y")).as("e")))
    val a = und.groupBy(col("x"))
      .agg(SortedStructTopK(collect_list(col("e")), 2).as("ns"))
      .orderBy(col("x"))
    val b = und.groupBy(col("x"))
      .agg(generic(collect_list(col("e")), 2).as("ns"))
      .orderBy(col("x"))
    assert(a.collect().toSeq === b.collect().toSeq)
  }

  test("ties on d2 break by id; equal pairs dedup; k past the " +
      "length returns all; empty array returns empty") {
    val s = spark
    import s.implicits._
    val arr = typedLit(Seq((1.0, 9L), (1.0, 2L), (1.0, 9L), (0.5, 7L)))
    val e = transform(arr, x => struct(x.getField("_1").as("d2"),
      x.getField("_2").as("y")))
    val r = spark.range(1).select(
        SortedStructTopK(e, 10).as("all"),
        SortedStructTopK(e, 2).as("two"))
      .select(expr("transform(all, p -> p.y)").as("ys"),
        expr("transform(two, p -> p.y)").as("ys2"))
      .first()
    assert(r.getSeq[Long](0) === Seq(7L, 2L, 9L)) // sorted, deduped
    assert(r.getSeq[Long](1) === Seq(7L, 2L))
    // an empty array with non-null elements (filter keeps the input's
    // containsNull = false; a CAST to array<struct<..>> would not)
    val empty = spark.range(1).select(size(SortedStructTopK(
      expr("filter(array(named_struct('d2', 1.0D, 'y', 1L)), x -> false)"),
      3))).first().getInt(0)
    assert(empty === 0)
  }

  test("-0.0 and 0.0 order and dedup as Catalyst's compareDoubles " +
      "does: equal, first in input order kept") {
    // non-literal arrays (built from id), so the kernel runs in the
    // executed plan rather than being constant-folded; row 0 puts
    // +0.0 first, row 1 puts -0.0 first. The sign comes from a
    // negation, not from a -0.0 literal: Catalyst's Literal equality
    // says 0.0 == -0.0, so `x * 0.0` and `x * -0.0` would be merged
    // as one expression (and the two arrays with them).
    val pz = col("id").cast("double") * lit(0.0)
    val nz = -pz
    def e(d: org.apache.spark.sql.Column, y: Long) =
      struct(d.as("d2"), lit(y).as("y"))
    val a = array(e(pz, 1L), e(nz, 1L), e(nz, 0L), e(lit(0.5), 3L),
      e(pz, 2L), e(nz, 2L))
    val b = array(e(nz, 1L), e(pz, 1L), e(pz, 0L), e(lit(0.5), 3L),
      e(nz, 2L), e(pz, 2L))
    val df = spark.range(2)
      .select(col("id"), when(col("id") === 0L, a).otherwise(b).as("e"))
    def bits(r: org.apache.spark.sql.Row, i: Int): Seq[(Long, Long)] =
      r.getSeq[org.apache.spark.sql.Row](i).map(p =>
        (java.lang.Double.doubleToRawLongBits(p.getDouble(0)), p.getLong(1)))
    Seq(2, 3, 10).foreach { k =>
      val rows = df.select(SortedStructTopK(col("e"), k).as("m"),
          generic(col("e"), k).as("g"))
        .collect()
      rows.foreach(r => assert(bits(r, 0) === bits(r, 1), s"k=$k"))
    }
    val kept = df.select(col("id"), SortedStructTopK(col("e"), 10))
      .collect().map(r => r.getLong(0) -> bits(r, 1)).toMap
    val (p0, n0) = (java.lang.Double.doubleToRawLongBits(0.0),
      java.lang.Double.doubleToRawLongBits(-0.0))
    // zeros tie, so y orders them; each y keeps its first zero
    assert(kept(0).map(_._2) === Seq(0L, 1L, 2L, 3L))
    assert(kept(0).take(3) === Seq((n0, 0L), (p0, 1L), (p0, 2L)))
    assert(kept(1).take(3) === Seq((p0, 0L), (n0, 1L), (n0, 2L)))
  }

  test("an array with nullable elements is rejected at analysis") {
    val nullable = expr("array(named_struct('d2', 1.0D, 'y', 1L), " +
      "CAST(NULL AS struct<d2: double, y: bigint>))")
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(SortedStructTopK(nullable, 2))
    }
    assert(err.getMessage.contains("non-null elements"), err.getMessage)
  }

  test("expression participates in whole-stage codegen (no fallback)") {
    val s = spark
    import s.implicits._
    // array(struct(..)) of non-constant fields — codegen-friendly
    // input (a transform() lambda would itself fall out of WSCG and
    // mask what this test asserts)
    val df = spark.range(1, 40)
      .select(array(
        struct((col("id") % 7).cast("double").as("d2"),
          col("id").as("y")),
        struct(lit(0.5).as("d2"), col("id").as("y")),
        struct((col("id") % 7).cast("double").as("d2"),
          col("id").as("y"))).as("e"))
      .select(SortedStructTopK(col("e"), 2).as("m"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("*(1) Project [sortedstructtopk"), plan)
    // duplicate struct deduped: 3 input elements, ≤2 distinct kept
    assert(df.select(max(size(col("m")))).first().getInt(0) === 2)
  }
}
