package graft.expressions

import org.apache.spark.sql.{Column, GraftExprBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** Native fusion of `slice(array_distinct(sort_array(arr)), 1, k)`
  * for `arr: array<struct<double, long>>` — the per-node
  * cap/keep-k kernel of [[graft.operators.NnDescent.knnGraph]]
  * (r17 optimization round; guide §1.2 per-task work).
  *
  * The generic chain was the q231 build's dominant executor cost
  * (all-thread sampler: ~50% of busy ticks under
  * `SpecificUnsafeProjection.Slice_0$` + `InternalRow$.getAccessor` —
  * sort_array's interpreted struct ordering, array_distinct's O(n²)
  * equivalence scan, and slice's per-element BOXED copy of struct
  * elements). This kernel unpacks the (d2, id) pairs into primitive
  * arrays once, sorts them with the SAME order Spark's
  * PhysicalDataType gives struct<double, long> — lexicographic
  * (Catalyst's `compareDoubles`, Long.compare), where
  * `compareDoubles` puts NaN greatest and treats −0.0 and 0.0 as
  * EQUAL — and breaks remaining ties by input position, which is
  * sort_array's stable sort. It dedups adjacent compare-equal pairs
  * in the same pass, keeping the first (array_distinct's
  * equivalence on a struct IS ordering equivalence: Spark's
  * ArrayDistinct falls back to `ordering.equiv` for non-atomic
  * elements and keeps the first occurrence, so of (−0.0, y) and
  * (0.0, y) the one earlier in the input survives), and emits at
  * most `k` rows. Identical output, one pass, zero boxing until the
  * ≤ k result rows.
  *
  * Contract (the SortedLongIntersect pattern): elements are
  * non-null — `checkInputDataTypes` accepts only `containsNull =
  * false` arrays, which the only callers build with
  * `collect_list(struct(d2, id))` over join outputs whose fields are
  * never null. `k` must be a positive literal. Output type = input
  * type, so the downstream `explode` + field reads are untouched.
  */
case class SortedStructTopK(child: Expression, k: Int)
    extends UnaryExpression with Serializable {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, false)
        if s.length == 2 && s(0).dataType == DoubleType &&
          s(1).dataType == LongType && k >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "sorted_struct_topk expects array<struct<double, long>> with " +
        "non-null elements and a positive k, got " +
        s"${child.dataType.catalogString} / k=$k")
  }

  override def dataType: DataType = child.dataType

  override def nullSafeEval(a: Any): Any =
    SortedStructTopK.run(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // the kernel lives in one audited Scala method; codegen calls
      // it through the module instance (always Janino-visible, unlike
      // static forwarders)
      s"""
        ${ev.value} = graft.expressions.SortedStructTopK$$.MODULE$$
          .run($c, $k);
      """
    })

  override protected def withNewChildInternal(
      newChild: Expression): SortedStructTopK = copy(child = newChild)
}

object SortedStructTopK {
  /** Column-API entry. */
  def apply(arr: Column, k: Int): Column =
    GraftExprBridge.column(
      SortedStructTopK(GraftExprBridge.expression(arr), k))

  /** The fused kernel: stable sort by (compareDoubles, Long.compare),
    * drop adjacent equal pairs, keep the first `k`. */
  def run(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val d = new Array[Double](n)
    val y = new Array[Long](n)
    val pos = new Array[Int](n)
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 2)
      d(i) = row.getDouble(0)
      y(i) = row.getLong(1)
      pos(i) = i
      i += 1
    }
    if (n > 1) sort(d, y, pos, 0, n - 1)
    // dedup adjacent compare-equal pairs, first kept + cap
    val outRows = new java.util.ArrayList[InternalRow](math.min(n, k))
    i = 0
    while (i < n && outRows.size < k) {
      if (i == 0 || compareDoubles(d(i), d(i - 1)) != 0 ||
          y(i) != y(i - 1)) {
        outRows.add(new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](d(i), y(i))))
      }
      i += 1
    }
    new GenericArrayData(outRows.toArray)
  }

  /** Catalyst's double order (`SQLOrderingUtil.compareDoubles`):
    * NaN greatest, −0.0 == 0.0. */
  private def compareDoubles(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private def less(d1: Double, y1: Long, p1: Int,
      d2: Double, y2: Long, p2: Int): Boolean = {
    val c = compareDoubles(d1, d2)
    c < 0 || (c == 0 && (y1 < y2 || (y1 == y2 && p1 < p2)))
  }

  /** In-place quicksort over the parallel (d, y, pos) arrays by the
    * lexicographic (compareDoubles, Long.compare, input position)
    * order — a total order, so the result equals a stable sort —
    * insertion sort below 16 elements, median-of-three pivot. */
  private def sort(d: Array[Double], y: Array[Long], p: Array[Int],
      lo0: Int, hi0: Int): Unit = {
    var lo = lo0
    var hi = hi0
    while (lo < hi) {
      if (hi - lo < 16) {
        var i = lo + 1
        while (i <= hi) {
          val dv = d(i); val yv = y(i); val pv = p(i)
          var j = i - 1
          while (j >= lo && less(dv, yv, pv, d(j), y(j), p(j))) {
            d(j + 1) = d(j); y(j + 1) = y(j); p(j + 1) = p(j); j -= 1
          }
          d(j + 1) = dv; y(j + 1) = yv; p(j + 1) = pv
          i += 1
        }
        return
      }
      // median-of-three pivot to the middle
      val mid = lo + (hi - lo) / 2
      if (less(d(mid), y(mid), p(mid), d(lo), y(lo), p(lo)))
        swap(d, y, p, lo, mid)
      if (less(d(hi), y(hi), p(hi), d(lo), y(lo), p(lo)))
        swap(d, y, p, lo, hi)
      if (less(d(hi), y(hi), p(hi), d(mid), y(mid), p(mid)))
        swap(d, y, p, mid, hi)
      val pd = d(mid); val py = y(mid); val pp = p(mid)
      var i = lo
      var j = hi
      while (i <= j) {
        while (less(d(i), y(i), p(i), pd, py, pp)) i += 1
        while (less(pd, py, pp, d(j), y(j), p(j))) j -= 1
        if (i <= j) { swap(d, y, p, i, j); i += 1; j -= 1 }
      }
      // recurse into the smaller half, loop on the larger (bounded depth)
      if (j - lo < hi - i) {
        if (lo < j) sort(d, y, p, lo, j)
        lo = i
      } else {
        if (i < hi) sort(d, y, p, i, hi)
        hi = j
      }
    }
  }

  private def swap(d: Array[Double], y: Array[Long], p: Array[Int],
      i: Int, j: Int): Unit = {
    val td = d(i); d(i) = d(j); d(j) = td
    val ty = y(i); y(i) = y(j); y(j) = ty
    val tp = p(i); p(i) = p(j); p(j) = tp
  }
}
