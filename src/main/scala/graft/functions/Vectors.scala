package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Dense float-vector kernels (SURVEY.md §2d).
  *
  * One pass accumulates the dot product and both norms together — the
  * HOF formulation (`aggregate(zip_with(...))`) walks the arrays three
  * times and materializes a zipped array per pair. Accumulation is in
  * index order, so results are bit-identical to the sequential HOF
  * fold (and to the DuckDB oracle's `list_sum(list_transform(...))`).
  * Assumes equal-length vectors, as an embedding column guarantees.
  */
object VectorKernel {
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** L2 norm in index order — bit-identical to
    * `sqrt(aggregate(transform(v, x*x), 0.0, +))` without the
    * interpreted fold or the squared intermediate array. */
  def l2Norm(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  /** Exact squared L2 between two ALREADY-QUANTIZED long vectors —
    * the value `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0L,
    * _+_)` computes, without the per-row intermediate array or the
    * lambda dispatch: integer adds commute, so the tight loop is
    * bit-identical to the fold on any element order. This is the
    * kernel behind [[graft.operators.Similarity.qDist]] — the single
    * hottest expression in the ANN family (every corpus×centroid
    * assignment, every shortlist scan, every k-means round).
    * Lengths are assumed equal (callers pass same-width vectors or
    * same-width slices; the quantize step fixes dim). */
  def quantizedL2(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** [[quantizedL2]] over collected vectors: the same sum, for the
    * driver-held ANN loops (beam walk, k-means rounds). */
  def quantizedL2(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) {
      val d = a(i) - b(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Integer-quantized squared L2 distance over one subvector:
    * elements [sub*subDim, (sub+1)*subDim) of both arrays are
    * quantized to floor(x·10⁶) longs before differencing, so the
    * distance is EXACT integer arithmetic — any engine reproduces it
    * bit-for-bit (doubles would force a cross-engine summation-order
    * contract). floor (not cast-truncation) because DuckDB's
    * DOUBLE→BIGINT cast rounds while the JVM's truncates. */
  def quantizedSubL2(a: ArrayData, b: ArrayData, sub: Int,
      subDim: Int): Long = {
    val off = sub * subDim
    var s = 0L
    var j = 0
    while (j < subDim) {
      val qa = math.floor(a.getFloat(off + j).toDouble * 1e6).toLong
      val qb = math.floor(b.getFloat(off + j).toDouble * 1e6).toLong
      val d = qa - qb
      s += d * d
      j += 1
    }
    s
  }
}

/** `cosine(a, b)` over two float arrays as a codegen'd expression. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernel.cosine($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** `l2_norm(a)` over a float array as a codegen'd expression. */
case class L2Norm(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any =
    VectorKernel.l2Norm(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.VectorKernel.l2Norm($a)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `quantized_l2(a, b)` over two long arrays as a codegen'd
  * expression — see [[VectorKernel.quantizedL2]]. */
case class QuantizedL2(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernel.quantizedL2(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernel.quantizedL2($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** `quantized_sub_l2(vec, code, sub)` — exact integer squared L2 over
  * subspace `sub` (product-quantization inner loop), codegen'd. */
case class QuantizedSubL2(first: Expression, second: Expression,
    third: Expression, subDim: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType =
    org.apache.spark.sql.types.LongType
  override def nullSafeEval(a: Any, b: Any, s: Any): Any =
    VectorKernel.quantizedSubL2(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], s.asInstanceOf[Int], subDim)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, s) =>
      s"graft.functions.VectorKernel.quantizedSubL2($a, $b, $s, $subDim)")
  override protected def withNewChildrenInternal(f: Expression,
      s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object Vectors {
  def cosine(a: Column, b: Column): Column =
    GraftShim.column(CosineSim(GraftShim.expression(a),
      GraftShim.expression(b)))
  def l2Norm(a: Column): Column =
    GraftShim.column(L2Norm(GraftShim.expression(a)))
  def quantizedL2(a: Column, b: Column): Column =
    GraftShim.column(QuantizedL2(GraftShim.expression(a),
      GraftShim.expression(b)))
  def quantizedSubL2(vec: Column, code: Column, sub: Column,
      subDim: Int): Column =
    GraftShim.column(QuantizedSubL2(GraftShim.expression(vec),
      GraftShim.expression(code), GraftShim.expression(sub), subDim))
}
