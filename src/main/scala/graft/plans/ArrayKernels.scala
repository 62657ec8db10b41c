package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.core.ColumnBridge

/** Block-wise sum or avg of an array<double> with a literal block size
  * (oph_reduce): element k folds elements [k*bs, (k+1)*bs) from 0.0, left
  * to right, the last block possibly shorter. Same values as the HOF form
  * `transform(sequence(0, nblocks-1), i => aggregate(slice(a, i*bs+1, bs),
  * 0.0, _+_) [/ size])` — a null element nulls its block, an empty array
  * gives an empty array — as one JIT-compiled loop per row instead of
  * per-element lambda dispatch.
  */
final case class BlockReduce(child: Expression, blockSize: Int, avg: Boolean)
    extends UnaryExpression with CodegenFallback {
  require(blockSize > 0, s"block size must be positive, got $blockSize")
  override def checkInputDataTypes(): TypeCheckResult = ArrayKernels.doubleArrays(this, child)
  override def dataType: DataType = ArrayType(DoubleType)
  override def prettyName: String = "graft_block_reduce"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Double](((n + blockSize.toLong - 1) / blockSize).toInt)
    var nulls: Array[Boolean] = null
    var b = 0
    while (b < out.length) {
      val s = b * blockSize
      val e = math.min(n.toLong, s.toLong + blockSize).toInt
      var acc = 0.0
      var i = s
      while (i < e && !a.isNullAt(i)) { acc += a.getDouble(i); i += 1 }
      if (i == e) out(b) = if (avg) acc / (e - s) else acc
      else { if (nulls == null) nulls = new Array[Boolean](out.length); nulls(b) = true }
      b += 1
    }
    ArrayKernels.arrayData(out, nulls)
  }

  override protected def withNewChildInternal(c: Expression): BlockReduce = copy(child = c)
}

object BlockReduce {
  /** Casts `a` to array<double> first, as the fold's `0.0 + x` widens. */
  def apply(a: Column, blockSize: Int, avg: Boolean): Column = ColumnBridge.column(
    BlockReduce(ColumnBridge.expression(a.cast("array<double>")), blockSize, avg))
}

/** Elementwise sum of two array<double> (oph_sum_array). Same values as
  * `zip_with(a, b, _ + _)` — as long as the longer input, null where
  * either side is missing or null, null for a null array — as one
  * JIT-compiled loop per row instead of per-element lambda dispatch.
  */
final case class SumArrays(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    ArrayKernels.doubleArrays(this, left, right)
  override def dataType: DataType = ArrayType(DoubleType)
  override def prettyName: String = "graft_sum_arrays"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    val out = new Array[Double](math.max(na, nb))
    var nulls: Array[Boolean] = null
    var i = 0
    while (i < out.length) {
      if (i < na && i < nb && !a.isNullAt(i) && !b.isNullAt(i))
        out(i) = a.getDouble(i) + b.getDouble(i)
      else { if (nulls == null) nulls = new Array[Boolean](out.length); nulls(i) = true }
      i += 1
    }
    ArrayKernels.arrayData(out, nulls)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SumArrays =
    copy(left = l, right = r)
}

object SumArrays {
  def apply(a: Column, b: Column): Column = ColumnBridge.column(
    SumArrays(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}

private[plans] object ArrayKernels {
  def doubleArrays(e: Expression, in: Expression*): TypeCheckResult =
    if (in.forall(_.dataType match { case ArrayType(DoubleType, _) => true; case _ => false }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} requires array<double>, got ${in.map(_.dataType.simpleString).mkString(", ")}")

  /** `out` as an array value, with the positions flagged in `nulls` null. */
  def arrayData(out: Array[Double], nulls: Array[Boolean]): ArrayData =
    if (nulls == null) ArrayData.toArrayData(out)
    else new GenericArrayData(Array.tabulate[Any](out.length)(k => if (nulls(k)) null else out(k)))
}
