package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** Integer dot product over two `array<bigint>` columns — the hot
  * inner loop of the similarity-search operators
  * (graft.llm.LlmQueries: quantized k-NN, ANN, cosine near-dup).
  *
  * Why a native expression and not `aggregate(zip_with(...))`:
  * Spark's higher-order functions evaluate their lambda *interpreted*,
  * one function-call tree per element — at 100 TB of embeddings the
  * per-element overhead dominates. This expression compiles to a
  * primitive `long` loop inside whole-stage codegen (one static call,
  * no boxing, no per-element closures).
  */
object VecUtil {
  def dotL(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    // fail loudly on ragged embeddings: silently truncating would mask
    // corrupt vectors (and the DuckDB oracle's list_inner_product
    // raises on mismatched lengths — both engines must agree)
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"dot_product_l: vector length mismatch ($n vs ${b.numElements()})")
    var i = 0
    var acc = 0L
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** Overflow-CHECKED dot product: same contract as [[dotL]] but
    * raises on Long overflow (Math.*Exact intrinsics) instead of
    * wrapping. Used when [[graft.plans.DotProductRewrite]] rewrites
    * ANSI-mode arithmetic, whose error-on-overflow promise the
    * wrapping kernel could not honor. */
  def dotLExact(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"dot_product_l: vector length mismatch ($n vs ${b.numElements()})")
    var i = 0
    var acc = 0L
    while (i < n) {
      acc = Math.addExact(acc, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      i += 1
    }
    acc
  }

  /** Index (`cid` field) of the centroid with the maximum integer dot
    * product against `qv`; `cents` is `array<struct<cid:int,
    * cv:array<bigint>>>` sorted by cid ascending, so the strict `>`
    * keeps the smallest cid on ties. Row-local: this is what makes
    * IVF centroid assignment a map-side expression instead of a
    * corpus-wide crossJoin + reduce. */
  def nearestCid(qv: ArrayData, cents: ArrayData): Int = {
    val m = cents.numElements()
    var bestCid = -1
    var bestIp = Long.MinValue
    var j = 0
    while (j < m) {
      val c = cents.getStruct(j, 2)
      val ip = dotL(qv, c.getArray(1))
      if (ip > bestIp) { bestIp = ip; bestCid = c.getInt(0) }
      j += 1
    }
    bestCid
  }
}

case class DotProductLong(left: Expression, right: Expression,
    checked: Boolean = false)
    extends BinaryExpression {
  private def kernel = if (checked) "dotLExact" else "dotL"
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (checked)
      VecUtil.dotLExact(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      VecUtil.dotL(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VecUtil.$kernel($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProductLong = copy(left = l, right = r)
}

object DotProductLong {
  def apply(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductLong(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
