package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.CodegenCache

import graft.functions.{DeflateRatio, DotProductLong, IsValidIri, NativeCall, NativeFunctions, TopKByLong, TopKByLongStr, VecSumLong}

/** Session extensions exposing the engine's native functions to SQL
  * users (`spark.sql.extensions=graft.GraftExtensions`): every entry
  * of [[graft.functions.NativeFunctions]] under its SQL name, plus
  * the hand-written `is_valid_iri`, `deflate_ratio`, `dot_product_l`
  * and the `vec_sum_l`, `top_k_l` and `top_k_ls` aggregates.
  *
  * Also injects [[graft.plans.DotProductRewrite]], an optimizer rule
  * that turns the naive `aggregate(zip_with(a, b, (x,y) -> x*y), 0L,
  * (s,x) -> s+x)` spelling into the `dot_product_l` codegen kernel,
  * and the planner strategy of the native as-of join.
  *
  * Every engine session goes through here, so this is also where the
  * engine defaults `spark.sql.codegen.cache.maxEntries` to 8192
  * ([[org.apache.spark.sql.graftshim.CodegenCache]]). Spark's 100
  * classes are far below the engine's measured working set (355
  * classes for the benchmark's 14-query suite, about 4,100 for all
  * 326 queries), so each warm pass recompiled what the last one had
  * evicted. Spark reads the value once per JVM, at the first codegen;
  * override it at launch (`--conf spark.sql.codegen.cache.maxEntries=N`
  * or the session builder), where an explicit value always wins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    CodegenCache.install()
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
    ext.injectPlannerStrategy(_ => new graft.plans.AsofStrategy)
    NativeFunctions.all.foreach { fn =>
      register(ext, fn.name, classOf[NativeCall], fn.usage)(
        NativeCall(fn, _))
    }
    register(ext, "is_valid_iri", classOf[IsValidIri])(
      args => IsValidIri(args.head))
    register(ext, "deflate_ratio", classOf[DeflateRatio])(
      args => DeflateRatio(args.head))
    register(ext, "dot_product_l", classOf[DotProductLong])(
      args => DotProductLong(args(0), args(1)))
    register(ext, "vec_sum_l", classOf[VecSumLong]) { args =>
      require(args.length == 1,
        "vec_sum_l(array<bigint>): exactly one argument")
      VecSumLong(args.head)
    }
    // Returning the bare AggregateFunction — the analyzer wraps it in
    // an AggregateExpression during function resolution.
    register(ext, "top_k_l", classOf[TopKByLong])(
      args => TopKByLong(args(0), args(1), literalK("top_k_l", args)))
    register(ext, "top_k_ls", classOf[TopKByLongStr])(
      args => TopKByLongStr(args(0), args(1), literalK("top_k_ls", args)))
  }

  private def register(ext: SparkSessionExtensions, name: String,
      cls: Class[_], usage: String = null)(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, null, name, usage, "", "", "", "",
        "", "", ""),
      build))

  /** `k` of `top_k_l(score, id, k)`: an integral literal. The literal's
    * type is validated, not just its foldability — a foldable string
    * would otherwise die later with an opaque ClassCastException, and
    * a fractional k would silently truncate. */
  private def literalK(name: String, args: Seq[Expression]): Int = {
    val msg = s"$name(score, id, k): k must be a literal integer"
    require(args.length == 3 && args(2).foldable, msg)
    args(2).eval() match {
      case i: java.lang.Integer => i.intValue()
      case l: java.lang.Long => l.intValue()
      case s: java.lang.Short => s.intValue()
      case b: java.lang.Byte => b.intValue()
      case _ => throw new IllegalArgumentException(msg)
    }
  }
}
