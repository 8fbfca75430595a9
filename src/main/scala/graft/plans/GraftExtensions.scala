package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.DotProduct

/** SparkSessionExtensions entry point: registers graft's native
  * expressions for SQL use. SURVEY.md §4.2 concluded no custom
  * Rule/SparkStrategy is needed for the reference's semantics — Catalyst
  * plans everything — so the extension surface is function injection
  * only. The candidate operators for a custom strategy (as-of join, range
  * join) turned out to compose from built-ins with the right plan shape
  * (graft.operators.TemporalJoin: union+window, cell-bucketed equi-join),
  * confirming that decision; a planner strategy would slot in here if a
  * future operator genuinely demanded one.
  *
  * Usage:
  *   graft.Sessions.builder(cpus).withExtensions(new GraftExtensions)...
  * or spark.sql.extensions=graft.plans.GraftExtensions, then
  *   SELECT dot_product(a.embedding, b.embedding) FROM ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      GraftExtensions.dotProductBuilder))
    e.injectFunction((
      new FunctionIdentifier("multiset_intersect_count"),
      new ExpressionInfo(classOf[graft.functions.MultisetIntersectCount].getName,
        "multiset_intersect_count"),
      GraftExtensions.multisetBuilder))
    e.injectFunction((
      new FunctionIdentifier("bottom_k_sample"),
      new ExpressionInfo(classOf[graft.functions.BottomKSample].getName,
        "bottom_k_sample"),
      GraftExtensions.bottomKBuilder))
    e.injectFunction((
      new FunctionIdentifier("mg_freq_items"),
      new ExpressionInfo(classOf[graft.functions.FrequentItems].getName,
        "mg_freq_items"),
      GraftExtensions.freqItemsBuilder))
  }
}

object GraftExtensions {

  private[plans] val dotProductBuilder: Seq[Expression] => Expression =
    args => {
      require(args.length == 2, "dot_product(arrayA, arrayB) takes 2 args")
      val at = org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)
      DotProduct(
        org.apache.spark.sql.catalyst.expressions.Cast(args(0), at),
        org.apache.spark.sql.catalyst.expressions.Cast(args(1), at))
    }

  private[plans] val multisetBuilder: Seq[Expression] => Expression =
    args => {
      require(args.length == 2,
        "multiset_intersect_count(arrayA, arrayB) takes 2 args")
      graft.functions.MultisetIntersectCount(args(0), args(1))
    }

  private[plans] val bottomKBuilder: Seq[Expression] => Expression =
    args => {
      require(args.length == 3,
        "bottom_k_sample(col, k, seed) takes 3 args (k, seed literal ints)")
      def lit(e: Expression, what: String): Long = e match {
        case l: org.apache.spark.sql.catalyst.expressions.Literal =>
          l.value match {
            case i: Int => i.toLong
            case l2: Long => l2
            case other => throw new IllegalArgumentException(
              s"$what must be an integer literal, got $other")
          }
        case other => throw new IllegalArgumentException(
          s"$what must be a literal, got $other")
      }
      val k = lit(args(1), "k")
      // a bare .toInt would silently wrap (k = 2^32 + 2 → 2)
      if (k < 1 || k > Int.MaxValue)
        throw new IllegalArgumentException(
          s"k must be in [1, ${Int.MaxValue}], got $k")
      graft.functions.BottomKSample(args(0), k.toInt, lit(args(2), "seed"))
    }

  private[plans] val freqItemsBuilder: Seq[Expression] => Expression =
    args => {
      require(args.length == 2,
        "mg_freq_items(col, capacity) takes 2 args (capacity a literal int)")
      val cap = args(1) match {
        case l: org.apache.spark.sql.catalyst.expressions.Literal =>
          l.value match {
            case i: Int => i.toLong
            case l2: Long => l2
            case other => throw new IllegalArgumentException(
              s"capacity must be an integer literal, got $other")
          }
        case other => throw new IllegalArgumentException(
          s"capacity must be a literal, got $other")
      }
      if (cap < 1 || cap > Int.MaxValue)
        throw new IllegalArgumentException(
          s"capacity must be in [1, ${Int.MaxValue}], got $cap")
      graft.functions.FrequentItems(args(0), cap.toInt)
    }

  /** Register into an already-built session (tests, REPLs) — the class
    * above only applies through a builder's withExtensions /
    * spark.sql.extensions. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    org.apache.spark.sql.GraftBridge.registerFunction(
      spark, "dot_product", dotProductBuilder)
    org.apache.spark.sql.GraftBridge.registerFunction(
      spark, "multiset_intersect_count", multisetBuilder)
    org.apache.spark.sql.GraftBridge.registerFunction(
      spark, "bottom_k_sample", bottomKBuilder)
    org.apache.spark.sql.GraftBridge.registerFunction(
      spark, "mg_freq_items", freqItemsBuilder)
  }
}
