package graft

import org.apache.spark.sql.{GraftShims, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.Literal
import graft.functions.{BitmapAggExpr, BitmapAndAggExpr, BitmapAndExpr,
  BitmapContainsExpr, BitmapCountExpr, BitmapOrAggExpr, BitmapOrExpr,
  DotProductExpr, MinHashSigExpr, NoInlineExpr, RhpSignExpr,
  ShingleHashesExpr, SigAgreeExpr, SimHashExpr, TopCosBucketsExpr, WinnowExpr}

/** graft's native SQL functions, registrable two ways:
  *   - at session build time: `.withExtensions(new GraftExtensions)` or
  *     `.config("spark.sql.extensions", "graft.GraftExtensions")`
  *   - on a live session: `GraftFunctions.register(spark)`
  * Neither path ever replaces a Spark built-in ([[absentFromBuiltins]]).
  */
object GraftFunctions {
  type Fn = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val all: Seq[Fn] = absentFromBuiltins(Seq(
    (new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "vec_dot"),
      (children: Seq[Expression]) => DotProductExpr(children.head, children(1))),
    (new FunctionIdentifier("no_inline"),
      new ExpressionInfo(classOf[NoInlineExpr].getName, "no_inline"),
      (children: Seq[Expression]) => NoInlineExpr(children.head)),
    // int literal args (k, n, w) are bound at parse time
    (new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "minhash_sig"),
      (c: Seq[Expression]) => MinHashSigExpr(c.head, intArg(c, 1, 3), intArg(c, 2, 16))),
    (new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashesExpr].getName, "shingle_hashes"),
      (c: Seq[Expression]) => ShingleHashesExpr(c.head, intArg(c, 1, 3))),
    (new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "simhash64"),
      (c: Seq[Expression]) => SimHashExpr(c.head)),
    (new FunctionIdentifier("sig_agree"),
      new ExpressionInfo(classOf[SigAgreeExpr].getName, "sig_agree"),
      (c: Seq[Expression]) => SigAgreeExpr(c.head, c(1))),
    (new FunctionIdentifier("winnow_fps"),
      new ExpressionInfo(classOf[WinnowExpr].getName, "winnow_fps"),
      (c: Seq[Expression]) => WinnowExpr(c.head, intArg(c, 1, 3), intArg(c, 2, 4))),
    (new FunctionIdentifier("rhp_sign"),
      new ExpressionInfo(classOf[RhpSignExpr].getName, "rhp_sign"),
      (c: Seq[Expression]) => RhpSignExpr(c.head, intArg(c, 1, 16),
        intArg(c, 2, 0))),
    (new FunctionIdentifier("top_cos_buckets"),
      new ExpressionInfo(classOf[TopCosBucketsExpr].getName, "top_cos_buckets"),
      (c: Seq[Expression]) => TopCosBucketsExpr(c.head, c(1), c(2),
        intArg(c, 3, 1))),
    // exact-bitmap sketch family (aggregates register like native SQL aggs:
    // the builder returns the AggregateFunction, the analyzer wraps it)
    (new FunctionIdentifier("bitmap_agg"),
      new ExpressionInfo(classOf[BitmapAggExpr].getName, "bitmap_agg"),
      (c: Seq[Expression]) => BitmapAggExpr(c.head)),
    // Spark 4 ships bitmap_or_agg / bitmap_and_agg / bitmap_count over its
    // own bitmap format, hence the roaring_ names
    (new FunctionIdentifier("roaring_or_agg"),
      new ExpressionInfo(classOf[BitmapOrAggExpr].getName, "roaring_or_agg"),
      (c: Seq[Expression]) => BitmapOrAggExpr(c.head)),
    (new FunctionIdentifier("roaring_and_agg"),
      new ExpressionInfo(classOf[BitmapAndAggExpr].getName, "roaring_and_agg"),
      (c: Seq[Expression]) => BitmapAndAggExpr(c.head)),
    (new FunctionIdentifier("roaring_count"),
      new ExpressionInfo(classOf[BitmapCountExpr].getName, "roaring_count"),
      (c: Seq[Expression]) => BitmapCountExpr(c.head)),
    (new FunctionIdentifier("bitmap_contains"),
      new ExpressionInfo(classOf[BitmapContainsExpr].getName, "bitmap_contains"),
      (c: Seq[Expression]) => BitmapContainsExpr(c.head, c(1))),
    (new FunctionIdentifier("bitmap_and"),
      new ExpressionInfo(classOf[BitmapAndExpr].getName, "bitmap_and"),
      (c: Seq[Expression]) => BitmapAndExpr(c.head, c(1))),
    (new FunctionIdentifier("bitmap_or"),
      new ExpressionInfo(classOf[BitmapOrExpr].getName, "bitmap_or"),
      (c: Seq[Expression]) => BitmapOrExpr(c.head, c(1)))))

  /** `fns`, after checking that none takes a name Spark already ships —
    * registering it would silently replace the built-in in the session. */
  private[graft] def absentFromBuiltins(fns: Seq[Fn]): Seq[Fn] = {
    val taken = fns.map(_._1).filter(FunctionRegistry.builtin.functionExists)
    require(taken.isEmpty,
      s"graft functions would replace Spark built-ins: ${taken.mkString(", ")}")
    fns
  }

  private def intArg(c: Seq[Expression], i: Int, dflt: Int): Int =
    if (c.length > i) c(i) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"argument ${i + 1} must be an integer literal, got $other")
    } else dflt

  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      GraftShims.registerFunction(spark, id, info, builder)
    }
}

/** SparkSessionExtensions entry point (plans through whole-stage codegen). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.AutoBarrierExplode)
  }
}
