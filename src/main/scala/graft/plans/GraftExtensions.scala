package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSim, LocScaleBSketch, PolyHash, SortedIntersectSize}

/** SparkSessionExtensions wiring: registers the engine's native
  * expressions for SQL use, so
  * `SparkSession.builder().withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.plans.GraftExtensions`) exposes
  * `cosine_sim(a, b)` inside `spark.sql(...)` text as a first-class,
  * codegen'd function.
  *
  * Also injects [[LevenshteinPruning]] — per SURVEY.md §4.2 no rule is
  * REQUIRED (every reference operator lowers onto stock Catalyst
  * plans), but the length-band strengthening of levenshtein predicates
  * is a free win for the J14 self-similarity join.
  *
  * And injects [[LiteralHoisting]] through the columnar-rule hook:
  * filter comparison constants load from the reference array, so a
  * read repeated with new ranges or keys compiles no new class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => LevenshteinPruning)
    e.injectOptimizerRule(_ => RangeJoinBinning)
    e.injectOptimizerRule(_ => SortedIntersectRewrite)
    e.injectPlannerStrategy(_ => IntervalOverlapStrategy)
    e.injectColumnar(_ => LiteralHoistingColumnarRule)
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "cosine_sim expects exactly 2 arguments")
        CosineSim(args.head, args(1))
      }))
    e.injectFunction((
      FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "poly_hash expects exactly 1 argument")
        PolyHash(args.head)
      }))
    e.injectFunction((
      FunctionIdentifier("sorted_intersect_size"),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, "sorted_intersect_size"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "sorted_intersect_size expects exactly 2 arguments")
        SortedIntersectSize(args.head, args(1))
      }))
    e.injectFunction((
      FunctionIdentifier("loc_scale_b_sketch"),
      new ExpressionInfo(classOf[LocScaleBSketch].getName, "loc_scale_b_sketch"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "loc_scale_b_sketch expects (col, k)")
        LocScaleBSketch(args.head, args(1).eval() match {
          case d: Double => d
          // SQL `3.0` parses as a DECIMAL literal — Spark's Decimal is
          // not a java.lang.Number
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case n: Number => n.doubleValue()
          case x => throw new IllegalArgumentException(s"k must be a numeric literal, got $x")
        })
      }))
  }
}
