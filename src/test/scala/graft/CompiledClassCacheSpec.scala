package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** The compiled-class cache holds a whole pass of repeated traffic: the
  * perfbench `queries` working set re-run in the same session compiles
  * nothing. Under Spark's default bound of 100 classes the LRU evicts
  * each class before its next use and every rerun compiles over a
  * hundred classes again.
  */
class CompiledClassCacheSpec extends SparkTestBase {

  /** The declared queries the perfbench `queries` workload runs. */
  private val Declared = Seq("q01_pricing_summary", "q04_trip_rollup_firsts",
    "q10_robust_bounds", "q19_gated_merge", "q28_unpivot_metrics",
    "q46_dedup_jaccard", "q165_bm25_topk", "q49_knn_cosine")

  /** Run every declared query with a parquet write of its result, as
    * the benchmark's action does; the code-generation compiles each
    * query took.
    */
  private def pass(out: String): Seq[(String, Long)] = Declared.map { n =>
    spark.sparkContext.getPersistentRDDs.foreach(_._2.unpersist(false))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SparkEntry.queries(n)(spark, sfDir)
      .write.mode("overwrite").parquet(s"$out/$n")
    n -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("a warm rerun of the declared perfbench queries compiles nothing") {
    val out = graft.core.Scratch.dir("compiled_class_cache")
    def total(p: Seq[(String, Long)]) = p.map(_._2).sum
    pass(out)
    // AQE re-plans as stages finish, and which sibling stage finishes
    // first is a race, so a rerun can meet a plan variant no earlier
    // pass ran (seen: q19 4 classes, q46 3, in about one rerun of ten).
    // A cache that holds the set compiles nothing once the variants
    // are in; one that evicts it recompiles it on every rerun.
    val reruns = scala.collection.mutable.ArrayBuffer(pass(out))
    while (total(reruns.last) > 0 && reruns.size < 3) reruns += pass(out)
    assert(reruns.forall(total(_) <= 8),
      s"a warm rerun recompiled the working set: ${reruns.map(_.filter(_._2 > 0))}")
    assert(total(reruns.last) == 0,
      s"none of ${reruns.size} warm reruns compiled nothing: ${reruns.map(_.filter(_._2 > 0))}")
  }
}
