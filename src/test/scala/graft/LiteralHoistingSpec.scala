package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import graft.plans.HoistedLiteral

/** Filter literal hoisting ([[graft.plans.LiteralHoisting]]): a filter
  * re-run with new range constants compiles no new class, also when it
  * compares a derived expression or tests an `IN` list, returns the
  * rows a plain Scala filter of its input returns (NaN, −0.0 and nulls
  * included, AQE on and off), leaves the scan's pushed and partition
  * filters alone, and never lets two plans that differ in a constant
  * share an exchange. Every fixture is parquet-backed: a local relation
  * would be folded before the physical rule runs.
  */
class LiteralHoistingSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val Day0 = java.time.LocalDate.of(2024, 1, 1)

  // 240 rows in 4 partitions (p = id % 4): an Int, Long, Date, Timestamp
  // and Double column each with null cells; x also holds NaN, −0.0, 0.0
  // and the infinities
  private lazy val dir = {
    val d = graft.core.Scratch.dir("literal_hoisting")
    spark.range(240).select(
      $"id",
      ($"id" % 4).cast("int").as("p"),
      when($"id" % 17 === 3, lit(null)).otherwise(($"id" * 7 % 100).cast("int"))
        .as("i"),
      when($"id" % 19 === 4, lit(null)).otherwise($"id" * 1000000007L).as("l"),
      when($"id" % 23 === 5, lit(null))
        .otherwise(date_add(lit(Day0.toString).cast("date"), ($"id" * 3).cast("int")))
        .as("d"),
      when($"id" % 29 === 6, lit(null)).otherwise(timestamp_seconds($"id" * 3600))
        .as("t"),
      when($"id" % 13 === 0, lit(Double.NaN))
        .when($"id" % 11 === 0, lit(-0.0))
        .when($"id" % 7 === 0, lit(0.0))
        .when($"id" === 31, lit(Double.PositiveInfinity))
        .when($"id" === 37, lit(Double.NegativeInfinity))
        .when($"id" % 31 === 2, lit(null))
        .otherwise($"id" * 0.5 - 40.0).as("x"))
      .write.mode("overwrite").partitionBy("p").parquet(d)
    d
  }

  private def input: DataFrame = spark.read.parquet(dir)
  private lazy val cells: Seq[Row] = input.collect().toSeq

  /** SQL ordering of one cell, as a comparable key: doubles order NaN
    * above +∞ with NaN = NaN, and −0.0 = 0.0.
    */
  private def key(v: Any): Double = v match {
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toDouble
    case t: java.sql.Timestamp => t.getTime.toDouble
    case x: Double => x + 0.0
  }
  private def cmp(a: Any, b: Any): Int = java.lang.Double.compare(key(a), key(b))

  /** ids whose `c` cell lies in [lo, hi] (SQL semantics). */
  private def expected(c: String, lo: Any, hi: Any): Seq[Long] =
    cells.filter { r =>
      val v = r.getAs[Any](c)
      v != null && cmp(v, lo) >= 0 && cmp(v, hi) <= 0
    }.map(_.getAs[Long]("id")).sorted

  /** The ids `df` returns; runs `df` itself, so its executed plan is
    * the final (adaptive) one.
    */
  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getAs[Long]("id")).toSeq.sorted

  private def withAqe[T](on: Boolean)(body: => T): T = {
    val k = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(k)
    spark.conf.set(k, on.toString)
    try body finally spark.conf.set(k, prev)
  }

  private def filters(df: DataFrame): Seq[FilterExec] =
    collect(df.queryExecution.executedPlan) { case f: FilterExec => f }

  private def hoisted(p: FilterExec): Seq[HoistedLiteral] =
    p.condition.collect { case h: HoistedLiteral => h }

  private def ts(hours: Long) = new java.sql.Timestamp(hours * 3600L * 1000L)
  private def date(days: Int) = java.sql.Date.valueOf(Day0.plusDays(days))

  /** (column, two ranges) for every hoisted type. */
  private val ranges: Seq[(String, (Any, Any), (Any, Any))] = Seq(
    ("i", (10, 40), (55, 90)),
    ("l", (20L * 1000000007L, 80L * 1000000007L),
      (150L * 1000000007L, 230L * 1000000007L)),
    ("d", (date(30), date(200)), (date(400), date(650))),
    ("t", (ts(12), ts(90)), (ts(100), ts(230))),
    ("x", (-0.0, 30.0), (-20.0, Double.NaN)))

  private def between(c: String, lo: Any, hi: Any): Column =
    col(c) >= lit(lo) && col(c) <= lit(hi)

  test("rows equal a plain Scala filter for Int, Long, Date, Timestamp and Double — AQE on and off") {
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      for ((c, r1, r2) <- ranges; (lo, hi) <- Seq(r1, r2)) {
        val df = input.filter(between(c, lo, hi))
        assert(ids(df) == expected(c, lo, hi), s"aqe=$aqe $c in [$lo, $hi]")
        assert(filters(df).flatMap(hoisted).map(_.value).toSet.size == 2,
          s"aqe=$aqe: the filter on $c kept literals in generated code")
      }
      // −0.0 equals 0.0, NaN equals NaN, and NaN sorts above every value
      val x = cells.map(r => r.getAs[Any]("x"))
      def count(f: Any => Boolean) = x.count(v => v != null && f(v)).toLong
      assert(count(v => key(v).isNaN) > 0 && count(v => cmp(v, 0.0) == 0) > 0)
      assert(input.filter($"x" === -0.0).count() ==
        count(v => cmp(v, 0.0) == 0))
      assert(input.filter($"x" === Double.NaN).count() ==
        count(v => key(v).isNaN))
      assert(input.filter($"x" > 100.0).count() ==
        count(v => cmp(v, 100.0) > 0))
    }
  }

  test("a second range after a warm-up compiles no new class") {
    def run(k: Int): Unit =
      input.filter(between("i", 10 + k, 40 + k) &&
          $"l" > lit(k * 1000000007L) && $"d" < lit(date(500 + k)) &&
          $"t" >= lit(ts(k)) && $"x" < lit(50.0 + k))
        .groupBy($"p").agg(count(lit(1)), sum($"l")).collect()
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      run(0)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run(7)
      val added = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(added == 0, s"aqe=$aqe: a new constant compiled $added class(es)")
    }
  }

  test("a filter on a derived expression or an IN list: a second constant after a warm-up compiles nothing, rows equal a Scala filter") {
    // t's UTC day, and i + l: null when either input is
    def day(r: Row): Option[Long] = Option(r.getAs[java.sql.Timestamp]("t"))
      .map(t => Math.floorDiv(t.getTime, 86400000L))
    def sum(r: Row): Option[Long] = for {
      i <- Option(r.getAs[Any]("i")); l <- Option(r.getAs[Any]("l"))
    } yield i.asInstanceOf[Int] + l.asInstanceOf[Long]
    def want(f: Row => Boolean) = cells.filter(f).map(_.getAs[Long]("id")).sorted
    val cases: Seq[(String, Long => Column, Long => Row => Boolean, Long, Long)] = Seq(
      ("unix_date(to_date(t)) >= k", k => unix_date(to_date($"t")) >= lit(k.toInt),
        k => r => day(r).exists(_ >= k), 3L, 6L),
      ("i + l < k", k => $"i" + $"l" < lit(k),
        k => r => sum(r).exists(_ < k), 50L * 1000000007L, 120L * 1000000007L),
      ("i IN (k, k + 7, k + 14)", k => $"i".isin(k.toInt, k.toInt + 7, k.toInt + 14),
        k => r => Option(r.getAs[Any]("i")).map(_.asInstanceOf[Int].toLong)
          .exists(Set(k, k + 7, k + 14)), 7L, 35L))
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      for ((name, cond, scala, k1, k2) <- cases) {
        val warmUp = input.filter(cond(k1))
        assert(ids(warmUp) == want(scala(k1)), s"aqe=$aqe $name, k=$k1")
        assert(filters(warmUp).exists(f => hoisted(f).nonEmpty),
          s"aqe=$aqe: $name kept its constant in generated code")
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val got = ids(input.filter(cond(k2)))
        val added = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
        assert(got == want(scala(k2)), s"aqe=$aqe $name, k=$k2")
        assert(added == 0, s"aqe=$aqe: $name with a new k compiled $added class(es)")
      }
    }
  }

  test("the scan keeps its pushed filters and its partition pruning") {
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val df = input.filter($"p" >= 2 && $"i" >= 40)
      assert(ids(df) == cells.filter(r => r.getAs[Int]("p") >= 2 &&
        Option(r.getAs[Any]("i")).exists(_.asInstanceOf[Int] >= 40))
        .map(_.getAs[Long]("id")).sorted)
      val plan: SparkPlan = df.queryExecution.executedPlan
      val scan = collect(plan) { case s: FileSourceScanExec => s }.head
      assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(i,40)"),
        scan.metadata("PushedFilters"))
      assert(scan.partitionFilters.nonEmpty &&
        scan.partitionFilters.forall(_.collect { case h: HoistedLiteral => h }.isEmpty))
      assert(scan.metrics("numPartitions").value == 2L,
        s"aqe=$aqe: partition pruning read ${scan.metrics("numPartitions").value} of 4")
      assert(filters(df).exists(f => hoisted(f).nonEmpty))
    }
  }

  test("two plans that differ only in a constant never share an exchange") {
    def agg(lo: Int) = input.filter($"i" > lo).groupBy($"p")
      .agg(count(lit(1)).as("n"), sum($"l").as("s"))
    def want(lo: Int): Map[Int, (Long, Long)] =
      cells.filter(r => Option(r.getAs[Any]("i")).exists(_.asInstanceOf[Int] > lo))
        .groupBy(_.getAs[Int]("p")).map { case (p, rs) =>
          p -> (rs.size.toLong,
            rs.flatMap(r => Option(r.getAs[Any]("l"))).map(_.asInstanceOf[Long]).sum)
        }
    for (aqe <- Seq(true, false)) withAqe(aqe) {
      val union = agg(10).withColumn("side", lit("a"))
        .unionByName(agg(60).withColumn("side", lit("b"))).collect()
      for ((side, lo) <- Seq("a" -> 10, "b" -> 60))
        assert(union.filter(_.getAs[String]("side") == side)
          .map(r => r.getAs[Int]("p") -> (r.getAs[Long]("n"), r.getAs[Long]("s")))
          .toMap == want(lo), s"aqe=$aqe union side $side")
      val joined = agg(10).as("a").join(agg(60).as("b"), "p")
        .select($"p", $"a.n", $"b.n").collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(joined == want(10).keySet.intersect(want(60).keySet)
        .map(p => p -> (want(10)(p)._1, want(60)(p)._1)).toMap,
        s"aqe=$aqe self-join")
    }
  }
}
