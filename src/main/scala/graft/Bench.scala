package graft

import org.apache.spark.sql.SparkSession
import graft.core.Sessions

/** Benchmark main — one JSON line with per-query wall seconds over the
  * SPARK_GRAFT_SF_DIR tables. Each query is forced with count() (full
  * plan execution, no result materialization to the driver).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Sessions.quietKnownWarnings()
    // untimed warmup: absorb JVM/codegen/session startup so the first
    // timed query reflects its own cost, not the engine's
    spark.range(1000000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().count()
    // optional subset for local A/B timing: comma-separated name
    // substrings (e.g. SPARK_GRAFT_ONLY=q115,q46); full run when unset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    var failed = List.empty[String]
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      only.forall(_.exists(name.contains))
    }
    // per-query repetitions: ambient machine load swings single runs
    // 2-4× (q46 measured 4-15 s run-to-run with an identical plan), so
    // the MEDIAN of `reps` back-to-back runs is the comparable number;
    // the first (coldest) run is still reported per-query for
    // round-over-round continuity with the single-run artifacts
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // ambient-load canary: a FIXED-cost synthetic aggregation timed
    // before the suite and every `canaryEvery` queries. Its runs have
    // an identical plan over identical in-memory input, so any spread
    // is machine noise, not the engine — a high coefficient of
    // variation marks the whole bench artifact as load-contaminated
    // (the q147 "9x apparition" class of driver-run phantoms becomes
    // machine-detectable instead of a per-round forensic exercise).
    val canaryEvery = sys.env.getOrElse("SPARK_GRAFT_CANARY_EVERY", "25").toInt.max(1)
    var canaryTimes = List.empty[Double]
    def runCanary(): Unit = {
      val t0 = System.nanoTime()
      spark.range(4000000L).selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).count()
      canaryTimes ::= (System.nanoTime() - t0) / 1e9
    }
    // one untimed canary first: its codegen/JIT compile would otherwise
    // inflate the first timed canary and fake a high CV on quiet runs
    spark.range(4000000L).selectExpr("id % 9973 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).count()
    runCanary()
    val (compiles0, compileNs0) = Probe.compiles()
    val results = selected.zipWithIndex.map { case ((name, fn), qi) =>
      if (qi > 0 && qi % canaryEvery == 0) runCanary()
      val secs = (1 to reps).map { _ =>
        // drop blocks left by the PREVIOUS run before timing this one:
        // eagerly-checkpointed result frames (localCheckpoint) stay in
        // the block manager until their RDD is GC'd, and ~40 such
        // frames from the q1xx queries (string-sorted BEFORE q46)
        // squeezed execution memory enough to triple q46's time via
        // spill churn
        spark.sparkContext.getPersistentRDDs.foreach(_._2.unpersist(false))
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            if (!failed.contains(name)) failed ::= name
            false
        }
        // a failed run reports negative elapsed so it can never be
        // mistaken for a fast success in the timing map
        val sec = (System.nanoTime() - t0) / 1e9
        if (ok) sec else -sec
      }
      // median over SUCCESSFUL reps only: the negative failed-run
      // sentinels would otherwise sort first and drag the median onto
      // (or below) a failure time; a query with zero successes keeps a
      // negative median so it can never read as a fast success
      val good = secs.filter(_ >= 0)
      val median =
        if (good.nonEmpty) good.sorted.apply(good.length / 2)
        else secs.sorted.apply(secs.length / 2)
      name -> (secs.head, median)
    }.toMap
    // code generation over the suite: a suite whose warm reps still
    // compile is evicting classes from the compiled-class cache or
    // writing constants into generated code
    val (compiles1, compileNs1) = Probe.compiles()
    System.err.println(f"[bench] codegen: ${compiles1 - compiles0} compiles, " +
      f"${(compileNs1 - compileNs0) / 1e9}%.3f s compiling")
    runCanary()
    // canary dispersion: CV = stddev/mean over all canary runs
    def cvOf(xs: List[Double]): Double = {
      val m = xs.sum / xs.length
      val v = xs.map(x => (x - m) * (x - m)).sum / xs.length
      if (m > 0) math.sqrt(v) / m else 0.0
    }
    val canaryCv = cvOf(canaryTimes)
    // drop-max companion: a SINGLE spiked canary (one GC pause / one
    // noisy neighbor moment) inflates the mean-based CV past the quiet
    // band even on an idle machine; sustained ambient load inflates
    // BOTH. Read together: cv high + trim low = one transient, run is
    // usable; both high = genuinely contaminated. The raw canary_secs
    // list ships in the artifact so the call is auditable.
    val canaryCvTrim =
      if (canaryTimes.length > 2) cvOf(canaryTimes.sorted.dropRight(1))
      else canaryCv
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + r3(v._1) }
      .mkString("{", ",", "}")
    val qsMed = results.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + r3(v._2) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).filter(_ >= 0).sum else 0.0
    val totalMed = if (results.nonEmpty) results.values.map(_._2).filter(_ >= 0).sum else 0.0
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // full artifact (every query, first-run + median maps) goes to the
    // file — round deltas are computed from it
    val full =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"queries_median":$qsMed,"total_median":${r3(totalMed)},"reps":$reps,"canary_cv":${r3(canaryCv)},"canary_cv_trim":${r3(canaryCvTrim)},"canary_secs":${canaryTimes.reverse.map(r3).mkString("[", ",", "]")},"canary_n":${canaryTimes.length},"failed":$failedJson,"sf":"$sfDir"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), full + "\n")
    // stdout line: the driver keeps only a ~2000-char TAIL of stdout, and
    // the full 224-query maps are ~11 KB — six rounds of "parsed": null.
    // Print a bounded summary as the LAST stdout line: totals plus only
    // the slowest queries by median (the ones worth reading in a report),
    // and a count-capped failed list.
    val slowest = results.toSeq.sortBy(-_._2._2).take(15)
      .map { case (k, v) => "\"" + k + "\":" + r3(v._2) }.mkString("{", ",", "}")
    val failedShown = failed.sorted.take(8)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // identical key semantics to the file artifact ("value" = first-run
    // total, "total_median" = median total) so delta tooling parsing
    // either artifact reads the same numbers
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$slowest,"total_median":${r3(totalMed)},"n_queries":${results.size},"reps":$reps,"canary_cv":${r3(canaryCv)},"canary_cv_trim":${r3(canaryCvTrim)},"canary_n":${canaryTimes.length},"n_failed":${failed.size},"failed":$failedShown,"sf":"$sfDir","full":"$out"}"""
    println(line)
    // the driver keeps only a tail of each stream and may lose the
    // stdout line behind log footers — give it two more places to find
    // the identical summary: stderr, and a fixed sibling file
    System.err.println(line)
    val sumPath = java.nio.file.Paths.get(out).toAbsolutePath.getParent
      .resolve("BENCH_SUMMARY.json")
    java.nio.file.Files.writeString(sumPath, line + "\n")
    spark.stop()
  }
}
