package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import graft.core.Sessions
import scala.collection.mutable

/** Measurement harness for one query or a list of them: runs them like
  * Bench does (count action, same session config) but with a job-level
  * listener that prints every Spark job's wall time and call site, so a
  * fixture-heavy query's seconds can be attributed to its individual
  * actions (writes, collects, checkpoints, the final count). Every rep
  * prints its code-generation compiles (count and total compile time,
  * from Spark's `CodegenMetrics` and `CodeGenerator.compileTime`): a
  * warm rep that still compiles is paying for constants written into
  * generated code, or for classes the compiled-class cache evicted. A
  * list runs its queries in order within each rep, in one session, so
  * one query evicting another's classes shows as warm compiles. Also
  * writes each final frame's `explain("formatted")` to
  * `plans/r16/<name>_<suffix>.txt` when SPARK_GRAFT_PLAN_SUFFIX is set.
  *
  * Usage: SPARK_GRAFT_ONLY=q415 sbt "runMain graft.Probe"
  * (SPARK_GRAFT_ONLY is a comma list of query-name substrings; each
  * picks its first match in name order. SPARK_GRAFT_PROBE_REPS reps,
  * default 2 — rep 1 is cold, the last rep is the warm number and lists
  * its jobs.)
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY",
      sys.error("set SPARK_GRAFT_ONLY to a comma list of query-name substrings"))
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietKnownWarnings()
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val selected = only.map(o => all.find(_._1.contains(o))
      .getOrElse(sys.error(s"no query matching '$o'")))
    println(s"[probe] ${selected.map(_._1).mkString(", ")} over $sfDir, $reps reps")

    case class J(id: Int, desc: String, t0: Long, var t1: Long = 0L)
    val jobs = mutable.ArrayBuffer.empty[J]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties.getProperty("spark.job.description"))
          .orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("?")
        jobs += J(e.jobId, d, System.nanoTime())
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.t1 = System.nanoTime())
      }
    }
    // warmup like Bench
    spark.range(1000000).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").count().count()
    (1 to reps).foreach { rep =>
      jobs.clear()
      if (rep == reps) spark.sparkContext.addSparkListener(listener)
      val (n0, ns0) = compiles()
      selected.foreach { case (name, fn) =>
        spark.sparkContext.getPersistentRDDs.foreach(_._2.unpersist(false))
        val (q0, qns0) = compiles()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tPlan = System.nanoTime()
        val n = df.count()
        val t1 = System.nanoTime()
        val (q1, qns1) = compiles()
        println(f"[probe] rep $rep $name: total ${(t1 - t0) / 1e9}%.2f s " +
          f"(build ${(tPlan - t0) / 1e9}%.2f s, action ${(t1 - tPlan) / 1e9}%.2f s), " +
          f"rows $n, ${q1 - q0} compiles (${(qns1 - qns0) / 1e9}%.3f s)")
        if (rep == reps) sys.env.get("SPARK_GRAFT_PLAN_SUFFIX").foreach { suf =>
          val p = java.nio.file.Paths.get(
            sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r16"),
            s"${name}_$suf.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          println(s"[probe] plan -> $p")
        }
      }
      spark.sparkContext.removeSparkListener(listener)
      val (n1, ns1) = compiles()
      println(f"[probe] rep $rep codegen: ${n1 - n0} compiles, " +
        f"${(ns1 - ns0) / 1e9}%.3f s compiling")
      if (rep == reps) {
        Thread.sleep(200)
        val byDesc = jobs.synchronized {
          jobs.toSeq.filter(_.t1 > 0)
            .map(j => (j.desc.take(90), (j.t1 - j.t0) / 1e9))
        }
        println(f"[probe] ${byDesc.size} jobs, sum ${byDesc.map(_._2).sum}%.2f s; by description:")
        byDesc.groupBy(_._1).view.mapValues(v => (v.size, v.map(_._2).sum)).toSeq
          .sortBy(-_._2._2).take(40)
          .foreach { case (d, (cnt, s)) => println(f"  $s%7.2f s  x$cnt%-3d $d") }
      }
    }
    spark.stop()
  }

  /** Code-generation compiles so far in this JVM, and their total
    * nanoseconds.
    */
  def compiles(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
