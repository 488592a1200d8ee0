package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import graft.core.Sessions
import scala.collection.mutable

/** Measurement harness for ONE query: runs it like Bench does (count
  * action, same session config) but with a job-level listener that
  * prints every Spark job's wall time and call site, so a fixture-heavy
  * query's seconds can be attributed to its individual actions
  * (writes, collects, checkpoints, the final count), and the warm rep's
  * code-generation compiles (count and total compile time, from
  * Spark's `CodegenMetrics` and `CodeGenerator.compileTime`) — a warm
  * rep that still compiles is paying for constants written into
  * generated code. Also writes the
  * final frame's `explain("formatted")` to `plans/r15/<name>_<suffix>.txt`
  * when SPARK_GRAFT_PLAN_SUFFIX is set.
  *
  * Usage: SPARK_GRAFT_ONLY=q415 sbt "runMain graft.Probe"
  * (first match of the substring wins; SPARK_GRAFT_PROBE_REPS reps,
  * default 2 — rep 1 is cold, last rep is the warm number.)
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY",
      sys.error("set SPARK_GRAFT_ONLY to a query-name substring"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.quietKnownWarnings()
    val (name, fn) = SparkEntry.queries.toSeq.sortBy(_._1)
      .find(_._1.contains(only))
      .getOrElse(sys.error(s"no query matching '$only'"))
    println(s"[probe] $name over $sfDir, $reps reps")

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
      spark.sparkContext.getPersistentRDDs.foreach(_._2.unpersist(false))
      jobs.clear()
      if (rep == reps) spark.sparkContext.addSparkListener(listener)
      val compiles0 = compiles()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tPlan = System.nanoTime()
      val n = df.count()
      val t1 = System.nanoTime()
      spark.sparkContext.removeSparkListener(listener)
      println(f"[probe] rep $rep: total ${(t1 - t0) / 1e9}%.2f s " +
        f"(build ${(tPlan - t0) / 1e9}%.2f s, action ${(t1 - tPlan) / 1e9}%.2f s), rows $n")
      if (rep == reps) {
        val (n1, ns1) = compiles()
        println(f"[probe] codegen: ${n1 - compiles0._1} compiles, " +
          f"${(ns1 - compiles0._2) / 1e9}%.3f s compiling")
        Thread.sleep(200)
        val byDesc = jobs.synchronized {
          jobs.toSeq.filter(_.t1 > 0)
            .map(j => (j.desc.take(90), (j.t1 - j.t0) / 1e9))
        }
        println(f"[probe] ${byDesc.size} jobs, sum ${byDesc.map(_._2).sum}%.2f s; by description:")
        byDesc.groupBy(_._1).view.mapValues(v => (v.size, v.map(_._2).sum)).toSeq
          .sortBy(-_._2._2).take(40)
          .foreach { case (d, (cnt, s)) => println(f"  $s%7.2f s  x$cnt%-3d $d") }
        sys.env.get("SPARK_GRAFT_PLAN_SUFFIX").foreach { suf =>
          val p = java.nio.file.Paths.get(
            sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r16"),
            s"${name}_$suf.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          println(s"[probe] plan -> $p")
        }
      }
    }
    spark.stop()
  }

  /** Code-generation compiles so far in this JVM, and their total
    * nanoseconds.
    */
  private def compiles(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
