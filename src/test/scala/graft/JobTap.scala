package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The jobs a block launches, by `spark.job.description`
  * (`<unlabelled>` when it has none) — what the planning specs assert
  * job budgets and labels with.
  */
object JobTap {
  private class Tap extends SparkListener {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      descs.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("<unlabelled>"))
  }

  /** `body`'s result and the descriptions of the jobs it launched. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBus.drain(sc)
    val tap = new Tap
    sc.addSparkListener(tap)
    try {
      val r = body
      org.apache.spark.GraftTestBus.drain(sc)
      import scala.jdk.CollectionConverters._
      (r, tap.descs.asScala.toSeq)
    } finally sc.removeSparkListener(tap)
  }
}
