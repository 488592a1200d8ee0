package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the workload (several times,
  * each on a fresh engine), warm it with untimed passes, then run timed
  * passes over its seeded op list as a closed loop with one client until
  * `--seconds` have elapsed and at least [[Main.MinPasses]] ran. Writes every raw measurement
  * and what the output checks need to `--out` as JSON; `run.py` checks
  * outputs and turns the record into metrics.
  *
  * With `--trace 1` the Spark listeners and spans are on for every
  * other timed pass, so the record also carries per-layer counts and
  * traced vs untraced pass times (the tracing overhead).
  */
object Main {
  /** Task threads: one per core of the 4-core machine the bounds were set on. */
  val Cores = 4
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 5
  /** Untimed passes before the timed ones. */
  val WarmPasses = 1
  /** Timed passes at least, even past `--seconds`: the median of three
    * passes drops one slowed by a noisy neighbour or the last of the
    * warm-up, where the mean of two cannot. */
  val MinPasses = 3

  final case class OpRec(pass: Int, name: String, secs: Double, ok: Boolean,
                         err: String, detail: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val data = opt("data")
    val work = opt("work")

    def newSession(): SparkSession = {
      val s = graft.core.Sessions.configure(SparkSession.builder()
        .master(s"local[$Cores]")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.driver.host", "localhost"), Cores).getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    val fixtures = opt("fixtures")
    if (workloadName == "prepare") return prepare(newSession(), data, work, fixtures, seed)

    // ---- set-up: engine start + the workload's own set-up, SetupReps
    // times; the last engine and workload serve the run. Stopping the
    // previous engine and restoring the workload's files are not timed.
    var spark: SparkSession = null
    var workload: Workload = null
    var tracer: Tracer = null
    val setupSecs = (1 to SetupReps).map { rep =>
      if (spark != null) spark.stop()
      Workload.reset(workloadName, fixtures)
      val t0 = System.nanoTime()
      spark = newSession()
      log(s"setup $rep: session")
      spark.range(1000).selectExpr("sum(id)").collect()
      log(s"setup $rep: first job")
      tracer = new Tracer(spark)
      workload = Workload(workloadName, spark, data, fixtures, s"$work/w", seed, rep)
      workload.setup(tracer)
      log(s"setup $rep: fixture")
      (System.nanoTime() - t0) / 1e9
    }
    val rng = new Random(seed)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val ops = mutable.ArrayBuffer.empty[OpRec]
    final case class PassRec(pass: Int, wall: Double, cpu: Double, traced: Boolean,
                             opIds: Seq[Int])
    val passes = mutable.ArrayBuffer.empty[PassRec]

    def runPass(pass: Int, trace: Boolean): PassRec = {
      if (trace) tracer.on() else tracer.off()
      val list = workload.pass(rng, pass)
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val roots = mutable.ArrayBuffer.empty[Int]
      list.foreach { op =>
        // drop blocks a previous op left cached, untimed (as graft.Bench does)
        spark.sparkContext.getPersistentRDDs.foreach(_._2.unpersist(false))
        val o0 = System.nanoTime()
        val rootId = tracer.spans.length
        val rec = try {
          val detail = tracer.span("op")(op.run(tracer))
          OpRec(pass, op.name, (System.nanoTime() - o0) / 1e9, ok = true, "", detail)
        } catch {
          case e: Throwable =>
            OpRec(pass, op.name, (System.nanoTime() - o0) / 1e9, ok = false,
              String.valueOf(e.getMessage).linesIterator.toSeq.headOption.getOrElse(""),
              Map.empty)
        }
        if (trace) roots += rootId
        ops += rec
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      tracer.off()
      PassRec(pass, wall, cpu, trace, roots.toSeq)
    }

    // warm-up: caches fill, code generation and JIT settle
    (1 to WarmPasses).foreach(w => runPass(-w, trace = false))
    log("warm-up passes")
    ops.clear()
    val w0 = System.nanoTime()
    var p = 1
    var diskMb = 0.0
    while (p <= MinPasses || (System.nanoTime() - w0) / 1e9 < seconds ||
        (traced && passes.count(_.traced) == 0)) {
      passes += runPass(p, trace = traced && p % 2 == 0)
      if (p == 1) diskMb = workload.diskBytes() / 1e6
      p += 1
    }
    val windowSecs = (System.nanoTime() - w0) / 1e9
    log(s"timed window: ${passes.size} passes")
    val checks = workload.finish()

    // ---- per-layer record (traced passes only)
    val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val tracedPasses = passes.filter(_.traced)
    if (tracedPasses.nonEmpty) {
      val rootIds = tracedPasses.flatMap(_.opIds).toSet
      val inTraced = (s: Span) => rootIds(s.op)
      // counts in total and per span name (`io.read:io.rows_scanned`)
      tracer.spans.filter(inTraced).foreach(s => s.counts.foreach { case (k, v) =>
        layers(k) += v
        layers(s"${s.name}:$k") += v
      })
      tracer.selfTimes(inTraced).foreach { case (k, v) => layers(s"self.$k") += v }
      tracer.spans.filter(inTraced).foreach(s => layers(s"span.${s.name}") += s.dur)
      rootIds.foreach { id =>
        val root = tracer.spans(id)
        layers("spark.driver_only_s") += tracer.driverOnly(root)
        layers("spark.job_wall_s") += tracer.jobWall(root)
        layers("op_wall_s") += root.dur
      }
      layers("traced_passes") = tracedPasses.size.toDouble
      layers("traced_pass_s") = median(tracedPasses.map(_.wall).toSeq)
      val untraced = passes.filterNot(_.traced)
      layers("untraced_pass_s") = median(untraced.map(_.wall).toSeq)
      layers("cores") = Cores.toDouble
    }

    val rec = Map[String, Any](
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> Cores,
      "setup_s" -> setupSecs,
      "window_s" -> windowSecs,
      "passes" -> passes.map(p => Map("pass" -> p.pass, "wall_s" -> p.wall,
        "cpu_s" -> p.cpu, "traced" -> p.traced)).toSeq,
      "ops" -> ops.map(o => Map("pass" -> o.pass, "name" -> o.name, "secs" -> o.secs,
        "ok" -> o.ok, "err" -> o.err, "detail" -> o.detail)).toSeq,
      "disk_mb" -> diskMb,
      "peak_rss_mb" -> peakRssMb(),
      "layers" -> layers.toMap,
      "checks" -> checks)
    Files.writeString(Paths.get(opt("out")), Json(rec))
    spark.stop()
  }

  /** Per-build preparation: the lake fixtures (written by the engine
    * under test, so rebuilt with it), then one traced set-up and pass of
    * every workload. Run with -XX:ArchiveClassesAtExit, the second part
    * records the classes a run loads into the class-data archive later
    * runs start from. */
  def prepare(spark: SparkSession, data: String, work: String, fixtures: String,
              seed: Long): Unit = {
    LakeRead.build(spark, data, LakeRead.lakeDir(fixtures))
    LakeMaintain.build(spark, data, fixtures)
    log("fixtures")
    Workload.Names.foreach { w =>
      val wl = Workload(w, spark, data, fixtures, s"$work/$w", seed, 1)
      val t = new Tracer(spark)
      t.on()
      t.span("setup")(wl.setup(t))
      wl.pass(new Random(seed), 1).foreach(op => t.span("op")(op.run(t)))
      wl.finish()
      t.off()
      log(s"class run: $w")
    }
    spark.stop()
  }

  /** Progress line with JVM uptime, to the run's log. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s] $msg")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** High-water resident set of this JVM (Linux /proc). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
}

/** Minimal JSON writer for the run record (maps, seqs, strings, numbers). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
