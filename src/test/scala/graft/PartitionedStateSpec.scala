package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.io.Versioned
import graft.pipeline.Incremental
import graft.pipeline.Incremental.TopologyExport

/** The 100 TB publish path ([[Incremental.inPlaceLane]]):
  * a nightly cycle over month-partitioned state must (a) equal the full
  * four-stage reprocess (the q390 oracle re-proves this against DuckDB),
  * (b) leave untouched month partitions BYTE-IDENTICAL — never listed
  * for rewrite, never modified — across all three state roots, and
  * (c) write a small fraction of the bytes the object-versioned twin
  * ([[Incremental.objectLane]]) writes on the same fixture,
  * because the object lane rewrites each full accumulated state per
  * publish while this lane rewrites only the touched months.
  */
class PartitionedStateSpec extends SparkTestBase {
  import spark.implicits._

  private val keys = Seq("imei", "landing_date")

  private def nest(df: org.apache.spark.sql.DataFrame) =
    df.groupBy($"submission_id", $"district", $"month", $"imei",
        $"landing_date")
      .agg(collect_list($"sg").as("species_groups"))

  private def halveBins(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("sg", $"sg".withField("length_bins",
      transform($"sg.length_bins", b => struct(
        b.getField("length_class").as("length_class"),
        greatest(lit(1L), shiftright(b.getField("n"), 1)).as("n")))))

  private def tripsOf(d: String) =
    graft.core.Tables.orders(spark, d).filter($"o_orderkey" % 3 === 0)
      .select($"o_orderkey".as("trip_id"),
        concat(lit("IMEI"), ($"o_orderkey" % 97).cast("string")).as("imei"),
        to_date($"o_orderdate").as("landing_date"),
        ($"o_orderkey" % 7000 + 3600).cast("long").as("duration_sec"))

  private def exportOf(merged: org.apache.spark.sql.DataFrame) =
    merged.filter($"submission_id".isNotNull)
      .groupBy($"district", $"month")
      .agg(sum($"n").as("n_rows"), sum($"sum_cents").as("sum_cents"),
        count($"trip_id").as("n_matched"),
        coalesce(sum(when($"trip_id".isNotNull, $"duration_sec")),
          lit(0L)).as("dur_sec"))

  test("untouched months stay byte-identical; cycle ≡ full reprocess; un-merge fires") {
    val dir = graft.core.Scratch.dir("spec_pstate_cycle")
    val lw = graft.queries.IoQueries.chainLwTable(spark)
    val oct = java.sql.Date.valueOf("1997-10-01")
    val nov = java.sql.Date.valueOf("1997-11-01")
    val dec = java.sql.Date.valueOf("1997-12-01")
    // prior window wide enough that SOME device-day publishes 1:1 even
    // after validation excludes its flagged submissions (sf0.001 has
    // ~24 orders/month and a deliberately harsh flag rate)
    val priorMonths = Seq("1997-06-01", "1997-07-01", "1997-08-01",
      "1997-09-01").map(java.sql.Date.valueOf) ++ Seq(oct, nov)
    val flat = graft.queries.IoQueries.chainSurveyFlat(spark, sfDir)
      .filter($"month".isin(priorMonths :+ dec: _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val trips = tripsOf(sfDir)
      .filter(trunc($"landing_date", "month").isin(priorMonths :+ dec: _*))
    // prior: all surveys through November; delta: November edits (every
    // 5th submission) + the new December batch — October is the month
    // the nightly never names
    val priorFlat = flat.filter($"month".isin(priorMonths: _*))
    val editedFlat = halveBins(
      priorFlat.filter($"month" === nov && $"submission_id" % 5 === 0))
    val decFlat = flat.filter($"month" === dec)
    val tPrior = trips.filter(trunc($"landing_date", "month") =!= dec &&
      !(trunc($"landing_date", "month") === nov && $"trip_id" % 2 =!= 0))
    val sPrior = Incremental.submissionContrib(
      Incremental.surveyProcess(nest(priorFlat), lw,
        Seq("district", "month") ++ keys), keys)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mPrior = graft.ops.GatedMerge.gatedOneToOne(sPrior, tPrior, keys)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the un-merge fixture: a duplicate second trip for every device-day
    // the PRIOR merge published as 1:1 — except October's, which must
    // stay untouched (synthetic ids can't collide with real trip ids)
    val dupTrips = mPrior.filter($"submission_id".isNotNull &&
        $"trip_id".isNotNull && trunc($"landing_date", "month") =!= oct)
      .select(($"trip_id" + 10000000L).as("trip_id"), $"imei",
        $"landing_date", lit(1234L).as("duration_sec"))
    val tDelta = trips
      .filter(trunc($"landing_date", "month") === dec ||
        (trunc($"landing_date", "month") === nov && $"trip_id" % 2 =!= 0))
      .unionByName(dupTrips)
    assert(editedFlat.count() > 0 && decFlat.count() > 0 &&
      dupTrips.count() > 0 && tDelta.count() > 0,
      "fixture vacuous at this scale — widen the month window")
    val lm = trunc($"landing_date", "month").as("lmonth")
    Versioned.writePartitionedFull(sPrior, dir, "pst_s", Seq("month"))
    Versioned.writePartitionedFull(tPrior.withColumn("lmonth", lm), dir,
      "pst_t", Seq("lmonth"))
    Versioned.writePartitionedFull(mPrior.withColumn("lmonth", lm), dir,
      "pst_m", Seq("lmonth"))
    Versioned.write(nest(decFlat.unionByName(editedFlat)), dir, "pst_sraw",
      "00000002_b")
    Versioned.write(tDelta, dir, "pst_traw", "00000002_b")
    // snapshot October's files in every root
    def octFiles(prefix: String, partCol: String) = Option(new java.io.File(
        Versioned.partitionedRoot(dir, prefix), s"$partCol=1997-10-01")
        .listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)
    val before = Seq(octFiles("pst_s", "month"), octFiles("pst_t", "lmonth"),
      octFiles("pst_m", "lmonth"))
    assert(before.forall(_.nonEmpty), "fixture wrote no October partitions")
    Thread.sleep(1100) // mtime granularity guard
    val out = Incremental.topologyCycle(spark, dir,
        Incremental.inPlaceLane(spark, dir), "pst_s", "pst_t", "pst_m",
        "pst_sraw", "pst_traw", None, lw, TopologyExport.Monthly)
      .collect().map(_.toSeq).toSet
    val after = Seq(octFiles("pst_s", "month"), octFiles("pst_t", "lmonth"),
      octFiles("pst_m", "lmonth"))
    assert(before == after,
      "an untouched month's partition files changed under the cycle")
    // full reprocess over the effective data (edits authoritative)
    val effFlat = priorFlat
      .filter(!($"month" === nov && $"submission_id" % 5 === 0))
      .unionByName(editedFlat).unionByName(decFlat)
    val fullContrib = Incremental.submissionContrib(
      Incremental.surveyProcess(nest(effFlat), lw,
        Seq("district", "month") ++ keys), keys)
    val full = exportOf(graft.ops.GatedMerge.gatedOneToOne(fullContrib,
        tPrior.unionByName(tDelta), keys))
      .collect().map(_.toSeq).toSet
    assert(out == full, s"partitioned cycle diverged from full reprocess: " +
      s"${(out diff full).take(3)} vs ${(full diff out).take(3)}")
    // the un-merge direction: every non-October device-day that was
    // published 1:1 got a duplicate trip in the delta, so none may
    // remain joined in the published merge
    val dupKeys = dupTrips.select($"imei", $"landing_date")
    val mAfter = Versioned.readPartitioned(spark, dir, "pst_m")
    assert(mAfter.join(dupKeys, keys, "left_semi")
      .filter($"submission_id".isNotNull && $"trip_id".isNotNull).isEmpty,
      "a published 1:1 match survived its duplicate trip — un-merge failed")
    // ...and its rows still exist, as pass-throughs (3 per key: survey,
    // original trip, duplicate trip)
    assert(mAfter.join(dupKeys, keys, "left_semi").count() >=
      3L * dupKeys.distinct().count(),
      "un-merged keys lost rows instead of splitting into pass-throughs")
    flat.unpersist(); sPrior.unpersist(); mPrior.unpersist()
    ()
  }

  test("bytes-written: partitioned publish is a fraction of the object-versioned rewrite") {
    // sf0.01 so data bytes dominate parquet footer overhead (at sf0.001
    // a clustered month file is ~1 KB and per-file constants decide the
    // comparison, not the I/O design under test)
    val bytesSf = "/root/testdata/sf0.01"
    val lw = graft.queries.IoQueries.chainLwTable(spark)
    val flat = graft.queries.IoQueries.chainSurveyFlat(spark, bytesSf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cutoff = to_date(lit("2001-06-01"))
    val tripCut = to_date(lit("2001-01-01"))
    val prior = flat.filter($"day" < cutoff)
    val editedFlat = halveBins(
      prior.filter($"submission_id" % 23 === 0 && $"day" >= tripCut))
    val sDelta = nest(flat.filter($"day" >= cutoff).unionByName(editedFlat))
    val trips = tripsOf(bytesSf)
    val tPrior = trips.filter($"landing_date" < tripCut)
    val tDelta = trips.filter($"landing_date" >= tripCut)
    val sPrior = Incremental.submissionContrib(
      Incremental.surveyProcess(nest(prior), lw,
        Seq("district", "month") ++ keys), keys)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mPrior = graft.ops.GatedMerge.gatedOneToOne(sPrior, tPrior, keys)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lm = trunc($"landing_date", "month").as("lmonth")

    // ---- task-level output-bytes tap (SkewSpec's polling discipline)
    class WriteTap extends SparkListener {
      val recs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) recs.add(m.outputMetrics.bytesWritten)
      }
    }
    def bytesWritten(action: => Unit): Long = {
      val tap = new WriteTap
      spark.sparkContext.addSparkListener(tap)
      try {
        action
        var prev = -1; var stable = 0
        while (stable < 3) {
          val n = tap.recs.size
          if (n == prev) stable += 1 else { stable = 0; prev = n }
          Thread.sleep(150)
        }
        import scala.jdk.CollectionConverters._
        tap.recs.asScala.map(_.longValue).sum
      } finally spark.sparkContext.removeSparkListener(tap)
    }

    def du(f: java.io.File, since: Long): Long =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(du(_, since)).sum).getOrElse(0L)
      else if (f.lastModified >= since && !f.getName.startsWith("."))
        f.length
      else 0L

    // object-versioned twin: fixture writes OUTSIDE the measurement
    val dirO = graft.core.Scratch.dir("spec_pbytes_obj")
    Versioned.write(sPrior, dirO, "bo_s", "00000001_a")
    Versioned.write(tPrior, dirO, "bo_t", "00000001_a")
    Versioned.write(mPrior, dirO, "bo_m", "00000001_a")
    Versioned.write(sDelta, dirO, "bo_sraw", "00000002_b")
    Versioned.write(tDelta, dirO, "bo_traw", "00000002_b")
    val objTask = bytesWritten {
      Incremental.topologyCycle(spark, dirO,
        Incremental.objectLane(spark, dirO, "00000002_b"), "bo_s", "bo_t",
        "bo_m", "bo_sraw", "bo_traw", None, lw, TopologyExport.Monthly)
        .count()
      ()
    }
    // what landed in the STORE: the cycle's three published state objects
    val objBytes = Seq("bo_s_next", "bo_t_next", "bo_m_next")
      .map(p => du(new java.io.File(
        s"$dirO/${p}__00000002_b__.parquet"), 0L)).sum
    // partitioned lane on the SAME prior/delta
    val dirP = graft.core.Scratch.dir("spec_pbytes_part")
    Versioned.writePartitionedFull(sPrior, dirP, "bp_s", Seq("month"))
    Versioned.writePartitionedFull(tPrior.withColumn("lmonth", lm), dirP,
      "bp_t", Seq("lmonth"))
    Versioned.writePartitionedFull(mPrior.withColumn("lmonth", lm), dirP,
      "bp_m", Seq("lmonth"))
    Versioned.write(sDelta, dirP, "bp_sraw", "00000002_b")
    Versioned.write(tDelta, dirP, "bp_traw", "00000002_b")
    Thread.sleep(1100) // mtime granularity
    val t0 = System.currentTimeMillis
    val partTask = bytesWritten {
      Incremental.topologyCycle(spark, dirP,
        Incremental.inPlaceLane(spark, dirP), "bp_s", "bp_t", "bp_m",
        "bp_sraw", "bp_traw", None, lw, TopologyExport.Monthly).count()
      ()
    }
    // what the cycle REWROTE in the store: files newer than t0 across
    // the three roots (untouched partitions keep their old mtimes —
    // pinned byte-identical by the first test)
    val partBytes = Seq("bp_s", "bp_t", "bp_m")
      .map(p => du(new java.io.File(
        Versioned.partitionedRoot(dirP, p)), t0)).sum
    // both lanes publish the same logical state; equality is pinned by
    // the q387/q390 oracles — here we certify the I/O claim. The delta
    // window is ~8 of ~80 months (2001-01..08 of 1995-01..2001-08), so the partitioned publish must write
    // well under half the object lane's store bytes (margin for
    // per-file parquet overhead on small month partitions).
    println(s"[PartitionedStateSpec] store bytes per publish: " +
      s"object=$objBytes partitioned=$partBytes " +
      f"ratio=${partBytes.toDouble / objBytes}%.3f " +
      s"(task-metric writes incl. scratch: obj=$objTask part=$partTask)")
    assert(objBytes > 0L && partBytes > 0L)
    assert(partBytes < objBytes / 2,
      s"partitioned publish rewrote $partBytes of the object lane's " +
        s"$objBytes store bytes — the O(touched) claim does not hold")
    flat.unpersist(); sPrior.unpersist(); mPrior.unpersist()
    ()
  }

  test("full composition (q394): takedown purges the partitioned taxon state; old months stand still under re-application") {
    import graft.core.Scratch
    // first run builds the fixture roots and applies the cycle (the
    // q394 oracle proves cycle ≡ full-reprocess-minus-deleted)
    val first = SparkEntry.queries("q394_partitioned_export_takedown")(
      spark, sfDir).collect().map(_.toSeq).toSet
    val dir = Scratch.dir("q394_pxt")
    // published taxon state holds no tombstoned submission
    val st = Versioned.readPartitioned(spark, dir, "pxt_sstate")
    assert(st.filter($"submission_id" % 31 === 0 &&
        $"month" >= to_date(lit("2000-06-01")) &&
        $"month" < to_date(lit("2001-06-01"))).isEmpty,
      "published partitioned taxon state still holds a tombstoned submission")
    // snapshot the pre-takedown-window months in every root, then apply
    // the SAME cycle again directly (no fixture re-init): re-applying a
    // nightly batch must neither touch the old months nor change the
    // published export (idempotent re-application — the crash-recovery
    // property an in-place partitioned publish needs)
    def files(prefix: String, partCol: String, month: String) =
      Option(new java.io.File(Versioned.partitionedRoot(dir, prefix),
          s"$partCol=$month").listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)
    def oldMonths = Seq(
      files("pxt_sstate", "month", "2000-03-01"),
      files("pxt_sstate", "month", "1999-07-01"),
      files("pxt_tstate", "lmonth", "2000-11-01"),
      files("pxt_merged", "lmonth", "2000-03-01"))
    val before = oldMonths
    assert(before.forall(_.nonEmpty), "fixture wrote no old-month partitions")
    Thread.sleep(1100)
    val lw = graft.queries.IoQueries.chainLwTable(spark)
    val second = Incremental.topologyCycle(spark, dir,
        Incremental.inPlaceLane(spark, dir), "pxt_sstate", "pxt_tstate",
        "pxt_merged", "pxt_sraw", "pxt_traw", Some("pxt_tomb"), lw,
        TopologyExport.Products(topN = 3))
      .collect().map(_.toSeq).toSet
    assert(oldMonths == before,
      "re-applying the cycle touched a month outside the delta/takedown window")
    assert(second == first,
      "re-applying the same nightly batch changed the published export")
  }
}
