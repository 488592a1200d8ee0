package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.Versioned
import graft.ops.GatedMerge.gatedOneToOne
import graft.pipeline.Incremental
import graft.pipeline.Incremental.TopologyExport

/** The trips/topology family over its four lanes
  * ([[Incremental.topologyCycle]]). One small fixture runs through the
  * object, manifest, in-place and snapshot lanes at submission grain,
  * and through the in-place lane at taxon grain with tombstones. Its
  * nightly batch carries resubmission edits, a new month of surveys,
  * late trips, seeded second trips that un-merge published matches, and
  * CORRECTED trips (same `trip_id`, same device-day, new
  * `duration_sec`). Every export must equal the full reprocess, in
  * which a corrected trip replaces its row, and each lane must stay
  * within its job budget.
  */
class TopologyLaneSpec extends SparkTestBase {
  import spark.implicits._

  private val keys = Seq("imei", "landing_date")
  private val g1 = "00000001_a"
  private val g2 = "00000002_b"
  private val lanes = Seq("object", "manifest", "inplace", "snapshot")
  private lazy val lw = graft.queries.IoQueries.chainLwTable(spark)

  private def nest(df: DataFrame) =
    df.groupBy($"submission_id", $"district", $"month", $"imei",
        $"landing_date")
      .agg(collect_list($"sg").as("species_groups"))

  private def contribOf(flat: DataFrame, taxon: Boolean) =
    Incremental.submissionContrib(
      Incremental.surveyProcess(nest(flat), lw,
        Seq("district", "month") ++ keys),
      if (taxon) keys :+ "catch_taxon" else keys)

  private def bySubmission(contrib: DataFrame) =
    contrib.groupBy($"submission_id", $"district", $"month", $"imei",
        $"landing_date")
      .agg(sum($"n").as("n"), sum($"sum_cents").as("sum_cents"))

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

  private def assertSame(out: Set[Seq[Any]], full: Set[Seq[Any]],
                         what: String): Unit =
    assert(out == full, s"$what diverged from the full reprocess: " +
      s"${(out diff full).take(3)} vs ${(full diff out).take(3)}")

  private val nov = java.sql.Date.valueOf("1997-11-01")
  private val dec = java.sql.Date.valueOf("1997-12-01")
  private val months = Seq("1997-06-01", "1997-07-01", "1997-08-01",
    "1997-09-01", "1997-10-01").map(java.sql.Date.valueOf) ++ Seq(nov, dec)

  // ---- fixture: prior surveys and trips through November; the nightly
  // batch is December's surveys, November re-submissions (every 5th,
  // bins halved), November's odd trips, a second trip for every other
  // device-day the prior merge published 1:1, and a duration correction
  // of each remaining published trip
  private lazy val flat = graft.queries.IoQueries.chainSurveyFlat(spark, sfDir)
    .filter($"month".isin(months: _*))
    .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  private lazy val priorFlat = flat.filter($"month" =!= dec)
  private lazy val edited = priorFlat
    .filter($"month" === nov && $"submission_id" % 5 === 0)
    .withColumn("sg", $"sg".withField("length_bins",
      transform($"sg.length_bins", b => struct(
        b.getField("length_class").as("length_class"),
        greatest(lit(1L), shiftright(b.getField("n"), 1)).as("n")))))
  private lazy val newFlat = flat.filter($"month" === dec)
  private lazy val trips = graft.core.Tables.orders(spark, sfDir)
    .filter($"o_orderkey" % 3 === 0)
    .select($"o_orderkey".as("trip_id"),
      concat(lit("IMEI"), ($"o_orderkey" % 97).cast("string")).as("imei"),
      to_date($"o_orderdate").as("landing_date"),
      ($"o_orderkey" % 7000 + 3600).cast("long").as("duration_sec"))
    .filter(trunc($"landing_date", "month").isin(months: _*))
  private lazy val lateTrip = trunc($"landing_date", "month") === dec ||
    (trunc($"landing_date", "month") === nov && $"trip_id" % 2 =!= 0)
  private lazy val tPrior = trips.filter(!lateTrip)
  private lazy val matched = gatedOneToOne(contribOf(priorFlat, false),
      tPrior, keys)
    .filter($"submission_id".isNotNull && $"trip_id".isNotNull)
    .select($"trip_id", $"imei", $"landing_date")
    .localCheckpoint(true)
  // synthetic ids cannot collide with real trip ids
  private lazy val dupTrips = matched.filter($"trip_id" % 2 === 0)
    .select(($"trip_id" + 10000000L).as("trip_id"), $"imei",
      $"landing_date", lit(1234L).as("duration_sec"))
  private lazy val corrected = tPrior
    .join(matched.filter($"trip_id" % 2 =!= 0).select($"trip_id"),
      Seq("trip_id"), "left_semi")
    .withColumn("duration_sec", $"duration_sec" + 1000L)
  private lazy val tDelta = trips.filter(lateTrip).unionByName(dupTrips)
    .unionByName(corrected).localCheckpoint(true)
  private lazy val tomb = priorFlat
    .filter($"submission_id" % 7 === 0 &&
      $"month".isin(java.sql.Date.valueOf("1997-09-01"),
        java.sql.Date.valueOf("1997-10-01")))
    .select($"submission_id", $"month").distinct().localCheckpoint(true)

  // ---- the full reprocess: edits authoritative, a re-ingested trip
  // replaces its row, tombstones win over everything
  private lazy val effFlat = priorFlat
    .filter(!($"month" === nov && $"submission_id" % 5 === 0))
    .unionByName(edited).unionByName(newFlat)
  private lazy val tAll = tPrior
    .join(tDelta.select($"trip_id"), Seq("trip_id"), "left_anti")
    .unionByName(tDelta)

  /** Lay the prior state out in `lane`'s layout under `dir` and write
    * the nightly batch next to it.
    */
  private def layout(lane: String, dir: String, taxon: Boolean,
                     withTomb: Boolean): Unit = {
    val sPrior = contribOf(priorFlat, taxon).localCheckpoint(true)
    val mPrior = gatedOneToOne(if (taxon) bySubmission(sPrior) else sPrior,
      tPrior, keys)
    def byDay(df: DataFrame) =
      df.withColumn("lmonth", trunc($"landing_date", "month"))
    lane match {
      case "object" | "manifest" =>
        Seq(sPrior -> "s", tPrior -> "t", mPrior -> "m").foreach {
          case (df, p) => Versioned.write(df, dir, p, g1)
        }
        if (lane == "manifest")
          Versioned.commitManifest(dir, "root", g1,
            Map("s" -> g1, "t" -> g1, "m" -> g1))
      case "inplace" =>
        Versioned.writePartitionedFull(sPrior, dir, "s", Seq("month"))
        Versioned.writePartitionedFull(byDay(tPrior), dir, "t", Seq("lmonth"))
        Versioned.writePartitionedFull(byDay(mPrior), dir, "m", Seq("lmonth"))
      case "snapshot" =>
        val pins = Seq("s" -> Versioned.writeSnapshotFull(sPrior, dir, "s",
            "month", g1),
          "t" -> Versioned.writeSnapshotFull(byDay(tPrior), dir, "t",
            "lmonth", g1),
          "m" -> Versioned.writeSnapshotFull(byDay(mPrior), dir, "m",
            "lmonth", g1))
        Versioned.commitManifest(dir, "root", g1, pins.flatMap {
          case (p, vs) => vs.map(v => Versioned.snapshotPinKey(p, v) -> g1)
        }.toMap)
    }
    Versioned.write(nest(newFlat.unionByName(edited)), dir, "sraw", g2)
    Versioned.write(tDelta, dir, "traw", g2)
    if (withTomb) Versioned.write(tomb, dir, "tomb", g2)
  }

  private def cycle(lane: String, dir: String, withTomb: Boolean,
                    export: TopologyExport): DataFrame = {
    val l = lane match {
      case "object" => Incremental.objectLane(spark, dir, g2)
      case "manifest" => Incremental.manifestLane(spark, dir, "root", g2)
      case "inplace" => Incremental.inPlaceLane(spark, dir)
      case "snapshot" => Incremental.snapshotLane(spark, dir, "root", g2)
    }
    Incremental.topologyCycle(spark, dir, l, "s", "t", "m", "sraw", "traw",
      if (withTomb) Some("tomb") else None, lw, export)
  }

  test("four lanes at submission grain: every export ≡ the full reprocess, within the lane's job budget") {
    assert(edited.count() > 0 && newFlat.count() > 0 &&
      dupTrips.count() > 0 && corrected.count() > 0,
      "fixture vacuous at this scale — widen the month window")
    val full = rows(Incremental.monthlyExport(
      gatedOneToOne(contribOf(effFlat, false), tAll, keys)))
    // ceilings on the jobs of one cycle plus its export's collect: the
    // counts of the lane-specific cycles this body replaced, and below
    // that for the snapshot lane, which no longer checkpoints frames
    // its publish reads once
    val budgets = Map("object" -> 33, "manifest" -> 34, "inplace" -> 54,
      "snapshot" -> 38)
    lanes.foreach { lane =>
      val dir = graft.core.Scratch.dir(s"spec_tlane_$lane")
      layout(lane, dir, taxon = false, withTomb = false)
      val (out, jobs) = JobTap.jobsOf(spark) {
        rows(cycle(lane, dir, withTomb = false, TopologyExport.Monthly))
      }
      println(s"[TopologyLaneSpec] $lane lane: ${jobs.size} jobs")
      assertSame(out, full, s"$lane lane")
      assert(jobs.size <= budgets(lane),
        s"$lane lane launched ${jobs.size} jobs, budget " +
          s"${budgets(lane)}:\n${jobs.mkString("\n")}")
    }
  }

  test("in-place lane at taxon grain with tombstones ≡ the full reprocess through the derived products") {
    assert(tomb.count() > 0, "no tombstone in the fixture window")
    val dir = graft.core.Scratch.dir("spec_tlane_taxon")
    layout("inplace", dir, taxon = true, withTomb = true)
    val (out, jobs) = JobTap.jobsOf(spark) {
      rows(cycle("inplace", dir, withTomb = true,
        TopologyExport.Products(topN = 3)))
    }
    println(s"[TopologyLaneSpec] in-place taxon lane: ${jobs.size} jobs")
    val contrib = contribOf(effFlat, true)
      .join(tomb.select($"submission_id"), Seq("submission_id"), "left_anti")
    val full = rows(Incremental.derivedExportProducts(contrib, 3)
      .join(Incremental.monthlyExport(
        gatedOneToOne(bySubmission(contrib), tAll, keys)),
        Seq("district", "month")))
    assertSame(out, full, "taxon-grain in-place cycle")
    val budget = 65 // the replaced in-place taxon cycle's count
    assert(jobs.size <= budget,
      s"in-place taxon lane launched ${jobs.size} jobs, budget $budget:\n" +
        jobs.mkString("\n"))
  }

  test("object lane: a corrected trip replaces its row — the published merge ≡ gatedOneToOne over the full reprocess") {
    val dir = graft.core.Scratch.dir("spec_tlane_correct")
    layout("object", dir, taxon = false, withTomb = false)
    cycle("object", dir, withTomb = false, TopologyExport.Monthly).collect()
    val published = Versioned.readLatest(spark, dir, "m_next")
    val full = gatedOneToOne(contribOf(effFlat, false), tAll, keys)
    assertSame(rows(published),
      rows(full.select(published.columns.map(col): _*)),
      "the object lane's published merge")
    // non-vacuous: corrected trips stay matched in the full reprocess,
    // which an appended second row for their trip_id would un-merge
    assert(!full.filter($"submission_id".isNotNull)
        .join(corrected.select($"trip_id", $"duration_sec"),
          Seq("trip_id", "duration_sec"), "left_semi").isEmpty,
      "no corrected trip is matched in the full reprocess")
  }
}
