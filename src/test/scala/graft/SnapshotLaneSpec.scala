package graft

import org.apache.spark.sql.functions._
import graft.io.Versioned

/** The generation-pinned snapshot lane
  * ([[graft.pipeline.Incremental.snapshotLane]], q403):
  * the partitioned topology with all-or-nothing reads. These pins
  * certify what the q403 oracle can't see: a crashed publish's
  * half-written generations are INVISIBLE to manifest readers (the
  * in-place lane's mixed-trio window is gone), prior generations' files
  * are never modified, reads prune to the pinned (month, gen) leaves at
  * numFiles level, and generation GC under manifest retention reclaims
  * superseded dirs while untouched months' ORIGINAL generations — still
  * pinned by the newest manifest — survive any keep-last-1 sweep.
  */
class SnapshotLaneSpec extends SparkTestBase {
  import spark.implicits._

  private def genDirs(dir: String, prefix: String, partCol: String,
                      month: String) =
    Option(new java.io.File(Versioned.snapshotRoot(dir, prefix),
        s"$partCol=$month").listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(_.isDirectory).map(_.getName).sorted

  private def genFiles(dir: String, prefix: String, partCol: String,
                       month: String, gen: String) =
    Option(new java.io.File(Versioned.snapshotRoot(dir, prefix),
        s"$partCol=$month/__gen=$gen").listFiles()).map(_.toSeq)
      .getOrElse(Seq.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)

  test("crash invisible; replay completes; old generations immutable; pruned reads; GC keeps pinned") {
    val lw = graft.queries.IoQueries.chainLwTable(spark)
    // fixture + committed gen-2 cycle (oracle-checked shape)
    val first = SparkEntry.queries("q403_snapshot_topology")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val dir = graft.core.Scratch.dir("q403_snap")
    assert(Versioned.latestManifest(dir, "snp_root")
      .exists(_._1 == "00000002_bbb"))
    def servedCounts = Seq(("snp_sstate", "month"), ("snp_tstate", "lmonth"),
      ("snp_merged", "lmonth")).map { case (p, c) =>
      Versioned.readSnapshotPartitions(spark, dir, "snp_root", p, c, None)
        .count()
    }
    val countsAtG2 = servedCounts
    // an untouched 1999 month's ORIGINAL generation, in every root
    val oldGens = Seq(
      genFiles(dir, "snp_sstate", "month", "1999-07-01", "00000001_aaa"),
      genFiles(dir, "snp_tstate", "lmonth", "1999-07-01", "00000001_aaa"),
      genFiles(dir, "snp_merged", "lmonth", "1999-07-01", "00000001_aaa"))
    assert(oldGens.forall(_.nonEmpty), "fixture wrote no 1999 gen-1 dirs")
    // pruned read: one pinned month resolves to exactly its gen dir's
    // files — unpinned/superseded generations never scheduled
    spark.catalog.clearCache()
    val one = Versioned.readSnapshotPartitions(spark, dir, "snp_root",
      "snp_sstate", "month", Some(Seq("1999-07-01")))
    one.collect()
    val scan = one.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metrics("numFiles").value == oldGens.head.size,
      s"pruned read scheduled ${scan.metrics("numFiles").value} files, " +
        s"expected the ${oldGens.head.size} in 1999-07's pinned gen")
    // ---- the CRASH: a gen-3 cycle publishes survey+trips generations
    // and dies before the merge write and the manifest commit
    Thread.sleep(1100)
    val sDelta = Versioned.readLatest(spark, dir, "snp_sraw")
    // a month the delta EDITS was touched by the initial load, the
    // gen-2 cycle, and the gen-3 replay — three generations side by
    // side. At sf0.001 the %23 edit set in the window is EMPTY (sparse
    // orderkeys), so the three-generation pin is conditional; the
    // always-present new-survey month 2001-06 carries the crash/GC pins
    val em = sDelta.filter($"month" < to_date(lit("2001-06-01")))
      .select($"month").distinct().orderBy($"month")
      .collect().headOption.map(_.get(0).toString)
    val nm = "2001-06-01"
    Versioned.writeSnapshotPartitions(
      graft.pipeline.Incremental.submissionContrib(
        graft.pipeline.Incremental.surveyProcess(sDelta, lw,
          Seq("district", "month", "imei", "landing_date")),
        Seq("imei", "landing_date")),
      dir, "snp_sstate", "month", "00000003_ccc")
    // half-written generation dirs EXIST on disk...
    assert(genDirs(dir, "snp_sstate", "month", nm)
      .contains("__gen=00000003_ccc"))
    // ...but manifest readers still serve the full gen-2 trio
    assert(servedCounts == countsAtG2,
      "a reader saw a crashed publish's half-written generation")
    // ---- the replayed cycle completes from the intact prior pins
    val second = graft.pipeline.Incremental.topologyCycle(spark, dir,
        graft.pipeline.Incremental.snapshotLane(spark, dir, "snp_root",
          "00000003_ccc"), "snp_sstate", "snp_tstate", "snp_merged",
        "snp_sraw", "snp_traw", None, lw,
        graft.pipeline.Incremental.TopologyExport.Monthly)
      .collect().map(_.toSeq).toSet
    assert(second == first,
      "re-applying the same batch at the next generation changed the export")
    assert(Versioned.latestManifest(dir, "snp_root")
      .exists(_._1 == "00000003_ccc"))
    // prior generations' files were never modified through any of it
    assert(oldGens == Seq(
      genFiles(dir, "snp_sstate", "month", "1999-07-01", "00000001_aaa"),
      genFiles(dir, "snp_tstate", "lmonth", "1999-07-01", "00000001_aaa"),
      genFiles(dir, "snp_merged", "lmonth", "1999-07-01", "00000001_aaa")),
      "a prior generation's files changed — the lane is not append-only")
    em.foreach { m =>
      val touchedGens = genDirs(dir, "snp_sstate", "month", m)
      assert(touchedGens.size == 3,
        s"expected 3 generations at edited month $m: $touchedGens")
    }
    assert(genDirs(dir, "snp_sstate", "month", nm).size == 2,
      s"expected gen-2 + gen-3 at new-survey month $nm")
    // the MERGED root's trip-delta months re-merge every cycle while
    // their survey pass-throughs existed from the initial load — three
    // generations side by side at every SF (the survey-root triple
    // above needs the edit lane, vacuous at sf0.001)
    val mGens = genDirs(dir, "snp_merged", "lmonth", "2001-03-01")
    assert(mGens.size == 3,
      s"expected 3 generations at merged 2001-03: $mGens")
    // ---- GC at keep-last-1: superseded generations of touched months
    // reclaim; untouched months' gen-1 dirs survive because the newest
    // manifest still PINS them (pins carry forward); serving unchanged
    val before = servedCounts
    Versioned.gcThroughManifest(dir, "snp_root", keepLast = 1)
    Seq("snp_sstate", "snp_tstate", "snp_merged").foreach { p =>
      Versioned.gcSnapshotGenerations(dir, "snp_root", p, keepLast = 1)
    }
    assert(genDirs(dir, "snp_sstate", "month", nm)
      == Seq("__gen=00000003_ccc"),
      "superseded generations of a touched month survived GC")
    assert(genFiles(dir, "snp_sstate", "month", "1999-07-01",
      "00000001_aaa").nonEmpty,
      "GC ate an untouched month's still-pinned original generation")
    assert(servedCounts == before, "serving changed after GC")
  }

  test("time travel: every manifest tag in the retention window reads its own consistent snapshot; GC evicts the oldest") {
    val dir = graft.core.Scratch.dir("snap_tt")
    Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
      .filter(_.getName.startsWith("tt_root__")).foreach(_.delete()))
    def mk(shift: Long) = spark.range(4000L).select($"id",
      ($"id" % 4).cast("long").as("m"), ($"id" * 3 + shift).as("v"))
    def commitGen(gen: String, df: org.apache.spark.sql.DataFrame,
                  priorPins: Map[String, String]): Map[String, String] = {
      val p = Versioned.writeSnapshotPartitions(df.localCheckpoint(true),
        dir, "tt_data", "m", gen)
      val pins = priorPins ++ p.map(_.toString -> gen)
      Versioned.commitManifest(dir, "tt_root", gen, pins.map {
        case (v, g) => Versioned.snapshotPinKey("tt_data", v) -> g })
      pins
    }
    val g1 = "00000001_a"
    val p1 = Versioned.writeSnapshotFull(mk(0), dir, "tt_data", "m", g1)
    val pins1 = p1.map(_.toString -> g1).toMap
    Versioned.commitManifest(dir, "tt_root", g1, pins1.map {
      case (v, g) => Versioned.snapshotPinKey("tt_data", v) -> g })
    val snap1 = Versioned.readSnapshotPartitions(spark, dir, "tt_root",
      "tt_data", "m", None).orderBy($"id").collect().toSeq
    // gen 2 rewrites month 1, gen 3 rewrites month 3
    val pins2 = commitGen("00000002_b",
      mk(100000L).filter($"m" === 1L), pins1)
    val snap2 = Versioned.readSnapshotPartitions(spark, dir, "tt_root",
      "tt_data", "m", None).orderBy($"id").collect().toSeq
    commitGen("00000003_c", mk(200000L).filter($"m" === 3L), pins2)
    val snap3 = Versioned.readSnapshotPartitions(spark, dir, "tt_root",
      "tt_data", "m", None).orderBy($"id").collect().toSeq
    assert(snap1 != snap2 && snap2 != snap3)

    assert(Versioned.manifestTags(dir, "tt_root") ==
      Seq("00000003_c", "00000002_b", "00000001_a"))
    def at(tag: String) = Versioned.readSnapshotPartitionsAt(spark, dir,
        "tt_root", tag, "tt_data", "m", None)
      .orderBy($"id").collect().toSeq
    assert(at("00000001_a") == snap1,
      "time-travel read of the first snapshot diverged")
    assert(at("00000002_b") == snap2)
    assert(at("00000003_c") == snap3)

    // keep-last-2 retention: g1 leaves the window (its manifest AND its
    // superseded month-1 generation reclaim); g2/g3 stay readable
    Versioned.gcThroughManifest(dir, "tt_root", keepLast = 2)
    Versioned.gcSnapshotGenerations(dir, "tt_root", "tt_data",
      keepLast = 2)
    assert(Versioned.manifestAt(dir, "tt_root", "00000001_a").isEmpty)
    intercept[IllegalArgumentException](at("00000001_a"))
    assert(at("00000002_b") == snap2,
      "a retained snapshot broke after GC")
    assert(at("00000003_c") == snap3)
  }

  test("schema evolution: a later generation adds a column; merged reads null-fill the old generations") {
    val dir = graft.core.Scratch.dir("snap_evo")
    Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
      .filter(_.getName.startsWith("evo_root__")).foreach(_.delete()))
    val g1 = "00000001_a"
    val base = spark.range(3000L).select($"id",
      ($"id" % 3).cast("long").as("m"), ($"id" * 2).as("v"))
    val p1 = Versioned.writeSnapshotFull(base, dir, "evo_data", "m", g1)
    Versioned.commitManifest(dir, "evo_root", g1,
      p1.map(v => Versioned.snapshotPinKey("evo_data", v) -> g1).toMap)
    // month 1 republished with an ADDED column w
    val g2 = "00000002_b"
    val withW = base.filter($"m" === 1L).withColumn("w", $"id" + 7L)
      .localCheckpoint(true)
    val p2 = Versioned.writeSnapshotPartitions(withW, dir, "evo_data",
      "m", g2)
    Versioned.commitManifest(dir, "evo_root", g2,
      (p1.map(_.toString -> g1).toMap ++ p2.map(_.toString -> g2)).map {
        case (v, g) => Versioned.snapshotPinKey("evo_data", v) -> g })
    val merged = Versioned.readSnapshotPartitions(spark, dir, "evo_root",
      "evo_data", "m", None, mergeSchema = true)
    assert(merged.columns.contains("w"))
    val perMonth = merged.groupBy($"m")
      .agg(count(lit(1)).as("n"), count($"w").as("n_w"))
      .orderBy($"m").as[(Long, Long, Long)].collect().toSeq
    assert(perMonth == Seq((0L, 1000L, 0L), (1L, 1000L, 1000L),
      (2L, 1000L, 0L)),
      s"old generations must null-fill the new column: $perMonth")
    // homogeneous time-travel read of the pre-evolution snapshot needs
    // no merge and carries no w
    val old = Versioned.readSnapshotPartitionsAt(spark, dir, "evo_root",
      g1, "evo_data", "m", None)
    assert(!old.columns.contains("w"))
    assert(old.count() == 3000L)
  }

  test("mergeSchema fast path: identical generations skip the footer merge but read identically") {
    val dir = graft.core.Scratch.dir("snap_evo_fast")
    Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
      .filter(_.getName.startsWith("evf_root__")).foreach(_.delete()))
    val g1 = "00000001_a"
    val base = spark.range(3000L).select($"id",
      ($"id" % 3).cast("long").as("m"), ($"id" * 2).as("v"))
    val p1 = Versioned.writeSnapshotFull(base, dir, "evf_data", "m", g1)
    Versioned.commitManifest(dir, "evf_root", g1,
      p1.map(v => Versioned.snapshotPinKey("evf_data", v) -> g1).toMap)
    // month 1 republished with the SAME schema (changed values only)
    val g2 = "00000002_b"
    val edited = base.filter($"m" === 1L).withColumn("v", $"v" + 1L)
      .localCheckpoint(true)
    val p2 = Versioned.writeSnapshotPartitions(edited, dir, "evf_data",
      "m", g2)
    Versioned.commitManifest(dir, "evf_root", g2,
      (p1.map(_.toString -> g1).toMap ++ p2.map(_.toString -> g2)).map {
        case (v, g) => Versioned.snapshotPinKey("evf_data", v) -> g })
    // two distinct generations, zero schema divergence: the read must
    // behave exactly like a merged read (same schema, same rows) while
    // the per-generation probe skips Spark's per-file footer merge
    val merged = Versioned.readSnapshotPartitions(spark, dir, "evf_root",
      "evf_data", "m", None, mergeSchema = true)
    assert(merged.columns.toSeq == Seq("id", "v", "m"))
    val perMonth = merged.groupBy($"m")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      .orderBy($"m").as[(Long, Long, Long)].collect().toSeq
    val expect = base.filter($"m" =!= 1L).unionByName(edited)
      .groupBy($"m").agg(count(lit(1)).as("n"), sum($"v").as("sv"))
      .orderBy($"m").as[(Long, Long, Long)].collect().toSeq
    assert(perMonth == expect,
      s"fast-path merged read diverged from the logical snapshot: $perMonth vs $expect")
  }

  test("mergeSchema over ONE pinned generation keeps its evolved column (no superseded footer wins)") {
    val dir = graft.core.Scratch.dir("snap_evo_single")
    Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
      .filter(_.getName.startsWith("evs_root__")).foreach(_.delete()))
    // g1 = (id, m, a) over months 0 and 1; g2 = (id, m, a, b) rewrites
    // month 1; the manifest pins ONLY m1 → g2, so the superseded g1
    // leaves still sit in the root but no pin names them
    val g1 = "00000001_a"
    val base = spark.range(2000L).select($"id",
      ($"id" % 2).cast("long").as("m"), ($"id" * 3).as("a"))
    Versioned.writeSnapshotFull(base, dir, "evs_data", "m", g1)
    val g2 = "00000002_b"
    val withB = base.filter($"m" === 1L).withColumn("b", $"id" + 11L)
      .localCheckpoint(true)
    val p2 = Versioned.writeSnapshotPartitions(withB, dir, "evs_data", "m",
      g2)
    assert(p2.map(_.toString) == Set("1"))
    Versioned.commitManifest(dir, "evs_root", g2,
      Map(Versioned.snapshotPinKey("evs_data", 1L) -> g2))
    val merged = Versioned.readSnapshotPartitions(spark, dir, "evs_root",
      "evs_data", "m", None, mergeSchema = true)
    assert(merged.columns.toSeq.sorted == Seq("a", "b", "id", "m"),
      s"the pinned generation's column b was dropped: ${merged.columns.toSeq}")
    val leaf = spark.read.parquet(
      s"${Versioned.snapshotRoot(dir, "evs_data")}/m=1/__gen=$g2")
    assert(merged.select($"id", $"a", $"b").orderBy($"id").collect().toSeq ==
      leaf.select($"id", $"a", $"b").orderBy($"id").collect().toSeq)
    // the plain read of the same pins carries the same schema
    assert(Versioned.readSnapshotPartitions(spark, dir, "evs_root",
      "evs_data", "m", None).columns.toSeq == merged.columns.toSeq)
  }

  private class ReadTap extends org.apache.spark.scheduler.SparkListener {
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) recs.add(m.inputMetrics.bytesRead)
    }
  }

  private def bytesRead(action: => Unit): Long = {
    val tap = new ReadTap
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

  test("bloom-probed retraction read: holder files only — bytes drop vs the full touched-month read, rows identical; the stage maintains the sidecar") {
    import graft.io.{FileStats, LakeTable}
    // q424's fixture: fat survey months + manifest-pinned submission_id
    // bloom sidecar + spec; the cycle at gen-2 ran the staged facade.
    // sf0.01 so the month DATA dominates the sidecar's filter bytes in
    // the certificate (the TouchedExportSpec bytes-test discipline).
    val bytesSf = "/root/testdata/sf0.01"
    val first = SparkEntry.queries("q424_bloom_retraction_topology")(
      spark, bytesSf).collect().map(_.toSeq).toSet
    val dir = graft.core.Scratch.dir("q424_brt")
    val bmap = FileStats.bloomPrefix("brt_sstate")
    assert(Versioned.latestManifest(dir, "brt_root")
      .exists(_._1 == "00000002_bbb"))
    // the STAGE maintained the bloom sidecar: every month the cycle
    // touched has its bloom pin at gen-2, untouched months stay at gen-1
    val sPins = Versioned.snapshotPins(dir, "brt_root", "brt_sstate")
    val bPins = Versioned.snapshotPins(dir, "brt_root", bmap)
    assert(sPins.nonEmpty && sPins.keySet == bPins.keySet &&
      sPins.forall { case (v, g) => bPins(v) == g },
      "the staged publish did not keep the bloom sidecar pin-for-pin " +
        "with the data")
    assert(bPins.values.toSet.contains("00000002_bbb"),
      "no bloom pin moved to the cycle's generation")

    // the RETRACTION READ certificate: a small resubmission batch over
    // fat months — the bloom-planned prior-row lookup reads a fraction
    // of the full touched-month bytes and returns the same rows
    val stage = LakeTable.stage(spark, dir, "brt_root", "00000003_ccc")
    val months = sPins.keys.toSeq.sorted.take(3)
      .map(java.sql.Date.valueOf): Seq[Any]
    val fullMonths = stage.read("brt_sstate", "month", Some(months))
    val ids = fullMonths.select($"submission_id").distinct()
      .orderBy($"submission_id").limit(5)
      .localCheckpoint(true)
    def keysOf(src: org.apache.spark.sql.DataFrame) = src
      .join(ids, Seq("submission_id"), "left_semi")
      .select($"imei", $"landing_date")
      .distinct().collect().map(_.toSeq).toSet
    spark.catalog.clearCache()
    var fullKeys: Set[Seq[Any]] = null
    val fullBytes = bytesRead { fullKeys = keysOf(fullMonths) }
    val probed = graft.pipeline.Incremental.retractionPriorRows(spark,
      dir, stage, "brt_sstate", months, ids, fullMonths)
    var probedKeys: Set[Seq[Any]] = null
    val probedBytes = bytesRead { probedKeys = keysOf(probed) }
    assert(probedKeys == fullKeys && fullKeys.nonEmpty,
      "the bloom-probed retraction read changed the retracted key set")
    assert(probedBytes * 2 < fullBytes,
      s"expected the probed read to cost well under half the full " +
        s"touched-month read, got $probedBytes vs $fullBytes bytes")

    // replaying the cycle at the committed tag is unchanged (oracle
    // posture: the probe is read-path only)
    val lw = graft.queries.IoQueries.chainLwTable(spark)
    val replay = graft.pipeline.Incremental.topologyCycle(spark, dir,
        graft.pipeline.Incremental.snapshotLane(spark, dir, "brt_root",
          "00000002_bbb"), "brt_sstate", "brt_tstate", "brt_merged",
        "brt_sraw", "brt_traw", None, lw,
        graft.pipeline.Incremental.TopologyExport.Monthly)
      .collect().map(_.toSeq).toSet
    assert(replay == first, "replay at the committed tag drifted")
  }
}
