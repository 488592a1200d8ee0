package graft

import org.apache.spark.sql.functions._
import graft.io.{FileStats, LakeTable, Versioned}

/** The one-facade read path: every cell of the composition matrix
  * {in-place, snapshot-latest, snapshot-as-of} × {zone range, bloom
  * point, both, none} × {DV, clean} × {evolved, flat} must equal its
  * hand-composed twin — and skipping must only change HOW MANY files
  * are scheduled, never what is returned.
  */
class LakeTableSpec extends SparkTestBase {
  import spark.implicits._

  private def mkData(n: Int) = spark.range(n.toLong).select(
    $"id",
    concat(lit("m"), format_string("%02d", ($"id" % 8).cast("int")))
      .as("part"),
    ($"id" * 3 + 7).as("v"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select($"id", $"part", $"v").orderBy($"id").collect().toSeq

  private def scanNumFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.map(_.metrics("numFiles").value).sum
  }

  test("in-place lane: plain, range, point, both, parts, DV — each ≡ the hand-composed twin") {
    val dir = graft.core.Scratch.dir("laketab_inplace")
    val df = mkData(4000)
    FileStats.writeZoneClustered(df, dir, "lt_data", "part", "v",
      tasks = 16)
    FileStats.buildSidecar(spark, dir, "lt_data", "part", "v")
    FileStats.buildBloomSidecar(spark, dir, "lt_data", "part", "id",
      itemsPerFile = 10000L, numBits = 100000L)
    def read(parts: Option[Seq[Any]] = None,
             ranges: Seq[(String, Option[Any], Option[Any])] = Nil,
             point: Option[(String, Any)] = None) =
      LakeTable.readTable(spark, dir, "lt_data", "part", parts = parts,
        ranges = ranges, point = point)
    val full = Versioned.readPartitioned(spark, dir, "lt_data")

    assert(rows(read()) == rows(full))
    assert(rows(read(ranges = Seq(("v", Some(3000L), Some(6000L))))) ==
      rows(full.filter($"v" >= 3000L && $"v" <= 6000L)))
    // the facade PRUNES, not just filters: the data scan schedules
    // exactly the zone candidates, a strict subset of the root
    val cand = FileStats.candidateFiles(spark, dir, "lt_data",
      Some(3000L), Some(6000L))
    val totalFiles = FileStats.candidateFiles(spark, dir, "lt_data",
      None, None).size
    assert(cand.nonEmpty && cand.size < totalFiles)
    assert(scanNumFiles(read(
      ranges = Seq(("v", Some(3000L), Some(6000L))))) == cand.size.toLong)
    assert(rows(read(point = Some(("id", 1234L)))) ==
      rows(full.filter($"id" === 1234L)))
    // both prunings: candidate INTERSECTION stays exact
    assert(rows(read(ranges = Seq(("v", Some(3000L), Some(6000L))),
      point = Some(("id", 1234L)))) ==
      rows(full.filter($"v" >= 3000L && $"v" <= 6000L &&
        $"id" === 1234L)))
    // an impossible conjunction (the point's v=3709 sits outside the
    // range) → empty, right schema
    val none = read(ranges = Seq(("v", Some(0L), Some(100L))),
      point = Some(("id", 1234L)))
    assert(none.isEmpty && none.columns.contains("v"))
    assert(rows(read(parts = Some(Seq("m02", "m05")),
      ranges = Seq(("v", Some(0L), Some(9000L))))) ==
      rows(full.filter($"part".isin("m02", "m05") && $"v" <= 9000L)))

    // deletion vectors: the facade detects the DV key itself and every
    // shape above serves minus-deleted
    Versioned.appendDeleteVectors(spark, dir, "lt_data", "part", "id",
      df.filter($"id" % 5 === 0).select($"part", $"id")
        .localCheckpoint(true))
    val alive = full.join(
      Versioned.readPartitioned(spark, dir, Versioned.dvPrefix("lt_data")),
      Seq("part", "id"), "left_anti")
    assert(rows(read()) == rows(alive))
    assert(rows(read(ranges = Seq(("v", Some(3000L), Some(6000L))))) ==
      rows(alive.filter($"v" >= 3000L && $"v" <= 6000L)))
    assert(read(point = Some(("id", 1236L))).count() == 1L)
    assert(read(point = Some(("id", 1230L))).isEmpty,
      "the facade resurrected a deleted key")
  }

  test("no sidecars at all: the facade degrades to residual-only reads, never a wrong answer") {
    val dir = graft.core.Scratch.dir("laketab_bare")
    val df = mkData(1000)
    Versioned.writePartitionedFull(df, dir, "lt_bare", Seq("part"))
    val got = LakeTable.readTable(spark, dir, "lt_bare", "part",
      ranges = Seq(("v", Some(100L), Some(900L))),
      point = Some(("id", 200L)))
    assert(rows(got) == rows(Versioned.readPartitioned(spark, dir,
      "lt_bare").filter($"v" >= 100L && $"v" <= 900L && $"id" === 200L)))
  }

  test("write facade: multi-root atomic publish with spec-driven sidecars, replay short-circuit, zombie refusal") {
    val dir = graft.core.Scratch.dir("laketab_commit")
    Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
      .filter(_.getName.startsWith("ltc_root__")).foreach(_.delete()))
    val a = spark.range(8000).select($"id",
      ($"id" / 1000L).cast("long").as("m"), ($"id" + 5L).as("v"))
    val b = a.groupBy($"m").agg(count(lit(1)).as("n"), sum($"v").as("sv"))

    // init: two roots, one commit; specs passed once, pinned forever
    val g1 = "00000001_a"
    val rep1 = LakeTable.commitSnapshot(spark, dir, "ltc_root", g1,
      Seq(LakeTable.RootPublish("ltc_a", "m", a),
        LakeTable.RootPublish("ltc_b", "m", b.localCheckpoint(true))),
      zoneSpecs = Map("ltc_a" -> "v"),
      bloomSpecs = Map("ltc_a" -> (("id", 10000L, 100000L))))
    assert(rep1("ltc_a").size == 8 && rep1("ltc_b").size == 8)
    val skip1 = FileStats.readSkippingSnapshot(spark, dir, "ltc_root",
      "ltc_a", "m", "v", Some(2100L), Some(2500L))
    assert(skip1.count() ==
      a.filter($"v" >= 2100L && $"v" <= 2500L).count())

    // incremental cycle: month 2 rewritten with shifted v, NO specs —
    // the manifest-pinned specs keep both sidecars maintained
    val g2 = "00000002_b"
    val delta = a.filter($"m" === 2L)
      .select(($"id" + 100000L).as("id"), $"m",
        ($"v" + 100000L).as("v")).localCheckpoint(true)
    val deltaRoll = delta.groupBy($"m")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv")).localCheckpoint(true)
    val rep2 = LakeTable.commitSnapshot(spark, dir, "ltc_root", g2,
      Seq(LakeTable.RootPublish("ltc_a", "m", delta),
        LakeTable.RootPublish("ltc_b", "m", deltaRoll)))
    assert(rep2("ltc_a") == Set(2L) && rep2("ltc_b") == Set(2L))
    // zone sidecar followed: the shifted range serves, the old is gone
    assert(FileStats.readSkippingSnapshot(spark, dir, "ltc_root",
      "ltc_a", "m", "v", Some(102100L), Some(102500L)).count() == 401L)
    assert(FileStats.readSkippingSnapshot(spark, dir, "ltc_root",
      "ltc_a", "m", "v", Some(2100L), Some(2500L)).isEmpty)
    // bloom sidecar followed: replaced key gone, new key found
    assert(FileStats.readBloomSkippingSnapshot(spark, dir, "ltc_root",
      "ltc_a", "m", "id", 2042L).isEmpty)
    assert(FileStats.readBloomSkippingSnapshot(spark, dir, "ltc_root",
      "ltc_a", "m", "id", 102042L).count() == 1L)
    // BOTH roots flipped in the one commit: rollup matches detail
    val roll = Versioned.readSnapshotPartitions(spark, dir, "ltc_root",
      "ltc_b", "m", Some(Seq(2L))).select($"n", $"sv").first
    assert(roll.getLong(0) == 1000L &&
      roll.getLong(1) == delta.agg(sum($"v")).first.getLong(0))

    // exact replay short-circuits to an empty report, state unchanged
    val rep2b = LakeTable.commitSnapshot(spark, dir, "ltc_root", g2,
      Seq(LakeTable.RootPublish("ltc_a", "m", delta),
        LakeTable.RootPublish("ltc_b", "m", deltaRoll)))
    assert(rep2b.values.forall(_.isEmpty))
    // ...but a DIFFERENT publish racing the same tag fails loudly
    // instead of silently no-op'ing (tag-level replay detection +
    // root-set verification; content equality is commitManifest's job)
    val exRace = intercept[IllegalArgumentException] {
      LakeTable.commitSnapshot(spark, dir, "ltc_root", g2,
        Seq(LakeTable.RootPublish("ltc_other", "m", delta)))
    }
    assert(exRace.getMessage.contains("raced"),
      s"expected the racing-publish refusal, got: ${exRace.getMessage}")
    // a zombie publish is refused before any write
    val ex = intercept[IllegalArgumentException] {
      LakeTable.commitSnapshot(spark, dir, "ltc_root", g1,
        Seq(LakeTable.RootPublish("ltc_a", "m", delta)))
    }
    assert(ex.getMessage.contains("stale"))

    // metadata-only aggregates through the facade: answered from the
    // pinned sidecar alone, exact vs the data twin
    val stats = LakeTable.statsTable(spark, dir, "ltc_a",
        manifestPrefix = Some("ltc_root"))
      .withColumn("part", $"part".cast("string"))
      .orderBy($"part").collect().toSeq
    val latest = Versioned.readSnapshotPartitions(spark, dir, "ltc_root",
      "ltc_a", "m", None)
    val wantStats = latest.groupBy($"m".cast("string").as("part"))
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count($"v")).as("n_nulls"),
        min($"v").as("min_v"), max($"v").as("max_v"))
      .orderBy($"part").collect().toSeq
    assert(stats == wantStats,
      "facade stats aggregate diverged from the data twin")
    // both data roots and both sidecars: probe ≡ Spark's inference
    assert(ReadPlanningSpec.assertProbeMatchesInference(spark, dir,
      "ltc_root") == 4)
  }

  test("snapshot lane: latest and as-of, skipped and bloomed, evolved schema, DV-through-history") {
    val dir = graft.core.Scratch.dir("laketab_snap")
    Option(new java.io.File(dir).listFiles()).foreach(_.toSeq
      .filter(_.getName.startsWith("lts_root__")).foreach(_.delete()))
    val zmap = FileStats.sidecarPrefix("lts_data")
    val bmap = FileStats.bloomPrefix("lts_data")
    def keyed(prefix: String, pins: Map[String, String]) =
      pins.map { case (v, g) => Versioned.snapshotPinKey(prefix, v) -> g }
    // g1: months 0..7, v correlates with id (narrow zones per month)
    val base = spark.range(8000).select($"id",
      ($"id" / 1000L).cast("long").as("m"), ($"id" + 5L).as("v"))
    val g1 = "00000001_a"
    val dP1 = Versioned.writeSnapshotFull(base, dir, "lts_data", "m", g1)
    val dPins1 = dP1.map(_.toString -> g1).toMap
    val zP1 = FileStats.writeSnapshotSidecar(spark, dir, "lts_data", "m",
      "v", dPins1, dP1.toSeq, g1)
    val bP1 = FileStats.writeSnapshotBloomSidecar(spark, dir, "lts_data",
      "m", "id", dPins1, dP1.toSeq, g1, 10000L, 100000L)
    Versioned.commitManifest(dir, "lts_root", g1,
      keyed("lts_data", dPins1) ++
        keyed(zmap, zP1.map(_.toString -> g1).toMap) ++
        keyed(bmap, bP1.map(_.toString -> g1).toMap))
    // g2: months 2 and 5 republished with SHIFTED v and an ADDED column
    val g2 = "00000002_b"
    val delta = base.filter($"m".isin(2L, 5L))
      .select($"id", $"m", ($"v" + 100000L).as("v"),
        ($"id" % 3).as("flag"))
      .localCheckpoint(true)
    val dP2 = Versioned.writeSnapshotPartitions(delta, dir, "lts_data",
      "m", g2)
    val dPins2 = dPins1 ++ dP2.map(_.toString -> g2)
    val zP2 = FileStats.writeSnapshotSidecar(spark, dir, "lts_data", "m",
      "v", dPins2, dP2.toSeq, g2)
    val bP2 = FileStats.writeSnapshotBloomSidecar(spark, dir, "lts_data",
      "m", "id", dPins2, dP2.toSeq, g2, 10000L, 100000L)
    Versioned.commitManifest(dir, "lts_root", g2,
      keyed("lts_data", dPins2) ++
        keyed(zmap, zP1.map(_.toString -> g1).toMap ++
          zP2.map(_.toString -> g2)) ++
        keyed(bmap, bP1.map(_.toString -> g1).toMap ++
          bP2.map(_.toString -> g2)))

    def facade(asOf: Option[String] = None,
               ranges: Seq[(String, Option[Any], Option[Any])] = Nil,
               point: Option[(String, Any)] = None,
               mergeSchema: Boolean = false) =
      LakeTable.readTable(spark, dir, "lts_data", "m",
        manifestPrefix = Some("lts_root"), asOfTag = asOf,
        ranges = ranges, point = point, mergeSchema = mergeSchema)
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select($"id", $"m", $"v").orderBy($"id").collect().toSeq
    val latestFull = Versioned.readSnapshotPartitions(spark, dir,
      "lts_root", "lts_data", "m", None, mergeSchema = true)
    val g1Full = Versioned.readSnapshotPartitionsAt(spark, dir,
      "lts_root", g1, "lts_data", "m", None)

    // latest + range: the shifted months' rows come from g2 zones
    assert(snap(facade(ranges = Seq(("v", Some(102000L), Some(102500L))),
      mergeSchema = true)) ==
      snap(latestFull.filter($"v" >= 102000L && $"v" <= 102500L)))
    // as-of g1 + the SAME range finds nothing (pre-shift values)...
    assert(facade(asOf = Some(g1),
      ranges = Seq(("v", Some(102000L), Some(102500L)))).isEmpty)
    // ...and g1's own zones serve the pre-shift range the latest lacks
    // ([2100,2400] sits inside month 2 alone: month 1's v tops out at
    // 2004, month 3's starts at 3005)
    assert(snap(facade(asOf = Some(g1),
      ranges = Seq(("v", Some(2100L), Some(2500L))))) ==
      snap(g1Full.filter($"v" >= 2100L && $"v" <= 2500L)))
    assert(facade(ranges = Seq(("v", Some(2100L), Some(2400L)))).isEmpty,
      "latest read served a superseded generation's zone")

    // bloom point lookups at both manifests
    assert(snap(facade(point = Some(("id", 2100L)), mergeSchema = true)) ==
      snap(latestFull.filter($"id" === 2100L)))
    assert(snap(facade(asOf = Some(g1), point = Some(("id", 2100L)))) ==
      snap(g1Full.filter($"id" === 2100L)))

    // evolved schema: the union view null-fills pre-evolution months
    val ev = facade(mergeSchema = true)
    assert(ev.columns.contains("flag"))
    assert(ev.filter($"m" === 2L && $"flag".isNull).isEmpty &&
      ev.filter($"m" === 1L).count() ==
        ev.filter($"m" === 1L && $"flag".isNull).count())
    // evolved × SKIPPED: a pruned read whose candidates all predate the
    // evolution still exposes the union schema (null-filled) — skipping
    // never changes what is returned, including the schema. [1100,1400]
    // sits inside month 1, which only g1 (pre-flag) files serve.
    val evSkip = facade(ranges = Seq(("v", Some(1100L), Some(1400L))),
      mergeSchema = true)
    assert(evSkip.columns.toSeq == ev.columns.toSeq,
      s"skipping changed the evolved schema: ${evSkip.columns.toSeq} " +
        s"vs ${ev.columns.toSeq}")
    assert(evSkip.count() > 0 &&
      evSkip.filter($"flag".isNotNull).isEmpty,
      "pre-evolution candidates must null-fill the evolved column")

    // the evolved data root and both sidecars: probe ≡ inference
    assert(ReadPlanningSpec.assertProbeMatchesInference(spark, dir,
      "lts_root") == 3)

    // deletion vectors reach HISTORY: erasure applies as-of too
    Versioned.appendDeleteVectors(spark, dir, "lts_data", "m", "id",
      base.filter($"id" % 100 === 0).select($"m", $"id")
        .localCheckpoint(true))
    assert(facade(point = Some(("id", 2100L))).isEmpty,
      "latest read resurrected an erased key")
    assert(facade(asOf = Some(g1), point = Some(("id", 2100L))).isEmpty,
      "time travel resurrected an erased key — erasure must reach history")
    assert(snap(facade(asOf = Some(g1),
      ranges = Seq(("v", Some(2100L), Some(2500L))))) ==
      snap(g1Full.filter($"v" >= 2100L && $"v" <= 2500L &&
        $"id" % 100 =!= 0)))

    // a facade read at a GC'd tag fails loudly, as-of contract intact
    Versioned.gcThroughManifest(dir, "lts_root", keepLast = 1)
    intercept[IllegalArgumentException] {
      facade(asOf = Some(g1), ranges = Seq(("v", Some(0L), Some(10L))))
        .collect()
    }
  }

  test("batched key fetch: one sidecar pass, DV composition on both lanes, intersects with ranges, refuses an empty batch") {
    val dir = graft.core.Scratch.dir("laketab_keys")
    val df = mkData(4000)
    FileStats.writeZoneClustered(df, dir, "ltk_data", "part", "v",
      tasks = 16)
    FileStats.buildSidecar(spark, dir, "ltk_data", "part", "v")
    FileStats.buildBloomSidecar(spark, dir, "ltk_data", "part", "id",
      itemsPerFile = 10000L, numBits = 100000L)
    val keys: Seq[Any] = Seq(3L, 77L, 1234L, 2500L, 3999L)
    val full = Versioned.readPartitioned(spark, dir, "ltk_data")
    def read(pointKeys: Option[(String, Seq[Any])],
             ranges: Seq[(String, Option[Any], Option[Any])] = Nil) =
      LakeTable.readTable(spark, dir, "ltk_data", "part",
        pointKeys = pointKeys, ranges = ranges)

    // clean root: the facade's batched fetch ≡ full scan + isin, and
    // the scan schedules exactly the batched-probe candidates
    assert(rows(read(Some(("id", keys)))) ==
      rows(full.filter($"id".isin(keys: _*))))
    val cand = FileStats.bloomCandidateFilesForKeys(spark, dir,
      "ltk_data", keys)
    assert(cand.nonEmpty && cand.size < 16)
    assert(scanNumFiles(read(Some(("id", keys)))) == cand.size.toLong)
    // a batch of all-absent keys → empty, right schema
    val none = read(Some(("id", Seq(900001L, 900002L))))
    assert(none.isEmpty && none.columns.contains("v"))
    // batched keys intersect with a zone range (both prunings fire)
    assert(rows(read(Some(("id", keys)),
      ranges = Seq(("v", Some(3000L), Some(9000L))))) ==
      rows(full.filter($"id".isin(keys: _*) &&
        $"v" >= 3000L && $"v" <= 9000L)))
    // empty batch = caller bug, refused loudly
    intercept[IllegalArgumentException] {
      read(Some(("id", Seq.empty[Any])))
    }

    // ERASURE lane: scattered deletes; the batched fetch returns
    // exactly minus-deleted (1234 stays, 2500 is erased), both through
    // the facade and the raw MergeOnRead composition
    Versioned.appendDeleteVectors(spark, dir, "ltk_data", "part", "id",
      df.filter($"id" % 5 === 0).select($"part", $"id")
        .localCheckpoint(true))
    val alive = full.join(
      Versioned.readPartitioned(spark, dir, Versioned.dvPrefix("ltk_data")),
      Seq("part", "id"), "left_anti")
    assert(rows(read(Some(("id", keys)))) ==
      rows(alive.filter($"id".isin(keys: _*))))
    assert(read(Some(("id", Seq(2500L)))).isEmpty,
      "the facade's batched fetch resurrected an erased key")
    assert(rows(FileStats.readBloomSkippingKeysMergeOnRead(spark, dir,
      "ltk_data", "part", "id", keys, "id")) ==
      rows(alive.filter($"id".isin(keys: _*))))
    // the BARE batched read still refuses a DV root (resurrection)
    intercept[IllegalArgumentException] {
      FileStats.readBloomSkippingKeys(spark, dir, "ltk_data", "part",
        "id", keys)
    }

    // SNAPSHOT lane with manifest-pinned DVs: the batched fetch honors
    // the transactional posture — as-of the pre-delete tag shows all
    // batch keys, latest shows minus-deleted
    val sroot = graft.core.Scratch.dir("laketab_keys_snap")
    Option(new java.io.File(sroot).listFiles()).foreach(_.toSeq
      .filter(_.getName.startsWith("ltk_root__")).foreach(_.delete()))
    val g1 = "00000001_a"
    LakeTable.commitSnapshot(spark, sroot, "ltk_root", g1,
      Seq(LakeTable.RootPublish("ltk_s", "part", df)),
      bloomSpecs = Map("ltk_s" -> (("id", 10000L, 100000L))))
    val g2 = "00000002_b"
    Versioned.commitSnapshotDeleteVectors(spark, sroot, "ltk_root",
      "ltk_s", "part", "id",
      df.filter($"id" % 5 === 0).select($"part", $"id")
        .localCheckpoint(true), g2)
    def sread(asOf: Option[String]) =
      LakeTable.readTable(spark, sroot, "ltk_s", "part",
        manifestPrefix = Some("ltk_root"), asOfTag = asOf,
        pointKeys = Some(("id", keys)))
    assert(rows(sread(None)) ==
      rows(df.filter($"id".isin(keys: _*) && $"id" % 5 =!= 0)))
    assert(rows(sread(Some(g1))) ==
      rows(df.filter($"id".isin(keys: _*))),
      "as-of the pre-delete tag must show the whole batch")
    // data, bloom and pinned-DV roots: probe ≡ inference
    assert(ReadPlanningSpec.assertProbeMatchesInference(spark, sroot,
      "ltk_root") == 3)

    // the metadata-only facade refuses BOTH dirty postures: pinned DVs
    // on the snapshot lane, appended vectors on the in-place lane
    val exSnap = intercept[IllegalArgumentException] {
      LakeTable.statsTable(spark, sroot, "ltk_s",
        manifestPrefix = Some("ltk_root"))
    }
    assert(exSnap.getMessage.contains("purge"),
      s"expected the dirty-stats refusal, got: ${exSnap.getMessage}")
    intercept[IllegalArgumentException] {
      LakeTable.statsTable(spark, dir, "ltk_data")
    }
  }
}
