package graft

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.Assertions._
import graft.io.{FileStats, LakeTable, Versioned}

/** Job-free read planning on the snapshot lane: once a lake is warm,
  * [[LakeTable.readTable]] launches NO Spark job before the caller's
  * action — the schema comes from driver-side footer probes and the
  * sidecar candidate sets from cached sidecar rows. Every read is
  * row-equal to its hand-composed twin, a cold read's jobs are all
  * attributed to the sidecar load, and the cache never serves a stale
  * candidate set (new generations, compaction + GC, a sidecar file
  * replaced in place).
  */
class ReadPlanningSpec extends SparkTestBase {
  import spark.implicits._

  private def jobsOf[T](body: => T): (T, Seq[String]) =
    JobTap.jobsOf(spark)(body)

  /** Plan `read` cold (only sidecar-load jobs allowed), then again warm
    * (no job at all); returns the warm frame.
    */
  private def warm(name: String)(read: => DataFrame): DataFrame = {
    val (_, cold) = jobsOf(read)
    assert(cold.forall(_.startsWith("filestats.sidecarLoad")),
      s"$name: cold planning launched unattributed jobs: $cold")
    val (df, hot) = jobsOf(read)
    assert(hot.isEmpty,
      s"$name: warm readTable launched ${hot.size} job(s): $hot")
    df
  }

  private def rows(df: DataFrame, cols: String*) = {
    val cs = if (cols.isEmpty) Seq("id", "part", "v") else cols
    df.select(cs.map(col): _*).orderBy($"id").collect().toSeq
  }

  // 4000 rows, partitions m00..m07 by id range, so v = 3·id + 7 is
  // narrow per partition and the zone maps prune
  private def mkData(n: Int) = spark.range(n.toLong).select(
    $"id",
    concat(lit("m"), format_string("%02d", ($"id" / 500).cast("int")))
      .as("part"),
    ($"id" * 3 + 7).as("v"))

  private val Fixed = Seq("m02", "m05")
  private val Bloom = ("id", 10000L, 100000L)

  /** Three roots under one manifest: `rp_z` (zone + bloom sidecars, two
    * files per leaf), `rp_m` (multi-column zone sidecar) and `rp_e` (no
    * sidecar; its correction ADDS a column). g1 publishes all, g2
    * corrects m02/m05 (v shifted by 100000), g3 pins delete vectors on
    * `rp_z` for every id divisible by 7.
    */
  private def fixture(dir: String) = {
    val df = mkData(4000)
    val corr = df.filter($"part".isin(Fixed: _*))
      .withColumn("v", $"v" + 100000L).localCheckpoint(true)
    LakeTable.commitSnapshot(spark, dir, "rp_root", "00000001_a",
      Seq(LakeTable.RootPublish("rp_z", "part", df, filesPerPartition = 2),
        LakeTable.RootPublish("rp_m", "part", df),
        LakeTable.RootPublish("rp_e", "part", df)),
      zoneSpecs = Map("rp_z" -> "v"), bloomSpecs = Map("rp_z" -> Bloom),
      multiSpecs = Map("rp_m" -> Seq("v", "id")))
    LakeTable.commitSnapshot(spark, dir, "rp_root", "00000002_b",
      Seq(LakeTable.RootPublish("rp_z", "part", corr, filesPerPartition = 2),
        LakeTable.RootPublish("rp_m", "part", corr),
        LakeTable.RootPublish("rp_e", "part",
          corr.withColumn("w", $"id" % 3))))
    Versioned.commitSnapshotDeleteVectors(spark, dir, "rp_root", "rp_z",
      "part", "id", df.filter($"id" % 7 === 0).select($"part", $"id"),
      "00000003_c")
    val latest = df.filter(!$"part".isin(Fixed: _*)).unionByName(corr)
    (df, latest)
  }

  private def read(dir: String, prefix: String,
                   asOf: Option[String] = None,
                   parts: Option[Seq[Any]] = None,
                   ranges: Seq[(String, Option[Any], Option[Any])] = Nil,
                   point: Option[(String, Any)] = None,
                   keys: Option[(String, Seq[Any])] = None,
                   mergeSchema: Boolean = false) =
    LakeTable.readTable(spark, dir, prefix, "part",
      manifestPrefix = Some("rp_root"), asOfTag = asOf, parts = parts,
      ranges = ranges, point = point, pointKeys = keys,
      mergeSchema = mergeSchema)

  test("warm readTable launches no job: zone, multi-zone, point, keys, as-of, partition, DV, mergeSchema — each ≡ its twin") {
    val dir = graft.core.Scratch.dir("read_planning")
    val (g1, latest) = fixture(dir)
    val alive = latest.filter($"id" % 7 =!= 0)
    val r = Seq(("v", Some(3000L): Option[Any], Some(6000L): Option[Any]))

    assert(rows(warm("zone")(read(dir, "rp_z", ranges = r))) ==
      rows(alive.filter($"v".between(3000L, 6000L))))
    // the cache is keyed by sidecar FILE, not by query: a different
    // range on the warm sidecar plans with no job either
    val (shifted, j) = jobsOf(read(dir, "rp_z",
      ranges = Seq(("v", Some(106000L), Some(108000L)))))
    assert(j.isEmpty, s"a second range on a warm sidecar launched $j")
    assert(rows(shifted) ==
      rows(alive.filter($"v".between(106000L, 108000L))))

    val mr = r :+ (("id", Some(900L): Option[Any], Some(1800L): Option[Any]))
    assert(rows(warm("multi-zone")(read(dir, "rp_m", ranges = mr))) ==
      rows(latest.filter($"v".between(3000L, 6000L) &&
        $"id".between(900L, 1800L))))

    assert(rows(warm("point")(read(dir, "rp_z", point = Some(("id", 1234L))))) ==
      rows(alive.filter($"id" === 1234L)))
    assert(warm("point, erased")(read(dir, "rp_z",
      point = Some(("id", 1239L)))).isEmpty,
      "the point read resurrected a pinned delete")

    val ks: Seq[Any] = Seq(3L, 77L, 1234L, 2500L, 3999L, 1001L)
    assert(rows(warm("keys")(read(dir, "rp_z", keys = Some(("id", ks))))) ==
      rows(alive.filter($"id".isin(ks: _*))))

    // as-of g1: pre-correction values, and no delete vectors yet
    assert(rows(warm("as-of")(read(dir, "rp_z", asOf = Some("00000001_a"),
      ranges = Seq(("v", Some(6000L), Some(9000L)))))) ==
      rows(g1.filter($"v".between(6000L, 9000L))))

    assert(rows(warm("partition")(read(dir, "rp_z",
      parts = Some(Seq("m01", "m05"))))) ==
      rows(alive.filter($"part".isin("m01", "m05"))))

    assert(rows(warm("DV, full")(read(dir, "rp_z"))) == rows(alive))

    val ev = warm("mergeSchema")(read(dir, "rp_e", mergeSchema = true))
    assert(ev.columns.toSeq == Seq("id", "v", "w", "part"))
    assert(rows(ev, "id", "part", "v", "w") ==
      rows(latest.withColumn("w",
        when($"part".isin(Fixed: _*), $"id" % 3)), "id", "part", "v", "w"))
    val evParts = warm("mergeSchema, partition")(read(dir, "rp_e",
      parts = Some(Seq("m01")), mergeSchema = true))
    assert(evParts.columns.toSeq == ev.columns.toSeq &&
      evParts.filter($"w".isNotNull).isEmpty && evParts.count() == 500L)

    // data, zone, bloom, multi-zone and DV roots all probe as inferred
    assert(ReadPlanningSpec.assertProbeMatchesInference(spark, dir,
      "rp_root") == 7)
  }

  /** A one-root lake `dv_t` (partitions of `partOf(id div 300)`, keys
    * `k` = id except every 97th id from 5 on, whose key is null) with
    * two delete-vector generations: g2 erases every id divisible by 7
    * plus a null key, g3 every id divisible by 11 outside the last
    * partition. Returns the root's partition values, in order.
    */
  private def dvLake(dir: String, partOf: Column => Column): Seq[Any] = {
    val df = spark.range(1200L).select($"id",
      partOf(floor($"id" / 300).cast("int")).as("part"),
      when($"id" % 97 === 5, lit(null).cast("long")).otherwise($"id").as("k"),
      ($"id" * 2).as("v"))
    LakeTable.commitSnapshot(spark, dir, "dv_root", "00000001_a",
      Seq(LakeTable.RootPublish("dv_t", "part", df)))
    val parts = spark.read.parquet(Versioned.snapshotRoot(dir, "dv_t"))
      .select("part").distinct().orderBy("part").collect().map(_.get(0)).toSeq
    Versioned.commitSnapshotDeleteVectors(spark, dir, "dv_root", "dv_t",
      "part", "k", df.filter($"id" % 7 === 0 || $"id" === 5), "00000002_b")
    val last = df.select(max($"part")).head().get(0)
    Versioned.commitSnapshotDeleteVectors(spark, dir, "dv_root", "dv_t",
      "part", "k", df.filter($"id" % 11 === 0 && $"part" =!= lit(last)),
      "00000003_c")
    parts
  }

  /** The anti-join twin of a `dv_t` read at `tag`: the pinned data
    * minus the pinned vectors, joined on (part, k).
    */
  private def antiJoinTwin(dir: String, tag: String): DataFrame = {
    val entries = Versioned.manifestAt(dir, "dv_root", tag).get
    val data = Versioned.readSnapshotAt(spark, dir, "dv_t", "part",
      Versioned.pinsIn(entries, "dv_t"), None)
    val dvPins = Versioned.pinsIn(entries, Versioned.dvPrefix("dv_t"))
    if (dvPins.isEmpty) data
    else data.join(Versioned.readSnapshotAt(spark, dir,
      Versioned.dvPrefix("dv_t"), "part", dvPins, None), Seq("part", "k"),
      "left_anti")
  }

  test("pinned delete vectors apply as a plan filter ≡ the anti-join: Int, String and Date partitions") {
    val kinds: Seq[(String, Column => Column)] = Seq(
      "int" -> (b => b + 2020),
      "string" -> (b => concat(lit("m"), b.cast("string"))),
      "date" -> (b => date_add(lit("2024-01-01").cast("date"), b * 31)))
    for ((kind, partOf) <- kinds) {
      val dir = graft.core.Scratch.dir(s"read_planning_dv_$kind")
      val parts = dvLake(dir, partOf)
      def dvRead(asOf: Option[String] = None,
                 ps: Option[Seq[Any]] = None) =
        LakeTable.readTable(spark, dir, "dv_t", "part",
          manifestPrefix = Some("dv_root"), asOfTag = asOf, parts = ps)
      def check(what: String, got: DataFrame, want: DataFrame) = {
        assert(got.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.isEmpty, s"$kind $what: the vectors applied as a join")
        assert(rows(got, "id", "part", "k", "v") ==
          rows(want, "id", "part", "k", "v"), s"$kind $what")
      }
      // the newest generation (g3) is a cold miss: its load is labelled
      val (latest, cold) = jobsOf(dvRead())
      assert(cold.nonEmpty && cold.forall(_.startsWith(
        s"filestats.sidecarLoad ${Versioned.dvPrefix("dv_t")}")),
        s"$kind: cold DV load jobs $cold")
      check("latest", latest, antiJoinTwin(dir, "00000003_c"))
      // only the returned partitions' vectors apply; the others' leaves
      // are excluded, g3 pins none for the last partition
      for (ps <- Seq(Seq(parts.head), Seq(parts(1), parts.last)))
        check(s"parts $ps", dvRead(ps = Some(ps)),
          antiJoinTwin(dir, "00000003_c").filter($"part".isin(ps: _*)))
      // as-of g2 pins the OLDER vector generation, g1 none at all
      check("as-of g2", dvRead(asOf = Some("00000002_b")),
        antiJoinTwin(dir, "00000002_b"))
      check("as-of g1", dvRead(asOf = Some("00000001_a")),
        antiJoinTwin(dir, "00000001_a"))
      // null keys on the data side survive every generation's vectors
      assert(latest.filter($"k".isNull).count() == 13L, kind)
    }
  }

  test("a warm read with pinned delete vectors runs its twin's jobs: no broadcast") {
    val dir = graft.core.Scratch.dir("read_planning_dv_jobs")
    fixture(dir)
    def agg(df: DataFrame) = df.agg(count(lit(1)), sum($"v")).collect()
    // g3 pins vectors on rp_z; g2 pins the same data without them
    val withDv = read(dir, "rp_z")
    val twin = read(dir, "rp_z", asOf = Some("00000002_b"))
    agg(withDv); agg(twin)
    val (_, dvJobs) = jobsOf(agg(read(dir, "rp_z")))
    val (_, twinJobs) = jobsOf(agg(read(dir, "rp_z",
      asOf = Some("00000002_b"))))
    assert(!dvJobs.exists(_.startsWith("broadcast exchange")),
      s"a warm DV read broadcast: $dvJobs")
    assert(dvJobs.size == twinJobs.size,
      s"DV read jobs $dvJobs vs its twin's $twinJobs")
  }

  test("no stale candidate set: correction commit, compaction + GC, sidecar file replaced in place") {
    val dir = graft.core.Scratch.dir("read_planning_stale")
    val (_, latest0) = fixture(dir)
    def alive(t: DataFrame) = t.filter($"id" % 7 =!= 0)
    val r = Seq(("v", Some(100000L): Option[Any], Some(120000L): Option[Any]))
    assert(rows(warm("zone")(read(dir, "rp_z", ranges = r))) ==
      rows(alive(latest0).filter($"v".between(100000L, 120000L))))
    read(dir, "rp_z", point = Some(("id", 1700L))).collect()

    // a correction moves m03 into the probed range: its new sidecar
    // generation is a miss, never a stale hit
    val m03 = mkData(4000).filter($"part" === "m03")
      .withColumn("v", $"v" + 100000L).localCheckpoint(true)
    // several files in m03's leaf, so compaction below has work: AQE
    // would otherwise coalesce this small write into one task
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try LakeTable.commitSnapshot(spark, dir, "rp_root", "00000004_d",
      Seq(LakeTable.RootPublish("rp_z", "part", m03, filesPerPartition = 4)))
    finally spark.conf.set(coalesce, "true")
    val latest1 = latest0.filter($"part" =!= "m03").unionByName(m03)
    assert(rows(read(dir, "rp_z", ranges = r)) ==
      rows(alive(latest1).filter($"v".between(100000L, 120000L))))
    assert(rows(read(dir, "rp_z", point = Some(("id", 1700L)))) ==
      rows(alive(latest1).filter($"id" === 1700L)))

    // compaction rewrites every two-file leaf and re-derives its
    // sidecars; GC then deletes the superseded files a stale candidate
    // set would name (the read would fail on a missing file)
    val compacted = Versioned.compactSnapshotLeaves(spark, dir, "rp_root",
      Seq("rp_z" -> "part"), "00000005_e", maxFiles = 1)
    assert(compacted("rp_z").contains("m03"))
    Versioned.gcThroughManifest(dir, "rp_root", keepLast = 1)
    Seq("rp_z", FileStats.sidecarPrefix("rp_z"), FileStats.bloomPrefix("rp_z"))
      .foreach(p => Versioned.gcSnapshotGenerations(dir, "rp_root", p, 1))
    assert(rows(read(dir, "rp_z", ranges = r)) ==
      rows(alive(latest1).filter($"v".between(100000L, 120000L))))
    assert(rows(read(dir, "rp_z", point = Some(("id", 1700L)))) ==
      rows(alive(latest1).filter($"id" === 1700L)))

    // replace one pinned zone-sidecar file IN PLACE, same name, with
    // stats that exclude every file of its partition: the next plan
    // must see the new content
    val zPins = Versioned.snapshotPins(dir, "rp_root",
      FileStats.sidecarPrefix("rp_z"))
    val zRoot = Versioned.snapshotRoot(dir, FileStats.sidecarPrefix("rp_z"))
    val conf = GraftShim.hadoopConf(spark)
    val target = Versioned.leafFiles(conf, zRoot, "part", "m03",
      zPins("m03")).get.head
    val excluded = spark.createDataFrame(
      spark.read.parquet(target.getPath.toString)
        .withColumn("min_v", lit(-1L)).withColumn("max_v", lit(-1L))
        .collectAsList(),
      spark.read.parquet(target.getPath.toString).schema)
    Thread.sleep(1100) // a new mtime even on second-granularity stores
    val tmp = graft.core.Scratch.dir("read_planning_replace") + "/side"
    excluded.coalesce(1).write.mode("overwrite").parquet(tmp)
    val fresh = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = new java.io.File(target.getPath.toUri.getPath)
    java.nio.file.Files.copy(fresh.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    new java.io.File(dst.getParentFile, s".${dst.getName}.crc").delete()
    val now = Versioned.leafFiles(conf, zRoot, "part", "m03", zPins("m03"))
      .get.head
    assert(now.getPath == target.getPath &&
      (now.getLen, now.getModificationTime) !=
        ((target.getLen, target.getModificationTime)))
    val planned = FileStats.candidateFilesAt(spark, dir, "rp_z", zPins,
      Some(100000L), Some(120000L))
    val direct = spark.read.parquet(zPins.toSeq.map { case (v, g) =>
        s"$zRoot/part=$v/__gen=$g" }: _*)
      .filter($"n_rows" > $"n_nulls" && $"max_v" >= 100000L &&
        $"min_v" <= 120000L)
      .select($"file").as[String].collect().toSeq.sorted
    assert(planned == direct, "the cache served a replaced sidecar file's old rows")
    assert(!planned.exists(_.contains("part=m03/")))
  }
}

object ReadPlanningSpec {

  /** For every data and sidecar root the latest manifest of
    * `manifestPrefix` pins, the probed schema
    * ([[Versioned.snapshotSchema]]) must equal what Spark's inference
    * derives over the same pinned leaves: the merged schema under
    * `mergeSchema` (field order compared when one generation schema
    * is involved, field sets otherwise — Spark's merge order follows
    * its file listing), and the shared schema without it whenever the
    * generations agree. Returns the number of roots checked.
    */
  def assertProbeMatchesInference(spark: SparkSession, dir: String,
                                  manifestPrefix: String): Int = {
    val entries = Versioned.latestManifest(dir, manifestPrefix).get._2
    val prefixes = entries.keys.filterNot(_.startsWith("__"))
      .map(k => k.substring(0, k.lastIndexOf('/'))).toSeq.distinct.sorted
    prefixes.foreach { p =>
      val root = Versioned.snapshotRoot(dir, p)
      val partCol = new java.io.File(root).listFiles().map(_.getName)
        .find(_.contains("=")).get.takeWhile(_ != '=')
      val pins = Versioned.pinsIn(entries, p)
      val leaves = pins.toSeq.sorted.map { case (v, g) =>
        s"$root/$partCol=$v/__gen=$g" }
      // compared as the frames' schemas: the read itself makes the data
      // schema nullable, whichever way it was obtained
      def read(probe: Option[StructType], merge: Boolean) =
        probe.fold(spark.read)(spark.read.schema(_))
          .option("mergeSchema", merge).option("basePath", root)
          .parquet(leaves: _*).drop(partCol, "__gen").schema
      val merged = Versioned.snapshotSchema(spark, root, partCol, pins, true)
      assert(merged.isDefined, s"$p: no probe under mergeSchema")
      Versioned.snapshotSchema(spark, root, partCol, pins, false) match {
        case Some(one) =>
          assert(read(Some(one), false) == read(None, false),
            s"$p: probe $one vs inferred ${read(None, false)}")
          assert(read(merged, true) == read(None, true),
            s"$p: merged probe $merged vs inferred ${read(None, true)}")
        case None =>
          assert(read(merged, true).fields.toSet ==
            read(None, true).fields.toSet,
            s"$p: merged probe $merged vs inferred ${read(None, true)}")
      }
    }
    prefixes.size
  }
}
