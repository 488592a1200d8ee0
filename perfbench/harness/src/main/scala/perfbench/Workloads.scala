package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Scratch
import graft.io.{LakeTable, Versioned}
import graft.ops.IncrementalAgg
import graft.pipeline.Incremental

/** One op of a pass: runs under the op's root span and returns what the
  * output check needs. */
final case class Op(name: String, run: Tracer => Map[String, Any])

trait Workload {
  /** Open the workload's fixture (timed as part of set-up). */
  def setup(t: Tracer): Unit
  /** The ops of timed pass `pass`, in seeded order with seeded draws. */
  def pass(rng: Random, pass: Int): Seq[Op]
  /** Bytes the workload holds on disk (outputs or lake roots). */
  def diskBytes(): Long
  /** Untimed end of run: what the output checks need. */
  def finish(): Map[String, Any]
}

object Workload {
  val Names: Seq[String] = Seq("queries", "lake")

  /** Declared queries: the reference pipeline's ETL stages (aggregation,
    * the per-trip rollup with deterministic firsts, robust outlier
    * bounds, the gated 1:1 trip merge, the wide-to-long reshape), whose
    * time on small tables is planning and job scheduling, and the
    * LLM-data operators (set-similarity dedup, BM25 top-k, exact cosine
    * kNN), whose time is executor compute, shuffle and broadcast. */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q04_trip_rollup_firsts", "q10_robust_bounds",
    "q19_gated_merge", "q28_unpivot_metrics",
    "q46_dedup_jaccard", "q165_bm25_topk", "q49_knn_cosine")

  /** Workload `name` working in `work/r<rep>`; `fixtures` holds the
    * lakes [[LakeRead.build]] and [[LakeMaintain.build]] wrote. */
  def apply(name: String, spark: SparkSession, data: String, fixtures: String,
            work: String, seed: Long, rep: Int): Workload = {
    val dir = s"$work/r$rep"
    new File(dir).mkdirs()
    name match {
      case "queries" => new QueryWorkload(spark, data, dir, Queries)
      case "lake" => new LakeMix(new LakeRead(spark, data, LakeRead.lakeDir(fixtures), seed),
        new LakeMaintain(spark, data, fixtures, dir))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
  }

  /** Return workload `name`'s files under `fixtures` to their start
    * state. Untimed: it runs before each set-up. */
  def reset(name: String, fixtures: String): Unit =
    if (name == "lake") LakeMaintain.restore(fixtures)

  /** Lake rows: lineitem partitioned by ship year, money as integer
    * cents, the ship date as epoch days (the zone-map column). */
  def lakeRows(spark: SparkSession, data: String): DataFrame = {
    val ship = col("l_shipdate")
    spark.read.parquet(s"$data/lineitem.parquet").select(
      date_format(ship, "yyyy").as(Part),
      col("l_orderkey"), col("l_linenumber"),
      col("l_quantity").cast("long").as("qty"),
      round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
      unix_date(to_date(ship)).as("ship_day"))
  }

  val Part = "ship_year"
  val Prefix = "li"
  val Bloom: (String, Long, Long) = ("l_orderkey", 4000L, 32000L)

  def tag(n: Int): String = f"$n%08d"

  /** The lake rows' partitions, ship-day bounds and order keys. */
  final case class Domain(parts: IndexedSeq[String], dayLo: Int, dayHi: Int,
                          orderKeys: IndexedSeq[Long])

  def domain(rows: DataFrame): Domain = {
    val r = rows.agg(collect_set(col(Part)), min("ship_day"), max("ship_day"),
      collect_set("l_orderkey")).head()
    Domain(r.getSeq[String](0).sorted.toIndexedSeq, r.getInt(1), r.getInt(2),
      r.getSeq[Long](3).sorted.toIndexedSeq)
  }

  /** count, sum(qty), sum(cents) of a read, as the op's checked result. */
  def aggregate(df: DataFrame): Map[String, Any] = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("qty")), lit(0L)),
      coalesce(sum(col("cents")), lit(0L))).collect().head
    Map("n" -> r.getLong(0), "qty" -> r.getLong(1), "cents" -> r.getLong(2))
  }
}

/** Declared queries through `SparkEntry.queries`: building the frame
  * runs the query's eager fixture work, the action writes the result
  * (so the checked output is the timed output). */
final class QueryWorkload(spark: SparkSession, data: String, dir: String,
                          names: Seq[String]) extends Workload {
  private val fns = names.map(n => n -> graft.SparkEntry.queries(n)).toMap

  def setup(t: Tracer): Unit = ()

  def pass(rng: Random, pass: Int): Seq[Op] =
    rng.shuffle(names).map { n =>
      Op(n, t => {
        val out = s"$dir/out/p$pass/$n"
        val df = t.span("queries.build")(fns(n)(spark, data))
        t.span("queries.action")(df.write.mode("overwrite").parquet(out))
        Map("out" -> out)
      })
    }

  def diskBytes(): Long = Main.dirBytes(new File(s"$dir/out/p1"))

  def finish(): Map[String, Any] =
    Map("oracles" -> names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
}

/** The read-only lake of [[LakeRead]]: one snapshot-lane root of
  * lineitem partitioned by ship year, two files per partition, zone
  * (ship_day) and bloom (l_orderkey) sidecars, two data generations (the
  * second also rewrites 1996) and one delete-vector commit erasing 1% of
  * the order keys. Built once per build of the engine. */
object LakeRead {
  import Workload._
  val Manifest = "lr"
  /** The generation as-of reads name: it pins the years before 1998 and
    * no delete vectors. */
  val AsOfTag: String = tag(1)

  def lakeDir(fixtures: String): String = s"$fixtures/lake_read"

  /** The erased order keys: a fixed draw, independent of the run seed. */
  def erased(orderKeys: IndexedSeq[Long]): Seq[Long] =
    new Random(42).shuffle(orderKeys).take((orderKeys.size / 100).max(1)).sorted

  def build(spark: SparkSession, data: String, dir: String): Unit = {
    val rows = lakeRows(spark, data)
    val dom = domain(rows)
    val parts = dom.parts
    def publish(g: String, ps: Seq[String]): Unit =
      LakeTable.commitSnapshot(spark, dir, Manifest, g,
        Seq(LakeTable.RootPublish(Prefix, Part, rows.filter(col(Part).isin(ps: _*)),
          filesPerPartition = 2)),
        zoneSpecs = if (g == tag(1)) Map(Prefix -> "ship_day") else Map.empty,
        bloomSpecs = if (g == tag(1)) Map(Prefix -> Bloom) else Map.empty)
    publish(tag(1), parts.filter(_ < "1998"))
    publish(tag(2), parts.filter(p => p >= "1998" || p == "1996"))
    val gone = erased(dom.orderKeys)
    Versioned.commitSnapshotDeleteVectors(spark, dir, Manifest, Prefix, Part, "l_orderkey",
      rows.filter(col("l_orderkey").isin(gone: _*)).select(Part, "l_orderkey"), tag(3))
  }
}

/** Reads through `LakeTable.readTable` over the [[LakeRead]] lake, each
  * followed by a small aggregate: zone-map ranges, a bloom point probe, a
  * batched key fetch, an as-of read and a partition-restricted read. */
final class LakeRead(spark: SparkSession, data: String, lake: String, seed: Long)
    extends Workload {
  import Workload._
  import LakeRead._
  private val rows = lakeRows(spark, data)
  // the draws' domain is computed by the first pass (the untimed
  // warm-up), not by set-up
  private lazy val Domain(parts, dayLo, dayHi, orderKeys) = domain(rows)
  private lazy val hot: IndexedSeq[Long] = new Random(seed).shuffle(orderKeys).take(16)

  /** Opening the lake: its newest manifest must be the delete commit. */
  def setup(t: Tracer): Unit = {
    val head = t.span("io.open")(Versioned.latestManifest(lake, Manifest)).map(_._1)
    require(head.contains(tag(3)), s"lake fixture at $lake is at $head, not ${tag(3)}")
  }

  /** Every pass reads the same mix, so its cost does not depend on the
    * draws: a narrow (7-day) and a wide (90-day) zone range, a hot-key
    * point probe, a batch of 8 hot and 8 uniform keys, a 30-day as-of
    * read and a two-year partition read; positions, keys and years come
    * from the seed. */
  def pass(rng: Random, pass: Int): Seq[Op] = {
    val mp = Some(Manifest)
    def range(w: Int): (Int, Int) = {
      val lo = dayLo + rng.nextInt(dayHi - dayLo - w + 1)
      (lo, lo + w)
    }
    def zone(w: Int): (Map[String, Any], () => DataFrame) = {
      val (lo, hi) = range(w)
      (Map("lo" -> lo, "hi" -> hi), () => LakeTable.readTable(spark, lake, Prefix, Part,
        manifestPrefix = mp, ranges = Seq(("ship_day", Some(lo), Some(hi)))))
    }
    def read(kind: String): (Map[String, Any], () => DataFrame) = kind match {
      case "zone_narrow" => zone(7)
      case "zone_wide" => zone(90)
      case "point" =>
        val k = hot(rng.nextInt(hot.size))
        (Map("keys" -> Seq(k)), () => LakeTable.readTable(spark, lake, Prefix, Part,
          manifestPrefix = mp, point = Some(("l_orderkey", k))))
      case "keys" =>
        val ks = (rng.shuffle(hot).take(8) ++
          Seq.fill(8)(orderKeys(rng.nextInt(orderKeys.size)))).distinct
        (Map("keys" -> ks), () => LakeTable.readTable(spark, lake, Prefix, Part,
          manifestPrefix = mp, pointKeys = Some(("l_orderkey", ks))))
      case "asof" =>
        val (lo, hi) = range(30)
        (Map("asof" -> AsOfTag, "lo" -> lo, "hi" -> hi), () => LakeTable.readTable(spark,
          lake, Prefix, Part, manifestPrefix = mp, asOfTag = Some(AsOfTag),
          ranges = Seq(("ship_day", Some(lo), Some(hi)))))
      case "parts" =>
        val ps = rng.shuffle(parts).take(2).sorted
        (Map("parts" -> ps), () => LakeTable.readTable(spark, lake, Prefix, Part,
          manifestPrefix = mp, parts = Some(ps)))
    }
    rng.shuffle(Seq("zone_narrow", "zone_wide", "point", "keys", "asof", "parts")).map {
      kind =>
        val (params, build) = read(kind)
        Op(s"read_$kind", t => {
          val df = t.span("io.read")(build())
          params ++ Map("kind" -> kind) ++ t.span("read.action")(aggregate(df))
        })
    }
  }

  def diskBytes(): Long = Main.dirBytes(new File(lake))

  def finish(): Map[String, Any] = Map("erased" -> erased(orderKeys),
    "asof_parts" -> Map(AsOfTag -> parts.filter(_ < "1998")))
}

object LakeMaintain {
  import Workload._
  val Manifest = "lm"

  /** Versioned prefixes of the incremental store: raw delta batches and
    * the rollup state. [[Incremental.deltaCycle]] publishes the state it
    * folds from lineage `p` as lineage `p + "_next"`, so cycle `c` reads
    * lineage `stateLineage(c - 1)`. */
  val RawPrefix = "raw"
  def stateLineage(cycles: Int): String = "state" + "_next" * cycles

  /** The lake the cycles mutate, and its pristine copy. Each set-up
    * starts from the copy, restored to the same path: the engine's
    * sidecars record absolute file paths, so a lake is only valid where
    * it was written. */
  def liveDir(fixtures: String): String = s"$fixtures/lake_maintain/live"
  def baseDir(fixtures: String): String = s"$fixtures/lake_maintain/base"
  /** The incremental store, inside the maintenance lake's directory. */
  def incDir(lake: String): String = s"$lake/incremental"

  /** The base lake: lineitem partitioned by ship year in one generation
    * (tag 1, column `rev` = the tag) with zone and bloom sidecars, and an
    * incremental store whose state is the (count, qty x 100) rollup of
    * every lake row per ship year. Built once per build of the engine. */
  def build(spark: SparkSession, data: String, fixtures: String): Unit = {
    val rows = lakeRows(spark, data)
    LakeTable.commitSnapshot(spark, liveDir(fixtures), Manifest, tag(1),
      Seq(LakeTable.RootPublish(Prefix, Part, rows.withColumn("rev", lit(tag(1))))),
      zoneSpecs = Map(Prefix -> "ship_day"), bloomSpecs = Map(Prefix -> Bloom))
    Versioned.write(IncrementalAgg.rollupState(rows, Seq(Part), col("qty")),
      incDir(liveDir(fixtures)), stateLineage(0), tag(1))
    copyTree(liveDir(fixtures), baseDir(fixtures))
  }

  def restore(fixtures: String): Unit = {
    Scratch.deleteRecursively(new File(liveDir(fixtures)))
    copyTree(baseDir(fixtures), liveDir(fixtures))
  }

  def copyTree(from: String, to: String): Unit = {
    val (src, dst) = (Paths.get(from), Paths.get(to))
    val files = Files.walk(src)
    try files.forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally files.close()
  }
}

/** Maintenance cycles through the write facade on a fresh copy of the
  * [[LakeMaintain]] base lake: corrections re-publish two ship years
  * (data, zone and bloom sidecars, one manifest flip per cycle),
  * erasures commit delete vectors for 25 order keys, and incremental
  * cycles append a raw batch of lake rows (a 30-day ship-day window) and
  * fold it into the rollup state with [[Incremental.deltaCycle]]. The
  * final lake and state are read back once, untimed, for the check. */
final class LakeMaintain(spark: SparkSession, data: String, fixtures: String,
                         work: String) extends Workload {
  import Workload._
  import LakeMaintain._
  private val dir = liveDir(fixtures)
  private val rows = lakeRows(spark, data)
  private lazy val Domain(parts, dayLo, dayHi, orderKeys) = domain(rows)
  private val inc = incDir(dir)
  private var gen = 1
  private var cycles = 0
  private val rev = scala.collection.mutable.Map.empty[String, String]
  private val erased = scala.collection.mutable.SortedSet.empty[Long]
  /** Ship-day windows [lo, hi) of the raw batches folded so far. */
  private val batches = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]

  /** Open the base lake, which [[Workload.reset]] restored: generation
    * 1, with the incremental state at its first lineage. */
  def setup(t: Tracer): Unit = {
    require(t.span("io.open")(Versioned.latestManifest(dir, Manifest)).map(_._1)
      .contains(tag(1)), s"base lake at $dir is not at ${tag(1)}")
    require(Versioned.resolveLatest(inc, stateLineage(0)).isDefined,
      s"no incremental state in $inc")
  }

  /** Two distinct ship years, uniform. */
  private def correctParts(rng: Random): Seq[String] =
    rng.shuffle(parts).take(2).sorted

  def pass(rng: Random, pass: Int): Seq[Op] =
    rng.shuffle(Seq("correct", "erase", "incremental")).map {
      case "incremental" =>
        val start = dayLo + rng.nextInt(dayHi - dayLo - 30 + 1)
        Op("cycle_incremental", t => {
          cycles += 1
          val g = tag(cycles + 1)
          t.span("io.commit")(Versioned.write(
            rows.filter(col("ship_day") >= start && col("ship_day") < start + 30),
            inc, RawPrefix, g))
          t.span("pipeline.incremental")(Incremental.deltaCycle(spark, inc,
            stateLineage(cycles - 1), RawPrefix, Seq(Part), col("qty"), g))
          batches += (start -> (start + 30))
          Map("kind" -> "incremental", "tag" -> g, "lo" -> start, "hi" -> (start + 30))
        })
      case "correct" =>
        val ps = correctParts(rng)
        Op("commit_correct", t => {
          gen += 1
          val g = tag(gen)
          val published = t.span("io.commit")(LakeTable.commitSnapshot(spark, dir,
            Manifest, g, Seq(LakeTable.RootPublish(Prefix, Part,
              rows.filter(col(Part).isin(ps: _*)).withColumn("rev", lit(g))))))
          ps.foreach(rev(_) = g)
          Map("kind" -> "correct", "tag" -> g, "parts" -> ps,
            "published" -> published(Prefix).map(_.toString).toSeq.sorted)
        })
      case _ =>
        val ks = Seq.fill(25)(orderKeys(rng.nextInt(orderKeys.size))).distinct.sorted
        Op("commit_erase", t => {
          gen += 1
          val g = tag(gen)
          t.span("io.commit")(Versioned.commitSnapshotDeleteVectors(spark, dir, Manifest,
            Prefix, Part, "l_orderkey",
            rows.filter(col("l_orderkey").isin(ks: _*)).select(Part, "l_orderkey"), g))
          erased ++= ks
          Map("kind" -> "erase", "tag" -> g, "keys" -> ks)
        })
    }

  def diskBytes(): Long = Main.dirBytes(new File(dir))

  def finish(): Map[String, Any] = {
    val out = s"$work/final"
    LakeTable.readTable(spark, dir, Prefix, Part, manifestPrefix = Some(Manifest))
      .write.mode("overwrite").parquet(out)
    Map("final" -> out, "rev" -> parts.map(p => p -> rev.getOrElse(p, tag(1))).toMap,
      "erased" -> erased.toSeq,
      "state" -> Versioned.resolveLatest(inc, stateLineage(cycles)).getOrElse(""),
      "batches" -> batches.map { case (lo, hi) => Seq(lo, hi) }.toSeq)
  }
}

/** Lake traffic: each pass is one maintenance cycle of [[LakeMaintain]]
  * (a correction and an erasure) and one read pass of [[LakeRead]], in
  * one seeded order. The reads go to the read-only lake, so a commit
  * never changes what a read must return, and the commit and read paths
  * are timed op by op in the same run. */
final class LakeMix(read: LakeRead, maintain: LakeMaintain) extends Workload {
  def setup(t: Tracer): Unit = {
    maintain.setup(t)
    read.setup(t)
  }

  def pass(rng: Random, pass: Int): Seq[Op] =
    rng.shuffle(maintain.pass(rng, pass) ++ read.pass(rng, pass))

  def diskBytes(): Long = read.diskBytes() + maintain.diskBytes()

  def finish(): Map[String, Any] = Map("read" -> read.finish(), "maintain" -> maintain.finish())
}
