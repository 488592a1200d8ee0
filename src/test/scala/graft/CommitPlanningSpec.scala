package graft

import java.sql.Date
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Scratch
import graft.io.{LakeTable, Versioned}
import graft.io.LakeTable.RootPublish
import graft.ops.IncrementalAgg
import graft.pipeline.Incremental

/** Lean lake commits: every commit evaluates its input once and
  * launches no job that only computes bookkeeping. Job budgets come
  * from a listener; every commit job carries a label; the present set
  * a write observes equals the distinct partition values of its frame;
  * a crashed attempt's leftover leaf stays unpinned; delete batches fold
  * to the union of every batch; and a versioned object's probed schema
  * is the one Spark would infer.
  */
class CommitPlanningSpec extends SparkTestBase {
  import spark.implicits._

  private def jobsOf[T](body: => T): (T, Seq[String]) =
    JobTap.jobsOf(spark)(body)

  private def parquetOf(df: DataFrame, name: String): DataFrame = {
    val p = s"${Scratch.dir("commit_planning")}/src_$name"
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  // 3000 rows over partitions y0..y5 (part = "y" + id % 6)
  private lazy val lakeRows = parquetOf(spark.range(3000).select($"id",
    concat(lit("y"), ($"id" % 6).cast("string")).as("part"),
    ($"id" * 7 % 1000).as("v")), "rows")

  private def sorted(df: DataFrame, cols: String*): Seq[Row] =
    df.select(cols.map(col): _*).collect().toSeq.sortBy(_.toString)

  private def assertLabelled(what: String, jobs: Seq[String]): Unit =
    assert(!jobs.contains("<unlabelled>"),
      s"$what launched unlabelled job(s): $jobs")

  test("job budgets: a correction with zone and bloom sidecars runs ≤ 8 jobs, a delete-vector commit ≤ 4, all labelled; results ≡ the model") {
    val dir = Scratch.dir("commit_planning_budget")
    val rows = lakeRows
    LakeTable.commitSnapshot(spark, dir, "cp", "00000001_a",
      Seq(RootPublish("cp_t", "part", rows)),
      zoneSpecs = Map("cp_t" -> "v"),
      bloomSpecs = Map("cp_t" -> ("id", 10000L, 100000L)))
    val fixed = Seq("y1", "y4")
    val corr = rows.filter($"part".isin(fixed: _*)).withColumn("v", $"v" + 1)
    val (published, cJobs) = jobsOf(LakeTable.commitSnapshot(spark, dir,
      "cp", "00000002_b", Seq(RootPublish("cp_t", "part", corr))))
    assert(published("cp_t").map(_.toString) == fixed.toSet)
    assert(cJobs.size <= 8, s"correction ran ${cJobs.size} jobs: $cJobs")
    assertLabelled("correction", cJobs)

    // the first batch finds no prior vector, the second folds into one
    val gone1 = rows.filter($"id" % 11 === 0).select("part", "id")
    val gone2 = rows.filter($"id" % 13 === 0).select("part", "id")
    Seq(gone1 -> "00000003_c", gone2 -> "00000004_d").foreach {
      case (gone, tag) =>
        val (_, dJobs) = jobsOf(Versioned.commitSnapshotDeleteVectors(spark,
          dir, "cp", "cp_t", "part", "id", gone, tag))
        assert(dJobs.size <= 4, s"DV commit $tag ran ${dJobs.size}: $dJobs")
        assertLabelled(s"DV commit $tag", dJobs)
    }

    val model = rows.filter(!$"part".isin(fixed: _*)).unionByName(corr)
      .filter($"id" % 11 =!= 0 && $"id" % 13 =!= 0)
    // the zone and bloom sidecars moved with the corrected data
    val read = LakeTable.readTable(spark, dir, "cp_t", "part",
      manifestPrefix = Some("cp"), ranges = Seq(("v", Some(100L), Some(400L))))
    assert(sorted(read, "id", "part", "v") ==
      sorted(model.filter($"v".between(100L, 400L)), "id", "part", "v"))
    val k = 4L * 6 + 1 // y1, corrected, not deleted
    val point = LakeTable.readTable(spark, dir, "cp_t", "part",
      manifestPrefix = Some("cp"), point = Some(("id", k)))
    assert(sorted(point, "id", "v") == sorted(model.filter($"id" === k), "id", "v"))
  }

  test("deltaCycle launches no schema-inference job: readLatest is job-free and every cycle job is its labelled write") {
    val dir = Scratch.dir("commit_planning_delta")
    val rows = lakeRows
    Versioned.write(IncrementalAgg.rollupState(rows, Seq("part"), $"v"),
      dir, "st", "00000001")
    val batch = rows.filter($"id" < 500)
    Versioned.write(batch, dir, "raw", "00000002")
    val (_, readJobs) = jobsOf {
      Versioned.readLatest(spark, dir, "st")
      Versioned.readLatest(spark, dir, "raw")
    }
    assert(readJobs.isEmpty, s"readLatest launched $readJobs")
    val (_, cycleJobs) = jobsOf(Incremental.deltaCycle(spark, dir, "st",
      "raw", Seq("part"), $"v", "00000002"))
    assert(cycleJobs.nonEmpty &&
      cycleJobs.forall(_.startsWith("versioned.write st_next@")),
      s"deltaCycle jobs: $cycleJobs")
    val want = IncrementalAgg.rollupState(rows.unionByName(batch),
      Seq("part"), $"v")
    assert(sorted(Versioned.readLatest(spark, dir, "st_next"),
        "part", "n", "sum_cents") == sorted(want, "part", "n", "sum_cents"))
  }

  test("the observed present set equals the distinct-collect for Int, String and Date partitions and an empty frame; a null partition value is refused") {
    val dir = Scratch.dir("commit_planning_present")
    val base = parquetOf(spark.range(200).select($"id",
      ($"id" % 5).cast("int").as("pi"),
      concat(lit("s"), ($"id" % 3).cast("string")).as("ps"),
      date_add(lit(Date.valueOf("2024-01-01")), ($"id" % 4).cast("int"))
        .as("pd")), "typed")
    Seq("pi", "ps", "pd").foreach { c =>
      val df = base.select($"id", col(c))
      val old = df.select(col(c)).distinct().collect().map(_.get(0)).toSet
      val got = Versioned.writeSnapshotPartitions(df, dir, s"obs_$c", c,
        "00000001")
      assert(got == old, s"$c: observed $got vs distinct $old")
      assert(got.map(_.getClass) == old.map(_.getClass), c)
      val salted = Versioned.writeSnapshotPartitions(df, dir, s"obs_$c", c,
        "00000002", filesPerPartition = 3)
      assert(salted == old, s"$c (salted layout)")
      val empty = Versioned.writeSnapshotPartitions(df.filter($"id" < 0),
        dir, s"obs_${c}_e", c, "00000001")
      assert(empty.isEmpty, s"$c: empty frame observed $empty")
    }
    val nulls = base.withColumn("pn", when($"id" % 2 === 0, $"ps"))
    val e = intercept[IllegalArgumentException](
      Versioned.writeSnapshotPartitions(nulls, dir, "obs_pn", "pn",
        "00000001"))
    assert(e.getMessage.contains("null"))
  }

  test("a crashed attempt's leftover leaf, for a partition the replay no longer carries, stays unpinned") {
    val dir = Scratch.dir("commit_planning_crash")
    val rows = lakeRows
    LakeTable.commitSnapshot(spark, dir, "cr", "00000001_a",
      Seq(RootPublish("cr_t", "part", rows)))
    // the crashed attempt wrote y1..y3 as generation 2, never committed
    Versioned.writeSnapshotPartitions(
      rows.filter($"part".isin("y1", "y2", "y3")).withColumn("v", lit(-1L)),
      dir, "cr_t", "part", "00000002_b")
    val leftover = new java.io.File(
      s"${Versioned.snapshotRoot(dir, "cr_t")}/part=y3/__gen=00000002_b")
    assert(leftover.isDirectory)
    // the replay of generation 2 carries y1 only
    val corr = rows.filter($"part" === "y1").withColumn("v", $"v" + 5)
    val pub = LakeTable.commitSnapshot(spark, dir, "cr", "00000002_b",
      Seq(RootPublish("cr_t", "part", corr)))
    assert(pub("cr_t").map(_.toString) == Set("y1"))
    val pins = Versioned.snapshotPins(dir, "cr", "cr_t")
    assert(pins == (0 until 6).map(i => s"y$i" ->
      (if (i == 1) "00000002_b" else "00000001_a")).toMap)
    assert(leftover.isDirectory, "the leftover leaf is not the commit's to erase")
    val model = rows.filter($"part" =!= "y1").unionByName(corr)
    assert(sorted(LakeTable.readTable(spark, dir, "cr_t", "part",
        manifestPrefix = Some("cr")), "id", "part", "v") ==
      sorted(model, "id", "part", "v"))
  }

  test("a sequence of delete batches ≡ the union of every batch: repeated keys, a partition with no prior vector") {
    val dir = Scratch.dir("commit_planning_dv")
    val rows = lakeRows
    LakeTable.commitSnapshot(spark, dir, "dv", "00000001_a",
      Seq(RootPublish("dv_t", "part", rows)))
    // id % 6 names the partition: 6, 12, 18 → y0; 7, 25 → y1; 2, 8 → y2;
    // 1000 → y4; 1001 → y5
    val batches: Seq[Seq[Long]] = Seq(
      Seq(6L, 12L, 12L, 18L, 7L), // a key repeated within the batch
      Seq(12L, 18L, 25L), // keys repeated across batches
      Seq(2L, 8L, 2L), // y2 has no prior vector
      Seq(7L, 1000L, 1001L))
    batches.zipWithIndex.foldLeft(Set.empty[Long]) { case (acc, (ks, i)) =>
      val tag = f"${i + 2}%08d_x"
      // a join with the duplicated key list repeats the delete rows
      val gone = rows.join(ks.toDF("id"), "id").select("part", "id")
      Versioned.commitSnapshotDeleteVectors(spark, dir, "dv", "dv_t", "part",
        "id", gone, tag)
      val model = acc ++ ks
      val vectors = Versioned.readSnapshotPartitions(spark, dir, "dv",
        Versioned.dvPrefix("dv_t"), "part", None)
      assert(sorted(vectors, "part", "id") ==
        sorted(rows.filter($"id".isin(model.toSeq: _*)), "part", "id"), tag)
      assert(vectors.count() == model.size, s"$tag: duplicate vector rows")
      assert(sorted(LakeTable.readTable(spark, dir, "dv_t", "part",
          manifestPrefix = Some("dv")), "id", "part", "v") ==
        sorted(rows.filter(!$"id".isin(model.toSeq: _*)), "id", "part", "v"),
        tag)
      model
    }
  }

  test("a delete batch with a null partition value is refused before any write") {
    val dir = Scratch.dir("commit_planning_dv_null")
    val rows = lakeRows
    LakeTable.commitSnapshot(spark, dir, "dn", "00000001_a",
      Seq(RootPublish("dn_t", "part", rows)))
    val before = Versioned.latestManifest(dir, "dn")
    val gone = rows.filter($"id" % 50 === 0)
      .select(when($"id" % 100 =!= 0, $"part").as("part"), $"id")
    val e = intercept[IllegalArgumentException](
      Versioned.commitSnapshotDeleteVectors(spark, dir, "dn", "dn_t", "part",
        "id", gone, "00000002_b"))
    assert(e.getMessage.contains("null"))
    assert(Versioned.latestManifest(dir, "dn") == before)
    assert(!new java.io.File(
      Versioned.snapshotRoot(dir, Versioned.dvPrefix("dn_t"))).exists)
  }

  test("readLatest's probed schema equals Spark's inferred schema: typed, empty, local, nanos under nanosAsLong, partitioned fallback") {
    val dir = Scratch.dir("commit_planning_schema")
    val typed = parquetOf(spark.range(50).select($"id",
      $"id".cast("int").as("i"), ($"id" * 1.5).as("d"),
      $"id".cast("decimal(12,2)").as("dec"), concat(lit("x"), $"id").as("s"),
      date_add(lit(Date.valueOf("2024-01-01")), $"id".cast("int")).as("dt"),
      timestamp_micros($"id" * 1000000L).as("ts"),
      array($"id", $"id" + 1).as("arr"),
      struct($"id".as("a"), lit("b").as("b")).as("st"),
      map(lit("k"), $"id").as("m"),
      when($"id" % 2 === 0, $"id").as("nul")), "schema_typed")
    Versioned.write(typed, dir, "o_typed", "00000001")
    Versioned.write(typed.filter($"id" < 0), dir, "o_empty", "00000001")
    Versioned.write(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir, "o_local",
      "00000001")
    // TIMESTAMP(NANOS) is not a type Spark writes: write it by hand
    writeNanos(s"$dir/o_nanos__00000001__.parquet/part-00000.parquet")
    // no top-level data file: the fallback infers
    lakeRows.write.partitionBy("part")
      .parquet(s"$dir/o_part__00000001__.parquet")
    Seq("o_typed", "o_empty", "o_local", "o_nanos", "o_part").foreach { p =>
      val path = Versioned.resolveLatest(dir, p).get
      val (probed, jobs) = jobsOf(Versioned.readLatest(spark, dir, p))
      if (p != "o_part") assert(jobs.isEmpty, s"$p: readLatest ran $jobs")
      val inferred = spark.read.parquet(path)
      assert(probed.schema == inferred.schema, p)
      assert(probed.collect().toSeq.sortBy(_.toString) ==
        inferred.collect().toSeq.sortBy(_.toString), p)
    }
    assert(Versioned.readLatest(spark, dir, "o_nanos").schema("ts").dataType
      == org.apache.spark.sql.types.LongType)
  }

  test("resolveLatest lists through the Hadoop FileSystem: hidden entries are skipped, a missing directory resolves nothing") {
    val dir = Scratch.dir("commit_planning_resolve")
    Versioned.write(Seq(1).toDF("x"), dir, "h", "00000001")
    new java.io.File(s"$dir/.h__00000009__.parquet").mkdirs()
    new java.io.File(s"$dir/_h__00000009__.parquet").mkdirs()
    assert(Versioned.resolveLatest(dir, "h").contains(s"$dir/h__00000001__.parquet"))
    assert(Versioned.resolveLatest(s"$dir/absent", "h").isEmpty)
  }

  private def writeNanos(file: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema)
      .withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 5).foreach { i =>
      w.write(groups.newGroup().append("id", i.toLong)
        .append("ts", 1704067200000000000L + i))
    } finally w.close()
  }
}
