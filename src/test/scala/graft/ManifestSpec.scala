package graft

import org.apache.spark.sql.functions._
import graft.io.Versioned

/** The atomic multi-root commit manifest
  * ([[graft.io.Versioned.commitManifest]] /
  * [[graft.io.Versioned.readAtManifest]] /
  * [[graft.io.Versioned.gcThroughManifest]]): a topology cycle's three
  * state publishes flip for every reader at ONE commit point, so a
  * crash between object writes leaves readers on the prior consistent
  * snapshot — rollback semantics on top of the replay-idempotence the
  * cycles already had — and a stale concurrent cycle fails loudly at
  * commit, before any reader could resolve its objects.
  */
class ManifestSpec extends SparkTestBase {
  import spark.implicits._

  private def tagged(dir: String, prefix: String, tag: String, v: Long) =
    Versioned.write(Seq((1L, v)).toDF("k", "v"), dir, prefix, tag)

  test("crash between root publishes leaves readers on the prior consistent trio") {
    val dir = graft.core.Scratch.dir("spec_manifest_crash")
    Seq("a", "b", "c").foreach(p => tagged(dir, p, "0001_t", 1L))
    Versioned.commitManifest(dir, "m", "0001_t",
      Map("a" -> "0001_t", "b" -> "0001_t", "c" -> "0001_t"))
    // the next cycle publishes a and b, then CRASHES — no c, no commit
    tagged(dir, "a", "0002_t", 2L)
    tagged(dir, "b", "0002_t", 2L)
    def served = Seq("a", "b", "c").map(p =>
      Versioned.readAtManifest(spark, dir, "m", p)
        .select($"v").head().getLong(0))
    assert(served == Seq(1L, 1L, 1L),
      s"a reader saw the half-published trio: $served")
    // the replayed cycle completes: rewrites a and b (idempotent — same
    // paths), publishes c, commits — readers flip to the full new trio
    tagged(dir, "a", "0002_t", 2L)
    tagged(dir, "b", "0002_t", 2L)
    tagged(dir, "c", "0002_t", 2L)
    Versioned.commitManifest(dir, "m", "0002_t",
      Map("a" -> "0002_t", "b" -> "0002_t", "c" -> "0002_t"))
    assert(served == Seq(2L, 2L, 2L),
      s"commit did not flip all three roots at once: $served")
  }

  test("stale commit refused; exact replay no-ops; same tag with different pins refused") {
    val dir = graft.core.Scratch.dir("spec_manifest_guard")
    tagged(dir, "a", "0002_t", 2L)
    Versioned.commitManifest(dir, "m", "0002_t", Map("a" -> "0002_t"))
    // stale: an older cycle losing the race must fail loudly
    intercept[IllegalArgumentException] {
      Versioned.commitManifest(dir, "m", "0001_t", Map("a" -> "0001_t"))
    }
    // exact replay (at-least-once delivery): succeeds without effect
    val p = Versioned.commitManifest(dir, "m", "0002_t",
      Map("a" -> "0002_t"))
    assert(p.endsWith("m__0002_t__.manifest.json"))
    assert(Versioned.latestManifest(dir, "m")
      .exists(_._2 == Map("a" -> "0002_t")))
    // same tag, DIFFERENT pins: not a replay — two cycles raced one tag
    intercept[IllegalArgumentException] {
      Versioned.commitManifest(dir, "m", "0002_t", Map("a" -> "0009_t"))
    }
  }

  test("gcThroughManifest keeps the pinned generations; serving survives; in-flight objects survive") {
    val dir = graft.core.Scratch.dir("spec_manifest_gc")
    Seq("0001_t", "0002_t", "0003_t").zip(Seq(1L, 2L, 3L)).foreach {
      case (tag, v) =>
        tagged(dir, "a", tag, v)
        tagged(dir, "b", tag, v)
        Versioned.commitManifest(dir, "m", tag,
          Map("a" -> tag, "b" -> tag))
    }
    // an in-flight cycle has written (but not committed) tag 4 — GC
    // must never eat it
    tagged(dir, "a", "0004_t", 4L)
    val deleted = Versioned.gcThroughManifest(dir, "m", keepLast = 2)
    val names = deleted.map(new java.io.File(_).getName).sorted
    assert(names == Seq("a__0001_t__.parquet", "b__0001_t__.parquet",
      "m__0001_t__.manifest.json"),
      s"gc reclaimed the wrong set: $names")
    // serving still resolves through the newest manifest
    assert(Versioned.readAtManifest(spark, dir, "m", "a")
      .select($"v").head().getLong(0) == 3L)
    // the superseded-but-kept generation is still readable (time travel
    // within the retention window)
    assert(new java.io.File(dir, "a__0002_t__.parquet").exists())
    // the uncommitted in-flight object survived
    assert(new java.io.File(dir, "a__0004_t__.parquet").exists())
    // its late commit still lands
    tagged(dir, "b", "0004_t", 4L)
    Versioned.commitManifest(dir, "m", "0004_t",
      Map("a" -> "0004_t", "b" -> "0004_t"))
    assert(Versioned.readAtManifest(spark, dir, "m", "b")
      .select($"v").head().getLong(0) == 4L)
  }

  test("manifest topology cycle: crash-then-replay completes cleanly, export matches the plain cycle") {
    // drive the q400 fixture once (oracle-checked shape), then simulate
    // the crash: re-write two of the three NEXT objects without a
    // commit, confirm manifest readers still serve tag 2's trio, then
    // replay the full cycle — which must no-op the manifest and
    // reproduce the same export
    val first = SparkEntry.queries("q400_manifest_topology")(spark, sfDir)
      .collect().map(_.toSeq).toSet
    val dir = graft.core.Scratch.dir("q400_manifest")
    val lw = graft.queries.IoQueries.chainLwTable(spark)
    assert(Versioned.latestManifest(dir, "man_root")
      .exists(_._1 == "00000002_bbb"))
    val second = graft.pipeline.Incremental.topologyCycle(spark, dir,
        graft.pipeline.Incremental.manifestLane(spark, dir, "man_root",
          "00000002_bbb"), "man_sstate", "man_tstate", "man_merged",
        "man_sraw", "man_traw", None, lw,
        graft.pipeline.Incremental.TopologyExport.Monthly)
      .collect().map(_.toSeq).toSet
    assert(second == first,
      "replaying the manifest cycle changed the published export")
  }
}
