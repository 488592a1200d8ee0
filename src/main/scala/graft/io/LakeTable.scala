package graft.io

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._

/** ONE audited read path over the lakehouse lanes.
  *
  * The store grew six reader APIs a caller must compose correctly —
  * `readPartitioned`/`readPartitions` (in-place lane), `readAtManifest`
  * (object lane), `readSnapshotPartitions[At]` (snapshot lane),
  * `readSkipping*` (zone maps), `readBloomSkipping` (point lookups),
  * `readMergeOnRead` (deletion vectors) — and every pairwise
  * composition is a correctness hazard when hand-rolled: skipping over
  * a root with pending deletes resurrects rows, time travel without
  * pinned stats prunes through the wrong generation, evolution without
  * mergeSchema drops columns. [[readTable]] resolves the whole stack
  * in one place, in the only sound order:
  *
  *   manifest (as-of or latest) → partition restriction → zone-map /
  *   bloom file skipping (intersected when both prune) → residual
  *   predicates → deletion vectors → mergeSchema.
  *
  * Laws (LakeTableSpec pins each cell of the matrix
  * {latest, as-of} × {zone, bloom, both, none} × {DV, clean} ×
  * {evolved, flat}):
  *  - the result is row-for-row the hand-composed twin: pinned/plain
  *    read + filters, minus outstanding deletes;
  *  - skipping never changes WHAT is returned, only how many files
  *    are listed, opened, or scheduled;
  *  - a sidecar that does not exist (or is not pinned at the resolved
  *    manifest) degrades to a residual-only read — never a wrong one;
  *  - deletion vectors apply in BOTH postures: the in-place DV lane is
  *    ERASURE — it reaches every read including as-of time travel (a
  *    GDPR erasure must reach history); the manifest-pinned DV lane is
  *    TRANSACTIONAL — the resolved manifest's pinned vectors apply, so
  *    an as-of read shows the delete state as of that tag.
  *
  * Planning contract of a snapshot-lane [[readTable]] (LakeTableSpec
  * and ReadPlanningSpec pin it):
  *  - ONE manifest resolve per read: the latest or as-of manifest is
  *    read once into one entries map, and the data, zone, multi-zone,
  *    bloom and DV pins all derive from it — a commit landing mid-read
  *    cannot pair one generation's sidecar with another's data;
  *  - NO Spark job before the caller's action on a warm lake: the
  *    read's schema comes from one footer per distinct pinned
  *    generation, read on the driver ([[Versioned.snapshotSchema]]),
  *    and sidecar candidate planning runs over cached sidecar rows on
  *    the driver. Only generations that diverge in schema without
  *    `mergeSchema` fall back to Spark's footer-inference job;
  *  - the sidecar row cache is keyed by each pinned sidecar file's
  *    (path, length, modification time) from the driver listing of
  *    the pinned leaves, so a new generation, a compaction or a file
  *    replaced in place is a miss, never a stale hit. Misses load in
  *    one job labelled `filestats.sidecarLoad`; the cache is a fixed
  *    LRU bound, and a selection too large for it plans through the
  *    distributed sidecar read instead;
  *  - pinned delete vectors apply from the same cache
  *    ([[Versioned.applyPinnedDeleteVectors]]): only the vectors of the
  *    partitions the read can return load, and they apply as a
  *    null-safe plan filter, so a warm read with vectors runs the same
  *    jobs as its twin without them (no DV scan, no broadcast). Vectors
  *    the cache cannot serve (over its bound, an unlistable leaf,
  *    files that disagree on schema) apply as a left anti-join on
  *    (partition, key); the in-place erasure lane always does.
  *
  * Commit contract of [[commitSnapshot]] and the snapshot-lane DV
  * commit ([[Versioned.commitSnapshotDeleteVectors]]; CommitPlanningSpec
  * pins it):
  *  - the caller's input is evaluated ONCE: a root's frame by its data
  *    write, a delete batch by one materialization of its (partition,
  *    key) projection;
  *  - the present partition set is OBSERVED by the write that evaluates
  *    the frame (`collect_set` over the written rows), never collected
  *    by a job of its own and never read off a listing (a crashed
  *    attempt's leftover leaves stay unpinned); a null partition value,
  *    which has no path-safe leaf to pin, fails the commit before its
  *    manifest flips;
  *  - ONE manifest resolve per commit: every root's prior pins derive
  *    from the entries map the stale/replay check read;
  *  - job budget: every job carries a `spark.job.description`; a
  *    correction with zone and bloom sidecars runs at most 8 jobs, a
  *    delete-vector commit at most 4.
  *
  * Caller-asserted column contracts (inherited from the sidecar
  * lanes, which don't record their build column): a single-column
  * zone range must name the column the sidecar was built on, and a
  * `point` probe the bloom sidecar's key column — same contract as
  * `readSkipping(statCol)` / `readBloomSkipping(keyCol)`. The
  * multi-column sidecar fails loudly on an unknown column (its
  * per-column stat fields are named).
  */
object LakeTable {

  /** One root's publish payload for [[commitSnapshot]]: `df` carries
    * the FULL new content of every partition the cycle touched (the
    * lane's standard contract). Emptying a partition is not
    * expressible here — that retraction shape needs the raw
    * `writeSnapshotPartitions` + pin-drop composition.
    */
  final case class RootPublish(prefix: String, partCol: String,
                               df: DataFrame, filesPerPartition: Int = 1)

  /** The WRITE-side facade: publish every root's touched partitions as
    * generation `tag`, re-derive each root's sidecars (specs resolved
    * explicit-argument-first, then the [[FileStats.zoneSpecEntry]] /
    * [[FileStats.bloomSpecEntry]] / [[FileStats.zoneMultiSpecEntry]]
    * entries the manifest pins), and flip
    * ONE atomic manifest — the packaged form of the publish
    * composition every cycle otherwise hand-rolls, with the
    * stats-flip-with-data invariant unforgettable by construction.
    *
    * Replay/crash contract (inherited from the lane): an exact replay
    * (tag already published) short-circuits to an empty report; a
    * ZOMBIE (tag older than published) is refused before any write; a
    * crashed publish's half-written generations are invisible until
    * the manifest commits, and its replay rewrites them idempotently.
    * The first commit on a fresh `manifestPrefix` is the
    * initialization — pass the sidecar specs explicitly there (no
    * manifest exists to resolve them from); they pin with the commit
    * and later cycles omit them.
    *
    * Multi-STAGE cycles whose later stages read their own fresh pins
    * (the chained topologies) still compose the raw API — this facade
    * covers the single-stage shape (ingest appends, corrections,
    * sink-style epochs).
    *
    * @return per prefix, the partition values published (empty when
    *         the tag had already committed)
    */
  def commitSnapshot(spark: SparkSession, dir: String,
                     manifestPrefix: String, tag: String,
                     roots: Seq[RootPublish],
                     zoneSpecs: Map[String, String] = Map.empty,
                     bloomSpecs: Map[String, (String, Long, Long)] =
                       Map.empty,
                     multiSpecs: Map[String, Seq[String]] =
                       Map.empty): Map[String, Set[Any]] = {
    require(roots.nonEmpty, "empty publish")
    val cur = Versioned.latestManifest(dir, manifestPrefix)
    cur.foreach { case (curTag, entries) =>
      require(tag >= curTag,
        s"stale publish refused: tag '$tag' is older than published " +
          s"'$curTag' for '$manifestPrefix' — already committed, or a " +
          "zombie replay")
      if (curTag == tag) {
        // replay detection is TAG-level (one tag = one logical publish
        // is the commitManifest tag-discipline contract); content
        // equality is not re-derivable here without re-running the
        // writes, so this check is WEAKER than commitManifest's
        // same-entries refusal. What IS verifiable cheaply: the replay
        // must name the same roots — two different cycles racing one
        // tag fail loudly instead of the loser silently no-op'ing.
        roots.foreach { r =>
          require(entries.keys.exists(_.startsWith(s"${r.prefix}/")),
            s"replay of tag '$tag' names root '${r.prefix}' that the " +
              s"committed manifest does not pin — two different " +
              "publishes raced one tag")
        }
        return roots.map(_.prefix -> Set.empty[Any]).toMap
      }
    }
    val entries0 = cur.map(_._2).getOrElse(Map.empty)
    var entries = entries0
    val report = roots.map { r =>
      val pins0 = Versioned.pinsIn(entries0, r.prefix)
      val present = Versioned.writeSnapshotPartitions(r.df, dir,
        r.prefix, r.partCol, tag, r.filesPerPartition)
      val pins = pins0 ++ present.map(_.toString -> tag)
      entries = entries ++ present.map(v =>
        Versioned.snapshotPinKey(r.prefix, v) -> tag)
      zoneSpecs.get(r.prefix)
        .orElse(FileStats.pinnedZoneSpec(entries0, r.prefix))
        .foreach { statCol =>
          val zp = FileStats.writeSnapshotSidecar(spark, dir, r.prefix,
            r.partCol, statCol, pins, present.toSeq, tag)
          entries = entries ++ zp.map(v => Versioned.snapshotPinKey(
              FileStats.sidecarPrefix(r.prefix), v) -> tag) +
            FileStats.zoneSpecEntry(r.prefix, statCol)
        }
      bloomSpecs.get(r.prefix)
        .orElse(FileStats.pinnedBloomSpec(entries0, r.prefix))
        .foreach { case (keyCol, items, bits) =>
          val bp = FileStats.writeSnapshotBloomSidecar(spark, dir,
            r.prefix, r.partCol, keyCol, pins, present.toSeq, tag,
            items, bits)
          entries = entries ++ bp.map(v => Versioned.snapshotPinKey(
              FileStats.bloomPrefix(r.prefix), v) -> tag) +
            FileStats.bloomSpecEntry(r.prefix, keyCol, items, bits)
        }
      multiSpecs.get(r.prefix)
        .orElse(FileStats.pinnedZoneMultiSpec(entries0, r.prefix))
        .foreach { statCols =>
          val mp = FileStats.writeSnapshotSidecarMulti(spark, dir,
            r.prefix, r.partCol, statCols, pins, present.toSeq, tag)
          entries = entries ++ mp.map(v => Versioned.snapshotPinKey(
              FileStats.sidecarMultiPrefix(r.prefix), v) -> tag) +
            FileStats.zoneMultiSpecEntry(r.prefix, statCols)
        }
      r.prefix -> present
    }.toMap
    Versioned.commitManifest(dir, manifestPrefix, tag, entries)
    report
  }

  /** Two-phase write facade for MULTI-STAGE cycles — the staging twin
    * of [[commitSnapshot]]: each stage publishes its root's touched
    * partitions as generation `tag` and later stages read the MIXED
    * view (their own just-written pins for the partitions they touched,
    * the committed pins for everything else) through [[SnapshotStage.
    * read]], while manifest readers see nothing until the ONE deferred
    * [[SnapshotStage.commit]] flips every staged root atomically. The
    * chained topologies (stage N's input is stage N-1's output)
    * otherwise hand-roll exactly this pin bookkeeping per root.
    *
    * Contracts inherited from the lane: a ZOMBIE tag refuses at
    * construction; an exact replay is the CALLER's short-circuit
    * ([[SnapshotStage.alreadyCommitted]]) — publishes refuse in that
    * state; a crashed cycle's half-written generations are invisible
    * (no commit happened) and the replay rewrites them idempotently;
    * a `touched` partition the publish did not re-fill DROPS its pin
    * (the retraction shape [[commitSnapshot]] cannot express). Pinned
    * sidecars whose specs ride the manifest are re-derived per publish
    * and their re-pins join the same deferred commit.
    */
  final class SnapshotStage private[io] (spark: SparkSession, dir: String,
                                         manifestPrefix: String,
                                         tag: String) {
    private val cur = Versioned.latestManifest(dir, manifestPrefix)
    cur.foreach { case (curTag, _) =>
      require(tag >= curTag,
        s"stale stage refused: tag '$tag' is older than published " +
          s"'$curTag' for '$manifestPrefix' — already committed, or a " +
          "zombie replay")
    }

    /** True when `tag` already committed — the caller's replay
      * short-circuit; [[publish]]/[[commit]] refuse in that state.
      */
    val alreadyCommitted: Boolean = cur.exists(_._1 == tag)
    private val entries0 = cur.map(_._2).getOrElse(Map.empty[String, String])
    private var entries = entries0
    private var committed = false

    /** `prefix`'s pins in the MIXED view: staged publishes overlay the
      * committed pins; before any publish this IS the committed view.
      */
    def pins(prefix: String): Map[String, String] =
      entries.collect { case (k, g) if k.startsWith(s"$prefix/") =>
        k.stripPrefix(s"$prefix/") -> g }

    /** The spec pinned in the COMMITTED manifest for `prefix`'s bloom
      * sidecar, if any — stages consult it to route reads through the
      * sidecar (e.g. the retraction probe).
      */
    def pinnedBloomSpec(prefix: String): Option[(String, Long, Long)] =
      FileStats.pinnedBloomSpec(entries0, prefix)

    /** Read `prefix` at the mixed view, optionally restricted. */
    def read(prefix: String, partCol: String,
             touched: Option[Seq[Any]] = None): DataFrame =
      Versioned.readSnapshotAt(spark, dir, prefix, partCol, pins(prefix),
        touched)

    /** Stage one root: write `df`'s partitions as generation `tag`,
      * drop the `touched` partitions' pins the write did not re-fill,
      * overlay the present set, and re-derive any spec-pinned sidecars
      * for the touched partitions. Nothing is visible to manifest
      * readers until [[commit]]. @return the present partition values.
      */
    def publish(prefix: String, partCol: String,
                df: DataFrame, touched: Seq[Any] = Nil,
                filesPerPartition: Int = 1): Set[Any] = {
      require(!committed, s"stage '$tag' already committed")
      require(!alreadyCommitted,
        s"publish into already-committed tag '$tag' — the caller must " +
          "short-circuit the replay (alreadyCommitted)")
      val present = Versioned.writeSnapshotPartitions(df, dir, prefix,
        partCol, tag, filesPerPartition)
      entries = entries --
        touched.map(v => Versioned.snapshotPinKey(prefix, v)) ++
        present.map(v => Versioned.snapshotPinKey(prefix, v) -> tag)
      // spec-pinned sidecars move with the data they describe; their
      // re-pins join the same deferred commit (stats flip with data)
      val touchedAll = (touched ++ present).distinct
      val dataPins2 = pins(prefix)
      def repinSide(sidePrefix: String, newPins: Set[Any]): Unit =
        entries = entries --
          touchedAll.map(v => Versioned.snapshotPinKey(sidePrefix, v)) ++
          newPins.map(v => Versioned.snapshotPinKey(sidePrefix, v) -> tag)
      FileStats.pinnedZoneSpec(entries0, prefix).foreach { statCol =>
        repinSide(FileStats.sidecarPrefix(prefix),
          FileStats.writeSnapshotSidecar(spark, dir, prefix, partCol,
            statCol, dataPins2, touchedAll, tag))
      }
      FileStats.pinnedBloomSpec(entries0, prefix).foreach {
        case (keyCol, items, bits) =>
          repinSide(FileStats.bloomPrefix(prefix),
            FileStats.writeSnapshotBloomSidecar(spark, dir, prefix,
              partCol, keyCol, dataPins2, touchedAll, tag, items, bits))
      }
      FileStats.pinnedZoneMultiSpec(entries0, prefix).foreach { statCols =>
        repinSide(FileStats.sidecarMultiPrefix(prefix),
          FileStats.writeSnapshotSidecarMulti(spark, dir, prefix,
            partCol, statCols, dataPins2, touchedAll, tag))
      }
      present
    }

    /** The one commit point: every staged root's pins (and their
      * sidecars') flip atomically.
      */
    def commit(): String = {
      require(!committed && !alreadyCommitted,
        s"stage '$tag' already committed")
      committed = true
      Versioned.commitManifest(dir, manifestPrefix, tag, entries)
    }
  }

  /** Open a staged multi-root publish at `tag`. See [[SnapshotStage]]. */
  def stage(spark: SparkSession, dir: String, manifestPrefix: String,
            tag: String): SnapshotStage =
    new SnapshotStage(spark, dir, manifestPrefix, tag)

  /** Read `prefix` with every applicable lane resolved. See class doc.
    *
    * @param manifestPrefix snapshot lane when set (pins resolve
    *                       through the manifest); in-place partitioned
    *                       lane when None
    * @param asOfTag        time travel to a committed manifest tag
    *                       (requires `manifestPrefix`)
    * @param parts          partition-value restriction (plan-time
    *                       pruning)
    * @param ranges         interval predicates (column, lo, hi) —
    *                       skipped through the multi-column sidecar
    *                       when present (either lane), else the
    *                       single-column sidecar for a lone range,
    *                       else applied as residuals only
    * @param point          equality probe (column, value) — skipped
    *                       through the bloom sidecar when present
    * @param pointKeys      batched equality probe (column, values) —
    *                       the "fetch these N rows by key" shape: ONE
    *                       sidecar pass plans the whole batch (capped
    *                       at [[FileStats.MaxBatchedLookupKeys]] — a
    *                       bigger set is a broadcast-join workload);
    *                       exact `isin` residual, and the DV lanes
    *                       apply like every other read
    * @param mergeSchema    additive schema evolution across
    *                       generations (union schema, null-filled)
    */
  def readTable(spark: SparkSession,
                dir: String,
                prefix: String,
                partCol: String,
                manifestPrefix: Option[String] = None,
                asOfTag: Option[String] = None,
                parts: Option[Seq[Any]] = None,
                ranges: Seq[(String, Option[Any], Option[Any])] = Nil,
                point: Option[(String, Any)] = None,
                pointKeys: Option[(String, Seq[Any])] = None,
                mergeSchema: Boolean = false): DataFrame = {
    require(asOfTag.isEmpty || manifestPrefix.isDefined,
      "asOfTag requires manifestPrefix — time travel is a manifest-lane " +
        "feature (the in-place lane mutates and keeps no history)")
    require(pointKeys.forall(_._2.nonEmpty),
      "pointKeys with an empty key batch — an empty fetch is a caller " +
        "bug, not an empty result")
    val snapshot = manifestPrefix.isDefined

    // resolve the manifest ONCE, as-of or latest — the one point where
    // the time-travel tag is honored. Every pin lookup below (data,
    // zone, multi-zone, bloom, DV) derives from this one entries map,
    // so a commit landing mid-read can never pair one generation's
    // sidecar with another generation's data or vectors.
    val entries: Map[String, String] = manifestPrefix match {
      case Some(mp) => Versioned.resolveManifest(dir, mp, asOfTag)
      case None => Map.empty
    }
    def pinsOf(p: String): Map[String, String] = Versioned.pinsIn(entries, p)

    def inPlaceHas(p: String): Boolean =
      Versioned.partitionedHasData(GraftShim.hadoopConf(spark),
        Versioned.partitionedRoot(dir, p))

    // ---- file skipping: each Some(files) is a conservative superset
    // of the rows' holders; two independent prunings intersect
    val zoneCand: Option[Seq[String]] =
      if (ranges.isEmpty ||
          ranges.forall { case (_, lo, hi) => lo.isEmpty && hi.isEmpty })
        None
      else if (snapshot) {
        val zmPins = pinsOf(FileStats.sidecarMultiPrefix(prefix))
        val zPins = pinsOf(FileStats.sidecarPrefix(prefix))
        if (zmPins.nonEmpty)
          Some(FileStats.candidateFilesMultiAt(spark, dir, prefix,
            zmPins, ranges, parts))
        else if (zPins.nonEmpty && ranges.size == 1)
          ranges.head match { case (_, lo, hi) =>
            Some(FileStats.candidateFilesAt(spark, dir, prefix, zPins,
              lo, hi, parts))
          }
        else None
      } else if (inPlaceHas(FileStats.sidecarMultiPrefix(prefix)))
        Some(FileStats.candidateFilesMulti(spark, dir, prefix, ranges,
          parts))
      else if (ranges.size == 1 &&
          inPlaceHas(FileStats.sidecarPrefix(prefix)))
        ranges.head match { case (_, lo, hi) =>
          Some(FileStats.candidateFiles(spark, dir, prefix, lo, hi, parts))
        }
      else None

    val bloomCand: Option[Seq[String]] = point.flatMap { case (_, v) =>
      if (snapshot) {
        val bPins = pinsOf(FileStats.bloomPrefix(prefix))
        if (bPins.isEmpty) None
        else Some(FileStats.bloomCandidateFilesAt(spark, dir, prefix,
          bPins, v, parts))
      } else if (inPlaceHas(FileStats.bloomPrefix(prefix)))
        Some(FileStats.bloomCandidateFiles(spark, dir, prefix, v, parts))
      else None
    }

    // batched key probe: one sidecar pass for the whole batch, where N
    // single probes would cost N passes
    val keysCand: Option[Seq[String]] = pointKeys.flatMap { case (_, vs) =>
      if (snapshot) {
        val bPins = pinsOf(FileStats.bloomPrefix(prefix))
        if (bPins.isEmpty) None
        else Some(FileStats.bloomCandidateFilesForKeysAt(spark, dir,
          prefix, bPins, vs, parts))
      } else if (inPlaceHas(FileStats.bloomPrefix(prefix)))
        Some(FileStats.bloomCandidateFilesForKeys(spark, dir, prefix,
          vs, parts))
      else None
    }

    val cand: Option[Seq[String]] =
      Seq(zoneCand, bloomCand, keysCand).flatten
        .reduceOption(_ intersect _)

    // ---- base read
    val dataPins = if (snapshot) pinsOf(prefix) else Map.empty[String, String]
    val root = if (snapshot) Versioned.snapshotRoot(dir, prefix)
               else Versioned.partitionedRoot(dir, prefix)
    val base: DataFrame = cand match {
      case Some(files) if files.isEmpty =>
        if (snapshot)
          Versioned.readSnapshotAt(spark, dir, prefix, partCol, dataPins,
            None, mergeSchema).filter(lit(false))
        else
          spark.read.option("mergeSchema", mergeSchema).parquet(root)
            .filter(lit(false))
      case Some(files) =>
        // skipping never changes WHAT is returned — including the
        // SCHEMA: a pruned candidate set may miss every file that
        // carries an evolved column, so the read carries the schema of
        // EVERY pinned generation (their union under mergeSchema,
        // missing columns read as null). Snapshot schemas are probed
        // ([[Versioned.snapshotSchema]], no footer job); the in-place
        // lane, or a probe that cannot decide, lets Spark infer.
        val probed =
          if (snapshot)
            Versioned.snapshotSchema(spark, root, partCol, dataPins,
              mergeSchema)
          else None
        probed match {
          case Some(s) =>
            spark.read.schema(s).option("basePath", root)
              .parquet(files: _*).drop("__gen")
          case None =>
            val df0 = spark.read.option("mergeSchema", mergeSchema)
              .option("basePath", root).parquet(files: _*)
            val df = if (snapshot) df0.drop("__gen") else df0
            if (!mergeSchema) df
            else {
              // the union schema from the UNPRUNED read, the pruned
              // frame aligned to it (missing columns null-filled)
              val fullSchema =
                (if (snapshot)
                  Versioned.readSnapshotAt(spark, dir, prefix, partCol,
                    dataPins, None, mergeSchema = true)
                else
                  spark.read.option("mergeSchema", true).parquet(root)).schema
              val have = df.columns.toSet
              val aligned = fullSchema.fields.foldLeft(df) { (d, f) =>
                if (have(f.name)) d
                else d.withColumn(f.name, lit(null).cast(f.dataType))
              }
              aligned.select(fullSchema.fieldNames.map(col): _*)
            }
        }
      case None =>
        if (snapshot)
          Versioned.readSnapshotAt(spark, dir, prefix, partCol, dataPins,
            parts, mergeSchema)
        else {
          val full = spark.read.option("mergeSchema", mergeSchema)
            .parquet(root)
          parts match {
            // literal isin resolves at plan time as a partition filter
            case Some(vs) => full.filter(col(partCol).isin(vs: _*))
            case None => full
          }
        }
    }

    // ---- residuals: exactness never depends on which prunings fired
    val withParts = parts match {
      case Some(vs) if cand.isDefined => base.filter(col(partCol).isin(vs: _*))
      case _ => base
    }
    val rangeResid = ranges.flatMap { case (c, lo, hi) =>
      lo.map(v => col(c) >= lit(v)) ++ hi.map(v => col(c) <= lit(v))
    }.reduceOption(_ && _).getOrElse(lit(true))
    val pointResid = point.map { case (c, v) => col(c) === lit(v) }
      .getOrElse(lit(true))
    val keysResid = pointKeys.map { case (c, vs) => col(c).isin(vs: _*) }
      .getOrElse(lit(true))
    val filtered = withParts.filter(rangeResid && pointResid && keysResid)

    // ---- deletion vectors, both postures; the DV key column is read
    // off the vectors themselves (their schema is exactly (partCol,
    // key)), so a caller can never forget them and resurrect deleted
    // rows.
    // in-place lane = ERASURE: applies to every read including as-of
    // time travel (a GDPR erasure must reach history)
    val erased =
      if (!Versioned.dvHasData(dir, prefix)) filtered
      else {
        val dv = Versioned.readPartitioned(spark, dir,
          Versioned.dvPrefix(prefix))
        filtered.join(dv, Seq(partCol,
          Versioned.dvKeyColumn(prefix, partCol, dv.columns.toSeq)),
          "left_anti")
      }
    // manifest-pinned lane = TRANSACTIONAL: the vectors the RESOLVED
    // manifest pins — an as-of read shows the delete state as of that
    // tag, not today's (isolation, the audit/rollback posture). Only
    // the vectors of partitions this read can return apply.
    if (!snapshot) erased
    else {
      val within = parts.fold(dataPins.keys) { vs =>
        val want = vs.map(_.toString).toSet
        dataPins.keys.filter(want)
      }
      Versioned.applyPinnedDeleteVectors(spark, dir, prefix, partCol, None,
        pinsOf(Versioned.dvPrefix(prefix)), within, erased)
    }
  }

  /** Metadata-only aggregates through the facade — the last reader API
    * folded under the audit: per-partition row count, null count and
    * min/max of the zone sidecar's stat column, answered from the
    * SIDECAR alone (zero data files listed, opened, or scheduled).
    * Snapshot lane when `manifestPrefix` is set (the generations the
    * newest manifest pins), in-place lane otherwise. Both lanes REFUSE
    * roots with outstanding delete vectors — sidecar stats count
    * soft-deleted rows, so the exact claim only holds on a clean root
    * (purge first); refusal beats a silently-wrong count.
    */
  def statsTable(spark: SparkSession, dir: String, prefix: String,
                 manifestPrefix: Option[String] = None): DataFrame =
    manifestPrefix match {
      case Some(mp) => FileStats.statsOnlyAggSnapshot(spark, dir, mp,
        prefix)
      case None => FileStats.statsOnlyAgg(spark, dir, prefix)
    }

  /** [[statsTable]] for the MULTI-column sidecar: per-partition row
    * count plus nulls/min/max of every indexed column (column list
    * read off the sidecar schema), both lanes, same dirty-DV refusal.
    */
  def statsTableMulti(spark: SparkSession, dir: String, prefix: String,
                      manifestPrefix: Option[String] = None): DataFrame =
    manifestPrefix match {
      case Some(mp) => FileStats.statsOnlyAggMultiSnapshot(spark, dir,
        mp, prefix)
      case None => FileStats.statsOnlyAggMulti(spark, dir, prefix)
    }
}
