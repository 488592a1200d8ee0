package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.types.StructType

/** Versioned parquet staging — the reference's GCS object versioning
  * (`add_version`, reference R/utils.R:30-52: objects named
  * `prefix__<timestamp>_<sha>__.parquet`, stages always read the newest
  * matching object, R/preprocessing-surveys.R:69-73).
  *
  * Re-expressed for a distributed store: each write lands in a
  * `prefix__<tag>__.parquet` directory; `resolveLatest` lists the
  * prefix (a driver-side metadata operation, O(versions)) and reads the
  * lexicographically newest tag — timestamps are zero-padded so
  * lexicographic == chronological. On object stores the same naming
  * works over a bucket listing.
  */
object Versioned {

  def write(df: DataFrame, dir: String, prefix: String, tag: String): String = {
    val path = s"$dir/${prefix}__${tag}__.parquet"
    graft.core.Jobs.describe(df.sparkSession, s"versioned.write $prefix@$tag") {
      df.write.mode("overwrite").parquet(path)
    }
    path
  }

  /** lz4-compressed variant (S5: arrow::write_parquet(compression="lz4"),
    * reference R/api.R:133-138).
    */
  def writeLz4(df: DataFrame, dir: String, prefix: String, tag: String): String = {
    val path = s"$dir/${prefix}__${tag}__.parquet"
    df.write.mode("overwrite").option("compression", "lz4_raw").parquet(path)
    path
  }

  /** `prefix`'s object names in `dir`, newest first, listed through the
    * Hadoop FileSystem (any store, not only where `java.io.File` works;
    * hidden entries skipped). Empty when `dir` does not exist.
    */
  private def versionNames(dir: String, prefix: String): Seq[String] = {
    val d = new Path(dir)
    val names =
      try d.getFileSystem(sessionConf()).listStatus(d).toSeq
        .map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    names.filter(n => !hidden(n) && n.startsWith(s"${prefix}__") &&
        n.endsWith("__.parquet"))
      .sorted(Ordering[String].reverse)
  }

  /** The Hadoop configuration of the active (else default) session, for
    * metadata listings that take no session argument.
    */
  private def sessionConf(): Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(GraftShim.hadoopConf)
      .getOrElse(new Configuration())

  def resolveLatest(dir: String, prefix: String): Option[String] =
    versionNames(dir, prefix).headOption.map(n => s"$dir/$n")

  /** The newest object of `prefix`, read by [[readObject]]. */
  def readLatest(spark: SparkSession, dir: String, prefix: String): DataFrame =
    readObject(spark, resolveLatest(dir, prefix).getOrElse(
      throw new IllegalArgumentException(s"no versioned object for prefix '$prefix' in $dir")))

  /** The versioned object at `path`: a parquet directory or a single
    * parquet file. Its schema is read from ONE footer of the object's
    * top-level data files on the driver (an object is one write, so it
    * has one schema) with the session's converter, and handed to the
    * reader, so the read launches no schema-inference job. An object
    * whose top level holds no data file (e.g. a partitioned layout) lets
    * Spark infer.
    */
  def readObject(spark: SparkSession, path: String): DataFrame = {
    val conf = GraftShim.hadoopConf(spark)
    dataFiles(conf, new Path(path)).flatMap(_.headOption) match {
      case Some(f) =>
        spark.read.schema(GraftShim.parquetFooterSchema(spark, conf, f))
          .parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** @return true iff `f` (and everything under it) is gone afterwards —
    *         `File.delete` failures must not be swallowed, or [[gc]]
    *         would report a survivor as deleted and
    *         [[overwriteTouchedPartitions]] would report an emptied
    *         partition erased while its directory lives on
    */
  private def deleteRecursively(f: java.io.File): Boolean = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete() || !f.exists()
  }

  /** Retention GC: delete all but the newest `keepLast` versions of
    * `prefix`. Superseded object versions otherwise accumulate forever —
    * a nightly cycle writes a full state object per run, so a year of
    * cycles holds ~365 copies of the state on disk. Driver-side metadata
    * operation, O(versions) listing plus the deletes; the newest version
    * is never eligible, so [[readLatest]] keeps resolving after any GC.
    * On an object store the same walk runs over a bucket listing with
    * batch deletes.
    *
    * Run GC only AFTER the cycle that published the newest version has
    * completed and nothing still holds a pinned path into an older
    * version (the cycles here read prior state before publishing, so
    * "GC at cycle end" is always safe; a concurrent READER of an old
    * version needs a grace period — tag-watermark retention — which
    * `keepLast > 1` provides).
    *
    * @return the deleted object paths (empty when nothing was eligible)
    */
  def gc(dir: String, prefix: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"gc must keep at least one version, got $keepLast")
    val d = new java.io.File(dir)
    val doomed = versionNames(dir, prefix).drop(keepLast)
    // only versions that are VERIFIABLY gone enter the result — a failed
    // delete (permissions, concurrent reader holding a handle on some
    // filesystems) must not be reported as reclaimed
    doomed.filter(n => deleteRecursively(new java.io.File(d, n)))
      .map(n => s"$dir/$n")
  }

  /** Conditional publish for concurrent cycles: refuse to write unless
    * `tag` is strictly newer than the currently published version of
    * `prefix` — the check a single-writer [[write]] skips. Two
    * overlapping cycles publishing into the same store would otherwise
    * interleave silently, with the stale cycle's state resurfacing as
    * "latest". The check-then-write here is driver-side and still has a
    * window between check and rename; a production object store closes
    * it with a conditional put / manifest CAS — this guard is the
    * deterministic contract (stale writers ALWAYS fail loudly) that such
    * a CAS would enforce atomically.
    */
  def writeGuarded(df: DataFrame, dir: String, prefix: String,
                   tag: String): String = {
    resolveLatest(dir, prefix).foreach { cur =>
      // parse the BASENAME (a substring search could false-match a tag
      // or a parent directory that happens to contain "prefix__")
      val curTag = new java.io.File(cur).getName
        .stripPrefix(s"${prefix}__").stripSuffix("__.parquet")
      require(tag > curTag,
        s"stale publish refused: tag '$tag' is not newer than published " +
          s"'$curTag' for prefix '$prefix' — another cycle won the race")
    }
    write(df, dir, prefix, tag)
  }

  // ---- month-partitioned state lane -----------------------------------
  // The object-versioned lane above rewrites the FULL state per publish:
  // right for small rolled-up states and for time travel, wrong for the
  // 100 TB design point where the accumulated state IS the lake and a
  // nightly cycle touches a handful of partitions. This lane keeps ONE
  // stable partitioned directory per prefix and publishes a cycle by
  // dynamic-partition-overwrite of ONLY the touched partitions —
  // O(touched) write I/O instead of O(|state|). The tradeoff is
  // in-place mutation (no version history); production pairs it with a
  // table-format manifest for snapshots, which this API deliberately
  // does not reinvent.

  /** The stable root directory of `prefix`'s partitioned state. */
  def partitionedRoot(dir: String, prefix: String): String =
    s"$dir/${prefix}__parts.parquet"

  /** Initialize (or fully rebuild) a partitioned state root: STATIC
    * overwrite — truncates the whole root, then lays `df` out
    * partitioned by `partCols`. The full-rewrite cost is paid exactly
    * when full-rewrite semantics are asked for (backfill, quantizer
    * rebuild), never per nightly cycle.
    */
  def writePartitionedFull(df: DataFrame, dir: String, prefix: String,
                           partCols: Seq[String],
                           filesPerPartition: Int = 1): String = {
    val root = partitionedRoot(dir, prefix)
    graft.core.Jobs.describe(df.sparkSession,
      s"versioned.writePartitionedFull $prefix") {
      (if (partCols.length == 1) layout(df, partCols.head, filesPerPartition)
       else df)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(partCols: _*).parquet(root)
    }
    root
  }

  /** Cluster rows by the partition column before a partitioned write so
    * each partition lands as `filesPerPartition` files instead of one
    * file per (task × partition) — unclustered, a 32-task write into 8
    * touched months sprays up to 256 footer-dominated small files and
    * the bytes-written win evaporates (measured: the unclustered
    * partitioned publish wrote 6× the OBJECT lane's bytes at sf0.001).
    * `filesPerPartition > 1` salts with a row hash for months too large
    * for one write task — pick it so partition_bytes / files fits an
    * executor's write buffer comfortably.
    */
  private def layout(df: DataFrame, partCol: String,
                     filesPerPartition: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    if (filesPerPartition <= 1) df.repartition(col(partCol))
    else df.repartition(col(partCol),
      pmod(xxhash64(df.columns.map(col): _*), lit(filesPerPartition.toLong)))
  }

  /** Publish one incremental cycle into a partitioned state root:
    * dynamic-partition-overwrite replaces ONLY the partitions present in
    * `df` (untouched partition directories are neither listed for
    * rewrite nor modified — PartitionedStateSpec pins their files
    * byte-identical across a cycle), then any `touched` partition value
    * with NO surviving rows has its directory removed (dynamic overwrite
    * cannot express "this partition became empty"; a retraction that
    * empties a month must still erase it).
    *
    * `df` must not be lineage-backed by a scan of this same root —
    * callers materialize the touched rows first (checkpoint), both to
    * satisfy Spark's self-overwrite guard and because a write that reads
    * its own target mid-replace would be corrupt under failure anyway.
    * Partition values must be path-safe (dates, integers, simple
    * strings): the emptied-partition cleanup locates directories by
    * `value.toString`, so a value Spark would percent-escape in the
    * directory name would not be matched for deletion.
    *
    * @param touched every partition value the cycle may have changed
    *                (collected driver-side by the caller — bounded by
    *                the calendar, not the data)
    */
  def overwriteTouchedPartitions(df: DataFrame, dir: String, prefix: String,
                                 partCol: String, touched: Seq[Any],
                                 filesPerPartition: Int = 1): String = {
    val root = partitionedRoot(dir, prefix)
    // the present-partition set is collected BEFORE the destructive
    // overwrite: collected after, a caller that violated the documented
    // checkpoint requirement would re-execute `df` over the
    // half-replaced root and the emptied-partition cleanup would act on
    // corrupt data — collecting first confines any such violation to the
    // write itself (which Spark's self-overwrite guard also polices)
    val (present, _) = graft.core.Jobs.describe(df.sparkSession,
      s"versioned.overwriteTouched $prefix") {
      val p = df.select(df.col(partCol)).distinct()
        .collect().map(_.get(0)).toSet
      layout(df, partCol, filesPerPartition).write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol).parquet(root)
      (p, ())
    }
    touched.filterNot(present.contains).foreach { v =>
      val gone = deleteRecursively(new java.io.File(root, s"$partCol=$v"))
      require(gone, s"emptied partition $partCol=$v of '$prefix' could " +
        "not be erased — a reader would resurrect rows the cycle retracted")
    }
    root
  }

  /** Read the full partitioned state. */
  def readPartitioned(spark: SparkSession, dir: String,
                      prefix: String): DataFrame =
    spark.read.parquet(partitionedRoot(dir, prefix))

  /** Read ONLY the named partitions of the state — the literal `isin`
    * filter resolves at PLAN time as a partition filter, so untouched
    * partitions are never listed, opened, or scheduled (the
    * PartitionPruningSpec property, applied to state maintenance).
    * Callers pass values collected from the delta (bounded by the
    * calendar); an empty `touched` yields an empty frame of the right
    * schema without scanning anything.
    */
  def readPartitions(spark: SparkSession, dir: String, prefix: String,
                     partCol: String, touched: Seq[Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val full = readPartitioned(spark, dir, prefix)
    if (touched.isEmpty) full.filter(lit(false))
    else full.filter(col(partCol).isin(touched: _*))
  }

  // ---- merge-on-read deletes (deletion vectors) -------------------------
  // The partitioned lane's retraction protocol rewrites every touched
  // partition whole — right when retractions cluster in a few months,
  // wrong for scattered row-level deletes (GDPR erasure across years:
  // each delete rewrites its whole month for one row). Deletion
  // vectors split the cost: a delete APPENDS its keys to a tiny DV
  // sidecar (O(deletes) write, ZERO data files touched); reads
  // anti-join the sidecar (merge-on-read); a periodic PURGE folds the
  // vectors into a real rewrite of only the partitions that still
  // carry deletes and empties the sidecar (merge-on-write, amortized).
  // This is the Delta/Iceberg deletion-vector design expressed with
  // the lane's own primitives — key-addressed rather than
  // row-position-addressed, because keys survive compaction and
  // re-clustering while file positions do not.
  //
  // SINGLE-WRITER CONTRACT: appendDeleteVectors and purgeDeleteVectors
  // are read-merge-write on the DV sidecar, like every publish in the
  // in-place partitioned lane — one mutator at a time per data root
  // (the nightly-cycle posture). Two concurrent delete batches, or a
  // delete racing a purge, can lose keys silently (last writer wins);
  // with GDPR erasure as the motivating case, a lost delete is a
  // compliance failure, so concurrent mutators must serialize through
  // an external lock or route through the manifest lane's guarded
  // commit. Reads (readMergeOnRead) are safe concurrent with anything.

  /** DV sidecar prefix convention for `dataPrefix`. */
  def dvPrefix(dataPrefix: String): String = s"${dataPrefix}_dv"

  /** A purge can erase EVERY vector partition, leaving the root an
    * empty directory parquet cannot infer a schema from — "no data"
    * and "no root" mean the same thing to every DV path.
    */
  private[io] def dvHasData(dir: String, dataPrefix: String): Boolean =
    partitionedHasData(sessionConf(), partitionedRoot(dir, dvPrefix(dataPrefix)))

  /** True when some partition directory of the partitioned root `root`
    * holds a parquet file, listed through the Hadoop FileSystem; an
    * empty or missing root holds no data.
    */
  private[io] def partitionedHasData(conf: Configuration,
                                     root: String): Boolean = {
    def dirs(p: Path) =
      try p.getFileSystem(conf).listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    dirs(new Path(root)).exists(d => d.isDirectory &&
      dirs(d.getPath).exists(_.getPath.getName.endsWith(".parquet")))
  }

  /** The key column of a DV sidecar with columns `cols`: its schema is
    * exactly (partCol, key).
    */
  private[io] def dvKeyColumn(dataPrefix: String, partCol: String,
                              cols: Seq[String]): String = {
    val keyCols = cols.filterNot(_ == partCol)
    require(keyCols.length == 1,
      s"DV sidecar of '$dataPrefix' must carry exactly ($partCol, key), " +
        s"got (${cols.mkString(", ")})")
    keyCols.head
  }

  /** Record row-level deletes WITHOUT touching a data file: union the
    * new keys into the touched partitions' delete vectors (distinct —
    * re-deleting a key, or replaying the whole batch, is a no-op in
    * content). `deletes` carries (partCol, keyCol); the partition
    * column is the same "the delta names the partition" contract as
    * every other lane. Read-merge-write: one mutator at a time per
    * root (the lane's single-writer contract above).
    */
  def appendDeleteVectors(spark: SparkSession, dir: String,
                          dataPrefix: String, partCol: String,
                          keyCol: String, deletes: DataFrame): String = {
    import org.apache.spark.sql.functions.col
    graft.core.Jobs.describe(spark, s"versioned.appendDV $dataPrefix") {
      val dvp = dvPrefix(dataPrefix)
      val touched = deletes.select(col(partCol)).distinct()
        .collect().map(_.get(0)).toSeq
      val prior =
        if (dvHasData(dir, dataPrefix))
          readPartitions(spark, dir, dvp, partCol, touched)
        else deletes.filter(org.apache.spark.sql.functions.lit(false))
      val merged = graft.ext.Exec.checkpointEager(
        prior.select(col(partCol), col(keyCol))
          .unionByName(deletes.select(col(partCol), col(keyCol)))
          .distinct())
      overwriteTouchedPartitions(merged, dir, dvp, partCol, touched)
    }
  }

  /** Merge-on-read: the data root minus its delete vectors — one
    * anti-join on (partition, key); Spark broadcasts the DV side while
    * it is small, which is the whole point of deferring the rewrite.
    * Serves exactly what a purge-then-read would.
    */
  def readMergeOnRead(spark: SparkSession, dir: String,
                      dataPrefix: String, partCol: String,
                      keyCol: String): DataFrame = {
    val data = readPartitioned(spark, dir, dataPrefix)
    if (!dvHasData(dir, dataPrefix)) return data
    val dv = readPartitioned(spark, dir, dvPrefix(dataPrefix))
    data.join(dv, Seq(partCol, keyCol), "left_anti")
  }

  /** Fold the delete vectors in: rewrite ONLY the partitions that
    * still carry deletes (minus-deleted content, the standard
    * overwrite protocol, emptied partitions erased) and clear their
    * vectors. Reads before, during (merge-on-read), and after serve
    * identical rows; afterwards the anti-join cost is gone. @return
    * the purged partition values.
    */
  def purgeDeleteVectors(spark: SparkSession, dir: String,
                         dataPrefix: String, partCol: String,
                         keyCol: String): Seq[Any] = {
    import org.apache.spark.sql.functions.col
    val dvp = dvPrefix(dataPrefix)
    if (!dvHasData(dir, dataPrefix)) return Seq.empty
    val dv = readPartitioned(spark, dir, dvp)
    val touched = dv.select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSeq
    if (touched.isEmpty) return Seq.empty
    val survivors = graft.ext.Exec.checkpointEager(
      readPartitions(spark, dir, dataPrefix, partCol, touched)
        .join(dv, Seq(partCol, keyCol), "left_anti"))
    overwriteTouchedPartitions(survivors, dir, dataPrefix, partCol,
      touched)
    // clearing = overwriting the touched DV partitions with nothing
    overwriteTouchedPartitions(
      dv.filter(org.apache.spark.sql.functions.lit(false)),
      dir, dvp, partCol, touched)
    touched
  }

  // ---- atomic multi-root commit manifest -------------------------------
  // A topology cycle publishes SEVERAL state objects; written one after
  // another, a crash between publishes leaves readers who resolve each
  // prefix's "latest" independently on a MIXED snapshot (survey state at
  // t2, merge still at t1). The manifest closes that window: a tiny JSON
  // object naming each prefix's pinned tag, written LAST via an atomic
  // same-directory rename, with writeGuarded's tag monotonicity enforced
  // at commit — readers resolve every prefix THROUGH the newest manifest
  // and therefore always see one consistent trio; a stale concurrent
  // cycle fails loudly at commit, BEFORE any reader could see its
  // objects; a replayed cycle (same tag, same entries) no-ops. On an
  // object store the rename becomes a conditional put / CAS of the
  // manifest key — the one atomic primitive this lane needs.

  private def manifestFile(dir: String, prefix: String, tag: String) =
    new java.io.File(dir, s"${prefix}__${tag}__.manifest.json")

  private def latestManifestFile(dir: String,
                                 prefix: String): Option[java.io.File] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .map(_.getName)
      .filter(n => n.startsWith(s"${prefix}__") &&
        n.endsWith("__.manifest.json"))
      .sorted(Ordering[String].reverse)
      .headOption.map(new java.io.File(d, _))
  }

  private def parseManifest(f: java.io.File): Map[String, String] =
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(java.nio.file.Files.readString(f.toPath))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** The newest manifest's (tag, prefix → pinned version tag) map. */
  def latestManifest(dir: String,
                     prefix: String): Option[(String, Map[String, String])] =
    latestManifestFile(dir, prefix).map { f =>
      (f.getName.stripPrefix(s"${prefix}__")
        .stripSuffix("__.manifest.json"), parseManifest(f))
    }

  /** A SPECIFIC manifest generation's pins — the time-travel resolve:
    * any tag still inside the keep-last-N retention window
    * ([[gcThroughManifest]] / [[gcSnapshotGenerations]]) reads exactly
    * the snapshot that generation committed. None when `tag` was never
    * committed or has been GC'd.
    */
  def manifestAt(dir: String, prefix: String,
                 tag: String): Option[Map[String, String]] = {
    val f = manifestFile(dir, prefix, tag)
    if (f.isFile) Some(parseManifest(f)) else None
  }

  /** All committed manifest tags, newest first — the time-travel
    * catalog (each is a consistent snapshot within retention).
    */
  def manifestTags(dir: String, prefix: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .map(_.getName)
      .filter(n => n.startsWith(s"${prefix}__") &&
        n.endsWith("__.manifest.json"))
      .map(_.stripPrefix(s"${prefix}__").stripSuffix("__.manifest.json"))
      .sorted(Ordering[String].reverse)
  }

  /** Atomically commit a manifest generation: refuse a tag that is not
    * strictly newer than the published manifest (the [[writeGuarded]]
    * contract, at the one place it protects the whole trio), EXCEPT the
    * exact replay — same tag, same entries — which no-ops, because an
    * at-least-once driver re-running a completed cycle must succeed
    * without effect. Same tag with DIFFERENT entries is refused loudly:
    * that is not a replay, it is two different cycles racing one tag.
    * The write is temp-file + same-directory rename (atomic on POSIX;
    * a conditional put on an object store).
    */
  def commitManifest(dir: String, prefix: String, tag: String,
                     entries: Map[String, String]): String = {
    require(entries.nonEmpty, "empty manifest commit")
    val target = manifestFile(dir, prefix, tag)
    latestManifest(dir, prefix).foreach { case (curTag, curEntries) =>
      if (tag == curTag) {
        require(entries == curEntries,
          s"manifest '$prefix' tag '$tag' already committed with " +
            s"DIFFERENT entries: $curEntries vs $entries — two cycles " +
            "raced one tag")
        return target.getPath
      }
      require(tag > curTag,
        s"stale manifest commit refused: tag '$tag' is not newer than " +
          s"published '$curTag' for '$prefix' — another cycle won the race")
    }
    val json = entries.toSeq.sorted
      .map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    val tmp = java.io.File.createTempFile(s".${prefix}__", ".tmp",
      new java.io.File(dir))
    java.nio.file.Files.writeString(tmp.toPath, json)
    java.nio.file.Files.move(tmp.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    target.getPath
  }

  /** Read `objPrefix` at the version the NEWEST manifest pins — never
    * "latest": a half-published trio is invisible until its manifest
    * commits, so every reader sees one consistent snapshot.
    */
  def readAtManifest(spark: SparkSession, dir: String,
                     manifestPrefix: String, objPrefix: String): DataFrame = {
    val (mTag, entries) = latestManifest(dir, manifestPrefix).getOrElse(
      throw new IllegalArgumentException(
        s"no manifest for prefix '$manifestPrefix' in $dir"))
    val tag = entries.getOrElse(objPrefix,
      throw new IllegalArgumentException(
        s"manifest '$manifestPrefix' @ '$mTag' does not pin '$objPrefix' " +
          s"(pins: ${entries.keys.mkString(", ")})"))
    readObject(spark, s"$dir/${objPrefix}__${tag}__.parquet")
  }

  /** Manifest-level retention GC: keep the newest `keepLast` manifest
    * generations, delete older manifest files AND every object version
    * of a manifest-managed prefix that (a) no surviving manifest pins
    * and (b) is strictly older than the newest surviving pin for its
    * prefix — (b) protects a concurrent cycle's just-written objects
    * whose manifest has not committed yet. Serving keeps working after
    * any GC because the newest manifest and everything it pins always
    * survive.
    */
  def gcThroughManifest(dir: String, manifestPrefix: String,
                        keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"gc must keep at least one manifest, got $keepLast")
    val d = new java.io.File(dir)
    val manifests = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.getName.startsWith(s"${manifestPrefix}__") &&
        f.getName.endsWith("__.manifest.json"))
      .sortBy(_.getName)(Ordering[String].reverse)
    val (kept, doomed) = manifests.splitAt(keepLast)
    val keptPins = kept.map(parseManifest)
    val pinned: Set[(String, String)] =
      keptPins.flatMap(_.toSeq).toSet
    val newestPin: Map[String, String] =
      keptPins.headOption.getOrElse(Map.empty)
    val managed = (keptPins ++ doomed.map(parseManifest))
      .flatMap(_.keys).toSet
    val doomedObjects = managed.toSeq.flatMap { p =>
      Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        .filter { f =>
          val n = f.getName
          n.startsWith(s"${p}__") && n.endsWith("__.parquet") && {
            val tag = n.stripPrefix(s"${p}__").stripSuffix("__.parquet")
            !pinned.contains((p, tag)) &&
              newestPin.get(p).exists(tag < _)
          }
        }
    }
    (doomed ++ doomedObjects)
      .filter(deleteRecursively)
      .map(_.getPath)
  }

  // ---- generation-pinned snapshot lane (partitioned + atomic) ---------
  // The in-place partitioned lane above trades away read isolation: a
  // crash between the topology's three root publishes leaves the roots
  // mixed until the batch is re-applied (covered by spec-pinned replay
  // idempotence, not rollback). This lane restores all-or-nothing READS
  // while keeping O(touched) WRITES: a cycle writes its touched
  // partitions into NEW `__gen=<tag>` SUBDIRECTORIES (prior generations'
  // files are never modified), then ONE manifest pins (root, partition)
  // → generation for every root at a single atomic commit point
  // ([[commitManifest]]). Readers resolve through the manifest: either
  // the full prior trio or the full new trio, never a mix — and a
  // crashed publish's half-written generation dirs are invisible until
  // their manifest commits. This is the minimal per-partition slice of
  // a snapshot table format; at thousands of partitions a reader would
  // assemble per-path reads from the pins instead of the literal
  // disjunction filter used here (documented, not built — the point
  // where adopting a real table format becomes the honest answer).
  //
  // CONVENTION: a cycle's generation string IS its manifest tag — GC
  // uses that to protect in-flight generations newer than the last
  // committed manifest.

  /** The stable root of `prefix`'s generation-pinned state. */
  def snapshotRoot(dir: String, prefix: String): String =
    s"$dir/${prefix}__snap.parquet"

  /** Write `df`'s partitions into their `gen` subdirectories —
    * dynamic overwrite touches ONLY the (partition, gen) leaves present
    * in `df`; every prior generation's files stay byte-identical, so a
    * replayed batch rewrites its own half-written generation and
    * nothing else (no self-overwrite hazard: the plan reads prior-gen
    * directories, the write targets this gen's).
    *
    * The present set is OBSERVED by the write itself: a fresh
    * `Observation` carrying `collect_set(partCol)` rides the frame the
    * write consumes, so `df` is evaluated exactly once and no job runs
    * only to find its partitions (`collect_set` is idempotent, so a
    * retried or speculative task cannot corrupt it). It still names only
    * values `df` carries — never a listing of the root, where a crashed
    * earlier attempt of the same gen can have left leaves for partitions
    * this df no longer carries, which a listing would resurrect into the
    * pins. A null partition value fails the publish: it has no
    * path-safe leaf, so its rows could never be pinned.
    *
    * @return the partition values present in `df` (driver-side,
    *         bounded by the calendar/buckets) — the caller folds them
    *         into the manifest pins; a touched partition NOT in the
    *         returned set became empty and must be dropped from pins
    */
  def writeSnapshotPartitions(df: DataFrame, dir: String, prefix: String,
                              partCol: String, gen: String,
                              filesPerPartition: Int = 1): Set[Any] = {
    val obs = org.apache.spark.sql.Observation()
    writeGeneration(observePartitions(layout(df, partCol, filesPerPartition),
      partCol, obs), dir, prefix, partCol, gen)
    observedPartitions(obs, s"snapshot root '$prefix'@$gen", partCol).toSet
  }

  /** `df` carrying `obs`: the set of its `partCol` values and the count
    * of its rows whose `partCol` is null ([[observedPartitions]] reads
    * both once the action that consumes `df` has returned).
    */
  private def observePartitions(df: DataFrame, partCol: String,
                                obs: org.apache.spark.sql.Observation)
      : DataFrame = {
    import org.apache.spark.sql.functions.{col, collect_set, count, lit}
    df.observe(obs, collect_set(col(partCol)).as("present"),
      (count(lit(1)) - count(col(partCol))).as("nulls"))
  }

  /** The partition values [[observePartitions]] collected over the
    * action it rode. A null partition value fails loudly: it has no
    * path-safe leaf, so its rows could never be pinned (`collect_set`
    * drops nulls, so the set alone would hide them). The action has
    * returned, so the metrics are complete or on their way through the
    * listener bus; the bound only turns a lost event into a loud failure
    * instead of a hang.
    */
  private def observedPartitions(obs: org.apache.spark.sql.Observation,
                                 what: String, partCol: String): Seq[Any] = {
    val row = scala.concurrent.Await.result(obs.future,
      scala.concurrent.duration.Duration(5, "min"))
    require(row.size > 0, s"$what: the action reported no observed metrics")
    require(row.getLong(1) == 0L,
      s"$what: ${row.getLong(1)} row(s) with a null '$partCol' — " +
        "snapshot pins require path-safe partition values")
    row.getSeq[Any](0)
  }

  /** [[writeSnapshotPartitions]] when the caller ALREADY knows the
    * present partition set (e.g. the sidecar writers, whose stats
    * frame's partitions are exactly the touched data pins): no
    * observation rides the write, and `df` — whose lineage may be a
    * full aggregation scan — is computed exactly once, by the write.
    */
  private[io] def writeSnapshotKnown(df: DataFrame, dir: String,
                                     prefix: String, partCol: String,
                                     gen: String,
                                     filesPerPartition: Int): Unit =
    writeGeneration(layout(df, partCol, filesPerPartition), dir, prefix,
      partCol, gen)

  /** Write an already laid-out frame as generation `gen` of `prefix`'s
    * snapshot root (dynamic overwrite of its (partition, gen) leaves).
    */
  private def writeGeneration(laid: DataFrame, dir: String, prefix: String,
                              partCol: String, gen: String): Unit =
    graft.core.Jobs.describe(laid.sparkSession,
      s"versioned.writeSnapshotPartitions $prefix@$gen") {
      laid.withColumn("__gen", org.apache.spark.sql.functions.lit(gen))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol, "__gen").parquet(snapshotRoot(dir, prefix))
    }

  /** Initialize a snapshot root: full static layout under one
    * generation. Returns the present partition values for the initial
    * manifest pins.
    */
  def writeSnapshotFull(df: DataFrame, dir: String, prefix: String,
                        partCol: String, gen: String,
                        filesPerPartition: Int = 1): Set[Any] =
    graft.core.Jobs.describe(df.sparkSession,
      s"versioned.writeSnapshotFull $prefix@$gen") {
      val root = snapshotRoot(dir, prefix)
      layout(df, partCol, filesPerPartition)
        .withColumn("__gen", org.apache.spark.sql.functions.lit(gen))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy(partCol, "__gen").parquet(root)
      // STATIC overwrite wiped the root before writing, so the
      // first-level `partCol=` directories ARE exactly df's present
      // partitions — a driver-side listing, not a second evaluation of
      // `df` (a pre-write `distinct().collect()` re-runs the whole
      // input subtree before the write runs it again: probe-measured
      // as HALF the cost of a fixture whose input is an expensive lazy
      // merge). Values come back as the directory-name strings; every
      // consumer normalizes partition values through `toString` (pin
      // keys, touched-set resolution), and the lane already requires
      // path-safe partition values — same contract as
      // [[overwriteTouchedPartitions]]'s emptied-partition cleanup.
      // (The DYNAMIC twin [[writeSnapshotPartitions]] cannot list: a
      // crashed earlier attempt of the same gen can leave leaves for
      // partitions this df no longer carries, and listing would
      // resurrect them into the pins — it observes the set its own
      // write evaluates instead.)
      Option(new java.io.File(root).listFiles()).map(_.toSeq)
        .getOrElse(Seq.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(s"$partCol="))
        .map { f =>
          val raw = f.getName.stripPrefix(s"$partCol=")
          // enforce the path-safe invariant LOUDLY: a Hive-escaped
          // character (':', '#', '%', …) or a null partition value
          // would round-trip through the directory name as an escaped/
          // sentinel string no reader's toString-normalized touched set
          // ever matches — a silently unresolvable pin. Fail the write
          // instead.
          val un = org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(raw)
          require(un == raw && raw != "__HIVE_DEFAULT_PARTITION__",
            s"snapshot root '$prefix': partition value '$un' of " +
              s"'$partCol' is not path-safe (escaped directory name " +
              s"'$raw') — snapshot pins require path-safe values")
          raw: Any
        }
        .toSet
    }

  /** The manifest key pinning `prefix`'s partition `value`. */
  def snapshotPinKey(prefix: String, value: Any): String =
    s"$prefix/$value"

  /** `prefix`'s (partition-value-string → generation) pins from the
    * NEWEST manifest.
    */
  def snapshotPins(dir: String, manifestPrefix: String,
                   prefix: String): Map[String, String] =
    pinsIn(latestManifest(dir, manifestPrefix).map(_._2).getOrElse(Map.empty),
      prefix)

  /** `prefix`'s (partition-value-string → generation) pins within ONE
    * resolved manifest's entries — every pin lookup of a read derives
    * from the same resolve, so data, sidecar and DV generations can
    * never mix across manifest generations.
    */
  def pinsIn(entries: Map[String, String],
             prefix: String): Map[String, String] =
    entries.collect { case (k, g) if k.startsWith(s"$prefix/") =>
      k.stripPrefix(s"$prefix/") -> g
    }

  /** The entries of the manifest a read resolves through: the newest
    * one (empty when none committed yet), or the committed generation
    * `asOfTag` — failing loudly when that tag was never committed or
    * has been GC'd.
    */
  def resolveManifest(dir: String, manifestPrefix: String,
                      asOfTag: Option[String]): Map[String, String] =
    asOfTag match {
      case None => latestManifest(dir, manifestPrefix).map(_._2)
        .getOrElse(Map.empty)
      case Some(t) => manifestAt(dir, manifestPrefix, t).getOrElse(
        throw new IllegalArgumentException(
          s"no manifest '$manifestPrefix' @ '$t' in $dir — never " +
            "committed, or outside the GC retention window"))
    }

  /** Read `prefix` at the snapshot the newest manifest pins,
    * restricted to `touched` partition values (None = all pinned). The
    * (partition, generation) disjunction is literal, so it resolves at
    * plan time as a partition filter — unpinned generations (crashed or
    * superseded publishes) are never listed, opened, or scheduled.
    */
  def readSnapshotPartitions(spark: SparkSession, dir: String,
                             manifestPrefix: String, prefix: String,
                             partCol: String,
                             touched: Option[Seq[Any]],
                             mergeSchema: Boolean = false): DataFrame =
    readSnapshotAt(spark, dir, prefix, partCol,
      snapshotPins(dir, manifestPrefix, prefix), touched, mergeSchema)

  /** Snapshot-lane TIME TRAVEL: read `prefix` as of a SPECIFIC
    * committed manifest `tag`. Keep-last-N retention
    * ([[gcThroughManifest]] + [[gcSnapshotGenerations]] protect every
    * kept manifest's pinned generations) makes each tag in the window
    * a fully readable consistent snapshot — the audit/debug/rollback
    * read the in-place partitioned lane gave up. Fails loudly when the
    * tag was never committed or has been GC'd.
    */
  def readSnapshotPartitionsAt(spark: SparkSession, dir: String,
                               manifestPrefix: String, tag: String,
                               prefix: String, partCol: String,
                               touched: Option[Seq[Any]]): DataFrame =
    readSnapshotAt(spark, dir, prefix, partCol,
      pinsIn(resolveManifest(dir, manifestPrefix, Some(tag)), prefix),
      touched)

  /** Above this many pins a snapshot read assembles the pinned leaf
    * PATHS directly instead of filtering the whole root through a
    * literal (partition, gen) disjunction: the predicate tree and the
    * full-root file listing both grow with the pin count, while a
    * path-assembled read lists exactly the pinned directories — the
    * thousands-of-partitions posture. Below it the disjunction wins
    * (one listing, plan-time pruning, no per-path driver RPCs).
    */
  val SnapshotPathReadThreshold = 64

  /** [[readSnapshotPartitions]] against an EXPLICIT pin map — the
    * mid-cycle read: a publishing cycle sees its own just-written
    * generations for the partitions it touched and the prior pins for
    * everything else, BEFORE any of it is visible to manifest readers.
    */
  def readSnapshotAt(spark: SparkSession, dir: String, prefix: String,
                     partCol: String, pins: Map[String, String],
                     touched: Option[Seq[Any]],
                     mergeSchema: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val sel = touched match {
      case Some(vs) =>
        val want = vs.map(_.toString).toSet
        pins.filter { case (v, _) => want.contains(v) }
      case None => pins
    }
    val root = snapshotRoot(dir, prefix)
    // mergeSchema = SCHEMA EVOLUTION across generations: a later
    // publish may add columns; merged reads present the union schema
    // with nulls for generations written before the column existed
    // (the standard additive-evolution contract — renames/drops are a
    // rewrite, not an evolution).
    //
    // The schema is PROBED, not inferred: one footer per distinct
    // generation, read on the driver ([[snapshotSchema]]), is handed to
    // the reader, so planning launches no footer job. It is always the
    // schema of PINNED generations — Spark's inference over the whole
    // root reads whichever footer lists first, possibly a superseded,
    // unpinned generation's that lacks a column the pinned one carries
    // (SnapshotLaneSpec pins the single-generation case). A merged read
    // carries the union over ALL of `pins`, so restricting to `touched`
    // never changes the schema; a plain read, the selected generations'
    // shared schema. Only divergent generations without `mergeSchema`,
    // or an unlistable leaf, fall back to Spark's inference.
    val schema = snapshotSchema(spark, root, partCol,
      if (mergeSchema || sel.isEmpty) pins else sel, mergeSchema)
    val reader = schema match {
      case Some(s) => spark.read.schema(s)
      case None => spark.read.option("mergeSchema", mergeSchema)
    }
    if (sel.size > SnapshotPathReadThreshold) {
      // pins always name directories their manifest's commit proved
      // written (emptied partitions leave the pin map), so every path
      // exists; basePath keeps the partition columns in the schema
      val paths = sel.toSeq.sortBy(_._1).map { case (v, g) =>
        s"$root/$partCol=$v/__gen=$g"
      }
      reader.option("basePath", root).parquet(paths: _*).drop("__gen")
    } else {
      val pred = sel.toSeq.sortBy(_._1).map { case (v, g) =>
        col(partCol) === lit(v) && col("__gen") === lit(g)
      }.reduceOption(_ || _).getOrElse(lit(false))
      reader.parquet(root).filter(pred).drop("__gen")
    }
  }

  /** Parquet data files of one (partition, generation) leaf of the
    * snapshot root `root`, listed through the Hadoop FileSystem (any
    * store, not only where `java.io.File` works) and sorted by name;
    * hidden entries are skipped the way Spark's file index skips them.
    * None when the leaf does not exist.
    */
  def leafFiles(conf: Configuration, root: String, partCol: String,
                v: String, gen: String): Option[Seq[FileStatus]] =
    dataFiles(conf, new Path(s"$root/$partCol=$v/__gen=$gen"))

  /** The parquet data files directly under `dir`, sorted by name, hidden
    * entries skipped; None when `dir` does not exist.
    */
  private def dataFiles(conf: Configuration,
                        dir: Path): Option[Seq[FileStatus]] =
    try Some(dir.getFileSystem(conf).listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !hidden(n)
      }
      .sortBy(_.getPath.getName))
    catch { case _: java.io.FileNotFoundException => None }

  /** Names Spark's file index skips. */
  private def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  /** The data schema (partition columns excluded) of a snapshot read
    * over the `sel` pins of `root`, probed on the driver from ONE
    * footer per distinct generation: a generation is one write, so it
    * has one schema. The conversion is the one Spark's schema-
    * inference job runs per file (`readSchemaFromFooter` with the
    * session's converter), without the job.
    *
    * @return the shared schema when the generations agree, their union
    *         (oldest generation's fields first) under `mergeSchema`;
    *         None when they diverge without `mergeSchema`, when `sel`
    *         is empty, or when a leaf is missing or holds no data file
    *         — the caller then lets Spark infer
    */
  def snapshotSchema(spark: SparkSession, root: String, partCol: String,
                     sel: Map[String, String],
                     mergeSchema: Boolean): Option[StructType] = {
    val conf = GraftShim.hadoopConf(spark)
    val perGen = sel.groupBy(_._2).toSeq.sortBy(_._1).map { case (g, vs) =>
      leafFiles(conf, root, partCol, vs.keys.min, g).flatMap(_.headOption)
        .map(GraftShim.parquetFooterSchema(spark, conf, _))
    }
    if (perGen.isEmpty || perGen.exists(_.isEmpty)) None
    else perGen.flatten.distinct match {
      case Seq(one) => Some(one)
      case many if mergeSchema =>
        Some(many.reduce(GraftShim.mergeSchemas(spark, _, _)))
      case _ => None
    }
  }

  /** Read-optimization COMPACTION for snapshot roots — the
    * write-optimized → read-optimized transition (a table format's
    * OPTIMIZE): a hot partition published under a `filesPerPartition`
    * salt (so the write could parallelize) accumulates small files
    * that cost a task launch and a footer read each; compaction
    * rewrites every pinned leaf holding more than `maxFiles` data
    * files into a fresh `tag` generation at `targetFiles` files and
    * re-pins ALL affected roots in ONE atomic manifest commit.
    *
    * Properties inherited from the snapshot lane, by construction:
    *  - readers are never disturbed — prior generations' files are
    *    not modified, and the re-pin is the same all-or-nothing
    *    [[commitManifest]] the publish cycles use (a crash mid-
    *    compaction leaves every reader on the prior pins; the
    *    half-written `tag` generations are invisible and a replay
    *    rewrites them idempotently);
    *  - content is row-for-row preserved — compaction reads exactly
    *    the pinned leaves and writes exactly their union back
    *    (CompactionSpec pins read-after ≡ read-before on every root);
    *  - thin leaves and untouched roots keep their pins AND their
    *    files byte-identical; a replay after commit finds every leaf
    *    thin and no-ops through [[commitManifest]]'s same-tag/
    *    same-entries path;
    *  - superseded fat generations reclaim via
    *    [[gcSnapshotGenerations]] under the usual retention.
    *
    * Scheduling is the caller's policy (nightly, or when a leaf's
    * file count crosses `maxFiles`); the scan here is driver-side
    * listing of pinned leaves only — O(partitions), the same
    * metadata walk the GC does.
    *
    * MANIFEST-PINNED SIDECARS must move with the data they describe:
    * a compacted leaf's old stats/bloom rows name the SUPERSEDED
    * generation's files — row-correct only until
    * [[gcSnapshotGenerations]] reclaims them, then a read-path crash.
    * So compaction re-derives the sidecar rows for every compacted
    * (root, partition) from the just-written generation and folds the
    * sidecar re-pins into the SAME atomic [[commitManifest]] flip
    * (the stats-flip-with-data invariant the sidecar lane documents).
    * The sidecar kind and parameters are resolved explicit-argument-
    * first, then from the manifest's own spec entries: `zoneSidecars`
    * maps a data prefix to its stat column, `bloomSidecars` to its
    * (key column, itemsPerFile, numBits), `multiSidecars` to its
    * multi-column stat list. Compacting a root whose
    * sidecar IS pinned without a resolvable spec is REFUSED — silently
    * stranding pinned stats is exactly the latent crash this closes
    * (SnapshotZoneSpec pins compact → GC → skipping read ≡ full scan
    * for the single-column, bloom AND multi-column lanes).
    *
    * @param roots (prefix, partitionColumn) of every root this
    *              manifest manages that should be considered
    * @return per prefix, the partition values whose leaves were
    *         compacted (empty = nothing exceeded `maxFiles`)
    */
  def compactSnapshotLeaves(spark: SparkSession, dir: String,
                            manifestPrefix: String,
                            roots: Seq[(String, String)], tag: String,
                            maxFiles: Int,
                            targetFiles: Int = 1,
                            zoneSidecars: Map[String, String] = Map.empty,
                            bloomSidecars: Map[String, (String, Long, Long)] =
                              Map.empty,
                            multiSidecars: Map[String, Seq[String]] =
                              Map.empty): Map[String, Set[String]] = {
    require(maxFiles >= targetFiles && targetFiles >= 1,
      s"need maxFiles >= targetFiles >= 1, got $maxFiles/$targetFiles")
    val entries0 = latestManifest(dir, manifestPrefix).map(_._2)
      .getOrElse(throw new IllegalArgumentException(
        s"no manifest for prefix '$manifestPrefix' in $dir"))
    var entries = entries0
    val report = roots.map { case (prefix, partCol) =>
      val pins = pinsIn(entries0, prefix)
      val conf = GraftShim.hadoopConf(spark)
      val fat = pins.filter { case (v, g) =>
        leafFiles(conf, snapshotRoot(dir, prefix), partCol, v, g)
          .exists(_.size > maxFiles)
      }
      if (fat.nonEmpty) {
        def pinned(sidePrefix: String) =
          entries0.keys.exists(_.startsWith(s"$sidePrefix/"))
        // spec resolution order: explicit argument, else the spec the
        // manifest itself pins ([[FileStats.zoneSpecEntry]] /
        // [[FileStats.bloomSpecEntry]]) — the refusal only remains for
        // sidecars created before their spec was pinned anywhere
        val zoneSpec = zoneSidecars.get(prefix)
          .orElse(FileStats.pinnedZoneSpec(entries0, prefix))
        val bloomSpec = bloomSidecars.get(prefix)
          .orElse(FileStats.pinnedBloomSpec(entries0, prefix))
        val multiSpec = multiSidecars.get(prefix)
          .orElse(FileStats.pinnedZoneMultiSpec(entries0, prefix))
        require(!pinned(FileStats.sidecarPrefix(prefix)) ||
            zoneSpec.isDefined,
          s"compaction of '$prefix' refused: the manifest pins a " +
            s"zone-map sidecar (${FileStats.sidecarPrefix(prefix)}) but " +
            "no spec was passed or manifest-pinned — compacting would " +
            "strand stats naming superseded files (a crash after GC)")
        require(!pinned(FileStats.bloomPrefix(prefix)) ||
            bloomSpec.isDefined,
          s"compaction of '$prefix' refused: the manifest pins a bloom " +
            s"sidecar (${FileStats.bloomPrefix(prefix)}) but no spec " +
            "was passed or manifest-pinned — compacting would strand " +
            "filters naming superseded files (a crash after GC)")
        require(!pinned(FileStats.sidecarMultiPrefix(prefix)) ||
            multiSpec.isDefined,
          s"compaction of '$prefix' refused: the manifest pins a " +
            "multi-column zone sidecar " +
            s"(${FileStats.sidecarMultiPrefix(prefix)}) but no spec " +
            "was passed or manifest-pinned — compacting would strand " +
            "stats naming superseded files (a crash after GC)")
        val present = writeSnapshotPartitions(
          readSnapshotAt(spark, dir, prefix, partCol, fat, None), dir, prefix,
          partCol, tag, targetFiles)
        require(present.map(_.toString) == fat.keySet,
          s"compaction of '$prefix' changed the partition set: pinned " +
            s"${fat.keySet} vs rewritten ${present.map(_.toString)} — a " +
            "pinned leaf must never be empty")
        entries = entries ++
          fat.keys.map(v => snapshotPinKey(prefix, v) -> tag)
        // sidecar rows re-derived from the JUST-WRITTEN generation; the
        // re-pins join the same entries map, so one commit flips data
        // and stats together
        val dataPins2 = pins ++ fat.keys.map(_ -> tag)
        zoneSpec.filter(_ => pinned(FileStats.sidecarPrefix(prefix)))
          .foreach { statCol =>
            val zp = FileStats.writeSnapshotSidecar(spark, dir, prefix,
              partCol, statCol, dataPins2, fat.keys.toSeq, tag)
            entries = entries ++ zp.map(v =>
              snapshotPinKey(FileStats.sidecarPrefix(prefix), v) -> tag)
          }
        bloomSpec.filter(_ => pinned(FileStats.bloomPrefix(prefix)))
          .foreach { case (keyCol, items, bits) =>
            val bp = FileStats.writeSnapshotBloomSidecar(spark, dir,
              prefix, partCol, keyCol, dataPins2, fat.keys.toSeq, tag,
              items, bits)
            entries = entries ++ bp.map(v =>
              snapshotPinKey(FileStats.bloomPrefix(prefix), v) -> tag)
          }
        multiSpec.filter(_ => pinned(FileStats.sidecarMultiPrefix(prefix)))
          .foreach { statCols =>
            val mp = FileStats.writeSnapshotSidecarMulti(spark, dir,
              prefix, partCol, statCols, dataPins2, fat.keys.toSeq, tag)
            entries = entries ++ mp.map(v =>
              snapshotPinKey(FileStats.sidecarMultiPrefix(prefix), v) -> tag)
          }
      }
      prefix -> fat.keySet
    }.toMap
    // all roots' re-pins flip atomically; when nothing was fat this is
    // the same-entries replay path only if tag matches the published
    // manifest — otherwise it commits a (harmless) new generation whose
    // pins equal the prior one's, keeping tag monotonicity simple
    if (entries != entries0 ||
        !latestManifest(dir, manifestPrefix).exists(_._1 == tag))
      commitManifest(dir, manifestPrefix, tag, entries)
    report
  }

  // ---- manifest-pinned deletion vectors (snapshot lane) ----------------
  // The in-place DV lane above has ERASURE semantics: vectors apply at
  // read time to every snapshot, including time travel (a GDPR erasure
  // must reach history), and the sidecar mutates in place under a
  // single-writer contract. This lane is the TRANSACTIONAL twin: a
  // delete batch publishes the touched partitions' vectors as a NEW
  // generation of a DV snapshot root and commits ONE manifest — so
  // deletes are atomic with everything else the manifest pins, readers
  // see a delete batch all-or-nothing, a time-traveled read shows the
  // delete STATE AS OF that tag (audit/rollback isolation, not
  // erasure), and concurrent delete batches serialize through
  // commitManifest's tag monotonicity instead of an external lock.
  // Both lanes share [[dvPrefix]] naming but different roots (in-place
  // `__parts` vs snapshot `__snap`), so a table can carry both: pinned
  // vectors for transactional retraction, the in-place lane for
  // erasure that must also rewrite history.

  /** Publish one delete batch as a manifest generation: union the new
    * keys into the touched partitions' PINNED vectors (distinct — a
    * replayed batch is a content no-op and commitManifest's same-tag/
    * same-entries path makes the replay a full no-op), write them as
    * generation `tag`, and commit the manifest with every other pin
    * carried unchanged. Zero data files are touched — the delete is
    * O(deletes) write plus the manifest flip.
    */
  def commitSnapshotDeleteVectors(spark: SparkSession, dir: String,
                                  manifestPrefix: String,
                                  dataPrefix: String, partCol: String,
                                  keyCol: String, deletes: DataFrame,
                                  tag: String): String = {
    import org.apache.spark.sql.functions.{col, lit}
    val dvp = dvPrefix(dataPrefix)
    val (curTag, entries0) = latestManifest(dir, manifestPrefix).getOrElse(
      throw new IllegalArgumentException(
        s"no manifest for prefix '$manifestPrefix' in $dir — the DV " +
          "lane pins vectors onto an EXISTING committed snapshot"))
    // refuse a ZOMBIE replay (tag older than the published manifest)
    // BEFORE any write: its generation rewrite would touch directories
    // later commits may still pin — commitManifest would refuse anyway,
    // but only after the damage
    require(tag >= curTag,
      s"stale delete batch refused: tag '$tag' is older than published " +
        s"'$curTag' for '$manifestPrefix' — already committed, or a " +
        "zombie replay")
    val dvPins0 = pinsIn(entries0, dvp)
    // the caller's `deletes` is evaluated ONCE: its (partition, key)
    // projection is materialized by one (labelled) checkpoint job that
    // also observes the touched partitions, so no job runs only to
    // find them; a null partition value fails before any write
    val obs = org.apache.spark.sql.Observation()
    val keys = graft.ext.Exec.checkpointEager(observePartitions(
      deletes.select(col(partCol), col(keyCol)), partCol, obs))
    val touched = observedPartitions(obs, s"delete batch '$dvp'@$tag",
      partCol)
    val prior =
      if (dvPins0.isEmpty) keys.filter(lit(false))
      else readSnapshotAt(spark, dir, dvp, partCol, dvPins0, Some(touched))
        .select(col(partCol), col(keyCol))
    // prior vectors are read only for `touched`, so the present set IS
    // `touched`: the write needs no observation, and the distinct runs
    // in the shuffle of the write's own partition layout
    writeGeneration(layout(prior.unionByName(keys), partCol, 1).distinct(),
      dir, dvp, partCol, tag)
    val entries = entries0 ++
      touched.map(v => snapshotPinKey(dvp, v) -> tag)
    commitManifest(dir, manifestPrefix, tag, entries)
  }

  /** Merge-on-read at the pins of a SPECIFIC manifest resolve: data
    * minus the delete vectors THAT MANIFEST pins — the transactional
    * read. Pass the pins from [[snapshotPins]] (latest) or a
    * [[manifestAt]] tag (time travel: the delete state as of that
    * generation, NOT today's — the isolation posture; erasure that
    * must reach history is the in-place lane's job).
    */
  def readSnapshotMergeOnRead(spark: SparkSession, dir: String,
                              manifestPrefix: String, dataPrefix: String,
                              partCol: String, keyCol: String,
                              asOfTag: Option[String] = None): DataFrame = {
    val entries = resolveManifest(dir, manifestPrefix, asOfTag)
    val dataPins = pinsIn(entries, dataPrefix)
    applyPinnedDeleteVectors(spark, dir, dataPrefix, partCol, Some(keyCol),
      pinsIn(entries, dvPrefix(dataPrefix)), dataPins.keys,
      readSnapshotAt(spark, dir, dataPrefix, partCol, dataPins, None))
  }

  /** `df`, a snapshot-lane read of `dataPrefix` whose rows come from the
    * `within` partitions (pin-key strings), minus the delete vectors
    * `dvPins` pins: merge-on-read for every snapshot-lane reader.
    *
    * DV generations are immutable, like sidecars, so their rows come
    * from the sidecar row cache ([[FileStats.cachedLeafRows]]: same
    * (path, length, mtime) key, same bound, misses loaded in one job
    * labelled `filestats.sidecarLoad`). Only the leaves of `within`
    * load. They apply as one null-safe plan filter,
    * `NOT coalesce(OR over p of (partCol = p AND key IN keys_p), false)`,
    * each `p` typed as `df`'s partition column; null keys are dropped,
    * as the anti-join never matches them. A warm read then scans only
    * its data: no DV scan, no broadcast. When the rows do not fit the
    * cache, a leaf cannot be listed or the files disagree on schema,
    * the vectors apply as a left anti-join on (partCol, key).
    *
    * @param keyCol the key column the caller expects the vectors to
    *               carry (None: whichever one they carry)
    */
  private[io] def applyPinnedDeleteVectors(spark: SparkSession, dir: String,
                                           dataPrefix: String,
                                           partCol: String,
                                           keyCol: Option[String],
                                           dvPins: Map[String, String],
                                           within: Iterable[String],
                                           df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    def checked(key: String): String = {
      require(keyCol.forall(_ == key), s"delete vectors of '$dataPrefix' " +
        s"carry key '$key', not '${keyCol.get}'")
      key
    }
    val keep = within.toSet
    val sel = dvPins.filter { case (v, _) => keep(v) }
    val dvp = dvPrefix(dataPrefix)
    if (sel.isEmpty) df
    else FileStats.cachedLeafRows(spark, dir, dvp, partCol, sel) match {
      case Some((schema, leaves)) if schema.size == 1 =>
        val partType = df.schema(partCol).dataType
        val key = col(checked(schema.head.name))
        leaves.flatMap { case (v, rows) =>
          val keys = rows.flatMap(r => Option(r.get(0))).distinct
          if (keys.isEmpty) None
          else Some(col(partCol) === lit(v).try_cast(partType) &&
            key.isin(keys: _*))
        }.reduceOption(_ || _)
          .fold(df)(hit => df.filter(!coalesce(hit, lit(false))))
      case _ =>
        val dv = readSnapshotAt(spark, dir, dvp, partCol, sel, None)
        df.join(dv, Seq(partCol, checked(dvKeyColumn(dataPrefix, partCol,
          dv.columns.toSeq))), "left_anti")
    }
  }

  /** Partitions of `prefix` whose pins DIFFER between two committed
    * manifest tags — pure metadata (two manifest reads, zero data
    * I/O). The snapshot-lane write protocol only ever changes a
    * partition's content by pinning a NEW generation (prior
    * generations' files are immutable), so an unmoved pin PROVES the
    * partition's rows are byte-identical between the tags: these are
    * exactly the partitions a changefeed must read. Includes
    * partitions present on one side only (new / emptied).
    */
  def changedPartitions(dir: String, manifestPrefix: String,
                        prefix: String, fromTag: String,
                        toTag: String): Seq[String] = {
    def pinsAt(tag: String): Map[String, String] =
      pinsIn(resolveManifest(dir, manifestPrefix, Some(tag)), prefix)
    val a = pinsAt(fromTag)
    val b = pinsAt(toTag)
    (a.keySet ++ b.keySet).filter(v => a.get(v) != b.get(v)).toSeq.sorted
  }

  /** CHANGEFEED between two committed tags — incremental consumption
    * (a table format's change data feed): row-level `added / removed /
    * changed` between the snapshots the two tags SERVED, computed only
    * over the partitions whose data or DV pins moved
    * ([[changedPartitions]]) — O(churned partitions), zero reads or
    * task scheduling against unmoved partitions (ChangefeedSpec pins
    * it at numFiles level, and equality with the full-diff twin).
    *
    * Semantics per side = that tag's served view:
    *  - manifest-pinned delete vectors apply AS OF each tag, so a
    *    pinned delete batch between the tags surfaces as `removed`;
    *  - the in-place erasure lane applies to BOTH sides equally — an
    *    erased row is absent from both and never surfaces (erasure
    *    rewrites history by design);
    *  - additive schema evolution between the tags is aligned to the
    *    union schema (null-filled), so a row whose only change is a
    *    newly-added column's value reads as `changed`; a column TYPE
    *    change fails loudly (parquet's own merge failure when both
    *    types meet inside one side's read, or the union-type refusal
    *    below when they only meet across sides) — never a silent
    *    coercion.
    *
    * `keyCols` must identify rows across the whole root (include
    * `partCol` when keys repeat across partitions — a row whose
    * PARTITION changed then surfaces as one `removed` + one `added`,
    * the honest statement of a partition move). Output:
    * `keyCols :+ change`, change ∈ {added, removed, changed};
    * unchanged rows are filtered out, so the result is O(churn).
    */
  def snapshotChangefeed(spark: SparkSession, dir: String,
                         manifestPrefix: String, dataPrefix: String,
                         partCol: String, keyCols: Seq[String],
                         fromTag: String, toTag: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val dvp = dvPrefix(dataPrefix)
    val churned = (
      changedPartitions(dir, manifestPrefix, dataPrefix, fromTag, toTag) ++
        changedPartitions(dir, manifestPrefix, dvp, fromTag, toTag)
      ).distinct.sorted
    def side(tag: String): DataFrame = {
      val entries = resolveManifest(dir, manifestPrefix, Some(tag))
      def pinsOf(p: String) = pinsIn(entries, p)
      val pinned = applyPinnedDeleteVectors(spark, dir, dataPrefix, partCol,
        None, pinsOf(dvp), churned, readSnapshotAt(spark, dir, dataPrefix,
          partCol, pinsOf(dataPrefix), Some(churned), mergeSchema = true))
      // the in-place erasure lane reaches every read, including both
      // sides of a changefeed — an erased row never surfaces
      if (!dvHasData(dir, dataPrefix)) pinned
      else {
        val dv = readPartitioned(spark, dir, dvp)
        pinned.join(dv, dv.columns.toSeq, "left_anti")
      }
    }
    val oldSide = side(fromTag)
    val newSide = side(toTag)
    // align both sides to the union schema: additive evolution between
    // the tags must read as changed values, not a schema error
    val union = (oldSide.schema.fields ++ newSide.schema.fields)
      .map(f => f.name -> f.dataType).distinct
    require(union.map(_._1).distinct.size == union.size,
      s"changefeed of '$dataPrefix' refused: a column changed TYPE " +
        s"between '$fromTag' and '$toTag' — that is a rewrite, not an " +
        "additive evolution")
    def aligned(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      val filled = union.foldLeft(df) { case (d, (n, t)) =>
        if (have(n)) d else d.withColumn(n, lit(null).cast(t))
      }
      filled.select(union.map { case (n, _) => col(n) }: _*)
    }
    snapshotDiff(aligned(oldSide), aligned(newSide), keyCols)
  }

  /** The catch-up loop of a changefeed CONSUMER: walk every committed
    * manifest tag after `fromTag` (oldest first) and invoke
    * `consume(prevTag, tag)` once per consecutive window — the
    * maintenance cycles ([[graft.pipeline.Incremental
    * .lshDedupChangefeedCycle]] and its BM25/IVFPQ twins) are the
    * natural callbacks, [[snapshotChangefeed]] the natural read inside
    * one. Returns the last tag consumed; the caller persists it as its
    * cursor and passes it back next time (consume-once-per-window when
    * the callback is idempotent per window, which the cycles are by
    * their replay contracts). `fromTag` is the cursor itself — already
    * consumed, not re-consumed — and must still be inside the GC
    * retention window: a cursor older than retention cannot prove
    * which windows it missed, so it REFUSES rather than silently
    * skipping (re-bootstrap the consumer from a full read instead).
    */
  def followManifest(dir: String, manifestPrefix: String, fromTag: String)
                    (consume: (String, String) => Unit): String = {
    val tags = manifestTags(dir, manifestPrefix).reverse // oldest first
    require(tags.contains(fromTag),
      s"consumer cursor '$fromTag' is not a committed manifest tag of " +
        s"'$manifestPrefix' (never committed, or outside the GC " +
        "retention window) — the missed windows are unknowable; " +
        "re-bootstrap from a full read")
    val window = tags.dropWhile(_ != fromTag)
    window.sliding(2).foreach {
      case Seq(a, b) => consume(a, b)
      case _ => // a single element: nothing new to consume
    }
    window.last
  }

  /** Fold the pinned vectors in: rewrite ONLY the delete-carrying
    * partitions' data minus-deleted as generation `tag`, DROP those
    * partitions' DV pins, and commit once — reads before, during and
    * after serve identical rows, and afterwards the anti-join cost is
    * gone. The superseded data and DV generations reclaim under
    * [[gcSnapshotGenerations]] like any other.
    *
    * MANIFEST-PINNED SIDECARS move with the rewritten data (the
    * [[compactSnapshotLeaves]] invariant): after a purge the old
    * sidecar rows name the superseded generation's files — and with
    * the DV pins now dropped, a skipping read planned through the
    * stale pins would serve PRE-PURGE rows, i.e. the purged deletes
    * RESURRECT (then crash outright once [[gcSnapshotGenerations]]
    * reclaims the superseded files). So every pinned sidecar of the
    * touched partitions is re-derived from the just-written survivors
    * and its re-pins ride the SAME commit; specs resolve explicit-
    * argument-first, then the manifest's own spec entries, and a
    * sidecar pinned with NO resolvable spec refuses the purge before
    * any write (SnapshotDvSpec pins purge → GC → skipping ≡ full scan
    * and the refusal).
    *
    * @return the purged partition values (empty = no pinned vectors).
    */
  def purgeSnapshotDeleteVectors(spark: SparkSession, dir: String,
                                 manifestPrefix: String,
                                 dataPrefix: String, partCol: String,
                                 keyCol: String, tag: String,
                                 zoneSpec: Option[String] = None,
                                 bloomSpec: Option[(String, Long, Long)] =
                                   None,
                                 multiSpec: Option[Seq[String]] =
                                   None): Seq[String] = {
    import org.apache.spark.sql.functions.col
    val dvp = dvPrefix(dataPrefix)
    val (curTag, entries0) = latestManifest(dir, manifestPrefix).getOrElse(
      throw new IllegalArgumentException(
        s"no manifest for prefix '$manifestPrefix' in $dir"))
    require(tag >= curTag,
      s"stale purge refused: tag '$tag' is older than published " +
        s"'$curTag' for '$manifestPrefix'")
    val dvPins = pinsIn(entries0, dvp)
    if (dvPins.isEmpty) return Seq.empty
    def pinnedSide(sidePrefix: String) =
      entries0.keys.exists(_.startsWith(s"$sidePrefix/"))
    val zSpec = zoneSpec
      .orElse(FileStats.pinnedZoneSpec(entries0, dataPrefix))
    val bSpec = bloomSpec
      .orElse(FileStats.pinnedBloomSpec(entries0, dataPrefix))
    val mSpec = multiSpec
      .orElse(FileStats.pinnedZoneMultiSpec(entries0, dataPrefix))
    def refuse(sidePrefix: String, what: String, spec: Option[Any]): Unit =
      require(!pinnedSide(sidePrefix) || spec.isDefined,
        s"purge of '$dataPrefix' refused: the manifest pins a $what " +
          s"sidecar ($sidePrefix) but no spec was passed or " +
          "manifest-pinned — purging would strand stats naming " +
          "superseded files, resurrecting the purged deletes (a crash " +
          "after GC)")
    refuse(FileStats.sidecarPrefix(dataPrefix), "zone-map", zSpec)
    refuse(FileStats.bloomPrefix(dataPrefix), "bloom", bSpec)
    refuse(FileStats.sidecarMultiPrefix(dataPrefix), "multi-column zone",
      mSpec)
    val dataPins = pinsIn(entries0, dataPrefix)
    val touched = dvPins.keys.toSeq.sorted
    val dv = readSnapshotAt(spark, dir, dvp, partCol, dvPins, None)
    val survivors = graft.ext.Exec.checkpointEager(
      readSnapshotAt(spark, dir, dataPrefix, partCol, dataPins,
          Some(touched))
        .join(dv, Seq(partCol, keyCol), "left_anti"))
    val present = writeSnapshotPartitions(survivors, dir, dataPrefix,
      partCol, tag)
    // a partition whose every row was deleted leaves the DATA pins too
    var entries = (entries0 --
      touched.map(v => snapshotPinKey(dataPrefix, v)) --
      touched.map(v => snapshotPinKey(dvp, v))) ++
      present.map(v => snapshotPinKey(dataPrefix, v) -> tag)
    // sidecars re-derived from the just-written survivors; an emptied
    // partition yields no sidecar rows and its pin drops with the data
    // pin. All re-pins join the same entries map — one commit flips
    // data, dropped vectors and stats together.
    val dataPins2 = dataPins -- touched ++ present.map(_.toString -> tag)
    def repin(sidePrefix: String, newPins: Set[Any]): Unit =
      entries = entries --
        touched.map(v => snapshotPinKey(sidePrefix, v)) ++
        newPins.map(v => snapshotPinKey(sidePrefix, v) -> tag)
    zSpec.filter(_ => pinnedSide(FileStats.sidecarPrefix(dataPrefix)))
      .foreach { statCol =>
        repin(FileStats.sidecarPrefix(dataPrefix),
          FileStats.writeSnapshotSidecar(spark, dir, dataPrefix, partCol,
            statCol, dataPins2, touched, tag))
      }
    bSpec.filter(_ => pinnedSide(FileStats.bloomPrefix(dataPrefix)))
      .foreach { case (kc, items, bits) =>
        repin(FileStats.bloomPrefix(dataPrefix),
          FileStats.writeSnapshotBloomSidecar(spark, dir, dataPrefix,
            partCol, kc, dataPins2, touched, tag, items, bits))
      }
    mSpec.filter(_ => pinnedSide(FileStats.sidecarMultiPrefix(dataPrefix)))
      .foreach { statCols =>
        repin(FileStats.sidecarMultiPrefix(dataPrefix),
          FileStats.writeSnapshotSidecarMulti(spark, dir, dataPrefix,
            partCol, statCols, dataPins2, touched, tag))
      }
    commitManifest(dir, manifestPrefix, tag, entries)
    touched
  }

  /** Generation GC for a snapshot root: a (partition, gen) directory is
    * reclaimable iff no KEPT manifest pins it AND its gen is strictly
    * older than the newest kept manifest's tag — the second condition
    * protects an in-flight cycle's just-written generation (its gen ==
    * its future manifest tag, which is newer by the [[commitManifest]]
    * monotonicity contract). Call per root after [[gcThroughManifest]]
    * decides which manifests survive; serving keeps working because the
    * newest manifest's pins always survive.
    */
  def gcSnapshotGenerations(dir: String, manifestPrefix: String,
                            prefix: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"gc must keep at least one manifest, got $keepLast")
    val d = new java.io.File(dir)
    val manifests = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.getName.startsWith(s"${manifestPrefix}__") &&
        f.getName.endsWith("__.manifest.json"))
      .sortBy(_.getName)(Ordering[String].reverse)
      .take(keepLast)
    if (manifests.isEmpty) return Seq.empty
    val newestTag = manifests.head.getName
      .stripPrefix(s"${manifestPrefix}__").stripSuffix("__.manifest.json")
    val live: Set[(String, String)] = manifests.flatMap(parseManifest)
      .collect { case (k, g) if k.startsWith(s"$prefix/") =>
        (k.stripPrefix(s"$prefix/"), g)
      }.toSet
    val root = new java.io.File(snapshotRoot(dir, prefix))
    Option(root.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.contains("="))
      .flatMap { pDir =>
        val v = pDir.getName.substring(pDir.getName.indexOf('=') + 1)
        Option(pDir.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          .filter(g => g.isDirectory && g.getName.startsWith("__gen="))
          .filter { g =>
            val gen = g.getName.stripPrefix("__gen=")
            !live.contains((v, gen)) && gen < newestTag
          }
      }
      .filter(deleteRecursively)
      .map(_.getPath)
  }

  /** Snapshot diff between two versions of a keyed table — the audit a
    * versioned store runs between [[write]]s: which keys were added,
    * removed, or changed. One full-outer equi-join on the key plus
    * null-safe column compares; unchanged keys are filtered out, so the
    * output is O(churn), not O(table). At scale both sides would be
    * bucketed on the key and the join exchange-free — the operator is a
    * single shuffle either way.
    *
    * Both frames must share a schema; keys are assumed non-null (they
    * identify rows). Returns `keyCols :+ change` with
    * `change ∈ {added, removed, changed}`.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(oldDf.columns.sorted.sameElements(newDf.columns.sorted),
      s"schema mismatch: ${oldDf.columns.mkString(",")} vs ${newDf.columns.mkString(",")}")
    val valueCols = oldDf.columns.filterNot(keyCols.contains).toSeq
    def side(df: DataFrame, suffix: String) =
      valueCols.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + suffix))
        .withColumn(s"__present$suffix", lit(true))
    val joined = side(oldDf, "__old")
      .join(side(newDf, "__new"), keyCols, "full_outer")
    val anyChanged = valueCols
      .map(c => !(col(c + "__old") <=> col(c + "__new")))
      .reduceOption(_ || _).getOrElse(lit(false))
    joined
      .withColumn("change",
        when(col("__present__old").isNull, "added")
          .when(col("__present__new").isNull, "removed")
          .when(anyChanged, "changed"))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  /** [[snapshotDiff]] with payload: changed/added rows carry the NEW
    * value columns (removed rows carry nulls) — the O(churn) artifact a
    * versioned store ships downstream instead of the full snapshot.
    * Inverse is [[applyPatch]].
    */
  def snapshotPatch(oldDf: DataFrame, newDf: DataFrame,
                    keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val valueCols = newDf.columns.filterNot(keyCols.contains).toSeq
    snapshotDiff(oldDf, newDf, keyCols)
      .join(newDf, keyCols, "left")
      .select(keyCols.map(col) ++ (col("change") +: valueCols.map(col)): _*)
  }

  /** Replay a [[snapshotPatch]] onto the old snapshot: drop removed and
    * changed keys, append the patch's added/changed payloads. One
    * anti-join plus a union — `applyPatch(old, snapshotPatch(old, new))
    * == new` row-for-row (the q138 oracle checks exactly that).
    */
  def applyPatch(oldDf: DataFrame, patch: DataFrame,
                 keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val touched = patch.select(keyCols.map(col): _*)
    val incoming = patch.filter(col("change").isin("added", "changed"))
      .select(oldDf.columns.map(col): _*)
    oldDf.join(touched, keyCols, "left_anti").unionByName(incoming)
  }

  /** S13 — local fallback source: try the primary loader, fall back to a
    * bundled fixture (packaged lw_coeffs snapshot,
    * R/preprocessing-surveys.R:1221-1236).
    */
  def withFallback(primary: => DataFrame, fallback: => DataFrame): DataFrame =
    scala.util.Try(primary).getOrElse(fallback)
}
