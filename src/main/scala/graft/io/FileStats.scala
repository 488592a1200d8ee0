package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.functions._

/** File-level zone maps (data skipping) for partitioned parquet roots.
  *
  * Partition pruning eliminates whole directories, but a selective
  * predicate on a NON-partition column still schedules every file of the
  * surviving partitions — at the 100 TB design point that is the
  * difference between reading a month and reading a month's worth of
  * footers plus row groups that a min/max check would have excluded
  * before any task launched. Parquet's own row-group statistics prune
  * only AFTER a task has opened the footer; a file-level sidecar prunes
  * at PLAN time on the driver, the way a table format's `add.stats`
  * entries do (Delta data skipping, Iceberg manifests), without
  * adopting a table format.
  *
  * The sidecar holds one row per (partition value, file): row count,
  * null count, and min/max of ONE stat column, and is ITSELF a
  * partitioned root (mirroring the data root's partition values), so
  * maintenance after an incremental publish is O(touched) via the same
  * [[Versioned.overwriteTouchedPartitions]] protocol as the data — a
  * replayed cycle rewrites the same sidecar partitions to the same
  * content (at-least-once safe), and an emptied data partition empties
  * its sidecar partition through the same `touched` list.
  *
  * Skipping is CONSERVATIVE by construction: a file is excluded only
  * when its recorded [min, max] interval provably cannot intersect the
  * queried interval (or when every row is null on the stat column, and
  * a range predicate can never match null). The residual predicate is
  * still applied to the surviving files, so a skipping read is
  * row-for-row equal to a full scan + filter regardless of how the
  * values are laid out — clustering (see [[writeZoneClustered]]) only
  * changes how MUCH is skipped, never what is returned.
  *
  * Contract: the sidecar must be maintained by the same cycle that
  * publishes the data root (build full once, then
  * [[maintainSidecar]] with the cycle's touched set). A file the
  * sidecar does not know about is invisible to [[readSkipping]] — that
  * is the same authority a table-format manifest has over its data
  * files, and the reason the maintenance call sits next to the data
  * publish rather than being best-effort.
  */
object FileStats {

  /** Sidecar prefix convention for `dataPrefix`'s zone maps. */
  def sidecarPrefix(dataPrefix: String): String = s"${dataPrefix}_zmap"

  /** Per-(partition, file) statistics of `statCol` over (optionally a
    * pruned subset of) the data root. `input_file_name()` keys the
    * aggregation, so the pass is one partial-agg scan of exactly the
    * partitions asked for — the read-back after an incremental publish
    * is O(touched), not O(root).
    *
    * Output: `part` (string form of the partition value — it becomes
    * the sidecar's own partition column), `file`, `n_rows`, `n_nulls`,
    * `min_v`, `max_v` (typed as `statCol` itself; both null for an
    * all-null file).
    */
  def collect(spark: SparkSession, dir: String, dataPrefix: String,
              partCol: String, statCol: String,
              parts: Option[Seq[Any]]): DataFrame = {
    val src = parts match {
      case Some(vs) => Versioned.readPartitions(spark, dir, dataPrefix,
        partCol, vs)
      case None => Versioned.readPartitioned(spark, dir, dataPrefix)
    }
    src.groupBy(col(partCol).cast("string").as("part"),
        input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(statCol))).as("n_nulls"),
        min(col(statCol)).as("min_v"),
        max(col(statCol)).as("max_v"))
  }

  /** Full sidecar build (backfill / first publish): one scan of the data
    * root, laid out as a partitioned root keyed by `part`.
    */
  def buildSidecar(spark: SparkSession, dir: String, dataPrefix: String,
                   partCol: String, statCol: String): String =
    Versioned.writePartitionedFull(
      collect(spark, dir, dataPrefix, partCol, statCol, None),
      dir, sidecarPrefix(dataPrefix), Seq("part"))

  /** O(touched) sidecar maintenance after an incremental data publish:
    * re-derive statistics for ONLY the cycle's touched partitions
    * (partition-pruned read-back of the just-published data) and
    * dynamic-overwrite those sidecar partitions. The stats frame scans
    * the DATA root, never the sidecar root, so the
    * [[Versioned.overwriteTouchedPartitions]] self-overwrite hazard
    * does not arise and no checkpoint is needed. A touched partition
    * the publish emptied yields no stats rows and is erased from the
    * sidecar through the same `touched` list that erased its data.
    */
  def maintainSidecar(spark: SparkSession, dir: String, dataPrefix: String,
                      partCol: String, statCol: String,
                      touched: Seq[Any]): String =
    // checkpointed: overwriteTouchedPartitions consumes its input twice
    // (present-detection collect + the write), which would re-run the
    // touched-file aggregation scan; the stats frame is O(files) tiny
    Versioned.overwriteTouchedPartitions(
      graft.ext.Exec.checkpointEager(
        collect(spark, dir, dataPrefix, partCol, statCol, Some(touched))),
      dir, sidecarPrefix(dataPrefix), "part", touched.map(_.toString))

  /** The files whose recorded [min_v, max_v] MAY intersect [lo, hi]
    * (either bound optional; equality = lo == hi). All-null files are
    * excluded — a range predicate never matches null. The collect is
    * O(sidecar rows) = O(files), the same driver-side planning work a
    * table format's manifest scan does; restrict `parts` first when the
    * query also carries a partition predicate so the sidecar read is
    * itself partition-pruned.
    */
  def candidateFiles(spark: SparkSession, dir: String, dataPrefix: String,
                     lo: Option[Any], hi: Option[Any],
                     parts: Option[Seq[Any]] = None): Seq[String] = {
    val side = parts match {
      case Some(vs) => Versioned.readPartitions(spark, dir,
        sidecarPrefix(dataPrefix), "part", vs.map(_.toString))
      case None => Versioned.readPartitioned(spark, dir,
        sidecarPrefix(dataPrefix))
    }
    zoneCandidates(side, lo, hi)
  }

  /** The shared zone-map filter-and-collect: the filter runs where the
    * sidecar rows are; only file names reach the driver.
    */
  private def zoneCandidates(side: DataFrame, lo: Option[Any],
                             hi: Option[Any]): Seq[String] = {
    val overlap = Seq(
      lo.map(v => col("max_v") >= lit(v)),
      hi.map(v => col("min_v") <= lit(v))
    ).flatten.reduceOption(_ && _).getOrElse(lit(true))
    // the all-null exclusion is sound ONLY under a real bound: a range
    // predicate never matches null, but an UNBOUNDED probe (lo and hi
    // both None) means "every file" — including all-null ones, whose
    // rows a full scan with no residual still serves
    val nullSafe = if (lo.isDefined || hi.isDefined)
      col("n_rows") > col("n_nulls") else lit(true)
    side.filter(nullSafe && overlap)
      .select(col("file")).collect().map(_.getString(0)).toSeq.sorted
  }

  /** Refuse a skipping/metadata path on a root with OUTSTANDING delete
    * vectors: the sidecar knows nothing of soft deletes, so the path
    * would resurrect rows [[Versioned.readMergeOnRead]] excludes.
    * Callers with pending deletes use the `...MergeOnRead` composition
    * (skip, then anti-join) or [[Versioned.purgeDeleteVectors]] first.
    */
  private def requireNoDeleteVectors(dir: String, dataPrefix: String,
                                     what: String): Unit =
    require(!Versioned.dvHasData(dir, dataPrefix),
      s"$what on '$dataPrefix' refused: the root has outstanding delete " +
        "vectors and a sidecar-planned read would resurrect soft-deleted " +
        "rows — use the MergeOnRead composition, or purgeDeleteVectors " +
        "first")

  /** The snapshot-lane twin of [[requireNoDeleteVectors]]: refuse when
    * the in-place erasure lane has vectors OR the newest manifest pins
    * a DV generation for the root — a raw snapshot skipping read would
    * resurrect the pinned delete batches the facade's anti-join
    * excludes ([[LakeTable.readTable]] composes both lanes; these raw
    * paths refuse instead, same posture as the in-place lane).
    */
  private def requireNoDeleteVectorsSnapshot(dir: String,
                                             manifestPrefix: String,
                                             dataPrefix: String,
                                             what: String): Unit = {
    requireNoDeleteVectors(dir, dataPrefix, what)
    require(Versioned.snapshotPins(dir, manifestPrefix,
        Versioned.dvPrefix(dataPrefix)).isEmpty,
      s"$what on '$dataPrefix' refused: the manifest pins outstanding " +
        "delete vectors and a sidecar-planned read would resurrect " +
        "pinned-deleted rows — read through LakeTable.readTable, or " +
        "purgeSnapshotDeleteVectors first")
  }

  /** Plan-time data-skipping read: scan ONLY the candidate files and
    * apply the residual interval predicate. Row-for-row equal to
    * `readPartitioned(...).filter(statCol between lo and hi)` because
    * skipping is conservative; the win is that excluded files are never
    * listed, opened, or scheduled (FileStatsSpec pins the scan's
    * `numFiles` to the candidate count). An empty candidate set returns
    * an empty frame of the root's schema without touching data files.
    * Refuses roots with outstanding delete vectors — see
    * [[readSkippingMergeOnRead]].
    */
  def readSkipping(spark: SparkSession, dir: String, dataPrefix: String,
                   partCol: String, statCol: String,
                   lo: Option[Any], hi: Option[Any],
                   parts: Option[Seq[Any]] = None): DataFrame = {
    requireNoDeleteVectors(dir, dataPrefix, "readSkipping")
    readSkipping0(spark, dir, dataPrefix, partCol, statCol, lo, hi, parts)
  }

  private def readSkipping0(spark: SparkSession, dir: String,
                            dataPrefix: String, partCol: String,
                            statCol: String, lo: Option[Any],
                            hi: Option[Any],
                            parts: Option[Seq[Any]]): DataFrame = {
    val root = Versioned.partitionedRoot(dir, dataPrefix)
    val residual: Column = Seq(
      lo.map(v => col(statCol) >= lit(v)),
      hi.map(v => col(statCol) <= lit(v))
    ).flatten.reduceOption(_ && _).getOrElse(lit(true))
    val files = candidateFiles(spark, dir, dataPrefix, lo, hi, parts)
    if (files.isEmpty)
      spark.read.parquet(root).filter(lit(false))
    else
      spark.read.option("basePath", root).parquet(files: _*)
        .filter(residual)
  }

  /** [[readSkipping]] composed with the merge-on-read deletion lane:
    * candidate files → pruned scan → residual → DV anti-join, so a
    * root carrying pending deletes still gets file-level pruning
    * WITHOUT resurrecting deleted rows. Row-for-row equal to
    * `readMergeOnRead(...).filter(statCol between lo and hi)`
    * (DeleteVectorSpec pins it); on a clean root it degrades to plain
    * [[readSkipping]].
    */
  def readSkippingMergeOnRead(spark: SparkSession, dir: String,
                              dataPrefix: String, partCol: String,
                              keyCol: String, statCol: String,
                              lo: Option[Any], hi: Option[Any],
                              parts: Option[Seq[Any]] = None): DataFrame = {
    val data = readSkipping0(spark, dir, dataPrefix, partCol, statCol,
      lo, hi, parts)
    if (!Versioned.dvHasData(dir, dataPrefix)) data
    else data.join(
      Versioned.readPartitioned(spark, dir, Versioned.dvPrefix(dataPrefix)),
      Seq(partCol, keyCol), "left_anti")
  }

  // ---- multi-column zone maps ------------------------------------------
  // One sidecar row carrying (n_nulls, min, max) PER STAT COLUMN — the
  // table-format shape (Delta's stats JSON, Iceberg's per-column
  // bounds). A conjunctive predicate prunes on every constrained
  // column at once; combined with a Z-ORDER layout
  // ([[graft.ops.Layout.zKey]] as the clustering key) each file covers
  // a small rectangle of the value space and BOTH dimensions bite —
  // the 1-D zone-clustered layout can only ever prune one.

  /** Multi-column sidecar prefix convention for `dataPrefix`. */
  def sidecarMultiPrefix(dataPrefix: String): String =
    s"${dataPrefix}_zmapm"

  /** Per-(partition, file) statistics of EVERY `statCols` column:
    * `n_rows`, then `n_nulls_<c>`, `min_<c>`, `max_<c>` per column.
    */
  def collectMulti(spark: SparkSession, dir: String, dataPrefix: String,
                   partCol: String, statCols: Seq[String],
                   parts: Option[Seq[Any]]): DataFrame = {
    require(statCols.nonEmpty, "need at least one stat column")
    val src = parts match {
      case Some(vs) => Versioned.readPartitions(spark, dir, dataPrefix,
        partCol, vs)
      case None => Versioned.readPartitioned(spark, dir, dataPrefix)
    }
    val aggs = count(lit(1)).as("n_rows") +: statCols.flatMap(c => Seq(
      (count(lit(1)) - count(col(c))).as(s"n_nulls_$c"),
      min(col(c)).as(s"min_$c"),
      max(col(c)).as(s"max_$c")))
    src.groupBy(col(partCol).cast("string").as("part"),
        input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Full multi-column sidecar build (partitioned root, like
    * [[buildSidecar]]).
    */
  def buildSidecarMulti(spark: SparkSession, dir: String,
                        dataPrefix: String, partCol: String,
                        statCols: Seq[String]): String =
    Versioned.writePartitionedFull(
      collectMulti(spark, dir, dataPrefix, partCol, statCols, None),
      dir, sidecarMultiPrefix(dataPrefix), Seq("part"))

  /** O(touched) multi-column maintenance — the [[maintainSidecar]]
    * protocol, same publish-coupling contract.
    */
  def maintainSidecarMulti(spark: SparkSession, dir: String,
                           dataPrefix: String, partCol: String,
                           statCols: Seq[String],
                           touched: Seq[Any]): String =
    // checkpointed for the same single-scan reason as [[maintainSidecar]]
    Versioned.overwriteTouchedPartitions(
      graft.ext.Exec.checkpointEager(
        collectMulti(spark, dir, dataPrefix, partCol, statCols,
          Some(touched))),
      dir, sidecarMultiPrefix(dataPrefix), "part",
      touched.map(_.toString))

  /** One interval predicate per constrained column: (column, lo, hi),
    * either bound optional. A file survives only if EVERY constrained
    * column's [min, max] may intersect its interval and the column is
    * not all-null in the file — conjunctive pruning.
    */
  def candidateFilesMulti(spark: SparkSession, dir: String,
                          dataPrefix: String,
                          preds: Seq[(String, Option[Any], Option[Any])],
                          parts: Option[Seq[Any]] = None): Seq[String] = {
    require(preds.nonEmpty, "need at least one column predicate")
    val side = parts match {
      case Some(vs) => Versioned.readPartitions(spark, dir,
        sidecarMultiPrefix(dataPrefix), "part", vs.map(_.toString))
      case None => Versioned.readPartitioned(spark, dir,
        sidecarMultiPrefix(dataPrefix))
    }
    side.filter(multiKeep(preds)).select(col("file"))
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** The conjunctive multi-column survival predicate over a sidecar
    * frame: every constrained column's [min, max] may intersect its
    * interval and is not all-null in the file; an unbounded column is
    * no constraint at all (see [[candidateFiles]]: the all-null
    * exclusion is only sound under a real bound).
    */
  private def multiKeep(
      preds: Seq[(String, Option[Any], Option[Any])]): Column =
    preds.map { case (c, lo, hi) =>
      val bounds = Seq(
        lo.map(v => col(s"max_$c") >= lit(v)),
        hi.map(v => col(s"min_$c") <= lit(v))).flatten
      if (bounds.isEmpty) lit(true)
      else (bounds :+ (col("n_rows") > col(s"n_nulls_$c"))).reduce(_ && _)
    }.reduce(_ && _)

  /** Conjunctive data-skipping read: scan only the files surviving
    * every column's interval check, then apply the full residual.
    * Row-for-row equal to the full scan + conjunctive filter.
    */
  def readSkippingMulti(spark: SparkSession, dir: String,
                        dataPrefix: String, partCol: String,
                        preds: Seq[(String, Option[Any], Option[Any])],
                        parts: Option[Seq[Any]] = None): DataFrame = {
    requireNoDeleteVectors(dir, dataPrefix, "readSkippingMulti")
    val root = Versioned.partitionedRoot(dir, dataPrefix)
    val residual = preds.flatMap { case (c, lo, hi) =>
      lo.map(v => col(c) >= lit(v)) ++ hi.map(v => col(c) <= lit(v))
    }.reduceOption(_ && _).getOrElse(lit(true))
    val files = candidateFilesMulti(spark, dir, dataPrefix, preds, parts)
    if (files.isEmpty)
      spark.read.parquet(root).filter(lit(false))
    else
      spark.read.option("basePath", root).parquet(files: _*)
        .filter(residual)
  }

  // ---- per-file bloom sidecars (point-lookup skipping) -----------------
  // Zone maps prune RANGE predicates and only bite when the layout
  // clusters the stat column. A point lookup on a high-cardinality,
  // UNCLUSTERED column (find one document by id in the lake) gets
  // nothing from min/max — every file's interval covers the probe. A
  // per-file Bloom filter prunes exactly that case: false positives
  // only, so skipping stays conservative; false negatives impossible,
  // so no file that holds the key is ever dropped. The sidecar reuses
  // the same partitioned-root maintenance protocol as the stats
  // sidecar; planning is a driver-side probe of the (pruned) sidecar's
  // serialized filters — the bloom-index walk a table format does.

  /** Bloom sidecar prefix convention for `dataPrefix`. */
  def bloomPrefix(dataPrefix: String): String = s"${dataPrefix}_bmap"

  /** The probe-side hash — MUST match the build side: the aggregate
    * inserts `xxhash64(keyCol)` (seed 42), so the driver probe hashes
    * the literal through the same Catalyst expression. The probe value
    * must carry the key column's exact type (xxhash64 of 1L and "1"
    * differ).
    */
  def bloomHash(value: Any): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(value)), 42L)
      .eval(null).asInstanceOf[Long]

  /** Per-(partition, file) bloom rows over (optionally pruned) data.
    * `itemsPerFile`/`numBits` size every file's filter identically —
    * pick itemsPerFile ≥ the largest file's distinct keys and numBits ≈
    * 8–10× items for ~1–2% false positives (a fp only costs reading one
    * extra file).
    */
  def collectBloom(spark: SparkSession, dir: String, dataPrefix: String,
                   partCol: String, keyCol: String,
                   parts: Option[Seq[Any]],
                   itemsPerFile: Long, numBits: Long): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val src = parts match {
      case Some(vs) => Versioned.readPartitions(spark, dir, dataPrefix,
        partCol, vs)
      case None => Versioned.readPartitioned(spark, dir, dataPrefix)
    }
    src.groupBy(col(partCol).cast("string").as("part"),
        input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        call_function("graft_bloom_agg", xxhash64(col(keyCol)),
          lit(itemsPerFile), lit(numBits)).as("bloom"))
  }

  /** Full bloom-sidecar build; maintenance after an incremental publish
    * is [[maintainBloomSidecar]] — the identical O(touched)
    * [[Versioned.overwriteTouchedPartitions]] protocol as the stats
    * sidecar, and the same publish-coupling contract.
    */
  def buildBloomSidecar(spark: SparkSession, dir: String,
                        dataPrefix: String, partCol: String,
                        keyCol: String, itemsPerFile: Long = 1 << 20,
                        numBits: Long = 1L << 23): String =
    Versioned.writePartitionedFull(
      collectBloom(spark, dir, dataPrefix, partCol, keyCol, None,
        itemsPerFile, numBits),
      dir, bloomPrefix(dataPrefix), Seq("part"))

  /** O(touched) bloom maintenance after an incremental data publish. */
  def maintainBloomSidecar(spark: SparkSession, dir: String,
                           dataPrefix: String, partCol: String,
                           keyCol: String, touched: Seq[Any],
                           itemsPerFile: Long = 1 << 20,
                           numBits: Long = 1L << 23): String =
    // checkpointed for the same single-scan reason as [[maintainSidecar]]
    Versioned.overwriteTouchedPartitions(
      graft.ext.Exec.checkpointEager(
        collectBloom(spark, dir, dataPrefix, partCol, keyCol,
          Some(touched), itemsPerFile, numBits)),
      dir, bloomPrefix(dataPrefix), "part", touched.map(_.toString))

  /** The candidate-file FRAME of a bloom probe: the (pruned) sidecar
    * filtered to rows whose filter MAY contain `value`, projected to
    * the file-name column ONLY. Membership is evaluated in EXECUTORS
    * ([[graft.functions.BloomMightContain]] on the binary column —
    * Spark's own might_contain insists on a foldable filter side, so
    * it cannot probe a per-file column), which keeps the driver's
    * share at O(candidates)·name bytes. A collect-then-probe walk
    * would ship O(files)·numBits/8 bytes — at the default 2²³ bits
    * that is 1 MiB per file, driver-OOM territory at 10⁵–10⁶ files.
    * FileStatsSpec pins that the collected schema carries no filter
    * bytes.
    */
  def bloomCandidateFrame(spark: SparkSession, dir: String,
                          dataPrefix: String, value: Any,
                          parts: Option[Seq[Any]] = None): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val side = parts match {
      case Some(vs) => Versioned.readPartitions(spark, dir,
        bloomPrefix(dataPrefix), "part", vs.map(_.toString))
      case None => Versioned.readPartitioned(spark, dir,
        bloomPrefix(dataPrefix))
    }
    side.filter(call_function("graft_bloom_might_contain",
        col("bloom"), lit(bloomHash(value))))
      .select(col("file"))
  }

  /** The files whose bloom filter MAY contain `value` — false
    * positives possible (read one extra file), false negatives
    * impossible (never drop a holder). Distributed probe: see
    * [[bloomCandidateFrame]]; only file names reach the driver.
    */
  def bloomCandidateFiles(spark: SparkSession, dir: String,
                          dataPrefix: String, value: Any,
                          parts: Option[Seq[Any]] = None): Seq[String] =
    bloomCandidateFrame(spark, dir, dataPrefix, value, parts)
      .collect().map(_.getString(0)).toSeq.sorted

  /** Point-lookup read planned through the bloom sidecar: scan ONLY
    * the candidate files, then apply the exact equality residual.
    * Row-for-row equal to a full scan + filter because bloom skipping
    * is one-sided; FileStatsSpec pins equality, the numFiles metric,
    * and the unclustered-layout case zone maps cannot prune.
    */
  def readBloomSkipping(spark: SparkSession, dir: String,
                        dataPrefix: String, partCol: String,
                        keyCol: String, value: Any,
                        parts: Option[Seq[Any]] = None): DataFrame = {
    requireNoDeleteVectors(dir, dataPrefix, "readBloomSkipping")
    readBloomSkipping0(spark, dir, dataPrefix, keyCol, value, parts)
  }

  private def readBloomSkipping0(spark: SparkSession, dir: String,
                                 dataPrefix: String, keyCol: String,
                                 value: Any,
                                 parts: Option[Seq[Any]]): DataFrame = {
    val root = Versioned.partitionedRoot(dir, dataPrefix)
    val files = bloomCandidateFiles(spark, dir, dataPrefix, value, parts)
    if (files.isEmpty)
      spark.read.parquet(root).filter(lit(false))
    else
      spark.read.option("basePath", root).parquet(files: _*)
        .filter(col(keyCol) === lit(value))
  }

  /** Batched-lookup cap: the key batch rides the plan as a literal
    * array, so it must stay bounded — a key set past this size is a
    * JOIN workload (broadcast the keys against the root), not a
    * planning probe.
    */
  val MaxBatchedLookupKeys = 10000

  /** The files whose bloom filter MAY contain ANY of `values` — the
    * batched point lookup ("fetch these N rows by key") planned in ONE
    * sidecar pass: each file's filter deserializes once in an executor
    * and the keys short-circuit on the first hit, where N single
    * probes would cost N full sidecar passes. Same one-sided error and
    * names-only driver contract as [[bloomCandidateFiles]].
    */
  def bloomCandidateFilesForKeys(spark: SparkSession, dir: String,
                                 dataPrefix: String, values: Seq[Any],
                                 parts: Option[Seq[Any]] = None): Seq[String] = {
    require(values.nonEmpty, "empty key batch")
    require(values.size <= MaxBatchedLookupKeys,
      s"${values.size} keys exceed the batched-lookup cap " +
        s"($MaxBatchedLookupKeys): that is a broadcast-join workload, " +
        "not a planning probe")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val side = parts match {
      case Some(vs) => Versioned.readPartitions(spark, dir,
        bloomPrefix(dataPrefix), "part", vs.map(_.toString))
      case None => Versioned.readPartitioned(spark, dir,
        bloomPrefix(dataPrefix))
    }
    side.filter(call_function("graft_bloom_might_contain_any",
        col("bloom"), lit(values.map(bloomHash).toArray)))
      .select(col("file"))
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Batched point-lookup read: scan only the files whose filter may
    * hold ANY of the batch's keys, then the exact `isin` residual.
    * Row-for-row equal to a full scan + `keyCol isin values`; refuses
    * roots with outstanding delete vectors like every skipping path.
    */
  def readBloomSkippingKeys(spark: SparkSession, dir: String,
                            dataPrefix: String, partCol: String,
                            keyCol: String, values: Seq[Any],
                            parts: Option[Seq[Any]] = None): DataFrame = {
    requireNoDeleteVectors(dir, dataPrefix, "readBloomSkippingKeys")
    readBloomSkippingKeys0(spark, dir, dataPrefix, keyCol, values, parts)
  }

  private def readBloomSkippingKeys0(spark: SparkSession, dir: String,
                                     dataPrefix: String, keyCol: String,
                                     values: Seq[Any],
                                     parts: Option[Seq[Any]]): DataFrame = {
    val root = Versioned.partitionedRoot(dir, dataPrefix)
    val files = bloomCandidateFilesForKeys(spark, dir, dataPrefix,
      values, parts)
    if (files.isEmpty)
      spark.read.parquet(root).filter(lit(false))
    else
      spark.read.option("basePath", root).parquet(files: _*)
        .filter(col(keyCol).isin(values: _*))
  }

  /** [[readBloomSkippingKeys]] composed with the merge-on-read deletion
    * lane — the batched twin of [[readBloomSkippingMergeOnRead]]: one
    * sidecar pass plans the whole key batch, the exact `isin` residual
    * applies, and the DV anti-join keeps erased keys erased. On a
    * clean root it degrades to the plain batched read.
    */
  def readBloomSkippingKeysMergeOnRead(spark: SparkSession, dir: String,
                                       dataPrefix: String, partCol: String,
                                       keyCol: String, values: Seq[Any],
                                       dvKeyCol: String,
                                       parts: Option[Seq[Any]] = None): DataFrame = {
    val data = readBloomSkippingKeys0(spark, dir, dataPrefix, keyCol,
      values, parts)
    if (!Versioned.dvHasData(dir, dataPrefix)) data
    else data.join(
      Versioned.readPartitioned(spark, dir, Versioned.dvPrefix(dataPrefix)),
      Seq(partCol, dvKeyCol), "left_anti")
  }

  /** [[readBloomSkipping]] composed with the merge-on-read deletion
    * lane: bloom-pruned scan → equality residual → DV anti-join, so a
    * point lookup on a root with pending deletes returns exactly the
    * minus-deleted holders instead of resurrecting them (the q416
    * oracle and DeleteVectorSpec pin it). `dvKeyCol` is the DV lane's
    * key column — usually but not necessarily the probed `keyCol`.
    */
  def readBloomSkippingMergeOnRead(spark: SparkSession, dir: String,
                                   dataPrefix: String, partCol: String,
                                   keyCol: String, value: Any,
                                   dvKeyCol: String,
                                   parts: Option[Seq[Any]] = None): DataFrame = {
    val data = readBloomSkipping0(spark, dir, dataPrefix, keyCol, value,
      parts)
    if (!Versioned.dvHasData(dir, dataPrefix)) data
    else data.join(
      Versioned.readPartitioned(spark, dir, Versioned.dvPrefix(dataPrefix)),
      Seq(partCol, dvKeyCol), "left_anti")
  }

  /** Zone-clustered full layout: range-partition by (partCol, statCol)
    * so each write task holds a CONTIGUOUS slice of the stat column
    * within its partition values — every file's [min_v, max_v] interval
    * is narrow and files barely overlap, which is what makes the
    * sidecar's pruning bite (an unclustered layout gives every file the
    * full value range and zone maps prune nothing; same lesson as
    * [[Versioned]]'s clustered partitioned writes, applied to the
    * second dimension). This is the 1-D case of Z-order layout; `tasks`
    * plays the `filesPerPartition` role across the whole root.
    */
  def writeZoneClustered(df: DataFrame, dir: String, prefix: String,
                         partCol: String, statCol: String,
                         tasks: Int): String = {
    val root = Versioned.partitionedRoot(dir, prefix)
    df.repartitionByRange(tasks, col(partCol), col(statCol))
      .sortWithinPartitions(col(partCol), col(statCol))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy(partCol).parquet(root)
    root
  }

  // ---- manifest-pinned zone maps (snapshot lane) -----------------------
  // The in-place lane above maintains the sidecar BESIDE the data: two
  // separate publishes, consistent only because the same cycle does
  // both (a crash between them leaves stale stats until replay). The
  // snapshot lane can do better: the sidecar becomes a generation-
  // pinned root of its own, its (part → gen) pins ride the SAME
  // manifest commit as the data pins — stats and data flip atomically,
  // the way a table format carries per-file statistics inside the very
  // manifest that makes the files visible. A reader can never see new
  // data with old stats (files silently un-prunable) or old data with
  // new stats (files wrongly pruned — the correctness hazard).

  /** Per-(partition, file) statistics of the data read AT `dataPins` —
    * the mid-cycle view: the publishing cycle passes its own
    * just-written generations for the touched partitions, so the stats
    * describe exactly the files the manifest is about to pin.
    */
  def collectSnapshotStats(spark: SparkSession, dir: String,
                           dataPrefix: String, partCol: String,
                           statCol: String,
                           dataPins: Map[String, String],
                           touched: Option[Seq[Any]]): DataFrame =
    Versioned.readSnapshotAt(spark, dir, dataPrefix, partCol, dataPins,
        touched)
      .groupBy(col(partCol).cast("string").as("part"),
        input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col(statCol))).as("n_nulls"),
        min(col(statCol)).as("min_v"),
        max(col(statCol)).as("max_v"))

  /** Write the `touched` partitions' statistics into their `gen`
    * sidecar leaves. Returns the present partition set — the caller
    * folds `present → gen` into the SAME manifest entries as the data
    * pins (under [[sidecarPrefix]]'s pin keys) so one
    * [[Versioned.commitManifest]] flips both; an emptied data
    * partition drops out of `present` and leaves the sidecar pins the
    * same way it leaves the data pins.
    */
  def writeSnapshotSidecar(spark: SparkSession, dir: String,
                           dataPrefix: String, partCol: String,
                           statCol: String,
                           dataPins: Map[String, String],
                           touched: Seq[Any], gen: String): Set[Any] =
    writeSidecarKnown(dir,
      collectSnapshotStats(spark, dir, dataPrefix, partCol, statCol,
        dataPins, Some(touched)),
      sidecarPrefix(dataPrefix), dataPins, touched, gen)

  /** Shared single-pass sidecar publish: the stats frame's partitions
    * are KNOWN without running it — exactly the touched values that
    * hold a data pin (pinned leaves are never empty, the lane invariant
    * [[Versioned.compactSnapshotLeaves]] enforces), so the
    * present-detection scan [[Versioned.writeSnapshotPartitions]] would
    * spend re-running the stats aggregation is skipped and the data
    * files are read exactly ONCE, by the write itself (previously the
    * derivation scanned every touched file twice — probe-measured ~2×
    * the sidecar publish cost on a 1344-file root).
    */
  private def writeSidecarKnown(dir: String, stats: DataFrame,
                                sidePrefix: String,
                                dataPins: Map[String, String],
                                touched: Seq[Any], gen: String): Set[Any] = {
    val present: Set[Any] =
      touched.filter(v => dataPins.contains(v.toString)).toSet
    Versioned.writeSnapshotKnown(stats, dir, sidePrefix, "part", gen,
      filesPerPartition = 1)
    // cheap invariant guard: the predicted present set assumed every
    // pinned touched leaf produced stats rows (pinned-leaves-never-
    // empty). If that is ever violated (crashed compaction, hand-
    // rolled leaf), the pin would name a nonexistent part=/gen= leaf
    // and every later readSnapshotAt would fail at planning with an
    // undiagnosable path error — so verify the leaves hold data files
    // NOW, while the violated invariant is still attributable. Listed
    // through the Hadoop FileSystem, so the check holds on any store.
    val sideRoot = Versioned.snapshotRoot(dir, sidePrefix)
    val conf = GraftShim.hadoopConf(stats.sparkSession)
    val missing = present.map(_.toString).filterNot(v =>
      Versioned.leafFiles(conf, sideRoot, "part", v, gen).exists(_.nonEmpty))
    require(missing.isEmpty,
      s"sidecar '$sidePrefix'@$gen: no stats rows written for pinned " +
        s"touched partition(s) ${missing.toSeq.sorted.mkString(", ")} — " +
        "a pinned data leaf produced no rows, violating the " +
        "pinned-leaves-never-empty invariant")
    // the sidecar's own partition column is the STRING form of the
    // partition value (`part`), so pins must be string-keyed like the
    // previous present-detection returned them
    present.map(_.toString)
  }

  // ---- cached sidecar rows (snapshot-lane candidate planning) ----------
  // Sidecar generations and pinned delete-vector generations are
  // immutable once written, so the rows of a pinned file never change
  // under its (path, length, mtime): planning reads them once and then
  // plans every later read on the driver. The pinned leaves are listed
  // through the Hadoop FileSystem; a file whose (path, length, mtime) is
  // not cached — new generation, compaction, or a file replaced in
  // place — is loaded, all misses together in one job labelled
  // `filestats.sidecarLoad`. The engine never rewrites a sidecar file
  // under its own name (a replayed publish writes new file names), so
  // only a hand-made replacement of equal length within the store's
  // mtime granularity could alias a cached entry. The planning frame
  // over the cached rows is a LocalRelation, so the filters the callers
  // apply run on the driver (ConvertToLocalRelation) and collect
  // without a job. A selection whose files would not fit the cache
  // plans through the distributed read instead (the bloom probe then
  // stays in executors, the driver-OOM guard of [[bloomCandidateFrame]];
  // delete vectors then apply as an anti-join).

  /** LRU bound of the sidecar row cache, in estimated heap bytes. */
  private val SidecarCacheMaxBytes: Long = 64L << 20

  private final case class SidecarRows(schema: StructType, rows: Array[Row],
                                       bytes: Long)

  private object SidecarCache {
    private var used = 0L
    private val entries = new java.util.LinkedHashMap[(String, Long, Long),
      SidecarRows](16, 0.75f, true)

    def key(st: FileStatus): (String, Long, Long) =
      (st.getPath.toString, st.getLen, st.getModificationTime)

    def get(st: FileStatus): Option[SidecarRows] = synchronized {
      Option(entries.get(key(st)))
    }

    def put(st: FileStatus, e: SidecarRows): Unit = synchronized {
      Option(entries.put(key(st), e)).foreach(old => used -= old.bytes)
      used += e.bytes
      val it = entries.values.iterator
      while (used > SidecarCacheMaxBytes && it.hasNext) {
        used -= it.next().bytes
        it.remove()
      }
    }
  }

  /** Rough heap footprint of one cached row. */
  private def rowBytes(r: Row): Long =
    r.toSeq.foldLeft(64L) {
      case (acc, b: Array[Byte]) => acc + 16 + b.length
      case (acc, s: String) => acc + 40 + 2L * s.length
      case (acc, _) => acc + 16
    }

  /** Load the rows of `files` (all missing from the cache) in one job
    * per distinct footer schema — one in practice, since a sidecar's
    * generations share its build's schema. Refuses (false) when the
    * files' uncompressed bytes exceed the cache bound.
    */
  private def loadSidecarRows(spark: SparkSession, conf: Configuration,
                              sidePrefix: String,
                              files: Seq[FileStatus]): Boolean = {
    val footers = files.map(f => f -> GraftShim.parquetFooter(spark, conf, f))
    if (footers.map(_._2._2).sum > SidecarCacheMaxBytes) return false
    graft.core.Jobs.describe(spark,
      s"filestats.sidecarLoad $sidePrefix (${files.size} files)") {
      footers.groupBy(_._2._1).foreach { case (schema, group) =>
        val sts = group.map(_._1)
        def norm(p: String) = new Path(new java.net.URI(p)).toUri.getPath
        val byFile = spark.read.schema(schema)
          .parquet(sts.map(_.getPath.toString): _*)
          .withColumn("__src", input_file_name()).collect()
          .groupBy(r => norm(r.getString(r.length - 1)))
        sts.foreach { st =>
          val rows = byFile.getOrElse(norm(st.getPath.toString), Array.empty)
            .map(r => Row.fromSeq(r.toSeq.init))
          SidecarCache.put(st, SidecarRows(schema, rows,
            rows.map(rowBytes).sum))
        }
      }
    }
    true
  }

  /** The cached rows of the immutable snapshot root `sidePrefix`
    * (partitioned by `partCol`) at the `sel` pins, with their one
    * schema, per pinned partition value in value order. None when a
    * leaf is not listable, the selection does not fit the cache, or
    * its files disagree on schema. Serves the sidecars and the pinned
    * delete vectors ([[Versioned.applyPinnedDeleteVectors]]) alike.
    */
  private[io] def cachedLeafRows(spark: SparkSession, dir: String,
                                 sidePrefix: String, partCol: String,
                                 sel: Map[String, String])
      : Option[(StructType, Seq[(String, Seq[Row])])] = {
    val conf = GraftShim.hadoopConf(spark)
    val root = Versioned.snapshotRoot(dir, sidePrefix)
    val leaves = sel.toSeq.sorted.map { case (v, g) =>
      v -> Versioned.leafFiles(conf, root, partCol, v, g) }
    if (leaves.exists(_._2.isEmpty)) return None
    val files = leaves.flatMap(_._2.get)
    val missing = files.filter(SidecarCache.get(_).isEmpty)
    if (missing.nonEmpty && !loadSidecarRows(spark, conf, sidePrefix, missing))
      return None
    val got = leaves.map { case (v, fs) => v -> fs.get.map(SidecarCache.get) }
    val all = got.flatMap(_._2)
    val schemas = all.flatten.map(_.schema).distinct
    if (all.exists(_.isEmpty) || schemas.size != 1) None
    else Some((schemas.head,
      got.map { case (v, es) => v -> es.flatMap(_.get.rows.toSeq) }))
  }

  /** The rows of the `sidePrefix` sidecar generations `sel` pins, as a
    * driver-local frame from the cache — None when [[cachedLeafRows]]
    * cannot serve them (the caller then reads them distributed).
    */
  private def cachedSidecar(spark: SparkSession, dir: String,
                            sidePrefix: String,
                            sel: Map[String, String]): Option[DataFrame] =
    cachedLeafRows(spark, dir, sidePrefix, "part", sel).map {
      case (schema, leaves) =>
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(leaves.flatMap(_._2).asJava, schema)
    }

  /** A sidecar's rows at explicit pins, restricted to `parts`, for
    * candidate planning: the cached driver-local frame when it applies,
    * else the pinned distributed read.
    */
  private def pinnedSidecar(spark: SparkSession, dir: String,
                            sidePrefix: String, pins: Map[String, String],
                            parts: Option[Seq[Any]]): DataFrame = {
    val want = parts.map(_.map(_.toString))
    val sel = want.fold(pins)(vs => pins.filter(p => vs.contains(p._1)))
    cachedSidecar(spark, dir, sidePrefix, sel).getOrElse(
      Versioned.readSnapshotAt(spark, dir, sidePrefix, "part", pins, want))
  }

  /** [[candidateFiles]] resolved through the newest manifest's sidecar
    * pins: the stats consulted are exactly the generation the manifest
    * published with the data, so a half-committed publish can neither
    * hide a pinned file nor prune through unpinned stats.
    */
  def candidateFilesSnapshot(spark: SparkSession, dir: String,
                             manifestPrefix: String, dataPrefix: String,
                             lo: Option[Any], hi: Option[Any],
                             parts: Option[Seq[Any]] = None): Seq[String] =
    candidateFilesAt(spark, dir, dataPrefix,
      Versioned.snapshotPins(dir, manifestPrefix, sidecarPrefix(dataPrefix)),
      lo, hi, parts)

  /** [[candidateFilesSnapshot]] against an EXPLICIT sidecar pin map —
    * the time-travel / mid-cycle resolve (the facade's as-of path).
    */
  def candidateFilesAt(spark: SparkSession, dir: String,
                       dataPrefix: String,
                       sidecarPins: Map[String, String],
                       lo: Option[Any], hi: Option[Any],
                       parts: Option[Seq[Any]] = None): Seq[String] =
    zoneCandidates(
      pinnedSidecar(spark, dir, sidecarPrefix(dataPrefix), sidecarPins,
        parts),
      lo, hi)

  /** Data-skipping read over a snapshot root, planned entirely from
    * the manifest: sidecar pins name the stats generation, the stats
    * name the candidate files (which live in pinned data generations
    * by the atomic-commit construction), and only those files are
    * listed, opened, or scheduled. Row-for-row equal to the pinned
    * full read + filter — SnapshotZoneSpec pins equality, the numFiles
    * metric, and the crash-window atomicity.
    */
  def readSkippingSnapshot(spark: SparkSession, dir: String,
                           manifestPrefix: String, dataPrefix: String,
                           partCol: String, statCol: String,
                           lo: Option[Any], hi: Option[Any],
                           parts: Option[Seq[Any]] = None): DataFrame = {
    requireNoDeleteVectorsSnapshot(dir, manifestPrefix, dataPrefix,
      "readSkippingSnapshot")
    val root = Versioned.snapshotRoot(dir, dataPrefix)
    val residual: Column = Seq(
      lo.map(v => col(statCol) >= lit(v)),
      hi.map(v => col(statCol) <= lit(v))
    ).flatten.reduceOption(_ && _).getOrElse(lit(true))
    val files = candidateFilesSnapshot(spark, dir, manifestPrefix,
      dataPrefix, lo, hi, parts)
    if (files.isEmpty)
      Versioned.readSnapshotPartitions(spark, dir, manifestPrefix,
        dataPrefix, partCol, None).filter(lit(false))
    else
      spark.read.option("basePath", root).parquet(files: _*)
        .drop("__gen").filter(residual)
  }

  /** Metadata-only aggregates: per-partition row count, null count and
    * min/max of the stat column answered from the SIDECAR alone — zero
    * data files are listed, opened, or scheduled. This is the
    * `count(*) / min / max` fast path a table format serves from its
    * manifest statistics; exactness holds because the sidecar is
    * maintained transactionally with the data (see class doc). min/max
    * ignore all-null files through min/max's own null semantics.
    * Refuses roots with outstanding delete vectors — sidecar stats
    * include soft-deleted rows a merge-on-read read would exclude, so
    * the "exact" claim only holds on a clean root (purge first).
    */
  def statsOnlyAgg(spark: SparkSession, dir: String,
                   dataPrefix: String): DataFrame = {
    requireNoDeleteVectors(dir, dataPrefix, "statsOnlyAgg")
    Versioned.readPartitioned(spark, dir, sidecarPrefix(dataPrefix))
      .groupBy(col("part"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_nulls")).as("n_nulls"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
  }

  /** [[statsOnlyAgg]] for the snapshot lane: the sidecar generations
    * consulted are the ones the NEWEST manifest pins, so the
    * metadata-only answer is exact for precisely the snapshot a pinned
    * data read would serve — including mid-crash (uncommitted stats
    * generations are invisible). Refuses when the manifest pins
    * OUTSTANDING delete vectors, for the same reason [[statsOnlyAgg]]
    * refuses the in-place DV lane: sidecar stats count soft-deleted
    * rows a merge-on-read read excludes, so "exact" only holds after
    * [[Versioned.purgeSnapshotDeleteVectors]].
    */
  def statsOnlyAggSnapshot(spark: SparkSession, dir: String,
                           manifestPrefix: String,
                           dataPrefix: String): DataFrame = {
    require(!Versioned.dvHasData(dir, dataPrefix) &&
        Versioned.snapshotPins(dir, manifestPrefix,
          Versioned.dvPrefix(dataPrefix)).isEmpty,
      s"statsOnlyAggSnapshot on '$dataPrefix' refused: the root has " +
        "outstanding delete vectors (in-place or manifest-pinned) and " +
        "sidecar stats count soft-deleted rows — purge first")
    Versioned.readSnapshotPartitions(spark, dir, manifestPrefix,
        sidecarPrefix(dataPrefix), "part", None)
      .groupBy(col("part"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_nulls")).as("n_nulls"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))
  }

  /** [[statsOnlyAgg]] for the MULTI-column sidecar: per-partition row
    * count plus nulls/min/max of EVERY indexed column, answered from
    * the sidecar alone. The column list is read off the sidecar's own
    * schema (`n_nulls_<c>` / `min_<c>` / `max_<c>`), so no spec is
    * needed. Same exactness contract and DV refusal as the
    * single-column path.
    */
  def statsOnlyAggMulti(spark: SparkSession, dir: String,
                        dataPrefix: String): DataFrame = {
    requireNoDeleteVectors(dir, dataPrefix, "statsOnlyAggMulti")
    multiStatsAgg(Versioned.readPartitioned(spark, dir,
      sidecarMultiPrefix(dataPrefix)))
  }

  /** [[statsOnlyAggMulti]] for the snapshot lane — the generations the
    * newest manifest pins; refuses both dirty-DV postures like
    * [[statsOnlyAggSnapshot]].
    */
  def statsOnlyAggMultiSnapshot(spark: SparkSession, dir: String,
                                manifestPrefix: String,
                                dataPrefix: String): DataFrame = {
    require(!Versioned.dvHasData(dir, dataPrefix) &&
        Versioned.snapshotPins(dir, manifestPrefix,
          Versioned.dvPrefix(dataPrefix)).isEmpty,
      s"statsOnlyAggMultiSnapshot on '$dataPrefix' refused: the root " +
        "has outstanding delete vectors (in-place or manifest-pinned) " +
        "and sidecar stats count soft-deleted rows — purge first")
    multiStatsAgg(Versioned.readSnapshotPartitions(spark, dir,
      manifestPrefix, sidecarMultiPrefix(dataPrefix), "part", None))
  }

  /** The per-column rollup of a multi sidecar frame, column list from
    * the frame's own schema.
    */
  private def multiStatsAgg(side: DataFrame): DataFrame = {
    val statCols = side.columns.filter(_.startsWith("min_"))
      .map(_.stripPrefix("min_")).toSeq
    require(statCols.nonEmpty,
      "not a multi-column sidecar: no min_<col> fields in " +
        side.columns.mkString(", "))
    val aggs = sum(col("n_rows")).as("n_rows") +: statCols.flatMap(c =>
      Seq(sum(col(s"n_nulls_$c")).as(s"n_nulls_$c"),
        min(col(s"min_$c")).as(s"min_$c"),
        max(col(s"max_$c")).as(s"max_$c")))
    side.groupBy(col("part")).agg(aggs.head, aggs.tail: _*)
  }

  // ---- manifest-pinned MULTI-COLUMN zone maps (snapshot lane) ----------
  // The per-column stats shape (q411's zmapm) lifted onto the snapshot
  // lane: the multi sidecar becomes a generation-pinned root whose
  // pins ride the data's atomic manifest commit, and a Z-order-
  // clustered snapshot write makes every (partition, gen) leaf a small
  // rectangle of the value space so conjunctive pruning bites on every
  // constrained column.

  /** Per-(partition, file) multi-column statistics of the data read AT
    * `dataPins` — the mid-cycle view, like [[collectSnapshotStats]].
    */
  def collectSnapshotStatsMulti(spark: SparkSession, dir: String,
                                dataPrefix: String, partCol: String,
                                statCols: Seq[String],
                                dataPins: Map[String, String],
                                touched: Option[Seq[Any]]): DataFrame = {
    require(statCols.nonEmpty, "need at least one stat column")
    val aggs = count(lit(1)).as("n_rows") +: statCols.flatMap(c => Seq(
      (count(lit(1)) - count(col(c))).as(s"n_nulls_$c"),
      min(col(c)).as(s"min_$c"),
      max(col(c)).as(s"max_$c")))
    Versioned.readSnapshotAt(spark, dir, dataPrefix, partCol, dataPins,
        touched)
      .groupBy(col(partCol).cast("string").as("part"),
        input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Write the `touched` partitions' multi-column statistics into
    * their `gen` sidecar leaves (root: [[sidecarMultiPrefix]]); the
    * caller folds the returned present set into the SAME manifest
    * entries as the data pins.
    */
  def writeSnapshotSidecarMulti(spark: SparkSession, dir: String,
                                dataPrefix: String, partCol: String,
                                statCols: Seq[String],
                                dataPins: Map[String, String],
                                touched: Seq[Any], gen: String): Set[Any] =
    writeSidecarKnown(dir,
      collectSnapshotStatsMulti(spark, dir, dataPrefix, partCol,
        statCols, dataPins, Some(touched)),
      sidecarMultiPrefix(dataPrefix), dataPins, touched, gen)

  /** [[candidateFilesMulti]] against an EXPLICIT sidecar pin map. */
  def candidateFilesMultiAt(spark: SparkSession, dir: String,
                            dataPrefix: String,
                            sidecarPins: Map[String, String],
                            preds: Seq[(String, Option[Any], Option[Any])],
                            parts: Option[Seq[Any]] = None): Seq[String] = {
    require(preds.nonEmpty, "need at least one column predicate")
    pinnedSidecar(spark, dir, sidecarMultiPrefix(dataPrefix), sidecarPins,
        parts)
      .filter(multiKeep(preds)).select(col("file"))
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Conjunctive data-skipping read over a snapshot root, planned
    * through the newest manifest's multi-sidecar pins.
    */
  def readSkippingMultiSnapshot(spark: SparkSession, dir: String,
                                manifestPrefix: String,
                                dataPrefix: String, partCol: String,
                                preds: Seq[(String, Option[Any], Option[Any])],
                                parts: Option[Seq[Any]] = None): DataFrame = {
    requireNoDeleteVectorsSnapshot(dir, manifestPrefix, dataPrefix,
      "readSkippingMultiSnapshot")
    val root = Versioned.snapshotRoot(dir, dataPrefix)
    val residual = preds.flatMap { case (c, lo, hi) =>
      lo.map(v => col(c) >= lit(v)) ++ hi.map(v => col(c) <= lit(v))
    }.reduceOption(_ && _).getOrElse(lit(true))
    val files = candidateFilesMultiAt(spark, dir, dataPrefix,
      Versioned.snapshotPins(dir, manifestPrefix,
        sidecarMultiPrefix(dataPrefix)),
      preds, parts)
    if (files.isEmpty)
      Versioned.readSnapshotPartitions(spark, dir, manifestPrefix,
        dataPrefix, partCol, None).filter(lit(false))
    else
      spark.read.option("basePath", root).parquet(files: _*)
        .drop("__gen").filter(residual)
  }

  /** Zone-clustered SNAPSHOT write: the [[writeZoneClustered]] layout
    * (range-partition by (partCol, clusterCol), sort within) targeting
    * a `gen` generation of a snapshot root — each (partition, gen)
    * leaf's files cover narrow value slices, which is what makes the
    * pinned sidecars prune. Dynamic overwrite touches only the
    * partitions present in `df`; returns the present set for the
    * manifest pins.
    */
  def writeSnapshotZoneClustered(df: DataFrame, dir: String,
                                 prefix: String, partCol: String,
                                 clusterCol: String, gen: String,
                                 tasks: Int): Set[Any] = {
    val root = Versioned.snapshotRoot(dir, prefix)
    val present = df.select(df.col(partCol)).distinct()
      .collect().map(_.get(0)).toSet
    df.repartitionByRange(tasks, col(partCol), col(clusterCol))
      .sortWithinPartitions(col(partCol), col(clusterCol))
      .withColumn("__gen", lit(gen))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol, "__gen").parquet(root)
    present
  }

  // ---- sidecar spec registry (manifest-pinned) -------------------------
  // The sidecar roots don't record WHAT they index (the zone sidecar's
  // stat column, the bloom sidecar's key column and sizing) — that
  // knowledge lived only in the calling cycle, which is why compaction
  // and the stream sink take spec arguments and REFUSE when a pinned
  // sidecar arrives without one. These entries pin the spec IN the
  // manifest, beside the pins it describes: maintenance (compaction,
  // stream restarts) derives the spec from the manifest itself and the
  // refusal path only remains for sidecars created before their spec
  // was pinned. The key namespace (`__sidecar_spec/<sidecar prefix>`)
  // cannot collide with partition pins (`<prefix>/<value>`).

  /** The manifest key pinning `sidePrefix`'s spec. */
  def sidecarSpecKey(sidePrefix: String): String =
    s"__sidecar_spec/$sidePrefix"

  /** Manifest entry declaring the zone sidecar's stat column. */
  def zoneSpecEntry(dataPrefix: String, statCol: String): (String, String) =
    sidecarSpecKey(sidecarPrefix(dataPrefix)) -> statCol

  /** Manifest entry declaring the bloom sidecar's key column and
    * sizing (the probe side needs neither, but re-collection does).
    */
  def bloomSpecEntry(dataPrefix: String, keyCol: String,
                     itemsPerFile: Long, numBits: Long): (String, String) =
    sidecarSpecKey(bloomPrefix(dataPrefix)) ->
      s"$keyCol:$itemsPerFile:$numBits"

  /** Manifest entry declaring the MULTI-column zone sidecar's stat
    * columns (comma-joined — column names in this engine's schemas
    * never carry commas, and [[pinnedZoneMultiSpec]] fails loudly on
    * an empty segment rather than silently re-deriving a narrower
    * sidecar).
    */
  def zoneMultiSpecEntry(dataPrefix: String,
                         statCols: Seq[String]): (String, String) = {
    require(statCols.nonEmpty && statCols.forall(c =>
        c.nonEmpty && !c.contains(',')),
      s"multi-zone spec columns must be non-empty and comma-free: " +
        statCols.mkString("[", ",", "]"))
    sidecarSpecKey(sidecarMultiPrefix(dataPrefix)) -> statCols.mkString(",")
  }

  /** The zone spec (stat column) pinned for `dataPrefix`, if any. */
  def pinnedZoneSpec(entries: Map[String, String],
                     dataPrefix: String): Option[String] =
    entries.get(sidecarSpecKey(sidecarPrefix(dataPrefix)))

  /** The multi-zone spec (stat columns) pinned for `dataPrefix`. */
  def pinnedZoneMultiSpec(entries: Map[String, String],
                          dataPrefix: String): Option[Seq[String]] =
    entries.get(sidecarSpecKey(sidecarMultiPrefix(dataPrefix))).map { s =>
      val cols = s.split(',').toSeq
      require(cols.nonEmpty && cols.forall(_.nonEmpty),
        s"malformed multi-zone sidecar spec '$s' for '$dataPrefix'")
      cols
    }

  /** The bloom spec pinned for `dataPrefix`, if any. */
  def pinnedBloomSpec(entries: Map[String, String],
                      dataPrefix: String): Option[(String, Long, Long)] =
    entries.get(sidecarSpecKey(bloomPrefix(dataPrefix))).map { s =>
      s.split(':') match {
        case Array(k, items, bits) => (k, items.toLong, bits.toLong)
        case _ => throw new IllegalStateException(
          s"malformed bloom sidecar spec '$s' for '$dataPrefix'")
      }
    }

  // ---- manifest-pinned bloom sidecars (snapshot lane) ------------------
  // The bloom twin of the manifest-pinned zone maps: per-file filters
  // become a generation-pinned root whose pins ride the same atomic
  // commit as the data pins. Point lookups plan through the manifest —
  // a half-committed publish can neither hide a pinned file from the
  // probe nor route it through an unpinned filter generation.

  /** Per-(partition, file) bloom rows of the data read AT `dataPins` —
    * the mid-cycle view, like [[collectSnapshotStats]].
    */
  def collectSnapshotBloom(spark: SparkSession, dir: String,
                           dataPrefix: String, partCol: String,
                           keyCol: String,
                           dataPins: Map[String, String],
                           touched: Option[Seq[Any]],
                           itemsPerFile: Long, numBits: Long): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    Versioned.readSnapshotAt(spark, dir, dataPrefix, partCol, dataPins,
        touched)
      .groupBy(col(partCol).cast("string").as("part"),
        input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        call_function("graft_bloom_agg", xxhash64(col(keyCol)),
          lit(itemsPerFile), lit(numBits)).as("bloom"))
  }

  /** Write the `touched` partitions' bloom rows into their `gen`
    * sidecar leaves; the caller folds the returned present set into
    * the SAME manifest entries as the data pins (under
    * [[bloomPrefix]]'s pin keys) — one commit flips data and filters
    * together.
    */
  def writeSnapshotBloomSidecar(spark: SparkSession, dir: String,
                                dataPrefix: String, partCol: String,
                                keyCol: String,
                                dataPins: Map[String, String],
                                touched: Seq[Any], gen: String,
                                itemsPerFile: Long = 1 << 20,
                                numBits: Long = 1L << 23): Set[Any] =
    writeSidecarKnown(dir,
      collectSnapshotBloom(spark, dir, dataPrefix, partCol, keyCol,
        dataPins, Some(touched), itemsPerFile, numBits),
      bloomPrefix(dataPrefix), dataPins, touched, gen)

  /** [[bloomCandidateFiles]] resolved through the newest manifest's
    * bloom-sidecar pins. Distributed probe — executors evaluate
    * membership, only file names reach the driver.
    */
  def bloomCandidateFilesSnapshot(spark: SparkSession, dir: String,
                                  manifestPrefix: String,
                                  dataPrefix: String, value: Any,
                                  parts: Option[Seq[Any]] = None): Seq[String] =
    bloomCandidateFilesAt(spark, dir, dataPrefix,
      Versioned.snapshotPins(dir, manifestPrefix, bloomPrefix(dataPrefix)),
      value, parts)

  /** [[bloomCandidateFilesSnapshot]] against an EXPLICIT bloom-sidecar
    * pin map — the time-travel / mid-cycle resolve.
    */
  def bloomCandidateFilesAt(spark: SparkSession, dir: String,
                            dataPrefix: String,
                            bloomPins: Map[String, String], value: Any,
                            parts: Option[Seq[Any]] = None): Seq[String] = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    pinnedSidecar(spark, dir, bloomPrefix(dataPrefix), bloomPins, parts)
      .filter(call_function("graft_bloom_might_contain",
        col("bloom"), lit(bloomHash(value))))
      .select(col("file"))
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** [[bloomCandidateFilesForKeys]] against an EXPLICIT bloom-sidecar
    * pin map — the batched probe on the snapshot lane (one sidecar
    * pass for the whole key batch; same cap, same names-only driver
    * contract).
    */
  def bloomCandidateFilesForKeysAt(spark: SparkSession, dir: String,
                                   dataPrefix: String,
                                   bloomPins: Map[String, String],
                                   values: Seq[Any],
                                   parts: Option[Seq[Any]] = None): Seq[String] = {
    require(values.nonEmpty, "empty key batch")
    require(values.size <= MaxBatchedLookupKeys,
      s"${values.size} keys exceed the batched-lookup cap " +
        s"($MaxBatchedLookupKeys): that is a broadcast-join workload, " +
        "not a planning probe")
    graft.functions.GraftFunctions.ensureRegistered(spark)
    pinnedSidecar(spark, dir, bloomPrefix(dataPrefix), bloomPins, parts)
      .filter(call_function("graft_bloom_might_contain_any",
        col("bloom"), lit(values.map(bloomHash).toArray)))
      .select(col("file"))
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Point-lookup read over a snapshot root, planned entirely from the
    * manifest-pinned bloom sidecar; row-for-row equal to the pinned
    * full read + equality filter (one-sided bloom error).
    */
  def readBloomSkippingSnapshot(spark: SparkSession, dir: String,
                                manifestPrefix: String,
                                dataPrefix: String, partCol: String,
                                keyCol: String, value: Any,
                                parts: Option[Seq[Any]] = None): DataFrame = {
    requireNoDeleteVectorsSnapshot(dir, manifestPrefix, dataPrefix,
      "readBloomSkippingSnapshot")
    val root = Versioned.snapshotRoot(dir, dataPrefix)
    val files = bloomCandidateFilesSnapshot(spark, dir, manifestPrefix,
      dataPrefix, value, parts)
    if (files.isEmpty)
      Versioned.readSnapshotPartitions(spark, dir, manifestPrefix,
        dataPrefix, partCol, None).filter(lit(false))
    else
      spark.read.option("basePath", root).parquet(files: _*)
        .drop("__gen").filter(col(keyCol) === lit(value))
  }
}
