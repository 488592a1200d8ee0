package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the synthetic star-schema tables (see TESTDATA.md).
  *
  * All loaders are plain parquet reads so Catalyst's column pruning and
  * filter pushdown reach the scan (`PushedFilters` / `ReadSchema` in
  * `.explain`). The schema is read from one footer on the driver
  * ([[graft.io.Versioned.readObject]]), so a load launches no
  * schema-inference job. At 100 TB these files become partitioned
  * directories; the loaders are the single seam where partition-pruning
  * predicates would be injected.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.io.Versioned.readObject(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Schema-adaptive timestamp normalization for `events.ts`.
    *
    * Different generations of the testdata have stored `ts` as
    * parquet TIMESTAMP(NANOS) (loads as raw INT64 nanos under the
    * `nanosAsLong` legacy conf) or as plain `timestamp[us]` (loads as
    * TIMESTAMP_NTZ when `isAdjustedToUTC=false`, TIMESTAMP otherwise).
    * Rather than pin one physical encoding, branch on the type actually
    * read — the same schema-on-read discipline the reference applies to
    * its survey payloads (reference/R/preprocessing-surveys.R:486,
    * R/survey-reshaping.R:523) — and always hand downstream code a
    * `TimestampType` column at microsecond precision.
    *
    * The session time zone is pinned to UTC ([[Sessions.configure]]), so
    * the NTZ→TZ cast is value-preserving and matches what DuckDB reads
    * from the same file byte-for-byte.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => // raw nanos via nanosAsLong: truncate to micros
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected INT64 nanos, TIMESTAMP or TIMESTAMP_NTZ)")
    }
  }

  /** Events loader; `ts` is normalized to TimestampType regardless of how
    * the parquet stores it (see [[normalizeEventTs]]). The legacy nanos
    * conf is set defensively in case the session was built elsewhere —
    * it is a no-op for non-NANOS files. It is set before the load: the
    * footer probe converts with the session's conf.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(spark, dir, "events"))
  }
}
