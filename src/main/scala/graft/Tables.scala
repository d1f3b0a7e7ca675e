package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor dir. At
  * cluster scale these would be multi-file datasets; nothing here assumes a
  * single file — `spark.read.parquet(path)` handles directories of files
  * identically, and all downstream operators rely on Catalyst for
  * partition-pruned, column-pruned, filter-pushed scans.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Normalize the events `ts` column to a session-TZ TimestampType.
    *
    * Testdata generations have stored it three ways: parquet
    * TIMESTAMP(NANOS) — which Spark rejects by default
    * (PARQUET_TYPE_ILLEGAL) and surfaces as a nanos Long under the
    * legacy `nanosAsLong` conf — TIMESTAMP_NTZ micros, and plain
    * TIMESTAMP micros. Accept all three: the loader must not silently
    * break when the driver regenerates the tables with a different
    * writer. Nanos carry no sub-microsecond components in this data, so
    * `div 1000` is lossless; the NTZ→TZ cast reinterprets the wall
    * clock in the session zone (pinned UTC everywhere), matching the
    * oracle's epoch() exactly. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** Epoch-micros Column for the raw events `ts`, whatever its storage
    * type — for callers that need to range-partition or bound the raw
    * table without changing its schema. */
  def tsMicrosCol(df: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType         => expr("ts div 1000")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case _                => unix_micros(col("ts"))
    }
  }

  /** The events table with `ts` in its on-disk type — what the stream
    * replays lay out, so replay files and the real table stay
    * schema-identical. Sets the legacy `nanosAsLong` conf first: a
    * nanos generation is rejected without it, so every raw reader must
    * go through here or break when it runs first in a fresh session. */
  def rawEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(spark, sfDir, "events")
  }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeTs(rawEvents(spark, sfDir))
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
}
