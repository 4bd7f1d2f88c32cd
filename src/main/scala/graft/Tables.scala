package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Always go through `graft.io.Sources.read`: it returns the same
  * parquet relation `spark.read.parquet` does, so Catalyst can push
  * filters/column pruning into it — at 100 TB the scan is the dominant
  * cost and `PushedFilters`/`ReadSchema` pruning is the single biggest
  * lever — and it reads each file version's footer schema once per
  * session instead of running a footer job on every build.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.io.Sources.read(spark, "parquet", s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) (which Spark
    * only reads as a raw nanosecond long under `nanosAsLong`) and plain
    * TIMESTAMP(MICROS). Normalize either encoding to a microsecond
    * TimestampType — the same truncation DuckDB applies — so oracle
    * comparisons see identical values regardless of the file's physical
    * type. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    graft.io.Sources.nanosAsLong(spark)
    normalizeEventTs(apply(spark, dir, "events"))
  }

  /** Normalize any of the three `ts` encodings the driver has shipped —
    * raw nanosecond long (parquet TIMESTAMP(NANOS) under `nanosAsLong`),
    * TIMESTAMP_NTZ (isAdjustedToUTC=false micros), or a plain micros
    * TIMESTAMP — to a microsecond TimestampType, the same truncation
    * DuckDB applies, so oracle comparisons see identical values
    * regardless of the file's physical type. Split out of [[events]] so
    * the branch table is regression-testable without parquet fixtures
    * (the r9 gate lost 11 queries to exactly this drift). */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // session tz is UTC so the cast to LTZ is value-preserving and
        // keeps unix_micros legal
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already a (micros) timestamp
    }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
