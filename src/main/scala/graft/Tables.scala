package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Schemas come from parquet's own footer, never from a data pass
  * (SURVEY.md §1.3): `load` goes through `Reads.parquet`, which reads
  * one footer on the driver (the file Spark's inference would pick)
  * and converts it with Spark's converter under the session's settings
  * — so no load runs a schema-inference job.
  * Each table is one parquet path; on a real cluster these would be
  * date-partitioned directories — the loaders take the directory so the
  * layout can change without touching query code.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Runtime session requirements of the query library, applied at every
    * load so queries behave identically under ANY caller-provided
    * session (the driver smoke-checks `entry` with its own session):
    * naive parquet timestamps read as NTZ, UTC wall clock, non-ANSI
    * arithmetic (LSH hash mixing relies on wrap-around int64 ops).
    */
  def ensureSessionConf(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureSessionConf(spark)
    Reads.parquet(spark, s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark's reader
    * rejects. Read it as raw nanos (legacy long mode) and truncate to
    * microseconds with integral division — exactly what DuckDB's
    * µs-precision TIMESTAMP does on the same file, so the two engines
    * see identical instants. Result type is TIMESTAMP_NTZ (naive, UTC).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
