package graft

import java.nio.file.Files

import org.apache.spark.graftbridge.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** `Reads.parquet` resolves the schema Spark's own inference would,
  * without launching a job, and fails where Spark fails.
  */
class ReadsSpec extends SparkSpec {

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  private def sample: DataFrame = spark.range(40).select(
    col("id"), (col("id") % 3).cast("int").as("bucket"),
    concat(lit("k"), col("id").cast("string")).as("label"),
    to_date(lit("2024-01-01")).as("day"),
    array(col("id").cast("double")).as("vec"))

  /** The helper's frame, checked against Spark's inference: same schema,
    * same rows, and zero jobs to build it.
    */
  private def assertMirrors(read: => DataFrame, inferred: => DataFrame): Unit = {
    val (df, jobs) = JobCounter.jobsIn(spark.sparkContext)(read)
    assert(jobs.isEmpty, jobs.map(JobCounter.callSite).mkString("jobs: ", ", ", ""))
    val want = inferred
    assert(df.schema == want.schema)
    assert(df.collect().map(_.toString).sorted.sameElements(
      want.collect().map(_.toString).sorted))
  }

  private def dataFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath)
      .filter(_.endsWith(".parquet")).sorted.toSeq

  test("a single file") {
    val dir = tmp("reads_file")
    sample.coalesce(1).write.mode("overwrite").parquet(dir)
    val file = dataFiles(dir).head
    assertMirrors(Reads.parquet(spark, file), spark.read.parquet(file))
  }

  test("a Spark-written directory with _SUCCESS") {
    val dir = tmp("reads_dir")
    sample.repartition(3).write.mode("overwrite").parquet(dir)
    assert(new java.io.File(s"$dir/_SUCCESS").exists())
    assertMirrors(Reads.parquet(spark, dir), spark.read.parquet(dir))
  }

  test("a partitionBy directory: partition columns keep their inferred types") {
    val dir = tmp("reads_part")
    sample.write.mode("overwrite").partitionBy("bucket", "label").parquet(dir)
    assertMirrors(Reads.parquet(spark, dir), spark.read.parquet(dir))
    assert(Reads.parquet(spark, dir).schema("bucket").dataType ==
      spark.read.parquet(dir).schema("bucket").dataType)
    // a basePath read of one partition directory
    val opts = Map("basePath" -> dir)
    assertMirrors(Reads.parquet(spark, opts, s"$dir/bucket=1"),
      spark.read.options(opts).parquet(s"$dir/bucket=1"))
  }

  test("TIMESTAMP(NANOS) reads as long under nanosAsLong, as Tables.events relies on") {
    // a nanosecond timestamp file as pyarrow writes one (Spark cannot)
    val file = s"${tmp("reads_nanos")}/nanos.parquet"
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); required int64 id; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try (0 until 3).foreach { i =>
      writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        .newGroup().append("ts", 1700000000123456789L + i).append("id", i.toLong))
    } finally writer.close()
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      assertMirrors(Reads.parquet(spark, file), spark.read.parquet(file))
      assert(Reads.parquet(spark, file).schema("ts").dataType == LongType)
      // the events fixture reads the same way under the same setting
      val events = s"$Sf0001/events.parquet"
      assertMirrors(Reads.parquet(spark, events), spark.read.parquet(events))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a varargs multi-file read") {
    val dir = tmp("reads_multi")
    sample.repartition(4).write.mode("overwrite").parquet(dir)
    val files = dataFiles(dir)
    assert(files.size > 1)
    assertMirrors(Reads.parquet(spark, files: _*), spark.read.parquet(files: _*))
  }

  test("a missing path and a data-less directory fail as spark.read.parquet does") {
    val empty = tmp("reads_empty")
    Files.createFile(java.nio.file.Paths.get(empty, "_SUCCESS"))
    Seq(s"$empty/missing", empty).foreach { path =>
      val want = intercept[Exception](spark.read.parquet(path))
      val got = intercept[Exception](Reads.parquet(spark, path))
      assert(got.getClass == want.getClass, s"$path: $got vs $want")
      assert(got.getMessage == want.getMessage)
    }
  }
}
