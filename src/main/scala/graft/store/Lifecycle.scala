package graft.store

import java.time.LocalDate

import graft.Reads
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Time-partitioned Parquet table layout + data lifecycle
  * (SURVEY.md §2.7 L1-L7): the Spark equivalent of the reference's
  * hypertable chunking, compression clustering, archival and retention.
  *
  *  - Layout: `event_date=YYYY-MM-DD/` partitions (≡ 1-day hypertable
  *    chunks, init.sql:74-77) → Catalyst partition pruning replaces
  *    TimescaleDB chunk exclusion.
  *  - Clustering: within each partition, rows are repartitioned by the
  *    device key and sorted by (key, ts desc) before write (≡ compression
  *    segmentby=device_id orderby=ts DESC, init.sql:80-91) — parquet
  *    row-group min/max stats then skip on both key and time.
  *  - Archive/retention/compaction are partition-level moves/drops —
  *    metadata-cheap at any scale, no row rewrites.
  *
  * All filesystem surgery goes through the Hadoop FileSystem API
  * resolved from the path, so the same code runs on local disk, HDFS,
  * or an object store (s3a/abfs/gs) — never java.nio, which only exists
  * on the driver's local disk.
  */
object Lifecycle {

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write a readings table in the clustered, date-partitioned layout
    * (L4). `keyCol` is the device/entity key, `tsCol` the event time.
    */
  def writeClustered(df: DataFrame, outDir: String, keyCol: String,
      tsCol: String, partitions: Int = 0): Unit = {
    val dated = df.withColumn("event_date", to_date(col(tsCol)))
    val np = if (partitions > 0) partitions
             else df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    dated
      .repartition(np, col("event_date"), col(keyCol))
      .sortWithinPartitions(col("event_date"), col(keyCol), col(tsCol).desc)
      .write.mode("overwrite")
      .partitionBy("event_date")
      .parquet(outDir)
  }

  /** Morton z-value: interleave the low `bits` bits of two non-negative
    * integer dimensions — points close in z are close in BOTH
    * dimensions, so range-partitioning + sorting by z gives every file
    * a tight bounding BOX over (a, b) instead of a tight interval over
    * one dimension and the full domain of the other. Pure bit
    * arithmetic → whole-stage codegen, no UDF.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** L4's MULTI-dimensional sibling: cluster a table so parquet
    * row-group/file min-max stats prune on TWO dimensions at once
    * (device AND time, tenant AND date...). The 1-D clustering
    * `writeClustered` does is optimal for one dimension and useless for
    * the other; z-ordering trades a little of the first dimension's
    * tightness for bounded spans on both — the layout a 100 TB store
    * wants when queries filter on either dimension independently.
    * `dimA`/`dimB` must be non-negative integers fitting `bits` bits
    * (bucket/rank wider domains first).
    */
  def writeZClustered(df: DataFrame, outDir: String, dimA: String,
      dimB: String, files: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zValue(col(dimA), col(dimB), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)

  private def partitionDates(spark: SparkSession, dir: String): Seq[(LocalDate, Path)] = {
    val root = new Path(dir)
    val filesystem = fs(spark, dir)
    if (!filesystem.exists(root)) return Seq.empty
    filesystem.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("event_date="))
      .map(s => (LocalDate.parse(s.getPath.getName.stripPrefix("event_date=")), s.getPath))
  }

  /** L1 archive_old_data: move partitions older than `cutoff` from the
    * main table to the archive. Pure partition surgery — directory
    * renames through the FileSystem API, NO Spark job and no row
    * rewrite, so the op is metadata-cheap at any table size (the same
    * discipline `compact` uses for its promotion step). If the archive
    * already holds data for a partition date, the partition's files are
    * renamed in individually (part-file names carry job UUIDs, so they
    * cannot collide). Assumes main and archive live on the same
    * FileSystem, the normal layout for a table and its archive tier.
    * Returns the number of partitions moved.
    */
  def archiveOlderThan(spark: SparkSession, mainDir: String,
      archiveDir: String, cutoff: LocalDate): Int = {
    val old = partitionDates(spark, mainDir).filter(_._1.isBefore(cutoff))
    if (old.isEmpty) return 0
    val filesystem = fs(spark, mainDir)
    val archRoot = new Path(archiveDir)
    filesystem.mkdirs(archRoot)
    old.foreach { case (_, p) =>
      val target = new Path(archRoot, p.getName)
      if (filesystem.exists(target)) {
        filesystem.listStatus(p).foreach { st =>
          if (!filesystem.rename(st.getPath, new Path(target, st.getPath.getName)))
            throw new java.io.IOException(
              s"archive: cannot move ${st.getPath} into $target")
        }
        filesystem.delete(p, true)
      } else if (!filesystem.rename(p, target))
        throw new java.io.IOException(s"archive: cannot move $p to $target")
    }
    old.size
  }

  /** L2/L3 retention: drop partitions older than cutoff. */
  def dropOlderThan(spark: SparkSession, dir: String, cutoff: LocalDate): Int = {
    val old = partitionDates(spark, dir).filter(_._1.isBefore(cutoff))
    val filesystem = fs(spark, dir)
    old.foreach { case (_, p) => filesystem.delete(p, true) }
    old.size
  }

  /** L7 compaction (the VACUUM analog that matters in a file store):
    * rewrite each partition's small files into `filesPerPartition`
    * sorted files. Crash-safe swap: the rewritten table is promoted by
    * renaming the live dir aside FIRST, so no point of failure leaves
    * the table missing — at worst the `__old` copy still holds every
    * row and the recovery is a rename.
    */
  def compact(spark: SparkSession, dir: String, keyCol: String, tsCol: String,
      filesPerPartition: Int = 1): Unit = {
    val tmp = dir + "__compacting"
    val old = dir + "__old"
    Reads.parquet(spark, dir)
      .repartition(filesPerPartition, col("event_date"))
      .sortWithinPartitions(col(keyCol), col(tsCol).desc)
      .write.mode("overwrite").partitionBy("event_date").parquet(tmp)
    val filesystem = fs(spark, dir)
    filesystem.delete(new Path(old), true) // leftover from a prior crash
    if (!filesystem.rename(new Path(dir), new Path(old)))
      throw new java.io.IOException(s"compact: cannot move $dir aside")
    if (!filesystem.rename(new Path(tmp), new Path(dir))) {
      filesystem.rename(new Path(old), new Path(dir)) // roll back
      throw new java.io.IOException(s"compact: cannot promote $tmp")
    }
    filesystem.delete(new Path(old), true)
  }

  /** O2 at scale: maintain anomalies as a filtered SIDE-TABLE written at
    * ingest (date-partitioned, clustered by device) instead of running
    * the anomalous-readings view as a full-table filter + global sort.
    * At 100 TB the ad-hoc view scans everything to keep ~0.1% of rows;
    * this table holds only those rows, so "all anomalies, newest first"
    * is a partition-pruned scan of an already-tiny table. The ad-hoc
    * query (EventAnalytics.o2AnomalousReadings) stays as the fallback
    * and as this table's correctness oracle.
    */
  def writeAnomalies(events: DataFrame, outDir: String): Unit =
    writeClustered(
      events.filter(col("event_type") === "error")
        .select(col("event_id"), col("ts"), col("user_id"), col("value")),
      outDir, keyCol = "user_id", tsCol = "ts")

  /** The maintained-view read path, same shape/order as the ad-hoc O2. */
  def readAnomalies(spark: SparkSession, dir: String): DataFrame =
    Reads.parquet(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .orderBy(col("ts").desc)

  /** L9-ish introspection: per-partition file count + bytes. */
  def tableStats(spark: SparkSession, dir: String): Seq[(String, Int, Long)] =
    partitionDates(spark, dir).sortBy(_._1.toString).map { case (d, p) =>
      val it = fs(spark, dir).listFiles(p, true)
      var n = 0; var bytes = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
      }
      (d.toString, n, bytes)
    }
}
