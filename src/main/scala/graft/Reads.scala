package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ParquetFooters

/** Parquet reads whose schema is resolved on the driver.
  *
  * `spark.read.parquet(p)` without a schema runs a one-task job to read
  * one footer (Spark's schema merge always goes through a job, even for
  * a single file); on a warm serve that job is pure scheduling latency.
  * `parquet` reads the footer Spark's non-merging inference would pick
  * — `_common_metadata`, else `_metadata`, else the first data file in
  * path order — on the driver, converts it with Spark's own converter,
  * and reads with that schema. Partition columns are still discovered
  * from directory names by Spark. Whenever the paths hold no readable
  * data file, or use a layout or option this does not mirror (globs,
  * schema merging, file filters, non-partition subdirectories), it is
  * a plain `spark.read.parquet`, so errors and edge cases stay Spark's.
  */
object Reads {

  def parquet(spark: SparkSession, paths: String*): DataFrame =
    parquet(spark, Map.empty[String, String], paths: _*)

  /** `options` may set `basePath` and `recursiveFileLookup`; any other
    * option takes the plain inferring read.
    */
  def parquet(spark: SparkSession, options: Map[String, String],
      paths: String*): DataFrame = {
    val reader = spark.read.options(options)
    val schema = schemaFile(spark, options, paths).flatMap(f =>
      scala.util.Try(ParquetFooters.schemaOf(spark, f, options)).toOption)
    schema.fold(reader)(reader.schema).parquet(paths: _*)
  }

  private val mirroredOptions = Set("basePath", "recursiveFileLookup")
  private val summaryFiles = Seq("_common_metadata", "_metadata")

  private def isGlob(p: String): Boolean = p.exists("{}[]*?\\".contains(_))

  /** The file Spark's non-merging inference reads for these paths, or
    * None where `parquet` falls back to it.
    */
  private def schemaFile(spark: SparkSession, options: Map[String, String],
      paths: Seq[String]): Option[FileStatus] = {
    if (paths.isEmpty || paths.exists(isGlob) ||
        !options.keySet.subsetOf(mirroredOptions) ||
        spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean) return None
    val recursive = options.get("recursiveFileLookup").exists(_.toBoolean)
    val hconf = spark.sparkContext.hadoopConfiguration
    val roots = paths.map { p => val path = new Path(p); (path.getFileSystem(hconf), path) }
    if (!roots.forall { case (fs, p) => fs.exists(p) }) return None
    val leaves = roots.flatMap { case (fs, p) =>
      leavesOf(fs, fs.makeQualified(p), inPartitions = true) }
    // without recursive lookup Spark reads files below a root only
    // through `k=v` partition directories
    if (!recursive && leaves.exists(!_._2)) return None
    val files = leaves.map(_._1).sortBy(_.getPath.toString)
    summaryFiles.iterator
      .flatMap(n => files.find(_.getPath.getName == n))
      .nextOption()
      .orElse(files.find(f => !summaryFiles.contains(f.getPath.getName)))
  }

  /** Visible files at or under `p`, each flagged with whether every
    * directory between the root and it is a `k=v` partition directory.
    */
  private def leavesOf(fs: FileSystem, p: Path,
      inPartitions: Boolean): Seq[(FileStatus, Boolean)] =
    fs.listStatus(p).toSeq
      .filterNot(c => ParquetFooters.isHidden(c.getPath.getName))
      .flatMap { c =>
        if (c.isDirectory)
          leavesOf(fs, c.getPath, inPartitions && c.getPath.getName.contains("="))
        else Seq((c, inPartitions))
      }
}
