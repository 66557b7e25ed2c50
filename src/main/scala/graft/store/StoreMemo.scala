package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one process-level memo of store and corpus state: root digests,
  * index headers (codebooks, centroids, BM25 stats), query panels and
  * dial manifests. Each is a small pure function of files that change
  * only by rewrite, and recomputing it was a fixed driver job on every
  * warm serve. Query results are never memoized.
  *
  * An entry holds the value together with the state it was computed
  * from: the watched paths' visible files (name, length, mtime), or
  * `absent`. Spark part names carry a per-write UUID and batch commits
  * promote under a `batchN-` prefix, so every rewrite changes the
  * listing, even one that keeps the mtime and the entry count. The
  * commit generation would not do: a fold rewrites every data file and
  * carries the `_committed` markers forward. One entry per key, so
  * memory grows with the number of distinct paths, not with rewrites.
  * Keys are namespaced by the caller (`site:path`).
  *
  * The state is read before `compute` and no lock is held while it
  * runs: a compute may launch Spark jobs or reach another memoized
  * site. Two racing misses both compute and the last publish wins; a
  * value published under an older state misses on the next call.
  */
object StoreMemo {

  private final case class Entry(state: String, value: Any)

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  def get[T](spark: SparkSession, key: String, watched: Seq[String])(
      compute: => T): T = {
    val state = fingerprint(spark, watched)
    val hit = memo.get(key)
    if (hit != null && hit.state == state) hit.value.asInstanceOf[T]
    else {
      val value = compute
      memo.put(key, Entry(state, value))
      value
    }
  }

  /** `plan`'s schema and rows, collected once per state. */
  def collected(spark: SparkSession, key: String, watched: Seq[String])(
      plan: => DataFrame): (StructType, Array[Row]) =
    get(spark, key, watched) {
      val df = plan
      (df.schema, df.collect())
    }

  /** `plan`'s rows, collected once per state and rebuilt as a literal
    * local relation on every call (session-correct).
    */
  def rows(spark: SparkSession, key: String, watched: Seq[String])(
      plan: => DataFrame): DataFrame = {
    val (schema, rs) = collected(spark, key, watched)(plan)
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
  }

  /** One listing per path: a file lists as itself, a directory as its
    * children; `_`/`.`-prefixed names (markers, checksums) are skipped.
    */
  private[store] def fingerprint(spark: SparkSession, paths: Seq[String]): String =
    paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try fs.listStatus(path).toSeq
          .filterNot(st => hidden(st.getPath.getName))
          .map(st => s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime}")
          .sorted.mkString(s"$p:", ",", "")
      catch { case _: java.io.FileNotFoundException => s"$p:absent" }
    }.mkString(";")

  private[store] def hidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  private[graft] def keys: Seq[String] = memo.keySet.toArray(Array.empty[String]).toSeq
}
