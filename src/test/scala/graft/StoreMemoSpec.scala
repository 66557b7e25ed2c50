package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.graftbridge.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.store.{AnnIndex, StoreMemo, StoreRoot, TextIndex}

/** `StoreMemo` serves the rows of the store state it was computed from:
  * a rewrite that keeps the directory's mtime and entry count still
  * misses, an unchanged state hits without a job, and rewrites replace
  * an entry instead of adding one.
  */
class StoreMemoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeDial(root: String, rows: Seq[(Long, Double)]): Unit =
    rows.toDF("nprobe", "mean_recall").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/dial")

  private def writeHeader(dir: String, cells: Seq[Long]): Unit =
    cells.toDF("cell").coalesce(1).write.mode("overwrite").parquet(dir)

  private def header(dir: String) =
    StoreRoot.localizedArtifact(spark, dir)(Reads.parquet(spark, dir))

  private def cells(dir: String): Seq[Long] =
    header(dir).collect().map(_.getLong(0)).toSeq.sorted

  /** Run `rewrite`, then put the directory's mtime back and check that
    * its entry count did not move either.
    */
  private def rewriteKeepingMtime(dir: String)(rewrite: => Unit): Unit = {
    val p = new Path(dir)
    val before = fs.getFileStatus(p).getModificationTime
    val entries = fs.listStatus(p).length
    rewrite
    fs.setTimes(p, before, -1)
    assert(fs.getFileStatus(p).getModificationTime == before)
    assert(fs.listStatus(p).length == entries)
  }

  test("a same-mtime, same-entry-count rewrite of a dial dir serves the new rows") {
    val root = tmp("memo_dial")
    writeDial(root, Seq(1L -> 0.9, 2L -> 0.95))
    assert(AnnIndex.resolveNprobe(spark, root, 0.5) == 1)
    rewriteKeepingMtime(s"$root/dial")(writeDial(root, Seq(1L -> 0.1, 4L -> 0.9)))
    assert(AnnIndex.resolveNprobe(spark, root, 0.5) == 4)
  }

  test("a same-mtime, same-entry-count rewrite of a localized artifact serves the new rows") {
    val dir = s"${tmp("memo_header")}/centroids"
    writeHeader(dir, Seq(1L, 2L, 3L))
    assert(cells(dir) == Seq(1L, 2L, 3L))
    rewriteKeepingMtime(dir)(writeHeader(dir, Seq(7L, 8L)))
    assert(cells(dir) == Seq(7L, 8L))
  }

  test("an unchanged state returns the same rows and launches no job") {
    val root = tmp("memo_warm")
    writeDial(root, Seq(1L -> 0.2, 2L -> 0.6, 8L -> 0.9))
    val dir = s"$root/centroids"
    writeHeader(dir, Seq(4L, 5L))
    val first = (AnnIndex.resolveNprobe(spark, root, 0.5), cells(dir))
    val (second, jobs) = JobCounter.jobsIn(spark.sparkContext)(
      (AnnIndex.resolveNprobe(spark, root, 0.5), header(dir)))
    assert(jobs.isEmpty, jobs.map(JobCounter.callSite).mkString("jobs: ", ", ", ""))
    assert(second._1 == first._1 && second._1 == 2)
    assert(second._2.collect().map(_.getLong(0)).toSeq.sorted == first._2)
  }

  test("rewriting one path five times leaves one entry") {
    val root = tmp("memo_bound")
    val dir = s"$root/codebooks"
    (1 to 5).foreach { i =>
      writeHeader(dir, (0L until i.toLong))
      assert(cells(dir) == (0L until i.toLong))
    }
    assert(StoreMemo.keys.filter(_.contains(root)) == Seq(s"artifact:$dir"))
  }

  test("maxDocId follows a rewritten documents.parquet") {
    val dir = tmp("memo_docs")
    val docs = Tables.documents(spark, Sf0001)
    def writeDocs(below: Long): Unit =
      docs.filter(col("doc_id") < below).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
    writeDocs(20)
    assert(operators.Multimodal.maxDocId(spark, dir) == 19)
    writeDocs(7)
    assert(operators.Multimodal.maxDocId(spark, dir) == 6)
  }

  test("root resolution reads the row count from footers and launches no job") {
    val src = s"$Sf0001/embeddings.parquet"
    assert(StoreRoot.rowCount(spark, src) == Tables.embeddings(spark, Sf0001).count())
    val kind = s"memospec${System.nanoTime()}"
    val (cold, jobs) = JobCounter.jobsIn(spark.sparkContext)(
      StoreRoot.rootFor(spark, src, kind, "v1"))
    assert(jobs.isEmpty, jobs.map(JobCounter.callSite).mkString("jobs: ", ", ", ""))
    assert(StoreRoot.rootFor(spark, src, kind, "v1") == cold)

    val copy = s"${tmp("memo_root")}/embeddings.parquet"
    val emb = Tables.embeddings(spark, Sf0001)
    emb.filter(col("vec_id") < 30).coalesce(1).write.parquet(copy)
    val before = StoreRoot.rootFor(spark, copy, kind, "v1")
    assert(StoreRoot.rowCount(spark, copy) == 30)
    emb.filter(col("vec_id") < 20).coalesce(1).write.mode("overwrite").parquet(copy)
    assert(StoreRoot.rowCount(spark, copy) == 20)
    assert(StoreRoot.rootFor(spark, copy, kind, "v1") != before)
  }

  test("the lexical serve's header follows a delete and an append on one root") {
    val docs = Tables.documents(spark, Sf0001)
    def served(root: String) =
      TextIndex.serveBm25(spark, root).collect().map(_.toString).toSeq.sorted
    def oneShot(live: DataFrame) = {
      val ref = s"${tmp("memo_lexref")}/idx"
      TextIndex.build(live, ref)
      served(ref)
    }
    val half = docs.count() / 2
    val base = docs.filter(col("doc_id") < half)
    val root = s"${tmp("memo_lex")}/idx"
    TextIndex.build(base, root)
    assert(served(root) == oneShot(base))
    // doc 3 is a panel doc: the delete changes the panel's terms as
    // well as the df and stats sums
    val dead = base.filter(col("doc_id") % 7 === 3).select(col("doc_id"))
    TextIndex.deleteDocs(spark, root, dead, 0L)
    val live = base.join(dead, Seq("doc_id"), "left_anti")
    assert(served(root) == oneShot(live))
    val more = docs.filter(col("doc_id") >= half)
    TextIndex.appendBatch(more, root, 1L)
    assert(served(root) == oneShot(live.unionByName(more)))
  }
}
