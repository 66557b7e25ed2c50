package graft.store

import graft.Reads
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FOLD COMPACTION for the persisted stores — the maintenance
  * operation that closes the two unbounded-growth paths the tombstone
  * and append scaladocs document (`AnnIndex.deleteVectors`,
  * `TextIndex.appendBatch`): tombstoned ids accumulate in `deletes`
  * and their rows persist in every sub-table until a rebuild, and each
  * appended batch adds files (and, for the lexical store, whole
  * df/stats delta SEGMENTS that serve must re-sum) forever. Compaction
  * rewrites each sub-table with the tombstoned rows physically
  * removed and the accumulated segments folded back to `filesPer`
  * files, then truncates `deletes` — `KeyIndex.compactSegments`' trade
  * applied to the serve stores.
  *
  * Serve-equivalence is exact, by construction: every ANN serve path
  * anti-joins its candidates against `deletes`, so removing those rows
  * and emptying the table is a no-op on results; the lexical store's
  * df/stats segments are ADDITIVE deltas that serve sums, so replacing
  * K segments by their sum is the identity. The specs prove both
  * bit-for-bit.
  *
  * Crash-safety: each sub-table rewrite goes through
  * `StoreRoot.swapDir` (write aside → rename live away → promote →
  * drop old LAST; `recoverSwap` heals a crash window on the next
  * entry). `deletes` truncates after every sub-table has swapped, so
  * an interruption leaves at worst already-removed ids still
  * tombstoned — over-complete, never under-complete.
  *
  * Torn batches: a batch that promoted files but crashed before its
  * `_committed` marker will REPLAY in full (the `BatchCommit`
  * contract). Its files are excluded from the fold and dropped by the
  * swap — exactly the rollback the replay performs itself — and while
  * any torn batch exists the `deletes` table is retained, so a
  * tombstone aimed at a torn batch's rows still kills them when the
  * replay re-promotes.
  */
object Compaction {

  /** Fold `subs` of the store at `root` to `filesPer` files each,
    * dropping rows whose `vec_id` is tombstoned in `$root/deletes`
    * (when that table exists and the sub-table carries a vec_id).
    * `fold` optionally replaces a sub-table's rows by a semantic
    * aggregate (the lexical df/stats folds). Partitioned sub-tables
    * keep their `cell=` directory layout (one file per cell when
    * `filesPer` is 1 — a cell's rows hash to one partition).
    */
  def compactStore(spark: SparkSession, root: String,
      subs: Seq[(String, Boolean)], filesPer: Int = 1,
      fold: Map[String, DataFrame => DataFrame] = Map.empty,
      cluster: Map[String, String] = Map.empty,
      idCol: String = "vec_id"): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delPath = new Path(s"$root/deletes")
    // COMMITTED tombstones only: a torn takedown batch's ids must not
    // drive physical row removal — its negative df/stats deltas are
    // equally torn, and the replay recomputes them FROM THE POSTINGS
    // (removing the rows first would make the re-derived deltas empty
    // and leave the summed statistics overcounting forever). Torn
    // delete files also force the deletes table to survive the fold.
    val (delCommitted, delTorn) =
      BatchCommit.committedDataFiles(spark, root, "deletes",
        partitioned = false)
    val del =
      if (delCommitted.nonEmpty)
        Some(Reads.parquet(spark, delCommitted: _*)
          .select(col(idCol)).distinct())
      else None
    var tornSeen = delTorn.nonEmpty
    subs.foreach { case (sub, partitioned) =>
      StoreRoot.recoverSwap(spark, s"$root/$sub")
      val (committed, torn) =
        BatchCommit.committedDataFiles(spark, root, sub, partitioned)
      tornSeen = tornSeen || torn.nonEmpty
      if (committed.nonEmpty) {
        val raw =
          if (partitioned)
            Reads.parquet(spark, Map("basePath" -> s"$root/$sub"), committed: _*)
          else Reads.parquet(spark, committed: _*)
        val live = del match {
          case Some(d) if raw.columns.contains(idCol) =>
            raw.join(broadcast(d), Seq(idCol), "left_anti")
          case _ => raw
        }
        val folded = fold.get(sub).map(_(live)).getOrElse(live)
        StoreRoot.swapDir(spark, s"$root/$sub") { tmp =>
          if (partitioned)
            folded.repartition(filesPer, col("cell"))
              .write.partitionBy("cell").parquet(tmp)
          else {
            val out = cluster.get(sub) match {
              case Some(c) => folded.repartition(filesPer, col(c))
                .sortWithinPartitions(col(c))
              case None => folded.repartition(filesPer)
            }
            out.write.parquet(tmp)
          }
        }
      }
    }
    // truncate tombstones LAST, and only when nothing is torn: a torn
    // batch replays in full after this fold dropped its files, so any
    // tombstone aimed at its rows must survive until that replay lands
    if (del.isDefined && !tornSeen) fs.delete(delPath, true)
  }

  /** PQ store: codes/vnorms/vecs8/attrs lose their tombstoned rows and
    * fold to `filesPer` files; `deletes` truncates.
    */
  def compactPqStore(spark: SparkSession, root: String,
      filesPer: Int = 1): Unit =
    compactStore(spark, root,
      Seq("codes" -> false, "vnorms" -> false, "vecs8" -> false,
        "attrs" -> false), filesPer)

  /** IVF store: the cell-partitioned inverted lists, same treatment —
    * the directory layout a probe's partition pruning depends on is
    * preserved by the partitioned rewrite.
    */
  def compactIvfStore(spark: SparkSession, root: String,
      filesPer: Int = 1): Unit =
    compactStore(spark, root, Seq("lists" -> true), filesPer)

  /** IVFPQ store: cell-partitioned codes plus the flat norms and SQ8
    * rescore table.
    */
  def compactIvfPqStore(spark: SparkSession, root: String,
      filesPer: Int = 1): Unit =
    compactStore(spark, root,
      Seq("cellcodes" -> true, "vnorms" -> false, "vecs8" -> false),
      filesPer)

  /** BOUNDED-SKEW DISCIPLINE for the cell-partitioned list tables —
    * the persisted twin of `Similarity.splitHotCells`: appends route
    * against FROZEN centroids, so a drifting delta concentrates into
    * few cells and erodes the nprobe/cells serve I/O bound toward a
    * full scan. This splitter rewrites any physical partition whose
    * population exceeds `factor`× the expected uniform share into
    * hash-mod sub-partitions under the same injective composite-id
    * scheme as the in-session splitter (`(cell+1)*1024 + sub`, nesting
    * cleanly across repeated splits). Serve expands a routed parent to
    * ALL its physical descendants (`AnnIndex.routedScan`), so the
    * candidate set per query is IDENTICAL before and after a split —
    * the operation is pure layout, which is what lets the spec assert
    * serve bit-equality and the oracle-gated queries stay untouched.
    *
    * The sub is `hash60(vec_id) mod f` rather than a cosine
    * sub-clustering: a similarity split cannot separate an adversarial
    * point mass (near-identical vectors all land in one sub-cell), and
    * no routing fidelity is lost because sub-cells are never routed
    * individually — they are always probed with their parent. `f`
    * doubles the ceil(pop/bound) quotient so hash variance keeps every
    * sub-partition under the bound with wide margin.
    *
    * `rowsPerVec` adapts the census to the sub-table's shape (1 for
    * IVF lists, 8 for IVFPQ cellcodes). Returns the number of
    * partitions split. Same single-writer maintenance contract as the
    * folds above.
    */
  /** Per-hot-cell split fan-out: doubled ceil(pop/bound) for
    * hash-variance headroom, CLAMPED below the composite-id radix — at
    * f ≥ 1024 the id (cell+1)*1024 + sub would alias into other
    * parents' ranges (rootCellOf strips base-1024 digits), silently
    * mis-routing the serve. An extreme point mass instead converges
    * via repeated NESTED splits on later maintenance passes: each
    * sub-cell is a first-class cell to the next census.
    */
  private[graft] def fanoutFor(pop: Long, bound: Long): Long =
    math.min(1023L, math.max(2L, 2L * ((pop + bound - 1) / bound)))

  def splitHotCells(spark: SparkSession, root: String, sub: String,
      factor: Int = 4, rowsPerVec: Int = 1): Int = {
    StoreRoot.recoverSwap(spark, s"$root/$sub")
    val (committed, _) =
      BatchCommit.committedDataFiles(spark, root, sub, partitioned = true)
    if (committed.isEmpty) return 0
    val nCells = Reads.parquet(spark, s"$root/centroids").count()
    val lists = Reads.parquet(spark, Map("basePath" -> s"$root/$sub"), committed: _*)
    val pops = lists.groupBy(col("cell"))
      .agg((count(lit(1)) / rowsPerVec).cast("long").as("pop")).collect()
      .map(r => r.getAs[Number]("cell").longValue -> r.getAs[Long]("pop"))
    val n = pops.map(_._2).sum
    val bound = factor.toLong * ((n + nCells - 1) / nCells)
    val hot = pops.filter(_._2 > bound)
    if (hot.isEmpty) return 0
    val fanout = hot.map { case (c, pop) => (c, fanoutFor(pop, bound)) }
    import spark.implicits._
    val fan = broadcast(fanout.toSeq.toDF("cell", "f")
      .withColumn("cell", col("cell").cast(lists.schema("cell").dataType)))
    StoreRoot.swapDir(spark, s"$root/$sub") { tmp =>
      lists.join(fan, Seq("cell"), "left")
        .withColumn("cell",
          when(col("f").isNotNull,
            (col("cell").cast("long") + 1) * 1024 +
              pmod(graft.functions.TextFunctions.hash60(
                col("vec_id").cast("string")), col("f")))
            .otherwise(col("cell").cast("long")))
        .drop("f")
        .repartition(col("cell"))
        .write.partitionBy("cell").parquet(tmp)
    }
    hot.length
  }

  /** Lexical store: postings re-cluster by token (row-group stats
    * skipping depends on it), dl folds file-wise, and the ADDITIVE
    * df/stats delta segments fold SEMANTICALLY — K df segments become
    * one exact per-token sum (dropping terms a takedown's negative
    * deltas cancelled to zero), K stats rows one summed row — restoring
    * the single-segment shape of a fresh build. Serve sums segments,
    * so the fold is the identity on every BM25 score; tombstoned docs'
    * postings/dl rows are removed physically, like the ANN stores'.
    */
  def compactLexStore(spark: SparkSession, root: String,
      filesPer: Int = 1): Unit =
    compactStore(spark, root,
      Seq("postings" -> false, "df" -> false, "dl" -> false,
        "stats" -> false),
      filesPer,
      fold = Map(
        "df" -> ((d: DataFrame) =>
          d.groupBy(col("tok")).agg(sum(col("df")).as("df"))
            .filter(col("df") =!= 0L)),
        "stats" -> ((d: DataFrame) =>
          d.agg(sum(col("n_docs")).as("n_docs"),
            sum(col("sum_dl")).as("sum_dl")))),
      cluster = Map("postings" -> "tok"),
      idCol = "doc_id")
}
