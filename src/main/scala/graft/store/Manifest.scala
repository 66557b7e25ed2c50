package graft.store

import graft.Reads
import org.apache.spark.sql.{DataFrame, SparkSession}

/** STORE MANIFEST — the L9-style introspection surface for the
  * persisted index layer: one row per (store, sub-table) with the
  * table's ACTUAL row count, read from the index files themselves.
  * The DuckDB oracle PREDICTS every cardinality from the corpus
  * (codes = 8 rows/vector, codebooks = the occupied (s, code) pairs of
  * the trained quantizer, postings = distinct (doc, term) pairs, …),
  * so a hash match is a structural certification of the store layouts
  * — a dropped sub-table, a duplicated append, or a codebook that
  * trained on the wrong sample all break it.
  *
  * Counts are driver-side aggregate actions over the (already built)
  * index tables — O(stores × subs) control-plane rows out.
  */
object Manifest {
  def storeManifest(s: SparkSession, dir: String): DataFrame = {
    val pqRoot = AnnIndex.ensuredPqRoot(s, dir)
    val lexRoot = TextIndex.ensuredRoot(s, dir)
    def countOf(root: String, sub: String): Long =
      Reads.parquet(s, s"$root/$sub").count()
    val rows =
      Seq("attrs", "codebooks", "codes", "vecs8", "vnorms")
        .map(sub => ("pq", sub, countOf(pqRoot, sub))) ++
      Seq("df", "dl", "postings", "stats")
        .map(sub => ("lex", sub, countOf(lexRoot, sub)))
    import s.implicits._
    rows.toDF("store", "sub_table", "n_rows")
      .orderBy($"store", $"sub_table")
  }
}
