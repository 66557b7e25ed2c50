package graft.store

import graft.{Reads, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PERSISTED LEXICAL INDEX — the text twin of `AnnIndex`: the BM25
  * statistics a search deployment computes once at ingest, stored as
  * parquet tables, so serving a query never re-tokenizes the corpus:
  *
  *   postings  (tok, doc_id, tf)  — the inverted index, repartitioned
  *                                  and sorted by tok so min/max
  *                                  row-group stats skip non-matching
  *                                  splits on selective term sets
  *   df        (tok, df)          — document frequency per term
  *   dl        (doc_id, dl)       — document length
  *   stats     (n_docs, sum_dl)   — one row
  *
  * Serve answers BM25 top-k FROM THE INDEX TABLES ONLY (the query's
  * own terms are read from its postings rows) — no documents-table
  * scan on the serve side, the same contract the ANN serves prove.
  * With `AnnIndex`, both legs of the hybrid retrieval stack have a
  * build-once / serve-many store.
  *
  * Determinism: every table is an exact-integer aggregate of the token
  * multiset; the BM25 arithmetic mirrors `Hybrid.hybridTopkDf` term
  * for term, so one DuckDB oracle certifies the in-session leg and
  * this persisted serve alike.
  */
object TextIndex {

  private val FormatVersion = "v1"

  /** The `kind` root for a corpus dir — resolved and published via the
    * shared `StoreRoot` protocol, keyed on the documents table's state —
    * built if absent by `build(documents, staging)`. The table is read
    * only inside the build, so a warm call pays no footer read.
    */
  private def ensured(spark: SparkSession, dir: String, kind: String)(
      build: (DataFrame, String) => Unit): String = {
    val root = StoreRoot.rootFor(spark, s"$dir/documents.parquet", kind,
      FormatVersion)
    StoreRoot.ensureBuilt(spark, root)(staging =>
      build(Tables.documents(spark, dir), staging))
    root.toString
  }

  /** The per-document token counts (the one tokenize scan an index
    * build or append pays). `df`, `dl` and `stats` are pure aggregates
    * of these rows, so both writers below derive them from the
    * ALREADY-WRITTEN postings parquet rather than re-running this
    * lineage — one tokenize pass per build/batch, the same
    * derive-from-staged pattern as `AnnIndex`'s vnorms-from-codes.
    * `df` and `stats` are stored as ADDITIVE DELTAS (serve sums them),
    * which is what makes incremental append exact: every BM25
    * statistic is a pure sum over documents, so build(A∪B) ≡
    * build(A) + append(B) bit-for-bit — the lexical store needs no
    * frozen-quantizer caveat.
    */
  private def tfOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"))).as("tok"))
    .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))

  private def dfOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))

  private def dlOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))

  private def statsOf(dl: DataFrame): DataFrame =
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  def build(docs: DataFrame, path: String): Unit = {
    val spark = docs.sparkSession
    tfOf(docs).select(col("tok"), col("doc_id"), col("tf"))
      .repartition(col("tok")).sortWithinPartitions(col("tok"))
      .write.parquet(s"$path/postings")
    val postings = Reads.parquet(spark, s"$path/postings")
    dfOf(postings).write.parquet(s"$path/df")
    dlOf(postings).write.parquet(s"$path/dl")
    statsOf(Reads.parquet(spark, s"$path/dl")).write.parquet(s"$path/stats")
  }

  /** EXACTLY-ONCE incremental append — the lexical twin of
    * `AnnIndex.appendPqBatch`, same marker + rollback-by-file-prefix
    * discipline: a new document batch appends its postings/dl rows and
    * its df/stats DELTAS (serve sums deltas, so global statistics stay
    * exact without ever re-reading the corpus). Cost is ONE tokenize
    * scan of the delta: postings stage first (the subs order), and
    * df/dl/stats derive from the just-staged postings parquet.
    */
  def appendBatch(docs: DataFrame, root: String, batchId: Long,
      filesPerBatch: Int = 1): Unit = {
    val spark = docs.sparkSession
    BatchCommit.commit(spark, root, batchId,
      Seq("postings", "df", "dl", "stats").map(_ -> false)) { (sub, path) =>
      def staged(name: String) = Reads.parquet(spark, 
        path.substring(0, path.lastIndexOf('/')) + "/" + name)
      val bounded = sub match {
        // bound files per batch WITHOUT losing the postings' term
        // clustering (row-group stats skipping depends on it)
        case "postings" => tfOf(docs)
          .select(col("tok"), col("doc_id"), col("tf"))
          .repartition(filesPerBatch, col("tok"))
          .sortWithinPartitions(col("tok"))
        case "df"    => dfOf(staged("postings")).repartition(filesPerBatch)
        case "dl"    => dlOf(staged("postings")).repartition(filesPerBatch)
        case _       => statsOf(staged("dl"))
      }
      bounded.write.parquet(path)
    }
  }

  /** Streaming maintenance for the lexical index — the document delta
    * stream absorbed micro-batch by micro-batch, exactly once.
    */
  def startAppendSink(stream: DataFrame, root: String,
      checkpoint: String,
      filesPerBatch: Int = 1): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) =>
        appendBatch(b, root, id, filesPerBatch))
      .start()

  /** TAKEDOWN for the lexical store — the tombstone discipline the ANN
    * stores already have, in the form BM25's additivity makes exact:
    * deleted doc ids land in a `deletes` table (serve anti-joins the
    * postings against it) and the deleted docs' df/stats contributions
    * are cancelled by NEGATIVE delta segments computed from the
    * index's OWN postings — no corpus access, and after the sums the
    * statistics equal an index built without those docs bit-for-bit.
    * Committed exactly-once under `BatchCommit` (a replayed takedown
    * batch short-circuits on its marker), and ids already tombstoned
    * are excluded so a later batch can never double-subtract.
    * `Compaction.compactLexStore` later removes the rows physically
    * and folds the negatives away.
    */
  def deleteDocs(spark: SparkSession, root: String, ids0: DataFrame,
      batchId: Long): Unit = {
    val fresh = ids0.select(col("doc_id")).distinct()
    // already-deleted exclusion against COMMITTED tombstones only: a
    // torn prior attempt's deletes file is about to be rolled back by
    // this very commit's replay path — counting it would make the
    // replay see its own ids as already deleted and write EMPTY
    // deltas, silently losing the takedown
    val (delCommitted, _) =
      BatchCommit.committedDataFiles(spark, root, "deletes",
        partitioned = false)
    val ids =
      if (delCommitted.isEmpty) fresh
      else fresh.join(
        Reads.parquet(spark, delCommitted: _*).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    // cached for the batch: the df and stats stages both aggregate the
    // deleted docs' postings — one scan of the store's largest table,
    // not two
    val gone = Reads.parquet(spark, s"$root/postings")
      .join(broadcast(ids), Seq("doc_id"), "left_semi").persist()
    try BatchCommit.commit(spark, root, batchId,
      Seq("deletes", "df", "stats").map(_ -> false)) { (sub, path) =>
      (sub match {
        case "deletes" => ids
        case "df" => gone.groupBy(col("tok"))
          .agg((lit(0L) - count(lit(1))).as("df"))
        case _ => gone.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
          .agg((lit(0L) - count(lit(1))).as("n_docs"),
            (lit(0L) - coalesce(sum(col("dl")), lit(0L))).as("sum_dl"))
      }).coalesce(1).write.parquet(path)
    } finally gone.unpersist()
  }

  /** Takedown requests as a STREAM — each micro-batch of doc ids lands
    * through `deleteDocs`, whose marker short-circuits replays and
    * whose already-deleted exclusion makes overlapping batches safe,
    * so the negative-delta arithmetic stays exact under at-least-once
    * delivery.
    */
  def startDeleteSink(stream: DataFrame, root: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: DataFrame, id: Long) =>
        deleteDocs(b.sparkSession, root, b, 1000000L + id))
      .start()

  /** Postings minus the tombstoned docs; identity when none exist
    * (the ANN stores' anti-join, keyed on doc_id).
    */
  private def minusDeletes(spark: SparkSession, root: String,
      postings: DataFrame): DataFrame =
    AnnIndex.minusDeletes(spark, root, postings, "doc_id")

  /** The query side of a lexical root, read once per state of the
    * tables it derives from (through [[StoreMemo]]): the panel's terms
    * (the surviving postings rows of doc_id < 10) as term → query ids,
    * those terms' summed `df`, and the summed `stats` row. `df` and
    * `stats` are append-only DELTAS, summed here (the identity when the
    * index was built in one shot). Index headers like `stats`, not
    * results: the postings table is sorted by term, so the doc_id < 10
    * filter prunes nothing and each read scanned the whole table, and
    * the per-serve `df` scan plus two-phase aggregate was a sequential
    * stage of pure latency on every warm serve.
    */
  private final case class LexHeader(panel: Map[String, Seq[Long]],
      df: Map[String, Long], nDocs: Long, sumDl: Long)

  private def lexHeader(spark: SparkSession, root: String,
      postings: DataFrame): LexHeader =
    StoreMemo.get(spark, s"lex-header:$root",
        Seq("postings", "deletes", "df", "stats").map(t => s"$root/$t")) {
      val panel = postings.filter(col("doc_id") < 10)
        .select(col("tok"), col("doc_id")).collect()
        .groupBy(_.getString(0))
        .map { case (t, rs) => t -> rs.map(_.getLong(1)).toSeq.sorted }
      val df = Reads.parquet(spark, s"$root/df")
        .filter(col("tok").isInCollection(panel.keys.toSeq.sorted))
        .groupBy(col("tok")).agg(sum(col("df"))).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val stats = Reads.parquet(spark, s"$root/stats")
        .agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
      LexHeader(panel, df, stats.getLong(0), stats.getLong(1))
    }

  /** BM25 top-k from the persisted index, the identical arithmetic (and
    * literals) as the in-session lexical leg over stored statistics,
    * in one exchange on the item key: the queried terms' postings slice
    * is repartitioned by `doc_id`, scored against the folded-in panel,
    * `df` and `stats` and the `dl` table, and summed per (query, doc)
    * inside that partitioning; the top-k window keeps its partial
    * `WindowGroupLimit` before the one exchange on `query_id`.
    */
  def serveBm25(spark: SparkSession, root: String, k: Int = 5): DataFrame = {
    val postings = minusDeletes(spark, root,
      Reads.parquet(spark, s"$root/postings"))
    val h = lexHeader(spark, root, postings)
    // the panel's terms become IN literals that push into the postings
    // scan as parquet filters, so the term-sorted row groups SKIP
    // everything outside the query vocabulary: serve I/O is the queried
    // terms' slice — the property that makes a 100 TB postings store
    // servable. Sorted: plan literals in collect order would make the
    // generated filter source differ per run, defeating the codegen
    // cache (the bench artifact read ~10 recompiled classes on every
    // re-run of the serve queries before this)
    val queryToks: Seq[Any] = h.panel.keys.toSeq.sorted
    val term = postings.filter(col("tok").isInCollection(queryToks))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("tf"),
        element_at(typedLit(h.df), col("tok")).as("df"),
        explode(element_at(typedLit(h.panel), col("tok"))).as("query_id"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(Reads.parquet(spark, s"$root/dl"), Seq("doc_id"))
    val idf = log(lit(1.0) +
      (lit(h.nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = lit(0.25) +
      lit(0.75) * col("dl") * lit(h.nDocs) / lit(h.sumDl)
    val bm25 = term
      .select(col("query_id"), col("doc_id"),
        (idf * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * norm)).as("t"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("t")), 6).as("bm25"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
    bm25.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("bm25"), col("rank"))
    // no final orderBy (r19, guide §2.4): the global sort of ≤ panel×k
    // rows was a rangepartitioning Exchange + Sort — two stage round
    // trips per warm serve. The oracle gate hashes SORTED rows and all
    // in-repo consumers are set-based; matched-window A/B over the
    // four lex rows: −2 tasks each, 5.55 → 4.96 s. Same removal across
    // the serve/topk family (see AnnIndex.servePqTopk).
  }

  /** The lexical index root for a corpus dir, built if absent. */
  def ensuredRoot(s: SparkSession, dir: String): String =
    ensured(s, dir, "lex")(build)

  def lexBm25Serve(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    serveBm25(s, ensuredRoot(s, dir), k)

  /** The append path as a registered, oracle-gated query: build on the
    * first half of the corpus, APPEND the second half, serve. BM25's
    * statistics are additive, so this must equal the full build
    * EXACTLY — the query shares `lex_bm25_serve`'s oracle verbatim,
    * and a hash match certifies the delta-summing serve and the
    * append's exactly-once promote in one stroke.
    */
  def lexBm25AppendServe(s: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val root = ensured(s, dir, "lexapp") { (docs, staging) =>
      val half = docs.count() / 2
      build(docs.filter(col("doc_id") < half), staging)
      appendBatch(docs.filter(col("doc_id") >= half), staging, 0L)
    }
    serveBm25(s, root, k)
  }

  /** The takedown path as a registered, oracle-gated query: build the
    * full index, DELETE the deterministic set doc_id % 23 == 4 (panel
    * docs excluded so every query survives), serve. The oracle rebuilds
    * the whole BM25 chain over the surviving documents only — a hash
    * match certifies that tombstone + negative-delta statistics equal
    * an index that never contained those docs.
    */
  def lexBm25ServeTombstone(s: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val root = ensured(s, dir, "lexdel") { (docs, staging) =>
      build(docs, staging)
      deleteDocs(s, staging,
        docs.filter(col("doc_id") % 23 === 4 && col("doc_id") >= 10)
          .select(col("doc_id")), 0L)
    }
    serveBm25(s, root, k)
  }

  /** The append-then-FOLD path as a registered query: build + append
    * as above, then `Compaction.compactLexStore` collapses the df/stats
    * delta segments into their exact sums before serving. The fold is
    * the identity on every BM25 score (serve sums segments), so this
    * shares the one-shot serve oracle verbatim — the hash match
    * certifies the semantic fold's aggregation, standing, at every
    * gate scale.
    */
  def lexBm25CompactServe(s: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val root = ensured(s, dir, "lexcmp") { (docs, staging) =>
      val half = docs.count() / 2
      build(docs.filter(col("doc_id") < half), staging)
      appendBatch(docs.filter(col("doc_id") >= half), staging, 0L)
      Compaction.compactLexStore(s, staging)
    }
    serveBm25(s, root, k)
  }
}
