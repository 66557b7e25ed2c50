package graft.similarity

import graft.{Reads, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HYBRID RETRIEVAL — lexical BM25 and dense cosine fused by
  * reciprocal-rank fusion (RRF), the standard two-leg retrieval stack
  * (Elasticsearch/OpenSearch hybrid query, Vespa, every RAG pipeline):
  * the lexical leg catches exact-term matches embeddings smear out,
  * the dense leg catches paraphrases lexical scoring misses, and RRF
  * combines them without score calibration (rank-space fusion is scale
  * free — the reason production systems default to it).
  *
  * Query panel: documents 0..9 querying the corpus with their own text
  * and their own embedding (doc_id ≡ vec_id in this corpus).
  *
  * Scale shape:
  *   - BM25 is an INVERTED-INDEX join — (doc, term, tf) joined to the
  *     panel's terms on term, then one partial-aggregated groupBy per
  *     (query, doc) pair that SHARES at least one term. No all-pairs
  *     product anywhere in the lexical leg; the df/dl/avgdl statistics
  *     are two narrow aggregates (df shuffles distinct terms once —
  *     the same cost class as tx_unigram_bits' model pass).
  *   - the dense leg is the certified embTopk shape (broadcast panel ×
  *     corpus scan, two-phase bounded-heap top-k).
  *   - fusion joins two ≤ q×c relations — control-plane sized.
  *
  * Determinism: BM25 terms are (idf, tf-saturation) doubles summed per
  * pair and rounded to 6 dp before ranking, ties to the lowest doc_id
  * — the same discipline as every cosine chain; RRF contributions are
  * 1/(60+rank) over INTEGER ranks, summed over exactly two legs and
  * rounded once. The DuckDB oracle replays the whole stack.
  */
object Hybrid {

  // BM25 constants as decimal literals mirrored verbatim in the oracle
  // SQL (k1 = 1.2, k1+1 = 2.2, b = 0.75, 1-b = 0.25) — both engines
  // parse the same decimal text to the same double, where computing
  // k1+1.0 at runtime could land on the adjacent ulp.

  def hybridTopk(s: SparkSession, dir: String, k: Int = 5,
      c: Int = 20): DataFrame =
    hybridTopkDf(Tables.documents(s, dir), Tables.embeddings(s, dir), k, c)

  /** SNIPPET EXTRACTION — the citation step after retrieval (what a
    * RAG pipeline shows/feeds per hit): for each hybrid top-k hit, the
    * `w`-token window of the document with the MAXIMUM count of
    * query-term instances, ties to the earliest start (a dense-only
    * hit with zero term matches falls back to the document head). The
    * argmax is all-integer, so the window choice and the rebuilt
    * snippet text are exact across engines.
    *
    * Scale shape: everything here is scoped to the top-k HIT SET
    * (queries×k pairs) — the candidate-window × matched-position join
    * is per-hit O(len·matches) on just those documents, never a
    * corpus-wide pass.
    */
  def hybridSnippets(s: SparkSession, dir: String, k: Int = 5,
      w: Int = 32): DataFrame =
    hybridSnippetsDf(Tables.documents(s, dir), Tables.embeddings(s, dir), k, w)

  def hybridSnippetsDf(docs: DataFrame, emb: DataFrame, k: Int,
      w: Int): DataFrame = {
    val hits = hybridTopkDf(docs, emb, k, 20)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val ptoks = docs.select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text"))).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val qset = ptoks.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("tok")).distinct()
    val lens = ptoks.groupBy(col("doc_id")).agg(max(col("pos")).as("len"))
    val mp = hits.join(ptoks, Seq("doc_id"))
      .join(qset, Seq("query_id", "tok"), "left_semi")
      .select(col("query_id"), col("doc_id"), col("pos"))
    val starts = hits.join(lens, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("rank"),
        explode(sequence(lit(1), greatest(col("len") - lit(w - 1), lit(1))))
          .as("start"))
    val ov = starts.as("s").join(mp.as("m"),
        col("s.query_id") === col("m.query_id") &&
        col("s.doc_id") === col("m.doc_id") &&
        col("m.pos").between(col("s.start"), col("s.start") + lit(w - 1)),
        "left_outer")
      .groupBy(col("s.query_id"), col("s.doc_id"), col("s.rank"),
        col("s.start"))
      .agg(count(col("m.pos")).as("n_matched"))
    val wBest = Window.partitionBy(col("query_id"), col("doc_id"))
      .orderBy(col("n_matched").desc, col("start"))
    val best = ov.withColumn("r", row_number().over(wBest))
      .filter(col("r") === 1)
    val docToks = docs.select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("toks"))
    best.join(docToks, Seq("doc_id")).join(lens, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"), col("rank"),
        col("start").cast(LongType).as("snippet_start"),
        col("n_matched"),
        array_join(slice(col("toks"), col("start"),
          least(lit(w), col("len") - col("start") + 1)), " ").as("snippet"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** RETRIEVAL EVALUATION — the ranking-quality metrics a retrieval
    * deployment tracks per release (and a training-data pipeline
    * tracks per corpus build): precision@k, MRR and nDCG@k of the
    * hybrid hits, with relevance = label match against the query's
    * label (the corpus's built-in ground truth). nDCG's ideal DCG is
    * the standard min(k, #relevant-in-corpus)-position ideal; queries
    * with no relevant corpus doc score 0. All ratios are exact
    * integer relevance over the fixed log2 discount table, rounded
    * once — engine-independent at 6 dp.
    */
  def retrievalMetrics(s: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val hits = hybridTopk(s, dir, k)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val lab = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val qlab = lab.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlab"))
    val rel = hits
      .join(lab.select(col("vec_id").as("doc_id"), col("label").as("dlab")),
        Seq("doc_id"))
      .join(broadcast(qlab), Seq("query_id"))
      .select(col("query_id"), col("rank"),
        (col("dlab") === col("qlab")).cast(IntegerType).as("rel"))
    val nRel = qlab.join(lab,
        lab("label") === qlab("qlab") && lab("vec_id") =!= qlab("query_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val perQ = rel.groupBy(col("query_id")).agg(
      round(sum(col("rel")) / lit(k.toDouble), 6).as(s"precision_at_$k"),
      round(coalesce(max(when(col("rel") === 1,
        lit(1.0) / col("rank"))), lit(0.0)), 6).as("mrr"),
      sum(col("rel") * (lit(1.0) / log2(col("rank") + 1))).as("dcg"))
    perQ.join(nRel, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col(s"precision_at_$k"), col("mrr"),
        when(coalesce(col("n_rel"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("dcg") /
            aggregate(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))),
              lit(0.0), (a, i) => a + lit(1.0) / log2(i + 1)), 6))
          .as(s"ndcg_at_$k"))
      .orderBy(col("query_id"))
  }

  def hybridTopkDf(docs: DataFrame, emb: DataFrame, k: Int,
      c: Int): DataFrame = {
    // ---- lexical leg: BM25 over the inverted (doc, term, tf) index.
    // Eager checkpoint (r18): FOUR consumers read this relation (dl,
    // dfreq, the query-term probe and the postings join) and none of
    // their subtrees canonicalize identically (the probe pushes its
    // filter below the agg), so without materialization the
    // tokenize+explode+aggregate pass was planned — and run — once per
    // consumer (14 parquet scans, 0 reused exchanges in the r18-before
    // plan). The relation is the (doc_id, term, tf) postings table:
    // linear in corpus tokens, the thing TextIndex persists on disk in
    // the served twin — materializing it once per query is the same
    // discipline inline.
    // Fault-tolerance posture (r19, measured): localCheckpoint is
    // executor-local — on a real cluster an executor loss mid-query
    // fails the job instead of recomputing. The recomputable
    // alternative, persist(DISK_ONLY)+count, was A/B'd here (the
    // corpus-linear site): 248 vs 22 tasks and 19.8 vs 8.0 s process
    // cpu on the min run (serialize/deserialize plus the cached plan
    // losing AQE partition coalescing for every downstream consumer).
    // 2.5x cpu is the wrong price for lineage insurance on a relation
    // this cheap to recompute; the accepted posture at all five
    // checkpoint sites (here, dedup_winnow's kernel, emb_pq's code
    // table, BandGuard reps, BPE's word table) is localCheckpoint +
    // job retry at the orchestration layer.
    val tf = docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val qTerms = tf.filter(col("doc_id") < 10)
      .select(col("doc_id").as("query_id"), col("tok"))
    val term = tf.join(qTerms, Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(dfreq, Seq("tok"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
    // idf = ln(1 + (N - df + 0.5)/(df + 0.5)); saturated tf with length
    // norm dl/avgdl = dl * N / sum_dl (one division, no avgdl rounding)
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = lit(0.25) +
      lit(0.75) * col("dl") * col("n_docs") / col("sum_dl")
    val bm25 = term
      .select(col("query_id"), col("doc_id"),
        (idf * col("tf") * lit(2.2) /
          (col("tf") + lit(1.2) * norm)).as("t"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("t")), 6).as("bm25"))
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col("bm25").desc, col("doc_id"))
    val lexTop = bm25.withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= c)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    // ---- dense leg: the certified broadcast-panel cosine top-c
    val panel = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val cos = emb.select(col("vec_id").as("doc_id"), col("embedding"))
      .crossJoin(broadcast(panel))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        round(Similarity.cosine(col("q_emb"), col("embedding")), 6).as("cos"))
    val topc = udaf(new TopKByCos(c))
    val vecTop = cos.groupBy(col("query_id"))
      .agg(topc(col("doc_id"), col("cos")).as("nbrs"))
      .select(col("query_id"), posexplode(col("nbrs")).as(Seq("pos", "nbr")))
      .select(col("query_id"), col("nbr.neighbor_id").as("doc_id"),
        (col("pos") + 1).as("vec_rank"))
    rrfFuse(lexTop, vecTop, k)
  }

  /** Reciprocal-rank fusion over the union of a (query_id, doc_id,
    * lex_rank) and a (query_id, doc_id, vec_rank) top-c list.
    */
  private def rrfFuse(lexTop: DataFrame, vecTop: DataFrame,
      k: Int): DataFrame = rrfFuseWeighted(lexTop, vecTop, k, 60, 1.0)

  /** The rung-parameterized fusion the dialed serve uses: the SAME
    * plan as [[rrfFuse]] with the RRF constant and lexical weight as
    * literals (w_lex = 1.0 reproduces the unweighted score exactly —
    * 1.0/x and w/x with w = 1.0 are the same IEEE division).
    */
  private def rrfFuseWeighted(lexTop: DataFrame, vecTop: DataFrame,
      k: Int, rrfK: Int, wLex: Double): DataFrame = {
    val fused = lexTop.join(vecTop, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        col("lex_rank").isNotNull.as("in_lexical"),
        col("vec_rank").isNotNull.as("in_vector"),
        round(
          coalesce(lit(wLex) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)),
          6).as("rrf_score"))
    val wRrf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(wRrf).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf_score"),
        col("rank"), col("in_lexical"), col("in_vector"))
    // no final orderBy — see AnnIndex.servePqTopk (r19)
  }

  /** The INDEX-SERVED hybrid — the whole two-leg retrieval stack
    * answered from the persisted stores alone: the lexical top-20 from
    * `TextIndex`'s postings tables (documents-free), the dense top-20
    * from `AnnIndex`'s PQ codes (embeddings-free, ADC ranks standing
    * in for exact cosine exactly as the PQ serve contracts), fused by
    * the same RRF. This is the deployed shape: ingest builds both
    * indexes once; queries never touch a base table.
    */
  def hybridServe(s: SparkSession, dir: String, k: Int = 5,
      c: Int = 20): DataFrame = {
    val lexTop = graft.store.TextIndex.lexBm25Serve(s, dir, c)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val vecTop = graft.store.AnnIndex.embPqServe(s, dir, c)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    rrfFuse(lexTop, vecTop, k)
  }

  /** The served hybrid against EXPLICIT store roots — the form the
    * scale-curve harness uses to price serve-vs-inline at corpus sizes
    * past the gate fixtures (the registered `hybrid_serve` binds roots
    * to the corpus dir).
    */
  def hybridServeFromRoots(s: SparkSession, lexRoot: String,
      pqRoot: String, queries: DataFrame, k: Int = 5,
      c: Int = 20): DataFrame = {
    val lexTop = graft.store.TextIndex.serveBm25(s, lexRoot, c)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    val vecTop = graft.store.AnnIndex.servePqTopk(s, pqRoot, queries, c)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    rrfFuse(lexTop, vecTop, k)
  }

  // ------------------------------------------------ dialed hybrid
  // (r17 verdict ask #4: the IVF nprobe-dial pattern applied to
  // fusion — measure ranking quality per rung at BUILD time against
  // the corpus's built-in label ground truth, persist the dial in the
  // hybrid store, serve from a stated target.)

  /** Dial rungs (c = leg depth, rrf_k = RRF constant, w_lex = lexical
    * weight; the dense weight is fixed 1.0). `c` is the COST axis —
    * deeper legs score more candidates per query, exactly nprobe's
    * role in the IVF dial — while rrf_k/w_lex are free quality knobs
    * measured at full depth. Legs are computed ONCE at max depth; a
    * rung's cut is a rank filter, so measuring R rungs costs one leg
    * pass plus R control-plane-sized fusions.
    */
  val HybridRungs: Seq[(Int, Int, Double)] = Seq(
    (5, 60, 1.0), (10, 60, 1.0), (20, 10, 1.0),
    (20, 60, 0.5), (20, 60, 1.0), (20, 60, 1.5))

  /** Default quality bar for the dialed serve: mean nDCG@5 over the
    * query panel. */
  val HybridDialTarget: Double = 0.08

  /** All-rung build-time quality measurement over the SERVED legs
    * (top-20 from the persisted stores — the deployment shape, so the
    * dial measures what serving will actually do). Aggregates are
    * engine-exact: p_hits is an integer count; mrr/ndcg are the
    * 6-dp-rounded per-query values of `retrievalMetrics`, summed as
    * DECIMAL(28,6) (order-independent) and divided once.
    */
  private def hybridDialRows(s: SparkSession, lexTop: DataFrame,
      vecTop: DataFrame, lab: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val rungs = broadcast(HybridRungs.toDF("c", "rrf_k", "w_lex"))
    val fused = lexTop.join(vecTop, Seq("query_id", "doc_id"), "full_outer")
      .crossJoin(rungs)
      .filter(col("lex_rank") <= col("c") || col("vec_rank") <= col("c"))
      .select(col("c"), col("rrf_k"), col("w_lex"), col("query_id"),
        col("doc_id"),
        round(
          coalesce(col("w_lex") / (col("rrf_k") +
            when(col("lex_rank") <= col("c"), col("lex_rank"))), lit(0.0)) +
          coalesce(lit(1.0) / (col("rrf_k") +
            when(col("vec_rank") <= col("c"), col("vec_rank"))), lit(0.0)),
          6).as("rrf_score"))
    val w = Window.partitionBy(col("c"), col("rrf_k"), col("w_lex"),
        col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    val hits = fused.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
    val qlab = lab.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("qlab"))
    val rel = hits
      .join(lab.select(col("vec_id").as("doc_id"), col("label").as("dlab")),
        Seq("doc_id"))
      .join(broadcast(qlab), Seq("query_id"))
      .select(col("c"), col("rrf_k"), col("w_lex"), col("query_id"),
        col("rank"), (col("dlab") === col("qlab")).cast(IntegerType).as("rel"))
    val nRel = qlab.join(lab,
        lab("label") === qlab("qlab") && lab("vec_id") =!= qlab("query_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
    val perQ = rel
      .groupBy(col("c"), col("rrf_k"), col("w_lex"), col("query_id"))
      .agg(sum(col("rel")).as("p_hits_q"),
        round(coalesce(max(when(col("rel") === 1,
          lit(1.0) / col("rank"))), lit(0.0)), 6).as("mrr"),
        sum(col("rel") * (lit(1.0) / log2(col("rank") + 1))).as("dcg"))
      .join(nRel, Seq("query_id"), "left")
      .select(col("c"), col("rrf_k"), col("w_lex"), col("p_hits_q"),
        col("mrr"),
        when(coalesce(col("n_rel"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("dcg") /
            aggregate(sequence(lit(1L), least(col("n_rel"), lit(k.toLong))),
              lit(0.0), (a, i) => a + lit(1.0) / log2(i + 1)), 6))
          .as("ndcg"))
    val nQ = qlab.count()
    perQ.groupBy(col("c"), col("rrf_k"), col("w_lex"))
      .agg(sum(col("p_hits_q")).cast(LongType).as("p_hits"),
        sum(col("mrr").cast(DecimalType(28, 6))).cast(DoubleType)
          .as("mrr_sum"),
        sum(col("ndcg").cast(DecimalType(28, 6))).cast(DoubleType)
          .as("ndcg_sum"))
      .withColumn("n_queries", lit(nQ))
      .withColumn("mean_ndcg",
        round(col("ndcg_sum") / col("n_queries"), 6))
  }

  /** Resolve the CHEAPEST rung (c ASC, then rrf_k, w_lex) whose
    * build-time mean nDCG meets the target; an unreachable target
    * falls back to the best-measured rung (the dial's honesty — it
    * cannot promise what it never measured). Mirrored verbatim by the
    * oracle's winner ordering.
    */
  def resolveHybridRung(s: SparkSession, root: String,
      target: Double): (Int, Int, Double) = {
    val rows = graft.store.StoreMemo.get(s, s"hybrid-dial:$root",
        Seq(s"$root/dial")) {
      Reads.parquet(s, s"$root/dial")
        .select(col("c"), col("rrf_k"), col("w_lex"), col("mean_ndcg"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
        .toSeq
    }
    require(rows.nonEmpty, s"hybrid store at $root has no dial manifest")
    val byCost = rows.sortBy(r => (r._1, r._2, r._3))
    val pick = byCost.find(_._4 >= target).getOrElse(
      rows.sortBy(r => (-r._4, r._1, r._2, r._3)).head)
    (pick._1, pick._2, pick._3)
  }

  /** The DIALED index-served hybrid: [[hybridServe]]'s exact two-leg
    * plan with (c, rrf_k, w_lex) resolved from the persisted dial
    * manifest — the constants replaced by a stated quality target.
    * The dial is built once per corpus into its own store root.
    */
  def hybridServeDialed(s: SparkSession, dir: String, k: Int = 5,
      targetNdcg: Double = HybridDialTarget): DataFrame = {
    val root = hybridDialRoot(s, dir)
    def lexTop = graft.store.TextIndex.lexBm25Serve(s, dir, 20)
      .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
    def vecTop = graft.store.AnnIndex.embPqServe(s, dir, 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    graft.store.StoreRoot.ensureBuilt(s, root) { staging =>
      hybridDialRows(s, lexTop, vecTop,
          Tables.embeddings(s, dir).select(col("vec_id"), col("label")), k)
        .coalesce(1).write.mode("overwrite").parquet(s"$staging/dial")
    }
    val (c, rrfK, wLex) = resolveHybridRung(s, root.toString, targetNdcg)
    rrfFuseWeighted(
      lexTop.filter(col("lex_rank") <= c),
      vecTop.filter(col("vec_rank") <= c), k, rrfK, wLex)
  }

  /** The dial manifest as a certified introspection row (the
    * `emb_ivf_dial_stats` twin for the hybrid store).
    */
  def hybridDialStats(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // building the dialed serve ensures the dial manifest exists (the
    // returned plan itself is discarded — this is store introspection)
    hybridServeDialed(s, dir, k)
    val root = hybridDialRoot(s, dir)
    Reads.parquet(s, s"$root/dial")
      .select(col("c").cast(LongType).as("c"),
        col("rrf_k").cast(LongType).as("rrf_k"), col("w_lex"),
        col("n_queries"), col("p_hits"), col("mrr_sum"), col("ndcg_sum"),
        col("mean_ndcg"))
      .orderBy(col("c"), col("rrf_k"), col("w_lex"))
  }

  private def hybridDialRoot(s: SparkSession,
      dir: String): org.apache.hadoop.fs.Path =
    graft.store.StoreRoot.rootFor(s, s"$dir/documents.parquet", "hyd", "1")
}
