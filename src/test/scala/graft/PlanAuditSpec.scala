package graft

/** Cross-cutting plan audit over EVERY registered query: the plan
  * shapes that must never regress silently. A CartesianProduct (a
  * non-broadcast pair explosion) is banned outright; broadcast
  * nested-loop joins are legitimate only where the operator is BY
  * DESIGN a broadcast × scan (documented allowlist below) — anywhere
  * else one appearing means a join lost its equi-key or a broadcast
  * hint leaked.
  */
class PlanAuditSpec extends SparkSpec {

  // operators that are deliberately broadcast × corpus-scan shaped:
  // the O(n²) exact dedup twins (labeled scale-killers kept as the
  // oracle/refine path), the broadcast-query top-k scans, and the
  // 1-row scalar cross joins (snippet / n_docs / total constants)
  private val bnljByDesign = Set(
    "dedup_embedding", "dedup_embedding_045", "dedup_embedding_090",
    "dedup_embedding_lsh", "dedup_embedding_lsh_090",
    "emb_topk", "emb_quantized_topk", "emb_ivf_topk", "emb_knn_graph",
    "emb_pq_topk", "emb_mmr_topk",
    // recall audits embed the exact broadcast-query × corpus scan as
    // their denominator (the audit's sampled-panel cost, q×n by design)
    "emb_pq_recall", "emb_ivfpq_recall", "emb_ivfpq_recall_clustered",
    // hybrid's dense leg is the embTopk broadcast-panel scan; its
    // lexical leg also broadcasts the 1-row corpus stats
    "hybrid_topk", "hybrid_snippets",
    // 1-row BM25 stats broadcast against the postings term join; the
    // dialed serve keeps hybrid_serve's exact two-leg plan (the dial
    // only resolves the rung literals), so it inherits the same
    // by-design broadcast × scan legs
    "lex_bm25_serve", "lex_bm25_append_serve", "hybrid_serve",
    "hybrid_serve_dialed",
    "lex_bm25_compact_serve", "lex_bm25_serve_tombstone",
    "retrieval_metrics",
    // k-means assignment: k tiny centroids broadcast x corpus scan
    "dedup_semantic",
    "a10_recent_distribution", "decontaminate", "tx_unigram_bits",
    "tx_keywords", "a6_sketch_merge",
    // 1-row scalar cross joins (broadcast max_ts / dup-count /
    // merged-sketch-estimate scalars)
    "o1_recent_readings", "l8_integrity", "a6_quantile_merge",
    // 1-row sketch matrix broadcast against the 10-row probe panel
    "tx_freq_cm", "corpus_report",
    // 1-row (n_vecs, bound) scalar broadcast against the cell census
    "emb_ivf_cell_guard",
    // 1-row token-budget scalar broadcast against the scored scan
    "tx_budget_select",
    // 1-row isqrt-weight denominator broadcast against the ≤#langs
    // mass table (the admission scan itself joins on equi keys)
    "corpus_mix_temperature",
    // 1-row totals × ≤1024-row literal model (DSIR log-ratio derive);
    // the NB scorer also fans eval docs × the ≤#langs stats row set —
    // both deliberate tiny-side crosses; scoring joins are equi-key
    // broadcasts on bucket
    "tx_dsir_weights", "tx_dsir_select", "tx_nb_langid",
    // 1-row N_t total × ≤1024-row model (−log2 p derive) + the 1-row
    // (c1, c2) tertile-cut broadcast against the scored scan
    "tx_ccnet_ppl", "tx_ccnet_ppl_by_lang",
    // the recall audit's exact denominator is the broadcast-panel ×
    // filtered-candidate scan (same by-design shape as emb_*_recall)
    "emb_ivf_filtered_recall", "emb_ivf_filtered_recall_clustered")

  test("no registered query plans a CartesianProduct; BNLJ only by design") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan =
          try fn(spark, Sf0001).queryExecution.executedPlan.toString
          catch { case e: Throwable => fail(s"$name failed to plan: $e") }
        val cartesian = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoop")
        if (cartesian) Some(s"$name: CartesianProduct")
        else if (bnlj && !bnljByDesign(name)) Some(s"$name: undeclared BNLJ")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  // ---- scan discipline: the two properties that decide whether a 100 TB
  // scan reads 100 TB or a fraction of it. Asserted on representative
  // queries so a refactor that silently breaks pushdown/pruning fails CI.

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, Sf0001).queryExecution.executedPlan.toString

  test("selective filters reach the parquet scan (PushedFilters)") {
    // o2: WHERE event_type='error'-shaped anomaly scan — the predicate
    // must land in the FileScan, not evaluate post-read
    val p = planOf("o2_anomalous_readings")
    assert(p.contains("PushedFilters:") &&
      (p.contains("EqualTo(event_type,error)") || p.contains("In(event_type")),
      s"o2 scan does not push its event_type filter:\n$p")
    // range_join_burst's probe side filters errors the same way
    val rj = planOf("range_join_burst")
    assert(rj.contains("EqualTo(event_type,error)"),
      s"range join probe does not push its filter:\n$rj")
  }

  test("projections prune wide columns out of the parquet scan (ReadSchema)") {
    // sample_documents projects metadata only — the wide `text` column
    // must NOT be read (at 100 TB, text IS most of the table)
    val p = planOf("sample_documents")
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema:")).toSeq
    assert(readSchemas.nonEmpty, s"no FileScan in plan:\n$p")
    assert(!readSchemas.exists(_.contains("text")),
      s"sample_documents reads the text column it never uses:\n$readSchemas")
    // the embedding dedup pipeline uses vec_id + embedding only —
    // label must be pruned from every scan it plans
    val n = planOf("dedup_embedding_lsh")
    val nSchemas = n.linesIterator.filter(_.contains("ReadSchema:")).toSeq
    assert(nSchemas.nonEmpty && !nSchemas.exists(_.contains("label")),
      s"dedup_embedding_lsh reads the label column it never uses:\n$nSchemas")
    // events scans: queries that never touch `props` (the wide map) must
    // not read it — a1 is a pure ts/value/type aggregate
    val a1 = planOf("a1_device_summary")
    val aSchemas = a1.linesIterator.filter(_.contains("ReadSchema:")).toSeq
    assert(aSchemas.nonEmpty && !aSchemas.exists(_.contains("props")),
      s"a1_device_summary reads the props column it never uses:\n$aSchemas")
  }

  test("tx_dsir_select serves its top-k from the persisted scores, not a second corpus scan") {
    // k is sized by counting the persisted scored relation (scored docs
    // ≡ docs with ≥1 token), so the top-k the query RETURNS must read
    // the in-memory scores — a LIVE text-reading FileScan in this plan
    // means the k-sizing pass regressed to a second full tokenize of
    // the corpus (the r14 verdict #5 shape: two corpus scans per
    // select). Walk the plan TREE, not its string render: the render
    // displays the cached relation's STORED child plan (including its
    // original FileScans) for documentation, but those nodes are not
    // re-executed — InMemoryTableScanExec is a leaf, so collect() sees
    // exactly the scans that would run.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val root = SparkEntry.queries("tx_dsir_select")(spark, Sf0001)
      .queryExecution.executedPlan
    val inner = root match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(inner.collect { case i: InMemoryTableScanExec => i }.nonEmpty,
      s"tx_dsir_select does not serve from the persisted scores:\n$inner")
    val liveTextScans = inner.collect {
      case f: FileSourceScanExec if f.schema.fieldNames.contains("text") => f
    }
    assert(liveTextScans.isEmpty,
      s"tx_dsir_select re-scans document text after scoring:\n$liveTextScans")
    graft.store.Checkpoints.free(spark)
  }

  test("dedup_audio pairs: banded equi-join, never an all-pairs product") {
    // same pin as dedup_phash below, on the audio modality: candidates
    // must come from a hash/sort-merge EQUI-join on the band keys
    val p = graft.dedup.Dedup.dedupAudioPairsDf(
        graft.operators.Multimodal.mmAudioFingerprints(spark, Sf0001))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"audio banded join degenerated to a pair product:\n$p")
    assert(p.contains("band_key"),
      s"audio candidate join does not key on the bands:\n$p")
  }

  test("dedup_video pairs: frame-aligned banded equi-join, never an all-pairs product") {
    // the video twin: candidates must come from an equi-join keyed on
    // BOTH the frame index and the band key — losing either key (a
    // cross-frame or cross-band product) degenerates to O(n²)
    val p = graft.dedup.Dedup.dedupVideoPairsDf(
        graft.operators.Multimodal.mmVideoFingerprints(spark, Sf0001))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"video banded join degenerated to a pair product:\n$p")
    assert(p.contains("band_key") && p.contains("frame_idx"),
      s"video candidate join does not key on frame + bands:\n$p")
  }

  test("dedup_phash pairs: banded equi-join, never an all-pairs product") {
    // the registered query localCheckpoints its result (codec pass is
    // persisted once), so pin the DETECTOR plan itself: candidates
    // must come from a hash/sort-merge EQUI-join on the band keys —
    // a CartesianProduct or BNLJ here means the banding lost its key
    // and the detector degenerated to O(n²) pairs
    val p = graft.dedup.Dedup.dedupPhashPairsDf(
        graft.operators.Multimodal.mmPhashFingerprints(spark, Sf0001))
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"phash banded join degenerated to a pair product:\n$p")
    assert(p.contains("band_key"),
      s"phash candidate join does not key on the bands:\n$p")
  }

  test("filtered ANN serve: label predicate pushed into the routed, partition-pruned scan") {
    // the two properties that make filtered serve a fraction-of-index
    // read at 100 TB: the metadata predicate must land in the parquet
    // scan (PushedFilters, not a post-join filter), and the scan must
    // still be pruned to the routed cells (PartitionFilters on the
    // partition column) — losing either silently turns serve into a
    // corpus read
    val p = planOf("emb_ivf_serve_filtered")
    assert(p.contains("EqualTo(label,3)"),
      s"filtered serve does not push its label predicate:\n$p")
    val partLines = p.linesIterator
      .filter(_.contains("PartitionFilters:")).toSeq
    assert(partLines.exists(_.contains("cell")),
      s"filtered serve scan is not partition-pruned to the routed cells:\n$p")
    graft.store.Checkpoints.free(spark)
  }

  test("dialed ANN serve: resolves a measured rung, same partition-pruned scan") {
    // the dial must not change the serve's scale shape: the list scan
    // stays pruned to the routed cells (PartitionFilters), only the
    // nprobe constant is replaced by the manifest-resolved rung
    val p = planOf("emb_ivf_serve_dialed")
    val partLines = p.linesIterator
      .filter(_.contains("PartitionFilters:")).toSeq
    assert(partLines.exists(_.contains("cell")),
      s"dialed serve scan is not partition-pruned to the routed cells:\n$p")
    // and the resolution itself is honest: the resolved rung is one of
    // the measured ones, monotone in the target, and falls back to the
    // largest measured rung for an unreachable target
    val emb = Tables.embeddings(spark, Sf0001)
    val root = new java.io.File(
      graft.store.StoreRoot.scratchRoot("planaudit_ivfd")).toString
    graft.store.AnnIndex.buildIvf(emb, root)
    import org.apache.spark.sql.functions.col
    graft.store.AnnIndex.writeIvfDial(spark, root,
      emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val rungs = Seq(0.0, 0.3, 0.5, 0.9, 1.01)
      .map(t => graft.store.AnnIndex.resolveNprobe(spark, root, t))
    assert(rungs.forall(Seq(1, 2, 4, 8).contains), s"unmeasured rung in $rungs")
    assert(rungs == rungs.sorted, s"dial not monotone in target: $rungs")
    assert(rungs.last == 8, s"unreachable target must fall back to 8: $rungs")
    graft.store.Checkpoints.free(spark)
  }

  // the interactive ops of the serve benchmark (five dashboard reads,
  // two retrieval serves) and the store ops whose root no longer takes
  // a count: once warm, building their DataFrames is pure planning —
  // any job here (a schema-inference read, an eager collect, a store
  // probe) is fixed latency on every request
  private val zeroJobConstruct = Seq(
    "a2_hourly_agg", "w1_gap_detection", "o1_recent_readings",
    "o3_recent_topn", "t10_alerts", "emb_pq_serve", "lex_bm25_serve",
    "emb_ivf_cell_stats", "lex_bm25_append_serve", "lex_bm25_compact_serve")

  test("warm construction of the interactive serve ops launches no Spark job") {
    // first calls build the stores and fill the memos
    zeroJobConstruct.foreach(n => SparkEntry.queries(n)(spark, Sf0001))
    val offenders = zeroJobConstruct.flatMap { name =>
      val (_, jobs) = org.apache.spark.graftbridge.JobCounter.jobsIn(
        spark.sparkContext)(SparkEntry.queries(name)(spark, Sf0001))
      if (jobs.isEmpty) None
      else Some(s"$name: ${jobs.size} jobs at " +
        jobs.map(org.apache.spark.graftbridge.JobCounter.callSite).mkString(", "))
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  // warm-action job budgets of every op the serve benchmark runs. A
  // dashboard read's final ORDER BY sorts in one task (graft.plan.
  // OneTaskSort), so it pays only its own stages: a2 and w1 one
  // aggregate/window shuffle, o1 the max_ts aggregate and its broadcast,
  // t10 and o3 a single scan. A retrieval serve is one exchange on the
  // item key plus one top-k merge. PQ: the LUT and vnorms broadcasts,
  // the code shuffle on vec_id, the partial top-k and the merge; BM25:
  // the dl broadcast, the postings shuffle on doc_id, the partial window
  // limit and the merge. dedup_minhash_lsh runs its jobs while the frame
  // is built; its warm action is one job.
  private val warmActionJobs = Seq(
    "a2_hourly_agg" -> 2, "w1_gap_detection" -> 2, "o1_recent_readings" -> 3,
    "t10_alerts" -> 1, "o3_recent_topn" -> 1,
    "emb_pq_serve" -> 5, "lex_bm25_serve" -> 4, "dedup_minhash_lsh" -> 1)

  test("warm action of every serve-benchmark op stays within its job budget") {
    val over = warmActionJobs.flatMap { case (name, budget) =>
      SparkEntry.queries(name)(spark, Sf0001).collect()
      val df = SparkEntry.queries(name)(spark, Sf0001)
      val (_, jobs) = org.apache.spark.graftbridge.JobCounter.jobsIn(
        spark.sparkContext)(df.collect())
      if (jobs.size <= budget) None
      else Some(s"$name: ${jobs.size} jobs, budget $budget")
    }
    assert(over.isEmpty, over.mkString("\n"))
  }
}
