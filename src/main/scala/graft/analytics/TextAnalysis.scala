package graft.analytics

import graft.{Reads, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for the training-data pipeline surface
  * (north-star extensions, SURVEY.md §7.4#9): token statistics, quality
  * scoring, language-ID heuristic, document fingerprinting.
  *
  * All are narrow per-row transforms over `documents` — at 100 TB they
  * run as a single codegen'd scan with zero shuffles (the orderBy here
  * exists only to make the t2 dump deterministic).
  */
object TextAnalysis {

  /** Token counting: whitespace tokens + distinct 3-gram shingles. */
  def txTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"),
        size(shingles(col("text"), 3)).cast(LongType).as("n_shingles"))
      .orderBy(col("doc_id"))

  /** SEQUENCE PACKING, concat-and-chunk flavor — the GPT-style packing
    * that complements [[txPack]]'s sharded bin assignment: where
    * txPack ASSIGNS whole documents to capacity bins, this op SPLITS
    * the concatenated token stream at exact sequence boundaries. The
    * step that turns a filtered corpus into fixed-length training
    * examples: documents
    * are concatenated in doc_id order and the token stream is chunked
    * into `seqLen`-token sequences; the output maps every document to
    * the sequences it lands in, as (seq_id, doc_id, span_start,
    * span_end) with WITHIN-DOC token offsets (span_end exclusive) —
    * exactly what a loader needs to materialize packed examples with
    * document-boundary masks. Every sequence except the last is
    * exactly `seqLen` tokens by construction.
    *
    * Scale shape: the global prefix sum is TWO-PHASE — a window
    * partitioned by a doc_id bucket (partition-local cumsum, no
    * global ordering shuffle of the corpus) plus an exclusive prefix
    * over the per-bucket sums (corpus/`bucket` rows — control-plane
    * sized, the only place a global window runs) broadcast back. A
    * single ORDER BY doc_id window would serialize 100 TB through one
    * partition; this shape never moves the corpus.
    */
  def txPackChunk(s: SparkSession, dir: String, seqLen: Long = 512,
      bucket: Long = 1000): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_toks"))
      .filter(col("n_toks") > 0)
      .withColumn("bkt", expr(s"doc_id DIV $bucket"))
    packSpans(docs, Seq(col("doc_id")), seqLen)
  }

  /** The shared two-phase pack core: `docs` carries (doc_id, n_toks,
    * bkt); the concatenation order is bkt ASC then `ord` within bkt.
    * Phase 1 is a bkt-partitioned cumsum (no global ordering shuffle);
    * phase 2 an exclusive prefix over the per-bkt sums (corpus/bkt
    * rows — control-plane sized) broadcast back. All boundary
    * arithmetic is integer division (`DIV`) — exact at any seqLen and
    * any offset, where double division then cast would round across an
    * integer boundary past 2^53 (r17 ADVICE #1).
    */
  private def packSpans(docs: DataFrame, ord: Seq[Column],
      seqLen: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("bkt")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = docs
      .withColumn("cum_in", sum(col("n_toks")).over(w) - col("n_toks"))
    val wb = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = docs.groupBy(col("bkt"))
      .agg(sum(col("n_toks")).as("bkt_toks"))
      .withColumn("bkt_off", coalesce(sum(col("bkt_toks")).over(wb), lit(0L)))
      .select(col("bkt"), col("bkt_off"))
    local.join(broadcast(prefixes), Seq("bkt"))
      .withColumn("gstart", col("bkt_off") + col("cum_in"))
      .withColumn("seq_id", explode(sequence(
        expr(s"gstart DIV $seqLen"),
        expr(s"(gstart + n_toks - 1) DIV $seqLen"))))
      .select(col("seq_id"), col("doc_id"),
        (greatest(col("gstart"), col("seq_id") * seqLen) - col("gstart"))
          .as("span_start"),
        (least(col("gstart") + col("n_toks"), (col("seq_id") + 1) * seqLen)
          - col("gstart")).as("span_end"))
      .withColumn("span_toks", col("span_end") - col("span_start"))
      .orderBy(col("seq_id"), col("doc_id"))
  }

  /** Pack in EPOCH order (r17 verdict ask #5): the concat-and-chunk
    * packer over `txShuffle`'s content-addressed permutation — the
    * order a training loader actually consumes. The epoch order is
    * (shard, pos) = (h mod nShards, (h, doc_id) within shard), so the
    * shard IS the pack bucket: phase 1's window is partitioned by the
    * order-derived shard key and sorted by (h, doc_id) — pos order —
    * and phase 2's exclusive shard prefix is nShards rows. Same
    * two-phase shape, same invariants (every non-final sequence is
    * exactly seqLen; spans conserve each doc's tokens), a fresh seed
    * is a fresh epoch with zero state.
    */
  def txPackShuffled(s: SparkSession, dir: String, seqLen: Long = 512,
      seed: String = "epoch0", nShards: Int = 64): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_toks"),
        hash60(concat(lit(seed), lit("|"),
          col("doc_id").cast(StringType))).as("h"))
      .filter(col("n_toks") > 0)
      .withColumn("bkt", (col("h") % nShards).cast(LongType))
    packSpans(docs, Seq(col("h"), col("doc_id")), seqLen)
  }

  /** Quality scoring: lexical-diversity and stopword-density signals
    * (length / stopword-ratio heuristics in the spirit of C4/Gopher
    * quality filters), all from one token pass.
    */
  def txQuality(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(toks).cast(LongType).as("n_tokens"),
        size(array_distinct(toks)).cast(LongType).as("n_distinct"),
        (size(array_distinct(toks)).cast(DoubleType) / size(toks)).as("distinct_ratio"),
        (stopwordCount(toks, Seq("the", "a")).cast(DoubleType) / size(toks)).as("stopword_ratio"),
        (aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
          .cast(DoubleType) / size(toks)).as("mean_token_len"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split: bucket = salted content hash
    * of the doc id mod 100, split = 90/5/5 by bucket thresholds. The
    * assignment is a pure function of (doc_id, salt) — stable across
    * runs, machines and engines (hash60 is the SQL-reproducible
    * md5-derived hash the fingerprint surface already certifies), so
    * train/test membership never shifts when the corpus is re-sharded,
    * re-partitioned or appended to, and holdout leakage can be audited
    * by recomputing one expression. Shuffle-free narrow scan; hash
    * uniformity makes the fractions hold within any stratum.
    */
  /** The split-bucket expression shared by txSplit and every consumer
    * that trains/scores on its membership (txNbLangid): ONE definition
    * so a salt or threshold change can never desynchronize a
    * model's train/test split from the documented one (review r14).
    */
  private[graft] def splitBucket(salt: String): Column =
    pmod(hash60(concat(lit(salt), lit("|"), col("doc_id").cast(StringType))),
      lit(100L))

  def txSplit(s: SparkSession, dir: String, salt: String = "epoch0"): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), splitBucket(salt).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))

  /** Tokenizer-aware token counting: the whitespace count next to a
    * BPE-ish pre-tokenization count (the GPT-2 split family —
    * contraction suffixes, space-attached letter runs, digit runs,
    * punctuation runs, whitespace runs) and the chars-per-token ratio
    * that cost/context-length estimation actually uses. The pattern is
    * lookahead-free so Java regex and RE2 (the oracle engine) match
    * identically; a real tokenizer's merges happen inside these
    * pre-token boundaries, so the count is the standard fast estimate.
    * Narrow shuffle-free scan like the rest of the tx_ family.
    */
  def txTokensBpe(s: SparkSession, dir: String): DataFrame = {
    val pat = "'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+"
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens_ws"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0)))
          .cast(LongType).as("n_tokens_bpe"))
      .select(col("doc_id"), col("n_chars"), col("n_tokens_ws"),
        col("n_tokens_bpe"),
        when(col("n_tokens_bpe") > 0,
          col("n_chars").cast(DoubleType) / col("n_tokens_bpe"))
          .as("chars_per_bpe_token"))
      .orderBy(col("doc_id"))
  }

  /** Number of merges `tx_bpe_train` learns — shared with the oracle
    * generator so the unrolled DuckDB replay always matches.
    */
  val BpeMerges: Int = 24

  /** Distributed BPE merge TRAINING (Sennrich et al. 2015; r17 verdict
    * ask #2): learn the first [[BpeMerges]] merge rules from the
    * corpus, the piece a real tokenizer pipeline adds on top of
    * `txTokensBpe`'s pre-tokenization COUNTS. Classic algorithm,
    * Spark-shaped:
    *
    *  - ONE corpus-scale shuffle builds the pre-token frequency table
    *    (GPT-2-style pre-tokens via the shared regex); every training
    *    round after that runs on the DISTINCT-word working set, whose
    *    size is vocabulary-bounded — independent of corpus bytes, the
    *    property that makes BPE training feasible at 100 TB;
    *  - each round: adjacent symbol pairs exploded from the word
    *    symbol sequences, weighted by word count, one groupBy-agg,
    *    argmax by (count DESC, pair ASC — the deterministic tiebreak
    *    both engines share), a ONE-ROW collect (bounded control
    *    plane), then the merge applied as a narrow map;
    *  - the merge application encodes a symbol sequence as a
    *    U+001F-delimited string (each symbol wrapped in separators, so
    *    a pair match can never cross a symbol boundary) and uses
    *    LITERAL `replace`, whose leftmost-first non-overlapping scan
    *    IS the canonical greedy BPE merge — and is replayed verbatim
    *    by the DuckDB oracle, whose k rounds are mechanically
    *    unrolled CTEs (`chr(31)` on that side).
    *
    * Output: the learned merge table (merge_rank, s1, s2, merged,
    * pair_count), the artifact a tokenizer trainer persists.
    */
  def txBpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrainDf(Tables.documents(s, dir), BpeMerges)

  def bpeTrainDf(documents: DataFrame, nMerges: Int,
      driverCap: Long = BpeDriverCap): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val Sep = "\u001F"
    val pat = "'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+"
    // pre-token frequency table: the ONLY corpus-scale pass. Par.spread:
    // the regex pre-tokenization is the pass's CPU (a single-file local
    // corpus is one input split = one task without it; identity at scale)
    val words = graft.Par.spread(documents.select(col("text")))
      .select(explode(regexp_extract_all(col("text"), lit(pat), lit(0)))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).cast(LongType).as("cnt"))
      .select(col("cnt"), concat(lit(Sep),
        expr("array_join(transform(sequence(1, length(word)), " +
          s"i -> substring(word, i, 1)), '$Sep$Sep')"),
        lit(Sep)).as("symstr"))
    // ONE eager materialization: the corpus-scale pre-token pass.
    // localCheckpoint over persist(DISK_ONLY): measured posture, see
    // Hybrid.hybridTopkDf.
    val base = words.localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    // Distinct-pretoken count gates HOW the k rounds run (one-task job
    // over the already-checkpointed base). The r18-build shape ran
    // every round as a full Spark job chain (pair-explode → shuffle agg
    // → top-1 collect, plus a localCheckpoint materialization per
    // round): ~50 sequential driver↔scheduler round trips whose cost is
    // scheduling latency, not data — the round relation is the DISTINCT
    // word set, which Heaps-law-grows orders of magnitude slower than
    // corpus bytes. So, scale-adaptively (guide §1.2: fix the
    // distributed algorithm before tuning anything):
    //  - small working set (≤ BpeDriverCap rows — a few MB): collect
    //    (cnt, symstr) ONCE and replay the identical greedy rounds
    //    driver-side with zero per-round jobs. Bounded control plane,
    //    the same posture as the ≤1024-row trained-artifact collects;
    //    equivalence with the distributed rounds is spec-pinned
    //    (UTF-8-binary tiebreak order, leftmost-first literal replace —
    //    the exact semantics of Spark's orderBy and `replace`).
    //  - large working set: the distributed per-round loop below, with
    //    the per-round state kept LAZY over the single checkpoint (each
    //    round's merge is one literal replace, so round k re-derives
    //    k-1 cheap replaces inside the job that counts its pairs,
    //    instead of paying a materialization job per round).
    val nWords = base.count()
    if (nWords <= driverCap) {
      // rows: (cnt: Long, symstr: String)
      var tbl = base.collect().map(r => (r.getLong(0), r.getString(1)))
      val sepSep = Sep + Sep
      def utf8Lt(a: String, b: String): Boolean =
        java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      var exhausted = false
      var rank = 1
      while (rank <= nMerges && !exhausted) {
        // adjacent-pair counts, weighted by word count — the driver
        // replay of explode(zip_with(slice, slice)) + sum(cnt)
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        tbl.foreach { case (cnt, symstr) =>
          val syms = symstr.substring(1, symstr.length - 1).split(sepSep)
          var i = 0
          while (i < syms.length - 1) {
            val k = (syms(i), syms(i + 1))
            counts.update(k, counts.getOrElse(k, 0L) + cnt)
            i += 1
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          // argmax by (count DESC, s1 ASC, s2 ASC) in UTF-8 binary
          // order — Spark's string sort order, byte for byte
          var best: ((String, String), Long) = null
          counts.foreach { kv =>
            if (best == null || kv._2 > best._2 ||
              (kv._2 == best._2 && (utf8Lt(kv._1._1, best._1._1) ||
                (kv._1._1 == best._1._1 && utf8Lt(kv._1._2, best._1._2)))))
              best = kv
          }
          val ((s1, s2), c) = best
          merges += ((rank.toLong, s1, s2, s1 + s2, c))
          // literal leftmost-first non-overlapping replace — identical
          // to Spark's `replace` (java.lang.String.replace)
          val from = Sep + s1 + Sep + Sep + s2 + Sep
          val to = Sep + s1 + s2 + Sep
          tbl = tbl.map { case (cnt, symstr) =>
            (cnt, symstr.replace(from, to))
          }
          rank += 1
        }
      }
    } else {
      var cur: DataFrame = base
      val symsExpr = expr(
        s"split(substring(symstr, 2, length(symstr) - 2), '$Sep$Sep')")
      val pairsExpr = expr(
        "zip_with(slice(syms, 1, size(syms) - 1), slice(syms, 2, size(syms) - 1), " +
          "(a, b) -> struct(a AS s1, b AS s2))")
      var exhausted = false
      var rank = 1
      while (rank <= nMerges && !exhausted) {
        val top = cur.select(col("cnt"), symsExpr.as("syms"))
          .select(col("cnt"), explode(pairsExpr).as("p"))
          .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
          .agg(sum(col("cnt")).as("c"))
          .orderBy(col("c").desc, col("s1"), col("s2"))
          .limit(1).collect() // ONE row per round: bounded control plane
        if (top.isEmpty) exhausted = true
        else {
          val (s1, s2, c) = (top(0).getString(0), top(0).getString(1),
            top(0).getLong(2))
          merges += ((rank.toLong, s1, s2, s1 + s2, c))
          // literal (never regex) replace: symbols carry punctuation
          cur = cur.withColumn("symstr", call_function("replace",
              col("symstr"),
              lit(Sep + s1 + Sep + Sep + s2 + Sep),
              lit(Sep + s1 + s2 + Sep)))
          // replay-depth bound (r19, scale insurance): per-round state
          // is LAZY over the single base checkpoint, so round k
          // re-applies k−1 literal replaces inside its own pair-count
          // job — linear per round, quadratic over the merge budget. A
          // real-vocabulary budget (32k merges) would replay ~5·10⁸
          // replaces per row by the last round; one eager re-checkpoint
          // every 64 rounds caps replay depth at 64 while adding zero
          // jobs at the current BpeMerges = 24 (cadence never fires —
          // the BpeTrainSpec driverCap = 0 equivalence lever is
          // unaffected).
          if (rank % 64 == 0) cur = cur.localCheckpoint(true)
          rank += 1
        }
      }
    }
    merges.toSeq
      .toDF("merge_rank", "s1", "s2", "merged", "pair_count")
      .orderBy(col("merge_rank"))
  }

  /** Working-set bound for the driver-side BPE round replay: a
    * (cnt, symstr) table of this many rows is a few MB on the driver —
    * the same bounded-control-plane envelope as the trained-artifact
    * collects. Above it, training falls back to the distributed
    * per-round jobs. `bpeTrainDf`'s `driverCap` parameter overrides it
    * (0 forces the distributed path — the equivalence spec's lever).
    */
  val BpeDriverCap: Long = 65536L

  /** BPE ENCODING with the learned merge table — the consumer side of
    * `tx_bpe_train`, and the token count every budget/packing operator
    * wants once a real vocabulary exists (the whitespace and pre-token
    * counts bracket it; this is the learned one). Per document:
    * pre-token count, base symbol (character) count, and the token
    * count after applying the [[BpeMerges]] learned merges in rank
    * order — greedy fixed-table BPE encoding, i.e. each merge rule is
    * one literal leftmost-first replace over the separator-wrapped
    * symbol string, exactly the representation training used.
    *
    * Scale shape: the merge table is learned once (vocab-bounded
    * rounds, ≤ [[BpeMerges]]-row collect — the artifact a pipeline
    * would read from the persisted `tx_bpe_train` output), then
    * encoding is ONE corpus-scale narrow pass: explode pre-tokens,
    * fold the k replaces as codegen'd string ops (no join against a
    * vocabulary relation — at 100 TB the distinct-pretoken table is
    * itself huge, and a word-keyed join would shuffle the corpus;
    * per-occurrence re-encoding is k bounded `replace`s on short
    * strings, partition-local), and map-side-combine into one row per
    * document.
    */
  def txBpeEncode(s: SparkSession, dir: String): DataFrame =
    bpeEncodeDf(Tables.documents(s, dir), BpeMerges)

  def bpeEncodeDf(documents: DataFrame, nMerges: Int): DataFrame = {
    val Sep = "\u001F"
    val pat = "'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+"
    val merges = bpeTrainDf(documents, nMerges)
      .orderBy(col("merge_rank"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    // Par.spread, same reason as training's word pass: the per-occurrence
    // regex + k replaces below are the encode's CPU and must not ride a
    // single input split on a small corpus (identity at real scale)
    val wrapped = graft.Par.spread(documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(pat), lit(0))).as("word"))
      .select(col("doc_id"), length(col("word")).cast(LongType).as("n_base"),
        concat(lit(Sep),
          expr("array_join(transform(sequence(1, length(word)), " +
            s"i -> substring(word, i, 1)), '$Sep$Sep')"),
          lit(Sep)).as("symstr"))
    val encoded = merges.foldLeft(wrapped) { case (df, (s1, s2)) =>
      df.withColumn("symstr", call_function("replace", col("symstr"),
        lit(Sep + s1 + Sep + Sep + s2 + Sep), lit(Sep + s1 + s2 + Sep)))
    }
    // symbol count without re-splitting: every symbol carries exactly
    // two separator chars, so n_syms = (total - sans-separator) DIV 2
    // (integer division — the codebase's boundary-arithmetic rule)
    val perDoc = encoded
      .select(col("doc_id"), col("n_base"),
        (length(col("symstr")) -
          length(call_function("replace", col("symstr"), lit(Sep), lit(""))))
          .cast(LongType).as("n_sepchars"))
      .select(col("doc_id"), col("n_base"),
        expr("n_sepchars DIV 2").as("n_syms"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast(LongType).as("n_pretokens"),
        sum(col("n_base")).cast(LongType).as("n_base_symbols"),
        sum(col("n_syms")).cast(LongType).as("n_bpe_tokens"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pretokens"), lit(0L)).as("n_pretokens"),
        coalesce(col("n_base_symbols"), lit(0L)).as("n_base_symbols"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition filter (the quality-filter family in Rae
    * et al. 2021 §A1.1 that `tx_quality`'s diversity/stopword signals
    * don't cover): per document, the fraction of characters covered by
    * the most frequent word {2,3,4}-gram (count × gram char length /
    * doc chars) and by duplicated 5-grams (Σ count·len over grams with
    * count ≥ 2 — overlapping occurrences are NOT de-overlapped, a
    * deterministic simplification both engines share, so the ratio is
    * capped at 1.0 to stay a fraction). `rep_flag`
    * applies the Gopher thresholds (top-2 > 0.20, top-3 > 0.18,
    * top-4 > 0.16, dup-5 > 0.15).
    *
    * Scale shape: a single shuffle-free codegen'd scan — per doc one
    * native hash-count pass per gram size (`GramStatsExpr`), O(tokens)
    * per row with nothing crossing partitions (the line-level Gopher
    * signals are omitted: this corpus is single-line, so they are
    * identically zero).
    */
  def txRepetition(s: SparkSession, dir: String): DataFrame =
    txRepetitionDf(Tables.documents(s, dir))

  def txRepetitionDf(docs: DataFrame): DataFrame = {
    // Split-bound parallelism: spread the narrow (id, len, toks)
    // projection before the CPU-heavy gram-stats scan (Par.spread's
    // scaladoc has the full argument).
    val withToks = graft.Par.spread(docs.select(col("doc_id"),
      length(col("text")).cast(LongType).as("n_chars"),
      tokens(col("text")).as("toks")))
    val withStats = withToks.select(col("doc_id"), col("n_chars"),
      gramStats(col("toks"), 2).as("g2"),
      gramStats(col("toks"), 3).as("g3"),
      gramStats(col("toks"), 4).as("g4"),
      gramStats(col("toks"), 5).as("g5"))
    def topFrac(g: String) = least(lit(1.0),
      (col(s"$g.best") * length(col(s"$g.bestg"))).cast(DoubleType) / col("n_chars"))
    val top2 = topFrac("g2")
    val top3 = topFrac("g3")
    val top4 = topFrac("g4")
    val dup5 = least(lit(1.0), col("g5.dup").cast(DoubleType) / col("n_chars"))
    withStats.select(col("doc_id"), col("n_chars"),
      top2.as("top2_frac"), top3.as("top3_frac"), top4.as("top4_frac"),
      dup5.as("dup5_frac"),
      (top2 > 0.20 || top3 > 0.18 || top4 > 0.16 || dup5 > 0.15).as("rep_flag"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID heuristic: function-word density → 'en' / 'unk'.
    * (The real-world version broadcasts per-language stopword tables and
    * argmaxes the densities; the shape — narrow scan, literal word sets,
    * no shuffle — is the same.)
    */
  def txLangid(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val ratio = stopwordCount(toks, Seq("the", "a")).cast(DoubleType) / size(toks)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        ratio.as("en_score"),
        when(ratio >= 0.04, "en").otherwise("unk").as("lang_guess"))
      .orderBy(col("doc_id"))
  }

  /** Array-membership predicates (the GIN-index query analog, SURVEY §4:
    * metadata/tag containment → `array_contains`/`element_at` scans):
    * per-source counts of documents containing given terms.
    */
  def txContains(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        array_contains(toks, "spark").as("has_spark"),
        array_contains(toks, "shuffle").as("has_shuffle"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        count_if(col("has_spark")).as("n_spark"),
        count_if(col("has_spark") && col("has_shuffle")).as("n_both"))
      .orderBy(col("source"))
  }

  /** Approximate variants of the distribution stats (the 100 TB scale
    * path: HLL distinct + quantile sketch instead of exact) — raw
    * estimates, used by the spec's error-bound assertions.
    */
  def approxDistributionRaw(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("bucket"), col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("n_devices_approx"),
        count(lit(1)).as("n"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("median_approx"),
        percentile_approx(col("value"), lit(0.95), lit(1000)).as("p95_approx"))
      .orderBy(col("bucket"), col("event_type"))

  /** The DRIVER-GATED form of the approx distribution: sketch bytes and
    * raw estimates are engine-specific, so the hash surface carries the
    * deterministic part — group keys, exact counts, and BAND BOOLEANS
    * certifying each engine's own sketch against the exact statistic it
    * approximates. Distinct counts: |HLL − exact| ≤ max(2, 5%). Quantiles
    * are certified in RANK space (the guarantee quantile sketches
    * actually give): the approx value's rank interval, recounted against
    * the raw rows, must overlap φ ± 5%·n — gap-free of value-space
    * distribution assumptions, and computable identically in DuckDB
    * against ITS approx_quantile. One extra broadcast join-back of the
    * 150-row estimate table; the raw scan is still two passes total.
    */
  def approxDistribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(date_trunc("day", col("ts")).as("bucket"), col("event_type"),
        col("user_id"), col("value"))
    val est = ev.groupBy(col("bucket"), col("event_type"))
      .agg(
        // rsd 0.01 (not the 0.05 default): the 5% band must be a ≥5σ
        // margin for the gate to be stable run-over-run, and the default
        // sketch's worst groups land outside 5% (observed at sf0.01)
        approx_count_distinct(col("user_id"), 0.01).as("nd_approx"),
        count_distinct(col("user_id")).as("nd_exact"),
        count(lit(1)).as("n"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("med_a"),
        percentile_approx(col("value"), lit(0.95), lit(1000)).as("p95_a"))
    val ranks = ev
      .join(broadcast(est.select(col("bucket"), col("event_type"),
        col("med_a"), col("p95_a"))), Seq("bucket", "event_type"))
      .groupBy(col("bucket"), col("event_type"))
      .agg(
        count_if(col("value") < col("med_a")).as("med_lo"),
        count_if(col("value") <= col("med_a")).as("med_hi"),
        count_if(col("value") <= col("p95_a")).as("p95_hi"))
    est.join(ranks, Seq("bucket", "event_type"))
      .select(col("bucket"), col("event_type"), col("n"),
        (abs(col("nd_approx") - col("nd_exact")) <=
          greatest(lit(2.0), col("nd_exact") * lit(0.05))).as("devices_in_band"),
        (col("med_hi") >= lit(0.45) * col("n") &&
          col("med_lo") <= lit(0.55) * col("n")).as("median_in_band"),
        (col("p95_hi") >= lit(0.90) * col("n")).as("p95_in_band"))
      .orderBy(col("bucket"), col("event_type"))
  }

  /** Mergeable-sketch distinct counting (the re-aggregation property
    * continuous aggregates at 100 TB stand on): per-day HLL sketches of
    * the device set are UNIONED into the global sketch instead of
    * re-scanning raw data — `hll_sketch_agg` partials are associative,
    * so day → week → month rollups each cost one pass over the previous
    * level's sketches. The raw form emits the merged estimate next to
    * the single-pass estimate (sketch algebra says they are the SAME
    * sketch) and the exact count; the spec asserts merged ≡ direct and
    * bounds the estimate error against exact.
    */
  def a6SketchMergeRaw(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val daily = ev.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_estimate"))
    val direct = ev.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("direct_estimate"),
      count_distinct(col("user_id")).as("exact_distinct"))
    merged.crossJoin(direct)
  }

  /** The DRIVER-GATED form of the sketch merge: the hash surface is the
    * deterministic part — the exact distinct count (cross-engine
    * checkable) plus two booleans the Spark plan itself certifies:
    * the MERGED estimate within |·−exact| ≤ 5% and the direct estimate
    * within the same band (the oracle states the literals the
    * properties must evaluate to, recomputing the direct band over
    * DuckDB's own HLL). A false on either side is a hash mismatch, so
    * the gate FAILS if the merge path or the error bound ever breaks —
    * strictly stronger than rows-only.
    *
    * Why a BAND and not merged ≡ direct: bit-equality of the two
    * estimates is a sparse-regime accident, not sketch algebra — once
    * the union's gadget transitions to dense HLL while the single-pass
    * sketch is still in sparse (exact) mode, the estimators legitimately
    * differ (measured at sf0.1: merged 1488 vs direct 1494, exact 1500
    * — both inside the band). The r6→r7 first formulation asserted
    * equality and broke exactly there; the sf0.1 sweep caught it.
    */
  def a6SketchMerge(s: SparkSession, dir: String): DataFrame =
    a6SketchMergeRaw(s, dir).select(
      col("exact_distinct"),
      (abs(col("merged_estimate") - col("exact_distinct")) <=
        col("exact_distinct") * lit(0.05)).as("merged_in_band"),
      (abs(col("direct_estimate") - col("exact_distinct")) <=
        col("exact_distinct") * lit(0.05)).as("estimate_in_band"))

  /** Mergeable-sketch QUANTILES — the KLL twin of `a6SketchMerge`'s
    * HLL story, closing the re-aggregation property over both sketch
    * families continuous aggregates need: per-day KLL sketches of the
    * value column are MERGED (`kll_merge_agg_double`) into the global
    * sketch instead of re-scanning raw data, and the merged p50/p95
    * estimates are certified by exact RANK recounts (count of rows ≤
    * estimate within φ ± 5%·n — the same band discipline as the approx
    * distribution gate). KLL is a randomized sketch, so the gate hashes
    * the deterministic part only: the exact row count and the band
    * booleans (KLL's normalized rank error at default k is ~1.65%, so
    * a ±5% band miss is ~1e-10 — stable regardless of compaction
    * randomness); the oracle recomputes the same band over DuckDB's own
    * approx_quantile.
    */
  def a6QuantileMergeRaw(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("ts"), col("value").cast(DoubleType).as("v"))
    val daily = ev.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(expr("kll_sketch_agg_double(v)").as("sk"))
    val merged = daily.agg(expr("kll_merge_agg_double(sk)").as("msk"))
      .select(
        expr("kll_sketch_get_quantile_double(msk, 0.5)").as("merged_p50"),
        expr("kll_sketch_get_quantile_double(msk, 0.95)").as("merged_p95"))
    ev.crossJoin(broadcast(merged))
      .agg(count(lit(1)).as("n_rows"),
        any_value(col("merged_p50")).as("merged_p50"),
        any_value(col("merged_p95")).as("merged_p95"),
        sum(when(col("v") <= col("merged_p50"), 1L).otherwise(0L)).as("r50"),
        sum(when(col("v") <= col("merged_p95"), 1L).otherwise(0L)).as("r95"))
  }

  def a6QuantileMerge(s: SparkSession, dir: String): DataFrame =
    a6QuantileMergeRaw(s, dir).select(
      col("n_rows"),
      (col("r50") >= col("n_rows") * 0.45 &&
        col("r50") <= col("n_rows") * 0.55).as("p50_rank_in_band"),
      (col("r95") >= col("n_rows") * 0.90 &&
        col("r95") <= col("n_rows") * 1.00).as("p95_rank_in_band"))

  /** Token-distribution signals for LLM data-quality filtering:
    * per-doc Shannon entropy of the token distribution (low = repetitive
    * boilerplate, near-log2(n) = no reuse) and the top-token share (the
    * classic most-common-word repetition filter). Entropy is computed as
    * log2(n) − Σ c·log2(c)/n from exact integer counts, so the only
    * float work is one log per distinct token and a final rounded
    * combination — engine-independent at 6 dp.
    *
    * Shape at scale: (doc, token) count then per-doc combine — two
    * partial-aggregated shuffles, no windows, no driver state.
    */
  def txEntropy(s: SparkSession, dir: String): DataFrame =
    txEntropyDf(Tables.documents(s, dir))

  def txEntropyDf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_count"),
        sum(col("c").cast(DoubleType) *
          log(2.0, col("c").cast(DoubleType))).as("sclogc"))
      .select(col("doc_id"),
        col("n_tokens"),
        col("n_distinct"),
        round(log(2.0, col("n_tokens").cast(DoubleType)) -
          col("sclogc") / col("n_tokens"), 6).as("token_entropy"),
        round(col("top_count").cast(DoubleType) / col("n_tokens"), 6)
          .as("top_token_share"))
      .orderBy(col("doc_id"))

  /** Unigram-model surprisal (the poor man's perplexity filter): score
    * every document by its mean -log2 p(token) under the unigram model
    * estimated from the corpus ITSELF — low bits/token = boilerplate of
    * globally common tokens, high = rare-token-heavy (gibberish, OCR
    * noise, novel jargon). The classic perplexity-filter shape with the
    * LM reduced to its exactly-computable core.
    *
    * Scale shape: one (token) count aggregate builds the model — vocab
    * is corpus-scale, so scoring joins token instances to the model on
    * the token key (an ordinary shuffle join; Zipf skew on hot tokens
    * is AQE's skew-join case) — then one per-doc partial aggregate.
    * The corpus total rides as a broadcast 1-row scalar. Surprisal is
    * computed as log2(c) - log2(N) (NOT log2(c/N)) so both engines run
    * the identical floating expression tree.
    */
  def txUnigramBits(s: SparkSession, dir: String): DataFrame = {
    val inst = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val vocab = inst.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).cast(DoubleType).as("total"))
    inst.join(vocab, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(-(log(2.0, col("c").cast(DoubleType)) - log(2.0, col("total"))))
          / count(lit(1)), 6).as("bits_per_token"))
      .orderBy(col("doc_id"))
  }

  /** Exact corpus heavy hitters WITHOUT a full-vocabulary shuffle — the
    * frequency member of the mergeable-sketch family (HLL distincts,
    * KLL quantiles, and now Misra-Gries frequents), and the stopword /
    * over-represented-token discovery pass a training-data pipeline
    * runs before building filters.
    *
    * Two passes, both scans with map-side partial aggregation:
    * pass 1 folds every token into the mergeable MG summary
    * (`MisraGriesAgg`, O(k) state per task, one row out) alongside the
    * corpus token total; pass 2 re-counts ONLY the ≤2k candidate
    * tokens exactly behind a broadcast semi-join and keeps those whose
    * EXACT share clears the report threshold. The MG bound (undercount
    * ≤ N/k) makes the candidate set a guaranteed superset of every
    * token above N/k, so with capacity 512 ≫ the 1% threshold the
    * exact filter yields the same answer a full GROUP BY would — which
    * is precisely what the DuckDB oracle computes. Naive cost at 100 TB
    * is a shuffle of the entire vocabulary's (token, count) space;
    * here the only shuffled rows are candidate-token instances.
    *
    * Threshold compare is integer (`cnt · 100 > N`), share is one
    * rounded division — engine-independent output.
    */
  def txHeavyHitters(s: SparkSession, dir: String, capacity: Int = 512,
      pct: Int = 1): DataFrame =
    txHeavyHittersDf(Tables.documents(s, dir), capacity, pct)

  def txHeavyHittersDf(docs: DataFrame, capacity: Int = 512,
      pct: Int = 1): DataFrame = {
    val toks = docs.select(explode(tokens(col("text"))).as("tok"))
    val summary = toks.agg(
      count(lit(1)).as("n_total"),
      graft.functions.HeavyHitters.misraGries(col("tok"), capacity).as("cands"))
    val cand = summary.select(col("n_total"), explode(col("cands")).as("tok"))
    toks.join(broadcast(cand), Seq("tok"))
      .groupBy(col("tok"), col("n_total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(100L) > col("n_total") * lit(pct.toLong))
      .select(col("tok"), col("cnt"),
        round(col("cnt").cast(DoubleType) / col("n_total"), 6).as("share"))
      .orderBy(col("cnt").desc, col("tok"))
  }

  /** Per-source heavy hitters — the GROUPED form of `txHeavyHitters`
    * (over-represented tokens per domain/source, the signal behind
    * per-domain boilerplate and source-quality filters). Same two-pass
    * shape with the MG summary keyed by source: pass 1 is one
    * partial-aggregated shuffle of (source → O(k) summary) rows, pass 2
    * re-counts each source's ≤2k candidates exactly behind a broadcast
    * join on (source, tok). Per-group guarantee is unchanged — each
    * group's undercount is bounded by its OWN token total over k — so
    * capacity 256 ≫ 100/3 keeps the 3% report threshold exact.
    */
  def txHeavyHittersBySource(s: SparkSession, dir: String,
      capacity: Int = 256, pct: Int = 3): DataFrame =
    txHeavyHittersBySourceDf(Tables.documents(s, dir), capacity, pct)

  def txHeavyHittersBySourceDf(docs: DataFrame, capacity: Int = 256,
      pct: Int = 3): DataFrame = {
    val toks = docs.select(col("source"),
      explode(tokens(col("text"))).as("tok"))
    val summary = toks.groupBy(col("source")).agg(
      count(lit(1)).as("n_total"),
      graft.functions.HeavyHitters.misraGries(col("tok"), capacity).as("cands"))
    val cand = summary.select(col("source"), col("n_total"),
      explode(col("cands")).as("tok"))
    toks.join(broadcast(cand), Seq("source", "tok"))
      .groupBy(col("source"), col("tok"), col("n_total"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * lit(100L) > col("n_total") * lit(pct.toLong))
      .select(col("source"), col("tok"), col("cnt"),
        round(col("cnt").cast(DoubleType) / col("n_total"), 6).as("share"))
      .orderBy(col("source"), col("cnt").desc, col("tok"))
  }

  /** Count-Min point-frequency estimates, certified against exact
    * counts — the frequency-QUERY member of the sketch family (MG
    * yields the candidate set; CM answers "how common is x" for any x
    * after one summarizing pass). The d×w counter matrix aggregates in
    * ONE partial-aggregated pass with O(d·w) task state and no
    * vocabulary shuffle; the probe panel is the exact top-10 heavy
    * hitters (themselves two-pass MG, so the whole query never
    * shuffles the vocabulary). Because the hash rows are fixed
    * (hash60, the repo-wide md5 prefix), the sketch is a deterministic
    * function of the token multiset and the DuckDB oracle replays it
    * cell-for-cell: the CM guarantee (cm_est ≥ exact, overcount small)
    * is full-hash certified rather than band-certified.
    */
  def txFreqCm(s: SparkSession, dir: String): DataFrame =
    txFreqCmDf(Tables.documents(s, dir))

  def txFreqCmDf(docs: DataFrame, d: Int = 4, w: Int = 1024): DataFrame = {
    val toks = docs.select(explode(tokens(col("text"))).as("tok"))
    val sk = toks.agg(
      graft.functions.CountMin.countMin(col("tok"), d, w).as("sk"))
    val probe = txHeavyHittersDf(docs).limit(10)
      .select(col("tok"), col("cnt").as("exact_n"))
    val ests = (0 until d).map { i =>
      element_at(col("sk"),
        (lit(i * w) + pmod(graft.functions.TextFunctions.hash60(
          concat(lit(s"cm$i:"), col("tok"))), lit(w.toLong)))
          .cast(IntegerType) + 1)
    }
    probe.crossJoin(broadcast(sk))
      .select(col("tok"), col("exact_n"), least(ests: _*).as("cm_est"))
      .withColumn("overcount", col("cm_est") - col("exact_n"))
      .orderBy(col("exact_n").desc, col("tok"))
  }

  /** The composite quality GATE (the C4/Gopher-style keep/drop decision
    * that sits downstream of the individual signals): every document
    * gets a keep flag and the FIRST failing rule as its drop reason —
    * length band, repetition (distinct ratio), language, token shape.
    * One narrow zero-shuffle pass; rules are plain comparisons over
    * exact-arithmetic signals, so the decision is engine-independent.
    */
  /** CORPUS REPORT — the per-language rollup a corpus build publishes
    * with every release (doc counts, token mass, means, shares): one
    * narrow scan, one tiny groupBy, a broadcast scalar for the shares.
    * Exact integers divided once, so the report is engine-independent
    * at 6 dp.
    */
  def corpusReport(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(s, dir)
      .select(col("lang"), size(tokens(col("text"))).as("n_toks"),
        length(col("text")).as("n_chars"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast(LongType).as("total_tokens"),
        sum(col("n_chars")).cast(LongType).as("total_chars"))
    val tot = per.agg(sum(col("n_docs")).as("n"))
    per.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        round(col("total_tokens") / col("n_docs").cast(DoubleType), 6)
          .as("mean_tokens"),
        round(col("total_chars") / col("n_docs").cast(DoubleType), 6)
          .as("mean_chars"),
        round(col("n_docs") / col("n").cast(DoubleType), 6).as("doc_share"))
      .orderBy(col("lang"))
  }

  def txFilter(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"),
        size(toks).cast(LongType).as("n_tokens"),
        (size(array_distinct(toks)).cast(DoubleType) / size(toks))
          .as("distinct_ratio"),
        (stopwordCount(toks, Seq("the", "a")).cast(DoubleType) / size(toks))
          .as("en_score"),
        (aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
          .cast(DoubleType) / size(toks)).as("mean_token_len"))
      .withColumn("reason",
        when(col("n_tokens") < 10, "too_short")
          .when(col("n_tokens") > 5000, "too_long")
          .when(col("distinct_ratio") < 0.3, "repetitive")
          .when(col("en_score") < 0.04, "non_english")
          .when(col("mean_token_len") < 2.0 || col("mean_token_len") > 12.0,
            "token_shape"))
      .withColumn("keep", col("reason").isNull)
      .orderBy(col("doc_id"))
  }

  /** Substring-level dedup signals (the repeated-span stage doc-level
    * dedup misses — boilerplate headers, license blocks, templated spans
    * shared across otherwise-distinct documents): flag every token span
    * covered by a word n-gram that occurs in >= minDf DISTINCT documents,
    * and report the exact union-of-intervals coverage per document.
    *
    * Shape at scale: positional gram hashes from one native codegen'd
    * pass (no gram strings materialized), one shuffle to count document
    * frequency per gram hash, a join back (the hot-gram set is small —
    * AQE broadcasts it), then per-doc interval union via a gaps-and-
    * islands window (bounded by document length, like every other per-doc
    * window here). The output ratio is the trim/drop signal; the flagged
    * (doc, pos) spans are exactly what a span-removal rewrite would cut.
    */
  def txBoilerplate(s: SparkSession, dir: String): DataFrame =
    txBoilerplateDf(Tables.documents(s, dir))

  /** One-pass tokenize+hash base for the boilerplate pair, persisted
    * and materialized EXPLICITLY before any consumer runs. The r12
    * driver bench priced the previous shape: the corpus was tokenized
    * THREE times per report (both sides of the hot-gram join plus the
    * final per-doc counts), and with the hot-gram join's build side
    * living near AQE's broadcast threshold, consecutive runs of the
    * unchanged query flipped physical shapes and recompiled 12–15
    * generated classes per flip (the adjudicator's `recompile(45)`
    * row). One cached pass + a `count()` barrier makes the expensive
    * scan run exactly once and the downstream plan small and stable.
    * At 100 TB the same persist trades the 3× corpus recompute for a
    * MEMORY_AND_DISK spill of (toks, gh) — the standard cache-vs-
    * recompute call for a base feeding 3 consumers; the blocks are
    * query-scoped and freed at the harness's query boundary
    * (`Checkpoints.free`).
    */
  private def boilerplateBase(docs0: DataFrame, n: Int): DataFrame = {
    val toks = tokens(col("text"))
    val base = graft.Par.spread(docs0)
      .select(col("doc_id"), toks.as("toks"), gramHashes(toks, n).as("gh"))
      .persist()
    base.count() // materialize once, sequentially, before the consumers
    base
  }

  /** Shared detection for the boilerplate pair: merged flagged-span
    * islands per doc — (doc_id, island, span_start, span_end, nf).
    * Gaps-and-islands over the flagged starts: intervals are all length
    * n and starts are sorted, so a run of starts with gaps < n merges
    * into one island covering [min(pos), max(pos) + n).
    */
  private def boilerplateIslands(base: DataFrame, n: Int, minDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = base
      .select(col("doc_id"), posexplode(col("gh")).as(Seq("pos", "g")))
    val hot = grams.groupBy(col("g"))
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDf)
      .select(col("g"))
    val flagged = grams.join(hot, Seq("g")).select(col("doc_id"), col("pos"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    flagged
      .withColumn("prev_end",
        max(col("pos") + n).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("pos") >= col("prev_end"), 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(wOrd))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("span_end"),
        count(lit(1)).as("nf"))
  }

  def txBoilerplateDf(docs0: DataFrame, n: Int = 8, minDf: Int = 2): DataFrame = {
    val base = boilerplateBase(docs0, n)
    val covered = boilerplateIslands(base, n, minDf)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start")).cast(LongType).as("covered_tokens"),
        sum(col("nf")).cast(LongType).as("n_flagged"))
    // returned LAZY (no checkpoint): the full plan stays visible to
    // PlanAuditSpec's anti-pattern audit, and the persisted base backs
    // the single downstream action before the harness's query-boundary
    // free (a checkpointed result would replace the audited plan with
    // a bare RDD scan — review r13)
    base.select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_tokens"),
        size(col("gh")).cast(LongType).as("n_grams"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_grams"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        when(col("n_tokens") > 0,
          round(coalesce(col("covered_tokens"), lit(0L)).cast(DoubleType) /
            col("n_tokens"), 6)).otherwise(0.0).as("boilerplate_ratio"))
      .orderBy(col("doc_id"))
  }

  /** The APPLY step of substring-level dedup: rewrite each document with
    * its flagged spans CUT — the span-removal transform whose inputs
    * `txBoilerplate` reports on. Token positions are filtered against the
    * doc's merged island list with higher-order functions (no second
    * explode of the corpus; the spans array per doc is tiny), then
    * re-joined into text.
    */
  def txBoilerplateApply(s: SparkSession, dir: String): DataFrame =
    txBoilerplateApplyDf(Tables.documents(s, dir))

  def txBoilerplateApplyDf(docs0: DataFrame, n: Int = 8, minDf: Int = 2): DataFrame = {
    // same one-pass base as the report; the result is corpus-scale
    // (cleaned_text), so it is NOT checkpointed — the base stays
    // persisted for the consumer's action and is freed at the
    // harness's query boundary (Checkpoints.free)
    val base = boilerplateBase(docs0, n)
    val spans = boilerplateIslands(base, n, minDf)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val sp = coalesce(col("spans"),
      array().cast("array<struct<span_start:int,span_end:int>>"))
    val kept = filter(col("toks"), (_, i) =>
      !exists(sp, p => i >= p("span_start") && i < p("span_end")))
    base.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_before"),
        size(kept).cast(LongType).as("n_after"),
        array_join(kept, " ").as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** PII redaction (the scrub stage every training-data pipeline runs
    * before anything else sees the text): emails, IPv4 addresses and
    * NNN-NNN-NNNN phone numbers replaced by typed placeholder tokens,
    * with per-doc match counts (counted BEFORE redaction) as the audit
    * signal. Patterns are written in the common Java-regex/RE2 subset
    * (\d, \b, character classes) so Spark and the DuckDB oracle execute
    * the identical automaton; replacement order (email → ip → phone) is
    * part of the operator contract since the classes can overlap.
    *
    * The synthetic corpus contains no PII, so the registered query
    * PLANTS deterministic PII on every 5th document — from `doc_id`
    * arithmetic, mirrored in the oracle — and the hash match then
    * certifies the actual match+replace machinery, not a no-op scan.
    * Shape at scale: one narrow codegen'd pass, zero shuffle.
    */
  val emailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val ipPat    = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  val phonePat = """\b\d{3}-\d{3}-\d{4}\b"""

  def txRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id"),
      lit("@mail.example.com from 10.0."), col("doc_id") % 256,
      lit(".7 call 555-"),
      lpad((col("doc_id") % 1000).cast(StringType), 3, "0"), lit("-0199"))
    txRedactDf(Tables.documents(s, dir)
      .withColumn("text", when(col("doc_id") % 5 === 0, planted).otherwise(col("text"))))
  }

  def txRedactDf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        regexp_count(col("text"), lit(emailPat)).cast(LongType).as("n_emails"),
        regexp_count(col("text"), lit(ipPat)).cast(LongType).as("n_ips"),
        regexp_count(col("text"), lit(phonePat)).cast(LongType).as("n_phones"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), emailPat, "<EMAIL>"),
            ipPat, "<IP>"),
          phonePat, "<PHONE>").as("redacted_text"))
      .withColumn("pii_found",
        col("n_emails") + col("n_ips") + col("n_phones") > 0)
      .orderBy(col("doc_id"))

  /** Benchmark decontamination (the train/eval overlap audit run before
    * any training corpus ships): flag every training document sharing a
    * verbatim word n-gram with the evaluation set, with the matched-gram
    * and matching-eval-doc counts as evidence. Generic form takes the
    * two corpora; the registered query derives them from the documents
    * table by the same deterministic 60-bit id-hash split `txSample`
    * uses (buckets >= 97 ≈ 3% eval slice) and — because the synthetic
    * corpus has almost no natural 8-gram overlap — PLANTS contamination
    * by appending a 12-token verbatim quote of the first eval document
    * to every 25th training document, mirrored in the oracle, so the
    * hash match certifies real gram-level detection.
    *
    * Shape at scale: eval benchmarks are tiny next to a 100 TB train
    * corpus, so the eval gram set broadcasts (here left to AQE — the
    * eval side derives from the corpus and grows with SF, the same
    * forced-broadcast discipline as every SF-scaled dimension); the
    * train side is one narrow scan + explode with no shuffle before the
    * per-doc partial aggregate. Distinct-gram semantics per doc, so a
    * repeated quote counts once.
    */
  def decontaminate(s: SparkSession, dir: String, n: Int = 8,
      evalLo: Int = 97, plantEvery: Int = 25): DataFrame = {
    val (train, evalSet) = decontamCorpus(s, dir, evalLo, plantEvery)
    decontaminateDf(train, evalSet, n)
  }

  /** The planted train/eval corpus every decontamination variant
    * (batch, incremental, durable sink) audits — ONE derivation so the
    * variants can never drift from the oracle's replay. Returns
    * (train, evalSet), both (doc_id, text).
    */
  private def decontamCorpus(s: SparkSession, dir: String,
      evalLo: Int, plantEvery: Int): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      .withColumn("bucket",
        (hash60(col("doc_id").cast(StringType)) % 100).cast(LongType))
    // the planted quote: first 12 tokens of the smallest-id eval doc
    // (a genuinely fixed-size scalar -> forced broadcast is correct)
    val snippet = docs.filter(col("bucket") >= evalLo)
      .orderBy(col("doc_id")).limit(1)
      .select(array_join(slice(tokens(col("text")), 1, 12), " ").as("snippet"))
    val planted = docs.crossJoin(broadcast(snippet))
      .withColumn("text",
        when(col("bucket") < evalLo && col("doc_id") % plantEvery === 0,
          concat(col("text"), lit(" "), col("snippet")))
          .otherwise(col("text")))
    (planted.filter(col("bucket") < evalLo).select(col("doc_id"), col("text")),
      planted.filter(col("bucket") >= evalLo).select(col("doc_id"), col("text")))
  }

  /** Generic core: training docs sharing >= 1 verbatim n-gram with any
    * eval doc, with evidence counts. Both inputs are (doc_id, text).
    */
  def decontaminateDf(train: DataFrame, evalSet: DataFrame, n: Int = 8): DataFrame = {
    def grams(df: DataFrame, idAs: String) =
      df.select(col("doc_id").as(idAs),
        explode(array_distinct(gramHashes(tokens(col("text")), n))).as("gh"))
    grams(train, "doc_id")
      .join(grams(evalSet, "eval_id"), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gh")).as("n_matched_grams"),
        count_distinct(col("eval_id")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }

  /** The frozen-benchmark gram-index row schema — the decontamination
    * twin of the dedup signature indexes: (gh, eval_id). An explicit
    * schema so an existing-but-empty index directory reads as zero
    * rows instead of dying in inference.
    */
  val decontamIndexSchema: StructType = StructType(Seq(
    StructField("gh", LongType), StructField("eval_id", LongType)))

  /** The FROZEN benchmark n-gram index: one gram pass over the eval
    * set, persisted once at benchmark-registration time. Every later
    * training delivery is checked against THIS relation alone — the
    * benchmark never re-grams and the accumulated train corpus is
    * never re-scanned, the only incremental shape that works when the
    * train side is 100 TB and the benchmark side is megabytes.
    */
  def decontamIndexOf(evalSet: DataFrame, n: Int = 8): DataFrame =
    evalSet.select(col("doc_id").as("eval_id"),
        explode(array_distinct(gramHashes(tokens(col("text")), n))).as("gh"))
      .select(col("gh"), col("eval_id"))

  def readDecontamIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        decontamIndexSchema)
    else spark.read.schema(decontamIndexSchema)
      .option("recursiveFileLookup", "true").parquet(indexDir)
  }

  /** One INCREMENTAL decontamination step: THIS delivery's training
    * docs against the persisted benchmark index. Unlike the dedup
    * incrementals there is no within/cross-delivery interaction —
    * contamination is a property of (train doc, frozen benchmark)
    * only — so the step is embarrassingly delivery-parallel and
    * trivially replay-idempotent.
    */
  def decontaminateStep(batch: DataFrame, index: DataFrame,
      n: Int = 8): DataFrame =
    batch.select(col("doc_id"),
        explode(array_distinct(gramHashes(tokens(col("text")), n))).as("gh"))
      .join(index, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("gh")).as("n_matched_grams"),
        count_distinct(col("eval_id")).as("n_eval_docs"))

  /** Registered two-delivery simulation of INCREMENTAL decontamination
    * (r17 verdict ask #3; the `dedup_*_incremental` pattern applied to
    * contamination): the benchmark gram index is frozen once, then the
    * training corpus arrives as two deliveries (even doc_ids, then
    * odd) — each checked against the index alone. The union equals the
    * batch audit exactly (frozen benchmark ⇒ delivery order can't
    * matter), which is what the shared relational oracle certifies.
    */
  def decontaminateIncremental(s: SparkSession, dir: String,
      n: Int = 8): DataFrame = {
    val (train, evalSet) = decontamCorpus(s, dir, 97, 25)
    val index = decontamIndexOf(evalSet, n).persist()
    try {
      index.count() // freeze once, before both delivery steps
      val d1 = decontaminateStep(train.filter(col("doc_id") % 2 === 0), index, n)
      val d2 = decontaminateStep(train.filter(col("doc_id") % 2 =!= 0), index, n)
      d1.withColumn("delivery", lit(1L))
        .unionByName(d2.withColumn("delivery", lit(2L)))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    } finally index.unpersist()
  }

  /** The incremental decontamination pipeline through the DURABLE
    * STREAMING SINK — the `dedup_incremental_sink` shape transported
    * by [[graft.streaming.ManifestFeed]]: the frozen benchmark index
    * lands on disk once; a checkpointed StreamingQuery audits each
    * delivery's micro-batch against the PERSISTED index and appends
    * flagged rows as a per-batch segment (mode("overwrite") into a
    * batchId-determined directory — replay overwrites its own previous
    * attempt, and with a frozen index the recomputed decisions are
    * identical). Shares [[decontaminateIncremental]]'s oracle
    * verbatim: the durable path computes exactly the in-memory step's
    * semantics.
    */
  def decontaminateIncrementalSink(s: SparkSession, dir: String,
      n: Int = 8): DataFrame = {
    import graft.streaming.ManifestFeed
    val root = graft.store.StoreRoot.scratchRoot("decontam_incr_sink")
    val (outDir, idxDir, ckpt) = (s"$root/out", s"$root/idx", s"$root/ckpt")
    val (train, evalSet) = decontamCorpus(s, dir, 97, 25)
    decontamIndexOf(evalSet, n).write.mode("overwrite").parquet(idxDir)
    val d1 = train.filter(col("doc_id") % 2 === 0)
    val d2 = train.filter(col("doc_id") % 2 =!= 0)
    ManifestFeed.deliver(d1, root, 0L, 2)
    val q = ManifestFeed.start(s, root, train.schema, ckpt) { (batch, id) =>
      decontaminateStep(batch, readDecontamIndex(batch.sparkSession, idxDir), n)
        .write.mode("overwrite").parquet(s"$outDir/seg_$id")
    }
    try {
      q.processAllAvailable()
      ManifestFeed.deliver(d2, root, 1L, 2)
      q.processAllAvailable()
    } finally q.stop()
    graft.dedup.Dedup.readSegments(s, outDir)
      .withColumn("delivery",
        when(col("doc_id") % 2 === 0, 1L).otherwise(2L))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprinting: full-content MD5, 60-bit content hash, and
    * the SimHash near-dup fingerprint (native codegen'd expression).
    */
  def txFingerprint(s: SparkSession, dir: String): DataFrame =
    // three digest passes per row — exactly the compute-bound narrow
    // scan the split-bound guard exists for
    graft.Par.spread(Tables.documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        md5(col("text")).as("md5_hex"),
        hash60(col("text")).as("content_hash60"),
        simhash60(tokens(col("text"))).as("simhash60"))
      .orderBy(col("doc_id"))

  /** Deterministic corpus sampling: keep a doc iff its 60-bit id hash
    * lands in the first `pct` of 100 buckets. Hash-based (not RNG-based)
    * so the SAME subset comes out of any engine, any partitioning, any
    * rerun — the property a reproducible training-data pipeline needs.
    * Narrow codegen'd scan, zero shuffle.
    */
  def txSample(s: SparkSession, dir: String, pct: Int = 10): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket", (hash60(col("doc_id").cast(StringType)) % 100).cast(LongType))
      .filter(col("bucket") < pct)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("bucket"))
      .orderBy(col("doc_id"))

  /** Fixed-window document chunking with overlap (the context-window
    * prep step for training/RAG): chunk k covers token positions
    * [k·stride, k·stride + capacity) with stride = capacity − overlap;
    * the last chunk may run short. Pure per-row expansion — sequence +
    * slice, no shuffle, chunk count bounded by doc length. Chunk ids
    * are per-doc ordinals so downstream exact-dedup at chunk level
    * composes directly.
    */
  def txChunk(s: SparkSession, dir: String, capacity: Int = 64,
      overlap: Int = 16): DataFrame =
    txChunkDf(Tables.documents(s, dir), capacity, overlap)

  def txChunkDf(docs: DataFrame, capacity: Int = 64,
      overlap: Int = 16): DataFrame = {
    require(capacity > overlap && overlap >= 0)
    val stride = capacity - overlap
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          floor((size(col("toks")) - 1) / stride).cast(IntegerType)))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast(LongType).as("chunk_id"),
        slice(col("toks"), col("chunk_id") * stride + 1, lit(capacity)).as("ctoks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).cast(LongType).as("n_chunk_tokens"),
        array_join(col("ctoks"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** TF-IDF keyword extraction (the per-doc salient-term surface a
    * search/tagging layer needs): score = tf · log2(N/df), top 3 terms
    * per document, ties broken lexically. df comes from one
    * distinct-(doc, token) aggregate; the per-doc rank window is
    * bounded by a document's vocabulary, like every per-doc window
    * here. Scores rank on the 6-dp rounded value so the cut is
    * engine-independent.
    */
  def txKeywords(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val inst = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val tf = inst.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok"))
    tf.join(df, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf").cast(DoubleType) *
          (log(2.0, col("n_docs")) - log(2.0, col("df").cast(DoubleType))), 6))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("score"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Token-budget corpus mix (stratified sampling): per language, admit
    * documents in deterministic pseudo-random order — (60-bit id hash,
    * doc_id) — until the language's token budget is reached; a doc is
    * admitted iff the tokens BEFORE it in that order are under budget.
    * This is the training-mix rebalancer (cap English, keep all of a
    * low-resource language) with engine/partitioning/rerun-reproducible
    * selection, same hash family as `txSample`.
    *
    * Scale shape: the naive form is one window per language — and
    * language cardinality is near-constant, so that window piles a
    * whole language onto one task. Instead the admission offset is
    * computed in two phases: (1) per-(lang, bucket) token sums — a tiny
    * aggregate of #langs × nBuckets rows — cumsummed per lang over the
    * bucket id (a window over the TINY table, then force-broadcast: its
    * size is bounded by nBuckets × #languages, not by the corpus);
    * (2) a per-doc cumsum windowed by (lang, bucket) — every window
    * partition holds ~1/nBuckets of a language. Global admission order
    * is (bucket, hash, doc_id), which the oracle reproduces as ONE
    * cumsum per language — identical semantics, different plan.
    */
  def corpusMix(s: SparkSession, dir: String, budget: Long = 2000L,
      nBuckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("h", hash60(col("doc_id").cast(StringType)))
      .withColumn("bucket", (col("h") % nBuckets).cast(LongType))
    val wB = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val starts = docs.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n_tokens")).as("bt"))
      .withColumn("bucket_start", coalesce(sum(col("bt")).over(wB), lit(0L)))
      .select(col("lang"), col("bucket"), col("bucket_start"))
    val wD = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(broadcast(starts), Seq("lang", "bucket"))
      .withColumn("admit_offset",
        col("bucket_start") + coalesce(sum(col("n_tokens")).over(wD), lit(0L)))
      .filter(col("admit_offset") < budget)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("admit_offset"))
      .orderBy(col("doc_id"))
  }

  /** Stratified exact-N sample: the N documents per source minimizing
    * the content-addressed key (hash60("strat|" + id) mod 2^40, doc_id)
    * — the balanced eval-slice constructor (equal representation per
    * source regardless of source skew), reproducible on any
    * engine/partitioning/rerun like `txSample`/`txShuffle`. The mod-2^40
    * reduction keeps the key exactly representable in the aggregator's
    * Double score: raw 2^60-range hashes would collide after mantissa
    * rounding and make the survivor set engine-dependent at the margin.
    *
    * Scale shape: the same bounded-heap two-phase aggregate as
    * `embTopk` — each partition reduces to ≤N candidates per source
    * BEFORE the shuffle, so the exchange carries sources × partitions
    * N-row states and no task ever holds a source's full document list
    * (the rank-window formulation's scale-killer; the oracle
    * deliberately runs that naive form, so the hash match certifies the
    * equivalence).
    */
  def sampleStratified(s: SparkSession, dir: String, n: Int = 10): DataFrame =
    sampleStratifiedDf(Tables.documents(s, dir), n)

  def sampleStratifiedDf(documents: DataFrame, n: Int): DataFrame = {
    import graft.similarity.TopKByCos
    val hs = pmod(hash60(concat(lit("strat|"), col("doc_id").cast(StringType))),
      lit(1L << 40))
    val topn = udaf(new TopKByCos(n))
    documents
      .select(col("source"), col("doc_id").as("neighbor_id"),
        // min-key selection through the max-first heap: score = −key
        (-hs.cast(DoubleType)).as("cos_sim"))
      .groupBy(col("source"))
      .agg(topn(col("neighbor_id"), col("cos_sim")).as("picked"))
      .select(col("source"), posexplode(col("picked")).as(Seq("pos", "p")))
      .select(col("source"),
        (col("pos") + 1).cast(LongType).as("rk"),
        col("p.neighbor_id").as("doc_id"),
        (-col("p.cos_sim")).cast(LongType).as("hs"))
      .orderBy(col("source"), col("rk"))
  }

  /** Temperature-reweighted corpus mix — the α-mixing step of LLM data
    * pipelines (sample languages ∝ mass^α with α < 1, flattening the
    * head so low-resource languages are up-weighted; α = 1/2 here):
    * per-language token budget
    * b_l = ⌊totalBudget · isqrt(m_l) / Σ_k isqrt(m_k)⌋ with m_l the
    * language's EXACT token mass and isqrt = ⌊sqrt(m.toDouble)⌋ — the
    * same correctly-rounded IEEE-double sqrt on BOTH engines, so the
    * weights agree bit-for-bit (a true integer sqrt could differ by 1
    * once m approaches 2^52, but whatever this expression yields, the
    * oracle's identical expression yields too), and the budget division
    * is SQL `div`, not float — no float sum ever decides membership.
    * Admission within a language is the same deterministic (hash, id)
    * order and two-phase bucketed cumsum as [[corpusMix]] (which see
    * for the scale argument); the ≤#langs-row budget table rides a
    * broadcast join, the 1-row denominator a broadcast cross join
    * (allowlisted in PlanAuditSpec).
    */
  def corpusMixTemperature(s: SparkSession, dir: String,
      totalBudget: Long = 4000L, nBuckets: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("h", hash60(col("doc_id").cast(StringType)))
      .withColumn("bucket", (col("h") % nBuckets).cast(LongType))
    val mass = docs.groupBy(col("lang"))
      .agg(sum(col("n_tokens")).as("m"))
      .withColumn("w", floor(sqrt(col("m").cast(DoubleType))).cast(LongType))
    val denom = mass.agg(sum(col("w")).as("wsum"))
    val budgets = mass.crossJoin(broadcast(denom))
      .select(col("lang"),
        expr(s"(${totalBudget}L * w) div wsum").as("lang_budget"))
    val wB = Window.partitionBy(col("lang")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val starts = docs.groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n_tokens")).as("bt"))
      .withColumn("bucket_start", coalesce(sum(col("bt")).over(wB), lit(0L)))
      .select(col("lang"), col("bucket"), col("bucket_start"))
    val wD = Window.partitionBy(col("lang"), col("bucket"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.join(broadcast(starts), Seq("lang", "bucket"))
      .join(broadcast(budgets), Seq("lang"))
      .withColumn("admit_offset",
        col("bucket_start") + coalesce(sum(col("n_tokens")).over(wD), lit(0L)))
      .filter(col("admit_offset") < col("lang_budget"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("lang_budget"), col("admit_offset"))
      .orderBy(col("doc_id"))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
    * the distributed-systems standard): each item draws u ∈ (0,1) and
    * ranks by log(u)/w — the top-k under that key is exactly a
    * w-weighted sample. Here u is CONTENT-ADDRESSED (the same 60-bit id
    * hash family as sampling/shuffle) instead of RNG, so the sample is
    * reproducible on any engine/partitioning; weight = document length,
    * so longer docs are proportionally likelier — the shape used for
    * importance-weighted corpus subsetting. Keys are 9-dp rounded
    * before ranking (id tiebreak) so the cut is engine-independent;
    * global top-k plans as TakeOrderedAndProject, never a full sort.
    */
  def txWeightedSample(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = hash60(concat(lit("ws|"), col("doc_id").cast(StringType)))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        // log2(u)/w with u = (h+1)/2^60, written as one expression tree
        round((log(2.0, h.cast(DoubleType) + 1) - lit(60.0)) /
          col("n_chars"), 9).as("es_key"))
      // TakeOrderedAndProject does the global cut; the rank window then
      // runs over only the k survivors
      .orderBy(col("es_key").desc, col("doc_id")).limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("es_key").desc, col("doc_id"))).cast(LongType))
      .orderBy(col("rk"))
  }

  /** Deterministic global shuffle (per-epoch training order): the
    * permutation is content-addressed — shard and in-shard position
    * both derive from hash60(seed | doc_id) — so ANY engine, any
    * partitioning, any rerun with the same seed yields the same order,
    * and a new epoch seed is a fresh permutation with zero state. The
    * rank window is per shard (≈ corpus/nShards rows), never global;
    * shards ARE the training-reader parallelism.
    */
  def txShuffle(s: SparkSession, dir: String, seed: String = "epoch0",
      nShards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(s, dir)
      .select(col("doc_id"),
        hash60(concat(lit(seed), lit("|"), col("doc_id").cast(StringType))).as("h"))
      .withColumn("shard", (col("h") % nShards).cast(LongType))
      .withColumn("pos",
        (row_number().over(Window.partitionBy(col("shard"))
          .orderBy(col("h"), col("doc_id"))) - 1).cast(LongType))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  /** Sequence packing (the greedy concat-then-chop scheme): docs are
    * laid end-to-end in (shard, doc_id) order and each one's bin is its
    * START offset divided by the bin capacity. One window cumsum per
    * shard.
    *
    * The shard key is (lang, hash-bucket): `lang` alone is
    * near-constant-cardinality, so a lang-partitioned window would pile
    * one language's whole corpus onto a single task — the classic
    * single-partition window scale-killer. Bucketing by the same
    * deterministic 60-bit id hash `txSample` uses bounds every window
    * partition to ~1/nShards of a language (raise nShards with the
    * corpus; each shard packs independently, so shards ≈ parallelism).
    * Bin ids are per-(lang, shard) — exactly the semantics a multi-worker
    * packer produces, and reproducible across engines/partitionings
    * because the shard assignment is content-addressed, not RNG- or
    * partition-dependent.
    */
  def txPack(s: SparkSession, dir: String, capacity: Long = 2048L,
      nShards: Int = 16): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("shard",
        (hash60(col("doc_id").cast(StringType)) % nShards).cast(LongType))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("bin_id",
        ((col("cum_tokens") - col("n_tokens")) / capacity).cast(LongType))
      .orderBy(col("doc_id"))
  }

  /** Token-budget data selection: keep the highest-quality documents
    * whose token counts fit a global budget (`frac` of the corpus's
    * total tokens) — the "best N tokens" selection step of a training
    * run, made scale-shaped.
    *
    * The naive formulation is a GLOBAL window cumsum over
    * (quality DESC) — a single-partition sort of the whole corpus, the
    * same scale-killer `txPack` documents. Instead the selection is the
    * classic two-level histogram threshold:
    *   1. bucket = floor(quality · 1000): a ≤1001-row histogram of
    *      token mass per quality bucket (one tiny shuffle);
    *   2. the bucket cumsum (window over ≤1001 rows) finds the boundary
    *      bucket where the budget runs out; whole buckets above it are
    *      kept with a broadcast semi-join — no sort, no window over
    *      data-scale rows;
    *   3. only INSIDE the boundary bucket (~1/1000 of the corpus for
    *      any non-degenerate quality distribution) does an ordered
    *      cumsum run — and that cumsum is itself a distributed prefix
    *      sum over range shards, so even a DEGENERATE corpus whose
    *      quality mass concentrates in one bucket never re-creates the
    *      global single-partition window (see the guard in the body).
    * Because every document in a higher bucket outranks every document
    * in a lower one, the result is EXACTLY the greedy
    * (quality DESC, doc_id) prefix that fits the budget — asserted
    * against the windowed twin in the spec. Quality is the certified
    * `tx_quality` distinct-token ratio; tokens are the certified
    * whitespace count; ties broken by doc_id, so the selected set is
    * deterministic and engine-reproducible.
    *
    * At 100 TB: two narrow scans of (doc_id, text) — one feeding the
    * histogram, one re-scored for the final broadcast join (persist
    * `scored` to make it one) — plus a shuffle of ONLY the boundary
    * bucket. The budget scalar and the ≤1001-row cum table ride
    * broadcasts (1-row cross join allowlisted in PlanAuditSpec).
    */
  def txBudgetSelect(s: SparkSession, dir: String, frac: Double = 0.4): DataFrame =
    txBudgetSelectDf(Tables.documents(s, dir), frac)

  /** Shared scoring for the quality-selection operators: the certified
    * `tx_quality` distinct-token ratio + token count, empty docs
    * dropped, bucket = floor(quality · 1000) — monotone in quality, so
    * bucket-desc order refines quality-desc.
    */
  private def qualityBucketed(docs: DataFrame, extra: Column*): DataFrame = {
    val toks = tokens(col("text"))
    docs.select((col("doc_id") +: extra) ++ Seq(
        size(toks).cast(LongType).as("n_tokens"),
        (size(array_distinct(toks)).cast(DoubleType) / size(toks)).as("quality")): _*)
      .filter(col("n_tokens") > 0)
      .withColumn("bucket", floor(col("quality") * lit(1000)).cast(IntegerType))
  }

  /** Deterministic order-aligned shard tag for the selection guards —
    * the r14 cluster-safe replacement for `repartitionByRange` +
    * `spark_partition_id` + eager `localCheckpoint` (verdict #3): a
    * local checkpoint is not fault-tolerant, so on a real cluster an
    * executor loss killed the job instead of recomputing. Instead the
    * shard is a PURE EXPRESSION of the ordering key against cut points
    * frozen as literals: a deterministic hash-sample of the boundary
    * rows (xxhash64(doc_id) % m == 0, m sized from a count so the
    * sample carries ~16 rows per shard) is collected ONCE at plan-build
    * time (control-plane: ~16·nShards rows by construction), sorted by
    * the selection order, and every ⌈s/k⌉-th sample becomes a cut. Each
    * consumer subplan (the offsets aggregate AND the rank/cumsum
    * window) evaluates the same literal when-chain, so the assignment
    * is consistent across plan instantiations BY CONSTRUCTION — no
    * materialization to evict, nothing to recompute on executor loss —
    * and order-aligned: every row in shard i precedes every row in
    * shard i+1 in (source?, quality DESC, doc_id) order, so
    * offset(shard) + local rank IS the global rank. Sampled cuts bound
    * shard size at ~n/k w.h.p. (≈1.6× with 16 samples/shard — the
    * degenerate-corpus specs pin ≤3×), same guarantee class as the
    * RangePartitioner sample it replaces.
    */
  private[graft] def shardByOrder(bRows0: DataFrame, nShards: Int,
      bySource: Boolean): DataFrame = {
    // plain persist (NOT localCheckpoint): the boundary rows feed the
    // count, the cut sample, and the caller's offsets aggregate and
    // rank window — without a cache each consumer re-evaluates the
    // full scoring pipeline (review r14: ~5 corpus scans per
    // selection). persist is fault-tolerant — an executor loss
    // recomputes from lineage — which is the exact property the r13
    // localCheckpoint lacked; the count() is the materialization
    // barrier (r13 discipline) AND the sample-rate input.
    val bRows = bRows0.persist()
    val nB = bRows.count() // control-plane: one scalar per build
    val m = math.max(1L, nB / math.max(1L, 16L * nShards))
    val keyCols =
      (if (bySource) Seq(col("source")) else Nil) ++
        Seq(col("quality"), col("doc_id"))
    val sample = bRows
      .filter(pmod(xxhash64(lit("shard"), col("doc_id")), lit(m)) === 0)
      .select(keyCols: _*).collect()
    // source compares by UTF-8 BYTE order, not Java's UTF-16 code-unit
    // order: the frozen-cut predicate below runs col("source") > cs
    // under Spark's UTF8String binary comparison, and for strings with
    // supplementary code points the two orders disagree — a sample
    // sorted under the wrong order picks cuts out of engine order and
    // degrades the ~n/k shard-balance guarantee (ADVICE r14).
    val ord: Ordering[org.apache.spark.sql.Row] =
      if (bySource) new Ordering[org.apache.spark.sql.Row] {
        def compare(a: org.apache.spark.sql.Row,
            b: org.apache.spark.sql.Row): Int = {
          val c0 = java.util.Arrays.compareUnsigned(
            a.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8),
            b.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          if (c0 != 0) c0
          else {
            val c1 = java.lang.Double.compare(b.getDouble(1), a.getDouble(1))
            if (c1 != 0) c1
            else java.lang.Long.compare(a.getLong(2), b.getLong(2))
          }
        }
      }
      else Ordering.by(r => (-r.getDouble(0), r.getLong(1)))
    val sorted = sample.sorted(ord)
    val k = math.min(nShards - 1, sorted.length)
    val cuts = (1 to k).map(i => sorted((i * sorted.length) / (k + 1))).distinct
    // shard = number of cuts at-or-before this row in selection order
    val shard = cuts.map { c =>
      val ge =
        if (bySource) {
          val (cs, cq, ci) = (c.getString(0), c.getDouble(1), c.getLong(2))
          col("source") > cs || (col("source") === cs &&
            (col("quality") < cq ||
              (col("quality") === cq && col("doc_id") >= ci)))
        } else {
          val (cq, ci) = (c.getDouble(0), c.getLong(1))
          col("quality") < cq ||
            (col("quality") === cq && col("doc_id") >= ci)
        }
      when(ge, 1).otherwise(0)
    }.reduceOption(_ + _).getOrElse(lit(0))
    bRows.withColumn("shard", shard)
  }

  def txBudgetSelectDf(docs: DataFrame, frac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = qualityBucketed(docs)
    val hist = scored.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
    // single-partition window is FINE here: hist is ≤1001 rows
    val wCum = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist.withColumn("cum_before",
      coalesce(sum(col("bucket_tokens")).over(wCum), lit(0L)))
    val budget = hist.agg(
      floor(lit(frac) * sum(col("bucket_tokens")).cast(DoubleType))
        .cast(LongType).as("budget"))
    val joined = scored
      .join(broadcast(cum), Seq("bucket"))
      .crossJoin(broadcast(budget))
    val whole = joined
      .filter(col("cum_before") + col("bucket_tokens") <= col("budget"))
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    // DEGENERATE-QUALITY GUARD (r12 verdict #2): the boundary bucket is
    // ~1/1000 of the corpus only when quality is spread across buckets —
    // a constant-quality corpus (machine-generated shards) puts EVERY
    // row in one bucket, and a window partitioned by bucket would be
    // the global single-partition sort this operator exists to avoid.
    // So the boundary cumsum is a distributed prefix sum instead:
    // range-partition the boundary rows by the selection order itself,
    // take per-shard token totals (≤nShards rows — control plane),
    // prefix them into per-shard offsets, and run the ordered window
    // WITHIN each shard. Range partitioning guarantees every key in
    // shard i precedes every key in shard i+1, so
    // offset(shard) + local cumsum IS the global cumsum — exact, same
    // rows selected, no partition ever holds more than ~|boundary|/
    // nShards rows regardless of the quality distribution.
    val nShards = docs.sparkSession.sparkContext.defaultParallelism
    // the shard tag is a deterministic expression over frozen sampled
    // cuts (shardByOrder): the offsets aggregate and the window below
    // evaluate the SAME literal when-chain, so the prefix math is
    // consistent without materializing anything — cluster-safe where
    // the r13 eager localCheckpoint was not (executor loss killed the
    // job; a local checkpoint cannot recompute)
    val bRows = shardByOrder(
      joined.filter(col("cum_before") <= col("budget") &&
        col("cum_before") + col("bucket_tokens") > col("budget")),
      nShards, bySource = false)
    val wShard = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bRows.groupBy(col("shard"))
      .agg(sum(col("n_tokens")).as("shard_tokens"))
      .withColumn("shard_before",
        coalesce(sum(col("shard_tokens")).over(wShard), lit(0L)))
      .select(col("shard"), col("shard_before"))
    val wIn = Window.partitionBy(col("shard"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val boundary = bRows
      .join(broadcast(offsets), Seq("shard"))
      .withColumn("csum", col("shard_before") + sum(col("n_tokens")).over(wIn))
      .filter(col("cum_before") + col("csum") <= col("budget"))
      .select(col("doc_id"), col("n_tokens"), col("quality"))
    whole.unionByName(boundary).orderBy(col("doc_id"))
  }

  /** Per-source quality calibration: within EACH source keep the top
    * `pct`% of documents by (quality DESC, doc_id) — the "top X% per
    * domain" admission gate of corpus builds (an absolute quality
    * threshold over-prunes clean domains and under-prunes noisy ones;
    * rank-within-source is the calibration that survives domain drift).
    * Quality is the certified `tx_quality` distinct-token ratio; the
    * keep rule is all-integer (`rank · 100 ≤ n_src · pct`), so no float
    * threshold ever decides membership.
    *
    * Scale shape: [[txBudgetSelectDf]]'s histogram threshold generalized
    * per-group — the naive formulation is a row_number window
    * partitioned by source, i.e. a full sort of every source's
    * documents (one giant domain serializes it). Instead: a
    * per-(source, quality-bucket) doc-count histogram (≤1001 rows per
    * source — control-plane sized, broadcast), whole buckets admitted
    * by the integer rank compare, and only each source's BOUNDARY
    * bucket (~1/1000 of its rows) pays a row_number — itself sharded
    * by range partitions with prefix-count offsets, so even a
    * constant-quality source never re-creates the per-source global
    * sort (see the guard in the body). Asserted equal to the windowed
    * twin in the spec.
    */
  def txSelectBySource(s: SparkSession, dir: String, pct: Int = 40): DataFrame =
    txSelectBySourceDf(Tables.documents(s, dir), pct)

  def txSelectBySourceDf(docs: DataFrame, pct: Int): DataFrame = {
    val scored = qualityBucketed(docs, col("source"))
    val hist = scored.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("bucket_docs"))
    // both windows run over the histogram (≤1001 rows per source)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("bucket").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("cum_before",
        coalesce(sum(col("bucket_docs")).over(wCum), lit(0L)))
      .withColumn("n_src", sum(col("bucket_docs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
    val joined = scored.join(broadcast(cum), Seq("source", "bucket"))
    val whole = joined
      .filter((col("cum_before") + col("bucket_docs")) * 100 <= col("n_src") * pct)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("quality"))
    // Same degenerate-quality guard as [[txBudgetSelectDf]], per group:
    // a source whose docs share one quality value puts its whole corpus
    // in its boundary bucket, so the boundary rank is a distributed
    // prefix count over range shards of (source, quality DESC, doc_id)
    // — per-(source, shard) counts prefix into offsets (≤ #sources ×
    // nShards rows, the same control-plane size as `cum`), and
    // row_number runs within (source, shard) only. Exact: range
    // partitioning keeps each source's shards ordered, so
    // offset + local rank IS the source-global rank.
    val nShards = docs.sparkSession.sparkContext.defaultParallelism
    val wSh = org.apache.spark.sql.expressions.Window
    // same deterministic frozen-cuts shard as [[txBudgetSelectDf]]'s
    // guard (see [[shardByOrder]]): the offsets aggregate and the rank
    // window agree on the assignment because both evaluate the same
    // literal expression — no materialization, cluster-safe
    val bRows = shardByOrder(
      joined.filter(col("cum_before") * 100 <= col("n_src") * pct &&
        (col("cum_before") + col("bucket_docs")) * 100 > col("n_src") * pct),
      nShards, bySource = true)
    val wShard = wSh.partitionBy(col("source")).orderBy(col("shard"))
      .rowsBetween(wSh.unboundedPreceding, -1)
    val offsets = bRows.groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("shard_docs"))
      .withColumn("shard_before",
        coalesce(sum(col("shard_docs")).over(wShard), lit(0L)))
      .select(col("source"), col("shard"), col("shard_before"))
    val wIn = wSh.partitionBy(col("source"), col("shard"))
      .orderBy(col("quality").desc, col("doc_id"))
    val boundary = bRows
      .join(broadcast(offsets), Seq("source", "shard"))
      .withColumn("rk",
        col("shard_before") + row_number().over(wIn).cast(LongType))
      .filter((col("cum_before") + col("rk")) * 100 <= col("n_src") * pct)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("quality"))
    whole.unionByName(boundary).orderBy(col("doc_id"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
    * selection): over the positional `k`-gram hash stream, every window
    * of `w` consecutive hashes selects its RIGHTMOST minimum. The
    * winnowing guarantee: any token run of length ≥ w + k − 1 (= 8 at
    * the defaults) shared by two documents yields a shared selected
    * hash, while only ~2/(w+1) of the gram POSITIONS are selected
    * (`n_prints` counts them; `winnow_density` = n_prints/n_windows,
    * measured 0.43 on the corpus at w=4). The document's fingerprint is
    * the DISTINCT hashes at the selected positions (≤ n_prints — a
    * repetitive doc selects one hash at many positions); `n_shared`
    * counts fingerprints selected in ≥1 other document — the
    * cross-document span signal of `tx_boilerplate` at ~0.4× the
    * exchanged index mass.
    *
    * Scale shape: selection is a shuffle-free per-row pass — native
    * positional gram hashes into the native O(n_grams) monotonic-deque
    * selection (`WinnowExpr`; the HOF-argmin formulation it replaced
    * interpreted O(windows · w²) expression nodes per row and read
    * ~290 s on the sf0.1 corpus vs ~1 s native). The expensive pipeline
    * is evaluated ONCE: per-doc stats ride the exploded fingerprint
    * rows through the df window and are re-grouped, instead of
    * re-reading the corpus per consumer; only the fingerprint hashes
    * (~0.4× the full gram index) cross the wire. Short docs
    * (0 < n_grams < w) winnow a single whole-array window; docs with
    * fewer than k tokens report zeros.
    */
  def txWinnow(s: SparkSession, dir: String, k: Int = 5, w: Int = 4): DataFrame =
    txWinnowDf(Tables.documents(s, dir), k, w)

  def txWinnowDf(docs: DataFrame, k: Int, w: Int): DataFrame = {
    // every nz doc has ≥1 window → ≥1 selected position → ≥1 fingerprint
    // hash, so the explode never drops a doc and the stats survive the
    // round trip through the fingerprint rows
    val nz = graft.Par.spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"), gramHashes(tokens(col("text")), k).as("h"))
      .filter(size(col("h")) >= 1)
      .withColumn("n_windows", greatest(size(col("h")) - lit(w - 1), lit(1)))
      .withColumn("sel", winnowPositions(col("h"), w))
      .select(col("doc_id"), col("n_windows"),
        size(col("sel")).as("n_prints"),
        explode(winnowFingerprints(col("h"), col("sel"))).as("gh"))
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    val perDoc = nz
      .withColumn("df", count(lit(1)).over(wDf))
      .groupBy(col("doc_id"))
      .agg(max(col("n_windows")).as("n_windows"),
        max(col("n_prints")).as("n_prints"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
    // the zero-row side never hashes: gram COUNT is derivable from the
    // token count alone
    docs.select(col("doc_id"),
        greatest(size(tokens(col("text"))) - lit(k - 1), lit(0)).as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_grams").cast(LongType).as("n_grams"),
        coalesce(col("n_windows").cast(LongType), lit(0L)).as("n_windows"),
        coalesce(col("n_prints").cast(LongType), lit(0L)).as("n_prints"),
        when(coalesce(col("n_windows"), lit(0)) > 0,
          round(col("n_prints").cast(DoubleType) / col("n_windows"), 6))
          .otherwise(lit(0.0)).as("winnow_density"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .orderBy(col("doc_id"))
  }

  // ── hashed-bucket model family (DSIR selection + Naive-Bayes lang-ID) ──

  /** Per-doc hashed-gram instances: positional unigram + bigram hash60s
    * folded into `buckets` feature buckets (the DSIR / hashed-NB feature
    * map — Xie et al. 2023 reduce the n-gram space exactly this way).
    * Duplicates kept: the feature vector is a count vector. Narrow scan
    * + explode; bucket cardinality is bounded by `buckets`, so every
    * aggregate downstream of this is a bounded-key partial agg no matter
    * the corpus size.
    */
  private def hashedGrams(docs: DataFrame, buckets: Int): DataFrame = {
    val toks = tokens(col("text"))
    graft.Par.spread(docs.select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("lang"),
        explode(concat(gramHashes(toks, 1), gramHashes(toks, 2))).as("gh"))
      .select(col("doc_id"), col("lang"),
        pmod(col("gh"), lit(buckets.toLong)).as("bucket"))
  }

  /** Per-batch/corpus bucket-counter aggregation — the DSIR model's
    * only data-scale reduction: bounded-key (≤`buckets`) partial agg.
    */
  private def bucketCounts(grams: DataFrame, targetLang: String): DataFrame =
    grams.groupBy(col("bucket")).agg(
      count(lit(1)).as("c_all"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("c_t"))

  /** Score gram instances against a (bucket, c_all, c_t) counter model:
    * totals, add-one log-ratio per bucket, per-doc sum.
    * log w(d) = Σ_g [ (log2(c_t(b)+1) − log2(N_t+B)) −
    * (log2(c_all(b)+1) − log2(N_all+B)) ] — each log its own term so
    * both engines run the identical floating expression tree. THE
    * parity-critical expression of the DSIR family: the batch
    * operators, the streaming sink and the DuckDB mirrors all compute
    * exactly this shape, so it exists ONCE. Returns
    * (doc_id, lang, n_grams, s) with s unrounded.
    */
  private def scoreAgainstModel(grams: DataFrame, model: DataFrame,
      buckets: Int): DataFrame = {
    val b = lit(buckets.toLong)
    val totals = model.agg(sum(col("c_all")).as("n_all"),
      sum(col("c_t")).as("n_t"))
    val lr = model.crossJoin(broadcast(totals)).select(col("bucket"),
      ((log(2.0, (col("c_t") + lit(1L)).cast(DoubleType)) -
        log(2.0, (col("n_t") + b).cast(DoubleType))) -
       (log(2.0, (col("c_all") + lit(1L)).cast(DoubleType)) -
        log(2.0, (col("n_all") + b).cast(DoubleType)))).as("lr"))
    grams.join(broadcast(lr), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"), sum(col("lr")).as("s"))
  }

  /** Per-doc raw (unrounded) DSIR log2 importance weight: target
    * distribution = `targetLang` docs, raw distribution = the whole
    * corpus. Columns: (doc_id, lang, n_grams, s).
    */
  private def dsirScored(docs: DataFrame, buckets: Int,
      targetLang: String): DataFrame = {
    val grams = hashedGrams(docs, buckets)
    // the trained artifact: ≤`buckets` rows of two counters, pinned as
    // literals (materializeSmall — the adjudicated build-once/query-many
    // control-plane collect) so the totals/log-ratio derivations don't
    // re-run the gram-explode scan a second and third time
    val model = graft.similarity.Similarity.materializeSmall(
      bucketCounts(grams, targetLang))
    scoreAgainstModel(grams, model, buckets)
  }

  /** DSIR importance weights (Data Selection via Importance Resampling,
    * Xie et al. 2023, reduced to its exactly-computable core): score
    * every document by how much more likely its hashed n-gram profile is
    * under the TARGET distribution (here the `targetLang` slice — the
    * "quality corpus" stand-in) than under the raw corpus. High weight =
    * target-like, the doc importance resampling upsamples.
    *
    * Scale shape — the reason DSIR beats vocabulary-keyed scoring at
    * 100 TB: the model is ≤`buckets` rows regardless of corpus size
    * (one bounded-key partial agg builds it, Zipf skew collapses into
    * the bounded bucket space), and scoring is a BROADCAST join of gram
    * instances against that tiny model + one per-doc partial agg. No
    * vocabulary-sized shuffle anywhere; both passes are scans.
    */
  def txDsirWeights(s: SparkSession, dir: String): DataFrame =
    txDsirWeightsDf(Tables.documents(s, dir))

  def txDsirWeightsDf(docs: DataFrame, buckets: Int = 1024,
      targetLang: String = "en"): DataFrame =
    dsirScored(docs, buckets, targetLang)
      .select(col("doc_id"), col("lang"), col("n_grams"),
        round(col("s"), 6).as("log2_weight"),
        round(col("s") / col("n_grams"), 6).as("bits_per_gram"))
      .orderBy(col("doc_id"))

  /** DSIR resampling: keep ⌈n/5⌉ docs by Gumbel-top-k over the
    * importance weights — the without-replacement sample in which doc d
    * survives with probability ∝ w(d), made exactly reproducible by
    * deriving the Gumbel noise from hash60("dsir-g|" + doc_id) instead
    * of an RNG (any engine, any partitioning, any run selects the SAME
    * sample — the repo-wide content-addressed-randomness discipline,
    * same as the sampling family). Selection key = ln w(d) + Gumbel,
    * rounded at 6 dp with doc_id tiebreak so the ranking is
    * engine-order-free; the top-k itself is TakeOrderedAndProject —
    * per-partition heaps, no global sort.
    */
  def txDsirSelect(s: SparkSession, dir: String): DataFrame =
    txDsirSelectDf(Tables.documents(s, dir))

  def txDsirSelectDf(docs: DataFrame, buckets: Int = 1024,
      targetLang: String = "en"): DataFrame = {
    // u ∈ (0, 1) EXACTLY on both engines: h mod 2^52 keeps x and x+0.5
    // exactly representable and u strictly below 1 (an unmasked 60-bit
    // h within 64 of 2^60 rounds u to exactly 1.0, where Spark's log
    // yields NULL but DuckDB's ln yields ±inf — a cross-engine sample
    // divergence; review r14)
    val u = (pmod(hash60(concat(lit("dsir-g|"), col("doc_id").cast(StringType))),
      lit(4503599627370496L)).cast(DoubleType) + lit(0.5)) /
      lit(4.503599627370496e15)
    val sel = dsirScored(docs, buckets, targetLang)
      .withColumn("sel_key",
        round(col("s") * lit(0.6931471805599453) + -log(-log(u)), 6))
      .persist()
    // k = ⌈scored/5⌉. The scored relation IS the ≥1-token doc set (every
    // non-empty doc has ≥1 unigram, empty docs produce no grams), so the
    // count that sizes k comes off the persisted scores — the count()
    // doubles as the multi-consumer materialization barrier (r13 rule) —
    // instead of a second full-corpus tokenize scan (r14 verdict #5).
    val n = sel.count()
    val k = ((n + 4L) / 5L).toInt
    sel.orderBy(col("sel_key").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("lang"), col("n_grams"),
        round(col("s"), 6).as("log2_weight"), col("sel_key"))
      .orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity quality bucketing (Wenzek et al. 2020):
    * score every document by its cross-entropy under a language model
    * trained on the quality-reference corpus (here the `targetLang`
    * slice, the stand-in CCNet's Wikipedia LM plays), then split the
    * corpus into the head / middle / tail thirds CCNet feeds to
    * downstream selection — head = most reference-like. The LM is the
    * DSIR family's hashed unigram+bigram bucket model (≤`buckets`
    * add-one-smoothed counters), so H(d) = −(1/n)·Σ_g [log2(c_t(b)+1)
    * − log2(N_t+B)] — each log2 its own term, the same float-tree
    * discipline as the DSIR rows, so DuckDB replays it exactly.
    *
    * The tertile split is CUT-BASED, not rank-based: per-doc scores
    * are quantized into ≤1001 bins (bits×50, clamped), the bin
    * histogram — control-plane by construction — is cumulated, and the
    * first bins reaching 1/3 and 2/3 of the corpus mass become literal
    * thresholds every row compares against. No global sort, no
    * data-plane window: at 100 TB the split costs one bounded-key agg
    * + one broadcast of two scalars, the same shape CCNet's own fixed
    * perplexity thresholds have in production.
    */
  def txCcnetPpl(s: SparkSession, dir: String): DataFrame =
    txCcnetPplDf(Tables.documents(s, dir))

  /** The shared CCNet scored relation: per-doc cross-entropy under the
    * targetLang hashed-bucket LM, rounded bits/gram, quantized bin.
    * Returned PERSISTED with the count() barrier already taken (plain
    * persist + count, the shardByOrder discipline) — both bucketing
    * variants consume it twice (histogram + final projection).
    */
  private def ccnetScored(docs: DataFrame, buckets: Int,
      targetLang: String): (DataFrame, Long) = {
    val b = lit(buckets.toLong)
    val grams = hashedGrams(docs, buckets)
    val model = graft.similarity.Similarity.materializeSmall(
      bucketCounts(grams, targetLang))
    val nT = model.agg(sum(col("c_t")).as("n_t"))
    // per-bucket −log2 p_target, derived over the ≤`buckets`-row model
    val lp = model.crossJoin(broadcast(nT)).select(col("bucket"),
      (log(2.0, (col("c_t") + lit(1L)).cast(DoubleType)) -
        log(2.0, (col("n_t") + b).cast(DoubleType))).as("lp"))
    val scored = grams.join(broadcast(lp), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_grams"), sum(-col("lp")).as("h"))
      .withColumn("bits_per_gram", round(col("h") / col("n_grams"), 6))
      .withColumn("bin",
        least(greatest(floor(col("bits_per_gram") * lit(50.0)), lit(0.0)),
          lit(1000.0)).cast(LongType))
      .persist()
    (scored, scored.count()) // control-plane: one scalar
  }

  private def ccnetBucketed(scored: DataFrame, cuts: DataFrame,
      joinKeys: Seq[String]): DataFrame =
    (if (joinKeys.isEmpty) scored.crossJoin(broadcast(cuts))
     else scored.join(broadcast(cuts), joinKeys))
      .select(col("doc_id"), col("lang"), col("n_grams"),
        col("bits_per_gram"),
        when(col("bin") <= col("c1"), "head")
          .when(col("bin") <= col("c2"), "middle")
          .otherwise("tail").as("ppl_bucket"))
      .orderBy(col("doc_id"))

  def txCcnetPplDf(docs: DataFrame, buckets: Int = 1024,
      targetLang: String = "en"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (scored, nDocs) = ccnetScored(docs, buckets, targetLang)
    // single-partition window is FINE here: hist is ≤1001 rows
    val wCum = Window.orderBy(col("bin"))
    val cum = scored.groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
    val cuts = cum.agg(
      min(when(col("cum") * 3 >= lit(nDocs), col("bin"))).as("c1"),
      min(when(col("cum") * 3 >= lit(2L * nDocs), col("bin"))).as("c2"))
    ccnetBucketed(scored, cuts, Nil)
  }

  /** CCNet's CUT geometry: head/middle/tail computed PER LANGUAGE — a
    * global cut would put every hard language wholly in the tail.
    * Honest delta vs Wenzek et al. (ADVICE r15): CCNet proper trains
    * one LM per language and scores each language under its own;
    * here every language is scored under the single `targetLang`
    * hashed-bucket LM and only the tertile CUTS are per-language.
    * Same scored relation, same quantized-histogram cut
    * mechanism, but the histogram keys on (lang, bin) — still
    * control-plane (≤ langs×1001 rows; the window partitions by lang)
    * — and the per-lang (c1, c2) cut table broadcasts as an equi-join
    * on lang. Per-language totals derive in-plan: no driver-side
    * count at all in this variant.
    */
  def txCcnetPplByLang(s: SparkSession, dir: String): DataFrame =
    txCcnetPplByLangDf(Tables.documents(s, dir))

  def txCcnetPplByLangDf(docs: DataFrame, buckets: Int = 1024,
      targetLang: String = "en"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (scored, _) = ccnetScored(docs, buckets, targetLang)
    val hist = scored.groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    // lang-partitioned window over the ≤langs×1001-row histogram
    val wCum = Window.partitionBy(col("lang")).orderBy(col("bin"))
    val cum = hist.withColumn("cum", sum(col("cnt")).over(wCum))
    val tot = hist.groupBy(col("lang")).agg(sum(col("cnt")).as("n_docs"))
    val cuts = cum.join(tot, Seq("lang")).groupBy(col("lang")).agg(
      min(when(col("cum") * 3 >= col("n_docs"), col("bin"))).as("c1"),
      min(when(col("cum") * 3 >= col("n_docs") * 2, col("bin"))).as("c2"))
    ccnetBucketed(scored, cuts, Seq("lang"))
  }

  /** Hashed multinomial Naive-Bayes language classifier, trained on the
    * deterministic 90% train split and scored on the 5% test split (the
    * txSplit hash-buckets, salt "epoch0") — the model-based counterpart
    * of the tx_langid heuristic, certified end-to-end as a confusion
    * matrix. Score(d, l) = log2 P(l) + Σ_g log2(c_{l,b(g)}+1) −
    * n_grams(d)·log2(N_l+B): the add-one-smoothed class-conditional,
    * with the zero-count grams contributing log2(1)=0 so the hit join
    * can stay an inner join and missing (bucket, lang) cells cost
    * nothing. Argmax at 6 dp with lang-asc tiebreak.
    *
    * Scale shape: the model is ≤ langs×buckets rows built by one
    * bounded-key partial agg; scoring broadcasts it against the test
    * split's gram instances; the per-doc argmax is a per-doc window
    * (partitioned by doc_id — no global sort). On the synthetic fixture
    * the five langs share one vocabulary, so the matrix measures priors
    * + bucket noise — the certified artifact is the mechanics, which is
    * exactly what transfers to a real corpus.
    */
  def txNbLangid(s: SparkSession, dir: String): DataFrame =
    txNbLangidDf(Tables.documents(s, dir))

  def txNbLangidDf(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    val b = lit(buckets.toLong)
    val tagged = docs.withColumn("sb", splitBucket("epoch0"))
    val train = tagged.filter(col("sb") < 90)
    val evalDs = tagged.filter(col("sb") >= 95)
    // trained artifacts as literals (≤ langs×buckets counter rows + the
    // ≤langs prior rows): every derivation below is then local instead
    // of re-running the train-side gram explode / doc scan per use
    val model = graft.similarity.Similarity.materializeSmall(
      hashedGrams(train, buckets)
        .groupBy(col("lang").as("cand"), col("bucket"))
        .agg(count(lit(1)).as("c")))
    val langGram = model.groupBy(col("cand")).agg(sum(col("c")).as("n_l"))
    val priors = graft.similarity.Similarity.materializeSmall(
      train.groupBy(col("lang").as("cand")).agg(count(lit(1)).as("d_l")))
    val dTot = priors.agg(sum(col("d_l")).as("d_all"))
    val langStats = langGram.join(priors, Seq("cand"))
      .crossJoin(broadcast(dTot))
      .select(col("cand"),
        (log(2.0, col("d_l").cast(DoubleType)) -
          log(2.0, col("d_all").cast(DoubleType))).as("prior"),
        log(2.0, (col("n_l") + b).cast(DoubleType)).as("log2_denom"))
    val hits = hashedGrams(evalDs, buckets)
      .join(broadcast(model), Seq("bucket"))
      .groupBy(col("doc_id"), col("cand"))
      .agg(sum(log(2.0, (col("c") + lit(1L)).cast(DoubleType))).as("sh"))
    // n_grams = T + max(T−1, 0) is pure arithmetic on the token count —
    // never re-run the MD5 gram kernel just to measure its length
    // (review r14: that was a full redundant hash pass over the eval
    // split); same expression as the oracle's CASE
    val toks = tokens(col("text"))
    val evalDocs = evalDs.select(col("doc_id"),
      col("lang").as("true_lang"),
      (size(toks) + greatest(size(toks) - lit(1), lit(0)))
        .cast(LongType).as("n_grams"))
    val scores = evalDocs.crossJoin(broadcast(langStats))
      .join(hits, Seq("doc_id", "cand"), "left")
      .select(col("doc_id"), col("true_lang"), col("cand"),
        round(col("prior") + coalesce(col("sh"), lit(0.0)) -
          col("n_grams").cast(DoubleType) * col("log2_denom"), 6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("cand"))
    scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("true_lang"), col("cand"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("true_lang"), col("cand").as("pred_lang"), col("n_docs"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  // ── incremental DSIR (the bucket model through the durable sink) ──

  /** Bucket-count segments written before `before` (plus compact folds)
    * — the model-so-far side of a DSIR delivery. Mirrors the exact-runs
    * sink's segment discipline: per-batch directories keyed by batch id
    * so replays overwrite their own segment and never double-count.
    */
  private def bucketSegmentsBefore(s: SparkSession, indexDir: String,
      before: Long): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(indexDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val segs =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg_"))
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith("seg_compact_") ||
            n.stripPrefix("seg_").toLong < before
        }
        .map(_.getPath.toString)
    if (segs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("src", StringType, nullable = false),
          StructField("bucket", LongType, nullable = false),
          StructField("c_all", LongType), StructField("c_t", LongType))))
    else Reads.parquet(s, segs: _*)
  }

  /** One durable DSIR delivery: the batch's bucket-count DELTA lands as
    * `indexDir/seg_<id>` (≤`buckets` rows — the index grows by one tiny
    * counter segment per batch), then the batch docs are scored against
    * the MODEL SO FAR (fold of all segments ≤ this one) and the scores
    * land as `outDir/seg_<id>`. Scoring-at-arrival is the
    * streaming-DSIR semantics: a doc's weight reflects the corpus known
    * when it arrived, so early deliveries are never re-scored (their
    * text is never re-read — same contract as dedupIncremental).
    *
    * Crash idempotence: counter rows carry their source segment name
    * (`src`) and every fold dedups on (src, bucket) BEFORE summing, so
    * counts stay sum-mergeable yet duplicate-row-INERT — a replayed
    * batch whose earlier attempt was already folded into a compact
    * segment contributes its (identical, deterministic) rows once, the
    * same argument that protects the exact-runs gram index. That is
    * what lets this index reuse the generic `Dedup.compactSegments`
    * (keys src+bucket) instead of needing a crash-unsafe sum-rewrite.
    */
  def dsirCommit(batch: DataFrame, outDir: String, indexDir: String,
      batchId: Long, buckets: Int = 1024, targetLang: String = "en"): Unit = {
    val s = batch.sparkSession
    val grams = hashedGrams(batch, buckets).persist()
    try {
      bucketCounts(grams, targetLang)
        .select(lit(s"seg_$batchId").as("src"), col("bucket"),
          col("c_all"), col("c_t"))
        .write.mode("overwrite").parquet(s"$indexDir/seg_$batchId")
      // fold INCLUDING the delta just written: dedup on (src, bucket)
      // first (replay/compaction inertness), then sum — exact integer
      // counts, so the merged model is independent of delivery slicing
      val model = graft.similarity.Similarity.materializeSmall(
        bucketSegmentsBefore(s, indexDir, batchId + 1)
          .dropDuplicates("src", "bucket")
          .groupBy(col("bucket"))
          .agg(sum(col("c_all")).as("c_all"), sum(col("c_t")).as("c_t")))
      // the shared scorer: streamed scores equal the batch operator's
      // bit-for-bit BECAUSE this is the same expression object
      scoreAgainstModel(grams, model, buckets)
        .select(lit(batchId + 1).as("delivery"), col("doc_id"), col("lang"),
          col("n_grams"), round(col("s"), 6).as("log2_weight"),
          round(col("s") / col("n_grams"), 6).as("bits_per_gram"))
        .write.mode("overwrite").parquet(s"$outDir/seg_$batchId")
    } finally grams.unpersist()
  }

  /** The DSIR scorer as a STREAMING sink: each micro-batch of
    * (doc_id, lang, text) runs one `dsirCommit`. Read the accumulated
    * scores back with a recursive parquet read of `outDir`.
    *
    * Compaction parity with the other durable sinks: `compactEvery` /
    * `maxSegments` fold the counter segments via the generic
    * `Dedup.compactSegments` with keys (src, bucket) — safe because the
    * fold-before-sum dedups on the same keys (see `dsirCommit`), so a
    * compact segment coexisting with a not-yet-deleted input never
    * double-counts.
    */
  def startDsirSink(docs: DataFrame, outDir: String, indexDir: String,
      checkpointDir: String, buckets: Int = 1024, targetLang: String = "en",
      compactEvery: Int = 0, maxSegments: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dsirCommit(batch, outDir, indexDir, batchId, buckets, targetLang)
        graft.dedup.Dedup.maybeCompact(batch.sparkSession, indexDir, batchId,
          compactEvery, maxSegments, dedupKeys = Seq("src", "bucket"))
        ()
      }
      .start()

  /** Registered two-delivery exercise of the durable incremental DSIR
    * pipeline: the corpus split by doc_id parity arrives as two
    * micro-batches through a real file source and `startDsirSink`; the
    * accumulated score segments are read back and hash-checked against
    * a relational two-step oracle (delivery 1: evens scored under the
    * evens-only model; delivery 2: odds scored under the full-corpus
    * model). A hash match certifies the durable path — per-batch
    * counter segments, fold, score-at-arrival — computes exactly the
    * declarative two-step semantics; DsirSpec additionally pins each
    * delivery against the BATCH operator on the corresponding
    * sub-corpus (the fold is exact, so they must agree bit-for-bit).
    */
  def txDsirIncremental(s: SparkSession, dir: String): DataFrame = {
    val root = graft.store.StoreRoot.scratchRoot("dsir_incr")
    val (outDir, idxDir, ckpt) = (s"$root/out", s"$root/idx", s"$root/ckpt")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    // manifest-gated deliveries (graft.streaming.ManifestFeed): each
    // delivery is TWO part files made atomically visible by its
    // single-file manifest — the mechanism that replaced the r14
    // coalesce(1)-per-delivery convention (a multi-file parquet append
    // is not atomically visible to the running query's poll, which
    // could split a delivery across micro-batches and shift every
    // batchId-derived delivery stamp).
    import graft.streaming.ManifestFeed
    ManifestFeed.deliver(docs.filter(col("doc_id") % 2 === 0), root, 0L, 2)
    val q = ManifestFeed.start(s, root, docs.schema, ckpt) { (batch, id) =>
      dsirCommit(batch, outDir, idxDir, id)
    }
    try {
      q.processAllAvailable()
      ManifestFeed.deliver(docs.filter(col("doc_id") % 2 === 1), root, 1L, 2)
      q.processAllAvailable()
    } finally q.stop()
    Reads.parquet(s, Map("recursiveFileLookup" -> "true"), outDir)
      .orderBy(col("delivery"), col("doc_id"))
  }
}
