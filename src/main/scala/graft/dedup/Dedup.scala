package graft.dedup

import graft.{Reads, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for the training-data pipeline surface:
  * exact, n-gram Jaccard, MinHash+LSH, SimHash banding.
  *
  * Scale design: nothing here ever materializes the O(n²) pair space.
  *  - exact dedup is a hash groupBy (one shuffle on the content hash);
  *  - Jaccard runs through an inverted shingle→doc index (shuffle on
  *    shingle), so only docs sharing a shingle ever meet — with a
  *    df-style frequency cap this is the standard way to keep the
  *    hottest shingles from exploding at corpus scale;
  *  - MinHash-LSH and SimHash banding shuffle on (band, key) buckets,
  *    candidates = bucket-mates only, then verify exactly.
  */
object Dedup {

  /** The 2-slot minhash band key rendered as a portable string — the
    * value is identical to the previous
    * `concat_ws("|", transform(slice(sig, band*2+1, 2), cast))` form
    * (same two slots, same casts, same separator; the DuckDB oracles
    * are unchanged), but element_at is lambda-free: higher-order
    * functions are CodegenFallback, so the banding projection —
    * executed once per (row × 8 bands) across four query families —
    * now stays fully code-generated instead of round-tripping through
    * the interpreted lambda per element (guide §4).
    */
  private def bandKey2(sig: Column, band: Column): Column =
    concat_ws("|",
      element_at(sig, band * 2 + 1).cast(StringType),
      element_at(sig, band * 2 + 2).cast(StringType))

  /** Exact dedup report: hash-groupBy on full content (L5 analog for
    * documents). One row: totals + docs that are byte-identical copies.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("c"))
      .agg(
        sum(col("c")).cast(LongType).as("total_docs"),
        count(lit(1)).as("unique_texts"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).cast(LongType)
          .as("docs_in_dup_groups"))

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.5).
    *
    * Shape at scale: candidate pairs come from a self-join of the
    * inverted shingle→doc index, so only docs sharing a shingle ever
    * meet; shingles whose document frequency exceeds `maxDf` are dropped
    * from the index FIRST (the standard stop-shingle cap — a phrase
    * shared by 10% of the corpus would otherwise produce a quadratic
    * candidate blowup). Survivor pairs are then verified with the EXACT
    * Jaccard from the full per-doc shingle arrays, so the cap can only
    * lose recall on pairs whose overlap is entirely stop-shingles — any
    * emitted similarity is exact. Every join is a plain shuffle join;
    * nothing per-doc is broadcast (a per-doc relation grows with the
    * corpus and would OOM the driver at scale).
    */
  def dedupNgramJaccard(s: SparkSession, dir: String, maxDf: Int = 10000): DataFrame = {
    // doc → full shingle set (persisted: feeds the index and both sides
    // of the verify join)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .persist()
    val idx = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    // document-frequency cap: drop shingles present in > maxDf docs
    val rare = idx.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("s"))
    val pruned = idx.join(rare, "s")
    val cand = pruned.as("a").join(pruned.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val result = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    docs.unpersist()
    result
  }

  /** Asymmetric CONTAINMENT detection — the case Jaccard is blind to:
    * a short document wholly embedded in a longer one has
    * |∩|/|∪| ≈ |A|/|B| (small), but containment c(A→B) = |∩|/|A| ≈ 1.
    * This is how quote-of-a-document, excerpt and superset duplication
    * get caught in corpus dedup. Candidate generation reuses the
    * inverted shingle index with the same stop-shingle df cap; each
    * unordered candidate pair then yields up to two DIRECTED rows
    * (contained → container) at c ≥ minC, with the exact containment
    * from full shingle sets.
    */
  def dedupContainment(s: SparkSession, dir: String, maxDf: Int = 10000,
      minC: Double = 0.8): DataFrame = {
    val (directed, cleanup) = containmentDirected(s, dir, maxDf)
    val result = directed.filter(col("containment") >= minC)
      .select(col("contained_id"), col("container_id"),
        round(col("containment"), 6).as("containment"))
      .orderBy(col("contained_id"), col("container_id"))
      .localCheckpoint(true)
    cleanup()
    result
  }

  /** Directed containment rows with both shingle-set sizes riding
    * through — shared by the report (`dedupContainment`) and the apply
    * (`dedupApplyContainment`). Returns the (lazy) relation plus a
    * cleanup thunk releasing the persisted shingle sets AFTER the
    * caller has materialized.
    */
  private def containmentDirected(s: SparkSession, dir: String,
      maxDf: Int): (DataFrame, () => Unit) =
    containmentDirectedDf(Tables.documents(s, dir), maxDf)

  /** Df-shaped form of the directed-containment relation, so synthetic
    * corpora (fuzz differentials) run the identical pipeline the
    * registered queries do.
    */
  def containmentDirectedDf(documents: DataFrame,
      maxDf: Int): (DataFrame, () => Unit) = {
    val docs = documents
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .persist()
    val idx = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val rare = idx.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("s"))
    val pruned = idx.join(rare, "s")
    val cand = pruned.as("a").join(pruned.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val withSets = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("n_common"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"))
    val directed = withSets.select(col("doc_a").as("contained_id"),
        col("doc_b").as("container_id"),
        (col("n_common").cast(DoubleType) / col("n_a")).as("containment"),
        col("n_a").as("n_contained"), col("n_b").as("n_container"))
      .unionByName(withSets.select(col("doc_b").as("contained_id"),
        col("doc_a").as("container_id"),
        (col("n_common").cast(DoubleType) / col("n_b")).as("containment"),
        col("n_b").as("n_contained"), col("n_a").as("n_container")))
    (directed, () => { docs.unpersist(); () })
  }

  /** The containment APPLY — excerpt removal with KEEP-THE-LARGER
    * semantics: drop every document substantially contained (≥ `minC`)
    * in a document with MORE shingles (ties break to the lower
    * container id). The undirected cluster-apply is the wrong tool
    * here: min-id canonicalization can keep the excerpt and drop the
    * container, which inverts what containment means. The rule is
    * non-recursive by contract — a doc contained in a larger one is
    * redundant regardless of that container's own fate, and every
    * containment chain's maximal element survives. One directed-pair
    * relation (the same bucketed index as the report) and one anti-join;
    * the corpus streams through.
    */
  def dedupApplyContainment(s: SparkSession, dir: String,
      maxDf: Int = 10000, minC: Double = 0.8): DataFrame = {
    val (directed, cleanup) = containmentDirected(s, dir, maxDf)
    val drop = directed
      .filter(col("containment") >= minC &&
        (col("n_container") > col("n_contained") ||
          (col("n_container") === col("n_contained") &&
            col("container_id") < col("contained_id"))))
      .select(col("contained_id").as("doc_id")).distinct()
      .localCheckpoint(true)
    cleanup()
    Tables.documents(s, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** MinHash+LSH near-dup detection: 16-function signature per doc
    * (native codegen'd expression, one text pass), bucketed as 8 bands ×
    * 2 rows — P(candidate | jaccard j) ≈ 1−(1−j²)⁸, so random pairs
    * (j ≈ 0.006 here) almost never collide while j ≥ 0.8 pairs are
    * caught with ≥ 1−3·10⁻⁴ probability. Bucket-mates are then verified
    * with the exact Jaccard. Output = verified pairs (j ≥ 0.5) with both
    * the MinHash estimate and the exact similarity.
    */
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    dedupMinhashLshDf(Tables.documents(s, dir))

  def dedupMinhashLshDf(documents: DataFrame,
      hotCap: Int = BandGuard.HotBandCap): DataFrame = {
    // exact pre-collapse (r17 verdict #1): one representative per
    // byte-identical text BEFORE any signature/band work — k copies of
    // one page never enter the band space, so the bucket join stays
    // sub-quadratic on duplicate-heavy corpora. Identical text means
    // identical shingle set, signature, and similarity-to-anything, so
    // expanding verified pairs back through the text groups reproduces
    // the naive doc-level pair relation EXACTLY (in-group pairs are
    // est = jaccard = 1.0 by definition).
    // group key is md5(text), never the raw text — the collapse
    // shuffles 16-byte digests, not document bodies
    val grp = documents.select(col("doc_id"), md5(col("text")).as("th"))
    val repRows = grp.groupBy(col("th"))
      .agg(min(col("doc_id")).as("doc_id"))
    // persisted: the rep shingle+signature relation feeds the bucket
    // explode AND both sides of the candidate join — without it the
    // text-hashing scan re-executes per use (3× the hash work)
    val docs = documents
      .join(repRows.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .select(col("doc_id"), col("sh"), minhashSig(col("sh"), 16).as("sig"))
      .persist()
    // 8 bands of 2 signature slots; the band key is the slot tuple
    // rendered as a string (portable join key across engines)
    val bands = docs
      .select(col("doc_id"), explode(sequence(lit(0), lit(7))).as("band"), col("sig"))
      .withColumn("band_key", bandKey2(col("sig"), col("band")))
      .select(col("doc_id"), col("band"), col("band_key"))
    // hot-band occupancy cap (mirrored in the DuckDB oracle — the
    // maxDf/stop-shingle discipline applied to the band space): a band
    // key shared by > hotCap DISTINCT texts is a template cluster whose
    // bucket join would cost Θ(occ²); dropping it loses recall only for
    // pairs whose EVERY shared band is hot — P(some other band | j) =
    // 1−(1−j²)⁷ ≥ 0.9992 at j = 0.8. Dropped keys are counted by
    // dedup_band_stats (`hot_bands`), the loud report.
    val occOk = bands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") <= hotCap)
      .select(col("band"), col("band_key"))
    val bandsOk = bands.join(occOk, Seq("band", "band_key"))
    val cand = bandsOk.as("x").join(bandsOk.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // verify candidates with the full signature estimate + exact jaccard
    val withSets = cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("sig").as("sig_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("sig").as("sig_b")), "doc_b")
    val verified = withSets.select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) =>
          a === b), x => x)).cast(DoubleType) / 16).as("est_jaccard"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    // expand verified rep pairs through both text groups (copies
    // inherit their representative's exact values), then add the
    // in-group pairs: byte-identical texts that shingle at all are
    // est = jaccard = 1.0; shingle-less docs emit no signature and
    // never pair (the signBand contract)
    val members = grp
      .join(repRows.select(col("th"), col("doc_id").as("rep")), Seq("th"))
      .select(col("doc_id"), col("rep"))
    val crossPairs = verified.as("v")
      .join(members.as("ma"), col("v.doc_a") === col("ma.rep"))
      .join(members.as("mb"), col("v.doc_b") === col("mb.rep"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b"),
        col("v.est_jaccard"), col("v.jaccard"))
    val shingled = docs.filter(size(col("sh")) > 0)
      .select(col("doc_id").as("rep"))
    val inGroup = members.as("ia").join(members.as("ib"),
        col("ia.rep") === col("ib.rep") &&
          col("ia.doc_id") < col("ib.doc_id"))
      .select(col("ia.doc_id").as("doc_a"), col("ib.doc_id").as("doc_b"),
        col("ia.rep").as("rep"))
      .join(shingled, Seq("rep"), "left_semi")
      .select(col("doc_a"), col("doc_b"),
        lit(1.0).as("est_jaccard"), lit(1.0).as("jaccard"))
    val result = crossPairs.unionByName(inGroup)
      .orderBy(col("doc_a"), col("doc_b"))
      // eagerly materialize the (small) verified-pair relation so the
      // cached signature blocks can be released right away instead of
      // living for the rest of the session
      .localCheckpoint(true)
    docs.unpersist()
    result
  }

  /** Instrumentation for `ScaleCurve` and the candidate-growth spec —
    * the [[BandGuard.repCandidateCount]] twin for the minhash family:
    * the number of DISTINCT rep-level candidate pairs the capped band
    * join generates BEFORE Jaccard verification. k byte-identical
    * copies of one page contribute 0 (one representative); the
    * pre-guard join contributed ~k²/2 per band. Sub-quadratic growth
    * of this count across corpus sizes is the guard's regression
    * tripwire.
    */
  def minhashCandidateCount(documents: DataFrame,
      hotCap: Int = BandGuard.HotBandCap): Long = {
    val reps = documents.select(col("doc_id"), md5(col("text")).as("th"))
      .groupBy(col("th")).agg(min(col("doc_id")).as("doc_id"))
    val bands = signBand(
        documents.join(reps.select(col("doc_id")), Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("band"), col("band_key"))
    val occOk = bands.groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("occ")).filter(col("occ") <= hotCap)
      .select(col("band"), col("band_key"))
    val bandsOk = bands.join(occOk, Seq("band", "band_key"))
    bandsOk.as("x").join(bandsOk.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id"))
      .distinct()
      .count()
  }

  /** Per-doc MinHash band rows for the INCREMENTAL index:
    * (doc_id, sig, band, band_key) — 8 bands × 2 signature slots, the
    * same family `dedupMinhashLshDf` buckets with.
    *
    * Docs too short to produce a single 3-shingle emit NO rows: the
    * MinHash of an empty set is the hash functions' identity (every
    * slot Long.MaxValue), so two unrelated short docs would otherwise
    * collide in every band with estimate 1.0 and dedup against each
    * other. No signature ⇒ never a candidate ⇒ automatic survivor —
    * the same semantics as the relational oracle, whose shingle CTE
    * emits no rows for such docs.
    */
  private def signBand(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), minhashSig(col("sh"), 16).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(sequence(lit(0), lit(7))).as("band"))
      .withColumn("band_key", bandKey2(col("sig"), col("band")))

  /** Signature-estimate similarity: fraction of the 16 MinHash slots
    * agreeing — a multiple of 1/16, so τ = 0.5 compares exactly.
    */
  private def sigEst(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), x => x))
      .cast(DoubleType) / 16

  /** The `signBand` row schema — shared by `emptyIndex` and the
    * durable segment reader (an explicit schema means an existing but
    * still-empty index directory reads as zero rows instead of dying
    * in schema inference).
    */
  val indexSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sig", ArrayType(LongType, containsNull = false)),
    StructField("band", IntegerType),
    StructField("band_key", StringType)))

  /** Empty signature index with the `signBand` schema — the seed of an
    * incremental pipeline (first delivery dedups only against itself).
    */
  def emptyIndex(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      indexSchema)

  /** Durable signature index = the UNION of append-only per-batch
    * segment directories under `indexDir` (see `incrementalCommit`).
    * Falls back to the empty index ONLY when the directory genuinely
    * does not exist yet (first delivery); any other read failure —
    * corruption, permissions, a half-written file — propagates, because
    * silently substituting an empty index would re-admit every
    * cross-delivery duplicate with no error surfaced.
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) emptyIndex(spark)
    else spark.read.schema(indexSchema)
      .option("recursiveFileLookup", "true").parquet(indexDir)
  }

  /** Read every per-batch segment under a sink directory (survivor
    * corpus or signature index) as one DataFrame.
    */
  def readSegments(spark: SparkSession, dir: String): DataFrame =
    Reads.parquet(spark, Map("recursiveFileLookup" -> "true"), dir)

  /** COMPACTION for the append-only segment tree: fold every existing
    * segment directory into one, then remove the inputs. Run it
    * periodically (or via `startIncrementalSink(compactEvery = n)`) so
    * a long-lived sink's file-listing cost stays bounded — thousands
    * of deliveries would otherwise mean thousands of small directories,
    * the classic small-files tax.
    *
    * Crash-safe WITHOUT coordination, because duplicate index rows are
    * semantically inert: every consumer of these rows either takes
    * DISTINCT candidates (`incrementalStepDelta`) or keys on
    * (doc_id, band) — so the only bad state a crash can leave
    * (compacted segment written, some inputs not yet deleted ⇒ rows
    * present twice) changes no dedup decision, and the next compaction
    * folds the duplicates away (`dropDuplicates(dedupKeys)`). The
    * compacted segment's name is derived from the input segment list,
    * so a replayed compaction overwrites its own previous attempt.
    * Inputs are listed BEFORE the write and only those are deleted —
    * a delivery landing concurrently is untouched.
    */
  def compactSegments(spark: SparkSession, dir: String,
      dedupKeys: Seq[String] = Seq("doc_id", "band")): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val inputs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName != "_spark_metadata")
    if (inputs.length <= 1) return
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(inputs.map(_.getName).sorted.mkString(",").getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val target = s"$dir/seg_compact_$tag"
    Reads.parquet(spark, Map("recursiveFileLookup" -> "true"),
        inputs.map(_.toString): _*)
      .dropDuplicates(dedupKeys)
      .write.mode("overwrite").parquet(target)
    inputs.foreach(p => fs.delete(p, true))
  }

  /** One INCREMENTAL dedup step — how a 100 TB pipeline actually runs
    * dedup: each delivery is checked against the accumulated corpus via
    * a SIGNATURE index, never by re-reading stored text. The index rows
    * are `signBand` tuples of previously-accepted docs; a batch doc is
    * dropped iff (a) a smaller-id batch doc is a near-dup (signature
    * estimate ≥ τ among bucket-mates — within-delivery dedup), or (b)
    * any indexed doc is (cross-delivery dedup). Returns (survivors,
    * updated index). Decisions use the signature estimate alone so the
    * per-delivery cost is O(batch × bucket-mates) — text of the
    * accumulated corpus is never touched, the only incremental shape
    * that survives at scale. Batch-side bands are the small join side;
    * AQE broadcasts them against a large index.
    */
  def incrementalStep(batch: DataFrame, index: DataFrame,
      tau: Double = 0.5): (DataFrame, DataFrame) = {
    val (survivors, delta) = incrementalStepDelta(batch, index, tau)
    (survivors, index.unionByName(delta))
  }

  /** `incrementalStep` exposing the index DELTA instead of the updated
    * index: (survivors, the survivors' own band rows). The delta is all
    * a durable pipeline ever needs to WRITE — O(batch) rows per
    * delivery, where rewriting the unioned index would be O(corpus),
    * turning the per-delivery flat-cost property the step earns into a
    * linearly-growing write. The cross-delivery join excludes same-
    * doc_id matches so a replayed batch whose own delta segment already
    * landed (crash after index write, before checkpoint commit) does
    * not dedup against ITSELF — the property that makes
    * `incrementalCommit` idempotent under replay.
    */
  def incrementalStepDelta(batch: DataFrame, index: DataFrame,
      tau: Double = 0.5): (DataFrame, DataFrame) =
    bandedStepDelta(batch, signBand(batch), index, "doc_id", "sig",
      (a, b) => sigEst(a, b) >= tau)

  /** The shared banded incremental-step skeleton — ONE implementation
    * for both the text (MinHash signature) and image (phash
    * fingerprint) detectors (review r16: the two were hand-copied
    * structural twins, so every fix to the shared invariants — the
    * same-id replay exclusion, the survivors-only delta, the
    * distinct-before-verify placement — had to be mirrored by hand or
    * the families silently diverged):
    *  - WITHIN-batch: band self-join, greedy drop of the larger id
    *    among verified matches;
    *  - CROSS-batch: band join against the index, same-id matches
    *    EXCLUDED so a replayed batch whose own delta already landed
    *    never dedups against itself;
    *  - survivors by anti-join on the drop set; delta = the
    *    survivors' own band rows (the O(batch) index append).
    * `bands` and `index` carry (idCol, valCol, band, band_key);
    * `isMatch` is the family's verify predicate over two valCol sides.
    * The distinct runs over (id, v_a, v_b) — id determines its value,
    * so the verified drop set is identical to distinct-ing full pairs.
    */
  private def bandedStepDelta(batch: DataFrame, bands: DataFrame,
      index: DataFrame, idCol: String, valCol: String,
      isMatch: (Column, Column) => Column): (DataFrame, DataFrame) = {
    // exact pre-collapse (r17 verdict #1): one representative per
    // identical VALUE (signature/fingerprint); only representatives
    // enter the band joins, so k copies of one asset in a delivery
    // cost O(k), never Θ(k²) bucket work. Lossless because every
    // registered family's predicate accepts identical values (Hamming
    // 0 / estimate 1.0 ≥ τ): a non-rep batch item always dies against
    // its own smaller-id representative, and any match through a
    // non-rep is reproduced through its rep at an even smaller id.
    val values = bands.select(col(idCol), col(valCol).as("v")).distinct()
    val reps = values.groupBy(col("v")).agg(min(col(idCol)).as(idCol))
    val members = values.join(reps.withColumnRenamed(idCol, "rep"), Seq("v"))
      .select(col(idCol), col("rep"))
    val nonRepDrops = values
      .join(reps.withColumnRenamed(idCol, "rep"), Seq("v"))
      .filter(col(idCol) =!= col("rep") && isMatch(col("v"), col("v")))
      .select(col(idCol))
    val repBands = bands.join(reps.select(col(idCol)), Seq(idCol), "left_semi")
    val within = repBands.as("x").join(repBands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"y.$idCol").as(idCol),
        col(s"x.$valCol").as("v_a"), col(s"y.$valCol").as("v_b"))
      .distinct()
      .filter(isMatch(col("v_a"), col("v_b")))
      .select(col(idCol)).distinct()
    // cross at REP level WITHOUT the id exclusion, expanded through
    // the group, the exclusion re-applied per member — replay
    // idempotence (a batch never deduping against its own landed
    // delta) holds exactly as in the naive join
    val cross0 = repBands.as("x").join(index.as("i"),
        col("x.band") === col("i.band") &&
          col("x.band_key") === col("i.band_key"))
      .select(col(s"x.$idCol").as("rep"), col(s"i.$idCol").as("other_id"),
        col(s"x.$valCol").as("v_a"), col(s"i.$valCol").as("v_b"))
      .distinct()
      .filter(isMatch(col("v_a"), col("v_b")))
      .select(col("rep"), col("other_id")).distinct()
    val cross = cross0.join(members, Seq("rep"))
      .filter(col(idCol) =!= col("other_id"))
      .select(col(idCol)).distinct()
    val survivors = batch.join(
      nonRepDrops.union(within).union(cross).distinct(),
      Seq(idCol), "left_anti")
    val delta =
      bands.join(survivors.select(col(idCol)), Seq(idCol), "left_semi")
    (survivors, delta)
  }

  /** Crash-injection points for `incrementalCommit` (spec-only; the
    * streaming sink always commits with `NoSinkCrash`).
    */
  sealed trait SinkCrash
  case object NoSinkCrash extends SinkCrash
  case object CrashAfterSurvivorWrite extends SinkCrash

  /** One durable delivery: dedup `batch` against the accumulated
    * signature index, then land BOTH artifacts as per-batch SEGMENT
    * directories —
    *
    *   outDir/seg_<batchId>    the batch's surviving (doc_id, text…) rows
    *   indexDir/seg_<batchId>  the survivors' band rows (the index delta)
    *
    * The index is never rewritten and never swapped: readers union the
    * segment directories (`readIndex`/`readSegments`), each delivery
    * only WRITES its own O(batch) delta, and there is no
    * delete-then-rename window in which the whole index can vanish.
    * Both writes are mode("overwrite") into a batchId-determined
    * directory, so a replay overwrites its own previous attempt —
    * never duplicating rows, whatever the crash point:
    *
    *  - crash between survivor write and index write: the replay sees
    *    the index WITHOUT this batch's delta — the same state the
    *    failed attempt saw — computes the identical survivor set, and
    *    overwrites the same segment;
    *  - crash after the index write, before the checkpoint commit: the
    *    replay sees the index WITH this batch's delta; the cross join's
    *    same-doc_id exclusion (`incrementalStepDelta`) keeps every
    *    batch doc from matching its own index rows, so the decision set
    *    — and both overwritten segments — are again identical.
    */
  def incrementalCommit(batch: DataFrame, outDir: String, indexDir: String,
      batchId: Long, tau: Double = 0.5, crash: SinkCrash = NoSinkCrash): Unit = {
    val spark = batch.sparkSession
    val idx = readIndex(spark, indexDir)
    val (surv0, delta) = incrementalStepDelta(batch, idx, tau)
    // persist: the survivor relation feeds its own segment write AND
    // the delta's semi-join — unpersisted, the full dedup joins would
    // re-execute for the second action
    val surv = surv0.persist()
    try {
      surv.write.mode("overwrite").parquet(s"$outDir/seg_$batchId")
      if (crash == CrashAfterSurvivorWrite)
        throw new RuntimeException("injected crash: after survivor write")
      delta.write.mode("overwrite").parquet(s"$indexDir/seg_$batchId")
    } finally surv.unpersist()
  }

  /** Auto-compaction policy for the sink loop, two independent
    * triggers:
    *  - CADENCE: `compactEvery = n` folds after every n-th delivery;
    *  - SIZE: `maxSegments = m` folds as soon as the segment-directory
    *    count exceeds m — the trigger a long-lived sink actually wants,
    *    since it bounds the small-files population regardless of
    *    delivery cadence, and checking it is one driver listing RPC per
    *    delivery (independent of corpus row count).
    * Either at 0 disables that trigger. Returns whether it compacted.
    */
  /** Segment-directory population of a sink index — the quantity the
    * size-triggered compaction policy reads. ONE definition, shared by
    * the trigger below and the long-run tools that certify the bound
    * (a drifted copy would count directories the compactor ignores).
    */
  def segmentDirCount(spark: SparkSession, dir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0
    else fs.listStatus(root).count(s =>
      s.isDirectory && s.getPath.getName != "_spark_metadata")
  }

  def maybeCompact(spark: SparkSession, indexDir: String, batchId: Long,
      compactEvery: Int = 0, maxSegments: Int = 0,
      dedupKeys: Seq[String] = Seq("doc_id", "band")): Boolean = {
    val byCadence = compactEvery > 0 && batchId % compactEvery == compactEvery - 1
    val bySize = maxSegments > 0 && segmentDirCount(spark, indexDir) > maxSegments
    if (byCadence || bySize) { compactSegments(spark, indexDir, dedupKeys); true }
    else false
  }

  /** The incremental pipeline as a STREAMING sink: each micro-batch of
    * (doc_id, text) runs one `incrementalCommit` — append-only segment
    * writes keyed by batchId, idempotent under replay (see
    * `incrementalCommit` for the crash analysis). Read the surviving
    * corpus back with `readSegments(spark, outDir)`.
    *
    * Compaction policy via `maybeCompact`: `compactEvery` (cadence) and
    * `maxSegments` (size trigger) bound the segment-directory count for
    * a long-lived sink; both 0 disables. Compaction after a replayed
    * batch is also safe — see the duplicate-rows-are-inert argument on
    * `compactSegments`. `tools/LongRunSink` profiles this loop over
    * 500 deliveries (bounded segments, flat commit cost).
    */
  def startIncrementalSink(docs: DataFrame, outDir: String, indexDir: String,
      checkpointDir: String, tau: Double = 0.5, compactEvery: Int = 0,
      maxSegments: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incrementalCommit(batch, outDir, indexDir, batchId, tau)
        maybeCompact(batch.sparkSession, indexDir, batchId, compactEvery,
          maxSegments)
        ()
      }
      .start()

  /** Registered two-delivery simulation of the incremental pipeline:
    * the corpus split by doc_id parity arrives as two deliveries; the
    * first builds the index from its own survivors, the second dedups
    * against itself AND the index. Planted near-dup pairs straddle the
    * parity split, so the cross-delivery path does real work, and the
    * oracle mirrors both steps relationally — the hash match certifies
    * the incremental semantics equal the declarative ones.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val (s1, idx1) = incrementalStep(docs.filter(col("doc_id") % 2 === 0), emptyIndex(s))
    val (s2, _) = incrementalStep(docs.filter(col("doc_id") % 2 === 1), idx1)
    s1.select(col("doc_id"), lit(1L).as("delivery"))
      .unionByName(s2.select(col("doc_id"), lit(2L).as("delivery")))
      .orderBy(col("doc_id"))
  }

  /** The SAME two-delivery scenario driven through the DURABLE STREAMING
    * SINK — `startIncrementalSink` end-to-end: a real StreamingQuery
    * with a checkpoint, one micro-batch per delivery, survivors and
    * index landing as per-batch segments on disk, surviving corpus read
    * back from the segment tree. Hash-checked against the same
    * declarative oracle as `dedupIncremental`, certifying that the
    * durable path (readIndex → incrementalCommit → segment write)
    * computes exactly the in-memory step's semantics.
    *
    * The deliveries arrive through a REAL FILE SOURCE (each parity
    * half written as parquet into the feed dir, drained fully before
    * the next lands) — no driver-side materialization of the corpus
    * anywhere in the path, the same transport the index-append sinks
    * use; production swaps the feed dir for Kafka/object-store paths.
    */
  def dedupIncrementalSink(s: SparkSession, dir: String): DataFrame = {
    // per-process scratch root, swept + reused across invocations (a
    // temp dir per call accumulated a corpus copy per gate iteration)
    val root = graft.store.StoreRoot.scratchRoot("dedup_incr_sink")
    val (outDir, idxDir, ckpt) = (s"$root/out", s"$root/idx", s"$root/ckpt")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val feed = s"$root/feed"
    // delivery 1 on disk before the stream starts -> micro-batch 0;
    // single-file appends so each delivery is atomically visible (the
    // output here is split-tolerant — delivery derives from parity, and
    // the dedup decision against the index-so-far is the same under any
    // batch slicing — but exact boundaries keep the long-run commit
    // profile comparable run to run)
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(feed)
    val q = startIncrementalSink(
      s.readStream.schema(docs.schema).parquet(feed), outDir, idxDir, ckpt)
    try {
      q.processAllAvailable()
      // delivery 2 appends to the feed -> micro-batch 1
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(feed)
      q.processAllAvailable()
    } finally q.stop()
    readSegments(s, outDir)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, 1L).otherwise(2L).as("delivery"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup CLUSTERING — the step after pair detection in a real
    * training-data dedup pipeline: connected components over the
    * verified near-dup pair graph, labeling every member with the
    * component's minimum doc_id (= the canonical keeper; everything
    * else is droppable). Iterative min-label propagation: each round is
    * one shuffle join + min-aggregate, and the number of rounds is the
    * component DIAMETER, not the data size — near-dup components are
    * tiny cliques, so 2-3 rounds. The driver-side loop iterates rounds,
    * never rows (same shape as GraphX Pregel's own driver loop).
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersDf(dedupNgramJaccard(s, dir))

  /** SimHash-pair variant: same clustering stage, different detector —
    * the pair graph is a parameter (dedupClustersDf), so every detector
    * in this file shares one clustering implementation.
    */
  def dedupClustersSimhash(s: SparkSession, dir: String): DataFrame =
    dedupClustersDf(dedupSimhash(s, dir))

  /** Embedding-detector variant: clustering over the embedding-LSH
    * near-dup pairs at the 0.9 operating point — the complete scale
    * pipeline (LSH detect → cluster → keep-canonical) in one query.
    * Planted 3-cliques {v, v′, v″} become components whose canonical is
    * the original vec_id. Ids in/out are vec_ids.
    */
  def dedupClustersEmbedding(s: SparkSession, dir: String): DataFrame =
    dedupClustersDf(
      graft.similarity.Similarity.dedupEmbeddingLsh090(s, dir)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .withColumnRenamed("doc_id", "vec_id")

  /** Connected components over any (doc_a, doc_b) pair DataFrame.
    * Iterates until a full round changes no label: stopping early would
    * silently return wrong cluster_rep/is_canonical for any component
    * whose propagation distance exceeds the cutoff, so the safety bound
    * (far above any near-dup component's diameter) THROWS instead of
    * truncating.
    *
    * Each round's labels are EAGERLY local-checkpointed, not persisted:
    * a cached plan still NESTS the previous round's subtree, so with
    * persist the lineage (and its canonicalized/printed form — Spark
    * renders the full child plan string when building a cache entry)
    * grows geometrically with the round count and OOMs the driver once
    * a component's diameter pushes past ~15 rounds. Checkpointing
    * replaces each round's plan with a constant-size leaf — the same
    * lineage-truncation discipline GraphX's Pregel loop uses.
    */
  def dedupClustersDf(pairDf: DataFrame, safetyMaxIter: Int = 100): DataFrame = {
    val pairs = pairDf.select(col("doc_a"), col("doc_b"))
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("u", "v").localCheckpoint(true)
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("root", col("node")).localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged) {
      if (i >= safetyMaxIter)
        throw new IllegalStateException(
          s"dedupClustersDf: no convergence after $safetyMaxIter rounds — " +
            "component diameter exceeds the safety bound")
      val viaNbr = edges
        .join(labels.withColumnRenamed("node", "v"), "v")
        .select(col("u").as("node"), col("root"))
      val propagated = labels.union(viaNbr)
        .groupBy(col("node")).agg(min(col("root")).as("root"))
      // Pointer jumping: root := root's root. Neighbor propagation
      // alone needs O(diameter) rounds — fine for near-dup cliques,
      // quadratic-total-work for chain-shaped dup families (version
      // sequences, crawl snapshots) whose diameter grows with the
      // corpus. Compressing paths each round makes label distance
      // shrink geometrically: O(log d) rounds (14 → 8 measured on the
      // sf0.1 simhash graph; the gap widens with diameter).
      val compressed = propagated
        .select(col("node").as("rnode"), col("root").as("rroot"))
      val next = propagated
        .join(compressed, col("root") === col("rnode"))
        .select(col("node"), col("rroot").as("root"))
        .localCheckpoint(true)
      val changed = next
        .join(labels.withColumnRenamed("root", "prev"), "node")
        .filter(col("root") =!= col("prev")).count()
      labels = next
      converged = changed == 0
      i += 1
    }
    labels
      .select(col("node").as("doc_id"), col("root").as("cluster_rep"),
        (col("node") === col("root")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** The APPLY step that makes dedup a pipeline, not a report: the
    * deduplicated corpus itself. Keeps one doc per byte-identical text
    * (min doc_id per content hash) and drops every non-canonical
    * member of the near-dup clusters — detect → cluster → keep-
    * canonical, materialized. Both removals are key-joins against
    * small derived relations; the corpus itself streams through.
    */
  def dedupApply(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val exactKeep = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val dropNear = dedupClusters(s, dir)
      .filter(!col("is_canonical"))
      .select(col("doc_id"))
    docs
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(dropNear, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The APPLY step over the FULL detector stack: the ngram-Jaccard,
    * SimHash and embedding-cosine pair graphs are UNIONED before
    * clustering, so a document is dropped if ANY detector links it into
    * a near-dup component whose canonical it isn't — the real
    * pipeline's apply semantics (each detector catches a different dup
    * modality: shingle overlap, bit-level fingerprint, semantic
    * embedding). Embedding pairs join on vec_id = doc_id (one embedding
    * per document in this corpus). Scale shape is unchanged from
    * `dedupApply`: every detector is its own bucketed/indexed pair
    * generator, the union is a cheap append of three small pair
    * relations, and the corpus itself only ever streams through two
    * key-joins against small derived relations.
    */
  /** The three TEXT detectors' unioned pair graph — shared by
    * [[dedupApplyAll]] and the cross-modal [[dedupApplyMultimodal]].
    */
  private def textPairGraph(s: SparkSession, dir: String): DataFrame = {
    val ngramPairs = dedupNgramJaccard(s, dir).select(col("doc_a"), col("doc_b"))
    val simhashPairs = dedupSimhash(s, dir).select(col("doc_a"), col("doc_b"))
    val embPairs = graft.similarity.Similarity.dedupEmbeddingLsh(s, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    ngramPairs.unionByName(simhashPairs).unionByName(embPairs)
  }

  def dedupApplyAll(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val exactKeep = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val dropNear = dedupClustersDf(textPairGraph(s, dir))
      .filter(!col("is_canonical"))
      .select(col("doc_id"))
    docs
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(dropNear, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Media→document attachment of the phash corpus — the fixture
    * semantics a real pipeline's media table carries as a foreign key:
    * every document owns its base image (media_id = doc_id), and the
    * retouched copy of doc d's image is embedded by doc d+1 (the
    * cross-doc shape of shared recompressed images on the web: a
    * DIFFERENT page reusing a near-identical image). Owners that fall
    * past the corpus (d+1 beyond the last doc) are dropped by the
    * semi-join, in both engines.
    */
  /** Media→document attachment for any (media_id, src_id, planted)
    * corpus: every document owns its base media (media_id = doc_id);
    * the planted near-dup copy of doc d's media is embedded by doc
    * d + `embedShift` — each modality uses a DIFFERENT shift (image 1,
    * audio 2, video 3) so the cross-modal apply's edges are distinct
    * relations, not one edge seen thrice. Owners past the corpus drop
    * out by semi-join, in both engines.
    */
  def mediaDocAttachment(s: SparkSession, dir: String, media: DataFrame,
      embedShift: Long): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id").as("owner_doc_id"))
    media.select(col("media_id"),
        when(col("planted"), col("src_id") + embedShift)
          .otherwise(col("media_id")).as("owner_doc_id"))
      .join(docs, Seq("owner_doc_id"), "left_semi")
  }

  def phashDocAttachment(s: SparkSession, dir: String): DataFrame =
    mediaDocAttachment(s, dir,
      graft.operators.Multimodal.phashMediaCorpus(s, dir), 1L)

  /** Media pairs → undirected owner-document edges through an
    * attachment: two key-joins of the (tiny) pair relation, self-edges
    * dropped (a doc pairing with its OWN attached copy is not a
    * cross-doc duplicate).
    */
  def ownerEdges(pairs: DataFrame, attach: DataFrame): DataFrame =
    pairs
      .join(attach.as("oa"), col("media_a") === col("oa.media_id"))
      .join(attach.as("ob"), col("media_b") === col("ob.media_id"))
      .select(least(col("oa.owner_doc_id"), col("ob.owner_doc_id")).as("doc_a"),
        greatest(col("oa.owner_doc_id"), col("ob.owner_doc_id")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()

  /** CROSS-MODAL joint apply (r16 verdict #5) — the apply a real
    * training pipeline runs: a document is dropped when its TEXT
    * near-matches (the unioned ngram-Jaccard ∪ SimHash ∪
    * embedding-cosine pair graph of [[dedupApplyAll]]) OR any of its
    * ATTACHED MEDIA near-matches another document's — image pairs
    * ([[dedupPhashPairsDf]], banded), audio pairs
    * ([[dedupAudioPairsDf]], banded), and frame-voted video pairs
    * ([[dedupVideoPairsDf]]), each mapped through its modality's
    * [[mediaDocAttachment]] (embed shifts 1/2/3) to owner-document
    * edges. All four graphs are UNIONED before clustering, so a
    * text-distinct page that embeds a recompressed copy of another
    * page's image, clip, or video joins that page's component — and
    * the keep-canonical rule drops every non-canonical member.
    *
    * Scale shape unchanged from dedupApplyAll: each detector is its
    * own bucketed pair generator; each media→doc mapping is two
    * key-joins of a (tiny) pair relation against its attachment;
    * the corpus itself streams through two key-joins at the end.
    */
  def dedupApplyMultimodal(s: SparkSession, dir: String): DataFrame = {
    val mm = graft.operators.Multimodal
    val docs = Tables.documents(s, dir)
    val exactKeep = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val imgFps = mm.mmPhashFingerprints(s, dir).persist()
    val audFps = mm.mmAudioFingerprints(s, dir).persist()
    val vidFps = mm.mmVideoFingerprints(s, dir).persist()
    imgFps.count(); audFps.count(); vidFps.count() // one codec pass each
    val imgEdges = ownerEdges(dedupPhashPairsDf(imgFps),
      phashDocAttachment(s, dir))
    val audEdges = ownerEdges(dedupAudioPairsDf(audFps),
      mediaDocAttachment(s, dir, mm.audioMediaCorpus(s, dir), 2L))
    val vidEdges = ownerEdges(
      dedupVideoPairsDf(vidFps).select(col("media_a"), col("media_b")),
      mediaDocAttachment(s, dir, mm.videoMediaCorpus(s, dir), 3L))
    val dropNear = dedupClustersDf(
        textPairGraph(s, dir)
          .unionByName(imgEdges).unionByName(audEdges).unionByName(vidEdges))
      .filter(!col("is_canonical"))
      .select(col("doc_id"))
    val result = docs
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(dropNear, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    imgFps.unpersist(); audFps.unpersist(); vidFps.unpersist()
    result
  }

  /** CHUNK-LEVEL dedup composition — the sub-document near-dup signal
    * real pipelines run alongside doc-level detectors and boilerplate
    * removal: a document that verbatim-reuses a few PARAGRAPHS of
    * another (quoted section, syndicated passage, copied chapter)
    * shows low doc-level Jaccard, but its chunks are near-identical to
    * the source's. Composition: `TextAnalysis.txChunk`'s fixed-window
    * chunks (the ordinal chunk ids exist exactly so this composes) →
    * the SAME 16-slot MinHash / 8-band LSH family as the doc-level
    * detector, keyed by (doc_id, chunk_id) → exact-Jaccard verify of
    * bucket-mates → chunk-dup pairs rolled up to DIRECTED-FREE doc
    * pairs with the shared-chunk count and strongest chunk similarity.
    * Only cross-doc pairs are emitted (within-doc chunk repetition is
    * `txBoilerplate`'s business).
    *
    * Scale shape: identical to `dedupMinhashLshDf` with chunks as the
    * unit — one narrow chunk expansion (no shuffle), bucket-join on
    * (band, band_key), candidates verified from persisted shingle
    * sets, one final small roll-up aggregate. Chunk count is corpus
    * tokens / stride, so the index grows linearly with corpus size,
    * never quadratically.
    */
  def dedupChunks(s: SparkSession, dir: String): DataFrame =
    dedupChunksDf(graft.analytics.TextAnalysis.txChunk(s, dir))

  def dedupChunksDf(chunks: DataFrame): DataFrame = {
    // (doc, chunk) → shingle set + 16-slot MinHash signature, computed
    // in ONE pass and persisted. Two materialization disciplines the
    // r12 driver bench demanded (its adjudicator read dedup_chunks at
    // ×2.96 the gate pair's cpu, classified plan-work — the extra work
    // was this stage evaluated up to 3×):
    //  - the SIGNATURE lives inside the persisted base: the bucket
    //    self-join below reads `bands` twice, and only identical
    //    SHUFFLE exchanges are reused — whenever AQE plans one side as
    //    a broadcast there is no reuse, so a signature computed outside
    //    the cache pays the 16-perm MinHash once per side;
    //  - the persist is materialized EXPLICITLY (count) before any
    //    consumer plan is submitted: the band explode and both
    //    verify-join sides are otherwise submitted as concurrently
    //    runnable stages racing the cold cache.
    val base = chunks
      .select(col("doc_id"), col("chunk_id"),
        shingles(col("chunk_text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSig(col("sh"), 16))
      .persist()
    base.count() // materialize once, sequentially, before the consumers
    val bands = base
      .select(col("doc_id"), col("chunk_id"), col("sig"),
        explode(sequence(lit(0), lit(7))).as("band"))
      .withColumn("band_key", bandKey2(col("sig"), col("band")))
      .select(col("doc_id"), col("chunk_id"), col("band"), col("band_key"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.chunk_id").as("chunk_a"),
        col("y.doc_id").as("doc_b"), col("y.chunk_id").as("chunk_b"))
      .distinct()
    val verified = cand
      .join(base.select(col("doc_id").as("doc_a"), col("chunk_id").as("chunk_a"),
        col("sh").as("sh_a")), Seq("doc_a", "chunk_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("chunk_id").as("chunk_b"),
        col("sh").as("sh_b")), Seq("doc_b", "chunk_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    val result = verified
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_chunk_pairs"),
        round(max(col("jaccard")), 6).as("max_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    base.unpersist()
    result
  }

  /** SimHash near-dup detection: 60-bit fingerprint, banded into 4×15-bit
    * keys for candidate generation, Hamming-verified (≤ 4 bits — the
    * usual SimHash dedup operating point; planted near-dups in the
    * corpus sit at ≤ 4-5 flipped bits).
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    dedupSimhashDf(Tables.documents(s, dir))

  def dedupSimhashDf(documents: DataFrame): DataFrame = {
    // guarded 4×15 banding (BandGuard): identical fingerprints are
    // collapsed to one representative before the bucket join and hot
    // bands take the lossless 5×9 sub-split — the verified pair
    // relation is EXACTLY the naive banded join's (oracle unchanged)
    val docs = documents
      .select(col("doc_id"), simhash60(tokens(col("text"))).as("fp"))
    BandGuard.guardedHammingPairs(docs, "doc_id", Nil, 4)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** PERCEPTUAL-HASH image near-dup pairs — the multimodal × dedup
    * composition (r15 verdict #4): dHash fingerprints of the DECODED
    * image rasters (`Multimodal.mmPhashFingerprints` — real PNG
    * encode→decode on the codec boundary), then exactly the SimHash
    * detector's scale shape: 4×15-bit bands for candidate generation
    * (shuffle on (band, key) — bucket-mates only, never all-pairs),
    * Hamming-verified ≤ 4. Retouched copies (a few changed blocks)
    * land within 2 flipped bits per changed block, so the planted
    * 2-block retouches are GUARANTEED band candidates (they leave two
    * of the four bands untouched) and sit inside the threshold.
    *
    * Scale shape: fingerprints are one narrow codec pass persisted
    * once (the band self-join reads it twice); candidates shuffle on
    * band keys; the verify is a bit_count over the already-joined
    * fingerprints. At 100 TB the image corpus never meets itself
    * outside shared 15-bit bands.
    */
  def dedupPhash(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.operators.Multimodal.mmPhashFingerprints(s, dir).persist()
    fps.count() // materialize the codec pass once, before the self-join
    val result = dedupPhashPairsDf(fps).localCheckpoint(true)
    fps.unpersist()
    result
  }

  /** Banded rows of a 60-bit fingerprint relation — ONE banding
    * definition (4 bands × 15 bits) shared by every 60-bit-fingerprint
    * modality (phash images, audio clips, video frames) and by both
    * the pair detectors and the incremental steps, so the paths cannot
    * diverge: (media_id, fp, band, band_key).
    */
  def bands60(fps: DataFrame, fpCol: String): DataFrame =
    fps.select(col("media_id"), col(fpCol).as("fp"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_key",
        expr("shiftright(fp, band * 15)").bitwiseAND(lit(32767L)))
      .select(col("media_id"), col("fp"), col("band"), col("band_key"))

  def phashBands(fps: DataFrame): DataFrame = bands60(fps, "phash60")

  /** NAIVE banded Hamming pairs over any [[bands60]] relation:
    * candidates from the band equi-self-join (bucket-mates only, never
    * all-pairs), verified at Hamming ≤ `maxHamming` over the already-
    * joined fingerprints. This is the REFERENCE definition the DuckDB
    * oracles replay and `BandGuardSpec` differentials pin against; the
    * registered detectors run [[BandGuard.guardedHammingPairs]], which
    * computes the identical relation with exact pre-collapse and the
    * hot-band sub-split (r17 verdict #1).
    */
  private[graft] def bandedHammingPairs(bands: DataFrame,
      maxHamming: Int): DataFrame = {
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("media_a"), col("y.media_id").as("media_b"),
        col("x.fp").as("fp_a"), col("y.fp").as("fp_b"))
      .distinct()
    cand.select(col("media_a"), col("media_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast(LongType)
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("media_a"), col("media_b"))
  }

  def dedupPhashPairsDf(fps: DataFrame): DataFrame =
    BandGuard.guardedHammingPairs(
        fps.select(col("media_id"), col("phash60").as("fp")),
        "media_id", Nil, 4)
      .orderBy(col("media_a"), col("media_b"))

  /** The phash APPLY: the deduplicated image corpus. Keep policy is
    * the incremental-ingest one — a media row is dropped iff it
    * near-matches a LOWER media_id (the pair report's `media_b` side),
    * i.e. the earliest-ingested copy of every match survives. On pure
    * pair structure (each retouch matches only its base) this equals
    * keep-canonical-per-cluster; on chains it keeps every chain's
    * head, the policy an arrival-ordered image feed actually applies.
    */
  def dedupPhashApply(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.operators.Multimodal.mmPhashFingerprints(s, dir).persist()
    fps.count()
    val drop = dedupPhashPairsDf(fps).select(col("media_b").as("media_id"))
      .distinct()
    val result = fps
      .join(drop.withColumn("dropped", lit(true)), Seq("media_id"), "left")
      .select(col("media_id"), col("src_doc_id"), col("planted"),
        coalesce(!col("dropped"), lit(true)).as("is_kept"))
      .orderBy(col("media_id"))
      .localCheckpoint(true)
    fps.unpersist()
    result
  }

  /** The phash fingerprint-index row schema — the image twin of
    * [[indexSchema]]: an incremental image pipeline indexes each
    * accepted media's (fp, band, band_key) rows and never re-decodes
    * the accumulated corpus.
    */
  val phashIndexSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("fp", LongType),
    StructField("band", IntegerType),
    StructField("band_key", LongType)))

  def phashEmptyIndex(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      phashIndexSchema)

  /** One INCREMENTAL image-dedup step — the phash twin of
    * [[incrementalStepDelta]]: a batch media is dropped iff (a) a
    * smaller-id batch media is a Hamming-≤`maxHamming` band-mate
    * (within-delivery), or (b) any INDEXED media is (cross-delivery).
    * Returns (survivors, the survivors' own band rows — the O(batch)
    * index delta). The accumulated corpus's IMAGES are never
    * re-decoded: cross-delivery decisions read the fingerprint index
    * alone, the only incremental shape that survives at 100 TB of
    * image bytes. The cross join excludes same-media_id matches so a
    * replayed batch whose own delta already landed does not dedup
    * against itself (the [[incrementalCommit]] idempotence property,
    * unchanged).
    */
  def phashStepDelta(batchFps: DataFrame, index: DataFrame,
      maxHamming: Int = 4): (DataFrame, DataFrame) =
    BandGuard.guardedStepDelta60(batchFps,
      batchFps.select(col("media_id"), col("phash60").as("fp")),
      Nil, index, maxHamming, minVote = 1)

  /** Durable phash fingerprint index = union of append-only per-batch
    * segments (the [[readIndex]] discipline with the phash schema:
    * genuinely-absent dir reads empty; any other failure propagates —
    * an empty substitute would re-admit every recompressed duplicate).
    */
  def readPhashIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) phashEmptyIndex(spark)
    else spark.read.schema(phashIndexSchema)
      .option("recursiveFileLookup", "true").parquet(indexDir)
  }

  /** One durable IMAGE-dedup delivery — [[incrementalCommit]] with the
    * phash step: decode + fingerprint THIS batch's media only, dedup
    * against the accumulated fingerprint index, land the surviving
    * media rows and the survivors' band rows as per-batch segments.
    * Same crash analysis as the text commit (both writes are
    * mode("overwrite") into batchId-determined directories; the cross
    * join's same-media_id exclusion keeps a replayed batch from
    * deduping against its own already-landed delta).
    */
  def phashIncrementalCommit(batchMedia: DataFrame, outDir: String,
      indexDir: String, batchId: Long): Unit = {
    val spark = batchMedia.sparkSession
    // persist the CODEC pass (review r16): the fingerprints feed the
    // band self-join (two sides), the cross join, the survivor
    // anti-join and the delta semi-join — unpersisted, the dominant
    // per-delivery cost (real PNG encode+decode per image) would
    // re-execute for every consumer
    val fps = graft.operators.Multimodal.phashFingerprintsOf(batchMedia)
      .persist()
    try {
      fps.count() // materialize once, before the self-join's two sides
      val (surv0, delta) = phashStepDelta(fps, readPhashIndex(spark, indexDir))
      val surv = surv0.persist()
      try {
        surv.write.mode("overwrite").parquet(s"$outDir/seg_$batchId")
        delta.write.mode("overwrite").parquet(s"$indexDir/seg_$batchId")
      } finally surv.unpersist()
    } finally fps.unpersist()
  }

  /** The incremental IMAGE pipeline through the DURABLE STREAMING SINK
    * — the phash twin of [[dedupIncrementalSink]], transported by
    * [[graft.streaming.ManifestFeed]] (each delivery is a multi-file
    * parquet append published atomically by its single-file manifest,
    * so a micro-batch always holds whole deliveries): a real
    * StreamingQuery with a checkpoint, one `phashIncrementalCommit`
    * per micro-batch, surviving media and fingerprint index landing as
    * per-batch segments, survivors read back from the segment tree.
    * Delivery 1 = the base images, delivery 2 = the planted retouched
    * copies — every planted pair crosses the deliveries, so batch 2's
    * media die against the PERSISTED index, never a re-decode.
    * Hash-checked against the same relational oracle as
    * [[dedupPhashIncremental]]: the durable path computes exactly the
    * in-memory step's semantics.
    */
  def dedupPhashIncrementalSink(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ManifestFeed
    val root = graft.store.StoreRoot.scratchRoot("dedup_phash_incr_sink")
    val (outDir, idxDir, ckpt) = (s"$root/out", s"$root/idx", s"$root/ckpt")
    val media = graft.operators.Multimodal.phashMediaCorpus(s, dir)
    val off = graft.operators.Multimodal.PhashPlantOffset
    ManifestFeed.deliver(media.filter(col("media_id") < off), root, 0L, 2)
    val q = ManifestFeed.start(s, root, media.schema, ckpt) { (batch, id) =>
      phashIncrementalCommit(batch, outDir, idxDir, id)
    }
    try {
      q.processAllAvailable()
      ManifestFeed.deliver(media.filter(col("media_id") >= off), root, 1L, 2)
      q.processAllAvailable()
    } finally q.stop()
    readSegments(s, outDir)
      .select(col("media_id"),
        when(col("media_id") < off, 1L).otherwise(2L).as("delivery"))
      .orderBy(col("media_id"))
  }

  /** Registered two-delivery simulation of the INCREMENTAL image-dedup
    * pipeline: the base images arrive as delivery 1 (building the
    * fingerprint index from their survivors), the planted retouched
    * copies as delivery 2 — so every planted near-dup pair straddles
    * the deliveries and the cross-delivery index path does ALL the
    * real work (each copy must die against the index, never against a
    * decoded base image). Output: surviving media with their delivery
    * stamp. The oracle replays both steps relationally from the
    * banded-pair relation — a hash match certifies the incremental
    * semantics equal the declarative detector's.
    */
  def dedupPhashIncremental(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.operators.Multimodal.mmPhashFingerprints(s, dir).persist()
    fps.count() // one codec pass feeds both deliveries' fingerprints
    val off = graft.operators.Multimodal.PhashPlantOffset
    val (s1, delta1) = phashStepDelta(
      fps.filter(col("media_id") < off), phashEmptyIndex(s))
    val (s2, _) = phashStepDelta(fps.filter(col("media_id") >= off), delta1)
    val result = s1.select(col("media_id"), lit(1L).as("delivery"))
      .unionByName(s2.select(col("media_id"), lit(2L).as("delivery")))
      .orderBy(col("media_id"))
      .localCheckpoint(true)
    fps.unpersist()
    result
  }

  // ---- audio near-dup (r16 verdict #3): the modality twin of the
  // phash image family. Fingerprints are 60-bit energy-delta dHashes
  // of REALLY WAV-encoded-and-decoded clips
  // (operators.Multimodal.mmAudioFingerprints); the detector is the
  // SAME banded Hamming join ([[bands60]]/[[bandedHammingPairs]]), so
  // its scale shape is already certified: one narrow codec pass
  // persisted once, candidates shuffle on band keys, Hamming verify
  // over the joined fingerprints — at 100 TB the audio corpus never
  // meets itself outside shared 15-bit bands.

  def audioBands(fps: DataFrame): DataFrame = bands60(fps, "audfp60")

  def dedupAudioPairsDf(fps: DataFrame): DataFrame =
    BandGuard.guardedHammingPairs(
        fps.select(col("media_id"), col("audfp60").as("fp")),
        "media_id", Nil, 4)
      .orderBy(col("media_a"), col("media_b"))

  /** Audio near-dup pairs: planted edited copies (two boosted windows
    * → ≤4 flipped bits, two guaranteed-intact bands) surface through
    * the banded join and verify at Hamming ≤ 4.
    */
  def dedupAudio(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.operators.Multimodal.mmAudioFingerprints(s, dir).persist()
    fps.count() // materialize the codec pass once, before the self-join
    val result = dedupAudioPairsDf(fps).localCheckpoint(true)
    fps.unpersist()
    result
  }

  /** The audio APPLY: arrival-ordered keep policy, same contract as
    * [[dedupPhashApply]] — a clip is dropped iff it near-matches a
    * LOWER media_id, so the earliest-ingested copy of every match
    * survives.
    */
  def dedupAudioApply(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.operators.Multimodal.mmAudioFingerprints(s, dir).persist()
    fps.count()
    val drop = dedupAudioPairsDf(fps).select(col("media_b").as("media_id"))
      .distinct()
    val result = fps
      .join(drop.withColumn("dropped", lit(true)), Seq("media_id"), "left")
      .select(col("media_id"), col("src_doc_id"), col("planted"),
        coalesce(!col("dropped"), lit(true)).as("is_kept"))
      .orderBy(col("media_id"))
      .localCheckpoint(true)
    fps.unpersist()
    result
  }

  /** One INCREMENTAL audio-dedup step — the audio twin of
    * [[phashStepDelta]], sharing [[bandedStepDelta]] and the phash
    * index schema (both are (media_id, fp, band, band_key) rows): a
    * batch clip is dropped iff a smaller-id batch clip or any INDEXED
    * clip is a Hamming-≤4 band-mate. The accumulated corpus's AUDIO is
    * never re-decoded: cross-delivery decisions read the fingerprint
    * index alone — the only incremental shape that survives 100 TB of
    * audio bytes.
    */
  def audioStepDelta(batchFps: DataFrame, index: DataFrame,
      maxHamming: Int = 4): (DataFrame, DataFrame) =
    BandGuard.guardedStepDelta60(batchFps,
      batchFps.select(col("media_id"), col("audfp60").as("fp")),
      Nil, index, maxHamming, minVote = 1)

  /** One durable AUDIO-dedup delivery — [[phashIncrementalCommit]]'s
    * twin: decode + fingerprint THIS batch's clips only, dedup against
    * the accumulated fingerprint index (read via [[readPhashIndex]] —
    * same schema), land survivors and the index delta as per-batch
    * segments. Same crash/replay analysis (mode("overwrite") into
    * batchId-determined directories; the cross join's same-media_id
    * exclusion keeps a replayed batch from deduping against its own
    * landed delta).
    */
  def audioIncrementalCommit(batchMedia: DataFrame, outDir: String,
      indexDir: String, batchId: Long): Unit = {
    val spark = batchMedia.sparkSession
    val fps = graft.operators.Multimodal.audioFingerprintsOf(batchMedia)
      .persist()
    try {
      fps.count() // one codec pass before the self-join's two sides
      val (surv0, delta) = audioStepDelta(fps, readPhashIndex(spark, indexDir))
      val surv = surv0.persist()
      try {
        surv.write.mode("overwrite").parquet(s"$outDir/seg_$batchId")
        delta.write.mode("overwrite").parquet(s"$indexDir/seg_$batchId")
      } finally surv.unpersist()
    } finally fps.unpersist()
  }

  /** Registered two-delivery simulation of the INCREMENTAL audio-dedup
    * pipeline (the [[dedupPhashIncremental]] twin): base clips arrive
    * as delivery 1, the planted edited copies as delivery 2 — every
    * planted pair straddles the deliveries, so each copy must die
    * against the persisted index, never a re-decoded base clip.
    */
  def dedupAudioIncremental(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.operators.Multimodal.mmAudioFingerprints(s, dir).persist()
    fps.count()
    val off = graft.operators.Multimodal.AudioPlantOffset
    val (s1, delta1) = audioStepDelta(
      fps.filter(col("media_id") < off), phashEmptyIndex(s))
    val (s2, _) = audioStepDelta(fps.filter(col("media_id") >= off), delta1)
    val result = s1.select(col("media_id"), lit(1L).as("delivery"))
      .unionByName(s2.select(col("media_id"), lit(2L).as("delivery")))
      .orderBy(col("media_id"))
      .localCheckpoint(true)
    fps.unpersist()
    result
  }

  /** The incremental AUDIO pipeline through the DURABLE STREAMING SINK
    * — [[dedupPhashIncrementalSink]]'s twin, transported by
    * [[graft.streaming.ManifestFeed]]: a real checkpointed
    * StreamingQuery, one [[audioIncrementalCommit]] per micro-batch,
    * survivors read back from the segment tree. Shares
    * [[dedupAudioIncremental]]'s relational oracle verbatim.
    */
  def dedupAudioIncrementalSink(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ManifestFeed
    val root = graft.store.StoreRoot.scratchRoot("dedup_audio_incr_sink")
    val (outDir, idxDir, ckpt) = (s"$root/out", s"$root/idx", s"$root/ckpt")
    val media = graft.operators.Multimodal.audioMediaCorpus(s, dir)
    val off = graft.operators.Multimodal.AudioPlantOffset
    ManifestFeed.deliver(media.filter(col("media_id") < off), root, 0L, 2)
    val q = ManifestFeed.start(s, root, media.schema, ckpt) { (batch, id) =>
      audioIncrementalCommit(batch, outDir, idxDir, id)
    }
    try {
      q.processAllAvailable()
      ManifestFeed.deliver(media.filter(col("media_id") >= off), root, 1L, 2)
      q.processAllAvailable()
    } finally q.stop()
    readSegments(s, outDir)
      .select(col("media_id"),
        when(col("media_id") < off, 1L).otherwise(2L).as("delivery"))
      .orderBy(col("media_id"))
  }

  // ---- video near-dup (r16 verdict #4): the image family lifted one
  // level. Per-SAMPLED-frame dHash fingerprints
  // (operators.Multimodal.mmVideoFingerprints — real BMP decode of the
  // sliced frames only) through the certified banded Hamming join,
  // FRAME-ALIGNED (a candidate must share the frame index as well as
  // the band key — near-dup videos on the same sampling grid), then a
  // FRAME VOTE: a pair matches iff ≥ minVote sampled frames verify at
  // Hamming ≤ 4. One replaced scene can't hide a duplicate; one
  // coincidentally-similar frame can't fabricate one.
  //
  // Scale shape: one codec pass over sampled frames persisted once;
  // candidates shuffle on (frame, band) keys — the corpus never meets
  // itself outside shared 15-bit bands of the SAME frame slot; the
  // vote is a groupBy over the (already tiny) verified frame matches.

  /** Banded rows of a per-frame fingerprint relation: the [[bands60]]
    * banding with the frame index carried into the join key.
    */
  def videoFrameBands(fps: DataFrame): DataFrame =
    fps.select(col("media_id"), col("frame_idx"), col("fp60").as("fp"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_key",
        expr("shiftright(fp, band * 15)").bitwiseAND(lit(32767L)))
      .select(col("media_id"), col("frame_idx"), col("fp"), col("band"),
        col("band_key"))

  def dedupVideoPairsDf(fps: DataFrame, maxHamming: Int = 4,
      minVote: Int = graft.operators.Multimodal.VidMinVote): DataFrame = {
    // guarded frame-aligned banding (BandGuard): identical per-frame
    // fingerprints collapse to one representative, hot (frame, band)
    // keys take the lossless 5×9 sub-split; the verified frame-match
    // relation — and therefore the vote — is exactly the naive join's
    val frameMatches = BandGuard.guardedHammingPairs(
        fps.select(col("media_id"), col("frame_idx"), col("fp60").as("fp")),
        "media_id", Seq("frame_idx"), maxHamming)
      .select(col("media_a"), col("media_b"), col("frame_idx"))
      .distinct()
    frameMatches.groupBy(col("media_a"), col("media_b"))
      .agg(count(lit(1)).as("n_frames_matched"))
      .filter(col("n_frames_matched") >= minVote)
      .orderBy(col("media_a"), col("media_b"))
  }

  /** Video near-dup pairs with the per-pair matched-frame count: the
    * planted copies (retouched frames + one scene cut) vote 2-of-3.
    */
  def dedupVideo(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.operators.Multimodal.mmVideoFingerprints(s, dir).persist()
    fps.count() // materialize the codec pass once, before the self-join
    val result = dedupVideoPairsDf(fps).localCheckpoint(true)
    fps.unpersist()
    result
  }

  /** The video APPLY: arrival-ordered keep policy over the voted pair
    * report — a clip is dropped iff it near-matches a LOWER media_id.
    */
  def dedupVideoApply(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.operators.Multimodal.mmVideoFingerprints(s, dir).persist()
    fps.count()
    val drop = dedupVideoPairsDf(fps).select(col("media_b").as("media_id"))
      .distinct()
    val media = fps.select(col("media_id"), col("src_doc_id"), col("planted"))
      .distinct()
    val result = media
      .join(drop.withColumn("dropped", lit(true)), Seq("media_id"), "left")
      .select(col("media_id"), col("src_doc_id"), col("planted"),
        coalesce(!col("dropped"), lit(true)).as("is_kept"))
      .orderBy(col("media_id"))
      .localCheckpoint(true)
    fps.unpersist()
    result
  }

  /** The video fingerprint-index row schema — [[phashIndexSchema]]
    * with the frame dimension: an incremental video pipeline indexes
    * each accepted clip's per-sampled-frame band rows and never
    * re-decodes the accumulated corpus's frames.
    */
  val videoIndexSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("frame_idx", IntegerType),
    StructField("fp", LongType),
    StructField("band", IntegerType),
    StructField("band_key", LongType)))

  def videoEmptyIndex(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      videoIndexSchema)

  def readVideoIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) videoEmptyIndex(spark)
    else spark.read.schema(videoIndexSchema)
      .option("recursiveFileLookup", "true").parquet(indexDir)
  }

  /** One INCREMENTAL video-dedup step — the frame-VOTED twin of
    * [[phashStepDelta]]: a batch clip is dropped iff ≥ `minVote` of
    * its sampled frames are Hamming-≤`maxHamming` band-mates of the
    * SAME other clip at the SAME frame slot, where the other clip is
    * (a) a smaller-id batch clip (within-delivery) or (b) any INDEXED
    * clip (cross-delivery — decisions read the per-frame fingerprint
    * index alone, accumulated video never re-decoded). The vote is a
    * groupBy over (pair, frame) matches, so one replaced scene in the
    * index can't block a kill and one coincidental frame can't cause
    * one — the batch detector's semantics exactly. The cross join
    * excludes same-media_id matches (replay idempotence, as every
    * incremental family).
    */
  def videoStepDelta(batchFps: DataFrame, index: DataFrame,
      maxHamming: Int = 4,
      minVote: Int = graft.operators.Multimodal.VidMinVote)
      : (DataFrame, DataFrame) = {
    // the shared guarded skeleton (BandGuard): frame-keyed collapse +
    // hot-band sub-split, within/cross matches rolled through the
    // frame vote — semantics identical to the naive frame-aligned join
    val (surv, delta) = BandGuard.guardedStepDelta60(
      batchFps.select(col("media_id")).distinct(),
      batchFps.select(col("media_id"), col("frame_idx"), col("fp60").as("fp")),
      Seq("frame_idx"), index, maxHamming, minVote)
    val survivors = batchFps.join(surv.select(col("media_id")),
      Seq("media_id"), "left_semi")
    (survivors, delta)
  }

  /** One durable VIDEO-dedup delivery — the [[phashIncrementalCommit]]
    * shape with the frame-voted step; same crash/replay analysis.
    */
  def videoIncrementalCommit(batchMedia: DataFrame, outDir: String,
      indexDir: String, batchId: Long): Unit = {
    val spark = batchMedia.sparkSession
    val fps = graft.operators.Multimodal.videoFingerprintsOf(batchMedia)
      .persist()
    try {
      fps.count() // one codec pass before the self-join's two sides
      val (surv0, delta) = videoStepDelta(fps, readVideoIndex(spark, indexDir))
      val surv = surv0.persist()
      try {
        surv.write.mode("overwrite").parquet(s"$outDir/seg_$batchId")
        delta.write.mode("overwrite").parquet(s"$indexDir/seg_$batchId")
      } finally surv.unpersist()
    } finally fps.unpersist()
  }

  /** Registered two-delivery simulation of the INCREMENTAL video-dedup
    * pipeline: base clips as delivery 1 build the per-frame index; the
    * planted near-dup copies (delivery 2) must die against the INDEX —
    * voting 2-of-3 against their base's indexed frames (the scene-cut
    * frame votes no), never against a re-decoded clip.
    */
  def dedupVideoIncremental(s: SparkSession, dir: String): DataFrame = {
    val fps = graft.operators.Multimodal.mmVideoFingerprints(s, dir).persist()
    fps.count()
    val off = graft.operators.Multimodal.VideoPlantOffset
    val (s1, delta1) = videoStepDelta(
      fps.filter(col("media_id") < off), videoEmptyIndex(s))
    val (s2, _) = videoStepDelta(fps.filter(col("media_id") >= off), delta1)
    val result = s1.select(col("media_id")).distinct()
      .select(col("media_id"), lit(1L).as("delivery"))
      .unionByName(s2.select(col("media_id")).distinct()
        .select(col("media_id"), lit(2L).as("delivery")))
      .orderBy(col("media_id"))
      .localCheckpoint(true)
    fps.unpersist()
    result
  }

  /** The incremental VIDEO pipeline through the DURABLE STREAMING SINK
    * — ManifestFeed-gated deliveries, a real checkpointed query, one
    * [[videoIncrementalCommit]] per micro-batch; shares
    * [[dedupVideoIncremental]]'s relational oracle verbatim.
    */
  def dedupVideoIncrementalSink(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ManifestFeed
    val root = graft.store.StoreRoot.scratchRoot("dedup_video_incr_sink")
    val (outDir, idxDir, ckpt) = (s"$root/out", s"$root/idx", s"$root/ckpt")
    val media = graft.operators.Multimodal.videoMediaCorpus(s, dir)
    val off = graft.operators.Multimodal.VideoPlantOffset
    ManifestFeed.deliver(media.filter(col("media_id") < off), root, 0L, 2)
    val q = ManifestFeed.start(s, root, media.schema, ckpt) { (batch, id) =>
      videoIncrementalCommit(batch, outDir, idxDir, id)
    }
    try {
      q.processAllAvailable()
      ManifestFeed.deliver(media.filter(col("media_id") >= off), root, 1L, 2)
      q.processAllAvailable()
    } finally q.stop()
    readSegments(s, outDir)
      .select(col("media_id")).distinct()
      .select(col("media_id"),
        when(col("media_id") < off, 1L).otherwise(2L).as("delivery"))
      .orderBy(col("media_id"))
  }

  /** EXACT-SUBSTRING dedup pairs — the Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", §4) signal, the one
    * dedup family the detectors above deliberately approximate: for
    * every cross-doc pair sharing a VERBATIM token run of ≥ `minRun`
    * tokens, the length of the longest shared run and the count of
    * qualifying runs. MinHash estimates set similarity (misses a short
    * verbatim quote inside two long distinct docs), winnowing
    * guarantees a shared FINGERPRINT for ≥ w+k−1 runs but reports
    * match mass, not extents — this reports the exact extent, the
    * quantity the reference pipeline's span-removal policies cut on.
    *
    * Construction (gram-anchored, no suffix array): a shared verbatim
    * run of R tokens is EXACTLY a chain of R−k+1 consecutive shared
    * k-gram positions on one (pa − pb) diagonal, so: positional gram
    * hashes (native codegen'd pass, no gram strings) → capped inverted
    * index (≥2 distinct docs, ≤ maxDf total OCCURRENCES — the
    * stop-gram discipline, see [[exactRunsStage]]; ubiquitous corpus
    * boilerplate is dropped and any run crossing a capped gram splits,
    * in both engines identically) → matched positions joined on the
    * hash → gaps-and-islands of consecutive `pa` within each
    * (a, b, diagonal) group; run length = island size + k − 1.
    *
    * Scale shape: one shuffle of the capped gram index on the hash;
    * candidates are gram-mates only, never the O(n²) pair space, and
    * the OCCURRENCE cap (not just distinct docs — see
    * [[exactRunsStage]]) bounds the per-gram position fan-out; the
    * island window is partitioned by (pair, diagonal) — bounded by the
    * shorter document's length. hash60 collisions would need 2^60
    * birthday mass to matter and the oracle runs the SAME hash, so the
    * gate compares identical semantics.
    */
  def dedupExactRuns(s: SparkSession, dir: String, k: Int = 8,
      maxDf: Int = 64, minRun: Int = 16): DataFrame =
    dedupExactRunsDf(Tables.documents(s, dir), k, maxDf, minRun)

  /** Shared pair stage of the exact-runs family (the report and the
    * apply aggregate the SAME runs relation — one implementation, so
    * the engines cannot diverge on one query but not the other):
    * persisted single-pass (doc_id, toks, gh) base (count() barrier —
    * the gram explode feeds the cap aggregate and BOTH self-join
    * sides, and the apply's rewrite reads toks from the same cache) →
    * capped inverted index → matched positions → diagonal islands.
    * Returns (base, runs) with runs = (a, b, s, e, run_len): [s, e)
    * the run's token extent in the HIGHER doc b.
    *
    * Cap discipline — BOTH conditions matter, differently:
    * `count(DISTINCT doc_id) >= 2` because a single-doc gram can
    * produce no cross-doc pair, and `count(*) <= maxDf` on TOTAL
    * occurrences because the position self-join emits up to occ²
    * matched pairs per gram — a distinct-doc-only cap (the first
    * shipped version) let two documents sharing a long REPEATED-token
    * region (padding, separators, ASCII art: df = 2, occ = thousands)
    * explode the join quadratically. The occurrence cap is the same
    * rule `dedupWinnow` applies to its fingerprint index. Consequence,
    * identical in both engines: a run crossing a capped gram splits,
    * and content repeated beyond the cap is EXEMPT from this detector
    * (the pair report's 70-identical-docs spec pins that).
    */
  private def exactRunsStage(documents: DataFrame, k: Int,
      maxDf: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val base = graft.Par.spread(documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), gramHashes(col("toks"), k).as("gh"))
      .persist()
    base.count() // materialize once before the multi-consumer explode
    val grams = base.select(col("doc_id"),
      posexplode(col("gh")).as(Seq("pos", "g")))
    val keep = grams.groupBy(col("g"))
      .agg(count_distinct(col("doc_id")).as("df"), count(lit(1)).as("occ"))
      .filter(col("df") >= 2 && col("occ") <= maxDf)
      .select(col("g"))
    val g2 = grams.join(keep, Seq("g"))
    val m = g2.select(col("g"), col("doc_id").as("a"), col("pos").as("pa"))
      .join(g2.select(col("g"), col("doc_id").as("b"), col("pos").as("pb")),
        Seq("g"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("pa"), col("pb"),
        (col("pa") - col("pb")).as("d"))
    (base, diagonalRuns(m, k))
  }

  /** Diagonal-island construction shared by the one-shot stage and the
    * incremental step: matched positions (a, b, pa, pb, d = pa − pb) →
    * islands of consecutive pa within each (a, b, d) group →
    * runs(a, b, s, e, run_len), [s, e) the extent in the higher doc b.
    */
  private def diagonalRuns(m: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRun = Window.partitionBy(col("a"), col("b"), col("d")).orderBy(col("pa"))
    m.withColumn("grp", col("pa") - row_number().over(wRun))
      .groupBy(col("a"), col("b"), col("d"), col("grp"))
      .agg(min(col("pb")).cast(LongType).as("s"),
        (max(col("pb")) + lit(k)).cast(LongType).as("e"),
        (count(lit(1)) + lit(k - 1)).as("run_len"))
  }

  /** The pair report shared by the one-shot and incremental queries:
    * per (a, b) the longest run and the count of qualifying runs.
    */
  private def runsReport(runs: DataFrame, minRun: Int): DataFrame =
    runs.groupBy(col("a"), col("b"))
      .agg(max(col("run_len")).cast(LongType).as("max_run_tokens"),
        sum(when(col("run_len") >= minRun, 1L).otherwise(0L)).as("n_runs"))
      .filter(col("max_run_tokens") >= minRun)
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("max_run_tokens"), col("n_runs"))

  def dedupExactRunsDf(documents: DataFrame, k: Int, maxDf: Int,
      minRun: Int): DataFrame = {
    val (_, runs) = exactRunsStage(documents, k, maxDf)
    runsReport(runs, minRun).orderBy(col("doc_a"), col("doc_b"))
  }

  /** The APPLY step of exact-substring dedup — what the Lee et al.
    * pipeline actually does with the runs: DELETE them, keeping the
    * FIRST occurrence (every doc cuts the token spans it shares
    * verbatim with any LOWER doc_id — doc_a keeps its copy, doc_b
    * loses it — so of every duplicated ≥minRun substring THE INDEX CAN
    * SEE, one copy survives the corpus rewrite; content repeated
    * beyond the occurrence cap is exempt by the [[exactRunsStage]]
    * discipline, so a >maxDf-way duplicated block keeps all its
    * copies — the cap trades that tail for a bounded join, in both
    * engines identically). Each qualifying run's extent in the HIGHER
    * doc ([min pb, max pb + k)) becomes a cut span, spans union-merge
    * per doc (varying lengths → running-max gaps-and-islands), and the
    * rewrite reuses the boilerplate-apply HOF pattern (no second
    * corpus explode; spans per doc are tiny).
    *
    * Scale shape: the pair stage is [[exactRunsStage]]'s (shared with
    * the report); the merge window is per-doc (bounded by a doc's span
    * count); the rewrite is one narrow pass over the stage's persisted
    * (toks, gh) base.
    */
  def dedupExactRunsApply(s: SparkSession, dir: String, k: Int = 8,
      maxDf: Int = 64, minRun: Int = 16): DataFrame =
    dedupExactRunsApplyDf(Tables.documents(s, dir), k, maxDf, minRun)

  def dedupExactRunsApplyDf(documents: DataFrame, k: Int, maxDf: Int,
      minRun: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (base, runs) = exactRunsStage(documents, k, maxDf)
    val spans0 = runs.filter(col("run_len") >= minRun)
      .select(col("b").as("doc_id"), col("s"), col("e"))
      .distinct()
    // union-of-intervals merge: spans have varying lengths, so the
    // island break is against the running MAX end over preceding spans
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val merged = spans0
      .withColumn("prev_end",
        max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_end").isNull || col("s") >= col("prev_end"), 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_island")).over(wOrd))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val spans = merged.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    // Native span-cut kernel: the HOF formulation (filter × nested
    // exists) is interpreted per TOKEN and drops the whole rewrite
    // projection out of whole-stage codegen (HOFs don't codegen) —
    // the corpus-wide cpu tax behind this query's r14 min-cpu spread.
    // SpanCutExpr keeps the pass codegen'd end to end; the isNull arm
    // skips even the kernel call for span-less docs (the vast
    // majority at any scale).
    val kept = when(col("spans").isNull, col("toks"))
      .otherwise(graft.functions.TextFunctions.spanCut(
        col("toks"), col("spans")))
    base.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast(LongType).as("n_before"),
        size(kept).cast(LongType).as("n_after"),
        array_join(kept, " ").as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** One incremental delivery of the exact-substring detector — the
    * gram inverted index is append-friendly (each doc's positional
    * grams are written once and never change), so the runs report can
    * be maintained delivery by delivery the way `incrementalCommit`
    * maintains MinHash signatures:
    *
    *  - the batch's positional grams are computed once (persist +
    *    count barrier — the cap aggregate and both join sides consume
    *    them);
    *  - the occurrence cap (≥2 distinct docs, ≤maxDf TOTAL occurrences
    *    — same discipline as [[exactRunsStage]]) is evaluated over
    *    index ∪ batch, i.e. over every document seen SO FAR: a gram
    *    that is usable at delivery d may be over-cap at d+1, in which
    *    case later deliveries simply stop matching through it while
    *    earlier reports stand — the natural streaming semantics, and
    *    exactly what the two-step oracle mirrors;
    *  - matched positions pair the BATCH side against index ∪ batch
    *    (never index × index — those pairs were reported when their
    *    newer doc arrived), normalized to (a, b) = (min, max) id and
    *    deduped, then the same diagonal-island construction and report
    *    as the one-shot query.
    *
    * Returns (reportDelta, batchGrams, accumulatedGrams) — batch and
    * accumulated handles exposed so the caller can reuse the cached
    * batch grams (the sink writes them as its index delta) and
    * unpersist both once its actions complete. Scale note: THIS step
    * joins the batch against the full accumulated gram relation; at
    * 100 TB the index side is a gram-bucketed store so the join prunes
    * to the batch's gram buckets — the sink below keeps per-batch gram
    * segments exactly so a bucketed rewrite stays a storage-layout
    * change, not a semantics change.
    */
  def exactRunsIncrementalStep(batch: DataFrame, idxGrams: DataFrame,
      k: Int = 8, maxDf: Int = 64, minRun: Int = 16)
      : (DataFrame, DataFrame, DataFrame) = {
    val batchGrams = graft.Par.spread(batch.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        posexplode(gramHashes(tokens(col("text")), k)).as(Seq("pos", "g")))
      .persist()
    val all = idxGrams.unionByName(batchGrams).persist()
    // one barrier materializes BOTH caches: computing the union reads
    // batchGrams through its fresh InMemoryRelation, populating it —
    // a separate batchGrams.count() would just tokenize the batch a
    // second time (review r14)
    all.count()
    // occ counts DISTINCT (doc, pos) — not rows — so the whole step is
    // duplicate-row-inert: after a crash between gram-segment
    // compaction and the checkpoint commit, a replayed batch can see
    // its own grams BOTH in the folded segment and live; distinct
    // occurrence counting (plus the matched-position distinct below)
    // makes the replayed report identical anyway. Equal to count(*)
    // whenever the index carries no duplicates. One-shot
    // exactRunsStage keeps count(*): its grams are unique (doc, pos)
    // by construction.
    val keep = all.groupBy(col("g"))
      .agg(count_distinct(col("doc_id")).as("df"),
        count_distinct(struct(col("doc_id"), col("pos"))).as("occ"))
      .filter(col("df") >= 2 && col("occ") <= maxDf)
      .select(col("g"))
    val allK = all.join(keep, Seq("g"))
    val batchK = batchGrams.join(keep, Seq("g"))
    val m = allK.select(col("g"), col("doc_id").as("xd"), col("pos").as("xp"))
      .join(batchK.select(col("g"), col("doc_id").as("yd"), col("pos").as("yp")),
        Seq("g"))
      .filter(col("xd") =!= col("yd"))
      .select(least(col("xd"), col("yd")).as("a"),
        greatest(col("xd"), col("yd")).as("b"),
        when(col("xd") < col("yd"), col("xp")).otherwise(col("yp")).as("pa"),
        when(col("xd") < col("yd"), col("yp")).otherwise(col("xp")).as("pb"))
      .distinct() // batch-batch pairs arrive in both orders
      .withColumn("d", col("pa") - col("pb"))
    (runsReport(diagonalRuns(m, k), minRun), batchGrams, all)
  }

  private def gramIndexSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", LongType),
      org.apache.spark.sql.types.StructField("pos",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("g", LongType)))

  private[graft] def emptyGramIndex(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      gramIndexSchema)

  /** Segment directories with batch id < `before` (replay exclusion:
    * a replayed batch must not see its own crashed attempt's grams),
    * plus every `seg_compact_*` fold — folds only ever contain
    * already-committed batches' grams, and the one crash window where
    * a fold can hold the CURRENT batch's grams (crash between
    * compaction and checkpoint commit) is made harmless by the
    * distinct-occurrence cap and matched-position distinct (see
    * [[exactRunsIncrementalStep]]).
    */
  private def gramSegmentsBefore(s: SparkSession, indexDir: String,
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
    if (segs.isEmpty) emptyGramIndex(s) else Reads.parquet(s, segs: _*)
  }

  /** One durable exact-runs delivery: report delta + gram delta land
    * as per-batch segment directories (outDir/seg_<id>,
    * indexDir/seg_<id>), both mode("overwrite") into a
    * batchId-determined path. Idempotent under replay by SEGMENT-ID
    * EXCLUSION: the step reads only gram segments with id < batchId,
    * so a replay sees exactly the state the crashed attempt saw,
    * recomputes the identical delta, and overwrites its own segments —
    * the same crash analysis as `incrementalCommit`, with the
    * self-match window closed structurally instead of by the
    * same-doc_id filter.
    */
  def exactRunsCommit(batch: DataFrame, outDir: String, indexDir: String,
      batchId: Long, k: Int = 8, maxDf: Int = 64, minRun: Int = 16): Unit = {
    val s = batch.sparkSession
    val (rep, batchGrams, acc) =
      exactRunsIncrementalStep(batch, gramSegmentsBefore(s, indexDir, batchId),
        k, maxDf, minRun)
    try {
      rep.withColumn("delivery", lit(batchId + 1))
        .write.mode("overwrite").parquet(s"$outDir/seg_$batchId")
      // the gram DELTA only, straight from the step's cache — the
      // accumulated relation is the union of segments, never rewritten
      // (append-only index)
      batchGrams.write.mode("overwrite").parquet(s"$indexDir/seg_$batchId")
    } finally { batchGrams.unpersist(); acc.unpersist() }
  }

  /** The exact-runs pipeline as a STREAMING sink (verdict r13 #6):
    * each micro-batch of (doc_id, text) runs one `exactRunsCommit`.
    * Read the accumulated report back with `readSegments(s, outDir)`.
    *
    * Compaction parity with `startIncrementalSink`: `compactEvery` /
    * `maxSegments` fold the GRAM segments (dedup on (doc_id, pos, g)
    * — a gram row is identified by its position) so a long-lived sink
    * bounds its segment-directory population; folds compose with the
    * replay exclusion because `gramSegmentsBefore` always includes
    * them and the step is duplicate-row-inert (see there for the
    * crash-window argument).
    */
  def startExactRunsSink(docs: DataFrame, outDir: String, indexDir: String,
      checkpointDir: String, k: Int = 8, maxDf: Int = 64, minRun: Int = 16,
      compactEvery: Int = 0, maxSegments: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        exactRunsCommit(batch, outDir, indexDir, batchId, k, maxDf, minRun)
        maybeCompact(batch.sparkSession, indexDir, batchId, compactEvery,
          maxSegments, dedupKeys = Seq("doc_id", "pos", "g"))
        ()
      }
      .start()

  /** Registered two-delivery exercise of the DURABLE incremental
    * exact-runs pipeline (the 144th oracle row): the corpus split by
    * doc_id parity arrives as two micro-batches through a real file
    * source and `startExactRunsSink`; the accumulated report segments
    * are read back and hash-checked against a relational two-step
    * oracle (delivery 1: runs among the evens under the evens-only
    * cap; delivery 2: pairs with ≥1 odd endpoint under the full-corpus
    * cap). Planted near-dup pairs straddle the parity split, so the
    * cross-delivery match path does real work; a hash match certifies
    * the durable path (segment read → capped index ∪ batch → diagonal
    * islands → segment write) computes exactly the declarative
    * two-step semantics.
    */
  def dedupExactRunsIncremental(s: SparkSession, dir: String): DataFrame = {
    // per-process scratch root, swept + reused across invocations (a
    // temp dir per call accumulated a corpus copy per gate iteration)
    val root = graft.store.StoreRoot.scratchRoot("exact_runs_incr")
    val (outDir, idxDir, ckpt) = (s"$root/out", s"$root/idx", s"$root/ckpt")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    // manifest-gated multi-file deliveries — see txDsirIncremental and
    // graft.streaming.ManifestFeed for the atomicity mechanism that
    // replaced the coalesce(1)-per-delivery convention
    import graft.streaming.ManifestFeed
    ManifestFeed.deliver(docs.filter(col("doc_id") % 2 === 0), root, 0L, 2)
    val q = ManifestFeed.start(s, root, docs.schema, ckpt) { (batch, id) =>
      exactRunsCommit(batch, outDir, idxDir, id)
    }
    try {
      q.processAllAvailable()
      ManifestFeed.deliver(docs.filter(col("doc_id") % 2 === 1), root, 1L, 2)
      q.processAllAvailable()
    } finally q.stop()
    readSegments(s, outDir)
      .orderBy(col("delivery"), col("doc_a"), col("doc_b"))
  }

  /** Winnowed-fingerprint near-dup pairs (the MOSS pair report): doc
    * pairs sharing winnow-selected 5-gram hashes, with the count of
    * shared fingerprints as the match mass. Complements the other
    * families: MinHash estimates SET similarity (misses a short verbatim
    * run inside two long distinct docs), SimHash thresholds global
    * Hamming distance — winnowing GUARANTEES a pair for any shared run
    * of ≥ w + k − 1 = 8 tokens while indexing only ~2/(w+1) of the gram
    * positions (tx_winnow's selection).
    *
    * Scale shape: inverted fingerprint→doc index, one shuffle on the
    * hash; candidates are fingerprint-mates only, never the O(n²) pair
    * space. `maxDf` drops ubiquitous fingerprints (corpus boilerplate —
    * a hash in d docs yields d·(d−1)/2 pairs, the same stop-shingle
    * discipline as dedupNgramJaccard's cap); the spread guard keeps the
    * CPU-heavy hash+winnow scan off a single input split.
    */
  def dedupWinnow(s: SparkSession, dir: String, k: Int = 5, w: Int = 4,
      maxDf: Int = 64): DataFrame =
    dedupWinnowDf(Tables.documents(s, dir), k, w, maxDf)

  def dedupWinnowDf(documents: DataFrame, k: Int, w: Int,
      maxDf: Int): DataFrame = {
    // Eager checkpoint (r18): the winnowed-fingerprint relation is read
    // by THREE consumer subtrees (the df census and both sides of the
    // inverted-index self-join), and none canonicalize identically —
    // the r18-before plan ran the gram-hash + winnow scan (the query's
    // CPU) up to 4× (8 parquet scans, 0 reused exchanges). The
    // materialized relation is two longs per selected fingerprint
    // (~2/(w+1) of gram positions) — linear in corpus tokens.
    // localCheckpoint over persist(DISK_ONLY): measured posture, see
    // Hybrid.hybridTopkDf (2.5× cpu + lost AQE coalescing on the
    // cached-plan alternative; executor-loss retry is accepted).
    val prints = graft.Par.spread(documents.select(col("doc_id"), col("text")))
      .select(col("doc_id"), gramHashes(tokens(col("text")), k).as("h"))
      .filter(size(col("h")) >= 1)
      .select(col("doc_id"), explode(winnowFingerprints(col("h"), w)).as("gh"))
      .localCheckpoint()
    val hot = prints.groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("gh"))
    val p2 = prints.join(hot, Seq("gh"))
    p2.select(col("gh"), col("doc_id").as("doc_a"))
      .join(p2.select(col("gh"), col("doc_id").as("doc_b")), Seq("gh"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared_prints"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** `dedup_band_stats` — the banded dedup families' occupancy
    * introspection (r17 verdict #1's "loud report"; the
    * `emb_ivf_cell_stats` twin for the band space): per family, the
    * pre-collapse volume, the identical-fingerprint group structure
    * the exact pre-collapse removes, and the REPRESENTATIVE band
    * occupancy against [[BandGuard.HotBandCap]]. `hot_bands > 0` is
    * precisely the corpus shape the sub-split (media) / cap (minhash)
    * machinery exists for; at every tested scale factor
    * `max_band_occ` sits orders of magnitude below the cap, which is
    * what certifies that the cap never fires on the oracle corpora.
    */
  def dedupBandStats(s: SparkSession, dir: String): DataFrame = {
    val (rows, cached) = dedupBandStatsRows(s, dir)
    val out = rows.localCheckpoint(true)
    cached.foreach(_.unpersist())
    out
  }

  /** The pre-checkpoint plan of [[dedupBandStats]] plus the persisted
    * relations it must not unpersist until materialized — split out so
    * the plan (5 family legs) is inspectable by `tools.Explain`; the
    * registered query's own explain shows only the checkpoint scan.
    */
  private[graft] def dedupBandStatsRows(s: SparkSession,
      dir: String): (DataFrame, Seq[DataFrame]) = {
    import graft.operators.Multimodal
    val cap = BandGuard.HotBandCap
    val docs = Tables.documents(s, dir)

    // minhash: bespoke row (8 string-keyed bands of 2 signature slots
    // over the text-collapse representatives; shingle-less docs emit
    // no signature and are outside the band space by contract)
    val mGroups = docs
      // same relation as size(shingles(text,3)) > 0 — ShinglesExpr
      // returns empty iff token count < n — without building the gram
      // SET per row just to test emptiness (r18)
      .filter(size(tokens(col("text"))) >= 3)
      // the signature rides THROUGH the collapse (r19): members of an
      // md5-group share their text, so their sigs are identical and
      // (th, sig) groups exactly as th alone — the occupancy leg below
      // reads the persisted group table instead of re-scanning the
      // corpus (semi-join + a second shingle+minhash pass over reps,
      // the r18-verdict #1 cost: one saved corpus scan beats re-hashing
      // dup members at any dup rate once the corpus outgrows page
      // cache, guide §2.3/§2.4). sig sits in the GROUPING KEY, not an
      // aggregate: first(array) is an immutable-buffer aggregate and
      // demotes the whole collapse to SortAggregate; as a key it stays
      // a two-phase HashAggregate.
      .select(col("doc_id"), md5(col("text")).as("th"),
        minhashSig(shingles(col("text"), 3), 16).as("sig"))
      .groupBy(col("th"), col("sig"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("members"))
      .persist()
    val mgStats = mGroups.agg(
      coalesce(sum(col("members")), lit(0L)).cast(LongType).as("n_raw"),
      count(lit(1)).as("n_reps"),
      coalesce(sum(when(col("members") > 1, 1L)), lit(0L)).cast(LongType)
        .as("n_dup_groups"),
      coalesce(max(col("members")), lit(0L)).cast(LongType).as("max_group"))
    val mOcc = mGroups
      .select(col("doc_id"), explode(sequence(lit(0), lit(7))).as("band"),
        col("sig"))
      .withColumn("band_key", bandKey2(col("sig"), col("band")))
      .groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("occ"))
    val mbStats = mOcc.agg(
      count(lit(1)).as("n_band_keys"),
      coalesce(max(col("occ")), lit(0L)).cast(LongType).as("max_band_occ"),
      coalesce(sum(when(col("occ") > cap, 1L)), lit(0L)).cast(LongType)
        .as("hot_bands"))
    val minhashRow = mgStats.crossJoin(broadcast(mbStats))
      .select(lit("minhash").as("family"), col("n_raw"), col("n_reps"),
        col("n_dup_groups"), col("max_group"), col("n_band_keys"),
        col("max_band_occ"), col("hot_bands"), lit(cap.toLong).as("hot_cap"))

    // 60-bit Hamming families through the shared BandGuard helper
    // (token-less docs are outside the simhash oracle's fp relation —
    // mirror that boundary)
    val simhashRow = BandGuard.bandStats(
      docs.filter(size(tokens(col("text"))) > 0)
        .select(col("doc_id"), simhash60(tokens(col("text"))).as("fp")),
      "doc_id", Nil, "simhash", cap)
    // the media fingerprint relations used to be persisted here because
    // bandStats aggregated them twice; since the combined-collapse pass
    // (r19) each is consumed by exactly ONE aggregate — a persist would
    // only add cache traffic
    val pFps = Multimodal.mmPhashFingerprints(s, dir)
      .select(col("media_id"), col("phash60").as("fp"))
    val aFps = Multimodal.mmAudioFingerprints(s, dir)
      .select(col("media_id"), col("audfp60").as("fp"))
    val vFps = Multimodal.mmVideoFingerprints(s, dir)
      .select(col("media_id"), col("frame_idx"), col("fp60").as("fp"))
    val rows = minhashRow
      .unionByName(simhashRow)
      .unionByName(BandGuard.bandStats(pFps, "media_id", Nil, "phash", cap))
      .unionByName(BandGuard.bandStats(aFps, "media_id", Nil, "audio", cap))
      .unionByName(BandGuard.bandStats(vFps, "media_id", Seq("frame_idx"),
        "video", cap))
      .orderBy(col("family"))
    (rows, Seq(mGroups))
  }
}
