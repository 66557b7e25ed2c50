package graft.streaming

import graft.Reads
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured-streaming jobs mirroring the reference's streaming surface
  * (SURVEY.md §2.9):
  *  - continuous aggregates (A12, init.sql:324-368) as watermarked
  *    windowed aggregation — the reference's `end_offset => 1 hour`
  *    refresh lag IS the watermark;
  *  - threshold alerting (T10, consumer.py:359-508) as a streaming
  *    filter/classify;
  *  - per-parent sibling-sensor context (T11, consumer.py:350-432) as
  *    flatMapGroupsWithState WITH timeout eviction (the reference's
  *    in-memory dict grows unboundedly — deliberate improvement,
  *    SURVEY.md §7.4#6);
  *  - idempotent batched sink (S5/L5, timescaledb_sink.py:169-237) as
  *    foreachBatch dedup + append.
  *
  * All transforms take a (possibly streaming) DataFrame with the events
  * schema (ts TIMESTAMP_NTZ, user_id LONG, event_type STRING,
  * value DOUBLE) so batch tests and streaming runs share one code path.
  */
object Streams {

  /** A12: hourly rollup with 1-hour watermark. In append mode a window
    * only materializes once the watermark passes — exactly the
    * reference's "never refresh the most recent hour" semantics.
    *
    * `sum_value` is an EXACT decimal sum (graft.Cols policy): the
    * rollup is a MATERIALIZED table that later unions with freshly
    * aggregated tails and partition refreshes (store/Backfill), and a
    * float sum's low bits would depend on which path computed each
    * bucket — the exact decimal makes the stored rollup equal to the
    * direct aggregation bit-for-bit in any engine and any order (the
    * `served_hourly` oracle row certifies exactly that).
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        // count(value) stored alongside count(*): the served avg
        // divides by THIS, matching the reference continuous
        // aggregate's AVG(value) null-skipping semantics (init.sql
        // AVG) instead of silently relying on a null-free fixture
        // (advice r14)
        count(col("value")).as("n_value"),
        sum(graft.Cols.dec2(col("value"))).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("n_value"), col("sum_value"),
        col("min_value"), col("max_value"))

  /** W4's streaming twin: per-user SESSION windows closed by an
    * inactivity gap (session_window + watermark). State per open
    * session only; a session materializes once the watermark passes its
    * close — the same append-mode discipline as the hourly rollup.
    */
  def sessionRollup(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Source-side duplicate-delivery dedup with BOUNDED state (L5's
    * in-flight half): `dropDuplicatesWithinWatermark` keeps each key's
    * fingerprint only until the event-time watermark passes it, so
    * state is O(keys per horizon) instead of O(all keys ever) — the
    * difference between a dedup stage that survives a year of uptime
    * and one that OOMs. Duplicates delivered WITHIN the horizon (the
    * at-least-once-source case: retries, rebalances, replays) are
    * dropped in-flight; anything later than the horizon is by contract
    * the transactional sink's anti-join's job (`startDedupSink`), which
    * is exactly how the two layers compose in the reference's
    * batch+ON CONFLICT pipeline.
    */
  def streamDedup(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** T10 as a stream: alert classification, non-alerts dropped. */
  def alerts(events: DataFrame): DataFrame =
    events
      .withColumn("alert_level",
        when(col("event_type") === "error" && col("value") > 300, "CRITICAL")
          .when(col("event_type") === "error", "WARNING")
          .when(col("value") > 450, "HIGH_VALUE"))
      .filter(col("alert_level").isNotNull)

  case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class DeviceCtx(latest: Map[String, Double], nSeen: Long)

  case class AnomalyWithContext(user_id: Long, event_id: Long,
      event_type: String, value: Double, siblings: Map[String, Double])

  /** T11: keyed state holding the latest value per event_type for each
    * device; every anomalous event ('error') is emitted enriched with
    * the latest sibling readings. ProcessingTimeTimeout evicts idle
    * devices — bounded state, unlike the reference.
    */
  def anomalyContext(events: Dataset[EventRow],
      timeoutMs: Long = 3600 * 1000L): Dataset[AnomalyWithContext] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[DeviceCtx, AnomalyWithContext](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (userId, rows, state: GroupState[DeviceCtx]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var ctx = state.getOption.getOrElse(DeviceCtx(Map.empty, 0L))
            val out = rows.toSeq.sortBy(_.event_id).flatMap { r =>
              val res =
                if (r.event_type == "error")
                  Some(AnomalyWithContext(userId, r.event_id, r.event_type,
                    r.value, ctx.latest - "error"))
                else None
              ctx = DeviceCtx(ctx.latest + (r.event_type -> r.value), ctx.nSeen + 1)
              res
            }
            state.update(ctx)
            state.setTimeoutDuration(timeoutMs)
            out.iterator
          }
      }
  }

  /** Stream-stream event-time join (J2's cross-STREAM form): every
    * error event joined to the same device's click events within the
    * preceding `windowSec` seconds, both sides watermarked so the join
    * state is BOUNDED — a buffered click can be dropped once the error
    * stream's watermark guarantees no error can still reach back to it
    * (Spark derives the eviction bound from the time-interval predicate
    * + both watermarks; without the interval condition the state would
    * grow forever). Append mode: a pair emits once both sides are past
    * doubt. The equi-key (user_id) keeps it one state-store shuffle.
    */
  def errorClickJoin(errors: DataFrame, clicks: DataFrame,
      windowSec: Int = 600, delay: String = "1 hour"): DataFrame = {
    val e = errors
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", delay)
      .select(col("user_id"), col("event_id").as("error_id"),
        col("ts").as("error_ts"), col("value").as("error_value"))
    val c = clicks
      .withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", delay)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    e.join(c,
      col("user_id") === col("c_user") &&
        col("click_ts") >= col("error_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
        col("click_ts") < col("error_ts"))
      .select(col("user_id"), col("error_id"), col("error_ts"),
        col("error_value"), col("click_id"), col("click_ts"))
  }

  /** Crash-injection points for the transactional sink's replay test. */
  sealed trait CrashPoint
  case object NoCrash extends CrashPoint
  case object CrashAfterStage extends CrashPoint
  case object CrashAfterPromote extends CrashPoint

  /** S5/L5: TRANSACTIONAL idempotent micro-batch commit (the reference's
    * ON CONFLICT DO NOTHING, timescaledb_sink.py:169-237, plus the
    * rename-promotion discipline of Lifecycle.compact):
    *
    *  1. a `_committed/batch-N` marker short-circuits a fully committed
    *     batch replayed after a crash between commit and checkpoint;
    *  2. ONE exchange, on `event_date`, carries the whole commit: the
    *     batch is hash-partitioned by date, deduped on the natural key
    *     inside that exchange and pinned, and the action that pins it
    *     also reports the touched dates. Keys that hit the touched
    *     dates' committed blooms send the copy through an exact
    *     anti-join against those dates' committed key segments (a
    *     broadcast build side, so the copy keeps its partitioning); the
    *     rows left, one key segment and one bloom per touched date are
    *     written to a `_staging` dir — never directly into the live
    *     tree;
    *  3. staged files are promoted by per-file rename into the live
    *     partition dirs, then the marker is written and staging dropped.
    *
    * Crash safety: `_staging`/`_committed` start with '_' so readers
    * never see them. A crash mid-promote leaves some rows live without a
    * marker — the REPLAY rolls the partial promote back BY FILE PREFIX,
    * unconditionally whenever the marker is absent (idempotent: a first
    * attempt's rollback deletes nothing), then recommits from scratch,
    * so the protocol converges to exactly-once regardless of where the
    * previous attempt died. (The rollback is the idempotency mechanism;
    * the marker is the fast path.)
    *
    * Metadata growth, consciously bounded rather than eliminated: one
    * marker per commit accumulates in `_committed` for the table's
    * lifetime — rollback-by-prefix and migration detection depend on
    * committed prefixes staying resolvable, so markers are never GC'd.
    * The per-commit listing cost this adds is bounded in practice by
    * DATE PARTITIONING: a partition is hot only while its day is
    * current, so commits-per-partition (and, with the one-file-per-
    * commit staged write, files-per-partition) are bounded by one
    * day's commit count — the 500-commit LongRunKeyedSink profile
    * measures the flat regime. Folding markers away would need
    * data-file compaction that re-adopts files under one compacted
    * prefix, i.e. a manifest format — which the plain-parquet
    * any-reader contract (DuckDB reads these trees directly)
    * deliberately excludes.
    *
    * `epoch` scopes the marker to one sink INCARNATION: batch ids are
    * only meaningful within a single checkpoint lineage, so a stream
    * restarted against the same table with a FRESH checkpoint (new ids,
    * different batch composition) must not match the old incarnation's
    * markers — its batches take the content-keyed anti-join path
    * instead, which is composition-independent. `startDedupSink`
    * derives the epoch from the checkpoint location.
    *
    * `keyedDedup = false` swaps step 2's anti-join for rollback-by-
    * prefix replay (append-exactly-once, no read-back) — see
    * `startDedupSink`'s scaladoc for the semantics trade.
    */
  def commitBatch(batch: DataFrame, outDir: String, batchId: Long,
      crash: CrashPoint = NoCrash,
      keys: Seq[String] = Seq("user_id", "ts"),
      epoch: String = "",
      keyedDedup: Boolean = true): Unit = {
    // the date partitions, the per-date key index and the dedupe all
    // take event_date as a function of the key
    require(keys.contains("ts"), s"commitBatch: keys $keys must include ts")
    val spark = batch.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(hconf)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val marker = p(s"$outDir/_committed/${epoch}batch-$batchId")
    if (fs.exists(marker)) return
    val staging = p(s"$outDir/_staging/${epoch}batch-$batchId")
    // every live file this commit promotes is prefixed with
    // "{epoch}batch{id}-", so a crashed attempt's partial promote can be
    // rolled back by name, without reading any data
    val filePrefix = s"${epoch}batch$batchId-"
    // a copy read by several actions is pinned by a LAZY local
    // checkpoint: the first action over it fills it. (The first action
    // over a persist()ed adaptive plan runs one job to fill the cache
    // and a second for itself.)
    def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)
    def unpin(df: DataFrame): Unit = df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }
    // ONE exchange, on event_date, pinned: the key dedupe rides it
    // (event_date derives from ts, one of the keys, so deduping on keys
    // plus event_date is the key dedupe), each date's rows sit in one
    // partition, and the micro-batch's upstream plan (the decode
    // pipeline, plus any observe() counters riding it) runs once. Every
    // later step reads this copy with no further shuffle.
    val fresh = pin(batch.withColumn("event_date", to_date(col("ts")))
      .repartition(col("event_date"))
      .dropDuplicates(keys :+ "event_date"))
    // abandoned-lineage residue files to adopt once this batch's marker
    // lands (filled by the keyed path's migration step)
    var adoptable: Seq[org.apache.hadoop.fs.Path] = Seq.empty
    try {
      // the action that pins the copy also yields the touched dates:
      // each partition reports its own distinct dates (a distinct or
      // groupBy over the pinned copy would plan a second exchange)
      val touched = fresh.select(col("event_date")).rdd
        .mapPartitions(_.map(_.get(0)).toSet.iterator).collect().distinct
      // each touched date's data and _keyidx dirs are listed ONCE; the
      // rollback, migration, bloom and segment steps share that listing.
      // Rollback-by-prefix runs UNCONDITIONALLY whenever the marker is
      // absent: a crashed attempt's partial promote (data AND keyidx
      // sidecar) is dropped by name, no content read-back. The replayed
      // batch has the same rows (same id, same checkpoint lineage),
      // hence the same touched partitions. Idempotent — it only touches
      // files carrying THIS batch's prefix, so a first attempt deletes
      // nothing. (Gating this on staging residue was a double-crash
      // window: residue was deleted before the rollback ran, so a crash
      // between the two left the next replay with no marker, no
      // residue, and the first attempt's promoted files still live.)
      val listed = touched.map(d =>
        d -> KeyIndex.rollbackPrefix(fs, KeyIndex.listing(fs, outDir, d), filePrefix))
      fs.delete(staging, true) // leftover from a crashed attempt
      // one staged file per touched partition per commit: every staged
      // write reads the date-partitioned copy, so each date's rows come
      // from one task. Without that the write emits every upstream
      // partition's sliver into every date dir, and the per-commit
      // rollback/migration listings then grow linearly with commit
      // count — the long-run profile measured commit cost climbing
      // 1.3 → 3.8 s over 300 commits from exactly this. The price: a
      // genuinely huge micro-batch on few dates runs each date's dedupe,
      // writes and bloom in one task; spreading it would take a per-date
      // file fan-out, the dial Lifecycle.compact exposes.
      def stagedWrite(df: DataFrame, dir: String): Unit =
        df.write.mode("overwrite").partitionBy("event_date").parquet(dir)
      if (!keyedDedup) {
        stagedWrite(fresh, staging.toString)
      } else {
        // keyed mode (the ON CONFLICT DO NOTHING twin): dedup authority
        // is the COMMITTED key sidecar index, not a data read-back.
        // Per-commit cost: load the touched partitions' blooms (KBs) →
        // if no batch key hits any bloom (the common all-new-keys case)
        // the anti-join is skipped entirely; otherwise anti-join against
        // the committed key SEGMENTS (a keys-only scan, still far
        // smaller than the data). Partitions from before the sidecar
        // existed take a one-time migration read-back folded into this
        // commit's segment.
        val prefixes = KeyIndex.committedPrefixes(fs, outDir)
        val migrating = listed.filter { case (_, l) => KeyIndex.needsMigration(l, prefixes) }
        // abandoned-lineage residue (reader-visible files carrying no
        // committed prefix) in the migrating partitions: its keys ride
        // the read-back below into this commit's segment, and the files
        // themselves are adopted under this batch's prefix after the
        // marker lands (see the post-marker step)
        adoptable = migrating.toSeq.flatMap { case (_, l) =>
          KeyIndex.uncoveredDataFiles(l.data, prefixes) }
        val blooms = listed.flatMap { case (_, l) => KeyIndex.loadBlooms(fs, l.idx, prefixes) }
        val hashCol = KeyIndex.keyHashCol(fresh, keys)
        val bloomsB = spark.sparkContext.broadcast(blooms.toArray)
        // driver-merged sketch probed per batch row — a deliberate
        // batch-side-only udf (might_contain needs a bloom built by
        // bloom_filter_agg, which would mean scanning the very keys the
        // sketch exists to avoid reading)
        val bloomHit = udf((h: Long) => bloomsB.value.exists(_.mightContain(h)))
        // every partition reports whether it holds a hit: one job
        // whatever the partition count (a limit-1 probe runs a job per
        // round of partitions it scans)
        val anyCandidate = blooms.nonEmpty && fresh.filter(bloomHit(hashCol)).rdd
          .mapPartitions(rows => Iterator(rows.hasNext)).collect().contains(true)
        val migratedWithDate =
          if (migrating.isEmpty) None
          else Some(Reads.parquet(spark, outDir)
            .filter(col("event_date").isInCollection(migrating.map(_._1).toSeq))
            .select(col("event_date") +: keys.map(col): _*).persist())
        try {
          val segmentFiles =
            if (!anyCandidate) Seq.empty
            else listed.flatMap { case (_, l) => KeyIndex.committedKeyFiles(l.idx, prefixes) }
              .map(_.toString).toSeq
          val existing = Seq(
            if (segmentFiles.nonEmpty)
              Some(Reads.parquet(spark, segmentFiles: _*).select(keys.map(col): _*))
            else None,
            migratedWithDate.map(_.select(keys.map(col): _*))
          ).flatten.reduceOption(_ unionByName _)
          // the anti-join compares keys exactly against a broadcast
          // build side, so its output keeps the copy's date partitioning
          // and is pinned once: the data, the key segment and the blooms
          // all read it, both writes stay one file per touched date, and
          // every date's bloom is sized and built in the same single job
          val staged = existing.fold(fresh)(e =>
            pin(fresh.join(broadcast(e), keys, "left_anti")))
          try {
            stagedWrite(staged, staging.toString)
            // sidecar segment for this commit: the keys it inserts, plus
            // the migration read-back keys (so the partition is fully
            // covered the moment this batch's marker lands)
            val inserted = staged.select(col("event_date") +: keys.map(col): _*)
            val segKeys = migratedWithDate.fold(inserted)(m =>
              inserted.unionByName(m).repartition(col("event_date")))
            stagedWrite(segKeys, s"$staging/_keyidx")
            // one bloom per touched partition over that segment's keys,
            // staged beside it (promoted + prefix-named with the rest)
            KeyIndex.bloomsByDate(segKeys, col("event_date"), keys)
              .foreach { case (d, bloom) =>
                KeyIndex.writeBloom(fs,
                  p(s"$staging/_keyidx/event_date=$d/bloom.bin"), bloom)
              }
          } finally unpin(staged)
        } finally migratedWithDate.foreach(_.unpersist())
      }
    } finally unpin(fresh)
    if (crash == CrashAfterStage) throw new RuntimeException("injected crash: after stage")
    // promote: move each staged partition's files into the live tree
    // under this batch's prefix — the data, then (keyed mode) the key
    // sidecar's segments and blooms, which land under _keyidx,
    // authoritative only once the marker below exists and rolled back
    // by prefix like the data on replay
    def promote(from: String, to: String)(named: (String, Int) => String): Unit =
      if (fs.exists(p(from)))
        fs.listStatus(p(from))
          .filter(d => d.isDirectory && d.getPath.getName.startsWith("event_date="))
          .foreach { part =>
            val target = p(s"$to/${part.getPath.getName}")
            fs.mkdirs(target)
            fs.listStatus(part.getPath)
              .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
              .zipWithIndex.foreach { case (f, i) =>
                val dst = new org.apache.hadoop.fs.Path(target, named(f.getPath.getName, i))
                fs.delete(dst, true) // idempotent re-promote
                if (!fs.rename(f.getPath, dst))
                  throw new java.io.IOException(s"promote: cannot move ${f.getPath}")
              }
          }
    promote(staging.toString, outDir)((name, _) => s"$filePrefix$name")
    promote(s"$staging/_keyidx", s"$outDir/_keyidx")((name, i) =>
      if (name == "bloom.bin") s"${filePrefix}bloom.bin" else s"${filePrefix}keys-$i.parquet")
    if (crash == CrashAfterPromote) throw new RuntimeException("injected crash: after promote")
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    // adopt abandoned-lineage residue under this batch's NOW-COMMITTED
    // prefix: the migration read-back already folded these files' keys
    // into this batch's marker-gated segment, so the rename makes
    // `needsMigration` see the partition as covered from the next
    // commit on. Ordering is the safety argument: adoption runs
    // strictly AFTER the marker, and rollback-by-prefix only runs when
    // the marker is ABSENT — an adopted file can never be deleted as a
    // "partial promote". A crash mid-adoption leaves the remainder
    // uncovered; the next commit re-runs the (idempotent) read-back and
    // retries. A failed rename is likewise left for the next commit —
    // the data is already durable, so the commit must not fail here.
    adoptable.foreach { f =>
      val dst = new org.apache.hadoop.fs.Path(
        f.getParent, s"${filePrefix}adopted-${f.getName}")
      try fs.rename(f, dst) catch { case _: java.io.IOException => () }
    }
    fs.delete(staging, true)
  }

  /** `keyedDedup = true` (default) keeps the reference's idempotent-
    * insert semantics: duplicate natural keys arriving in ANY batch are
    * dropped — the TimescaleDB `ON CONFLICT DO NOTHING` twin. Since the
    * key sidecar index (`KeyIndex`), its per-commit cost is BOUNDED:
    * bloom loads (KBs per prior commit to the touched partitions) plus
    * a keys-only segment anti-join ONLY when some batch key hits a
    * bloom — an all-new-keys commit never scans any keys. Authority is
    * marker-gated: only committed segments dedup, and both data and
    * sidecar of a crashed attempt are rolled back by prefix on replay
    * (the replayed micro-batch is assumed row-identical, which the
    * checkpoint WAL guarantees). Residue from an ABANDONED lineage that
    * crashed mid-promote — unmarked files a replay will never roll
    * back, but visible to every reader — is detected by
    * `KeyIndex.needsMigration` (no committed prefix covers it), folded
    * into the next commit's read-back + segment, and the files adopted
    * under that commit's prefix: the ON-CONFLICT-DO-NOTHING contract
    * holds even against a table a previous incarnation died writing.
    * `keyedDedup = false` is append-exactly-once: each delivered row is
    * stored exactly once per checkpoint lineage (marker fast path +
    * rollback-by-prefix replay), with no key tracking at all — the mode
    * a source with unique delivery (Kafka, file replay) wants when keys
    * never repeat across batches.
    */
  def startDedupSink(events: DataFrame, outDir: String, checkpointDir: String,
      keyedDedup: Boolean = true) = {
    // one epoch per checkpoint lineage: same checkpoint -> same epoch
    // (crash/restart replays hit their own markers), new checkpoint ->
    // new epoch (content-keyed dedup, never a stale-marker skip)
    val epoch = java.lang.Long.toHexString(
      graft.functions.TextHash.hash60(checkpointDir)) + "-"
    events.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitBatch(batch, outDir, batchId, epoch = epoch,
          keyedDedup = keyedDedup)
      }
      .start()
  }
}
