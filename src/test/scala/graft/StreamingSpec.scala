package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import graft.streaming.Streams
import graft.streaming.Streams.EventRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def sampleRows = Seq(
    EventRow(0, ts("2024-01-01 00:10:00"), 1, "click", 10.0),
    EventRow(1, ts("2024-01-01 00:20:00"), 1, "error", 500.0),
    EventRow(2, ts("2024-01-01 01:05:00"), 2, "view", 20.0),
    EventRow(3, ts("2024-01-01 01:30:00"), 1, "click", 30.0),
    EventRow(4, ts("2024-01-01 03:00:00"), 2, "error", 100.0) // advances watermark past hours 0-1
  )

  test("A12 hourly rollup: streaming (watermarked, append) matches batch on closed windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streams.hourlyRollup(mem.toDF())
      .writeStream.format("memory").queryName("rollup")
      .outputMode("append").start()
    try {
      mem.addData(sampleRows: _*)
      q.processAllAvailable()
      // second batch so the watermark (set from batch 1's max ts) closes hours 0 and 1
      mem.addData(EventRow(5, ts("2024-01-01 05:00:00"), 3, "view", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("rollup")
        .select(col("bucket"), col("event_type"), col("n"),
          col("sum_value").cast("double"))
        .as[(java.sql.Timestamp, String, Long, Double)]
        .collect().toSet
      val batch = Streams.hourlyRollup(sampleRows.toDF())
        .filter(col("bucket") < lit(ts("2024-01-01 02:00:00")))
        .select(col("bucket"), col("event_type"), col("n"),
          col("sum_value").cast("double"))
        .as[(java.sql.Timestamp, String, Long, Double)]
        .collect().toSet
      assert(batch.subsetOf(streamed), s"streamed=$streamed batch=$batch")
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stream-stream join: errors pick up preceding clicks, matches batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val errs = MemoryStream[EventRow]
    val clicks = MemoryStream[EventRow]
    val q = Streams.errorClickJoin(errs.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      clicks.addData(
        EventRow(10, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
        EventRow(11, ts("2024-01-01 00:09:00"), 1, "click", 1.0),
        EventRow(12, ts("2024-01-01 00:09:30"), 2, "click", 1.0), // other user
        EventRow(13, ts("2024-01-01 00:20:00"), 1, "click", 1.0)) // after error
      errs.addData(
        EventRow(1, ts("2024-01-01 00:10:00"), 1, "error", 500.0))
      q.processAllAvailable()
      // advance both watermarks far so all pairs are emitted
      clicks.addData(EventRow(14, ts("2024-01-01 06:00:00"), 3, "click", 1.0))
      errs.addData(EventRow(2, ts("2024-01-01 06:00:00"), 3, "error", 1.0))
      q.processAllAvailable()
      val got = spark.table("ssjoin")
        .select("error_id", "click_id").as[(Long, Long)].collect().toSet
      // error 1 at 00:10 reaches back 10 min: clicks 10 (00:05) and 11
      // (00:09) match; 12 is another user; 13 is after the error
      assert(got == Set((1L, 10L), (1L, 11L)), s"got $got")
    } finally q.stop()
  }

  test("streaming incremental dedup via foreachBatch: cross-batch dups die at ingest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("incr_sink")
    val (outDir, idxDir, ckpt) = (s"$dir/out", s"$dir/idx", s"$dir/ckpt")
    val mem = MemoryStream[(Long, String)]
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val q = graft.dedup.Dedup.startIncrementalSink(
      mem.toDF().toDF("doc_id", "text"), outDir, idxDir, ckpt)
    try {
      mem.addData((1L, words("alpha", 30)), (5L, words("beta", 30)))
      q.processAllAvailable()
      mem.addData((2L, words("beta", 30)), (4L, words("gamma", 30)))
      q.processAllAvailable()
      val kept = graft.dedup.Dedup.readSegments(spark, outDir)
        .select("doc_id").as[Long].collect().sorted
      assert(kept.toSeq == Seq(1L, 4L, 5L), s"kept ${kept.toSeq}")
    } finally q.stop()
  }

  test("watermarked stream dedup drops in-horizon redeliveries, state stays bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streams.streamDedup(mem.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // batch 1: two events + an immediate duplicate of event 0
      mem.addData(
        EventRow(0, ts("2024-01-01 00:10:00"), 1, "click", 10.0),
        EventRow(0, ts("2024-01-01 00:10:00"), 1, "click", 10.0),
        EventRow(1, ts("2024-01-01 00:20:00"), 1, "error", 500.0))
      q.processAllAvailable()
      // batch 2: cross-batch redelivery of 0 (within the 1h horizon) + new event
      mem.addData(
        EventRow(0, ts("2024-01-01 00:10:00"), 1, "click", 10.0),
        EventRow(2, ts("2024-01-01 00:40:00"), 2, "view", 20.0))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .as[Long].collect().sorted
      assert(ids.toSeq == Seq(0L, 1L, 2L), s"got ${ids.toSeq}")
      // state metric exists and is bounded by the distinct keys seen
      val progress = q.lastProgress
      val stateRows = progress.stateOperators.head.numRowsTotal
      assert(stateRows <= 3, s"state rows = $stateRows")
    } finally q.stop()
  }

  test("session windows: 30-min-gap sessions close past the watermark, match batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val q = Streams.sessionRollup(mem.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      mem.addData(sampleRows: _*)
      q.processAllAvailable()
      mem.addData(EventRow(5, ts("2024-01-01 06:00:00"), 3, "view", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("sessions")
        .select("session_start", "user_id", "n_events", "sum_value")
        .as[(java.sql.Timestamp, Long, Long, Double)].collect().toSet
      // batch twin over the same rows; sessions fully closed by the
      // watermark (≤ 03:00 + gap < 05:00 cutoff) must all be present
      val batch = Streams.sessionRollup(sampleRows.toDF())
        .filter(col("session_end") < lit(ts("2024-01-01 05:00:00")))
        .select("session_start", "user_id", "n_events", "sum_value")
        .as[(java.sql.Timestamp, Long, Long, Double)].collect().toSet
      assert(batch.subsetOf(streamed), s"streamed=$streamed batch=$batch")
      assert(batch.nonEmpty)
      // user 1's 00:10/00:20 events chain into ONE session; 01:30 starts a new one
      val u1 = streamed.filter(t => t._2 == 1L && t._1 == ts("2024-01-01 00:10:00"))
      assert(u1.exists(_._3 == 2L), s"u1 sessions=$u1")
    } finally q.stop()
  }

  test("T11 anomaly context: errors carry the latest sibling readings; state evicts") {
    import spark.implicits._
    val out = Streams.anomalyContext(sampleRows.toDS()).collect()
    // event 1 is an error for user 1; before it, user 1 saw click=10.0
    val e1 = out.find(_.event_id == 1).get
    assert(e1.siblings == Map("click" -> 10.0))
    assert(out.length == 2) // events 1 and 4
    val e4 = out.find(_.event_id == 4).get
    assert(e4.siblings == Map("view" -> 20.0))
  }

  test("S5/L5 dedup sink: at-least-once input → exactly-once rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("sink_out").toString
    val ckpt = Files.createTempDirectory("sink_ckpt").toString
    val mem = MemoryStream[EventRow]
    val q = Streams.startDedupSink(mem.toDF(), outDir, ckpt)
    try {
      mem.addData(sampleRows: _*)
      mem.addData(sampleRows.head) // replay duplicate in the same batch
      q.processAllAvailable()
      val written = spark.read.parquet(outDir)
      assert(written.count() == sampleRows.size)
      assert(written.select("user_id", "ts").distinct().count() == sampleRows.size)
      // replay in a LATER micro-batch: the sink anti-join must drop it
      mem.addData(sampleRows.take(3): _*)
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == sampleRows.size)
      // partitioned layout exists
      assert(Files.list(java.nio.file.Paths.get(outDir)).iterator().asScala
        .exists(_.getFileName.toString.startsWith("event_date=")))
    } finally q.stop()
  }

  test("transactional sink: crash between write and checkpoint replays with no dupes") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("tx_out").toString
    val b1 = sampleRows.take(3).toDF()
    val b2 = sampleRows.drop(3).toDF()

    Streams.commitBatch(b1, outDir, 0)
    assert(spark.read.parquet(outDir).count() == 3)

    // crash AFTER promote, BEFORE the marker/checkpoint: rows are live,
    // batch not marked committed
    intercept[RuntimeException] {
      Streams.commitBatch(b2, outDir, 1, Streams.CrashAfterPromote)
    }
    assert(spark.read.parquet(outDir).count() == sampleRows.size)
    // replay of batch 1 (checkpoint never advanced): anti-join sees the
    // promoted rows, stages nothing new — still exactly-once
    Streams.commitBatch(b2, outDir, 1)
    val afterReplay = spark.read.parquet(outDir)
    assert(afterReplay.count() == sampleRows.size)
    assert(afterReplay.select("user_id", "ts").distinct().count() == sampleRows.size)
    // second replay: the marker short-circuits before any work
    Streams.commitBatch(b2, outDir, 1)
    assert(spark.read.parquet(outDir).count() == sampleRows.size)

    // crash AFTER stage, BEFORE promote: nothing visible; replay lands
    // the batch exactly once
    val b3 = Seq(EventRow(9, ts("2024-01-02 10:00:00"), 9, "view", 5.0)).toDF()
    intercept[RuntimeException] {
      Streams.commitBatch(b3, outDir, 2, Streams.CrashAfterStage)
    }
    assert(spark.read.parquet(outDir).count() == sampleRows.size) // staged ≠ visible
    Streams.commitBatch(b3, outDir, 2)
    assert(spark.read.parquet(outDir).count() == sampleRows.size + 1)
    // no leftover staging; marker recorded
    val root = java.nio.file.Paths.get(outDir)
    assert(!Files.exists(root.resolve("_staging/batch-2")))
    assert(Files.exists(root.resolve("_committed/batch-2")))
  }

  test("append-exactly-once sink: crash replay converges with no read-back") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("ap_out").toString
    val b1 = sampleRows.take(3).toDF()
    val b2 = sampleRows.drop(3).toDF()

    Streams.commitBatch(b1, outDir, 0, keyedDedup = false)
    assert(spark.read.parquet(outDir).count() == 3)

    // crash AFTER promote, BEFORE marker: rows live, no marker. The
    // replay must roll the partial promote back by file prefix and land
    // the batch exactly once — no key-column scan of the live table.
    intercept[RuntimeException] {
      Streams.commitBatch(b2, outDir, 1, Streams.CrashAfterPromote,
        keyedDedup = false)
    }
    assert(spark.read.parquet(outDir).count() == sampleRows.size)
    Streams.commitBatch(b2, outDir, 1, keyedDedup = false)
    val afterReplay = spark.read.parquet(outDir)
    assert(afterReplay.count() == sampleRows.size)
    assert(afterReplay.select("user_id", "ts").distinct().count() == sampleRows.size)
    // batch 0's files were untouched by batch 1's rollback
    assert(spark.read.parquet(outDir).filter($"user_id".isin(
      sampleRows.take(3).map(_.user_id): _*)).count() >= 3)
    // marker short-circuit
    Streams.commitBatch(b2, outDir, 1, keyedDedup = false)
    assert(spark.read.parquet(outDir).count() == sampleRows.size)

    // semantic trade vs keyed mode: a key REDELIVERED IN A LATER BATCH
    // is appended, not dropped (unique-delivery sources never do this;
    // keyed mode is the ON CONFLICT DO NOTHING twin that absorbs it)
    Streams.commitBatch(b1, outDir, 2, keyedDedup = false)
    assert(spark.read.parquet(outDir).count() == sampleRows.size + 3)
  }

  test("keyed sink sidecar: blooms + segments land per commit, dedup never reads data") {
    import spark.implicits._
    import graft.streaming.KeyIndex
    val outDir = Files.createTempDirectory("kidx_out").toString
    Streams.commitBatch(sampleRows.take(3).toDF(), outDir, 0)
    val root = java.nio.file.Paths.get(outDir)
    // sidecar layout: committed, prefix-named segment + bloom per
    // touched partition
    val idx = root.resolve("_keyidx/event_date=2024-01-01")
    assert(Files.exists(idx))
    val names = Files.list(idx).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.exists(n => n.startsWith("batch0-") && n.contains("keys")), names.toString)
    assert(names.contains("batch0-bloom.bin"), names.toString)
    // cross-batch duplicate keys die against the SIDECAR (bloom-hit →
    // segment anti-join), new keys pass the bloom short-circuit
    Streams.commitBatch((sampleRows.take(2) ++ sampleRows.drop(3)).toDF(), outDir, 1)
    val live = spark.read.parquet(outDir)
    assert(live.count() == sampleRows.size)
    assert(live.select("user_id", "ts").distinct().count() == sampleRows.size)
    // and the data read for dedup came from the index: corrupt every
    // DATA file, commit a duplicate-keyed batch — still deduped (a
    // data read-back would now throw)
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.contains("event_date=") &&
        !p.toString.contains("_keyidx") && p.toString.endsWith(".parquet"))
      .foreach(p => Files.write(p, Array[Byte](1, 2, 3)))
    Streams.commitBatch(sampleRows.take(1).toDF(), outDir, 2)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefixes = KeyIndex.committedPrefixes(fs, outDir)
    // nothing new inserted: batch 2's segment carries zero keys (its
    // only row was a dup), so the partition's committed key count is
    // exactly the table's distinct keys
    val segs = KeyIndex.committedKeyFiles(fs, outDir, "2024-01-01", prefixes)
      .map(_.toString)
    assert(spark.read.parquet(segs: _*).count() ==
      sampleRows.count(_.ts.toString.startsWith("2024-01-01")))
  }

  test("keyed sink migration: a pre-sidecar partition is covered by its first commit") {
    import spark.implicits._
    import graft.streaming.KeyIndex
    val outDir = Files.createTempDirectory("kmig_out").toString
    // simulate a sink written BEFORE the sidecar existed: plain
    // partitioned parquet, no _keyidx, no markers
    sampleRows.take(3).toDF().withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(outDir)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(KeyIndex.needsMigration(fs, outDir, "2024-01-01",
      KeyIndex.committedPrefixes(fs, outDir)))
    // first keyed commit: overlapping keys dropped via the one-time
    // read-back, and the partition becomes sidecar-covered atomically
    Streams.commitBatch((sampleRows.take(2) ++ sampleRows.drop(3)).toDF(), outDir, 0)
    assert(spark.read.parquet(outDir).select("user_id", "ts").distinct().count() ==
      sampleRows.size)
    val prefixes = KeyIndex.committedPrefixes(fs, outDir)
    assert(!KeyIndex.needsMigration(fs, outDir, "2024-01-01", prefixes))
    // second commit of an old pre-sidecar key: dropped via the sidecar
    Streams.commitBatch(sampleRows.take(1).toDF(), outDir, 1)
    assert(spark.read.parquet(outDir).count() == sampleRows.size)
  }

  test("double-crash window: replay with no marker AND no staging residue still rolls back") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("dcr_out").toString
    val b1 = sampleRows.take(3).toDF()
    val b2 = sampleRows.drop(3).toDF()
    Streams.commitBatch(b1, outDir, 0)
    // first attempt of batch 1 promotes its rows then dies before the
    // marker; a second crash then wipes the staging dir (the state the
    // old residue-gated rollback could not distinguish from "no prior
    // attempt"): no marker, no staging, promoted rows live
    intercept[RuntimeException] {
      Streams.commitBatch(b2, outDir, 1, Streams.CrashAfterPromote)
    }
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$outDir/_staging/batch-1"), true)
    assert(spark.read.parquet(outDir).count() == sampleRows.size) // live, unmarked
    // replay must converge to exactly-once: the unconditional
    // rollback-by-prefix drops the first attempt's files before recommit
    Streams.commitBatch(b2, outDir, 1)
    val live = spark.read.parquet(outDir)
    assert(live.count() == sampleRows.size)
    assert(live.select("user_id", "ts").distinct().count() == sampleRows.size)
  }

  test("keyed sink: abandoned-lineage residue dedups against fresh-epoch commits, then is adopted") {
    import spark.implicits._
    import graft.streaming.KeyIndex
    val outDir = Files.createTempDirectory("resid_out").toString
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // lineage "a-": one committed batch (so the partition HAS committed
    // segments), then a crash mid-promote whose lineage is abandoned —
    // its promoted-but-unmarked rows stay live with no covering prefix
    Streams.commitBatch(sampleRows.take(3).toDF(), outDir, 0, epoch = "a-")
    intercept[RuntimeException] {
      Streams.commitBatch(sampleRows.drop(3).toDF(), outDir, 1,
        Streams.CrashAfterPromote, epoch = "a-")
    }
    assert(spark.read.parquet(outDir).count() == sampleRows.size)
    assert(KeyIndex.uncoveredDataFiles(fs, outDir, "2024-01-01",
      KeyIndex.committedPrefixes(fs, outDir)).nonEmpty)
    // fresh checkpoint lineage "b-" redelivers the residue's keys: the
    // residue-aware migration read-back must DROP them (ON CONFLICT DO
    // NOTHING vs everything a reader can see), not re-insert
    Streams.commitBatch(sampleRows.drop(3).toDF(), outDir, 0, epoch = "b-")
    val live = spark.read.parquet(outDir)
    assert(live.count() == sampleRows.size)
    assert(live.select("user_id", "ts").distinct().count() == sampleRows.size)
    // and the residue is now adopted under b-'s committed prefix:
    // partition covered, no repeated read-back
    val prefixes = KeyIndex.committedPrefixes(fs, outDir)
    assert(KeyIndex.uncoveredDataFiles(fs, outDir, "2024-01-01", prefixes).isEmpty)
    assert(!KeyIndex.needsMigration(fs, outDir, "2024-01-01", prefixes))
    // residue keys keep dedup-ing via the sidecar segments alone
    Streams.commitBatch(sampleRows.drop(3).toDF(), outDir, 1, epoch = "b-")
    assert(spark.read.parquet(outDir).count() == sampleRows.size)
  }

  test("key hashing is session-timezone-stable; v1 blooms degrade to always-mightContain") {
    import spark.implicits._
    import graft.streaming.KeyIndex
    val df = sampleRows.take(3).toDF()
    val bloom = KeyIndex.bloomOf(df, Seq("user_id", "ts"), 3)
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      // a sink resumed under a different session timezone must probe
      // with the SAME hashes the bloom was built with (no-false-negative
      // contract) — timestamps hash via unix_micros, not a tz-dependent
      // string render
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val hashes = df.select(KeyIndex.keyHashCol(df, Seq("user_id", "ts")))
        .as[Long].collect()
      assert(hashes.forall(bloom.mightContain))
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
    // a version-1 bloom (pre-stable-hash) reads back conservative: it
    // forces the exact segment anti-join rather than risk a false miss
    val v1 = {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putInt(1); bb.putInt(3); bb.putLong(0L); bb.array()
    }
    assert(KeyIndex.KeyBloom.deserialize(v1).mightContain(123456789L))
  }

  test("keyed sink sidecar compaction folds segments; dedup survives") {
    import spark.implicits._
    import graft.streaming.KeyIndex
    val outDir = Files.createTempDirectory("kcmp_out").toString
    (0 until 4).foreach { b =>
      Streams.commitBatch(Seq(
        EventRow(100 + b, ts(f"2024-01-01 0$b%d:00:00"), 50 + b, "click", 1.0)
      ).toDF(), outDir, b)
    }
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def segCount = KeyIndex.committedKeyFiles(fs, outDir, "2024-01-01",
      KeyIndex.committedPrefixes(fs, outDir)).size
    assert(segCount == 4)
    KeyIndex.compactSegments(spark, outDir, "2024-01-01", Seq("user_id", "ts"))
    assert(segCount == 1)
    // every pre-compaction key still dedups; a new key still lands
    Streams.commitBatch(Seq(
      EventRow(100, ts("2024-01-01 00:00:00"), 50, "click", 1.0), // dup
      EventRow(200, ts("2024-01-01 09:00:00"), 99, "view", 2.0)   // new
    ).toDF(), outDir, 10)
    val live = spark.read.parquet(outDir)
    assert(live.count() == 5)
    assert(live.select("user_id", "ts").distinct().count() == 5)
  }

  test("keyed commit over two dates: one data and one segment file per date, blooms equal bloomOf") {
    import spark.implicits._
    import graft.streaming.KeyIndex
    val outDir = Files.createTempDirectory("kfused_out").toString
    val day2 = Seq(
      EventRow(5, ts("2024-01-02 08:00:00"), 3, "view", 5.0),
      EventRow(6, ts("2024-01-02 09:30:00"), 4, "click", 6.0))
    Streams.commitBatch((sampleRows ++ day2).toDF(), outDir, 0)
    // a second batch: duplicates of both dates plus one new key, so the
    // anti-join runs against committed segments
    Streams.commitBatch((sampleRows.take(2) ++ day2 :+
      EventRow(7, ts("2024-01-02 10:00:00"), 5, "view", 7.0)).toDF(), outDir, 1)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefixes = KeyIndex.committedPrefixes(fs, outDir)
    val keys = Seq("user_id", "ts")
    Seq(("2024-01-01", 0, sampleRows.size), ("2024-01-02", 0, day2.size),
        ("2024-01-02", 1, 1)).foreach { case (d, batch, n) =>
      val prefix = s"batch$batch-"
      def named(dir: String) = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith(prefix)).toSeq
      assert(named(s"$outDir/event_date=$d").size == 1, s"$d data files")
      val segs = KeyIndex.committedKeyFiles(fs, outDir, d, prefixes)
        .filter(_.getName.startsWith(prefix))
      assert(segs.size == 1, s"$d batch $batch segments: $segs")
      val segKeys = spark.read.parquet(segs.map(_.toString): _*)
      assert(segKeys.count() == n)
      val want = KeyIndex.bloomOf(segKeys, keys, n).serialize
      val got = Files.readAllBytes(java.nio.file.Paths.get(
        s"$outDir/_keyidx/event_date=$d/${prefix}bloom.bin"))
      assert(got.sameElements(want), s"$d batch $batch bloom")
    }
    // batch 1 inserted nothing on the first date: no segment, no bloom
    assert(!new java.io.File(s"$outDir/_keyidx/event_date=2024-01-01/batch1-bloom.bin").exists())
    assert(spark.read.parquet(outDir).count() == sampleRows.size + day2.size + 1)
  }

  test("keyed commit job budget: one shuffle, at most 5 jobs for new keys and 7 on a bloom hit") {
    import spark.implicits._
    import org.apache.spark.graftbridge.JobCounter
    val outDir = Files.createTempDirectory("kbudget_out").toString
    val day2 = Seq(
      EventRow(5, ts("2024-01-02 08:00:00"), 3, "view", 5.0),
      EventRow(6, ts("2024-01-02 09:30:00"), 4, "click", 6.0))
    def commit(rows: Seq[EventRow], id: Long) = {
      val batch = rows.toDF()
      JobCounter.jobsIn(spark.sparkContext)(Streams.commitBatch(batch, outDir, id))._2
    }
    // a two-date batch into an empty table: no bloom to probe, so the
    // materialization, the data and segment writes and the blooms
    val first = commit(sampleRows ++ day2, 0)
    // duplicates of both dates plus a new key: the probe hits, and the
    // segment keys are broadcast to the anti-join
    val second = commit(sampleRows.take(2) ++ day2 :+
      EventRow(7, ts("2024-01-02 10:00:00"), 5, "view", 7.0), 1)
    Seq((first, 5, "all-new"), (second, 7, "bloom-hit")).foreach {
      case (jobs, budget, name) =>
        val sites = jobs.map(JobCounter.callSite).mkString(", ")
        assert(jobs.size <= budget, s"$name commit: ${jobs.size} jobs at $sites")
        assert(JobCounter.shuffles(jobs).size == 1,
          s"$name commit: shuffles ${JobCounter.shuffles(jobs)} at $sites")
    }
    val live = spark.read.parquet(outDir)
    assert(live.count() == sampleRows.size + day2.size + 1)
    assert(live.select("user_id", "ts").distinct().count() == live.count())
  }

  test("keyed commit requires ts among the keys and fails before any write") {
    import spark.implicits._
    val outDir = Files.createTempDirectory("knots_out").resolve("store")
    intercept[IllegalArgumentException] {
      Streams.commitBatch(sampleRows.toDF(), outDir.toString, 0,
        keys = Seq("user_id", "event_id"))
    }
    assert(!Files.exists(outDir))
  }
}
