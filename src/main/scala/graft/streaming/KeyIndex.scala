package graft.streaming

import graft.Reads
import java.io.FileNotFoundException

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Key sidecar index for the keyed transactional sink
  * (`Streams.commitBatch(keyedDedup = true)`): the machinery that
  * bounds the per-commit cost of ON-CONFLICT-DO-NOTHING semantics.
  *
  * Problem it solves: the keyed anti-join needs "which natural keys are
  * already live in the touched date partitions". Reading them back from
  * the data files is O(hot-partition keys) per commit — the cost that
  * GROWS as a hot date fills (the r6 COVERAGE throughput table measured
  * it). The sidecar turns that into:
  *
  *   - per touched partition, a tiny per-commit BLOOM file over the
  *     keys that commit added (`_keyidx/event_date=D/{prefix}bloom.bin`)
  *     — loading every bloom of a partition is KBs, independent of row
  *     count;
  *   - a per-commit exact-key parquet segment
  *     (`_keyidx/event_date=D/{prefix}keys-*.parquet`) consulted ONLY
  *     when some batch row hits a bloom. The commit probes its deduped,
  *     date-partitioned copy against the OR of the touched dates'
  *     committed blooms in one job; on a hit, the touched dates'
  *     committed segments are the broadcast build side of an exact key
  *     anti-join. The common all-new-keys commit never scans any keys
  *     at all (the blooms prove absence);
  *   - segments and blooms are staged and PROMOTED with the batch's own
  *     file prefix and become authoritative only once the batch marker
  *     lands — the same transaction the data rides. A crashed attempt's
  *     sidecar files are rolled back by prefix exactly like its data
  *     files.
  *
  * Migration: a partition written before the sidecar existed has data
  * but no committed segments. Its first post-upgrade commit reads the
  * partition's keys back ONCE (the old path) and folds them into that
  * commit's segment, so coverage is restored atomically by the commit's
  * own marker and every later commit is sidecar-only.
  *
  * At 100 TB: per-commit cost is O(batch) + O(#commits-to-partition)
  * bloom loads; `compactSegments` folds a partition's committed
  * segments into one (run it like the dedup index compaction) to bound
  * the segment count on long-lived hot partitions.
  */
object KeyIndex {

  /** Minimal serializable bloom over 64-bit key hashes (double hashing
    * from one xxhash64 value — Kirsch-Mitzenmacher). Self-contained so
    * the on-disk format is owned by this engine, not a library version.
    */
  final class KeyBloom(val bits: Array[Long], val k: Int) extends Serializable {
    private def numBits: Long = bits.length.toLong * 64L
    private def set(b: Long): Unit =
      bits((b >>> 6).toInt) |= (1L << (b & 63).toInt)
    private def get(b: Long): Boolean =
      (bits((b >>> 6).toInt) & (1L << (b & 63).toInt)) != 0L
    private def pos(h: Long, i: Int): Long = {
      val h1 = h & 0x7fffffffffffffffL
      val h2 = ((h >>> 33) << 1) | 1L
      ((h1 + i.toLong * h2) & 0x7fffffffffffffffL) % numBits
    }
    def put(h: Long): Unit = {
      var i = 0; while (i < k) { set(pos(h, i)); i += 1 }
    }
    def mightContain(h: Long): Boolean = {
      var i = 0
      while (i < k) { if (!get(pos(h, i))) return false; i += 1 }
      true
    }
    def merge(o: KeyBloom): KeyBloom = {
      require(o.bits.length == bits.length && o.k == k, "incompatible blooms")
      var i = 0; while (i < bits.length) { bits(i) |= o.bits(i); i += 1 }
      this
    }
    def serialize: Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + bits.length * 8)
      // version 2 = keys hashed timezone-stably (`keyHashCol`); version
      // 1 blooms hashed timestamp keys via a session-timezone-dependent
      // string cast and deserialize as always-mightContain
      bb.putInt(2)
      bb.putInt(k)
      bits.foreach(bb.putLong)
      bb.array()
    }
  }

  object KeyBloom {
    /** Standard sizing: m = -n·ln(p)/ln2², k = (m/n)·ln2. */
    def create(expectedItems: Long, fpp: Double = 0.01): KeyBloom = {
      val n = math.max(expectedItems, 64L)
      val m = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
      val words = math.max(1L, (m + 63) / 64).toInt
      val k = math.max(1, math.round((m.toDouble / n) * math.log(2)).toInt)
      new KeyBloom(new Array[Long](words), k)
    }
    def deserialize(b: Array[Byte]): KeyBloom = {
      val bb = java.nio.ByteBuffer.wrap(b)
      val ver = bb.getInt
      require(ver == 1 || ver == 2, s"unknown key-bloom format: $ver")
      // a version-1 bloom was built with the pre-`keyHashCol` string
      // cast, whose timestamp rendering depended on the session
      // timezone — probing it with the stable hash could yield a FALSE
      // NEGATIVE (silent duplicate keys). Degrade it to
      // always-mightContain (k = 0): conservative, forces the exact
      // segment anti-join, preserves the no-false-negative contract.
      // `compactSegments` rewrites it as version 2.
      if (ver == 1) return new KeyBloom(Array(0L), 0)
      val k = bb.getInt
      val words = new Array[Long]((b.length - 8) / 8)
      var i = 0; while (i < words.length) { words(i) = bb.getLong; i += 1 }
      new KeyBloom(words, k)
    }
  }

  /** Timezone-stable xxhash64 over the composite natural key — the ONE
    * hash both the bloom build (`bloomOf`) and the commit-time probe
    * (`Streams.commitBatch`) must share. A timestamp cast to string
    * renders in `spark.sql.session.timeZone`, so a sink resumed under a
    * different session timezone would hash the same key differently —
    * a bloom FALSE NEGATIVE, breaking the no-false-negative contract.
    * Timestamps therefore hash via `unix_micros` (an absolute instant,
    * config-independent); every other type's string cast is stable.
    */
  def keyHashCol(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampType
    val cols = keys.map { k =>
      df.schema(k).dataType match {
        case TimestampType => unix_micros(col(k)).cast("string")
        case _             => col(k).cast("string")
      }
    }
    xxhash64(cols: _*)
  }

  /** The committed file prefixes under `outDir`, derived from the
    * marker names: marker "{epoch}batch-{id}" ⇔ prefix
    * "{epoch}batch{id}-" (the names `commitBatch` stamps on every file
    * it promotes).
    */
  def committedPrefixes(fs: FileSystem, outDir: String): Set[String] =
    filesIn(fs, new Path(s"$outDir/_committed")).map(_.getPath.getName).flatMap { name =>
      val i = name.lastIndexOf("batch-")
      if (i < 0) None
      else Some(name.substring(0, i) + "batch" + name.substring(i + 6) + "-")
    }.toSet

  private def dataDir(outDir: String, date: Any): Path =
    new Path(s"$outDir/event_date=$date")

  private def idxDir(outDir: String, date: Any): Path =
    new Path(s"$outDir/_keyidx/event_date=$date")

  /** The files of one directory, in one listing: a missing directory
    * throws on the listing itself, so no separate `exists` probe.
    */
  private def filesIn(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq.filter(_.isFile)
    catch { case _: FileNotFoundException => Seq.empty }

  /** One touched partition's files: its data directory and its
    * `_keyidx` directory, each listed once per commit and handed to
    * every helper below.
    */
  final case class Listing(data: Seq[FileStatus], idx: Seq[FileStatus])

  def listing(fs: FileSystem, outDir: String, date: Any): Listing =
    Listing(filesIn(fs, dataDir(outDir, date)), filesIn(fs, idxDir(outDir, date)))

  private def names(files: Seq[FileStatus])(p: String => Boolean): Seq[Path] =
    files.map(_.getPath).filter(f => p(f.getName))

  private def liveData(data: Seq[FileStatus]): Seq[Path] =
    names(data)(!_.startsWith("_"))

  /** Delete a crashed attempt's files by prefix, data and sidecar both,
    * and return the listing without them.
    */
  def rollbackPrefix(fs: FileSystem, l: Listing, filePrefix: String): Listing = {
    def drop(files: Seq[FileStatus]) = {
      val (gone, kept) = files.partition(_.getPath.getName.startsWith(filePrefix))
      gone.foreach(f => fs.delete(f.getPath, false))
      kept
    }
    Listing(drop(l.data), drop(l.idx))
  }

  /** Committed sidecar segment key files among a partition's `_keyidx`
    * files.
    */
  def committedKeyFiles(idx: Seq[FileStatus], prefixes: Set[String]): Seq[Path] =
    names(idx)(n => n.contains("keys") && prefixes.exists(n.startsWith))

  def committedKeyFiles(fs: FileSystem, outDir: String, date: Any,
      prefixes: Set[String]): Seq[Path] =
    committedKeyFiles(filesIn(fs, idxDir(outDir, date)), prefixes)

  /** Load the committed blooms among a partition's `_keyidx` files (KBs). */
  def loadBlooms(fs: FileSystem, idx: Seq[FileStatus],
      prefixes: Set[String]): Seq[KeyBloom] =
    idx.filter { f =>
      val n = f.getPath.getName
      n.endsWith("bloom.bin") && prefixes.exists(n.startsWith)
    }.map { f =>
      val in = fs.open(f.getPath)
      try {
        val b = new Array[Byte](f.getLen.toInt)
        in.readFully(b)
        KeyBloom.deserialize(b)
      } finally in.close()
    }

  /** Data files in the partition carrying NO committed prefix —
    * residue from an ABANDONED checkpoint lineage that crashed
    * mid-promote (its lineage never replayed to roll them back). Such
    * files ARE visible to readers of the table, so their keys must
    * count for dedup; `needsMigration` treats them as uncovered and
    * `Streams.commitBatch` adopts them under the committing batch's
    * prefix once its marker lands.
    */
  def uncoveredDataFiles(data: Seq[FileStatus], prefixes: Set[String]): Seq[Path] =
    liveData(data).filterNot(f => prefixes.exists(f.getName.startsWith))

  def uncoveredDataFiles(fs: FileSystem, outDir: String, date: Any,
      prefixes: Set[String]): Seq[Path] =
    uncoveredDataFiles(filesIn(fs, dataDir(outDir, date)), prefixes)

  /** True iff the partition needs the migration read-back: live data
    * exists and either no committed sidecar segment covers the
    * partition (pre-sidecar data) or some live file carries no
    * committed prefix (abandoned-lineage residue — reader-visible but
    * otherwise invisible to marker-gated dedup).
    */
  def needsMigration(l: Listing, prefixes: Set[String]): Boolean =
    liveData(l.data).nonEmpty && (committedKeyFiles(l.idx, prefixes).isEmpty ||
      uncoveredDataFiles(l.data, prefixes).nonEmpty)

  def needsMigration(fs: FileSystem, outDir: String, date: Any,
      prefixes: Set[String]): Boolean =
    needsMigration(listing(fs, outDir, date), prefixes)

  /** Fold a partition's committed segments into one compact segment
    * (bounds per-commit bloom/segment counts on long-lived hot
    * partitions — the keyidx twin of `Dedup.compactSegments`). The
    * compacted segment is written under a fresh prefix whose marker is
    * created FIRST and the old segments deleted LAST, so a crash at any
    * point leaves the index over-complete, never under-complete.
    */
  def compactSegments(spark: org.apache.spark.sql.SparkSession,
      outDir: String, date: Any, keys: Seq[String]): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(outDir).getFileSystem(hconf)
    val prefixes = committedPrefixes(fs, outDir)
    val files = committedKeyFiles(fs, outDir, date, prefixes)
    if (files.size <= 1) return
    val compactId = System.currentTimeMillis()
    val epoch = s"cmp$compactId-"
    val prefix = s"${epoch}batch0-"
    val tmp = new Path(s"$outDir/_staging/${epoch}keyidx-$date")
    fs.delete(tmp, true)
    val allKeys = Reads.parquet(spark, files.map(_.toString): _*)
      .select(keys.map(org.apache.spark.sql.functions.col): _*)
      .distinct()
    val n = allKeys.count()
    allKeys.coalesce(1).write.parquet(tmp.toString)
    val bloom = bloomOf(allKeys, keys, n)
    val d = idxDir(outDir, date)
    fs.mkdirs(d)
    // write compacted files, then their marker, then drop the old
    fs.listStatus(tmp).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .zipWithIndex.foreach { case (f, i) =>
        val dst = new Path(d, s"${prefix}keys-$i.parquet")
        fs.delete(dst, true)
        if (!fs.rename(f.getPath, dst))
          throw new java.io.IOException(s"compact: cannot move ${f.getPath}")
      }
    writeBloom(fs, new Path(d, s"${prefix}bloom.bin"), bloom)
    val marker = new Path(s"$outDir/_committed/${epoch}batch-0")
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    files.foreach(f => fs.delete(f, false))
    fs.listStatus(d)
      .filter(f => f.isFile && f.getPath.getName.endsWith("bloom.bin") &&
        !f.getPath.getName.startsWith(prefix) &&
        prefixes.exists(f.getPath.getName.startsWith))
      .foreach(f => fs.delete(f.getPath, false))
    fs.delete(tmp, true)
  }

  /** Build a bloom over the xxhash64 of the composite key, distributed
    * (per-partition blooms merged on the driver — never the rows): the
    * one-date case of `bloomsByDate`.
    */
  def bloomOf(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
      expected: Long): KeyBloom =
    bloomsByDate(df, org.apache.spark.sql.functions.lit(0), keys, Some(expected))
      .getOrElse(0, KeyBloom.create(expected))

  /** One bloom per distinct `date` value, all built in ONE job; each
    * task holds its rows' key hashes (8 bytes a row) until it knows
    * every date's count. With `expected`, every bloom is sized for that
    * many keys and per-partition partials are OR-merged on the driver.
    * Without it, each
    * date's bloom is sized by that date's own row count, which a task
    * only knows when it holds ALL of the date's rows — so the input must
    * be hash-partitioned by date (the keyed commit's staged relation
    * is); a date seen by two tasks fails the build instead of yielding
    * differently sized partials.
    */
  def bloomsByDate(df: org.apache.spark.sql.DataFrame,
      date: org.apache.spark.sql.Column, keys: Seq[String],
      expected: Option[Long] = None): Map[Any, KeyBloom] = {
    import scala.collection.mutable
    val partials = df.select(date, keyHashCol(df, keys)).rdd.mapPartitions { it =>
      val byDate = mutable.LinkedHashMap.empty[Any, mutable.ArrayBuilder.ofLong]
      it.foreach(r =>
        byDate.getOrElseUpdate(r.get(0), new mutable.ArrayBuilder.ofLong) += r.getLong(1))
      byDate.iterator.map { case (d, hs) =>
        val h = hs.result()
        val b = KeyBloom.create(expected.getOrElse(h.length.toLong))
        h.foreach(b.put)
        (d, b.serialize)
      }
    }.collect()
    partials.groupBy(_._1).map { case (d, ps) =>
      require(expected.isDefined || ps.length == 1,
        s"bloomsByDate: rows of $d span ${ps.length} partitions")
      d -> ps.map(p => KeyBloom.deserialize(p._2)).reduce(_ merge _)
    }
  }

  def writeBloom(fs: FileSystem, path: Path, bloom: KeyBloom): Unit = {
    val out = fs.create(path, true)
    try out.write(bloom.serialize) finally out.close()
  }
}
