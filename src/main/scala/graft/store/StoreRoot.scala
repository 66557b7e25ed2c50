package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.ParquetFooters
import org.apache.spark.sql.types.StructType

/** Shared root-resolution + publish protocol for the persisted stores
  * (`AnnIndex`, `TextIndex`, the hybrid dial): one digest recipe and
  * one staging-rename race rule, so a fix to either never silently
  * misses a store. Roots and index headers are memoized through
  * [[StoreMemo]], whose scaladoc says when an entry goes stale.
  */
object StoreRoot {

  /** Stable on-disk root for (source table state, kind, format): a
    * digest over the path, its row count and its file listing, so a
    * regenerated corpus or a changed build format rebuilds instead of
    * serving stale artifacts. Memoized per source state in
    * [[StoreMemo]]; a miss reads the row count from the parquet
    * footers on the driver, so resolving a root never runs a job.
    */
  def rootFor(spark: SparkSession, srcFile: String, kind: String,
      version: String): Path =
    StoreMemo.get(spark, s"root:$srcFile|$kind|$version", Seq(srcFile)) {
      val state = StoreMemo.fingerprint(spark, Seq(srcFile))
      val digest = java.lang.Long.toHexString(graft.functions.TextHash.hash60(
        s"$srcFile|${rowCount(spark, srcFile)}|$state|$kind|$version"))
      new Path(s"$defaultBase/$kind-$digest")
    }

  /** Rows of a parquet file or directory, summed from its footers. */
  private[graft] def rowCount(spark: SparkSession, src: String): Long = {
    val p = new Path(src)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.filterNot(st => StoreMemo.hidden(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) leaves(st.getPath) else Seq(st))
    leaves(p).map(ParquetFooters.rowCount(spark, _)).sum
  }

  /** A tiny index header (codebooks, IVF centroids, summed BM25 stats)
    * as a literal local relation, collected once per state of `path`
    * through [[StoreMemo]], so a warm serve plans no scan over it.
    */
  def localizedArtifact(spark: SparkSession, path: String)(
      plan: => DataFrame): DataFrame =
    StoreMemo.rows(spark, s"artifact:$path", Seq(path))(plan)

  /** [[localizedArtifact]]'s schema and rows, for headers the driver
    * computes with (the PQ codebooks behind the ADC lookup table).
    */
  def localizedRows(spark: SparkSession, path: String)(
      plan: => DataFrame): (StructType, Array[Row]) =
    StoreMemo.collected(spark, s"artifact:$path", Seq(path))(plan)

  /** Never-recycled identity for scratch-tree ownership: Thread.getId
    * may be reused by the JVM after a thread dies, so trees are keyed
    * by a per-thread tag drawn once from a monotonic counter. The
    * loader nonce keeps tags disjoint across classloaders sharing one
    * JVM (each loader's counter restarts at 0 — without the nonce two
    * loaders' first threads would share a tree path).
    */
  private val loaderNonce: String =
    java.lang.Long.toHexString(System.nanoTime() & 0xFFFFFFFFL)
  private val threadTagSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val threadTag: ThreadLocal[String] = ThreadLocal.withInitial(() =>
    s"$loaderNonce-${threadTagSeq.incrementAndGet()}")

  /** Registry of issued scratch trees: tag → owning Thread. The sweep
    * in [[scratchRoot]] reclaims exactly the registered trees whose
    * owner Thread has died — see the inline rationale there.
    */
  private val issuedTrees =
    new java.util.concurrent.ConcurrentHashMap[String, Thread]()

  /** Deterministic per-process scratch root for registered queries
    * that exercise durable pipelines against throwaway trees (the
    * incremental sinks): at most ONE tree per (name, JVM, thread) ever
    * lives in tmp — the tree is cleared on entry (the query rebuilds
    * it from scratch) and trees left by dead JVMs are swept — the same
    * bounded-accumulation discipline as Backfill's rollup root (a
    * fresh createTempDirectory per invocation accumulated a corpus
    * copy per gate-loop iteration; review r14).
    *
    * Concurrency (ADVICE r14): the tree is keyed by THREAD as well —
    * a thread cannot run two invocations at once, so clearing on entry
    * can only ever clear a tree whose previous same-thread use has
    * returned, while two SparkSessions driving the same registered
    * query concurrently (necessarily from different threads) get
    * disjoint trees instead of deleting each other's live
    * feed/checkpoint mid-stream. The sequential gate/bench loop runs
    * each query from one thread, so it still reuses one tree per
    * (name, JVM) — the accumulation bound that motivated this root.
    * PID recycling: the per-JVM dir encodes the JVM's START INSTANT
    * next to its pid, and the sweep treats a dir as live only when a
    * process with that pid exists AND its start instant matches — a
    * recycled pid no longer shields a dead JVM's tree forever.
    */
  def scratchRoot(name: String): String = {
    val base = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_scratch")
    Option(base.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      val alive = f.getName.split("_", 2) match {
        case Array(pidS, startS) =>
          scala.util.Try(pidS.toLong).toOption.exists { p =>
            val h = ProcessHandle.of(p)
            h.map[java.lang.Boolean](ph =>
              ph.isAlive && ph.info().startInstant()
                .map[java.lang.Boolean](_.toEpochMilli.toString == startS)
                // no start info exposed: keep (err on the safe side)
                .orElse(true)).orElse(false)
          }
        // legacy bare-pid dirs from older builds: pid-alive check only
        case _ => scala.util.Try(f.getName.toLong).toOption.exists(p =>
          ProcessHandle.of(p).map[java.lang.Boolean](_.isAlive).orElse(false))
      }
      if (!alive) org.apache.commons.io.FileUtils.deleteQuietly(f)
    }
    val self = ProcessHandle.current()
    val jvmDir = self.info().startInstant()
      .map[String](i => s"${self.pid()}_${i.toEpochMilli}")
      .orElse(self.pid().toString)
    // intra-JVM reclamation (review r15): a thread-pool caller whose
    // threads retire would otherwise accumulate one tree per retired
    // thread for the JVM's whole life — the very accumulation this
    // root bounds. Sweep is REGISTRY-driven, not snapshot-driven
    // (ADVICE r15, both items): the registry maps each issued tree's
    // tag to its owner Thread OBJECT, and a tree is reclaimed only
    // when that exact Thread reports !isAlive — there is no
    // list-vs-snapshot ordering to race (a thread that starts mid-
    // sweep either has no registry entry yet, and therefore no tree
    // this registry issued, or is registered with a live Thread and
    // kept), and tags come from a monotonic counter, so a recycled
    // Thread.getId can neither inherit a retired thread's tree nor
    // shield a dead one. Trees under this jvmRoot that are NOT in the
    // registry (another classloader of the same JVM — sbt's layered
    // test loaders) are left alone: bounded by loader count, reclaimed
    // by the dead-JVM sweep above when the JVM exits.
    val jvmRoot = base.resolve(jvmDir)
    val it = issuedTrees.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (!e.getValue.isAlive) {
        org.apache.commons.io.FileUtils.deleteQuietly(
          jvmRoot.resolve(s"t${e.getKey}").toFile)
        it.remove()
      }
    }
    val tag = threadTag.get()
    issuedTrees.put(tag, Thread.currentThread())
    val root = jvmRoot
      .resolve(s"t$tag")
      .resolve(name)
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    java.nio.file.Files.createDirectories(root)
    root.toString
  }

  /** Build-once discipline: if `root` exists it is a COMPLETE build
    * (publication is an atomic directory rename); otherwise run
    * `build` into a staging dir and promote it. A lost rename race
    * means someone else published the identical (deterministic)
    * artifact first — use theirs.
    */
  def ensureBuilt(spark: SparkSession, root: Path)(
      build: String => Unit): Unit = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    touchLive(fs, root)
    if (fs.exists(root)) return
    val staging = new Path(root.toString + s".build-${System.nanoTime()}")
    fs.delete(staging, true)
    build(staging.toString)
    fs.mkdirs(root.getParent)
    if (!fs.rename(staging, root)) {
      if (!fs.exists(root))
        throw new java.io.IOException(s"cannot publish store at $root")
      fs.delete(staging, true)
    }
  }

  /** Liveness stamp for a root, refreshed on EVERY ensure: the digest
    * scheme is one-way (a root's name cannot be mapped back to its
    * source), so retention works by recency-of-use instead — a root a
    * regenerated corpus orphaned simply stops being touched and ages
    * out, while anything actively served always carries a fresh stamp.
    */
  private def touchLive(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Unit = {
    val live = new Path(root.getParent, s"_live/${root.getName}")
    fs.mkdirs(live.getParent)
    fs.create(live, true).close()
  }

  /** RETENTION SWEEP over a store base dir (the Lifecycle-style
    * maintenance the per-(corpus × kind × version) digest roots need:
    * every regenerated corpus orphans its old roots forever otherwise).
    * Drops any root — including crashed `.build-*` staging leftovers —
    * whose liveness stamp is missing or older than `ttlMs`, plus
    * orphaned stamps. Single-writer maintenance op, like the folds.
    * Returns the number of roots removed.
    */
  def sweepStale(spark: SparkSession, baseDir: String,
      ttlMs: Long): Int = {
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return 0
    val cutoff = System.currentTimeMillis() - ttlMs
    var removed = 0
    fs.listStatus(base).filter(st => st.isDirectory &&
        st.getPath.getName != "_live").foreach { st =>
      val name = st.getPath.getName
      // a `.build-*` staging dir belongs to a build possibly IN
      // PROGRESS (it is never stamped) — only its own age can say it
      // is a crash leftover, so it is reaped by mtime, not by stamp.
      // `__old`/`__compacting` root-swap leftovers never carry a stamp
      // of their own either, but unlike staging they can be the ONLY
      // surviving copy of a store (a crash between swapDir's two
      // renames) — their freshness is the BASE root's stamp, so a
      // fresh store keeps its recoverable `__old` until recoverSwap
      // heals it, while a genuinely TTL-stale store is reaped whole
      val stampName = name.stripSuffix("__old").stripSuffix("__compacting")
      val fresh =
        if (name.contains(".build-"))
          st.getModificationTime >= cutoff
        else {
          val stamp = new Path(base, s"_live/$stampName")
          fs.exists(stamp) &&
            fs.getFileStatus(stamp).getModificationTime >= cutoff
        }
      if (!fresh) {
        fs.delete(st.getPath, true)
        fs.delete(new Path(base, s"_live/$stampName"), false)
        removed += 1
      }
    }
    val live = new Path(base, "_live")
    if (fs.exists(live))
      fs.listStatus(live).foreach { st =>
        val n = st.getPath.getName
        // keep the stamp while a recoverable `__old` copy remains —
        // dropping it would orphan (and next pass reap) the one copy
        // recoverSwap can still heal
        if (!fs.exists(new Path(base, n)) &&
            !fs.exists(new Path(base, n + "__old")))
          fs.delete(st.getPath, false)
      }
    removed
  }

  /** The default base every `rootFor` digest lands under. */
  def defaultBase: String =
    s"${System.getProperty("java.io.tmpdir")}/graft_ann"

  /** Crash-safe in-place rewrite of one directory — the
    * `Lifecycle.compact` swap applied to a store sub-table: `write`
    * produces the replacement under a `__compacting` sibling, the live
    * dir renames aside to `__old`, the replacement promotes, and the
    * old copy drops LAST. At any failure point the full data still
    * exists under `dir` or `dir__old` (recovery: rename `__old` back if
    * `dir` is missing — `recoverSwap` below, run at every compaction
    * entry).
    */
  def swapDir(spark: SparkSession, dir: String)(
      write: String => Unit): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dir + "__compacting")
    val old = new Path(dir + "__old")
    fs.delete(tmp, true)
    write(tmp.toString)
    fs.delete(old, true)
    if (!fs.rename(new Path(dir), old))
      throw new java.io.IOException(s"swap: cannot move $dir aside")
    if (!fs.rename(tmp, new Path(dir))) {
      fs.rename(old, new Path(dir)) // roll back
      throw new java.io.IOException(s"swap: cannot promote $tmp")
    }
    fs.delete(old, true)
  }

  /** Heal every root-level swap crash under a base dir: each
    * `__old`/`__compacting` leftover reconciles through `recoverSwap`
    * on its base name. The suffix scheme is THIS module's protocol
    * (`swapDir` creates the names) — callers sweep through here rather
    * than re-deriving it.
    */
  def healSwapsUnder(spark: SparkSession, baseDir: String): Unit = {
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return
    fs.listStatus(base)
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.endsWith("__old") || n.endsWith("__compacting"))
      .map(n => n.stripSuffix("__old").stripSuffix("__compacting"))
      .distinct
      .foreach(b => recoverSwap(spark, s"$baseDir/$b"))
  }

  /** Heal a crash inside `swapDir`: a missing live dir with a
    * surviving `__old` renames back; stray `__compacting`/`__old`
    * leftovers are dropped.
    */
  def recoverSwap(spark: SparkSession, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(dir)
    val old = new Path(dir + "__old")
    if (!fs.exists(live) && fs.exists(old)) {
      if (!fs.rename(old, live))
        throw new java.io.IOException(s"swap recovery failed for $dir")
    }
    fs.delete(new Path(dir + "__compacting"), true)
    if (fs.exists(live)) fs.delete(old, true)
  }
}
