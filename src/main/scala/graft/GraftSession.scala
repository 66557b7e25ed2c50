package graft

import org.apache.spark.sql.SparkSession

/** THE session factory — the one place the scale-critical session
  * confs live (r15 verdict #3: they were copy-pasted across
  * Bench/Verify/SparkSpec, so an embedding application building its
  * own `SparkSession.builder()` silently lost the r15 syscall fixes).
  * Every graft entry point builds through here; so should any
  * application embedding this library.
  *
  * What the defaults encode, and why each is scale-critical:
  *  - `spark.sql.shuffle.partitions` = the session's core count (not
  *    Spark's default 200): on local[N] a 200-partition shuffle is
  *    ~6× more reducer files and scheduler churn than the hardware
  *    can use; on a real cluster callers size it to cores likewise.
  *  - `spark.shuffle.sort.bypassMergeThreshold` = 2 — never the
  *    bypass-merge shuffle writer: with P reduce partitions it opens
  *    P files PER MAP TASK (open+concat+delete), and r15 thread dumps
  *    showed ~40% of RUNNABLE executor samples inside
  *    FileOutputStream.open0 under DiskBlockObjectWriter.initialize —
  *    map stages syscall-bound, not compute-bound. The sort writer's
  *    one-spill-file-per-task shape is also the only one that
  *    survives real reducer counts (10k reducers at 100 TB would be
  *    10k file opens per task on the bypass path).
  *  - TIMESTAMP_NTZ inference + UTC: naive parquet timestamps read as
  *    NTZ end-to-end so results are byte-compatible with the DuckDB
  *    oracle (and unambiguous on a cluster spanning timezones).
  *  - ANSI off: the hash kernels (LSH, simhash, Gumbel keys) rely on
  *    wrap-around int64 arithmetic.
  *  - AQE on: runtime re-plan (skew-join splitting, partition
  *    coalescing) is part of the 100 TB posture.
  *  - [[graft.functions.GraftExtensions]]: the graft SQL functions and
  *    the [[graft.plan.OneTaskSort]] rule. A global `ORDER BY` whose
  *    input fits in one advisory partition
  *    (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, 64 MB by
  *    default — the most AQE coalescing gives one reducer) sorts in one
  *    task: no range-sampling job, no sort shuffle. Larger inputs keep
  *    the range exchange, so one task never gets more than AQE would
  *    give it. A bare `SparkSession.builder()` session lacks the rule
  *    and pays both jobs on every small sort.
  *
  * ImageIO's disk-backed stream cache is also disabled here (the other
  * r15 syscall fix — two file-metadata syscalls per decoded row): it
  * is JVM-global state the Multimodal operators need set before any
  * codec runs, and a session factory is the one init point every
  * entry path crosses.
  */
object GraftSession {

  javax.imageio.ImageIO.setUseCache(false)

  /** Builder pre-loaded with the shared confs. Callers append their
    * own (appName, UI/status-store retention, codegen cache, …) and
    * may override any default the same way.
    */
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .withExtensions(new graft.functions.GraftExtensions)

  /** `local[cpus]` convenience used by the mains: shuffle partitions
    * sized to the core count, UI off (a local session's UI server is
    * pure overhead).
    */
  def local(cpus: String): SparkSession.Builder =
    builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
}
