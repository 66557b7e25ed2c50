package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import graft.GraftSession

/** JVM side of the benchmark. Runs one workload in one `local[cores]`
  * session and writes the raw timings and trace to `out`; the Python
  * side (`run.py`) turns them into metrics and checks the outputs.
  *
  * Arguments are `key=value` pairs: workload, cores, trace (0|1), in,
  * work, out, plus the workload's own keys.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val Array(k, v) = a.split("=", 2)
      k -> v
    }.toMap
    val traced = conf("trace") == "1"
    val builder = GraftSession.local(conf("cores")).appName("perfbench")
      .config("spark.local.dir", s"${conf("work")}/spark-local")
    if (traced) builder.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    val sessionReady = System.currentTimeMillis()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val trace = new Trace(spark, traced)
      val result = conf("workload") match {
        case "ingest" => IngestRun(spark, trace, conf)
        case "serve" => ServeRun(spark, trace, conf)
        case other => throw new IllegalArgumentException(s"no workload $other")
      }
      val json = Json.obj(result ++ Seq(
        "trace" -> Json.Raw(trace.json()),
        "jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime,
        "session_ready" -> sessionReady,
        "peak_rss_kb" -> peakRssKb()): _*)
      Files.write(Paths.get(conf("out")), json.getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** Memory the program holds, in MiB: heap in use once full
    * collections stop freeing memory, and non-heap in use (metaspace,
    * code cache). Call it at the end of a measured window, while the
    * workload's state is live. Spark's cleaner frees the blocks of
    * objects a collection found unreachable only after that collection,
    * and asynchronously, so this collects every 300 ms until a
    * collection frees less than 1 MiB (at most eight times);
    * `collections_mb` is the heap in use after each. */
  def liveMem(): Map[String, Any] = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val heap = scala.collection.mutable.ArrayBuffer(collect())
    while (heap.size < 8 && (heap.size < 2 || heap(heap.size - 2) - heap.last >= 1.0)) {
      Thread.sleep(300)
      heap += collect()
    }
    Map("heap_mb" -> heap.last,
      "non_heap_mb" -> mem.getNonHeapMemoryUsage.getUsed / 1048576.0,
      "collections_mb" -> heap.toSeq)
  }

  /** The process's peak resident set (VmHWM), in KiB. */
  def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Total bytes of the regular files under `dir`. */
  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
