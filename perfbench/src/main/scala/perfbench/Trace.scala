package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond digits, so spans line up with listener event times.
  * `counters` holds process counters read at start and end (traced runs
  * only): GC ms, file-system bytes written and file-system calls.
  */
final case class Span(id: Int, parent: Int, name: String, req: String,
    query: String, start: Double, end: Double,
    counters: Option[(Array[Long], Array[Long])])

/** Span recorder plus, when `traced`, the listeners that record what
  * Spark did meanwhile. Everything stays in memory; `json` renders it
  * once at exit. Attribution of events to spans happens afterwards, in
  * the Python side of the benchmark.
  */
final class Trace(spark: SparkSession, val traced: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  /** Runs `body` as a span; the enclosing span on this thread is its
    * parent. `query` tags spans that run inside one streaming query. */
  def span[T](name: String, req: String, query: String = "")(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val c0 = if (traced) Some(counters()) else None
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      stack.set(stack.get.tail)
      spans.add(Span(id, parent, name, req, query, t0, t1,
        c0.map(c => (c, counters()))))
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

  def counters(): Array[Long] = {
    val fs = FileSystem.getAllStatistics.asScala
    Array(
      gcBeans.map(_.getCollectionTime.max(0L)).sum,
      fs.map(_.getBytesWritten).sum,
      CountingLocalFileSystem.ops.get)
  }

  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  private val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private val phases = new ConcurrentLinkedQueue[String]()
  private val progress = new ConcurrentLinkedQueue[String]()
  private val blocks = new ConcurrentLinkedQueue[String]()
  private val blockBytes = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  // task metric slots, summed per stage
  private val TaskSlots = Seq("tasks", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_ms",
    "spill_bytes", "records_read", "bytes_read", "bytes_written")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobStart.put(e.jobId, Json.obj(
        "job" -> e.jobId, "start" -> e.time,
        "stages" -> e.stageIds,
        "query" -> prop("sql.streaming.queryId"),
        "batch" -> prop("streaming.sql.batchId")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s =>
        jobs.add(s.dropRight(1) + s""","end":${e.time}}"""))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.compute(e.stageId, (_, prev) => {
        val a = if (prev == null) new Array[Long](TaskSlots.size) else prev
        val v = Array(1L, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.outputMetrics.bytesWritten)
        for (i <- a.indices) a(i) += v(i)
        a
      })
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add((i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val bytes = b.memSize + b.diskSize
        if (bytes == 0) blockBytes.remove(b.blockId.name)
        else blockBytes.put(b.blockId.name, bytes)
        blocks.add(Json.obj("t" -> nowMs,
          "bytes" -> blockBytes.values.asScala.sum))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        phases.add(Json.obj("phase" -> phase, "start" -> s.startTimeMs,
          "end" -> s.endTimeMs))
      }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Json.obj("query" -> p.id.toString, "batch" -> p.batchId,
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "duration" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits for queued listener events, then renders everything. */
  def json(): String = {
    if (traced) org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    val spanJson = spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.req, "query" -> s.query, "start" -> s.start,
        "end" -> s.end) ++ s.counters.toSeq.flatMap { case (a, b) =>
        Seq("gc_ms" -> (b(0) - a(0)), "fs_bytes_written" -> (b(1) - a(1)),
          "fs_ops" -> (b(2) - a(2)))
      }: _*)
    }
    val stageJson = stages.asScala.toSeq.map { case (id, sub, done) =>
      val a = Option(tasks.get(id)).getOrElse(new Array[Long](TaskSlots.size))
      Json.obj(Seq("stage" -> id, "submitted" -> sub, "completed" -> done) ++
        TaskSlots.zip(a.toSeq): _*)
    }
    Json.obj(
      "spans" -> Json.Raw(spanJson.mkString("[", ",", "]")),
      "jobs" -> Json.Raw(jobs.asScala.mkString("[", ",", "]")),
      "stages" -> Json.Raw(stageJson.mkString("[", ",", "]")),
      "phases" -> Json.Raw(phases.asScala.mkString("[", ",", "]")),
      "progress" -> Json.Raw(progress.asScala.mkString("[", ",", "]")),
      "blocks" -> Json.Raw(blocks.asScala.mkString("[", ",", "]")))
  }
}
