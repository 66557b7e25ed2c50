package perfbench

import scala.collection.mutable

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The `serve` workload: one closed-loop client issuing registered
  * queries against stores built during set-up. Each round issues every
  * dashboard and retrieval op once, and the first round also the corpus
  * stage, in an order drawn from the seed; the window is a fixed number
  * of rounds, so every run times the same requests. A request is the call that returns the DataFrame
  * (`construct`, including its eager side jobs) plus the `collect`
  * (`action`). Corpus requests are timed the same way but are not
  * interactive requests.
  */
object ServeRun {
  /** Few driver jobs per request: the control for job-count work. */
  val Dashboard: Seq[String] = Seq("a2_hourly_agg", "w1_gap_detection",
    "o1_recent_readings", "o3_recent_topn", "t10_alerts")

  /** Many driver jobs per request, reading the persisted stores. */
  val Retrieval: Seq[String] = Seq("emb_pq_serve", "lex_bm25_serve")

  /** A dedup stage: shuffles, a persisted signature relation and an
    * eager local checkpoint. */
  val Corpus: Seq[String] = Seq("dedup_minhash_lsh")

  def apply(spark: SparkSession, trace: Trace,
      conf: Map[String, String]): Seq[(String, Any)] = {
    val dir = conf("in")
    val ops = Dashboard.map(_ -> "dashboard") ++
      Retrieval.map(_ -> "retrieval") ++ Corpus.map(_ -> "corpus")
    val threads = conf("cores").toInt
    // set-up: one unmeasured call of every op, which builds the stores.
    // The calls run side by side, longest first: most of a cold call is
    // driver work (class loading, code generation, compilation).
    inParallel(threads)((Retrieval ++ Corpus ++ Dashboard).map { op => () =>
      trace.span("warmup", op) { SparkEntry.queries(op)(spark, dir).collect() }
    })
    // A second call of each interactive op: the JIT is still compiling
    // through the first, which left the first measured round about 30%
    // slower than the rest.
    inParallel(threads)((Retrieval ++ Dashboard).map { op => () =>
      trace.span("warmup2", op) { SparkEntry.queries(op)(spark, dir).collect() }
    })

    val rng = new scala.util.Random(conf("seed").toLong)
    val results = mutable.LinkedHashMap[String, (Array[Row], StructType)]()
    val requests = mutable.ArrayBuffer[Map[String, Any]]()
    val firstTimed = trace.nowMs
    for (round <- 1 to conf("rounds").toInt) {
      val mix = if (round == 1) ops else ops.filter(_._2 != "corpus")
      rng.shuffle(mix).foreach { case (op, cls) =>
        val req = requests.size.toString
        val t0 = trace.nowMs
        val rows = trace.span("request", req) {
          val df = trace.span("construct", req) { SparkEntry.queries(op)(spark, dir) }
          val rows = trace.span("action", req) { df.collect() }
          if (!results.contains(op)) results(op) = (rows, df.schema)
          rows
        }
        requests += Map("req" -> req, "op" -> op, "class" -> cls,
          "start" -> t0, "end" -> trace.nowMs, "rows" -> rows.length)
      }
    }
    val windowEnd = trace.nowMs
    val liveMem = Main.liveMem()

    // outside the measured window: each op's first result, for the oracle
    val out = conf("results")
    inParallel(threads)(results.toSeq.map { case (op, (rows, schema)) => () =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$out/$op")
    })
    Seq(
      "first_timed" -> firstTimed,
      "window_end" -> windowEnd,
      "live_mem" -> liveMem,
      "requests" -> requests.toSeq,
      "oracle_sql" -> ops.map { case (op, _) => op -> SparkEntry.oracleSql(op) }.toMap,
      "store_bytes" -> Main.treeBytes(graft.store.StoreRoot.defaultBase))
  }

  /** Runs the tasks on `threads` threads and waits for all of them. */
  private def inParallel(threads: Int)(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() }))
      .foreach(_.get())
    finally pool.shutdown()
  }
}
