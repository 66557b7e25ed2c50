package graft

import org.apache.spark.graftbridge.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Repartition, Sort}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Boundary cases of [[graft.plan.OneTaskSort]] on a factory-built
  * session: where a global sort runs in one task with no range exchange,
  * and where it must keep the exchange. Every case compares the ordered
  * rows with the same query sorted through the range exchange (the
  * rule held off by an advisory partition size of one byte). The
  * advisory size and broadcast threshold are set per case and restored.
  */
class OneTaskSortSpec extends SparkSpec {

  private val Advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  /** Runs `body` with session confs set, restoring the previous values. */
  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Final (post-AQE) plan of a collected frame, without AQE's
    * rendering of the initial plan. */
  private def finalPlan(df: DataFrame): String = df.queryExecution.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.toString
    case p => p.toString
  }

  private def rangeExchange(df: DataFrame): Boolean =
    finalPlan(df).contains("rangepartitioning")

  /** The rows of `q()` sorted through the range exchange. */
  private def viaRangeExchange(q: () => DataFrame): Seq[Row] =
    withConfs(Advisory -> "1") {
      val df = q()
      val rows = df.collect().toSeq
      assert(rangeExchange(df), s"rule fired above a 1-byte bound:\n${finalPlan(df)}")
      rows
    }

  private def events = Tables.events(spark, Sf0001)

  test("a small orderBy sorts in one task: no range exchange, one job") {
    val q = () => events.filter(col("event_type") === "error")
      .select(col("event_id"), col("ts"), col("value"))
      .orderBy(col("ts").desc, col("event_id"))
    val df = q()
    val (rows, jobs) = JobCounter.jobsIn(spark.sparkContext)(df.collect().toSeq)
    assert(!rangeExchange(df), finalPlan(df))
    assert(jobs.size == 1, jobs.map(JobCounter.callSite).mkString(", "))
    assert(rows.nonEmpty && rows == viaRangeExchange(q))
    // idempotent: a second pass leaves the optimized plan as it is
    val optimized = df.queryExecution.optimizedPlan
    assert(graft.plan.OneTaskSort(optimized) == optimized)
  }

  test("a sort under a limit stays a parallel top-k") {
    val sorted = events.select(col("event_id"), col("ts"))
      .orderBy(col("ts").desc, col("event_id"))
    val df = sorted.limit(20)
    val rows = df.collect().toSeq
    assert(finalPlan(df).contains("TakeOrderedAndProject") &&
      !finalPlan(df).contains("Coalesce"), finalPlan(df))
    assert(rows.size == 20 && rows == sorted.collect().toSeq.take(20))
  }

  test("an input above the advisory partition size keeps the range exchange") {
    val q = () => events.select(col("event_id"), col("ts")).orderBy(col("ts"), col("event_id"))
    val input = q().queryExecution.optimizedPlan.collectFirst {
      case Sort(_, true, child, _) => child.stats.sizeInBytes
    }.get
    def run(advisory: BigInt) = withConfs(Advisory -> advisory.toString) {
      val df = q()
      (df.collect().toSeq, rangeExchange(df))
    }
    val (atBound, exchangeAtBound) = run(input)
    val (below, exchangeBelow) = run(input - 1)
    assert(!exchangeAtBound && exchangeBelow)
    assert(atBound.nonEmpty && atBound == below)
  }

  test("no one-task sort over an explode or a rand() column") {
    val exploded = () => events.select(col("event_id"),
        explode(array(col("value"), col("value") * 2)).as("v"))
      .orderBy(col("event_id"), col("v"))
    val randomized = () => events.select(col("event_id"), rand(7).as("r"))
      .orderBy(col("event_id"))
    Seq(exploded, randomized).foreach { q =>
      val df = q()
      val rows = df.collect().toSeq
      assert(rangeExchange(df), s"rule fired over an unbounded estimate:\n${finalPlan(df)}")
      assert(rows.nonEmpty && rows == viaRangeExchange(q))
    }
  }

  test("AQE fires it at runtime over a join whose static estimate is too large") {
    // broadcast off so both sides are shuffle stages; a filter keeps its
    // child's static size, so each side is estimated at 800 kB and the
    // join at their product, while the stages hold 100 rows each
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = () => {
        val a = spark.range(0, 100000).filter(col("id") % 1000 === 0)
        val b = spark.range(0, 100000).filter(col("id") % 500 === 0)
          .select(col("id").as("k"), (col("id") * 3).as("w"))
        a.join(b, col("id") === col("k")).orderBy(col("w").desc)
      }
      val df = q()
      assert(df.queryExecution.optimizedPlan.find(_.isInstanceOf[Repartition]).isEmpty,
        s"static estimate unexpectedly small:\n${df.queryExecution.optimizedPlan}")
      val rows = df.collect().toSeq
      assert(!rangeExchange(df), finalPlan(df))
      assert(rows.size == 100 && rows == viaRangeExchange(q))
    }
  }
}
