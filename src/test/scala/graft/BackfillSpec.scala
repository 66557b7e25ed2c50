package graft

import java.nio.file.Files
import java.time.LocalDate

import graft.store.Backfill
import org.apache.hadoop.fs.Path
import org.apache.spark.graftbridge.JobCounter
import org.apache.spark.sql.functions._

class BackfillSpec extends SparkSpec {

  test("real-time serving: rollup + live tail == full recompute; raw scan bounded to the tail") {
    val dir = Files.createTempDirectory("rollup_rt").toString
    val events = Tables.events(spark, Sf0001)
    // materialize everything, then pretend the last ~2 days never got rolled up
    val servedUntil = java.sql.Timestamp.valueOf("2024-01-28 00:00:00")
    Backfill.materialize(
      events.filter(col("ts") < lit(servedUntil)), dir)

    val served = Backfill.servedHourly(spark, events, dir, servedUntil)
    val full = Backfill.hourlyRollupPartitioned(events).drop("bucket_date")
    assert(served.collect().map(_.toString).sorted.toSeq ==
      full.collect().map(_.toString).sorted.toSeq)
    // rollup side: bucket predicate pushed to the parquet scan; raw
    // side: the tail filter is present (the events nanos shim converts
    // ts post-scan, so it is a Filter node rather than a PushedFilter)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(bucket"), "rollup bucket filter not pushed")
    assert(plan.contains(">= 2024-01-28 00:00:00"), "tail filter missing")
    // misaligned serve point is refused, not silently wrong
    intercept[IllegalArgumentException] {
      Backfill.servedHourly(spark, events, dir,
        java.sql.Timestamp.valueOf("2024-01-28 00:30:00"))
    }
  }

  test("A12 refresh: lost partition rebuilt to equal full recompute; others untouched") {
    val dir = Files.createTempDirectory("rollup").toString
    val events = Tables.events(spark, Sf0001)
    Backfill.materialize(events, dir)
    val expect = Backfill.hourlyRollupPartitioned(events)
      .collect().map(_.toString).sorted

    val dates = spark.read.parquet(dir).select(col("bucket_date"))
      .distinct().orderBy(col("bucket_date"))
      .collect().map(_.getDate(0).toLocalDate)
    assert(dates.length >= 3, s"need several partitions, got ${dates.length}")
    val victim = dates(1)
    val bystander = dates(2)

    // files of an untouched partition, to prove the refresh is scoped
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(d: LocalDate): Set[String] =
      fs.listStatus(new Path(s"$dir/bucket_date=$d"))
        .map(_.getPath.getName).toSet
    val bystanderBefore = files(bystander)

    // corrupt: drop the victim partition entirely (lost chunk)
    fs.delete(new Path(s"$dir/bucket_date=$victim"), true)
    assert(spark.read.parquet(dir).count() < expect.length)

    // refresh exactly that day
    Backfill.refreshRange(spark, events, dir, victim, victim.plusDays(1))

    val got = spark.read.parquet(dir)
      .select(col("bucket"), col("event_type"), col("n"), col("n_value"),
        col("sum_value"), col("min_value"), col("max_value"),
        col("bucket_date"))
      .collect().map(_.toString).sorted
    assert(got.sameElements(expect))
    assert(files(bystander) == bystanderBefore) // untouched partitions keep their files
  }

  test("A12 refresh overwrites dynamically per write, never through the session conf") {
    val dir = Files.createTempDirectory("rollup_conf").toString
    val events = Tables.events(spark, Sf0001)
    Backfill.materialize(events, dir)
    val dates = spark.read.parquet(dir).select(col("bucket_date")).distinct()
      .orderBy(col("bucket_date")).collect().map(_.getDate(0).toLocalDate)
    val (victim, bystander) = (dates(1), dates(2))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(d: LocalDate): Set[String] =
      fs.listStatus(new Path(s"$dir/bucket_date=$d")).map(_.getPath.getName).toSet
    val bystanderBefore = files(bystander)
    // the caller runs static overwrites; a refresh in flight must not
    // flip that for the rest of the session (another thread's write
    // would see `dynamic`, and a concurrent refresh restoring `static`
    // first would turn this one into a static overwrite). Every job of
    // the write snapshots the session's SQL confs at submission.
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val (_, jobs) = JobCounter.jobsIn(spark.sparkContext)(
        Backfill.refreshRange(spark, events, dir, victim, victim.plusDays(1)))
      assert(jobs.nonEmpty)
      val seen = jobs.map(j => Option(j.properties).map(_.getProperty(key)).orNull)
      assert(seen.forall(_ == "static"), s"session conf during the write: $seen")
      assert(spark.conf.get(key) == "static")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    // and the write itself was still dynamic: untouched partitions keep
    // their files
    assert(files(bystander) == bystanderBefore)
    assert(spark.read.parquet(dir).count() ==
      Backfill.hourlyRollupPartitioned(events).count())
  }
}
