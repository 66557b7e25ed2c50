package graft

import java.nio.file.Files

import graft.pipeline.Ingest
import graft.store.Lifecycle
import org.apache.spark.sql.functions._

class IngestSpec extends SparkSpec {

  private val now = Cols.tsLit("2024-01-01 12:00:00")

  test("S7 generator is deterministic and partitioning-independent") {
    val a = Ingest.generateRaw(spark, 4, 50).collect().toSet
    val b = Ingest.generateRaw(spark, 4, 50).repartition(7).collect().toSet
    assert(a == b && a.size == 200)
  }

  test("T1 fan-out: 9 readings per complete raw row, derived ids and units") {
    import spark.implicits._
    val raw = Ingest.generateRaw(spark, 2, 10)
    val fanned = Ingest.fanout(raw, now)
    assert(fanned.count() == 2 * 10 * 9)
    val types = fanned.select("device_type").distinct().as[String].collect().toSet
    assert(types == Ingest.sensorMapping.map(_.deviceType).toSet)
    val oneId = fanned.filter($"device_type" === "temperature_sensor")
      .select("device_id").as[String].head()
    assert(oneId.endsWith("_temperature"))
    // partial rows fan out only the present fields (adapter:334-337)
    val partial = raw.limit(1).withColumn("humidity", lit(null).cast("double"))
      .withColumn("tx_power", lit(null).cast("int"))
    assert(Ingest.fanout(partial, now).count() == 7)
  }

  test("end-to-end ingest: validation split, anomaly rate, metadata") {
    import spark.implicits._
    val raw = Ingest.generateRaw(spark, 8, 200)
    val (valid, invalid) = Ingest.ingest(spark, raw, now)
    assert(invalid.count() == 0)
    assert(valid.count() == 8L * 200 * 9)
    // ~5% of temperature readings are injected spikes past 85 °C (T9)
    val tEmp = valid.filter($"device_type" === "temperature_sensor")
    val anomalyRate = tEmp.filter($"is_anomaly").count().toDouble / tEmp.count()
    assert(anomalyRate > 0.02 && anomalyRate < 0.10, s"rate=$anomalyRate")
    // non-thresholded types are never flagged
    assert(valid.filter($"device_type" === "signal_sensor" && $"is_anomaly").count() == 0)
    // battery % stays in domain (T4 + T8)
    assert(valid.filter($"battery_level" < 0 || $"battery_level" > 100).count() == 0)
    // sibling lineage is preserved for T11-style correlation
    val parents = valid.select(element_at($"device_metadata", "parent_device"))
      .distinct().count()
    assert(parents == 8)
  }

  test("ingest → clustered store → analytics round-trip (§3.2 path)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ingest_store").toString
    val (valid, _) = Ingest.ingest(spark, Ingest.generateRaw(spark, 4, 100), now)
    Lifecycle.writeClustered(valid, dir, "device_id", "ts")
    val back = spark.read.parquet(dir)
    assert(back.count() == valid.count())
    // A1-style rollup over the stored table
    val summary = back.groupBy($"device_id")
      .agg(count(lit(1)).as("n"), max_by($"value", $"ts").as("last_value"))
    assert(summary.count() == 4 * 9)
    assert(summary.filter($"n" =!= 100).count() == 0)
  }

  test("T9 anomaly flag: thresholds fold into the plan, equal to the config join, no broadcast") {
    import org.apache.spark.graftbridge.JobCounter
    val (valid, _) = Ingest.ingest(spark, Ingest.generateRaw(spark, 8, 100), now)
    // the config table joined on device_type, as a reference
    val joined = valid.drop("is_anomaly")
      .join(broadcast(Ingest.thresholdConfig(spark)), Seq("device_type"), "left")
      .withColumn("is_anomaly", col("min_ok").isNotNull &&
        (col("value") < col("min_ok") || col("value") > col("max_ok")))
      .drop("min_ok", "max_ok")
    assert(valid.schema == joined.schema)
    val (got, jobs) = JobCounter.jobsIn(spark.sparkContext)(valid.collect())
    assert(got.map(_.toString).sorted.sameElements(joined.collect().map(_.toString).sorted))
    assert(got.count(_.getAs[Boolean]("is_anomaly")) > 0)
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    assert(plan(joined).contains("BroadcastExchange"))
    assert(!plan(valid).contains("BroadcastExchange"), plan(valid))
    assert(jobs.size == 1, jobs.map(JobCounter.callSite).mkString(", "))
  }
}
