package graft.pipeline

import graft.operators.EventOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's flagship ingest dataflow (SURVEY.md §3.1/§3.2),
  * re-expressed as ONE narrow Spark DAG — no shuffle anywhere between
  * source and sink, so it scales linearly with input splits:
  *
  *   raw gateway payload (F1)
  *     → T1 fan-out (1 → ≤9 readings via the declarative sensor mapping,
  *       ruuvitag_adapter.py:272-331)
  *     → T2 common-property enrichment (:262-270)
  *     → T4 battery % from voltage (:446-468)
  *     → T5 timestamp normalization (:407-437)
  *     → T6 sanity clamp (timescaledb_sink.py:152-161)
  *     → T7/T8 validation split (:387-405, models.py:171-197)
  *     → T9 threshold anomaly flag from the threshold config, folded
  *       into the plan as a literal map (:470-511, config.yaml:152-159)
  *
  * The same transform chain serves batch backfill and the streaming
  * ingest job (DataFrames are source-agnostic); the sink side is
  * `store.Lifecycle.writeClustered` (batch) or
  * `streaming.Streams.startDedupSink` (micro-batch).
  */
object Ingest {

  /** Declarative sensor mapping (ruuvitag_adapter.py:272-331): raw field
    * → (derived device_type, unit, optional axis).
    */
  case class SensorMap(field: String, deviceType: String, unit: String,
      axis: Option[String] = None)

  val sensorMapping: Seq[SensorMap] = Seq(
    SensorMap("temperature", "temperature_sensor", "°C"),
    SensorMap("humidity", "humidity_sensor", "%"),
    SensorMap("pressure", "pressure_sensor", "Pa"),
    SensorMap("acceleration_x", "motion_sensor", "g", Some("x")),
    SensorMap("acceleration_y", "motion_sensor", "g", Some("y")),
    SensorMap("acceleration_z", "motion_sensor", "g", Some("z")),
    SensorMap("battery_voltage", "battery_sensor", "V"),
    SensorMap("tx_power", "signal_sensor", "dBm"),
    SensorMap("movement_counter", "motion_counter", "count"))

  /** Per-type anomaly thresholds (config.yaml:152-159 / config.py:295-305)
    * as a tiny config table — read when the ingest plan is built, never
    * hardcoded in the plan, so ops can change thresholds without a
    * redeploy.
    */
  def thresholdConfig(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("temperature_sensor", -40.0, 85.0),
      ("humidity_sensor", 15.0, 100.0),
      ("pressure_sensor", 87000.0, 108500.0),
      ("battery_sensor", 2.0, 4.0)
    ).toDF("device_type", "min_ok", "max_ok")
  }

  /** T4: battery %-from-voltage, the reference's piecewise-linear map
    * (≤2.0 V → 0, ≥3.0 V → 100, else (v−2.0)×100, round 2;
    * ruuvitag_adapter.py:446-468 with min_voltage=2.0 config.yaml:146-151).
    * The zero branch clamps at the configured minimum — values in
    * (min, 1.8] must not go negative, or downstream [0,100] validation
    * quarantines the whole reading instead of storing 0%.
    */
  def batteryPctFromVoltage(v: Column): Column =
    when(v.isNull, lit(null).cast(DoubleType))
      .when(v <= 2.0, 0.0)
      .when(v >= 3.0, 100.0)
      .otherwise(round((v - lit(2.0)) * 100.0, 2))

  /** T1+T2: fan out one raw row into ≤9 canonical readings and attach
    * the common properties. Pure explode of a built struct array — the
    * Spark idiom for the reference's per-field loop.
    */
  def fanout(raw: DataFrame, now: Column): DataFrame = {
    val metrics = array(sensorMapping.map { m =>
      struct(
        lit(m.field).as("field"),
        lit(m.deviceType).as("sensor_type"),
        lit(m.unit).as("unit"),
        lit(m.axis.orNull).cast(StringType).as("axis"),
        EventOps.safeDouble(col(m.field)).as("value"),
        col(m.field).isNotNull.as("present"))
    }: _*)
    raw
      .withColumn("m", explode(metrics))
      .filter(col("m.present")) // absent fields produce no reading
      .select(
        concat(col("device_id"), lit("_"), col("m.field")).as("device_id"),
        col("m.sensor_type").as("device_type"),
        EventOps.normalizeTs(col("timestamp"), now).as("ts"),
        col("m.value").as("value"),
        col("m.unit").as("unit"),
        struct(
          lit(60.1699).as("latitude"), lit(24.9384).as("longitude"),
          lit("gateway-default").as("building"),
          lit(1).as("floor"), lit(null).cast(StringType).as("zone"),
          lit(null).cast(StringType).as("room")).as("location"),
        batteryPctFromVoltage(col("battery_voltage")).as("battery_level"),
        col("tx_power").cast(DoubleType).as("signal_strength"),
        lit("ACTIVE").as("status"),
        array(lit("ruuvitag"), lit("ble")).as("tags"),
        map(
          lit("parent_device"), col("device_id"),
          lit("sensor_type"), col("m.sensor_type"),
          lit("axis"), col("m.axis")).as("device_metadata"))
  }

  /** Full ingest transform: fan-out → clamp → validate → anomaly-flag.
    * Returns (valid readings with is_anomaly, quarantined invalid rows) —
    * the reference drops invalid messages with counted reasons (T7); we
    * keep them routable to a dead-letter sink.
    */
  def ingest(s: SparkSession, raw: DataFrame, now: Column):
      (DataFrame, DataFrame) = {
    val lo = now - expr("INTERVAL 24 HOURS")
    val hi = now + expr("INTERVAL 24 HOURS")
    val fanned = fanout(raw, now)
      .withColumn("ts", EventOps.clampTs(col("ts"), lo, hi)) // T6
    val validCond = col("device_id").isNotNull &&
      col("device_type").isNotNull && col("ts").isNotNull &&
      col("unit").isNotNull &&
      (col("battery_level").isNull || col("battery_level").between(0, 100))
    val valid = fanned.filter(validCond)
    val invalid = fanned.filter(!validCond)
    // the config's rows are local, so collecting them runs no job; as a
    // literal map in the plan they cost no broadcast job per micro-batch
    val limits = map(thresholdConfig(s).collect().toSeq.flatMap(r => Seq(
      lit(r.getString(0)),
      struct(lit(r.getDouble(1)).as("min_ok"), lit(r.getDouble(2)).as("max_ok")))): _*)
    val lim = limits(col("device_type"))
    // the left join's column order: the join key first
    val flagged = valid.select(
      col("device_type") +: valid.columns.toSeq.filter(_ != "device_type").map(col) :+
        (lim.isNotNull &&
          (col("value") < lim("min_ok") || col("value") > lim("max_ok"))).as("is_anomaly"): _*)
    (flagged, invalid)
  }

  /** S7: deterministic seeded generator (port of iot_simulator.py:97-259)
    * producing raw gateway rows — fully distributed (`spark.range`, all
    * randomness derived from hash60(seed, device, seq) columns, so any
    * partitioning yields identical data).
    */
  def generateRaw(s: SparkSession, nDevices: Int, nPerDevice: Int,
      seed: Long = 42L, startEpoch: Long = 1704067200L): DataFrame = {
    import graft.functions.TextFunctions.hash60
    def u(tag: String): Column = // uniform [0,1), deterministic
      (hash60(concat_ws("|", lit(seed), lit(tag), col("dev"), col("seq"))) %
        1000000L).cast(DoubleType) / 1000000.0
    s.range(nDevices.toLong * nPerDevice)
      .withColumn("dev", col("id") % nDevices)
      .withColumn("seq", (col("id") / nDevices).cast(LongType))
      .select(
        format_string("aa:bb:cc:00:00:%02x", col("dev")).as("device_id"),
        lit("ruuvitag").as("device_type"),
        (lit(startEpoch) + col("seq")).cast(StringType).as("timestamp"),
        // ~5% anomaly injection (iot_simulator.py:200-221): spike pushes
        // the value past the 85 °C threshold so T9 must flag it
        round(lit(21.0) + (u("t") - 0.5) * 10.0 +
          when(u("ta") < 0.05, 80.0).otherwise(0.0), 2).as("temperature"),
        round(lit(45.0) + (u("h") - 0.5) * 20.0, 2).as("humidity"),
        round(lit(101325.0) + (u("p") - 0.5) * 2000.0, 1).as("pressure"),
        round((u("ax") - 0.5) * 0.1, 3).as("acceleration_x"),
        round((u("ay") - 0.5) * 0.1, 3).as("acceleration_y"),
        round(lit(1.0) + (u("az") - 0.5) * 0.02, 3).as("acceleration_z"),
        round(lit(3.0) - col("seq") * 0.00001 - u("b") * 0.1, 3).as("battery_voltage"),
        lit(4).as("tx_power"),
        (col("seq") % 256).cast(IntegerType).as("movement_counter"),
        col("seq").cast(IntegerType).as("measurement_sequence"))
  }
}
