package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.pipeline.Ingest
import graft.store.Backfill
import graft.streaming.{JsonGateway, KafkaWire, Streams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The `ingest` workload: the reference's write path as two streaming
  * legs joined by a Kafka-shaped topic.
  *
  *  - producer: gateway JSON files → `JsonGateway.parse` → `Ingest.ingest`
  *    → `KafkaWire.toKafkaRecords` → record files (the parquet transport
  *    stands in for the broker);
  *  - consumer: record files → `KafkaWire.fromKafkaRecords` →
  *    `Streams.commitBatch` (keyed exactly-once) → `Backfill.refreshRange`
  *    of the hourly rollup → one `Backfill.servedHourly` read.
  *
  * Phase 1 drains the pre-staged backlog: the producer in
  * `producer_batches` micro-batches of `max_files` files, then the
  * consumer in as many micro-batches (closed loop). Phase 2 is open
  * loop, both legs restarted without the file cap and running at once:
  * one generator thread moves the paced files into the watched directory
  * at `rate` files/s, on a fixed schedule that does not wait for the
  * pipeline. A consumer batch is visible once its served read has
  * returned; `visible` records when.
  */
object IngestRun {
  def apply(spark: SparkSession, trace: Trace,
      conf: Map[String, String]): Seq[(String, Any)] = {
    val in = conf("in")
    val work = conf("work")
    val maxFiles = conf("max_files")
    val producerBatches = conf("producer_batches").toInt
    val rate = conf("rate").toDouble
    val nowEpoch = conf("now").toLong
    val now = timestamp_seconds(lit(nowEpoch)).cast("timestamp_ntz")
    // the rollup serves closed buckets up to two hours before `now`
    val servedUntil = new java.sql.Timestamp((nowEpoch - 2 * 3600) * 1000L)
    val today = java.time.LocalDate.ofEpochDay(nowEpoch / 86400)
    val (from, to) = (today.minusDays(1), today.plusDays(1))
    val visible = new ConcurrentHashMap[Long, Double]()

    // The two legs of one pipeline, each on its own checkpoint under
    // `dir`. `cap` is the most files a micro-batch takes: set while a
    // backlog drains, so it drains in the same micro-batches whatever the
    // timing; unset in the paced phase, so neither leg throttles. A leg
    // restarted on its checkpoint resumes where it stopped.
    def topic(dir: String) = KafkaWire.Transport("parquet", topic = s"$dir/topic")
    def capped(cap: Option[String]) =
      cap.foldLeft(spark.readStream)(_.option("maxFilesPerTrigger", _))

    def produce(dir: String, src: String, cap: Option[String]): StreamingQuery = {
      new File(topic(dir).topic).mkdirs()
      val (valid, _) = Ingest.ingest(spark,
        JsonGateway.parse(capped(cap).text(src)), now)
      KafkaWire.writeRecordStream(KafkaWire.toKafkaRecords(valid), topic(dir),
        s"$dir/ckpt-producer")
    }

    // the record stream is the parquet transport's
    // (`KafkaWire.readRecordStream`) with the file cap added
    def consume(dir: String, cap: Option[String], record: Boolean): StreamingQuery = {
      val records = capped(cap)
        .schema(KafkaWire.readRecordStream(spark, topic(dir)).schema)
        .parquet(topic(dir).topic)
      val (store, rollup) = (s"$dir/store", s"$dir/rollup")
      KafkaWire.fromKafkaRecords(records).writeStream
        .option("checkpointLocation", s"$dir/ckpt-consumer")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val q = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
          trace.span("consumer.batch", id.toString, q) {
            trace.span("store.commit", id.toString, q) {
              Streams.commitBatch(batch, store, id, keys = Seq("device_id", "ts"))
            }
            trace.span("store.refresh", id.toString, q) {
              val events = spark.read.parquet(store).select(col("ts"),
                col("device_type").as("event_type"), col("value"))
              Backfill.refreshRange(spark, events, rollup, from, to)
              Backfill.servedHourly(spark, events, rollup, servedUntil).collect()
            }
          }
          if (record) visible.put(id, trace.nowMs)
          ()
        }
        .start()
    }

    // The producer drains what `src` holds, then the consumer drains the
    // topic, both capped: the consumer takes as many record files per
    // micro-batch as one producer micro-batch wrote, so the backlog
    // reaches it in the same number of micro-batches.
    def drain(dir: String, src: String, batches: Int, record: Boolean): Unit = {
      val p = produce(dir, src, Some(maxFiles))
      p.processAllAvailable(); p.stop()
      val files = new File(topic(dir).topic).list().count(_.endsWith(".parquet"))
      val c = consume(dir, Some((files / batches).max(1).toString), record)
      c.processAllAvailable(); c.stop()
    }

    // set-up: one small warm-up drain in its own directory
    drain(s"$work/warm", s"$in/warmup", 1, record = false)

    val drop = s"$in/drop" // holds the pre-staged backlog
    val main = s"$work/main"
    val (store, rollup) = (s"$main/store", s"$main/rollup")
    val firstTimed = trace.nowMs
    drain(main, drop, producerBatches, record = true)
    val drainEnd = visible.values.asScala.max
    val drainBatches = visible.size
    val drainRows = spark.read.parquet(store).count()
    val topicFiles = new File(topic(main).topic).list().count(_.endsWith(".parquet"))
    val drainBytes = Main.treeBytes(store) + Main.treeBytes(rollup)
    val producer = produce(main, drop, None)
    val consumer = consume(main, None, record = true)

    val paced = new File(s"$in/paced").listFiles().sortBy(_.getName)
    val period = 1000.0 / rate
    val drops = new Array[Array[Double]](paced.length)
    val start = trace.nowMs + 100
    val generator = new Thread(() => paced.zipWithIndex.foreach { case (f, i) =>
      val due = start + i * period
      val wait = due - trace.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      Files.move(f.toPath, new File(drop, f.getName).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      drops(i) = Array(due, trace.nowMs)
    }, "perfbench-generator")
    generator.start()
    generator.join()
    Seq(producer, consumer).foreach(_.processAllAvailable())
    val liveMem = Main.liveMem()
    val ids = Map("producer" -> producer.id.toString,
      "consumer" -> consumer.id.toString)
    producer.stop(); consumer.stop()

    // outside every timed window: the quarantine side of the same DAG
    val quarantined = Ingest.ingest(spark,
      JsonGateway.parse(spark.read.text(drop)), now)._2.count()

    Seq(
      "first_timed" -> firstTimed,
      "drain_end" -> drainEnd,
      "drain_rows" -> drainRows,
      "drain_bytes" -> drainBytes,
      "drain_topic_files" -> topicFiles,
      "drain_batches" -> drainBatches,
      "live_mem" -> liveMem,
      "visible" -> visible.asScala.map { case (k, v) => k.toString -> v }.toMap,
      "drops" -> drops.toSeq,
      "quarantined_rows" -> quarantined,
      "query_ids" -> ids,
      "store" -> store,
      "rollup" -> rollup)
  }
}
