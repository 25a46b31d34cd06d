package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TopicStore

/** Behavioral evidence for the ws04/w08 machinery that the oracle gate
  * can't show directly:
  *  - update mode re-emits the SAME window key across micro-batches,
  *    partial then refined, and latest-batch-wins reconstructs the
  *    final value;
  *  - a stream-stream interval join can feed a windowed aggregation in
  *    ONE streaming query (two chained stateful operators).
  * Timestamps are epoch-ms constants (UTC) so assertions don't depend
  * on the test JVM's default timezone.
  */
class UpdateModeSpec extends SparkSpec {

  // 2024-03-01 00:00:00 UTC
  private val mar1 = 1709251200000L
  private def at(secondsIntoDay: Long) =
    new Timestamp(mar1 + secondsIntoDay * 1000L)

  test("update mode re-emits a window refined across batches; latest batch wins") {
    import spark.implicits._
    val root = tmpDir("upd")
    val ckpt = tmpDir("upd-ckpt")
    val outDir = root + "/win"
    def publish(id: String, eventTime: Timestamp): Unit =
      TopicStore.publish(spark,
        Seq((id, "7", "x", eventTime))
          .toDF("message_id", "key", "value_str", "event_time")
          .withColumn("publish_time", col("event_time")),
        root, "t", 2)
    def runPass(): Unit = StreamGate.run(spark,
      StreamGate.source(spark, root, "t", 1000L)
        .withWatermark("event_time", "1 hour")
        .groupBy(window(col("event_time"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("n"))
        .writeStream
        .outputMode("update")
        .foreachBatch(StreamGate.land(outDir)), ckpt)
    publish("0:0:0:0", at(10 * 3600 + 5 * 60))   // 10:05, window [10:00, 11:00)
    runPass()
    publish("0:1:0:0", at(10 * 3600 + 40 * 60))  // 10:40, same window
    runPass()
    val win = new Timestamp(mar1 + 10 * 3600 * 1000L)
    val emissions = BatchLanding.readRaw(spark, outDir)
      .filter(col("window_start") === lit(win))
      .select(col("batch_id").cast("long").as("batch_id"), col("n"))
      .orderBy(col("batch_id"))
      .collect()
    // same window key, two distinct batches: partial count then refined
    assert(emissions.map(_.getAs[Long]("n")).toSeq == Seq(1L, 2L),
      emissions.mkString(","))
    assert(emissions.map(_.getAs[Long]("batch_id")).distinct.length == 2)
    // latest-batch-wins (the ws04 reconstruction) yields the final value
    val latest = emissions.maxBy(_.getAs[Long]("batch_id"))
    assert(latest.getAs[Long]("n") == 2L)
  }

  test("interval join feeding a window agg runs two chained stateful operators") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val buys = MemoryStream[(Long, Long, Timestamp)]
    val c = clicks.toDF().toDF("click_id", "user", "click_ts")
      .withWatermark("click_ts", "1 hour")
    val b = buys.toDF().toDF("buy_id", "buser", "buy_ts")
      .withWatermark("buy_ts", "1 hour")
    val agg = c.join(b,
        col("user") === col("buser") &&
        col("click_ts") >= col("buy_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("buy_ts"))
      .groupBy(window(col("click_ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("day"), col("n"))
    val q = agg.writeStream.format("memory").queryName("jw")
      .outputMode("append").start()
    try {
      // one attributed pair inside Mar 1; an unmatched click too
      clicks.addData((1L, 7L, at(10 * 3600)), (2L, 8L, at(11 * 3600)))
      buys.addData((10L, 7L, at(10 * 3600 + 1800)))
      q.processAllAvailable()
      assert(spark.table("jw").count() == 0)  // window not finalized yet
      // push both watermarks past the end of Mar 1 (+1 h delay)
      val far = new Timestamp(mar1 + 4 * 86400 * 1000L)
      clicks.addData((99L, 1L, far))
      buys.addData((98L, 2L, far))
      q.processAllAvailable()
      val rows = spark.table("jw").collect()
      assert(rows.map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq ==
        Seq((mar1, 1L)), rows.mkString(","))
      // the single query ran join state AND aggregation state
      assert(q.lastProgress.stateOperators.length == 2,
        q.lastProgress.prettyJson)
    } finally q.stop()
  }

  test("chained window aggs cascade: hour rollup finalizes in the SAME batch as its slots") {
    // the ws09 contract in isolation: 10-min counts feed an hourly
    // rollup via window_time() inside one query; when the watermark
    // passes, the finalized 10-min windows AND the hour built from
    // them must land in ONE batch (downstream late-filtering uses the
    // previous-batch watermark — SPARK-40925 — so the cascade is not
    // delayed a trigger)
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val src = MemoryStream[(Long, Timestamp)]
    val agg = src.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(window_time(col("window")).as("wt"), col("n"))
      .groupBy(window(col("wt"), "1 hour"))
      .agg(count(lit(1)).cast("long").as("n_slots"),
        sum(col("n")).cast("long").as("n_events"),
        max(col("n")).cast("long").as("max_10min"))
      .select(col("window.start").as("window_start"),
        col("n_slots"), col("n_events"), col("max_10min"))
    val q = agg.writeStream.format("memory").queryName("chained")
      .outputMode("append").start()
    try {
      // hour 10:00–11:00 with three touched 10-min slots: 2, 1, 3 rows
      src.addData(
        (1L, at(10 * 3600 + 60)), (2L, at(10 * 3600 + 120)),
        (3L, at(10 * 3600 + 900)),
        (4L, at(10 * 3600 + 1800)), (5L, at(10 * 3600 + 1860)),
        (6L, at(10 * 3600 + 1920)))
      q.processAllAvailable()
      assert(spark.table("chained").count() == 0)  // nothing finalized
      src.addData((99L, at(3 * 86400)))            // watermark far past
      q.processAllAvailable()
      val rows = spark.table("chained").collect()
      assert(rows.length == 1, rows.mkString(","))
      val r = rows.head
      assert(r.getTimestamp(0).getTime == mar1 + 10 * 3600 * 1000L)
      assert(r.getLong(1) == 3L && r.getLong(2) == 6L && r.getLong(3) == 3L,
        r.toString)
      assert(q.lastProgress.stateOperators.length == 2,
        q.lastProgress.prettyJson)
    } finally q.stop()
  }
}
