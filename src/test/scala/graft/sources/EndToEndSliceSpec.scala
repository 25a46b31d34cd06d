package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.streaming.StreamGate
import graft.operators.MessageOps

/** SURVEY.md §7 "minimum end-to-end slice": publish events as messages →
  * pulsarlike readStream → metadata projection + from_json parse →
  * watermark + windowed aggregation → foreachBatch sink with ack-on-
  * success; restart proves no reprocessing (ack) and a failing batch
  * proves replay (nack). Exercises A1, A4, A6, A9, A11, A12, A13, A14,
  * A15 plus a real streaming aggregation in one flow. */
class EndToEndSliceSpec extends SparkSpec {

  private val payloadSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def publish(root: String, n: Int, baseId: Int = 0): Unit = {
    import spark.implicits._
    val events = (0 until n).map { i =>
      val id = baseId + i
      (id.toLong, new java.sql.Timestamp(1700000000000L + id * 60000L),
        (id % 7).toLong, if (id % 2 == 0) "click" else "view", id * 1.5,
        s"""{"k": $id}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    TopicStore.publish(spark, MessageOps.fromEvents(events), root, "events", 2)
  }

  test("windowed aggregation over the message stream with ack-on-success") {
    val root = tmpDir("store")
    val ckpt = tmpDir("ckpt")
    publish(root, 60)  // events 1 minute apart → 60 min of event time

    val agg = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def run(): Unit = {
      StreamGate.run(spark, StreamGate.source(spark, root, "events", 64L)
        // A13: only JSON-typed messages parse against the JSON schema
        .withColumn("base_type", trim(split_part(col("content_type"), lit(";"), lit(1))))
        .filter(col("base_type") === "application/json")
        .withColumn("parsed", from_json(col("value_str"), payloadSchema))
        .filter(col("parsed").isNotNull)
        .select(col("parsed.event_type").as("event_type"),
          col("event_time"), col("parsed.value").as("value"))
        .withWatermark("event_time", "10 minutes")
        .groupBy(window(col("event_time"), "30 minutes"), col("event_type"))
        .count()
        .writeStream
        .outputMode("update")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach { r =>
            val k = r.getAs[org.apache.spark.sql.Row]("window")
              .getAs[java.sql.Timestamp]("start").toString + "/" +
              r.getAs[String]("event_type")
            agg.put(k, r.getAs[Long]("count"))
          }: Unit
        }, ckpt)
    }
    run()
    // events 0..59 cycle content types by event_id % 5 ∈ {0,1} → JSON (24
    // of 60); windows are 30 min → 2 windows of event time
    assert(agg.size() >= 2, s"windows seen: $agg")
    val total = agg.values().toArray(Array.empty[java.lang.Long]).map(_.toLong)
    assert(total.sum == 24, s"JSON-typed events aggregated: $agg")
  }

  test("rollback veto: a throwing foreachBatch replays the batch on restart (A15)") {
    val root = tmpDir("store")
    val ckpt = tmpDir("ckpt")
    publish(root, 10)
    val attempts = new java.util.concurrent.atomic.AtomicInteger
    val delivered = new java.util.concurrent.atomic.AtomicLong

    def run(failFirst: Boolean): Either[Throwable, Unit] = {
      val writer = StreamGate.source(spark, root, "events", 64L).writeStream
        .foreachBatch { (df: DataFrame, _: Long) =>
          val n = df.count()
          if (failFirst && attempts.getAndIncrement() == 0)
            throw new RuntimeException("mediation failed → SET_ROLLBACK_ONLY")
          delivered.addAndGet(n): Unit
        }
      try { StreamGate.run(spark, writer, ckpt); Right(()) }
      catch { case e: Throwable => Left(e) }
    }

    assert(run(failFirst = true).isLeft)   // the veto aborts the query
    assert(delivered.get() == 0)           // nothing acked
    assert(run(failFirst = false).isRight) // restart: batch replays
    assert(delivered.get() == 10)          // at-least-once redelivery
  }

  test("Key_Shared: per-key arrival order is preserved through the source (A3)") {
    val root = tmpDir("store")
    publish(root, 40)
    // batch-read in partition order; within a partition offsets ascend
    val df = StreamGate.read(spark, root, "events")
      .select(col("key"),
        expr("CAST(split(message_id, ':')[1] AS BIGINT)").as("off"),
        expr("CAST(split(message_id, ':')[2] AS INT)").as("p"),
        col("publish_time"))
    // each key maps to exactly one partition, and within it publish_time
    // is non-decreasing with offset — so per-key order is total
    val violations = df
      .withColumn("prev_ts", lag("publish_time", 1)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy("key").orderBy("off")))
      .filter(col("prev_ts") > col("publish_time"))
      .count()
    assert(violations == 0)
  }
}
