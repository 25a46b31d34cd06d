package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TopicStore

/** The metrics topic is only an observability surface if its numbers
  * are the TRUTH about the query it describes — so the gate joins
  * metrics rows to per-batch counts recorded independently by the
  * query's own sink callback, batch by batch. */
class MetricsTopicSpec extends SparkSpec {

  private def awaitMetrics(root: String, topic: String, n: Long): DataFrame = {
    // the listener bus delivers progress events asynchronously; poll
    // (bounded) until the expected batches have landed
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var df = MetricsTopic.read(spark, root, topic)
    while (df.count() < n && System.nanoTime() < deadline) {
      Thread.sleep(200)
      df = MetricsTopic.read(spark, root, topic)
    }
    df
  }

  test("metrics rows join 1:1 to the gated query's per-batch sink counts") {
    import spark.implicits._
    val root = tmpDir("metrics")
    val ckpt = tmpDir("metrics-ckpt")
    val fixture = (0 until 40).map { i =>
      (s"k${i % 4}", s"msg-$i", new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("key", "value_str", "publish_time")
    TopicStore.publish(spark, fixture, root, "events", 2)

    val sunk = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val listener = MetricsTopic.attach(spark, root, "events-metrics")
    try {
      // several micro-batches
      StreamGate.run(spark, StreamGate.source(spark, root, "events", 7L)
        .writeStream
        .foreachBatch { (df: DataFrame, bid: Long) =>
          sunk.put(bid, df.count()); ()
        }, ckpt)

      val expected = sunk.asScala.toMap.filter(_._2 > 0)
      val metrics = awaitMetrics(root, "events-metrics", expected.size.toLong)
        .filter(col("num_input_rows") > 0)
        .select("batch_id", "num_input_rows", "state_rows")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(metrics.keySet == expected.keySet,
        s"metrics batches ${metrics.keySet} != sink batches ${expected.keySet}")
      expected.foreach { case (bid, n) =>
        assert(metrics(bid)._1 == n,
          s"batch $bid: metrics ${metrics(bid)._1} rows != sink $n")
        assert(metrics(bid)._2 == 0L, "stateless query must report 0 state rows")
      }
      assert(expected.values.sum == 40L)
    } finally MetricsTopic.detach(spark, listener)
  }

  test("watermark drops and state size surface in the metrics topic") {
    import spark.implicits._
    val root = tmpDir("metrics-wm")
    implicit val sql = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp)]
    val listener = MetricsTopic.attach(spark, root, "wm-metrics")
    try {
      val q = input.toDS().toDF("id", "t")
        .withWatermark("t", "10 seconds")
        .dropDuplicates("id", "t")
        .writeStream.format("noop").start()
      try {
        input.addData((1L, ts(100)))
        q.processAllAvailable()           // watermark -> 90
        input.addData((2L, ts(5)))        // 85 s late: dropped
        q.processAllAvailable()
      } finally q.stop()

      val m = awaitMetrics(root, "wm-metrics", 2L)
      assert(m.agg(sum("dropped_by_watermark")).head.getLong(0) == 1L,
        "the late row must appear in the drop counter")
      assert(m.agg(max("state_rows")).head.getLong(0) >= 1L,
        "dedup state must be visible")
      assert(m.filter(col("watermark_ms") === 90L * 1000).count() >= 1,
        "the advanced watermark must be visible")
    } finally MetricsTopic.detach(spark, listener)
  }
}
