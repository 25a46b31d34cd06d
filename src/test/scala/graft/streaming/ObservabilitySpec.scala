package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Production observability surfaces: `observe()` named metrics on a
  * batch pipeline (the row-count/invariant counters a 100 TB job emits
  * per stage without a second pass over the data) and streaming
  * progress metrics (numRowsDroppedByWatermark — the counter that
  * distinguishes "late data is being dropped" from "data loss" when an
  * ingest pipeline's output comes up short).
  */
object ObservabilitySpec {
  case class Ev(userId: Long, t: Timestamp)
}

class ObservabilitySpec extends SparkSpec {
  import ObservabilitySpec._

  test("observe() collects named metrics in the same pass as the action") {
    val obs = new org.apache.spark.sql.Observation("cleaning")
    val out = spark.range(100).toDF("id")
      .withColumn("ok", col("id") % 10 =!= 0)
      .observe(obs,
        count(lit(1)).as("rows_seen"),
        sum(when(!col("ok"), 1L).otherwise(0L)).as("rows_rejected"))
      .filter(col("ok"))
      .count()
    assert(out == 90)
    // the metrics describe the observed node's full input — including
    // the rows the downstream filter rejected — with no second scan
    assert(obs.get("rows_seen") == 100L, obs.get)
    assert(obs.get("rows_rejected") == 10L, obs.get)
  }

  test("streaming progress reports watermark-dropped rows") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000L)
    val input = MemoryStream[Ev]
    val agg = input.toDS()
      .withWatermark("t", "10 seconds")
      .groupBy(window(col("t"), "1 minute"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("obs_wm")
      .outputMode("append").start()
    try {
      input.addData(Ev(1L, ts(100)))
      q.processAllAvailable()           // watermark advances to 90
      input.addData(Ev(2L, ts(5)))      // 85s below the watermark
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark))
        .sum
      assert(dropped == 1L,
        q.recentProgress.map(_.prettyJson).mkString("\n"))
    } finally q.stop()
  }
}
