package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamGate

/** The other two batch-planner integrations: SupportsReportStatistics
  * (metadata row/byte stats → Catalyst auto-broadcasts a small topic
  * against a big table, no broadcast() hint) and SupportsPushDownLimit
  * (a LIMIT caps every partition's slice before any bytes are read;
  * refused when pushed filters / compaction / retry reads could make a
  * pre-filter cap under-serve). */
class StatsLimitSpec extends SparkSpec {

  private def publishEvents(root: String, n: Int, parts: Int = 2): Unit = {
    import spark.implicits._
    val df = (0 until n).map { i =>
      (s"k${i % 5}", s"payload-$i", Map("seq" -> i.toString),
        new java.sql.Timestamp(1700000000000L + i * 1000L), "text/plain")
    }.toDF("key", "value_str", "properties", "publish_time", "content_type")
    TopicStore.publish(spark, df, root, "events", parts)
  }

  test("metadata statistics let Catalyst broadcast the topic side unhinted") {
    val root = tmpDir("stats")
    publishEvents(root, 50)
    // a big-ish static side (too big to be the broadcast side itself
    // at the default 10 MB threshold it WOULD still broadcast — so
    // assert the DIRECTION: the topic relation is the build side)
    val big = spark.range(0, 200000)
      .select(concat(lit("k"), (col("id") % 5).cast("string")).as("k2"),
        concat(lit("x" * 64), col("id").cast("string")).as("pad"))
    val joined = StreamGate.read(spark, root, "events")
      .join(big, col("key") === col("k2"))
      .groupBy(col("key")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the broadcast exchange must wrap the pulsarlike scan, not the
    // 200k-row range
    val bcastIdx = plan.indexOf("BroadcastExchange")
    assert(bcastIdx >= 0, plan)
    val after = plan.substring(bcastIdx)
    assert(after.contains("pulsarlike"),
      s"broadcast side is not the topic scan:\n$plan")
    assert(joined.collect().map(_.getLong(1)).sum == 50L * 40000)
  }

  test("LIMIT caps partition slices; refused under filters/compaction") {
    val root = tmpDir("limit")
    publishEvents(root, 40, parts = 2)
    val lim = StreamGate.read(spark, root, "events").limit(7)
    val plan = lim.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit=7"), plan)
    assert(lim.count() == 7L)
    // pushed metadata filter → limit not pushed, result still right
    val f = StreamGate.read(spark, root, "events")
      .filter(col("key") === "k1").limit(3)
    val fPlan = f.queryExecution.executedPlan.toString
    assert(!fPlan.contains("PushedLimit"), fPlan)
    assert(f.count() == 3L)
    // compaction → refused (the scan must see the whole slice)
    val c = StreamGate.read(spark, root, "events",
      Map("readCompacted" -> "true")).limit(2)
    val cPlan = c.queryExecution.executedPlan.toString
    assert(!cPlan.contains("PushedLimit"), cPlan)
    assert(c.count() == 2L)
  }
}
