package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamGate

/** COUNT(*) pushdown (SupportsPushDownAggregates): an unfiltered,
  * ungrouped count over the source is answered from partition
  * metadata — the scan plans one row per partition carrying the slice
  * length and no message bytes are read. The spec pins the plan
  * marker, result parity, the seek interaction (slice bounds stay
  * metadata-computable), and every refusal case where count ≠ slice
  * length (filters, compaction, retry log, grouping). */
class AggPushdownSpec extends SparkSpec {

  private def publishEvents(root: String, n: Int, parts: Int = 3,
      dupKeys: Boolean = false): Unit = {
    import spark.implicits._
    val df = (0 until n).map { i =>
      (s"k${if (dupKeys) i % 5 else i}", s"payload-$i",
        Map("seq" -> i.toString),
        new java.sql.Timestamp(1700000000000L + i * 1000L), "text/plain")
    }.toDF("key", "value_str", "properties", "publish_time", "content_type")
    TopicStore.publish(spark, df, root, "events", parts)
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("plain count(*) pushes to metadata and matches the data count") {
    val root = tmpDir("aggpd")
    publishEvents(root, 41)
    val c = StreamGate.read(spark, root, "events").agg(count(lit(1)).as("n"))
    assert(planOf(c).contains("PushedAggregation=[COUNT(*)]"), planOf(c))
    assert(c.collect()(0).getLong(0) == 41L)
    // count over a time slice: bounds still metadata-computable
    val t = StreamGate.read(spark, root, "events",
        Map("startingTime" -> "2023-11-14T22:13:30Z"))
      .agg(count(lit(1)).as("n"))
    assert(planOf(t).contains("PushedAggregation=[COUNT(*)]"), planOf(t))
    assert(t.collect()(0).getLong(0) == 31L)
  }

  test("refusal cases: filter, compaction, retry log, group-by") {
    val root = tmpDir("aggpd-no")
    publishEvents(root, 30, dupKeys = true)
    // a pushed FILTER changes the count — no pushdown, result correct
    val f = StreamGate.read(spark, root, "events")
      .filter(col("key") === "k1").agg(count(lit(1)))
    assert(!planOf(f).contains("PushedAggregation"), planOf(f))
    assert(f.collect()(0).getLong(0) == 6L)
    // compaction: visible rows are latest-per-key, not slice length
    val comp = StreamGate.read(spark, root, "events",
        Map("readCompacted" -> "true")).agg(count(lit(1)))
    assert(!planOf(comp).contains("PushedAggregation"), planOf(comp))
    assert(comp.collect()(0).getLong(0) == 5L)
    // group-by needs real keys — no pushdown, result correct
    val g = StreamGate.read(spark, root, "events")
      .groupBy(col("key")).agg(count(lit(1)).as("n"))
    assert(!planOf(g).contains("PushedAggregation"), planOf(g))
    assert(g.collect().map(_.getLong(1)).sum == 30L)
  }

  test("retention base: the pushed count is the RETAINED slice") {
    val root = tmpDir("aggpd-trunc")
    publishEvents(root, 20, parts = 1)
    TopicStore.truncateTopic(root, "events", 0, 8L)
    val c = StreamGate.read(spark, root, "events").agg(count(lit(1)).as("n"))
    assert(planOf(c).contains("PushedAggregation=[COUNT(*)]"), planOf(c))
    assert(c.collect()(0).getLong(0) == 12L)
  }
}
