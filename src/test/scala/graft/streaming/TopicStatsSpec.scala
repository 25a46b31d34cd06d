package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TopicStore

/** TopicStats reports what the store actually holds: per-partition
  * message counts that tie out to the offset span, byte totals that
  * tie out to the published payload lengths, key cardinality, and a
  * publish-time span — across topics, with empty partitions present
  * as zero rows. */
class TopicStatsSpec extends SparkSpec {

  private def publish(root: String, topic: String, n: Int,
      keySpace: Int, paySize: Int): Unit = {
    import spark.implicits._
    val df = (0 until n).map { i =>
      (s"k${i % keySpace}", "x" * paySize,
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("key", "value_str", "publish_time")
    TopicStore.publish(spark, df, root, topic, 4)
  }

  test("per-partition counts, bytes, keys and spans tie out to the published data") {
    val root = tmpDir("statstore")
    publish(root, "orders", 40, keySpace = 5, paySize = 11)
    publish(root, "audit", 7, keySpace = 2, paySize = 3)

    val rep = TopicStats.report(spark, root).collect()
    // every (topic, partition) the store lists appears exactly once
    assert(rep.map(r => (r.getString(0), r.getInt(1))).distinct.length ==
      rep.length)

    // counts tie out to the offset span on every partition (nothing
    // truncated in this store), and partition totals tie out per topic
    rep.foreach { r =>
      assert(r.getLong(4) == r.getLong(3) - r.getLong(2),
        s"$r: n_messages != log_end - base_offset")
    }
    val byTopic = rep.groupBy(_.getString(0))
    assert(byTopic("orders").map(_.getLong(4)).sum == 40)
    assert(byTopic("audit").map(_.getLong(4)).sum == 7)

    // stored bytes = messages × payload size (ASCII payloads)
    assert(byTopic("orders").map(_.getLong(5)).sum == 40L * 11)
    assert(byTopic("audit").map(_.getLong(5)).sum == 7L * 3)

    // key cardinality: per-partition distinct keys sum to the key
    // space per topic — key-hash routing pins each key to ONE
    // partition, so the per-partition counts partition the key space
    assert(byTopic("orders").map(_.getLong(6)).sum == 5)
    assert(byTopic("audit").map(_.getLong(6)).sum == 2)

    // publish-time span covers the published range per topic
    val span = byTopic("orders")
      .flatMap(r => Seq(r.getTimestamp(7), r.getTimestamp(8)))
    assert(span.min.getTime == 1700000000000L)
    assert(span.max.getTime == 1700000000000L + 39 * 1000L)

    // growth: publishing more advances counts and log_end together
    publish(root, "audit", 5, keySpace = 2, paySize = 3)
    val audit2 = TopicStats.report(spark, root)
      .filter(col("topic") === "audit").collect()
    assert(audit2.map(_.getLong(4)).sum == 12)
    audit2.foreach { r =>
      assert(r.getLong(4) == r.getLong(3) - r.getLong(2)) }
  }

  test("a fully-truncated partition reports its offsets with zeroed aggregates") {
    // the store materializes partitions lazily, so the real zero-row
    // case is retention truncation: offsets persist, data is gone —
    // the report must keep the row (left-outer from metadata) with
    // zeroed aggregates and base == log_end
    val root = tmpDir("statstore-empty")
    publish(root, "solo", 20, keySpace = 8, paySize = 2)
    val before = TopicStats.report(spark, root).collect()
    assert(before.length >= 2, before.mkString(","))
    val victim = before.head
    TopicStore.truncateTopic(root, "solo", victim.getInt(1),
      victim.getLong(3))
    val after = TopicStats.report(spark, root).collect()
    assert(after.length == before.length)
    val r = after.find(_.getInt(1) == victim.getInt(1)).get
    assert(r.getLong(2) == r.getLong(3), s"base != log_end: $r")
    assert(r.getLong(4) == 0L && r.getLong(5) == 0L && r.getLong(6) == 0L,
      s"aggregates not zeroed: $r")
    assert(r.isNullAt(7) && r.isNullAt(8), s"spans not null: $r")
    // the untouched partitions still tie out
    val restBytes = after.filter(_.getInt(1) != victim.getInt(1))
      .map(_.getLong(5)).sum
    assert(restBytes == (20L - victim.getLong(4)) * 2, after.mkString(","))
  }

  test("a store with no topics reports the same nine columns and no rows") {
    val none = TopicStats.report(spark, tmpDir("statstore-none"))
    val root = tmpDir("statstore-one")
    publish(root, "solo", 3, keySpace = 1, paySize = 1)
    def shape(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => (f.name, f.dataType))
    assert(shape(none) == shape(TopicStats.report(spark, root)))
    assert(none.columns.length == 9 && none.collect().isEmpty)
  }
}
