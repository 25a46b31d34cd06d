package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{PulsarLikeSource, TopicStore}

/** Pulsar-admin-style per-partition topic stats ("topics stats" on the
  * reference's broker console; the MI console's other ops surface next
  * to [[SubscriptionLag]]): storage offsets from the store METADATA
  * (O(partitions) meta-file reads, no data touched) joined with
  * message-level aggregates read THROUGH the batch source — counts,
  * stored bytes, distinct keys, publish-time span. The join is
  * left-outer from metadata so an empty partition still reports its
  * offsets with zeroed aggregates.
  *
  * Scale posture: the metadata side is partitions-sized and driver-built
  * (same as the source's own `latestOffset` listing); the data side is a
  * distributed scan with value bytes reduced map-side to lengths —
  * payloads never reach the exchange, nothing collects. Reference
  * behavior: `PulsarMessageConsumer.java` exposes no stats surface; this
  * is the missing-but-expected console report, like SubscriptionLag.
  */
object TopicStats {

  def report(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val topics = TopicStore.listTopics(root)
    val meta = topics.flatMap { t =>
      val dir = TopicStore.topicDir(root, t)
      TopicStore.partitionIdsIn(dir).map { p =>
        val m = TopicStore.PartMeta.read(dir, p)
        (t, p, m.base, m.count)
      }
    }.toDF("topic", "partition", "base_offset", "log_end")
    // a store with no topics has nothing to subscribe to (the source
    // rejects an empty topicNames): aggregate no messages instead
    val stored =
      if (topics.isEmpty)
        spark.createDataFrame(java.util.List.of[Row](), PulsarLikeSource.schema)
      else StreamGate.read(spark, root, topics.mkString(","),
        Map("subscriptionInitialPosition" -> "Earliest"))
    val msgs = stored
      .select(col("topic"),
        // message_id layout: ledger:offset:partition:batch
        split(col("message_id"), ":").getItem(2).cast("int").as("partition"),
        length(col("value")).cast("long").as("nbytes"),
        col("key"), col("publish_time"))
      .groupBy(col("topic"), col("partition"))
      .agg(count(lit(1)).cast("long").as("n_messages"),
        sum(col("nbytes")).cast("long").as("n_bytes"),
        countDistinct(col("key")).cast("long").as("n_keys"),
        min(col("publish_time")).as("first_publish"),
        max(col("publish_time")).as("last_publish"))
    meta.join(msgs, Seq("topic", "partition"), "left_outer")
      .select(col("topic"), col("partition"), col("base_offset"),
        col("log_end"),
        coalesce(col("n_messages"), lit(0L)).as("n_messages"),
        coalesce(col("n_bytes"), lit(0L)).as("n_bytes"),
        coalesce(col("n_keys"), lit(0L)).as("n_keys"),
        col("first_publish"), col("last_publish"))
      .orderBy(col("topic"), col("partition"))
  }
}
