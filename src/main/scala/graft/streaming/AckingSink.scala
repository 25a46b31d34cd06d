package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.TopicStore

/** A14/A15/A16/A17 — the sink side of the reference's delivery loop:
  *
  *  - `foreachBatch` IS the injected sequence (A14): the user callback
  *    gets the batch; throwing from it vetoes the offset commit
  *    (≙ SET_ROLLBACK_ONLY, PulsarMessageConsumer.java:548-573) and the
  *    batch replays — at-least-once, exactly like nack-and-redeliver.
  *  - Row-level failures (A15 nack): the user marks failed rows; `nack`
  *    appends them to the subscription's retry log with
  *    redelivery_count+1 and a `retry_at` stamp. The source merges due
  *    entries back into delivery (PulsarLikeMicroBatchStream) — the
  *    broker-side negativeAckRedeliveryDelay loop
  *    (PulsarMessageConsumer.java:354-356), with the main log holding
  *    each message exactly once (no growth per retry). The original
  *    message_id is preserved across redeliveries.
  *  - A17 DLQ: a nacked row at redelivery_count ≥ maxRedeliverCount
  *    (default 5, PulsarMessageConsumer.java:295-304) routes to the
  *    configured dlqTopic (default `<topic>-dlq`) instead of the retry
  *    log.
  *
  * Unlike the reference (which learns of mediation failure
  * asynchronously), foreachBatch knows row outcomes synchronously, so
  * routing is immediate — SURVEY.md §3 EP3.
  */
object AckingSink {

  /** Route a batch's failed rows: below the DLQ threshold they go to
    * the subscription's retry log (delayed redelivery via the source's
    * cursor merge); at/above it they go to the DLQ topic. Returns
    * (redelivered, dead) counts. Call from inside foreachBatch.
    *
    * One evaluation of the failed lineage: every row is bumped and
    * stamped with one driver-side `retry_at` literal, tagged retry or
    * DLQ, and both sides are written by a single shuffle-and-write job
    * ([[TopicStore.publishRetriesOrDlq]]) whose tasks count what they
    * appended. */
  def nack(spark: SparkSession, failed: DataFrame, root: String,
      topic: String, subscription: String = "sub-default",
      maxRedeliverCount: Int = 5, nackDelayMs: Long = 0L,
      dlqTopic: Option[String] = None): (Long, Long) = {
    val retryAtMs = System.currentTimeMillis() + nackDelayMs
    val bumped = failed
      .withColumn("redelivery_count", col("redelivery_count") + 1)
      // retry_at rides in properties so the due check (source-side merge
      // or MessageOps.dueOnly) needs no schema change; a redelivered row
      // being nacked AGAIN still carries its previous retry_at, which
      // must be dropped first — map_concat with a duplicate key throws
      // under the default spark.sql.mapKeyDedupPolicy=EXCEPTION
      .withColumn("properties", map_concat(
        map_filter(col("properties"), (k, _) => k =!= "retry_at"),
        map(lit("retry_at"), lit(retryAtMs.toString))))
    TopicStore.publishRetriesOrDlq(bumped,
      col("redelivery_count") >= maxRedeliverCount, root, topic,
      subscription, dlqTopic.getOrElse(s"$topic-dlq"))
  }
}
