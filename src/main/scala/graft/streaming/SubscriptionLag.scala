package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{PulsarLikeOffset, TopicStore}

/** Consumer-lag report — the queue-operations metric a broker admin
  * reads first (`pulsar-admin topics stats` → `msgBacklog`). In this
  * architecture the subscription's committed cursor IS the streaming
  * checkpoint (ack ≙ offset commit, A15), so lag = the store's log end
  * minus the last COMMITTED checkpoint offset, per (topic, partition).
  *
  * Reads the checkpoint the way Structured Streaming defines it: the
  * newest batch id present in `commits/` (an offsets/ file without its
  * commit is an in-flight epoch — counting it would under-report lag
  * on exactly the replay path where lag matters), then that batch's
  * `offsets/` entry, whose final line is the source's serialized
  * [[PulsarLikeOffset]]. Retry-log cursors and the fresh-subscription
  * marker are subscription bookkeeping, not backlog — excluded.
  *
  * The report materializes topics × partitions rows on the driver —
  * control-plane-sized (the same scale `latestOffset` already touches
  * every trigger), never message data.
  */
object SubscriptionLag {

  def report(spark: SparkSession, root: String, checkpointDir: String)
      : DataFrame = {
    val committed = committedCursors(checkpointDir)
    val rows = TopicStore.listTopics(root).flatMap { t =>
      val dir = TopicStore.topicDir(root, t)
      TopicStore.partitionIdsIn(dir).map { p =>
        val m = TopicStore.PartMeta.read(dir, p)
        val cur = committed.getOrElse(PulsarLikeOffset.key(t, p), m.base)
        (t, p, cur, m.count, math.max(0L, m.count - cur))
      }
    }
    import spark.implicits._
    rows.toDF("topic", "partition", "committed_offset", "log_end", "lag")
  }

  /** The last committed offset map, or empty when no epoch has ever
    * committed (a fresh subscription — lag is then the full log). */
  private def committedCursors(checkpointDir: String): Map[String, Long] =
    StreamReplay.lastCommitted(checkpointDir) match {
      case None => Map.empty
      case Some(last) =>
        // OffsetSeqLog layout: "v1" / metadata json / one line per source
        val lines = Files.readAllLines(
          Paths.get(checkpointDir, "offsets", last.toString)).asScala
        PulsarLikeOffset.fromJson(lines.drop(2).mkString).cursors
          .filter { case (k, _) =>
            k != PulsarLikeOffset.FreshKey && !k.endsWith("/retry") }
    }
}
