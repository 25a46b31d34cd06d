package graft.streaming

import java.nio.file.{Files, Path, Paths}

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
  private def committedCursors(checkpointDir: String): Map[String, Long] = {
    val commits = Paths.get(checkpointDir, "commits")
    if (!Files.isDirectory(commits)) return Map.empty
    def batchIds(d: Path): Seq[Long] = {
      val s = Files.list(d)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.forall(c => c >= '0' && c <= '9')).map(_.toLong).toSeq
      finally s.close()
    }
    val ids = batchIds(commits)
    if (ids.isEmpty) return Map.empty
    val offsetFile = Paths.get(checkpointDir, "offsets", ids.max.toString)
    // OffsetSeqLog layout: "v1" / metadata json / one line per source
    val lines = Files.readAllLines(offsetFile).asScala
    val offJson = lines.drop(2).mkString
    PulsarLikeOffset.fromJson(offJson).cursors
      .filter { case (k, _) =>
        k != PulsarLikeOffset.FreshKey && !k.endsWith("/retry") }
  }
}
