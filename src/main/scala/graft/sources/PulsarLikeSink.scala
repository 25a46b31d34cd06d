package graft.sources

import java.util.Base64

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

import graft.model.PulsarLikeConf

/** DSv2 write path — the producer half of the source/sink pair
  * (SURVEY.md §7): `df.write.format("pulsarlike")` and
  * `ds.writeStream.format("pulsarlike")` publish rows into the topic
  * store with the same key-hash routing as the consumer expects.
  *
  * Delivery contract: each task buffers its rows and appends them
  * per-partition under the store's file lock in `commit()` — so a failed
  * task writes nothing, and a retried one appends again (at-least-once,
  * the reference's own delivery level). With `enableTransaction=true`
  * (the reference's transactional-producer switch,
  * connection/PulsarConnectionSetup.java:125-127) the STREAMING write
  * path upgrades to exactly-once: each task append carries a
  * `queryId/writerPartition` token plus the epochId, and the store skips
  * appends at-or-below the persisted per-token epoch high-water — a
  * micro-batch replayed after a crash between sink write and checkpoint
  * commit lands zero duplicate messages. The queryId is stable across
  * restarts of one checkpoint (replays match their token) and fresh for
  * a new query (restarted epoch numbering can never be mis-skipped).
  *
  * Scale posture: writers are executor-side and buffer only their task's
  * rows; the append is O(task rows) with one lock acquisition per store
  * partition touched.
  */
class PulsarLikeWriteBuilder(conf: PulsarLikeConf, root: String,
    info: LogicalWriteInfo) extends WriteBuilder {

  private val topic = conf.topicNames.headOption.getOrElse(
    throw new IllegalArgumentException(
      "Writing requires 'topicNames' to name the target topic."))
  // the topic's persisted partition count always wins (routing is mod N
  // — a second writer with a different N would split keys across
  // partitions); a new topic takes the `numPartitions` option (default 4).
  // Resolved when the write JOB starts (factory creation), not at
  // planning: a validated-then-abandoned or aborted write must not
  // materialize the topic (a typo'd name would become a real topic that
  // topicsPattern subscriptions match, with its partition count locked in)
  private def resolvedPartitions: Int =
    TopicStore.ensureNumPartitions(root, topic, conf.numPartitions.getOrElse(4))

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(
          info: PhysicalWriteInfo): DataWriterFactory =
        new PulsarLikeWriterFactory(root, topic, resolvedPartitions,
          PulsarLikeSink.fieldIndexes(PulsarLikeWriteBuilder.this.info.schema()))
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
    override def toStreaming: StreamingWrite = new StreamingWrite {
      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo): StreamingDataWriterFactory =
        new PulsarLikeStreamingWriterFactory(root, topic, resolvedPartitions,
          PulsarLikeSink.fieldIndexes(PulsarLikeWriteBuilder.this.info.schema()),
          txnQueryId = if (conf.client.enableTransaction)
            PulsarLikeWriteBuilder.this.info.queryId() else null)
      override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

object PulsarLikeSink {
  /** Map the incoming schema's fields onto canonical message fields
    * (absent ones default). */
  def fieldIndexes(schema: StructType): Map[String, Int] =
    schema.fieldNames.zipWithIndex.toMap

  case class CommitDone(count: Long) extends WriterCommitMessage
}

class PulsarLikeWriterFactory(root: String, topic: String, parts: Int,
    idx: Map[String, Int]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new PulsarLikeDataWriter(root, topic, parts, idx)
}

/** `txnQueryId != null` → epoch-idempotent appends (exactly-once). The
  * token is per WRITER partition: a replayed epoch re-plans the same
  * writer partitions over the same checkpointed offsets, so each
  * (token, epoch) pair deterministically re-produces — and skips — the
  * exact appends of the failed attempt. */
class PulsarLikeStreamingWriterFactory(root: String, topic: String, parts: Int,
    idx: Map[String, Int], txnQueryId: String = null)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new PulsarLikeDataWriter(root, topic, parts, idx,
      txn = Option(txnQueryId).map(q => (s"$q/$partitionId", epochId)))
}

/** Buffers rows, appends per store partition on commit (under the file
  * lock), so an aborted task publishes nothing. */
class PulsarLikeDataWriter(root: String, topic: String, parts: Int,
    idx: Map[String, Int],
    txn: Option[(String, Long)] = None) extends DataWriter[InternalRow] {

  private val buf = scala.collection.mutable.ArrayBuffer.empty[TopicStore.Msg]

  private def str(row: InternalRow, f: String): String =
    idx.get(f).filterNot(row.isNullAt).map(row.getUTF8String(_).toString).orNull

  override def write(row: InternalRow): Unit = {
    val valueB64 = idx.get("value").filterNot(row.isNullAt)
      .map(i => Base64.getEncoder.encodeToString(row.getBinary(i)))
      .orElse(idx.get("value_str").filterNot(row.isNullAt)
        .map(i => Base64.getEncoder.encodeToString(
          row.getUTF8String(i).getBytes)))
      .getOrElse("")
    val props = idx.get("properties").filterNot(row.isNullAt).map { i =>
      val m = row.getMap(i)
      (0 until m.numElements()).map { j =>
        m.keyArray().getUTF8String(j).toString ->
          m.valueArray().getUTF8String(j).toString
      }.toMap
    }.getOrElse(Map.empty[String, String])
    def ts(f: String, default: Long): Long =
      idx.get(f).filterNot(row.isNullAt).map(row.getLong).getOrElse(default)
    val pub = ts("publish_time", System.currentTimeMillis() * 1000L)
    buf += TopicStore.Msg(
      messageId = str(row, "message_id"),
      key = str(row, "key"),
      valueB64 = valueB64,
      properties = props,
      publishTimeUs = pub,
      eventTimeUs = ts("event_time", pub),
      redeliveryCount = idx.get("redelivery_count").filterNot(row.isNullAt)
        .map(row.getInt).getOrElse(0),
      contentType = str(row, "content_type"))
  }

  override def commit(): WriterCommitMessage = {
    buf.groupBy(m => TopicStore.route(m.key, m.valueB64, parts))
      .foreach { case (p, msgs) =>
        TopicStore.append(root, topic, p, msgs.toSeq, txn)
      }
    PulsarLikeSink.CommitDone(buf.size.toLong)
  }

  override def abort(): Unit = buf.clear()
  override def close(): Unit = ()
}
