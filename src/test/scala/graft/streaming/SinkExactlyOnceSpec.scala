package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TopicStore

/** Exactly-once producer relay (the m13 gate's machinery, isolated):
  *
  * StreamReplay.forceLastEpochReplay deletes the checkpoint's newest
  * commit marker, so the next restart re-executes that micro-batch with
  * the same epochId — the crash-between-sink-write-and-checkpoint-commit
  * scenario. These tests prove BOTH halves of the contract:
  *
  *  - without `enableTransaction`, the replayed epoch duplicates its
  *    rows in the topic store (at-least-once, the reference's default
  *    delivery level — and evidence the forced replay is real);
  *  - with `enableTransaction=true`, the sink's per-(queryId/writer)
  *    epoch high-water skips the replayed appends and the store holds
  *    every message exactly once.
  */
class SinkExactlyOnceSpec extends SparkSpec {

  private val N = 20
  private val EpochRows = 7L // several epochs per pass: ceil(20/7) = 3

  private def fixture = {
    import spark.implicits._
    (0 until N).map { i =>
      (s"k${i % 5}", s"msg-$i", new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("key", "value_str", "publish_time")
  }

  /** One AvailableNow relay pass hop-in → hop-out on a shared checkpoint. */
  private def relayPass(root: String, ckpt: String, txn: Boolean): Unit = {
    StreamGate.run(spark, StreamGate.source(spark, root, "hop-in", EpochRows)
      .writeStream
      .format("pulsarlike")
      .options(StreamGate.address(root, "hop-out"))
      .option("enableTransaction", txn.toString), ckpt)
  }

  test("a forced epoch replay DUPLICATES without enableTransaction (at-least-once)") {
    val root = tmpDir("xonce-off")
    val ckpt = tmpDir("xonce-off-ckpt")
    TopicStore.publish(spark, fixture, root, "hop-in", 2)
    relayPass(root, ckpt, txn = false)
    assert(StreamGate.read(spark, root, "hop-out").count() == N.toLong)
    StreamReplay.forceLastEpochReplay(ckpt)
    relayPass(root, ckpt, txn = false)
    val n = StreamGate.read(spark, root, "hop-out").count()
    assert(n > N.toLong,
      s"expected duplicates from the replayed epoch, got $n — the forced replay is not real")
  }

  test("enableTransaction makes the replayed epoch idempotent (exactly-once)") {
    val root = tmpDir("xonce-on")
    val ckpt = tmpDir("xonce-on-ckpt")
    TopicStore.publish(spark, fixture, root, "hop-in", 2)
    relayPass(root, ckpt, txn = true)
    val replayedEpoch = StreamReplay.forceLastEpochReplay(ckpt)
    assert(replayedEpoch > 0, "fixture must span several epochs")
    relayPass(root, ckpt, txn = true)
    val out = StreamGate.read(spark, root, "hop-out")
    assert(out.count() == N.toLong, "replayed epoch must not duplicate")
    // every payload exactly once — not just the right total
    val dup = out.groupBy(col("value_str")).count()
      .filter(col("count") > 1).count()
    assert(dup == 0, "a payload appeared twice after the replay")
  }

  test("the epoch high-water survives interleaved plain publishes and truncation") {
    val dir = java.nio.file.Paths.get(tmpDir("txn-meta"))
    def msg(i: Int) = TopicStore.Msg(null, s"k$i", "dg==", Map.empty,
      1000L + i, 1000L + i, 0, null)
    TopicStore.appendIn(dir.toString, 0, Seq(msg(0), msg(1)), Some(("q/0", 3L)))
    // replay at-or-below the high-water: skipped
    TopicStore.appendIn(dir.toString, 0, Seq(msg(0), msg(1)), Some(("q/0", 3L)))
    assert(TopicStore.partitionMetaIn(dir, 0)._1 == 2L)
    // a plain (non-transactional) append must carry the high-water forward
    TopicStore.appendIn(dir.toString, 0, Seq(msg(2)))
    assert(TopicStore.PartMeta.read(dir, 0).txn == Map("q/0" -> 3L))
    TopicStore.appendIn(dir.toString, 0, Seq(msg(0), msg(1)), Some(("q/0", 3L)))
    assert(TopicStore.partitionMetaIn(dir, 0)._1 == 3L, "replay after plain append must still skip")
    // a later epoch from the same writer appends
    TopicStore.appendIn(dir.toString, 0, Seq(msg(3)), Some(("q/0", 4L)))
    assert(TopicStore.partitionMetaIn(dir, 0)._1 == 4L)
    // an unrelated writer (fresh queryId) is never mis-skipped
    TopicStore.appendIn(dir.toString, 0, Seq(msg(4)), Some(("q2/0", 0L)))
    assert(TopicStore.partitionMetaIn(dir, 0)._1 == 5L)
    assert(TopicStore.PartMeta.read(dir, 0).txn == Map("q/0" -> 4L, "q2/0" -> 0L))
  }
}
