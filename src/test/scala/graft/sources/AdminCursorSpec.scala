package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamGate

/** The admin cursor surface next to CumulativeAckSpec's consumer one:
  * expire-messages (a time-cut cumulative ack the broker performs —
  * monotonic, per-subscription) and reset-cursor (the admin override
  * that may REWIND for replay). m18/m19 gate the end-to-end reads
  * against the DuckDB oracle; this pins the state machine. */
class AdminCursorSpec extends SparkSpec {

  private val t0 = 1700000000000L

  private def publishEvents(root: String, n: Int): Unit = {
    import spark.implicits._
    val df = (0 until n).map { i =>
      (s"k$i", s"payload-$i", Map("seq" -> i.toString),
        new java.sql.Timestamp(t0 + i * 1000L), "text/plain")
    }.toDF("key", "value_str", "properties", "publish_time", "content_type")
    TopicStore.publish(spark, df, root, "events", 1)
  }

  private def seqs(root: String, sub: String = "sub-default"): Seq[Int] = {
    StreamGate.read(spark, root, "events", Map("subscriptionName" -> sub,
        "startFromSubscriptionCursor" -> "true"))
      .select(expr("int(properties['seq'])")).collect()
      .map(_.getInt(0)).sorted.toSeq
  }

  test("expiry is a time-cut ack: per-subscription, monotonic, exact boundary") {
    val root = tmpDir("expire")
    publishEvents(root, 20)

    // expire everything published before t0+5s: seqs 0..4 go
    val c = TopicStore.expireMessages(root, "events", "sub-default", 0,
      (t0 + 5000L) * 1000L)
    assert(c == 5L)
    assert(seqs(root) == (5 until 20))

    // another subscription is untouched
    assert(seqs(root, sub = "other") == (0 until 20))

    // an OLDER TTL cut is a no-op (monotonic like the ack it folds into)
    assert(TopicStore.expireMessages(root, "events", "sub-default", 0,
      (t0 + 2000L) * 1000L) == 5L)
    assert(seqs(root) == (5 until 20))

    // a cutoff past the log end expires everything
    assert(TopicStore.expireMessages(root, "events", "sub-default", 0,
      (t0 + 60000L) * 1000L) == 20L)
    assert(seqs(root).isEmpty)
  }

  test("reset-cursor moves in EITHER direction — the replay override") {
    val root = tmpDir("reset")
    publishEvents(root, 20)
    // fully caught up
    TopicStore.ackCumulative(root, "events", "sub-default", 0, 19L)
    assert(seqs(root).isEmpty)

    // admin rewinds to t0+10s: 10..19 replay through the SAME sub
    val back = TopicStore.resetCursor(root, "events", "sub-default", 0,
      (t0 + 10000L) * 1000L)
    assert(back == 10L)
    assert(seqs(root) == (10 until 20))

    // and forward again (skip ahead) — reset is not monotonic-guarded
    val fwd = TopicStore.resetCursor(root, "events", "sub-default", 0,
      (t0 + 15000L) * 1000L)
    assert(fwd == 15L)
    assert(seqs(root) == (15 until 20))

    // a consumer cumulative ack BELOW the reset cursor stays a no-op
    assert(TopicStore.ackCumulative(root, "events", "sub-default", 0, 3L)
      == 15L)
  }
}
