package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamGate

/** Cumulative ack (consumer.acknowledgeCumulative ≙
  * TopicStore.ackCumulative) + the startFromSubscriptionCursor batch
  * seek: durable prefix acknowledgement, monotonic cursor (a lower ack
  * never rewinds), per-partition and per-subscription independence,
  * retention clamping, and the fail-loudly contradictions (two seeks,
  * retry log, streams). m17 gates the end-to-end read against the
  * DuckDB oracle; this spec pins the state machine itself. */
class CumulativeAckSpec extends SparkSpec {

  private val cursor = Map("startFromSubscriptionCursor" -> "true")

  private def publishEvents(root: String, topic: String, n: Int,
      parts: Int): Unit = {
    import spark.implicits._
    val df = (0 until n).map { i =>
      (s"k$i", s"payload-$i", Map("seq" -> i.toString),
        new java.sql.Timestamp(1700000000000L + i * 1000L), "text/plain")
    }.toDF("key", "value_str", "properties", "publish_time", "content_type")
    TopicStore.publish(spark, df, root, topic, parts)
  }

  test("cumulative ack advances monotonically and reads resume past it") {
    val root = tmpDir("cumack")
    publishEvents(root, "events", 30, parts = 2)
    val perPart = (0 to 1).map(p =>
      p -> TopicStore.partitionMeta(root, "events", p)._1).toMap
    assert(perPart.values.sum == 30)

    // fresh subscription: no cursor file → full read (base)
    assert(StreamGate.read(spark, root, "events", cursor).count() == 30)

    // ack the first 5 of partition 0 only
    val c1 = TopicStore.ackCumulative(root, "events", "sub-default", 0, 4L)
    assert(c1 == 5L)
    assert(StreamGate.read(spark, root, "events", cursor).count() == 30 - 5)

    // a cumulative ack BELOW the cursor is a no-op, never a rewind
    val c2 = TopicStore.ackCumulative(root, "events", "sub-default", 0, 1L)
    assert(c2 == 5L)
    assert(TopicStore.subCursor(root, "events", "sub-default", 0) == 5L)
    assert(StreamGate.read(spark, root, "events", cursor).count() == 30 - 5)

    // partitions are independent cursors
    TopicStore.ackCumulative(root, "events", "sub-default", 1, 2L)
    assert(StreamGate.read(spark, root, "events", cursor).count() == 30 - 5 - 3)
    assert(TopicStore.subCursor(root, "events", "sub-default", 0) == 5L)

    // …and so are subscriptions: another sub still reads everything
    assert(StreamGate.read(spark, root, "events",
      cursor + ("subscriptionName" -> "other-sub")).count() == 30)

    // ack through the whole of partition 0 → only partition 1's tail
    TopicStore.ackCumulative(root, "events", "sub-default", 0,
      perPart(0) - 1)
    val left = StreamGate.read(spark, root, "events", cursor)
    assert(left.count() == perPart(1) - 3)
    assert(left.select("message_id").collect()
      .forall(_.getString(0).split(":")(2) == "1"))
  }

  test("racing cumulative acks serialize: max wins, no torn cursor") {
    val root = tmpDir("cumack-race")
    publishEvents(root, "events", 200, parts = 1)
    // 8 consumers ack interleaved prefixes concurrently; the cursor
    // must land exactly at max(acked)+1 and every intermediate read
    // must parse (the atomic temp+rename under the partition lock)
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 25).foreach { i =>
        TopicStore.ackCumulative(root, "events", "sub-default", 0,
          (t * 25 + i).toLong)
        val c = TopicStore.subCursor(root, "events", "sub-default", 0)
        assert(c >= 1 && c <= 200, s"torn/out-of-range cursor $c")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(TopicStore.subCursor(root, "events", "sub-default", 0) == 200L)
  }

  test("cursor below the retention base clamps to base") {
    val root = tmpDir("cumack-trunc")
    publishEvents(root, "events", 20, parts = 1)
    TopicStore.ackCumulative(root, "events", "sub-default", 0, 4L)
    // retention reclaims the first 10 — the acked prefix is gone and
    // the cursor (5) sits below the new base (10): serve from base,
    // Pulsar's "earliest available" for a truncated position
    TopicStore.truncateTopic(root, "events", 0, 10L)
    val got = StreamGate.read(spark, root, "events", cursor)
    assert(got.count() == 10)
    assert(got.select(expr("int(properties['seq'])")).collect()
      .map(_.getInt(0)).sorted.toSeq == (10 until 20))
  }

  test("contradictory seeks, retry log, and streams fail loudly") {
    val root = tmpDir("cumack-fail")
    publishEvents(root, "events", 5, parts = 1)
    def failsWith(msg: String, extra: (String, String)*): Unit = {
      val e = intercept[Exception](
        StreamGate.read(spark, root, "events", cursor ++ extra).count())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    failsWith("startingTime",
      "startingTime" -> "2023-11-14T22:13:20Z")
    failsWith("startingMessageId",
      "startingMessageId" -> "0:2:0:0")
    failsWith("readRetries", "readRetries" -> "true")

    // a STREAM's durable cursor is its checkpoint — the option refuses
    // to construct (no silently ignored validated options)
    val err = intercept[Exception] {
      StreamGate.run(spark, StreamGate.source(spark, root, "events", 1000L,
          opts = cursor + ("subscriptionInitialPosition" -> "Latest"))
        .writeStream.queryName("cumackq").format("memory"),
        tmpDir("cumack-ckpt"))
    }
    val msgs = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("startFromSubscriptionCursor"))
  }
}
