package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.model.PulsarLikeConf
import graft.streaming.ChunkReassembly

/** Regression pins for the core-engine hardening pass (one test per
  * fixed failure mode — each of these failed or stalled before the
  * fix). */
class HardeningRegressionSpec extends SparkSpec {

  private def publishRows(root: String, rows: Seq[(String, String)],
      parts: Int = 2): Unit = {
    import spark.implicits._
    TopicStore.publish(spark,
      rows.toDF("key", "value_str")
        .withColumn("publish_time",
          lit(new Timestamp(1700000000000L))),
      root, "t", parts)
  }

  test("a meta poller never reads a torn sidecar while appends rewrite it") {
    // latestOffset polls partitionMetaIn without the partition lock; an
    // in-place meta rewrite let it read an empty or half-written file
    // and die with a NullPointerException
    val root = tmpDir("meta-race")
    val dir = TopicStore.topicDir(root, "t")
    def append(i: Int): Unit = TopicStore.append(root, "t", 0,
      Seq(TopicStore.Msg(null, s"k$i", "eA==", Map.empty,
        1700000000000000L + i, 1700000000000000L + i, 0, "text/plain")))
    append(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val polls = new java.util.concurrent.atomic.AtomicLong()
    val poller = new Thread(() =>
      try while (!stop.get()) {
        TopicStore.partitionMetaIn(dir, 0)
        polls.incrementAndGet()
      } catch { case t: Throwable => failure.set(t) })
    poller.start()
    try (1 until 3000).foreach(append)
    finally { stop.set(true); poller.join() }
    assert(failure.get() == null,
      s"poller failed after ${polls.get()} polls: ${failure.get()}")
    assert(polls.get() > 0)
    assert(TopicStore.partitionMetaIn(dir, 0)._1 == 3000L)
  }

  test("byte-capped admission floors at one row per trigger instead of stalling") {
    val root = tmpDir("adm-floor")
    publishRows(root, (0 until 6).map(i => (s"k$i", "x" * 200)), parts = 1)
    val conf = PulsarLikeConf.fromOptions(Map(
      "serviceUrl" -> "pulsar://local", "topicNames" -> "t",
      "subscriptionInitialPosition" -> "Earliest",
      // far below one row's encoded size: pre-fix this admitted 0 rows
      // forever and AvailableNow terminated claiming it drained
      "batchingMaxBytes" -> "8"))
    val stream = new PulsarLikeMicroBatchStream(conf, root)
    var cur = stream.initialOffset()
    var triggers = 0
    var advanced = true
    while (advanced && triggers < 20) {
      val next = stream.latestOffset(cur, ReadLimit.allAvailable())
      advanced = next.asInstanceOf[PulsarLikeOffset].cursors !=
        cur.asInstanceOf[PulsarLikeOffset].cursors
      if (advanced) triggers += 1
      cur = next
    }
    val drained = cur.asInstanceOf[PulsarLikeOffset].cursors
      .filterNot(_._1 == PulsarLikeOffset.FreshKey).values.sum
    assert(drained == 6L, s"not drained: $cur")
    // one row per trigger under the tiny budget — six triggers, no stall
    assert(triggers == 6, s"took $triggers triggers")
  }

  test("pushed string range filters follow UTF-8 binary order (supplementary plane)") {
    import org.apache.spark.sql.sources.GreaterThan
    // U+FFFD ("�") vs U+1F680 (surrogate pair): UTF-16 code-unit
    // order and UTF-8 byte order DISAGREE on this pair; Spark compares
    // UTF8String bytes and trusts pushed filters
    val lo = "�"
    val hi = "🚀"
    assert(UTF8String.fromString(hi).compareTo(UTF8String.fromString(lo)) > 0)
    assert(hi.compareTo(lo) < 0) // the UTF-16 trap the old code fell into
    val m = TopicStore.Msg("0:0:0:0", hi, "", Map.empty, 0L, 0L, 0, null)
    assert(PulsarLikeFilters.eval(GreaterThan("key", lo), "t", m),
      "row with key U+1F680 must pass `key > U+FFFD` as Spark would")
  }

  test("freshness is the durable marker, not cursor==base coincidence") {
    val root = tmpDir("fresh-marker")
    publishRows(root, Seq(("k", "v1"), ("k", "v2")), parts = 1)
    val conf = PulsarLikeConf.fromOptions(Map(
      "serviceUrl" -> "pulsar://local", "topicNames" -> "t",
      "subscriptionInitialPosition" -> "Earliest",
      "readCompacted" -> "true",
      "batchingMaxMessages" -> "100"))
    val stream = new PulsarLikeMicroBatchStream(conf, root)
    val o0 = stream.initialOffset()
    assert(o0.asInstanceOf[PulsarLikeOffset].cursors
      .get(PulsarLikeOffset.FreshKey).contains(1L),
      "every fresh subscription plants the marker")
    val o1 = stream.latestOffset(o0, ReadLimit.allAvailable())
    // batch 0 (marker present): compacted snapshot
    val p0 = stream.planInputPartitions(o0, o1)
      .map(_.asInstanceOf[PulsarLikeInputPartition])
    assert(p0.forall(_.compacted), "batch 0 must serve the compacted view")
    // caught up; an admin truncation makes base == committed cursor —
    // the pre-fix coincidence heuristic re-classified the NEXT batch as
    // fresh and re-compacted it, dropping intermediate per-key updates
    TopicStore.truncateTopic(root, "t", 0, 2L)
    publishRows(root, Seq(("k", "v3"), ("k", "v4")), parts = 1)
    val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
    val p1 = stream.planInputPartitions(o1, o2)
      .map(_.asInstanceOf[PulsarLikeInputPartition])
    assert(p1.nonEmpty && p1.forall(!_.compacted),
      "a caught-up subscription's later batches must deliver every message")
  }

  test("Latest + readCompacted delivers the tail uncompacted (no freshness marker)") {
    val root = tmpDir("latest-tail")
    publishRows(root, Seq(("k", "old1"), ("k", "old2")), parts = 1)
    val conf = PulsarLikeConf.fromOptions(Map(
      "serviceUrl" -> "pulsar://local", "topicNames" -> "t",
      "subscriptionInitialPosition" -> "Latest",
      "readCompacted" -> "true",
      "batchingMaxMessages" -> "100"))
    val stream = new PulsarLikeMicroBatchStream(conf, root)
    val o0 = stream.initialOffset()
    assert(!o0.asInstanceOf[PulsarLikeOffset].cursors
      .contains(PulsarLikeOffset.FreshKey),
      "Latest never reads the retained prefix, so it must not plant FreshKey")
    // messages published between subscribe and the first trigger are past
    // the compaction horizon — a real broker delivers them UNCOMPACTED;
    // pre-fix the marker compacted batch 0 and dropped (k, v1)
    publishRows(root, Seq(("k", "v1"), ("k", "v2")), parts = 1)
    val o1 = stream.latestOffset(o0, ReadLimit.allAvailable())
    val parts = stream.planInputPartitions(o0, o1)
      .map(_.asInstanceOf[PulsarLikeInputPartition])
    assert(parts.nonEmpty && parts.forall(!_.compacted),
      "Latest batch 0 must serve every tail message")
  }

  test("no phantom n-grams or frames on short/empty documents") {
    import spark.implicits._
    import graft.operators.{MultimodalOps, TextOps}
    // sequence(1, 0) counts DOWN in Spark — ungated it mints [1, 0]
    val grams = Seq("ab", "", "abc").toDF("text")
      .select(TextOps.charNgrams(col("text"), 3).as("g"))
      .collect().map(_.getSeq[String](0))
    assert(grams(0).isEmpty && grams(1).isEmpty && grams(2) == Seq("abc"))
    val frames = MultimodalOps.sampleFrames(
      Seq((1L, ""), (2L, "x" * 40)).toDF("doc_id", "text"),
      "doc_id", "text", frameLen = 32, stride = 1).collect()
    assert(frames.forall(_.getLong(0) == 2L),
      "empty payload must produce zero frames")
    assert(frames.length == 2) // 40 bytes / 32 → frames 0 and 1
  }

  test("compaction keeps every unkeyed message (broker parity)") {
    import spark.implicits._
    import graft.operators.MessageOps
    def msgs = Seq(
      ("0:0:0:0", null.asInstanceOf[String], new Timestamp(1000L)),
      ("0:1:0:0", null.asInstanceOf[String], new Timestamp(2000L)),
      ("0:2:0:0", "k", new Timestamp(3000L)),
      ("0:3:0:0", "k", new Timestamp(4000L)))
      .toDF("message_id", "key", "publish_time")
    for (out <- Seq(MessageOps.compacted(msgs), MessageOps.compactedAgg(msgs))) {
      val ids = out.select("message_id").as[String].collect().toSet
      // both unkeyed survive; keyed "k" collapses to its latest
      assert(ids == Set("0:0:0:0", "0:1:0:0", "0:3:0:0"), ids)
    }
  }

  test("a corrupted retry_at stamp makes the message due now, not lost") {
    import spark.implicits._
    import graft.operators.MessageOps
    val msgs = Seq(
      ("m1", Map("retry_at" -> "not-a-number")),
      ("m2", Map("retry_at" -> "9999999999999")), // far future → held
      ("m3", Map.empty[String, String]))
      .toDF("message_id", "properties")
    val due = MessageOps.dueOnly(msgs)
      .select("message_id").as[String].collect().toSet
    assert(due == Set("m1", "m3"), due)
  }

  test("config rejects wrap-prone numeric extremes loudly") {
    def conf(extra: (String, String)*) = PulsarLikeConf.fromOptions(Map(
      "serviceUrl" -> "pulsar://local", "topicNames" -> "t",
      "batchingMaxMessages" -> "100") ++ extra)
    // Int wrap on dlqMaxRedeliverCount routed EVERY message to the DLQ
    val e1 = intercept[IllegalArgumentException] {
      conf("dlqMaxRedeliverCount" -> "2147483648")
    }
    assert(e1.getMessage.contains("dlqMaxRedeliverCount"))
    // ms→µs wrap on a huge negative ISO epoch sought a garbage position
    val e2 = intercept[IllegalArgumentException] {
      conf("startingTime" -> "-100000000-01-01T00:00:00Z")
    }
    assert(e2.getMessage.contains("startingTime"))
  }

  test("a late out-of-order fragment cannot pull the chunk expiry deadline backward") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000L)
    val input = MemoryStream[ChunkReassembly.Chunk]
    val out = ChunkReassembly.reassemble(spark, input.toDS(),
      watermarkDelay = "10 seconds", expiryMs = 60000L)
    val q = out.writeStream.format("memory").queryName("mono_asm")
      .outputMode("append").start()
    try {
      // frag0 at t=100 → deadline 160. frag1 arrives LATE but within
      // the watermark delay (t=92 ≥ wm=90, so the engine admits it) —
      // pre-fix the deadline was recomputed from the BATCH max
      // (92+60=152), moving BACKWARD from 160; the unrelated t=164
      // event then advanced the watermark to 154 > 152 and the next
      // batch expired the group, so frag2 found no state and the
      // message was silently lost. Post-fix the deadline stays 160.
      input.addData(ChunkReassembly.Chunk("g", 0, 3, "A", ts(100)))
      q.processAllAvailable() // wm -> 90
      input.addData(ChunkReassembly.Chunk("g", 1, 3, "B", ts(92)))
      q.processAllAvailable()
      input.addData(ChunkReassembly.Chunk("other", 0, 2, "x", ts(164)))
      q.processAllAvailable() // wm -> 154 (crosses the buggy 152)
      input.addData(ChunkReassembly.Chunk("other2", 0, 2, "y", ts(164)))
      q.processAllAvailable() // timeout sweep under wm=154
      input.addData(ChunkReassembly.Chunk("g", 2, 3, "C", ts(156)))
      q.processAllAvailable()
      val rows = spark.table("mono_asm").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows.get("g").contains("ABC"),
        s"group expired prematurely; assembled = $rows")
    } finally q.stop()
  }
}
