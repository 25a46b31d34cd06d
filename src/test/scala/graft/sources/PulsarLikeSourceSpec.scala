package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamGate

/** End-to-end source semantics over the file-backed topic store
  * (SURVEY.md §5 item 2): batch + micro-batch reads, Earliest/Latest,
  * pattern subscribe with persistent filtering, admission control,
  * ack=commit (restart without reprocessing), readCompacted. */
class PulsarLikeSourceSpec extends SparkSpec {

  private def publishEvents(root: String, topic: String, n: Int,
      parts: Int = 2): Unit = {
    import spark.implicits._
    val df = (0 until n).map { i =>
      (s"k${i % 5}", s"payload-$i", Map("seq" -> i.toString),
        new java.sql.Timestamp(1700000000000L + i * 1000L), "text/plain")
    }.toDF("key", "value_str", "properties", "publish_time", "content_type")
    TopicStore.publish(spark, df, root, topic, parts)
  }

  test("batch read returns all published messages with canonical schema") {
    val root = tmpDir("store")
    publishEvents(root, "events", 20)
    val df = StreamGate.read(spark, root, "events")
    assert(df.count() == 20)
    assert(df.schema.fieldNames.toSeq == Seq("topic", "message_id", "key",
      "value", "value_str", "properties", "publish_time", "event_time",
      "redelivery_count", "content_type"))
    val row = df.filter(col("value_str") === "payload-7").collect()(0)
    assert(row.getAs[String]("key") == "k2")
    assert(row.getAs[Map[String, String]]("properties")("seq") == "7")
    assert(row.getAs[String]("topic") == "events")
    assert(row.getAs[Int]("redelivery_count") == 0)
  }

  test("chunked publish: multi-flush partitions keep contiguous ordered offsets") {
    // > WriteChunk (10k) rows into ONE store partition forces several
    // chunk appends inside one writer task — offsets must stay
    // contiguous and in (publish_time, message_id) order across chunk
    // boundaries (the sf0.01 correctness gates never cross a boundary;
    // this is the only guard below bench scale)
    import spark.implicits._
    val root = tmpDir("chunked")
    val n = 25000
    val df = (0 until n).map { i =>
      ("onekey", s"v-$i",
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("key", "value_str", "publish_time")
    TopicStore.publish(spark, df, root, "t", 1)
    val (cnt, _) = TopicStore.partitionMeta(root, "t", 0)
    assert(cnt == n.toLong)
    val back = StreamGate.read(spark, root, "t")
      .select("message_id", "value_str", "publish_time").collect()
    assert(back.length == n)
    // offsets assigned 0..n-1 in publish_time order, no gaps/dupes
    back.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("message_id") == s"0:$i:0:0", s"offset $i")
      assert(r.getAs[String]("value_str") == s"v-$i", s"order at $i")
    }
  }

  test("key routing: all messages of one key land in one partition") {
    val root = tmpDir("store")
    publishEvents(root, "events", 40, parts = 4)
    val df = StreamGate.read(spark, root, "events")
      .select(col("key"), expr("split(message_id, ':')[2]").as("p"))
      .distinct()
    val perKey = df.groupBy("key").count().collect()
    assert(perKey.forall(_.getLong(1) == 1L),
      s"keys straddle partitions: ${perKey.mkString(",")}")
  }

  test("pattern subscribe + persistent-only filter (A2)") {
    val root = tmpDir("store")
    publishEvents(root, "ev-a", 5)
    publishEvents(root, "ev-b", 5)
    publishEvents(root, "np-ev-c", 5)
    // a pattern replaces the topic list
    val byPattern = StreamGate.address(root, "") - "topicNames" +
      ("topicsPattern" -> ".*ev.*")
    def topics(extra: (String, String)*) = spark.read.format("pulsarlike")
      .options(byPattern ++ extra).load().select("topic").distinct()
    assert(topics().count() == 3)
    assert(topics("subscriptionTopicsMode" -> "PersistentOnly").collect()
      .map(_.getString(0)).toSet == Set("ev-a", "ev-b"))
    assert(topics("subscriptionTopicsMode" -> "NonPersistentOnly").collect()
      .map(_.getString(0)).toSet == Set("np-ev-c"))
  }

  test("readCompacted serves latest message per key (A21)") {
    val root = tmpDir("store")
    publishEvents(root, "events", 20)  // keys k0..k4, 4 messages each
    val df = StreamGate.read(spark, root, "events", Map(
      "readCompacted" -> "true"))
    val rows = df.select("key", "value_str").collect()
    assert(rows.length == 5)
    // latest payload for k2 is payload-17 (publish_time ordered)
    assert(rows.find(_.getString(0) == "k2").get.getString(1) == "payload-17")
  }

  test("startingTime seeks batch and stream to the first message at-or-after T") {
    val root = tmpDir("store")
    publishEvents(root, "events", 40) // publish times t0 .. t0+39s
    val t0 = 1700000000000L
    val cut = t0 + 25 * 1000L
    def seqsOf(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.select(expr("int(properties['seq'])")).collect().map(_.getInt(0))
        .sorted.toSeq
    val batch = StreamGate.read(spark, root, "events", Map(
      "startingTime" -> cut.toString))
    assert(seqsOf(batch) == (25 until 40))
    // seek past the last message → empty; before the first → everything
    assert(StreamGate.read(spark, root, "events", Map(
      "startingTime" -> (t0 + 3600000L).toString)).count() == 0)
    assert(StreamGate.read(spark, root, "events", Map(
      "startingTime" -> "2001-01-01T00:00:00Z")).count() == 40)
    // a fresh streaming subscription lands on the same cursor
    StreamGate.run(spark, StreamGate.source(spark, root, "events", 1000L,
        opts = Map("startingTime" -> cut.toString,
          "subscriptionInitialPosition" -> "Latest"))
      .writeStream.queryName("seekq").format("memory"), tmpDir("ckpt"))
    assert(seqsOf(spark.table("seekq")) == (25 until 40))
  }

  test("endingTime bounds the batch slice; streams and inverted ranges fail") {
    val root = tmpDir("store")
    publishEvents(root, "events", 40) // publish times t0 .. t0+39s
    val t0 = 1700000000000L
    def seqsOf(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.select(expr("int(properties['seq'])")).collect().map(_.getInt(0))
        .sorted.toSeq
    // [T1, T2): 10 inclusive, 30 exclusive
    assert(seqsOf(StreamGate.read(spark, root, "events", Map(
      "startingTime" -> (t0 + 10 * 1000L).toString,
      "endingTime" -> (t0 + 30 * 1000L).toString))) == (10 until 30))
    // endingTime alone is a pure upper bound
    assert(seqsOf(StreamGate.read(spark, root, "events", Map(
      "endingTime" -> (t0 + 5 * 1000L).toString))) == (0 until 5))
    // boundary exactness: a message AT T2 is excluded
    assert(seqsOf(StreamGate.read(spark, root, "events", Map(
      "endingTime" -> t0.toString))).isEmpty)
    // inverted range: config-time contradiction, not zero rows
    val inv = intercept[Exception](StreamGate.read(spark, root, "events", Map(
      "startingTime" -> (t0 + 20 * 1000L).toString,
      "endingTime" -> (t0 + 10 * 1000L).toString)).count())
    assert(inv.getMessage.contains("endingTime"))
    // a STREAM with endingTime refuses to construct (no silently
    // ignored validated options)
    val err = intercept[Exception] {
      StreamGate.run(spark, StreamGate.source(spark, root, "events", 1000L,
          opts = Map("endingTime" -> (t0 + 30 * 1000L).toString,
            "subscriptionInitialPosition" -> "Latest"))
        .writeStream.queryName("rangeq").format("memory"), tmpDir("ckpt"))
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain(err).exists(_.contains("endingTime")), chain(err).mkString("; "))
  }

  test("startingMessageId seeks each listed partition; the rest start at base") {
    val root = tmpDir("store")
    publishEvents(root, "events", 40, parts = 2)  // key-routed to 2 parts
    val all = StreamGate.read(spark, root, "events")
      .select(col("message_id"), expr("int(properties['seq'])").as("seq"))
      .collect().map(r => r.getString(0) -> r.getInt(1))
    def partOf(id: String) = id.split(":")(2).toInt
    def offOf(id: String) = id.split(":")(1).toLong
    val p0 = all.filter(t => partOf(t._1) == 0).sortBy(t => offOf(t._1))
    assert(p0.length > 5, "expected both partitions populated")
    // seek partition 0 to its 3rd message (INCLUSIVE); partition 1 full
    val seekId = p0(2)._1
    val got = StreamGate.read(spark, root, "events", Map(
      "startingMessageId" -> seekId))
      .select(col("message_id")).collect().map(_.getString(0)).toSet
    val expect = (p0.drop(2).map(_._1) ++
      all.filter(t => partOf(t._1) == 1).map(_._1)).toSet
    assert(got == expect,
      s"missing=${expect -- got} extra=${got -- expect}")
    // a seek past the log end is an empty slice for that partition
    val pastEnd = StreamGate.read(spark, root, "events", Map(
      "startingMessageId" -> "0:999999:0:0"))
      .select(col("message_id")).collect().map(_.getString(0)).toSet
    assert(pastEnd == all.filter(t => partOf(t._1) == 1).map(_._1).toSet)
    // contradictory / ambiguous configs fail loudly at validation
    Seq(
      ("events", Map("startingMessageId" -> seekId,
        "startingTime" -> "1700000000000")) -> "startingTime",
      ("events,audit",
        Map("startingMessageId" -> seekId)) -> "one explicit topic",
      ("events", Map("readRetries" -> "true",
        "subscriptionName" -> "s",
        "startingMessageId" -> seekId)) -> "retry",
      ("events",
        Map("startingMessageId" -> "garbage")) -> "malformed"
    ).foreach { case ((topic, opts), needle) =>
      val e = intercept[Exception](
        StreamGate.read(spark, root, topic, opts).count())
      assert(e.getMessage.toLowerCase.contains(needle.toLowerCase),
        s"$topic $opts -> ${e.getMessage}")
    }
    // and a STREAM with a message-id seek refuses to construct
    val err2 = intercept[Exception] {
      StreamGate.run(spark, StreamGate.source(spark, root, "events", 1000L,
          opts = Map("startingMessageId" -> seekId,
            "subscriptionInitialPosition" -> "Latest"))
        .writeStream.queryName("midq").format("memory"), tmpDir("ckpt"))
    }
    def chain2(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(chain2(err2).exists(_.contains("startingMessageId")),
      chain2(err2).mkString("; "))
  }

  test("readCompacted + startingTime: the stream's first batch compacts the seeked slice, like batch") {
    val root = tmpDir("store")
    publishEvents(root, "events", 40) // keys k0..k4, times t0..t0+39s
    val cut = (1700000000000L + 20 * 1000L).toString
    val batch = StreamGate.read(spark, root, "events", Map(
      "readCompacted" -> "true", "startingTime" -> cut))
      .select("key", "value_str").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(batch.size == 5 && batch("k2") == "payload-37")
    StreamGate.run(spark, StreamGate.source(spark, root, "events", 1000L,
        opts = Map("readCompacted" -> "true", "startingTime" -> cut,
          "subscriptionInitialPosition" -> "Latest"))
      .writeStream.queryName("seekcq").format("memory"), tmpDir("ckpt"))
    val streamed = spark.table("seekcq")
      .select("key", "value_str").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(streamed == batch,
      s"stream served $streamed but batch served $batch")
  }

  test("seekByTime binary-searches the sparse index across stride boundaries") {
    // one partition, > 2 strides of messages, so the search actually
    // probes indexed lines instead of scanning from byte 0
    val root = tmpDir("store")
    import spark.implicits._
    val n = 10000 // IndexStride = 4096 → index entries at 0, 4096, 8192
    val df = (0 until n).map { i =>
      ("k", s"p-$i", Map.empty[String, String],
        new java.sql.Timestamp(1700000000000L + i * 100L), "text/plain")
    }.toDF("key", "value_str", "properties", "publish_time", "content_type")
    TopicStore.publish(spark, df, root, "big", 1)
    val dir = TopicStore.topicDir(root, "big")
    assert(TopicStore.PartMeta.read(dir, 0).index.length >= 2)
    // cut points around stride boundaries, interior, and the extremes
    for (cut <- Seq(0L, 1L, 4095L, 4096L, 4097L, 8192L, 9999L, 10000L)) {
      val tUs = (1700000000000L + cut * 100L) * 1000L
      assert(TopicStore.seekByTimeIn(dir, 0, tUs) == cut,
        s"seek to message $cut returned ${TopicStore.seekByTimeIn(dir, 0, tUs)}")
      // a time strictly between messages lands on the next one
      val between = tUs - 50L * 1000L
      val expect = if (cut == 0L) 0L else cut
      assert(TopicStore.seekByTimeIn(dir, 0, between) == expect)
    }
  }

  test("streaming: Earliest reads all; ack=commit means restart reprocesses nothing (A4/A15)") {
    val root = tmpDir("store")
    val ckpt = tmpDir("ckpt")
    publishEvents(root, "events", 30)

    def run(): Long = {
      val seen = new java.util.concurrent.atomic.AtomicLong
      StreamGate.run(spark, StreamGate.source(spark, root, "events", 10L)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(df.count()): Unit
        }, ckpt)
      seen.get()
    }
    assert(run() == 30)       // first run: everything
    assert(run() == 0)        // restart on same checkpoint: acked, nothing
    publishEvents(root, "events", 5)
    assert(run() == 5)        // only the new tail
  }

  test("admission control caps rows per micro-batch (A11)") {
    val root = tmpDir("store")
    val ckpt = tmpDir("ckpt")
    publishEvents(root, "events", 25)
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    StreamGate.run(spark, StreamGate.source(spark, root, "events", 10L)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sizes.add(df.count()): Unit
      }, ckpt)
    val batches = sizes.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    assert(batches.sum == 25)
    assert(batches.forall(_ <= 10), s"batch over cap: ${batches.mkString(",")}")
    assert(batches.length >= 3)
  }

  test("pattern subscribe discovers topics created mid-stream (A20)") {
    val root = tmpDir("store")
    val ckpt = tmpDir("ckpt")
    publishEvents(root, "disc-a", 5)
    def run(): Set[String] = {
      val topics = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      // a pattern replaces the topic list
      StreamGate.run(spark, spark.readStream.format("pulsarlike")
        .options(StreamGate.address(root, "") - "topicNames" ++ Map(
          "topicsPattern" -> "disc-.*",
          "subscriptionInitialPosition" -> "Earliest",
          "batchingMaxMessages" -> "100"))
        .load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("topic").distinct().collect()
            .foreach(r => topics.add(r.getString(0))): Unit
        }, ckpt)
      topics.toArray(Array.empty[String]).toSet
    }
    assert(run() == Set("disc-a"))
    // a topic that did not exist when the subscription started
    publishEvents(root, "disc-b", 5)
    assert(run() == Set("disc-b"))   // discovered; disc-a already acked
  }

  test("filter pushdown + column pruning reach the source scan") {
    val root = tmpDir("store")
    publishEvents(root, "events", 30)
    val df = StreamGate.read(spark, root, "events")
      .filter(col("key") === "k3")
      .select(col("message_id"), col("key"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushedFilters=[") && plan.contains("key"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("readSchema=[message_id,key]"),
      s"columns not pruned:\n$plan")
    assert(df.count() == 6)   // keys cycle 0..4 over 30 msgs
    // unsupported predicates (payload) still evaluate correctly above
    val viaPayload = StreamGate.read(spark, root, "events")
      .filter(col("value_str").endsWith("-7"))
    assert(viaPayload.count() == 1)
  }

  test("compacted read applies pushed filters AFTER compaction (A21)") {
    val root = tmpDir("store")
    // k0: two versions; the LATEST (payload-B) would be excluded by the
    // filter — the superseded payload-A must NOT resurface
    import spark.implicits._
    val df = Seq(
      ("m-a", "k0", "payload-A", "text/plain"),
      ("m-b", "k0", "payload-B", "application/json"),
      ("m-c", "k1", "payload-C", "text/plain")
    ).zipWithIndex.map { case ((id, k, v, ct), i) =>
      (id, k, v, ct, new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("message_id", "key", "value_str", "content_type", "publish_time")
    TopicStore.publish(spark, df, root, "c", 2)
    val out = StreamGate.read(spark, root, "c", Map("readCompacted" -> "true"))
      .filter(col("content_type") === "text/plain")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("pushedFilters=[") && plan.contains("content_type"),
      s"filter not pushed:\n$plan")
    val rows = out.select("key", "value_str").collect()
    // k0's snapshot row (payload-B) fails the filter → k0 absent entirely
    assert(rows.map(_.getString(0)).toSet == Set("k1"), rows.mkString(","))
  }

  test("reader seeks via the byte index instead of re-scanning the prefix") {
    val root = tmpDir("store")
    // two appends of 5000 single-partition messages → 10000 lines, well
    // past IndexStride (4096), so a tail slice must use index entries
    val msgs = (0 until 5000).map { i =>
      TopicStore.Msg(null, "k", java.util.Base64.getEncoder
        .encodeToString(s"v-$i".getBytes), Map.empty, 1700000000000000L + i, 0L, 0, "text/plain")
    }
    TopicStore.append(root, "big", 0, msgs)
    TopicStore.append(root, "big", 0, msgs)
    val idx = TopicStore.PartMeta.read(TopicStore.topicDir(root, "big"), 0).index
    assert(idx.map(_._1) == Vector(0L, 4096L, 8192L), s"index: $idx")
    // a slice starting deep in the file decodes exactly those lines
    val slice = TopicStore.readEntries(
      TopicStore.topicDir(root, "big"), 0, 9995L, 10000L)
    assert(slice.map(_.messageId) ==
      (9995 until 10000).map(i => s"0:$i:0:0").toVector)
    // and the DSv2 reader resolves offsets > the first index entry
    val reader = new PulsarLikePartitionReader(
      PulsarLikeInputPartition(root, "big", 0, 9990L, 10000L,
        compacted = false), Array("message_id"), Array.empty)
    val got = Iterator.continually(reader)
      .takeWhile(_.next()).map(_.get().getUTF8String(0).toString).toVector
    reader.close()
    assert(got == (9990 until 10000).map(i => s"0:$i:0:0").toVector)
  }

  test("concurrent appends to one partition keep offsets/meta/index consistent") {
    val root = tmpDir("store")
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 25).foreach { i =>
        TopicStore.append(root, "c", 0, (0 until 10).map { j =>
          TopicStore.Msg(null, "k", java.util.Base64.getEncoder
            .encodeToString(s"$t-$i-$j".getBytes), Map.empty,
            1700000000000000L, 0L, 0, null)
        })
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val (cnt, bytes) = TopicStore.partitionMeta(root, "c", 0)
    assert(cnt == 2000, s"count=$cnt")
    val dir = TopicStore.topicDir(root, "c")
    val lines = java.nio.file.Files.readAllLines(dir.resolve("part-0.jsonl"))
    assert(lines.size == 2000)
    assert(bytes == lines.asScala.map(_.getBytes("UTF-8").length + 1).sum)
    // offsets assigned contiguously under the lock: ids 0..1999 unique
    val ids = lines.asScala.map(l => TopicStore.decode(l).messageId).toSet
    assert(ids == (0 until 2000).map(i => s"0:$i:0:0").toSet)
    // sparse index entries point at real line starts
    val idx = TopicStore.PartMeta.read(dir, 0).index
    assert(idx.nonEmpty)
    idx.foreach { case (line, _) =>
      val got = TopicStore.readEntries(dir, 0, line, line + 1)
      assert(got.size == 1 && got.head.messageId == s"0:$line:0:0")
    }
  }

  test("DSv2 write honors the topic's persisted partition count") {
    val root = tmpDir("store")
    publishEvents(root, "t6", 10, parts = 6)   // creates topic.meta: 6
    import spark.implicits._
    // a DSv2 write (which defaults to 4) must route mod 6, not mod 4
    Seq(("kX", "late-row")).toDF("key", "value_str")
      .write.format("pulsarlike").options(StreamGate.address(root, "t6"))
      .mode("append").save()
    assert(TopicStore.numPartitions(root, "t6") == 6)
    val expected = TopicStore.route("kX",
      java.util.Base64.getEncoder.encodeToString("late-row".getBytes), 6)
    val p = StreamGate.read(spark, root, "t6")
      .filter(col("key") === "kX")
      .select(expr("CAST(split(message_id, ':')[2] AS INT)")).collect()(0).getInt(0)
    assert(p == expected, s"routed to $p, expected $expected")
  }

  test("topic retention: truncated prefix is gone; offsets stay absolute") {
    val root = tmpDir("store")
    publishEvents(root, "r", 30, parts = 1)
    TopicStore.truncateTopic(root, "r", 0, 20L)
    // batch read serves only the retained tail, original offsets intact
    val rows = StreamGate.read(spark, root, "r")
      .select(expr("CAST(split(message_id, ':')[1] AS BIGINT)").as("off"))
      .collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == (20L until 30L))
    // an Earliest subscription starts at the retained base
    val seen = new java.util.concurrent.atomic.AtomicLong
    StreamGate.run(spark, StreamGate.source(spark, root, "r", 100L)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.addAndGet(df.count()): Unit
      }, tmpDir("ckpt"))
    assert(seen.get() == 10)
  }

  test("Latest initial position skips the backlog (A4)") {
    val root = tmpDir("store")
    val ckpt = tmpDir("ckpt")
    publishEvents(root, "events", 10)
    def run(): Long = {
      val seen = new java.util.concurrent.atomic.AtomicLong
      StreamGate.run(spark, StreamGate.source(spark, root, "events", 1000L,
          opts = Map("subscriptionInitialPosition" -> "Latest"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(df.count()): Unit
        }, ckpt)
      seen.get()
    }
    assert(run() == 0)        // Latest: backlog invisible
    publishEvents(root, "events", 3)
    assert(run() == 3)        // the durable cursor then tails
  }
}
