package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TopicStore

/** A19 chunk reassembly + A15/A16/A17 nack/redelivery/DLQ semantics. */
class StreamingOpsSpec extends SparkSpec {
  import ChunkReassembly._

  private def ts(ms: Long) = new Timestamp(ms)

  test("chunk reassembly: out-of-order fragments reassemble exactly (A19)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Chunk]
    val out = reassemble(spark, input.toDS(), watermarkDelay = "1 second")
    val q = out.writeStream.format("memory").queryName("asm")
      .outputMode("append").start()
    try {
      // two messages, fragments interleaved and out of order
      input.addData(
        Chunk("m1", 2, 3, "C", ts(1000)), Chunk("m2", 0, 2, "X", ts(1000)),
        Chunk("m1", 0, 3, "A", ts(1100)))
      q.processAllAvailable()
      assert(spark.table("asm").count() == 0)   // both incomplete
      input.addData(Chunk("m1", 1, 3, "B", ts(1200)),
        Chunk("m2", 1, 2, "Y", ts(1300)))
      q.processAllAvailable()
      val rows = spark.table("asm").orderBy("chunk_uuid").collect()
      assert(rows.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq ==
        Seq(("m1", "ABC", 3), ("m2", "XY", 2)))
    } finally q.stop()
  }

  test("chunk reassembly: duplicate fragments don't corrupt (at-least-once input)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Chunk]
    val out = reassemble(spark, input.toDS())
    val q = out.writeStream.format("memory").queryName("asm2")
      .outputMode("append").start()
    try {
      input.addData(Chunk("m", 0, 2, "A", ts(1000)), Chunk("m", 0, 2, "A", ts(1001)))
      q.processAllAvailable()
      input.addData(Chunk("m", 1, 2, "B", ts(1002)))
      q.processAllAvailable()
      val rows = spark.table("asm2").collect()
      assert(rows.length == 1 && rows(0).getString(1) == "AB")
    } finally q.stop()
  }

  test("chunk reassembly: incomplete group expires after event-time expiry (A19)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = MemoryStream[Chunk]
    val out = reassemble(spark, input.toDS(),
      watermarkDelay = "1 second", expiryMs = 5000L)
    val q = out.writeStream.format("memory").queryName("asm3")
      .outputMode("append").start()
    try {
      input.addData(Chunk("mx", 0, 2, "A", ts(1000)))
      q.processAllAvailable()
      // push the watermark far past the expiry timestamp (two steps: the
      // watermark used by a batch is the one computed at its start)
      input.addData(Chunk("adv1", 0, 2, "z", ts(60000)))
      q.processAllAvailable()
      input.addData(Chunk("adv2", 0, 2, "z", ts(120000)))
      q.processAllAvailable()
      // the late completing fragment now re-opens an empty group rather
      // than completing the expired one — nothing is emitted for mx
      input.addData(Chunk("mx", 1, 2, "B", ts(121000)))
      q.processAllAvailable()
      assert(spark.table("asm3").filter(col("chunk_uuid") === "mx").count() == 0)
    } finally q.stop()
  }

  private def withRocksDB[T](body: => T): T = {
    // fileChecksum off: the checksum checkpoint manager's async uploads
    // deadlock under many concurrent RocksDB snapshot zips (Spark 4.1.2,
    // local fs) — every task parks in ChecksumCheckpointFileManager
    // .awaitResult forever
    val overrides = Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
    val prev = overrides.keys.map(k => k -> spark.conf.getOption(k)).toMap
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  // processing-time timers make the engine run batches continuously, so
  // processAllAvailable never settles — wall-clock tests poll instead
  private def awaitCount(name: String, n: Long, timeoutMs: Long = 30000L): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (spark.table(name).count() < n && System.currentTimeMillis() < end)
      Thread.sleep(100)
  }

  test("chunk reassembly (wall-clock backend): out-of-order completion on RocksDB (A19)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    withRocksDB {
      val input = MemoryStream[Chunk]
      val out = reassembleWallClock(spark, input.toDS(), expiryMs = 3600000L)
      val q = out.writeStream.format("memory").queryName("asmwc1")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))
        .start()
      try {
        input.addData(Chunk("m1", 1, 2, "B", ts(1000)),
          Chunk("m2", 0, 2, "X", ts(1000)))
        input.addData(Chunk("m1", 0, 2, "A", ts(1100)),
          Chunk("m2", 1, 2, "Y", ts(1200)))
        awaitCount("asmwc1", 2)
        val rows = spark.table("asmwc1").orderBy("chunk_uuid").collect()
        assert(rows.map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq ==
          Seq(("m1", "AB", 2), ("m2", "XY", 2)))
      } finally q.stop()
    }
  }

  test("chunk reassembly (wall-clock backend): incomplete group expires on processing time (A19)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    withRocksDB {
      val input = MemoryStream[Chunk]
      val out = reassembleWallClock(spark, input.toDS(), expiryMs = 1000L)
      val q = out.writeStream.format("memory").queryName("asmwc2")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))
        .start()
      try {
        // control group my: completed promptly — proves the emit path
        input.addData(Chunk("mx", 0, 2, "A", ts(1000)),
          Chunk("my", 0, 2, "C", ts(1000)), Chunk("my", 1, 2, "D", ts(1001)))
        awaitCount("asmwc2", 1)
        assert(spark.table("asmwc2").collect().map(_.getString(0)).toSeq == Seq("my"))
        Thread.sleep(3000)   // wall clock passes mx's expiry; timer fires
        // mx expired: its late completing fragment re-opens an empty
        // group instead of emitting
        input.addData(Chunk("mx", 1, 2, "B", ts(2100)))
        Thread.sleep(2000)
        assert(spark.table("asmwc2").filter(col("chunk_uuid") === "mx").count() == 0)
      } finally q.stop()
    }
  }

  test("redelivery pacing: retry_at gates a nacked message until due (A16)") {
    import spark.implicits._
    val root = tmpDir("store")
    val failed = Seq(("0:0:0:0", "k1", "later", 0))
      .toDF("message_id", "key", "value_str", "redelivery_count")
      .withColumn("properties", map().cast("map<string,string>"))
      .withColumn("publish_time", lit(new java.sql.Timestamp(1700000000000L)))
      .withColumn("content_type", lit("text/plain"))
    AckingSink.nack(spark, failed, root, "t", nackDelayMs = 3600000L) // 1h
    def read(retries: Boolean) = spark.read.format("pulsarlike")
      .option("path", root).option("serviceUrl", "pulsar://local")
      .option("topicNames", "t").option("batchingMaxMessages", "100")
      .option("readRetries", retries.toString)
      .load()
    import graft.operators.MessageOps
    // the nack went to the retry log, NOT the main topic log
    assert(read(retries = false).count() == 0)
    val pending = read(retries = true)
    assert(pending.count() == 1)
    assert(MessageOps.dueOnly(pending).count() == 0)   // not yet due
    assert(MessageOps.dueOnly(pending,
      org.apache.spark.sql.functions.lit(new java.sql.Timestamp(
        System.currentTimeMillis() + 7200000L))).count() == 1) // due in 2h
  }

  test("nack queues redelivery below threshold, DLQs at threshold (A15/A16/A17)") {
    import spark.implicits._
    val root = tmpDir("store")
    // failed rows: one fresh (rc=0), one at the edge (rc=4, default max 5)
    val failed = Seq(
      ("0:0:0:0", "k1", "bad-1", 0),
      ("0:1:0:0", "k2", "bad-2", 4)
    ).toDF("message_id", "key", "value_str", "redelivery_count")
      .withColumn("properties", map().cast("map<string,string>"))
      .withColumn("publish_time",
        lit(new java.sql.Timestamp(1700000000000L)))
      .withColumn("content_type", lit("text/plain"))

    val (live, dead) = AckingSink.nack(spark, failed, root, "events",
      subscription = "s1", maxRedeliverCount = 5, nackDelayMs = 0L,
      dlqTopic = Some("events-dead"))
    assert((live, dead) == (1L, 1L))

    def read(topic: String, retries: Boolean = false) = spark.read
      .format("pulsarlike")
      .option("path", root).option("serviceUrl", "pulsar://local")
      .option("topicNames", topic).option("batchingMaxMessages", "100")
      .option("readRetries", retries.toString)
      .option("subscriptionName", "s1")
      .load()

    // main log does not grow from a nack
    assert(read("events").count() == 0)

    val redelivered = read("events", retries = true).collect()
    assert(redelivered.length == 1)
    assert(redelivered(0).getAs[String]("message_id") == "0:0:0:0") // id preserved
    assert(redelivered(0).getAs[Int]("redelivery_count") == 1)
    assert(redelivered(0).getAs[Map[String, String]]("properties")
      .contains("retry_at"))

    // the configured dlqTopic is honored (not the default <topic>-dlq)
    val dlq = read("events-dead").collect()
    assert(dlq.length == 1)
    assert(dlq(0).getAs[String]("message_id") == "0:1:0:0")
    assert(dlq(0).getAs[Int]("redelivery_count") == 5)
  }

  test("nack creates the DLQ topic only once a row dies (A17)") {
    import spark.implicits._
    val root = tmpDir("store")
    def failed(redeliveryCount: Int) =
      Seq(("0:0:0:0", "k1", "bad-1", redeliveryCount))
        .toDF("message_id", "key", "value_str", "redelivery_count")
        .withColumn("properties", map().cast("map<string,string>"))
        .withColumn("publish_time",
          lit(new java.sql.Timestamp(1700000000000L)))
        .withColumn("content_type", lit("text/plain"))
    val dlqDir = TopicStore.topicDir(root, "events-dlq")

    assert(AckingSink.nack(spark, failed(0), root, "events") == ((1L, 0L)))
    assert(!java.nio.file.Files.exists(dlqDir),
      "a nack with no dead row must not create the DLQ topic")

    assert(AckingSink.nack(spark, failed(4), root, "events") == ((0L, 1L)))
    assert(TopicStore.partitionIds(root, "events-dlq").map(p =>
      TopicStore.partitionMeta(root, "events-dlq", p)._1).sum == 1L)
    assert(TopicStore.numPartitions(root, "events-dlq") ==
      TopicStore.numPartitions(root, "events"))
  }

  test("retry-log entries keep the main log's key->partition affinity (A3/A16)") {
    import spark.implicits._
    val root = tmpDir("store")
    val rows = (0 until 12).map(i => (s"0:$i:0:0", s"k$i", s"v$i", 0))
      .toDF("message_id", "key", "value_str", "redelivery_count")
      .withColumn("properties", map().cast("map<string,string>"))
      .withColumn("publish_time", lit(new java.sql.Timestamp(1700000000000L)))
      .withColumn("content_type", lit("text/plain"))
    TopicStore.publish(spark, rows, root, "t", 3)
    AckingSink.nack(spark, rows, root, "t", subscription = "s")
    // every key's retry entry sits in the same partition index the main
    // log routed it to — Key_Shared order and compaction stay per-key
    // local across redeliveries
    val rdir = TopicStore.retryDir(root, "t", "s")
    val retryByKey = TopicStore.partitionIdsIn(rdir).flatMap { p =>
      TopicStore.readEntries(rdir, p, 0L,
        TopicStore.partitionMetaIn(rdir, p)._1).map(m => m.key -> p)
    }.toMap
    (0 until 12).foreach { i =>
      val expected = TopicStore.route(s"k$i", "", 3)
      assert(retryByKey(s"k$i") == expected,
        s"k$i retry in ${retryByKey(s"k$i")}, main in $expected")
    }
  }

  test("retry-log GC: truncation keeps absolute offsets and the pending tail (A16)") {
    val root = tmpDir("store")
    def msg(i: Int) = TopicStore.Msg(s"m-$i", s"k$i",
      java.util.Base64.getEncoder.encodeToString(s"v$i".getBytes),
      Map("retry_at" -> "0"), 1700000000000000L, 0L, 1, null)
    TopicStore.appendRetries(root, "t", "s", 0, (0 until 100).map(msg))
    val dir = TopicStore.retryDir(root, "t", "s")
    // reclaim the delivered prefix [0, 60)
    TopicStore.truncateRetries(root, "t", "s", 0, 60L)
    assert(TopicStore.partitionBaseIn(dir, 0) == 60L)
    assert(TopicStore.partitionMetaIn(dir, 0)._1 == 100L)  // absolute end
    // absolute offsets still address the surviving tail
    val tail = TopicStore.readEntries(dir, 0, 95L, 100L)
    assert(tail.map(_.messageId) == (95 until 100).map(i => s"m-$i").toVector)
    // appends continue at the absolute count
    TopicStore.appendRetries(root, "t", "s", 0, Seq(msg(100)))
    assert(TopicStore.partitionMetaIn(dir, 0)._1 == 101L)
    assert(TopicStore.readEntries(dir, 0, 100L, 101L).head.messageId == "m-100")
    // idempotent / monotone: truncating below base is a no-op
    TopicStore.truncateRetries(root, "t", "s", 0, 10L)
    assert(TopicStore.partitionBaseIn(dir, 0) == 60L)
  }

  test("source merges due retries into delivery; log does not grow (A16)") {
    import spark.implicits._
    val root = tmpDir("store")
    val ckpt = tmpDir("ckpt")
    // publish 6 keyed messages to the main log
    val rows = (0 until 6).map(i => (s"0:$i:0:0", s"k$i", s"v$i", 0))
      .toDF("message_id", "key", "value_str", "redelivery_count")
      .withColumn("properties", map().cast("map<string,string>"))
      .withColumn("publish_time", lit(new java.sql.Timestamp(1700000000000L)))
      .withColumn("content_type", lit("text/plain"))
    TopicStore.publish(spark, rows, root, "t", 2)
    def logLines: Long = (0 until 2).map(p =>
      TopicStore.partitionMeta(root, "t", p)._1).sum

    def stream = spark.readStream.format("pulsarlike")
      .option("path", root).option("serviceUrl", "pulsar://local")
      .option("topicNames", "t").option("batchingMaxMessages", "100")
      .option("subscriptionInitialPosition", "Earliest")
      .load()

    // pass 1: consume all, nack v1 and v3 — v1 immediately due, v3 in 1h
    val q1 = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val failedNow = df.filter(col("value_str").cast("string") === "v1")
        val failedLater = df.filter(col("value_str").cast("string") === "v3")
        AckingSink.nack(spark, failedNow, root, "t", nackDelayMs = 0L)
        AckingSink.nack(spark, failedLater, root, "t", nackDelayMs = 3600000L)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q1.awaitTermination()
    assert(logLines == 6)   // nack did not append to the main log

    // pass 2, same checkpoint: only the due retry (v1) is redelivered,
    // with redelivery_count bumped and the original message_id
    val sink2 = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q2 = stream.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        df.collect().foreach(sink2.add); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val got = sink2.toArray(Array.empty[org.apache.spark.sql.Row])
    assert(got.length == 1, s"expected only the due retry, got ${got.toSeq}")
    assert(got(0).getAs[String]("message_id") == "0:1:0:0")
    assert(got(0).getAs[Int]("redelivery_count") == 1)
    assert(logLines == 6)   // still no growth
  }
}
