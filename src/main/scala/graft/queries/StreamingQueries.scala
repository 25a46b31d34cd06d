package graft.queries

import graft.{Q, Tables}
import graft.operators.MessageOps
import graft.sources.TopicStore
import graft.streaming.{BatchLanding, StreamGate}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming surface under the oracle gate:
  *
  *  - ps01 runs the WHOLE ingest loop — publish `events` into a topic
  *    store, consume it back through the `pulsarlike` DSv2 micro-batch
  *    source (an AvailableNow pass, admission-limited batches), parse by
  *    content type, and the result must hash-match the original rows in
  *    DuckDB. The streaming machinery itself is thereby
  *    correctness-gated, not just spec'd.
  *  - w01-w03: event-time windowing (tumbling / sliding / session) in
  *    their batch-equivalent form, each with an exact DuckDB oracle.
  *    Watermarked streaming forms of the same aggregations are covered
  *    by specs; the aggregation semantics verified here are identical.
  */
object StreamingQueries {

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------
    // ps01 — full publish → pulsarlike stream-consume → parse loop.
    Q(
      "ps01_stream_ingest",
      """SELECT event_id, event_type, value,
        |  CASE WHEN event_id % 5 IN (0, 1) THEN 'application/json'
        |       WHEN event_id % 5 = 2 THEN 'application/xml'
        |       ELSE 'text/csv' END AS base_type
        |FROM events
        |WHERE event_id % 5 <> 4
        |ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-stream")
      val ckpt = graft.TempRoots.create("graft-ckpt")
      val outDir = root + "/consumed"
      TopicStore.publish(s,
        MessageOps.fromEvents(Tables(s, dir, "events")), root, "events", 4)
      val payloadSchema = MessageOps.payloadSchema
      // parse + project inside foreachBatch and land parquet
      // executor-side — the consumed topic never touches the driver
      // (the memory sink would be a driver OOM at 100× the volume)
      StreamGate.run(s, StreamGate.source(s, root, "events", 32768L)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          BatchLanding.land(
            MessageOps.contentTypeDispatch(df, payloadSchema)
              .filter(col("parsed").isNotNull)
              .select(
                col("parsed.event_id").as("event_id"),
                col("parsed.event_type").as("event_type"),
                col("parsed.value").as("value"),
                col("base_type")),
            outDir, bid)
        }, ckpt)
      BatchLanding.read(s, outDir).orderBy(col("event_id"))
    },

    // ---------------------------------------------------------------
    // m06 — A16 negative-ack redelivery through the source's retry-log
    // merge (reference: negativeAckRedeliveryDelay,
    // PulsarMessageConsumer.java:354-356): consume the topic once and
    // nack event_id%7==0 with no delay, event_id%7==1 with a 10 h delay.
    // A second pass on the SAME checkpoint must deliver exactly the due
    // retries — original message_id, redelivery_count+1 — while the
    // not-yet-due ones stay queued and rows crossing maxRedeliverCount=5
    // land in the DLQ topic. The main log must not grow from a nack.
    Q(
      "m06_retry_pacing",
      """SELECT message_id, key, redelivery_count, src FROM (
        |  SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |    CAST(user_id AS VARCHAR) AS key,
        |    CAST(event_id % 8 + 1 AS INTEGER) AS redelivery_count,
        |    'retry' AS src
        |  FROM events WHERE event_id < 30000 AND event_id % 7 = 0 AND event_id % 8 < 4
        |  UNION ALL
        |  SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0',
        |    CAST(user_id AS VARCHAR),
        |    CAST(event_id % 8 + 1 AS INTEGER),
        |    'dlq'
        |  FROM events WHERE event_id < 30000 AND event_id % 7 IN (0, 1) AND event_id % 8 >= 4) t
        |ORDER BY message_id, src""".stripMargin
    ) { (s, dir) =>
      import graft.streaming.AckingSink
      val root = graft.TempRoots.create("graft-retry")
      val ckpt = graft.TempRoots.create("graft-retry-ckpt")
      // delivery-SEMANTICS gate on a bounded topic slice (ps01 is the
      // full-scale ingest-throughput query; re-running the whole volume
      // through a second stream pair here would only re-measure ps01)
      TopicStore.publish(s,
        MessageOps.fromEvents(
          Tables(s, dir, "events").filter(col("event_id") < 30000)),
        root, "events", 4)
      val preLines = (0 until 4).map(p =>
        TopicStore.partitionMeta(root, "events", p)._1).sum

      def stream = StreamGate.source(s, root, "events", StreamGate.PlainCap)
      val eid = expr("CAST(split(message_id, ':')[1] AS BIGINT)")

      // pass 1: every message acked except the two nacked families —
      // one store scan feeds both nack calls
      StreamGate.run(s, stream.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val failed = df.filter(eid % 7 <= 1).persist()
          AckingSink.nack(s, failed.filter(eid % 7 === 0), root, "events",
            nackDelayMs = 0L)
          AckingSink.nack(s, failed.filter(eid % 7 === 1), root, "events",
            nackDelayMs = 36000000L)
          failed.unpersist()
          ()
        }, ckpt)
      require((0 until 4).map(p =>
        TopicStore.partitionMeta(root, "events", p)._1).sum == preLines,
        "nack must not grow the main log")

      // pass 2, same checkpoint: the source merges due retries back in.
      // Redelivered rows land as parquet executor-side (retry volume is
      // unbounded in general — a driver buffer would not scale)
      val redeliveredDir = root + "/redelivered"
      StreamGate.run(s, stream.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          BatchLanding.land(
            df.select("message_id", "key", "redelivery_count"),
            redeliveredDir, bid)
        }, ckpt)

      val retries = BatchLanding.read(s, redeliveredDir)
        .withColumn("src", lit("retry"))
      val dlq = s.read.format("pulsarlike")
        .option("path", root)
        .option("serviceUrl", "pulsar://local")
        .option("topicNames", "events-dlq")
        .option("batchingMaxMessages", "1000000")
        .load()
        .select(col("message_id"), col("key"), col("redelivery_count"))
        .withColumn("src", lit("dlq"))
      retries.unionByName(dlq).orderBy(col("message_id"), col("src"))
    },

    // ---------------------------------------------------------------
    // m07 — A19 end-to-end through the source: documents are split into
    // 100-char chunked messages (uuid/index/total in properties, like
    // pulsar-client chunking metadata), published through the topic
    // store, consumed back via the pulsarlike stream, and reassembled by
    // the stateful operator. The reassembled payload must md5-match the
    // original document — transport + chunk state machine gated in one
    // oracle. Bounded to 2000 docs (the operator math is also oracled
    // at full volume by m05; this gates the composition).
    Q(
      "m07_chunked_ingest",
      """SELECT doc_id, md5(text) AS payload_md5 FROM documents
        |WHERE doc_id < 2000 AND length(text) > 0
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      import graft.streaming.ChunkReassembly
      val root = graft.TempRoots.create("graft-chunks")
      val ckpt = graft.TempRoots.create("graft-chunks-ckpt")
      // empty text excluded on BOTH sides: zero chunks can't be
      // published (and sequence(0, -1) would count down)
      val docs = Tables(s, dir, "documents")
        .filter(col("doc_id") < 2000 && length(col("text")) > 0)
      val chunks = docs
        .withColumn("total",
          ceil(length(col("text")) / 100.0).cast("int"))
        .withColumn("chunk_id", explode(sequence(lit(0), col("total") - 1)))
        .select(
          col("doc_id").cast("string").as("key"),
          expr("substr(text, chunk_id * 100 + 1, 100)").as("value_str"),
          map(
            lit("uuid"), col("doc_id").cast("string"),
            lit("chunk_id"), col("chunk_id").cast("string"),
            lit("total"), col("total").cast("string")).as("properties"),
          lit(new java.sql.Timestamp(1700000000000L)).as("publish_time"))
      TopicStore.publish(s, chunks, root, "chunks", 4)

      val outDir = root + "/reassembled"
      val stream = StreamGate.source(s, root, "chunks", StreamGate.PlainCap)
      import s.implicits._
      val asChunks = stream.select(
          col("properties").getItem("uuid").as("chunk_uuid"),
          col("properties").getItem("chunk_id").cast("int").as("chunk_id"),
          col("properties").getItem("total").cast("int").as("total_chunks"),
          col("value_str").as("fragment"),
          col("event_time").as("ts"))
        .as[ChunkReassembly.Chunk]
      // maxChunks must cover the 100-char split of the longest doc —
      // 4096 chunks ≙ 400 KB of text, far past the fixture ceiling (a
      // doc over the cap would be dropped by the state guard and
      // hash-mismatch the oracle, which has no such bound). State
      // instances = shuffle partitions; right-sized to the bounded
      // slice (restored after the stream drains)
      StreamGate.run(s, ChunkReassembly.reassemble(s, asChunks,
          watermarkDelay = "1 second", maxChunks = 4096)
        .writeStream
        .foreachBatch {
          // hash + project executor-side; only (doc_id, md5) land on disk
          (ds: org.apache.spark.sql.Dataset[ChunkReassembly.Assembled], bid: Long) =>
          BatchLanding.land(
            ds.select(
              col("chunk_uuid").cast("long").as("doc_id"),
              md5(col("payload")).as("payload_md5")),
            outDir, bid)
        }, ckpt, statePartitions = Some(8))
      BatchLanding.read(s, outDir).orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // m08 — time-based seek (the public Reader#seek(timestamp) surface):
    // a batch read with startingTime serves exactly the suffix of each
    // partition from the first message with publish_time >= T. The
    // cursor is found by binary search over the sparse byte index (one
    // decoded message per probe + at most one stride of scan) — never a
    // data scan, so a seek into a year-long topic stays O(log n). The
    // same seek positions a fresh streaming subscription (spec'd in
    // PulsarLikeSourceSpec).
    Q(
      "m08_seek_by_time",
      """SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(user_id AS VARCHAR) AS key, ts AS publish_time
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-seek")
      TopicStore.publish(s,
        MessageOps.fromEvents(Tables(s, dir, "events")), root, "events", 4)
      s.read.format("pulsarlike")
        .option("path", root)
        .option("serviceUrl", "pulsar://local")
        .option("topicNames", "events")
        .option("startingTime", "2024-01-15T00:00:00Z")
        .option("batchingMaxMessages", "1000000")
        .load()
        .select(col("message_id"), col("key"), col("publish_time"))
        .orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // m15 — time-RANGE batch read: startingTime + endingTime serve
    // exactly the slice with publish_time in [T1, T2) from each
    // partition — both bounds are the m08 binary-search seek (the
    // first offset at-or-after T; used once as the start, once as the
    // EXCLUSIVE end), so a range read into a year-long topic touches
    // only the requested slice's bytes, never a post-scan filter over
    // the whole log. An inverted range hard-fails at config
    // validation, and a STREAM with endingTime hard-fails at stream
    // construction (no silently-ignored validated options — both
    // pinned in PulsarLikeSourceSpec).
    Q(
      "m15_time_range_read",
      """SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(user_id AS VARCHAR) AS key, ts AS publish_time
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-range")
      TopicStore.publish(s,
        MessageOps.fromEvents(Tables(s, dir, "events")), root, "events", 4)
      s.read.format("pulsarlike")
        .option("path", root)
        .option("serviceUrl", "pulsar://local")
        .option("topicNames", "events")
        .option("startingTime", "2024-01-10T00:00:00Z")
        .option("endingTime", "2024-01-20T00:00:00Z")
        .option("batchingMaxMessages", "1000000")
        .load()
        .select(col("message_id"), col("key"), col("publish_time"))
        .orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // m16 — message-id seek (Reader#seek(MessageId), the absolute-
    // position twin of m08's time seek): a batch read positioned at a
    // specific message INCLUSIVE, per partition. Published to ONE
    // partition so the physical offset is derivable: the store appends
    // in (publish_time, message_id) order, so offset o ↔ the o-th row
    // of that total order — which is exactly what the oracle ranks.
    // A seek that lands mid-log must return the suffix from that
    // message on, nothing more, nothing less (an off-by-one here is a
    // replayed or lost message in a recovery tool, the operational
    // use of this surface). Scale: the slice is an absolute offset
    // range per partition — no scan before the start offset (the
    // reader byte-index jumps, same as every bounded read).
    Q(
      "m16_seek_message_id",
      """WITH m AS (
        |  SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |    CAST(user_id AS VARCHAR) AS key, ts AS publish_time
        |  FROM events WHERE event_id < 30000),
        |r AS (
        |  SELECT message_id, key, publish_time,
        |    row_number() OVER (ORDER BY publish_time, message_id) - 1
        |      AS off
        |  FROM m)
        |SELECT message_id, key, publish_time FROM r
        |WHERE off >= 500 ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-midseek")
      val slice = MessageOps.fromEvents(
        Tables(s, dir, "events").filter(col("event_id") < 30000))
      TopicStore.publish(s, slice, root, "events", 1)
      s.read.format("pulsarlike")
        .option("path", root)
        .option("serviceUrl", "pulsar://local")
        .option("topicNames", "events")
        .option("startingMessageId", "0:500:0:0")
        .option("batchingMaxMessages", "1000000")
        .load()
        .select(col("message_id"), col("key"), col("publish_time"))
        .orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // m17 — cumulative ack (consumer.acknowledgeCumulative): one ack at
    // offset K acknowledges the whole prefix ≤ K, durably advancing the
    // subscription's broker-side cursor (TopicStore.ackCumulative —
    // state on disk, not in a checkpoint); a later batch read with
    // startFromSubscriptionCursor resumes exactly past it. The gate
    // also fires a SECOND cumulative ack BELOW the cursor before
    // reading: Pulsar semantics make it a no-op (monotonic, never a
    // rewind), and since the read starts at the cursor, a rewind bug
    // would duplicate rows and hash-fail. The reference acks message
    // by message (PulsarMessageConsumer.java:158,189); cumulative ack
    // is the adjacent public consumer surface for prefix-processed
    // batches — A15's third face (individual ack ≙ m06, checkpoint
    // commit ≙ ps01, durable cumulative cursor ≙ this).
    Q(
      "m17_cumulative_ack",
      """WITH m AS (
        |  SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |    CAST(user_id AS VARCHAR) AS key, ts AS publish_time
        |  FROM events WHERE event_id < 30000),
        |r AS (
        |  SELECT message_id, key, publish_time,
        |    row_number() OVER (ORDER BY publish_time, message_id) - 1
        |      AS off
        |  FROM m)
        |SELECT message_id, key, publish_time FROM r
        |WHERE off >= 500 ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-cumack")
      val slice = MessageOps.fromEvents(
        Tables(s, dir, "events").filter(col("event_id") < 30000))
      TopicStore.publish(s, slice, root, "events", 1)
      // the consumer finished the first 500 messages: ONE cumulative
      // ack at offset 499 commits the whole prefix…
      TopicStore.ackCumulative(root, "events", "sub-default", 0, 499L)
      // …and a later cumulative ack BELOW the cursor is a no-op
      TopicStore.ackCumulative(root, "events", "sub-default", 0, 99L)
      s.read.format("pulsarlike")
        .option("path", root)
        .option("serviceUrl", "pulsar://local")
        .option("topicNames", "events")
        .option("startFromSubscriptionCursor", "true")
        .option("batchingMaxMessages", "1000000")
        .load()
        .select(col("message_id"), col("key"), col("publish_time"))
        .orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // m18 — message expiry (pulsar-admin expire-messages -s sub -t):
    // everything published before the TTL cutoff is expired —
    // auto-acked — for ONE subscription, by folding the m08
    // index-guided time seek through m17's cumulative-ack cursor
    // (expiry is an ack the broker performs for you; it inherits the
    // cursor's monotonicity and durability). The subsequent
    // subscription read serves exactly publish_time >= cutoff; other
    // subscriptions are untouched (AdminCursorSpec). The reference
    // leaves TTL to the broker — this is that broker surface, modeled
    // next to retention (truncateTopic), which differs in scope:
    // retention deletes bytes for everyone, expiry advances one
    // subscription's cursor.
    Q(
      "m18_message_expiry",
      """SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(user_id AS VARCHAR) AS key, ts AS publish_time
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-expire")
      TopicStore.publish(s,
        MessageOps.fromEvents(Tables(s, dir, "events")), root, "events", 4)
      val cutoffUs = java.time.Instant.parse("2024-01-12T00:00:00Z")
        .toEpochMilli * 1000L
      TopicStore.partitionIds(root, "events").foreach { p =>
        TopicStore.expireMessages(root, "events", "sub-default", p,
          cutoffUs)
      }
      s.read.format("pulsarlike")
        .option("path", root)
        .option("serviceUrl", "pulsar://local")
        .option("topicNames", "events")
        .option("startFromSubscriptionCursor", "true")
        .option("batchingMaxMessages", "1000000")
        .load()
        .select(col("message_id"), col("key"), col("publish_time"))
        .orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // m20 — metadata COUNT(*) pushdown: an unfiltered ungrouped count
    // over a topic never reads message bytes — the scan builder pushes
    // the aggregate (SupportsPushDownAggregates) and each partition
    // answers with its slice length from the meta sidecar, O(log n)
    // seeks included, so the 'tail' leg counts a time slice of a
    // year-long topic in O(partitions) metadata reads. AggPushdownSpec
    // pins the plan marker, the refusal cases (filters, compaction,
    // retry log — where count ≠ slice length), and result parity.
    Q(
      "m20_topic_count",
      """SELECT 'full' AS slice, CAST(count(*) AS BIGINT) AS n
        |FROM events WHERE event_id < 30000
        |UNION ALL
        |SELECT 'tail' AS slice, CAST(count(*) AS BIGINT) AS n
        |FROM events WHERE event_id < 30000
        |  AND ts >= TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY slice""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-count")
      TopicStore.publish(s,
        MessageOps.fromEvents(
          Tables(s, dir, "events").filter(col("event_id") < 30000)),
        root, "events", 4)
      def reader = s.read.format("pulsarlike")
        .option("path", root)
        .option("serviceUrl", "pulsar://local")
        .option("topicNames", "events")
        .option("batchingMaxMessages", "1000000")
      val full = reader.load()
        .agg(count(lit(1)).cast("long").as("n"))
        .select(lit("full").as("slice"), col("n"))
      val tail = reader.option("startingTime", "2024-01-15T00:00:00Z")
        .load()
        .agg(count(lit(1)).cast("long").as("n"))
        .select(lit("tail").as("slice"), col("n"))
      full.unionByName(tail).orderBy(col("slice"))
    },

    // ---------------------------------------------------------------
    // m21 — "latest N" via top-N pushdown: ORDER BY publish_time DESC
    // LIMIT 100 serves each partition's slice TAIL (the log is
    // publish-time order per partition — a premise the store now
    // tracks per append and refuses when broken, TopNPushdownSpec),
    // so tailing a topic of any size reads ~N rows per partition.
    // The gate compares the selected publish-time MULTISET (times +
    // counts), which is deterministic even when several messages
    // share the boundary timestamp — the row choice at the cut is
    // tie-ambiguous, the chosen time multiset is not.
    Q(
      "m21_latest_n",
      """WITH r AS (
        |  SELECT ts, row_number() OVER (ORDER BY ts DESC) AS rn
        |  FROM events WHERE event_id < 30000)
        |SELECT ts AS publish_time, CAST(count(*) AS BIGINT) AS n
        |FROM r WHERE rn <= 100
        |GROUP BY ts ORDER BY publish_time""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-latestn")
      TopicStore.publish(s,
        MessageOps.fromEvents(
          Tables(s, dir, "events").filter(col("event_id") < 30000)),
        root, "events", 4)
      s.read.format("pulsarlike")
        .option("path", root)
        .option("serviceUrl", "pulsar://local")
        .option("topicNames", "events")
        .option("batchingMaxMessages", "1000000")
        .load()
        .orderBy(col("publish_time").desc).limit(100)
        .groupBy(col("publish_time"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("publish_time"))
    },

    // ---------------------------------------------------------------
    // m19 — admin cursor reset (pulsar-admin reset-cursor -s sub -t):
    // the operator's replay lever. Unlike a consumer's cumulative ack
    // (monotonic by broker contract, m17), the admin override moves
    // the cursor in EITHER direction — here the gate first acks the
    // entire log (the subscription is fully caught up and a plain
    // cursor read would return nothing), then resets back to a
    // mid-log timestamp and proves the prefix REPLAYS through the
    // same subscription: exactly publish_time >= T comes back. Same
    // index-guided seek and atomic cursor write as m17/m18.
    Q(
      "m19_reset_cursor",
      """SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(user_id AS VARCHAR) AS key, ts AS publish_time
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-reset")
      TopicStore.publish(s,
        MessageOps.fromEvents(Tables(s, dir, "events")), root, "events", 4)
      val toUs = java.time.Instant.parse("2024-01-20T00:00:00Z")
        .toEpochMilli * 1000L
      TopicStore.partitionIds(root, "events").foreach { p =>
        // catch the subscription fully up…
        val (cnt, _) = TopicStore.partitionMeta(root, "events", p)
        TopicStore.ackCumulative(root, "events", "sub-default", p, cnt - 1)
        // …then the admin rewinds it to T for a replay
        TopicStore.resetCursor(root, "events", "sub-default", p, toUs)
      }
      s.read.format("pulsarlike")
        .option("path", root)
        .option("serviceUrl", "pulsar://local")
        .option("topicNames", "events")
        .option("startFromSubscriptionCursor", "true")
        .option("batchingMaxMessages", "1000000")
        .load()
        .select(col("message_id"), col("key"), col("publish_time"))
        .orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // m10 — effectively-once ingest: the source's delivery contract is
    // at-least-once (ack ≙ offset commit, replay on failure — A15), and
    // the standard Spark composition to effectively-once is
    // dropDuplicatesWithinWatermark on the stable message identity.
    // Every message is published TWICE (a redelivered duplicate with
    // the same message_id, like a replayed batch); the consumed stream
    // must collapse them to exactly one row each. Deterministic
    // regardless of admission slicing: duplicate copies are identical,
    // so whichever copy survives yields the same row, and emission is
    // immediate (no finalization wait). Bounded slice as in m06.
    Q(
      "m10_effectively_once",
      """SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(user_id AS VARCHAR) AS key, ts AS publish_time
        |FROM events
        |WHERE event_id < 30000
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-once")
      val ckpt = graft.TempRoots.create("graft-once-ckpt")
      val outDir = root + "/deduped"
      val slice = MessageOps.fromEvents(
        Tables(s, dir, "events").filter(col("event_id") < 30000))
      TopicStore.publish(s, slice, root, "events", 4)
      TopicStore.publish(s, slice, root, "events", 4) // the redelivery
      StreamGate.run(s,
        StreamGate.source(s, root, "events", StreamGate.PlainCap)
          .withWatermark("event_time", "60 days")
          .dropDuplicatesWithinWatermark("message_id")
          .select(col("message_id"), col("key"), col("publish_time"))
          .writeStream
          .outputMode("append")
          .foreachBatch(StreamGate.land(outDir)), ckpt, statePartitions = Some(8))
      BatchLanding.read(s, outDir).orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // w01 — tumbling event-time window (1 hour) per event type.
    Q(
      "w01_tumbling_window",
      """SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS window_start,
        |  event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type"))
    },

    // ---------------------------------------------------------------
    // w02 — sliding window (1 hour, 30-minute slide): each event lands in
    // two windows; oracle replicates via a 2-offset cross join.
    Q(
      "w02_sliding_window",
      """SELECT make_timestamp(((epoch_ms(ts) // 1800000) - k) * 1800000 * 1000) AS window_start,
        |  count(*) AS n
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) offs
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("n"))
        .orderBy(col("window_start"))
    },

    // ---------------------------------------------------------------
    // w03 — session windows (5-minute gap) per user: gaps-and-islands in
    // the oracle, session_window in Spark. Session end = last event + gap
    // (Spark's definition).
    Q(
      "w03_session_window",
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           <= INTERVAL 5 MINUTE THEN 0 ELSE 1 END AS new_session
        |  FROM events),
        |ids AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 5 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM ids GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
    ) { (s, dir) =>
      Tables(s, dir, "events")
        .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    },

    // ---------------------------------------------------------------
    // w04 — stream-stream interval join, end-to-end through the source:
    // two pulsarlike streams over the same published topic (clicks /
    // purchases), joined on user with a 1-hour attribution interval
    // (click within the hour before the purchase). Both sides carry
    // watermarks — the state-cleanup contract a production join needs —
    // with a delay past the data horizon so the oracle comparison is
    // exact (no late drops regardless of how admission slices batches).
    // Join results are written executor-side per micro-batch. Oracle:
    // the same interval join in plain SQL (mode-4 rows are raw payloads
    // the dispatcher can't parse, excluded on both sides, as in ps01).
    Q(
      "w04_stream_interval_join",
      """SELECT a.event_id AS click_id, b.event_id AS buy_id,
        |  a.user_id, a.ts AS click_ts, b.ts AS buy_ts
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        |  AND a.ts BETWEEN b.ts - INTERVAL 1 HOUR AND b.ts
        |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        |  AND a.event_id % 5 <> 4 AND b.event_id % 5 <> 4
        |ORDER BY click_id, buy_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-sj")
      val ckpt = graft.TempRoots.create("graft-sj-ckpt")
      val outDir = root + "/joined"
      TopicStore.publish(s,
        MessageOps.fromEvents(Tables(s, dir, "events")), root, "events", 4)

      val payloadSchema = MessageOps.payloadSchema
      def side(eventType: String, idAs: String, tsAs: String) = {
        val raw = StreamGate.source(s, root, "events", StreamGate.PlainCap)
        MessageOps.contentTypeDispatch(raw, payloadSchema)
          .filter(col("parsed.event_type") === eventType)
          .select(
            col("parsed.event_id").as(idAs),
            col("key").cast("long").as(s"${idAs}_user"),
            col("event_time").as(tsAs))
          .withWatermark(tsAs, "60 days")
      }
      // stream-stream join state instances scale with shuffle
      // partitions (4 stores per partition); right-size them to the
      // bounded slice this query processes — a cluster deployment
      // sizes this to its core count instead
      val clicks = side("click", "click_id", "click_ts")
      val buys = side("purchase", "buy_id", "buy_ts")
      StreamGate.run(s, clicks.join(buys,
          col("click_id_user") === col("buy_id_user") &&
          col("click_ts") >= col("buy_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") <= col("buy_ts"))
        .select(col("click_id"), col("buy_id"),
          col("click_id_user").as("user_id"),
          col("click_ts"), col("buy_ts"))
        .writeStream
        .foreachBatch(StreamGate.land(outDir)), ckpt, statePartitions = Some(8))
      BatchLanding.read(s, outDir).orderBy(col("click_id"), col("buy_id"))
    },

    // ---------------------------------------------------------------
    // w05 — stream-stream LEFT OUTER interval join through the source:
    // w04's attribution join, but clicks with NO purchase in the
    // following hour must ALSO emit (null-padded) — the outer-row path,
    // which only fires when the watermark passes the last possible
    // match time for a click. Watermarks are 1 hour (real eviction);
    // per-side far-future sentinels (a click and a purchase the
    // dispatcher parses, impossible user ids) advance both sides'
    // watermarks past the data horizon, and a second AvailableNow pass
    // on the same checkpoint guarantees a batch runs after the
    // advance — whichever batch the engine emits each row in, the
    // union is deterministic. The sentinels themselves sit above the
    // watermark forever, so they never emit; the landed batch output
    // filters negative ids defensively (no watermark exists there).
    Q(
      "w05_stream_outer_join",
      """SELECT a.event_id AS click_id, b.event_id AS buy_id,
        |  a.user_id, a.ts AS click_ts, b.ts AS buy_ts
        |FROM (SELECT * FROM events
        |      WHERE event_type = 'click' AND event_id % 5 <> 4) a
        |LEFT JOIN (SELECT * FROM events
        |      WHERE event_type = 'purchase' AND event_id % 5 <> 4) b
        |  ON a.user_id = b.user_id
        |  AND a.ts BETWEEN b.ts - INTERVAL 1 HOUR AND b.ts
        |ORDER BY click_id NULLS FIRST, buy_id NULLS FIRST""".stripMargin
    ) { (s, dir) =>
      StreamOuterJoinGate.run(s, dir, "graft-soj", "left_outer")
    },

    // ---------------------------------------------------------------
    // w06 — stream-stream FULL OUTER interval join through the source:
    // the w05 machinery with both unmatched sides emitting — clicks
    // with no purchase AND purchases with no prior click in the hour.
    // Same sentinel + two-pass flush; the landed filter is null-safe on
    // BOTH id columns (a right-unmatched row has a null click_id).
    // Completes the oracle-gated join matrix: inner (w04), left outer
    // (w05), full outer (w06), stream-static anti (d07).
    Q(
      "w06_stream_full_outer_join",
      """SELECT a.event_id AS click_id, b.event_id AS buy_id,
        |  coalesce(a.user_id, b.user_id) AS user_id,
        |  a.ts AS click_ts, b.ts AS buy_ts
        |FROM (SELECT * FROM events
        |      WHERE event_type = 'click' AND event_id % 5 <> 4) a
        |FULL JOIN (SELECT * FROM events
        |      WHERE event_type = 'purchase' AND event_id % 5 <> 4) b
        |  ON a.user_id = b.user_id
        |  AND a.ts BETWEEN b.ts - INTERVAL 1 HOUR AND b.ts
        |ORDER BY click_id NULLS FIRST, buy_id NULLS FIRST""".stripMargin
    ) { (s, dir) =>
      StreamOuterJoinGate.run(s, dir, "graft-foj", "full_outer")
    },

    // ---------------------------------------------------------------
    // w07 — stream-stream LEFT SEMI interval join through the source:
    // clicks that HAD a purchase within the following hour, each
    // emitted exactly once (the semi-join state dedups multi-match
    // clicks — no fan-out, unlike w04). Emission happens the moment
    // the first match arrives, so the result set is batching-
    // independent; the sentinel + two-pass machinery is still reused
    // for state-eviction realism (1-hour watermarks evict, not grow).
    Q(
      "w07_stream_semi_join",
      """SELECT a.event_id AS click_id, a.user_id, a.ts AS click_ts
        |FROM events a
        |WHERE a.event_type = 'click' AND a.event_id % 5 <> 4
        |  AND EXISTS (
        |    SELECT 1 FROM events b
        |    WHERE b.event_type = 'purchase' AND b.event_id % 5 <> 4
        |      AND b.user_id = a.user_id
        |      AND a.ts BETWEEN b.ts - INTERVAL 1 HOUR AND b.ts)
        |ORDER BY click_id""".stripMargin
    ) { (s, dir) =>
      StreamOuterJoinGate.run(s, dir, "graft-ssj", "left_semi")
    },

    // ---------------------------------------------------------------
    // w08 — CHAINED stateful operators: the w04 interval join feeding a
    // 1-day tumbling window aggregation inside ONE streaming query
    // (daily attribution counts). Two stateful operators back to back —
    // join state plus aggregation state — with the watermark propagated
    // through the join (minus its 1-hour interval delay) to finalize
    // the windows; the sentinel + two-pass flush machinery drives that
    // watermark past the data horizon deterministically. Inner-join
    // sentinels never match, so no sentinel row ever reaches the agg.
    Q(
      "w08_stream_join_window",
      """SELECT make_timestamp((epoch_ms(a.ts) // 86400000) * 86400000 * 1000) AS window_start,
        |  count(*) AS n,
        |  CAST(sum(a.user_id) AS BIGINT) AS user_sum
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        |  AND a.ts BETWEEN b.ts - INTERVAL 1 HOUR AND b.ts
        |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        |  AND a.event_id % 5 <> 4 AND b.event_id % 5 <> 4
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      StreamOuterJoinGate.run(s, dir, "graft-sjw", "inner", windowAgg = true)
    },

    // ---------------------------------------------------------------
    // ws01 — WATERMARKED tumbling-window aggregation end-to-end through
    // the source, with real late-row drops, under the oracle gate. The
    // reference is a streaming ingest loop (PulsarMessageConsumer
    // .java:124-138); this is its windowed-aggregation form with the
    // state-cleanup contract a production job needs (withWatermark +
    // append mode), not the batch-equivalent shape of w01.
    //
    // Determinism regardless of admission slicing comes from the
    // m06-style two-pass-on-one-checkpoint structure, with each pass
    // admitted as a single micro-batch:
    //  - pass 1 publishes the on-time rows (event_id % 3 <> 0) plus a
    //    far-future watermark sentinel; the batch runs with watermark=0
    //    (fresh checkpoint), so nothing drops and nothing emits — all
    //    windows enter state; after the batch the watermark advances to
    //    sentinel − 1 h, past every real window.
    //  - pass 2 publishes the remaining rows (event_id % 3 = 0), ALL of
    //    which are now below the watermark: the streaming aggregation
    //    drops every one of them, and the finalized phase-1 windows are
    //    emitted in append mode (in whichever pass the engine chose to
    //    flush them — output is the union either way).
    // The sentinel itself sits in a window that never finalizes, so it
    // never reaches the output; no filter is needed (a key filter above
    // the watermark node could be pushed below it by Catalyst and stop
    // the sentinel from advancing the watermark at all).
    // Oracle: the same tumbling aggregation over exactly the on-time
    // subset — the dropped pass-2 rows must be absent.
    Q(
      "ws01_watermarked_window",
      """SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS window_start,
        |  count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum
        |FROM events
        |WHERE event_id % 3 <> 0
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      StreamingWindowGate.run(s, dir, "graft-wm",
        df => df
          .groupBy(window(col("event_time"), "1 hour"))
          .agg(count(lit(1)).as("n"),
            // try_cast: the sentinel's non-numeric key must not trip
            // ANSI cast (its row is watermark fuel, never output)
            sum(expr("try_cast(key AS BIGINT)")).as("user_sum"))
          .select(col("window.start").as("window_start"),
            col("n"), col("user_sum")),
        Seq("window_start"))
    },

    // ---------------------------------------------------------------
    // ws02 — watermarked SLIDING window through the source: same
    // two-pass determinism as ws01 (see there), sliding (1 h / 30 min)
    // aggregation in append mode. Every on-time row lands in two
    // windows; the pass-2 late rows drop from both.
    Q(
      "ws02_watermarked_sliding",
      """SELECT make_timestamp(((epoch_ms(ts) // 1800000) - k) * 1800000 * 1000) AS window_start,
        |  count(*) AS n
        |FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) offs
        |WHERE event_id % 3 <> 0
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      StreamingWindowGate.run(s, dir, "graft-wms",
        df => df
          .groupBy(window(col("event_time"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"), col("n")),
        Seq("window_start"))
    },

    // ---------------------------------------------------------------
    // ws03 — watermarked SESSION window per key through the source:
    // session_window (5-minute gap) + watermark in append mode, the
    // stateful merge-sessions path, with the same two-pass determinism
    // as ws01. The sentinel opens its own never-finalized session under
    // its own key, so it never reaches the output.
    Q(
      "ws03_watermarked_session",
      """WITH sub AS (SELECT user_id, ts FROM events WHERE event_id % 3 <> 0),
        |marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |           <= INTERVAL 5 MINUTE THEN 0 ELSE 1 END AS new_session
        |  FROM sub),
        |ids AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 5 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM ids GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
    ) { (s, dir) =>
      // NO null-key filter inside the streaming plan: a filter on the
      // grouping column pushes below the aggregation AND below the
      // EventTimeWatermark node (it doesn't reference event_time), which
      // silently stops the sentinel from advancing the watermark — the
      // exact trap ws01's comment describes, observed here as sessions
      // near the data horizon never finalizing. The sentinel's own
      // session never finalizes either way; the defensive null filter
      // runs on the landed BATCH output below, where no watermark exists.
      StreamingWindowGate.run(s, dir, "graft-wmss",
        df => df
          .groupBy(session_window(col("event_time"), "5 minutes"),
            expr("try_cast(key AS BIGINT)").as("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events")),
        Seq("user_id", "session_start"))
        .filter(col("user_id").isNotNull)
        .orderBy(col("user_id"), col("session_start"))
    },

    // ---------------------------------------------------------------
    // ws04 — UPDATE-mode windowed aggregation through the source: the
    // ws01 aggregation emitting per-batch REFINEMENTS instead of
    // finalized rows, reconstructed downstream the way an upsert sink
    // consumes update mode (latest batch wins per key). Choreography on
    // one checkpoint, one micro-batch per pass, the on-time rows split
    // at 2024-01-16 00:30 (mid-range and NOT hour-aligned, so the
    // straddled window emits twice — partial then refined — and a later
    // pass never falls below the watermark an earlier pass advanced):
    //  pass 1: on-time rows before the split — touched windows emit
    //          their partial values (watermark 0, nothing drops);
    //  pass 2: on-time rows from the split on — the straddled window
    //          emits AGAIN with its refined total (the update-mode
    //          contract under test);
    //  pass 3: the far-future sentinel — watermark past the horizon;
    //  pass 4: the late complement (event_id % 3 = 0) — every row below
    //          the watermark, dropped, nothing emits.
    // Final value per window = row from its max batch_id; must equal
    // ws01's append-mode oracle (same aggregation, same drop set). The
    // sentinel's own 2035 window DOES emit in update mode (unlike
    // append) — filtered on the landed output, where no watermark
    // exists to be starved by filter pushdown.
    Q(
      "ws04_update_mode_window",
      """SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS window_start,
        |  count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum
        |FROM events
        |WHERE event_id % 3 <> 0
        |GROUP BY 1
        |ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-wmu")
      val ckpt = graft.TempRoots.create("graft-wmu-ckpt")
      val outDir = root + "/windows"
      val events = Tables(s, dir, "events")
      val onTime = events.filter(pmod(col("event_id"), lit(3)) =!= 0)
      val mid = to_timestamp(lit("2024-01-16 00:30:00"))
      val sentinel = events.limit(1).select(
        lit("wm-sentinel").as("key"),
        lit("flush").as("value_str"),
        lit(java.sql.Timestamp.valueOf("2035-01-01 00:00:00")).as("publish_time"),
        lit(java.sql.Timestamp.valueOf("2035-01-01 00:00:00")).as("event_time"))
      def runPass(): Unit = StreamGate.run(s,
        StreamGate.source(s, root, "events", StreamGate.SingleBatchCap)
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour"))
          .agg(count(lit(1)).as("n"),
            sum(expr("try_cast(key AS BIGINT)")).as("user_sum"))
          .select(col("window.start").as("window_start"),
            col("n"), col("user_sum"))
          .writeStream
          .outputMode("update")
          .foreachBatch(StreamGate.land(outDir)), ckpt, statePartitions = Some(8))
      TopicStore.publish(s,
        MessageOps.fromEvents(onTime.filter(col("ts") < mid)),
        root, "events", 4)
      runPass()
      TopicStore.publish(s,
        MessageOps.fromEvents(onTime.filter(col("ts") >= mid)),
        root, "events", 4)
      runPass()
      TopicStore.publish(s, sentinel, root, "events", 4)
      runPass()
      TopicStore.publish(s,
        MessageOps.fromEvents(events.filter(pmod(col("event_id"), lit(3)) === 0)),
        root, "events", 4)
      runPass()
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy(col("window_start")).orderBy(col("batch_id").desc)
      BatchLanding.readRaw(s, outDir)
        .withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1)
        .drop("rn", "batch_id")
        .filter(col("window_start") <
          lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
        .orderBy(col("window_start"))
    },

    // ---------------------------------------------------------------
    // ws05 — COMPLETE-mode aggregation through the source: the third
    // output mode (ws01 append, ws04 update). Per-user running totals
    // re-emitted in full every micro-batch — the dashboard/top-line
    // shape, valid only for aggregations, no watermark (state is the
    // whole result by contract; at 100 TB complete mode is for
    // BOUNDED-cardinality keys like these user ids, never raw rows).
    // Two AvailableNow passes on one checkpoint (events split on
    // event_id parity) prove cross-batch state carry-over: the final
    // batch's snapshot — rows at max batch_id, the 1-row broadcast
    // scalar pattern — must equal the batch aggregation over ALL
    // events, which is the oracle.
    Q(
      "ws05_complete_mode",
      """SELECT user_id, count(*) AS n, max(ts) AS last_ts
        |FROM events GROUP BY user_id
        |ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-complete")
      val ckpt = graft.TempRoots.create("graft-complete-ckpt")
      val outDir = root + "/totals"
      val events = Tables(s, dir, "events")
      def runPass(): Unit = StreamGate.run(s,
        StreamGate.source(s, root, "events", StreamGate.PlainCap)
          .groupBy(expr("try_cast(key AS BIGINT)").as("user_id"))
          .agg(count(lit(1)).as("n"), max(col("event_time")).as("last_ts"))
          .writeStream
          .outputMode("complete")
          .foreachBatch(StreamGate.land(outDir)), ckpt, statePartitions = Some(8))
      TopicStore.publish(s,
        MessageOps.fromEvents(events.filter(pmod(col("event_id"), lit(2)) === 0)),
        root, "events", 4)
      runPass()
      TopicStore.publish(s,
        MessageOps.fromEvents(events.filter(pmod(col("event_id"), lit(2)) === 1)),
        root, "events", 4)
      runPass()
      val landed = BatchLanding.readRaw(s, outDir)
      val latest = landed.agg(max(col("batch_id")).as("max_bid"))
      landed.crossJoin(broadcast(latest))
        .filter(col("batch_id") === col("max_bid"))
        .drop("batch_id", "max_bid")
        .orderBy(col("user_id"))
    },

    // ---------------------------------------------------------------
    // ws06 — ORACLED observability: a watermarked streaming dedup run
    // through the source with its progress counters as the query
    // OUTPUT. Three invariants a production 100 TB ingest job alarms
    // on, each hash-matched against DuckDB recomputing it from the
    // fixture:
    //   rows_observed      — observe() on the pre-watermark stream,
    //                        summed over both passes: every delivered
    //                        row (on-time + sentinel + late), counted
    //                        in the same pass as the work (no second
    //                        scan);
    //   late_rows_dropped  — sum of numRowsDroppedByWatermark: pass 2
    //                        replays the event_id%3=0 subset entirely
    //                        below the checkpoint-persisted watermark,
    //                        so the state op must drop ALL of them —
    //                        and nothing else;
    //   rows_emitted       — deduplicated rows landed (sentinel
    //                        excluded on the batch side).
    // The op is dropDuplicates(key, event_time), NOT the window agg:
    // a windowed aggregation partial-aggregates before the watermark
    // filter, so its drop counter counts late partial rows — an
    // implementation-dependent number no oracle should pin. Dedup
    // state sees raw rows, so its counter is exact input accounting,
    // and observed = emitted + dropped + sentinel closes the books.
    // This closes the "instrumentation is spec'd, not oracled" gap:
    // the counters themselves are the gated result.
    Q(
      "ws06_drop_accounting",
      """SELECT 'late_rows_dropped' AS metric, CAST(count(*) AS BIGINT) AS value
        |FROM events WHERE event_id % 3 = 0
        |UNION ALL
        |SELECT 'rows_emitted', CAST(count(*) AS BIGINT) FROM (
        |  SELECT DISTINCT user_id, ts FROM events WHERE event_id % 3 <> 0)
        |UNION ALL
        |SELECT 'rows_observed', CAST(count(*) + 1 AS BIGINT) FROM events
        |ORDER BY metric""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      val (landed, counters) = StreamingWindowGate.runCounted(s, dir,
        "graft-wmacct",
        df => df
          .dropDuplicates(Seq("key", "event_time"))
          .select(col("key"), col("event_time")),
        Seq("key"))
      val emitted = landed.filter(col("key") =!= "wm-sentinel").count()
      Seq(
        ("late_rows_dropped", counters.lateDropped),
        ("rows_emitted", emitted),
        ("rows_observed", counters.rowsObserved))
        .toDF("metric", "value")
        .orderBy(col("metric"))
    },

    // ---------------------------------------------------------------
    // w09 — stream-static ENRICHMENT join (the most common production
    // streaming pattern; d07 gates the anti-join form): every consumed
    // message inner-joins the customer dimension on its key, broadcast
    // to the stream side — stateless per micro-batch, no watermark, no
    // state store; at 100 TB the dim broadcast is the entire cost and
    // the stream never shuffles. Every event must come out exactly once
    // with its segment attached (user ids are all resident in the dim,
    // so the inner join drops nothing — the oracle counts it if the
    // join or the delivery loses/duplicates rows).
    Q(
      "w09_stream_enrich",
      """SELECT '0:' || CAST(e.event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(e.user_id AS VARCHAR) AS key,
        |  c.c_mktsegment AS segment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-enrich")
      val ckpt = graft.TempRoots.create("graft-enrich-ckpt")
      val outDir = root + "/enriched"
      TopicStore.publish(s,
        MessageOps.fromEvents(Tables(s, dir, "events")), root, "events", 4)
      val dim = Tables(s, dir, "customer")
        .select(col("c_custkey").cast("string").as("key"),
          col("c_mktsegment"))
      StreamGate.run(s,
        StreamGate.source(s, root, "events", StreamGate.PlainCap)
          .join(broadcast(dim), Seq("key"))
          .select(col("message_id"), col("key"),
            col("c_mktsegment").as("segment"))
          .writeStream
          .outputMode("append")
          .foreachBatch(StreamGate.land(outDir)), ckpt, statePartitions = Some(8))
      BatchLanding.read(s, outDir).orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // ws07 — ARBITRARY state via the Spark 4.x transformWithState API
    // (the successor to [flat]mapGroupsWithState, RocksDB-backed —
    // m05/m07 gate the classic API through chunk reassembly): each
    // user's two largest purchase values live in a ValueState merged
    // under the total order (value DESC, event_id ASC), so arrival
    // order, partitioning, and replay cannot change it. The gate
    // publishes DISJOINT halves (even event_ids, then odd) and runs a
    // separate AvailableNow pass per half on one checkpoint — pass 2's
    // per-user output is correct ONLY if pass 1's state survived the
    // restart, which is exactly what the oracle (top-2 over ALL
    // events) asserts. Update-mode emission: one row per touched key
    // per batch; the landed result takes each key's latest batch row.
    // 100 TB posture: state is per-key O(1) (two pairs), the processor
    // folds each batch's rows in one pass, and the only shuffle is the
    // groupByKey exchange every stateful op pays.
    Q(
      "ws07_tws_topk",
      """WITH ranked AS (
        |  SELECT user_id, value, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events WHERE event_id % 5 <> 4)
        |SELECT user_id,
        |  max(CASE WHEN rn = 1 THEN value END) AS v1,
        |  max(CASE WHEN rn = 1 THEN event_id END) AS e1,
        |  max(CASE WHEN rn = 2 THEN value END) AS v2,
        |  max(CASE WHEN rn = 2 THEN event_id END) AS e2
        |FROM ranked WHERE rn <= 2
        |GROUP BY user_id ORDER BY user_id""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      import graft.streaming.{Top2Processor, TwsEvent}
      val root = graft.TempRoots.create("graft-tws")
      val ckpt = graft.TempRoots.create("graft-tws-ckpt")
      val outDir = root + "/top2"
      val events = Tables(s, dir, "events")
      def runPass(): Unit = {
        val src =
          StreamGate.source(s, root, "events", StreamGate.SingleBatchCap)
        // the %5==4 family publishes as raw octet-stream (ps01's
        // parse contract) — parsed is NULL there, and a stateful op
        // over typed rows must drop them explicitly, not NPE
        val parsed = MessageOps
          .contentTypeDispatch(src, MessageOps.payloadSchema)
          .filter(col("parsed").isNotNull)
          .select(expr("try_cast(key AS BIGINT)").as("user_id"),
            col("parsed.value").cast("double").as("value"),
            col("parsed.event_id").cast("long").as("event_id"))
          .as[TwsEvent]
        StreamGate.run(s, parsed.groupByKey(_.user_id)
          .transformWithState(new Top2Processor,
            org.apache.spark.sql.streaming.TimeMode.None(),
            org.apache.spark.sql.streaming.OutputMode.Update())
          .toDF()
          .writeStream
          .outputMode("update")
          .foreachBatch(StreamGate.land(outDir)), ckpt,
          statePartitions = Some(8), conf = StreamGate.RocksDbStateStore)
      }
      TopicStore.publish(s,
        MessageOps.fromEvents(events.filter(pmod(col("event_id"), lit(2)) === 0)),
        root, "events", 4)
      runPass()
      TopicStore.publish(s,
        MessageOps.fromEvents(events.filter(pmod(col("event_id"), lit(2)) === 1)),
        root, "events", 4)
      runPass()
      // each key's latest emission wins (a key untouched in pass 2
      // keeps its pass-1 row)
      val landed = BatchLanding.readRaw(s, outDir)
      val latest = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("batch_id").desc)
      landed.withColumn("rn", row_number().over(latest))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("v1"), col("e1"), col("v2"), col("e2"))
        .orderBy(col("user_id"))
    },

    // ---------------------------------------------------------------
    // ws08 — DYNAMIC-gap session window through the source: the gap is
    // an expression per event (epoch-second parity → 5 vs 10 minutes),
    // exercising Spark's session_window(col, gapExpr) path ws03's
    // fixed gap never touches — activity-dependent session policies
    // (e.g. content type → dwell allowance) are the production shape.
    // Same sentinel choreography and pushdown-starvation discipline as
    // ws03. Oracle: the running-coverage construction (a session's end
    // is the MAX of member ends; an event merges iff its time is ≤
    // that running max over earlier rows) — the general form ws03's
    // lag-only oracle cannot express once gaps vary per event. The
    // merge boundary is inclusive to match ws03's proven convention;
    // the fixture carries no exact-boundary pair (verified: zero gaps
    // of exactly 5 or 10 min), so both conventions hash identically
    // here either way.
    Q(
      "ws08_dynamic_session",
      """WITH sub AS (
        |  SELECT user_id, epoch_us(ts) AS m FROM events
        |  WHERE event_id % 3 <> 0),
        |g AS (
        |  SELECT user_id, m,
        |    m + CASE WHEN (m // 1000000) % 2 = 0
        |        THEN 300000000 ELSE 600000000 END AS e
        |  FROM sub),
        |mk AS (
        |  SELECT user_id, m, e,
        |    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY m, e
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= m
        |      THEN 0 ELSE 1 END AS new_s
        |  FROM g),
        |ids AS (
        |  SELECT user_id, m, e,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY m, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM mk)
        |SELECT user_id,
        |  make_timestamp(min(m)) AS session_start,
        |  make_timestamp(max(e)) AS session_end,
        |  count(*) AS n_events
        |FROM ids GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
    ) { (s, dir) =>
      // gap rule on the event's OWN time (second parity): cheap,
      // stateless, and visible to the oracle. No key filter in-stream
      // (the ws03 pushdown-starves-watermark trap); nulls drop on the
      // landed batch output.
      val gap = when(
        expr("unix_millis(event_time) DIV 1000") % 2 === 0,
        lit("5 minutes")).otherwise(lit("10 minutes"))
      StreamingWindowGate.run(s, dir, "graft-wmdg",
        df => df
          .groupBy(session_window(col("event_time"), gap),
            expr("try_cast(key AS BIGINT)").as("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events")),
        Seq("user_id", "session_start"))
        .filter(col("user_id").isNotNull)
        .orderBy(col("user_id"), col("session_start"))
    },

    // ---------------------------------------------------------------
    // ws09 — CHAINED windowed aggregations in ONE streaming query
    // (Spark 3.4+ multiple-stateful-operator support): 10-minute
    // tumbling counts, then an hourly rollup (slots / total / max)
    // over the finalized 10-minute results via window_time() — the
    // standard two-level downsampling a metrics pipeline runs, where
    // re-reading the raw stream for the coarse level would double the
    // ingest. Both levels share the source watermark (propagated
    // through the first agg with its window bound); under the ws01
    // sentinel choreography pass 2's advanced watermark finalizes the
    // 10-minute windows AND, in the same micro-batch, the hour
    // windows built from them (downstream late-filtering uses the
    // previous-batch watermark precisely so same-batch cascade works
    // — the SPARK-40925 contract). The sentinel's own windows never
    // finalize at either level. State at 100 TB: level-1 state is
    // bounded by in-flight 10-min windows per key-space, level-2 by
    // in-flight hours — both watermark-evicted; the coarse level's
    // input is PRE-AGGREGATED (6 rows/hour), so the chain costs
    // near-zero extra shuffle.
    Q(
      "ws09_chained_windows",
      """WITH m AS (
        |  SELECT (epoch_ms(ts) // 600000) * 600000 AS w,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_id % 3 <> 0 GROUP BY 1)
        |SELECT make_timestamp((w // 3600000) * 3600000 * 1000) AS window_start,
        |  CAST(count(*) AS BIGINT) AS n_slots,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  CAST(max(n) AS BIGINT) AS max_10min
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      StreamingWindowGate.run(s, dir, "graft-wmch",
        df => df
          .groupBy(window(col("event_time"), "10 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(window_time(col("window")).as("wt"), col("n"))
          .groupBy(window(col("wt"), "1 hour"))
          .agg(count(lit(1)).cast("long").as("n_slots"),
            sum(col("n")).cast("long").as("n_events"),
            max(col("n")).cast("long").as("max_10min"))
          .select(col("window.start").as("window_start"),
            col("n_slots"), col("n_events"), col("max_10min")),
        Seq("window_start"))
    },

    // ---------------------------------------------------------------
    // ws10 — dedup THEN windowed aggregation chained in ONE streaming
    // query: exactly-once metrics over an at-least-once stream. Every
    // message is published TWICE (m10's redelivery shape);
    // dropDuplicatesWithinWatermark on the stable message_id collapses
    // the copies, and the hourly aggregation downstream counts each
    // event ONCE — the oracle aggregates the once-only slice, so a
    // duplicate leaking past the dedup (or a dedup that eats a real
    // row) hash-mismatches the counts. Two different stateful
    // operators compose here (dedup state + agg state; ws09 chained
    // two aggs). Choreography: both copies land in pass 1 under
    // watermark 0 (dedup is state-based, so in-batch duplicates
    // collapse; nothing finalizes); a 2035 sentinel rides along, and
    // pass 2's even-later 2036 sentinel advances the watermark so the
    // real windows — and the first sentinel's own — flush; sentinel
    // windows are filtered on the LANDED output (no watermark exists
    // there to be starved by pushdown, the ws03 lesson). State at
    // 100 TB: dedup state is keyed by message_id and evicted at the
    // watermark delay; agg state by in-flight windows — both bounded.
    Q(
      "ws10_dedup_then_window",
      """SELECT make_timestamp((epoch_ms(ts) // 3600000) * 3600000 * 1000) AS window_start,
        |  count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum
        |FROM events WHERE event_id < 30000
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-dwin")
      val ckpt = graft.TempRoots.create("graft-dwin-ckpt")
      val outDir = root + "/windows"
      val slice = MessageOps.fromEvents(
        Tables(s, dir, "events").filter(col("event_id") < 30000))
      TopicStore.publish(s, slice, root, "events", 4)
      TopicStore.publish(s, slice, root, "events", 4) // the redelivery
      def sentinel(ts: String) = {
        val t = java.sql.Timestamp.valueOf(ts)
        Tables(s, dir, "events").limit(1).select(
          lit("wm-sentinel").as("key"),
          lit("flush").as("value_str"),
          lit(t).as("publish_time"), lit(t).as("event_time"))
      }
      def runPass(): Unit = StreamGate.run(s,
        StreamGate.source(s, root, "events", StreamGate.SingleBatchCap)
          .withWatermark("event_time", "1 hour")
          .dropDuplicatesWithinWatermark("message_id")
          .groupBy(window(col("event_time"), "1 hour"))
          .agg(count(lit(1)).as("n"),
            sum(expr("try_cast(key AS BIGINT)")).as("user_sum"))
          .select(col("window.start").as("window_start"), col("n"),
            col("user_sum"))
          .writeStream
          .outputMode("append")
          .foreachBatch(StreamGate.land(outDir)), ckpt, statePartitions = Some(8))
      TopicStore.publish(s, sentinel("2035-01-01 00:00:00"),
        root, "events", 4)
      runPass()
      TopicStore.publish(s, sentinel("2036-01-01 00:00:00"),
        root, "events", 4)
      runPass()
      BatchLanding.read(s, outDir)
        .filter(col("window_start") < lit("2030-01-01"))
        .orderBy(col("window_start"))
    },

    // ---------------------------------------------------------------
    // d20 — STREAMING near-dup candidate detection: d02's MinHash-LSH
    // blocking as a stateful stream — each document explodes into its
    // 4 band keys, and per band the only state kept is the MINIMUM
    // doc_id ever seen (flatMapGroupsWithState, one long per band): a
    // document is a near-dup CANDIDATE iff some band-mate with a
    // smaller id preceded it. Arrival order is made id order (strictly
    // increasing publish times through the source), and the admission
    // cap forces MULTIPLE micro-batches so the cross-batch state path
    // actually runs; within a batch the group min makes the flag
    // order-independent. The oracle replays the same rule in batch SQL
    // (∃ band-mate with smaller id). Shape at 100 TB: state is one
    // long per DISTINCT band key — not per document — and the flag
    // aggregation happens at read time on the landed rows; a
    // production deployment adds state TTL for band keys idle past
    // the dedup horizon (same eviction posture as chunk reassembly).
    Q(
      "d20_stream_neardup",
      s"""WITH ${DedupQueries.corpusSql},
        |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM corpus),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ws) - 2),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM toks),
        |hs AS (SELECT doc_id,
        |  list_transform(sh, x -> md5('a:' || x)) AS hs0,
        |  list_transform(sh, x -> md5('b:' || x)) AS hs1 FROM sh),
        |sig AS (SELECT doc_id,
        |  list_min(list_transform(hs0, h -> substr(h, 1, 8))) AS mh0,
        |  list_min(list_transform(hs0, h -> substr(h, 9, 8))) AS mh1,
        |  list_min(list_transform(hs0, h -> substr(h, 17, 8))) AS mh2,
        |  list_min(list_transform(hs0, h -> substr(h, 25, 8))) AS mh3,
        |  list_min(list_transform(hs1, h -> substr(h, 1, 8))) AS mh4,
        |  list_min(list_transform(hs1, h -> substr(h, 9, 8))) AS mh5,
        |  list_min(list_transform(hs1, h -> substr(h, 17, 8))) AS mh6,
        |  list_min(list_transform(hs1, h -> substr(h, 25, 8))) AS mh7
        |  FROM hs),
        |bands AS (SELECT doc_id, unnest([
        |    md5(concat_ws('|', '0', mh0, mh1)),
        |    md5(concat_ws('|', '1', mh2, mh3)),
        |    md5(concat_ws('|', '2', mh4, mh5)),
        |    md5(concat_ws('|', '3', mh6, mh7))]) AS band_key FROM sig),
        |flagged AS (
        |  SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
        |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
        |SELECT c.doc_id, f.doc_id IS NOT NULL AS is_candidate
        |FROM corpus c LEFT JOIN flagged f ON c.doc_id = f.doc_id
        |ORDER BY c.doc_id""".stripMargin
    ) { (s, dir) =>
      import graft.operators.DedupOps
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val root = graft.TempRoots.create("graft-sneardup")
      val ckpt = graft.TempRoots.create("graft-sneardup-ckpt")
      val outDir = root + "/flags"
      val corpus = DedupQueries.corpusWithNearDups(Tables(s, dir, "documents"))
      // strictly increasing publish times ⇒ the single-partition log
      // serves docs in id order, so "a smaller id preceded it" is
      // exactly stream order
      TopicStore.publish(s, corpus.select(
          col("doc_id").cast("string").as("key"),
          col("text").as("value_str"),
          expr("timestamp_micros(1700000000000000 + doc_id * 1000000)")
            .as("publish_time")),
        root, "docs", 1)
      // admission sized to ~4 micro-batches at ANY fixture scale: the
      // cross-batch state path is the operator (one big batch would
      // only test the group min), but a FIXED cap turns into O(n/cap)
      // trigger rounds at bigger fixtures — 28 rounds and 13 s at
      // sf0.1 before this, ~3 s after
      val batchCap = math.max(200L,
        TopicStore.partitionMeta(root, "docs", 0)._1 / 4 + 1)
      val q0 = StreamGate.source(s, root, "docs", batchCap)
      // the topic is ONE partition by the ordering contract above, so
      // each micro-batch's source stage is a single task — and the
      // per-doc minhash pipeline below (3-gram explode, 8 md5 mins)
      // would run its entire 30× compute blowup on one core before
      // the groupByKey exchange (round-12 job profile: 1.5-2 s of the
      // ~2 s batch job). Fan the raw (doc_id, text) rows across cores
      // FIRST — the same §2.5 unsplittable-input repair as Par.fan;
      // per-row results are placement-independent and the stateful
      // flag is order-independent within a batch by the group min.
      // At production scale the same gate would still read an
      // intentionally-1-partition ordered log, so the fan is the
      // correct shape there too, moving raw rows once before the
      // blowup (guide §2.3/§2.5).
      val ws = q0.repartition(s.sparkContext.defaultParallelism)
        .select(col("key").cast("long").as("doc_id"),
          DedupOps.words(col("value_str")).as("ws"))
      val sh = ws.select(col("doc_id"),
        array_distinct(DedupOps.shingles(col("ws"), 3)).as("sh"))
      val sig = sh.select(col("doc_id") +:
        DedupOps.minhashSignature(col("sh")): _*)
      val bandKeys = (0 until 4).map(b => DedupOps.bandKey(b,
        Seq(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))))
      val bands = sig.select(col("doc_id"),
        explode(array(bandKeys: _*)).as("band_key"))
      import s.implicits._
      val flagged = bands.as[(Long, String)]
        .groupByKey(_._2)
        .flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (_: String, it: Iterator[(Long, String)],
              state: org.apache.spark.sql.streaming.GroupState[Long]) => {
            val ids = it.map(_._1).toVector
            val prior = state.getOption.getOrElse(Long.MaxValue)
            val mn = math.min(ids.min, prior)
            state.update(mn)
            ids.iterator.map(d => (d, mn < d))
          })
        .toDF("doc_id", "earlier")
      StreamGate.run(s, flagged.writeStream
        .outputMode("append")
        .foreachBatch(StreamGate.land(outDir)), ckpt, statePartitions = Some(8))
      // per-doc flag = any band flagged; the 4 band rows per doc land
      // across whichever batches served them
      BatchLanding.read(s, outDir)
        .groupBy(col("doc_id"))
        .agg(max(col("earlier")).as("is_candidate"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // ws11 — STREAMING drift alarm: q71's PSI running against the live
    // message stream — the deployment that actually catches a score
    // distribution going stale. A static reference profile (the stored
    // first-half bin shares, computed once from the table — the
    // production analog of a persisted baseline) broadcasts onto
    // per-day watermarked tumbling-window bin counts consumed through
    // the `pulsarlike` source; PSI per day window composes AFTER
    // landing from exact counts, with q71's add-one smoothing +
    // round(ln, 6) DECIMAL(28,6) term discipline. Rides ws01's
    // two-pass sentinel choreography, so the oracle counts only the
    // on-time (event_id % 3 <> 0) deliveries — late rows DROP from the
    // day windows and the alarm never double-counts a replay. The
    // message property map (not the payload) carries the score, so the
    // bin projection is content-type-independent. 100 TB: the
    // stream-side state is 10 counters per open day window; the
    // reference is a 10-row broadcast; PSI runs on the bounded
    // (days × 10) table.
    Q(
      "ws11_stream_psi",
      """WITH ref AS (
        |  SELECT least(9, CAST(json_extract(props, '$.k') AS BIGINT)
        |      // 10) AS bin,
        |    count(*) AS r_n
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16' GROUP BY 1),
        |rt AS (SELECT CAST(sum(r_n) + 10 AS BIGINT) AS rtot FROM ref),
        |cur AS (
        |  SELECT make_timestamp((epoch_ms(ts) // 86400000)
        |      * 86400000 * 1000) AS day,
        |    least(9, CAST(json_extract(props, '$.k') AS BIGINT) // 10)
        |      AS bin,
        |    count(*) AS c_n
        |  FROM events
        |  WHERE event_id % 3 <> 0 AND ts >= TIMESTAMP '2024-01-16'
        |  GROUP BY 1, 2),
        |days AS (SELECT day, CAST(sum(c_n) + 10 AS BIGINT) AS ctot
        |  FROM cur GROUP BY day),
        |sp AS (SELECT d.day, b.bin, d.ctot
        |  FROM days d CROSS JOIN
        |    (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT)
        |       AS bin) b),
        |tm AS (
        |  SELECT sp.day,
        |    CAST(round(
        |      (CAST(COALESCE(r.r_n, 0) + 1 AS DOUBLE) / rt.rtot
        |        - CAST(COALESCE(c.c_n, 0) + 1 AS DOUBLE) / sp.ctot)
        |      * ln((CAST(COALESCE(r.r_n, 0) + 1 AS DOUBLE) / rt.rtot)
        |        / (CAST(COALESCE(c.c_n, 0) + 1 AS DOUBLE) / sp.ctot)),
        |      6) AS DECIMAL(28,6)) AS term,
        |    COALESCE(c.c_n, 0) AS c_n
        |  FROM sp
        |  LEFT JOIN cur c ON c.day = sp.day AND c.bin = sp.bin
        |  LEFT JOIN ref r ON r.bin = sp.bin
        |  CROSS JOIN rt)
        |SELECT day, CAST(sum(c_n) AS BIGINT) AS n_cur,
        |  CAST(sum(term) AS DOUBLE) AS psi
        |FROM tm GROUP BY day ORDER BY day""".stripMargin
    ) { (s, dir) =>
      val cutoff = lit("2024-01-16").cast("timestamp")
      // the stored baseline: full first-half bin profile off the table
      val ref = Tables(s, dir, "events")
        .filter(col("ts") < cutoff)
        .groupBy(least(lit(9L),
          expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 10"))
          .as("bin"))
        .agg(count(lit(1)).cast("long").as("r_n"))
      // NO pre-agg filter on the sentinel: Catalyst pushes a
      // deterministic filter BELOW the EventTimeWatermark node, so a
      // properties-based filter would drop the sentinel before the
      // watermark operator collects its 2035 event time and the last
      // day's window never flushes (observed: 14 of 15 days). The
      // sentinel instead rides through the agg as a NULL bin inside
      // its own 2035 window — which never finalizes, so it never
      // lands; try_cast keeps its non-numeric key ANSI-safe (ws01).
      val landed = StreamingWindowGate.run(s, dir, "graft-wpsi",
        df => df
          .groupBy(window(col("event_time"), "1 day"),
            least(lit(9L),
              expr("try_cast(element_at(properties, 'k') AS BIGINT)" +
                " div 10")).as("bin"))
          .agg(count(lit(1)).cast("long").as("c_n"))
          .select(col("window.start").as("day"), col("bin"), col("c_n")),
        Seq("day", "bin"))
        .filter(col("day") >= cutoff)
      val days = landed.groupBy(col("day"))
        .agg((sum(col("c_n")) + 10L).cast("long").as("ctot"))
      val spine = days.crossJoin(
        broadcast(s.range(0, 10).select(col("id").as("bin"))))
      val rt = ref.agg((sum(col("r_n")) + 10L).cast("long").as("rtot"))
      val terms = spine
        .join(landed, Seq("day", "bin"), "left_outer")
        .join(broadcast(ref), Seq("bin"), "left_outer")
        .crossJoin(broadcast(rt))
        .select(col("day"), coalesce(col("c_n"), lit(0L)).as("c_n"),
          ((coalesce(col("r_n"), lit(0L)) + 1L).cast("double")
            / col("rtot")).as("p_ref"),
          ((coalesce(col("c_n"), lit(0L)) + 1L).cast("double")
            / col("ctot")).as("p_cur"))
        .select(col("day"), col("c_n"),
          round((col("p_ref") - col("p_cur"))
              * log(col("p_ref") / col("p_cur")), 6)
            .cast("decimal(28,6)").as("term"))
      terms.groupBy(col("day"))
        .agg(sum(col("c_n")).cast("long").as("n_cur"),
          sum(col("term")).cast("double").as("psi"))
        .orderBy(col("day"))
    },

    // ---------------------------------------------------------------
    // ws12 — STREAMING sequential CUSUM: q95's Page chart running
    // against the live message stream — where ws11 watches the score
    // DISTRIBUTION drift, this watches VOLUME: "on which ingest day
    // did throughput shift, cumulatively by how much". Per-day counts
    // come from 1-day watermarked tumbling windows consumed through
    // the `pulsarlike` source under ws01's two-pass sentinel
    // choreography (the oracle counts only on-time event_id % 3 <> 0
    // deliveries; the late replay drops at the window operator, so a
    // replay can never masquerade as a volume spike — exactly the
    // false-alarm a takedown/backfill day would otherwise mint). The
    // oracle's epoch_ms // 86400000 day key floors where Spark's
    // window() truncates — identical only for ts ≥ epoch, the q95/q97
    // fixture invariant (ADVICE r10; the events fixture is all-2024).
    // The chart composes AFTER landing with q95's exact integer algebra:
    // deviations ×n_days, clamped recursion as prefix-sum minus
    // running-min (and the mirrored downward side), alarm = the exact
    // comparison cusum > 5·s — zero doubles anywhere. 100 TB: stream
    // state is ONE counter per open day window; the post-landing fold
    // runs on the bounded retention-day table (q95's argument).
    Q(
      "ws12_stream_cusum",
      """WITH dd AS (
        |  SELECT make_timestamp((epoch_ms(ts) // 86400000)
        |      * 86400000 * 1000) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE event_id % 3 <> 0 GROUP BY 1),
        |t AS (SELECT CAST(sum(x) AS BIGINT) AS s,
        |        CAST(count(*) AS BIGINT) AS nd FROM dd),
        |p AS (
        |  SELECT day, x, t.s,
        |    CAST(sum(t.nd * x) OVER (ORDER BY day) AS BIGINT)
        |      - CAST(row_number() OVER (ORDER BY day) AS BIGINT) * t.s
        |      AS pp
        |  FROM dd CROSS JOIN t),
        |c AS (
        |  SELECT day, x, s, pp,
        |    least(CAST(0 AS BIGINT), CAST(min(pp) OVER (ORDER BY day)
        |      AS BIGINT)) AS mn,
        |    greatest(CAST(0 AS BIGINT), CAST(max(pp) OVER (ORDER BY day)
        |      AS BIGINT)) AS mx
        |  FROM p)
        |SELECT day, x, pp, pp - mn AS cusum_up, mx - pp AS cusum_dn,
        |  (pp - mn) > 5 * s AS alarm_up,
        |  (mx - pp) > 5 * s AS alarm_dn
        |FROM c ORDER BY day""".stripMargin
    ) { (s, dir) =>
      // the sentinel's 2035 window never finalizes, so it never lands
      val landed = StreamingWindowGate.run(s, dir, "graft-wcusum",
        df => df
          .groupBy(window(col("event_time"), "1 day"))
          .agg(count(lit(1)).cast("long").as("x"))
          .select(col("window.start").as("day"), col("x")),
        Seq("day"))
      val one = landed.agg(
        array_sort(collect_list(struct(col("day"), col("x")))).as("a"),
        sum(col("x")).cast("long").as("s"),
        count(lit(1)).cast("long").as("nd"))
      one
        .select(col("s"), expr(
          """transform(a, (e, i) -> struct(e.day AS day, e.x AS x,
            |  nd * aggregate(slice(a, 1, i + 1), 0L,
            |    (acc, y) -> acc + y.x)
            |  - CAST(i + 1 AS BIGINT) * s AS pp))""".stripMargin)
          .as("pa"))
        .select(col("s"), expr(
          """transform(pa, (e, i) -> struct(e.day AS day, e.x AS x,
            |  e.pp AS pp,
            |  least(0L, aggregate(slice(pa, 1, i + 1),
            |    9223372036854775807L,
            |    (acc, y) -> least(acc, y.pp))) AS mn,
            |  greatest(0L, aggregate(slice(pa, 1, i + 1),
            |    -9223372036854775808L,
            |    (acc, y) -> greatest(acc, y.pp))) AS mx))"""
            .stripMargin).as("ca"))
        .select(col("s"), explode(col("ca")).as("e"))
        .select(col("e.day").as("day"), col("e.x").as("x"),
          col("e.pp").as("pp"),
          (col("e.pp") - col("e.mn")).as("cusum_up"),
          (col("e.mx") - col("e.pp")).as("cusum_dn"),
          ((col("e.pp") - col("e.mn")) > lit(5L) * col("s"))
            .as("alarm_up"),
          ((col("e.mx") - col("e.pp")) > lit(5L) * col("s"))
            .as("alarm_dn"))
        .orderBy(col("day"))
    },

    // ---------------------------------------------------------------
    // ws13 — STREAMING SKETCH-STORE MAINTENANCE: q92's batch store
    // turned into the continuously-maintained summary table the
    // 100 TB ingest story assumes (VERDICT r10 task #6). The events
    // topic is consumed through the `pulsarlike` source in MULTIPLE
    // admission-controlled micro-batches (batchingMaxMessages forces
    // the split at the gate SF); each foreachBatch aggregates ONE
    // batch's per-type theta sketches distributed-side and
    // associatively unions them into the persistent store
    // (SketchOps.mergeThetaIntoStore — tmp-write + swap, so a crash
    // leaves the previous store readable). Exactly-once for the
    // store is STRUCTURAL, not transactional: theta union is set
    // union of retained hash values, so an at-least-once foreachBatch
    // replay re-merges to the identical store — the property that
    // makes distinct-count the right first continuously-maintained
    // leg. The per-type user key is the message KEY (A3's routing
    // key); the event-type group key is the m02 content-type dispatch
    // with the text/plain fallback recovered as the payload's first
    // token. Gate follows q59/q83's sketch pattern: the exact
    // distinct-user counts (one corpus distinct + bounded-key agg)
    // gate value-for-value and the STORE's answers enter through the
    // 3-sigma in_bounds flag — structurally true at the gate SF
    // (< 4096 users/type = theta exact mode) and deterministic at any
    // SF (the retained set is a pure function of the input set).
    // Restart-resume (offsets recovered from the checkpoint, only new
    // messages merged) is pinned in Round11AdditionsSpec.
    Q(
      "ws13_stream_sketch_store",
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(TRUE AS BOOLEAN) AS in_bounds
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-wsketch")
      val ckpt = graft.TempRoots.create("graft-wsketch-ckpt")
      val store = graft.TempRoots.create("graft-wsketch-store") +
        "/sketch_store"
      // sentinel-free topic (this gate has no event-time state, and
      // sentinel users must not enter the sketch), published once per
      // fixture dir and copied per query — the SharedEventsTopic shave
      SharedEventsTopic.copyInto(SharedEventsTopic.basePlain(s, dir),
        root)
      StreamSketchGate.pass(s, root, ckpt, store, 25000L)
      // the sketch side below reads ONLY the store (bounded |types|
      // rows of model state)
      val est = broadcast(s.createDataFrame(
          graft.operators.SketchOps.thetaEstimatesFromStore(s, store, 3))
        .toDF("event_type", "est", "lb", "ub"))
      Tables(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_users"))
        .join(est, Seq("event_type"))
        .select(col("event_type"), col("n_users"),
          (col("n_users").cast("double") >= col("lb") &&
            col("n_users").cast("double") <= col("ub"))
            .as("in_bounds"))
        .orderBy(col("event_type"))
    },

    // ---------------------------------------------------------------
    // ws14 — EXACTLY-ONCE MAINTENANCE OF A NON-IDEMPOTENT LEG: ws13's
    // theta leg is replay-safe by ALGEBRA (set union re-merges to the
    // same store); the KLL quantile leg is not — merging a replayed
    // batch double-counts its updates. ws14 closes that half of the
    // streaming-store story with the idempotent-overwrite pattern:
    // foreachBatch's batchId is deterministic under retry (Structured
    // Streaming replays the SAME id from the checkpointed offset
    // log), so each micro-batch writes its per-type KLL shard to
    // store/batch=<id> with overwrite — a crash-and-replay REPLACES
    // the shard, and the merged answer is a pure function of the
    // committed offset ranges (replay-overwrite and restart-resume
    // pinned in Round11AdditionsSpec). The value column is recovered
    // across ALL five payload modes (JSON/XML/CSV parse via m02
    // dispatch; the text/plain fallback's second token — double→
    // string→double round-trips exactly in Spark). Gate is q92b's
    // ceiling-rank discipline via the shared QuantileRankGate: exact
    // per-type order statistics gate value-for-value, the sharded
    // store's merged estimate enters only through the doubled
    // rank-eps bracket flag (KLL merge preserves the k=200 bound).
    // Shard growth is bounded by SketchOps.compactKllShards (fold all
    // but the newest N shards into a checkpoint shard, tmp+swap
    // crash-safe); the gate itself compacts to checkpoint+1 before
    // answering, so multi-batch SFs prove the fold preserves answers.
    Q(
      "ws14_stream_kll_shards",
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS r,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n
        |  FROM events),
        |qs AS (SELECT * FROM (VALUES (0.25, 1, 4), (0.5, 1, 2),
        |    (0.9, 9, 10)) AS v(q, qn, qd))
        |SELECT event_type, CAST(q AS DOUBLE) AS q, n, value,
        |  CAST(TRUE AS BOOLEAN) AS within_rank_eps
        |FROM qs JOIN r ON r.r = GREATEST(1, (qn * n + qd - 1) // qd)
        |ORDER BY event_type, q""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-wkll")
      val ckpt = graft.TempRoots.create("graft-wkll-ckpt")
      val shards = graft.TempRoots.create("graft-wkll-store") +
        "/kll_shards"
      // sentinel-free shared topic copy (ws13's rationale)
      SharedEventsTopic.copyInto(SharedEventsTopic.basePlain(s, dir),
        root)
      StreamKllShardGate.pass(s, root, ckpt, shards, 25000L)
      // compact to checkpoint+1 BEFORE answering: the gated row rides
      // the compacted store wherever the pass split into multiple
      // batches (sf0.1), proving the fold preserves answers; a no-op
      // at single-batch SFs
      graft.operators.SketchOps.compactKllShards(s, shards, 1)
      // the sketch side below reads ONLY the sharded store
      val eps2 = 2.0 * org.apache.datasketches.kll.KllSketch
        .getNormalizedRankError(200, false)
      val est = broadcast(s.createDataFrame(
          graft.operators.SketchOps.kllQuantilesFromShardedStore(
            s, shards, Seq(0.25, 0.5, 0.9)))
        .toDF("event_type", "q", "estq"))
      QuantileRankGate.gate(Tables(s, dir, "events"), est, eps2)
    }
  )
}

/** ws14's streaming shard-maintenance harness: one AvailableNow pass
  * over the topic at `root`, resuming from `ckpt`'s committed offsets,
  * writing each micro-batch's per-type KLL sketch shard to
  * `shardRoot/batch=<batchId>` (idempotent overwrite — the
  * exactly-once seam for non-idempotent sketch merges). Returns the
  * batch ids written this pass. */
private[queries] object StreamKllShardGate {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  def pass(s: SparkSession, root: String, ckpt: String,
      shardRoot: String, maxPerBatch: Long): Seq[Long] = {
    val batchIds =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[Long]())
    val raw = StreamGate.source(s, root, "events", maxPerBatch)
    val parsed = MessageOps
      .contentTypeDispatch(raw, MessageOps.payloadSchema)
      .select(
        coalesce(col("parsed.event_type"),
          split_part(col("value_str"), lit(" "), lit(1)))
          .as("event_type"),
        coalesce(col("parsed.value").cast("double"),
          expr("try_cast(split_part(value_str, ' ', 2) AS DOUBLE)"))
          .as("value"))
      .filter(col("event_type").isNotNull && col("value").isNotNull)
    StreamGate.run(s, parsed.writeStream
      .outputMode("append")
      .foreachBatch { (df: DataFrame, bid: Long) =>
        graft.operators.SketchOps.writeKllShard(df,
          col("event_type"), col("value"), shardRoot, bid)
        batchIds.add(bid)
        ()
      }, ckpt, statePartitions = Some(8))
    import scala.jdk.CollectionConverters._
    batchIds.asScala.toSeq
  }
}

/** ws13's streaming store-maintenance harness: one AvailableNow pass
  * over the topic at `root`, resuming from `ckpt`'s committed offsets
  * (a second call with the same checkpoint processes only messages
  * published since — the restart-resume contract), merging each
  * micro-batch's per-type theta sketches into the store at
  * `storePath`. Returns the number of merge batches run this pass. */
private[queries] object StreamSketchGate {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  def pass(s: SparkSession, root: String, ckpt: String,
      storePath: String, maxPerBatch: Long): Long = {
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val raw = StreamGate.source(s, root, "events", maxPerBatch)
    val parsed = MessageOps
      .contentTypeDispatch(raw, MessageOps.payloadSchema)
      .select(
        coalesce(col("parsed.event_type"),
          split_part(col("value_str"), lit(" "), lit(1)))
          .as("event_type"),
        expr("try_cast(key AS BIGINT)").as("user_id"))
      .filter(col("event_type").isNotNull && col("user_id").isNotNull)
    StreamGate.run(s, parsed.writeStream
      .outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        graft.operators.SketchOps.mergeThetaIntoStore(df,
          col("event_type"), col("user_id"), storePath)
        batches.incrementAndGet()
        ()
      }, ckpt, statePartitions = Some(8))
    batches.get()
  }
}

/** Shared w05-w08 machinery — stream-stream interval join through
  * the `pulsarlike` source with real 1-hour watermarks. Outer rows only
  * flush when the watermark passes the last possible match time, so:
  * per-side far-future sentinels (parseable payloads, impossible user
  * ids) advance both sides' watermarks past the data horizon, and a
  * second AvailableNow pass on the same checkpoint (fed one more, even
  * later sentinel) guarantees a batch runs after the advance. The 2035
  * sentinels fall below the 2036-advanced watermark on pass two and
  * flush as unmatched outer rows themselves — the landed filter drops
  * negative ids null-safely on BOTH columns (a right-unmatched full
  * outer row carries a null click_id).
  */
/** Round-9 choreography-constant shave (VERDICT Next #7): the five
  * StreamOuterJoinGate queries each published their own full copy of
  * the events topic (fromEvents projection + routed write — the
  * dominant shared setup cost). The topic CONTENT is identical across
  * them, so it is now published ONCE per (session, fixture dir) and
  * each query gets a byte-identical filesystem COPY under its own
  * root — same files, same message ids, same partition routing; the
  * per-query pass-2 sentinel still appends to the private copy, so
  * the two-pass watermark choreography under test is untouched. */
private[queries] object SharedEventsTopic {
  import org.apache.spark.sql.SparkSession
  private val cache = scala.collection.mutable.HashMap.empty[String, String]

  /** Root holding a published-once `events` topic: the full fixture
    * plus the two 2035 per-side watermark sentinels. */
  def base(s: SparkSession, dir: String): String = synchronized {
    cache.getOrElseUpdate(dir, {
      val root = graft.TempRoots.create("graft-soj-base")
      TopicStore.publish(s,
        MessageOps.fromEvents(Tables(s, dir, "events")), root, "events", 4)
      val farFuture = java.sql.Timestamp.valueOf("2035-01-01 00:00:00")
      import s.implicits._
      TopicStore.publish(s,
        Seq(
          ("-1", """{"event_id":-1,"event_type":"click","value":0.0}"""),
          ("-2", """{"event_id":-2,"event_type":"purchase","value":0.0}"""))
          .toDF("key", "value_str")
          .withColumn("publish_time", lit(farFuture))
          .withColumn("event_time", lit(farFuture))
          .withColumn("content_type", lit("application/json")),
        root, "events", 4)
      root
    })
  }

  /** Root holding the StreamingWindowGate pass-1 content: the ON-TIME
    * subset (event_id % 3 <> 0) plus the single 2035 wm-sentinel.
    * Pass 2's late-subset publish stays per-query (it appends to the
    * private copy mid-choreography). */
  def baseOnTime(s: SparkSession, dir: String): String = synchronized {
    cache.getOrElseUpdate("ontime:" + dir, {
      val root = graft.TempRoots.create("graft-wgate-base")
      val events = Tables(s, dir, "events")
      TopicStore.publish(s,
        MessageOps.fromEvents(
          events.filter(pmod(col("event_id"), lit(3)) =!= 0)),
        root, "events", 4)
      val sentinelTs = java.sql.Timestamp.valueOf("2035-01-01 00:00:00")
      import s.implicits._
      TopicStore.publish(s,
        Seq(("wm-sentinel", "flush")).toDF("key", "value_str")
          .withColumn("publish_time", lit(sentinelTs))
          .withColumn("event_time", lit(sentinelTs)),
        root, "events", 4)
      root
    })
  }

  /** Root holding a published-once PLAIN `events` topic — no watermark
    * sentinels (the sketch-store gates ws13/ws14 have no event-time
    * state, and sentinel users/values must not enter the sketches).
    * Same shave rationale as `base`: topic CONTENT is identical across
    * the consumers, so publish once per (session, fixture dir) and
    * hand each query a byte-identical filesystem copy. */
  def basePlain(s: SparkSession, dir: String): String = synchronized {
    cache.getOrElseUpdate("plain:" + dir, {
      val root = graft.TempRoots.create("graft-plain-base")
      TopicStore.publish(s,
        MessageOps.fromEvents(Tables(s, dir, "events")), root, "events", 4)
      root
    })
  }

  /** Recursive file copy of the base topic into a fresh query root. */
  def copyInto(baseRoot: String, root: String): Unit = {
    val src = java.nio.file.Paths.get(baseRoot)
    val dst = java.nio.file.Paths.get(root)
    java.nio.file.Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }
}

private[queries] object StreamOuterJoinGate {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** With `windowAgg` set (w08): the inner join feeds a 1-day tumbling
    * window aggregation INSIDE the same streaming query — Spark's
    * chained-stateful-operator path (join state + agg state, watermark
    * propagated through the join with its interval delay). Sentinels
    * never match, so the agg only ever sees real rows. */
  def run(s: SparkSession, dir: String, tag: String,
      joinType: String, windowAgg: Boolean = false): DataFrame = {
    val root = graft.TempRoots.create(tag)
    val ckpt = graft.TempRoots.create(tag + "-ckpt")
    val outDir = root + "/joined"
    // byte-identical copy of the shared published topic (full events
    // fixture + the two 2035 per-side watermark sentinels — parseable
    // payloads, far-future event time, user ids no real row carries)
    SharedEventsTopic.copyInto(SharedEventsTopic.base(s, dir), root)
    import s.implicits._

    val payloadSchema = MessageOps.payloadSchema
    def side(eventType: String, idAs: String, tsAs: String) = {
      val raw = StreamGate.source(s, root, "events", StreamGate.SingleBatchCap)
      MessageOps.contentTypeDispatch(raw, payloadSchema)
        .filter(col("parsed.event_type") === eventType)
        .select(
          col("parsed.event_id").as(idAs),
          expr("try_cast(key AS BIGINT)").as(s"${idAs}_user"),
          col("event_time").as(tsAs))
        .withWatermark(tsAs, "1 hour")
    }
    def runPass(): Unit = {
      // 4 (not the loops' 8): a stream-stream join carries FOUR state
      // stores per partition per side, so this gate's per-pass setup
      // cost is dominated by store instantiation — 4 partitions
      // halves it while the landed output (then globally sorted) is
      // partition-count independent. The fixture's per-partition state
      // stays trivially small; a production deployment sizes this to
      // volume as usual.
      //
      // noDataMicroBatches OFF for this gate: the choreography
      // explicitly feeds a DATA batch after every watermark advance
      // that matters (pass 2's 2036 sentinel exists for exactly this),
      // so the automatic post-advance empty batch only re-loads and
      // re-commits every state store to flush rows the landed filter
      // discards anyway (the 2035 sentinels' own unmatched-outer
      // rows). Gated output is byte-identical; one full batch of
      // store ceremony per pass is saved.
      val clicks = side("click", "click_id", "click_ts")
      val buys = side("purchase", "buy_id", "buy_ts")
      val joined = clicks.join(buys,
          col("click_id_user") === col("buy_id_user") &&
          col("click_ts") >= col("buy_ts") - expr("INTERVAL 1 HOUR") &&
          col("click_ts") <= col("buy_ts"),
          joinType)
      // a semi join's output carries only the left side's columns
      val projected =
        if (joinType == "left_semi")
          joined.select(col("click_id"),
            col("click_id_user").as("user_id"), col("click_ts"))
        else
          joined.select(col("click_id"), col("buy_id"),
            coalesce(col("click_id_user"), col("buy_id_user")).as("user_id"),
            col("click_ts"), col("buy_ts"))
      val out =
        if (windowAgg)
          projected
            .groupBy(window(col("click_ts"), "1 day"))
            .agg(count(lit(1)).as("n"),
              sum(col("user_id")).as("user_sum"))
            .select(col("window.start").as("window_start"),
              col("n"), col("user_sum"))
        else projected
      StreamGate.run(s, out.writeStream.foreachBatch(StreamGate.land(outDir)),
        ckpt, statePartitions = Some(4),
        conf = Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
    }
    runPass()
    // second pass on the same checkpoint: one more trigger after the
    // watermark advance so pending outer rows flush (a third, later
    // sentinel gives AvailableNow data to run a batch on)
    TopicStore.publish(s,
      Seq(("-1", """{"event_id":-3,"event_type":"click","value":0.0}"""))
        .toDF("key", "value_str")
        .withColumn("publish_time",
          lit(java.sql.Timestamp.valueOf("2036-01-01 00:00:00")))
        .withColumn("event_time",
          lit(java.sql.Timestamp.valueOf("2036-01-01 00:00:00")))
        .withColumn("content_type", lit("application/json")),
      root, "events", 4)
    runPass()
    val landed = BatchLanding.read(s, outDir)
    if (windowAgg)
      landed.orderBy(col("window_start"))
    else if (joinType == "left_semi")
      landed.filter(col("click_id") >= 0).orderBy(col("click_id"))
    else
      landed.filter(
          (col("click_id").isNull || col("click_id") >= 0) &&
          (col("buy_id").isNull || col("buy_id") >= 0))
        .orderBy(col("click_id"), col("buy_id"))
  }
}

/** Shared two-pass watermark gate harness for ws01-ws03 (see ws01's
  * comment for the determinism argument): pass 1 publishes the on-time
  * rows (event_id % 3 <> 0) plus a far-future watermark sentinel and
  * drains it as one micro-batch (watermark 0, everything enters state);
  * pass 2 publishes the late complement — all dropped below the
  * advanced watermark — and flushes the finalized windows. */
private[queries] object StreamingWindowGate {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Progress-derived accounting for one gate run: rows the source
    * delivered (observe() on the pre-watermark stream, summed across
    * both passes) and rows the stateful operators dropped as
    * later-than-watermark (the counter that distinguishes "late data
    * was dropped" from "data loss" in production). */
  final case class Counters(rowsObserved: Long, lateDropped: Long)

  def run(s: SparkSession, dir: String, tag: String,
      agg: DataFrame => DataFrame, orderCols: Seq[String]): DataFrame =
    runCounted(s, dir, tag, agg, orderCols)._1

  def runCounted(s: SparkSession, dir: String, tag: String,
      agg: DataFrame => DataFrame, orderCols: Seq[String])
      : (DataFrame, Counters) = {
    val root = graft.TempRoots.create(tag)
    val ckpt = graft.TempRoots.create(tag + "-ckpt")
    val outDir = root + "/windows"
    val events = Tables(s, dir, "events")
    val sentinelTs = java.sql.Timestamp.valueOf("2035-01-01 00:00:00")
    // ws06's oracled counters (rows_observed = count+1, late_rows_dropped
    // = the full %3 subset) hold only while EVERY fixture event time sits
    // below the sentinel minus the 1 h watermark delay — a far-future
    // fixture would skew them silently, so the assumption fails loudly
    // here instead (single-column max scan, fixture-sized).
    val maxTs = events.agg(max(col("ts"))).head.getTimestamp(0)
    require(maxTs.getTime <= sentinelTs.getTime - 3600L * 1000L,
      s"fixture events reach $maxTs, at or above the $sentinelTs watermark " +
        "sentinel minus the 1 h delay - the gate's drop accounting is " +
        "invalid for this fixture")
    var observed = 0L
    var dropped = 0L
    def runPass(): Unit = {
      // noDataMicroBatches stays ON here, unlike StreamOuterJoinGate:
      // this gate's pass 2 depends on the ADVANCED watermark to DROP
      // the late replay, and the pass-1 no-data batch is what persists
      // that advance for the restart (measured round 9: with it off,
      // every late row landed — 15 of 15 ws11 day rows over-counted).
      // The soj gate survives because its pass 2 only needs outer-row
      // FLUSH, which the commit-log watermark recovery provides.
      val src = StreamGate.source(s, root, "events", StreamGate.SingleBatchCap)
        // observed BEFORE the watermark node: counts every delivered
        // row (late ones included) in the same pass as the work — the
        // per-stage invariant counter a 100 TB job emits for free
        .observe("ingest", count(lit(1)).as("rows_seen"))
        .withWatermark("event_time", "1 hour")
      val q = StreamGate.run(s, agg(src)
        .writeStream
        .outputMode("append")
        .foreachBatch(StreamGate.land(outDir)), ckpt, statePartitions = Some(8))
      q.recentProgress.foreach { p =>
        val om = p.observedMetrics
        if (om.containsKey("ingest")) observed += om.get("ingest").getLong(0)
        dropped += p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      }
    }

    // byte-identical copy of the shared pass-1 topic (on-time subset +
    // the 2035 wm-sentinel); pass 2's late publish appends per query
    SharedEventsTopic.copyInto(
      SharedEventsTopic.baseOnTime(s, dir), root)
    runPass()
    TopicStore.publish(s,
      MessageOps.fromEvents(events.filter(pmod(col("event_id"), lit(3)) === 0)),
      root, "events", 4)
    runPass()
    (BatchLanding.read(s, outDir).orderBy(orderCols.map(col): _*),
      Counters(observed, dropped))
  }
}
