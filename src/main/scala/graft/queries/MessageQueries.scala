package graft.queries

import graft.{Q, Tables}
import graft.operators.MessageOps
import graft.streaming.StreamGate
import org.apache.spark.sql.functions._

/** Batch-expressible forms of the reference's message operators
  * (SURVEY.md §2A) over the deterministic message fixture derived from
  * the `events` table, each with a DuckDB oracle that recomputes the same
  * semantics directly from `events`. The streaming forms live in
  * graft.sources / graft.streaming; these queries are the correctness
  * gate for the shared projection/dispatch/routing logic.
  */
object MessageQueries {

  private val payloadSchema = MessageOps.payloadSchema

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------
    // m01 — A12 metadata projection, incl. the reference's properties→
    // JSON "array of single-entry objects" shape (PulsarUtils.java:144-157).
    Q(
      "m01_metadata_projection",
      """SELECT 'events' AS topic,
        |  '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(user_id AS VARCHAR) AS key,
        |  CAST(event_id % 8 AS INTEGER) AS redelivery_count,
        |  '[{"k":"' || json_extract_string(props, '$.k') || '"}]' AS properties_json
        |FROM events
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      MessageOps.metadataProjection(
          MessageOps.fromEvents(Tables(s, dir, "events")))
        .orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // m02 — A13 content-type dispatch: the payload is serialized into
    // json / xml / csv by content type (with a `; charset` variant to
    // exercise the parameter strip), parsed back by the dispatcher, and
    // the typed fields must round-trip. The oracle reads the original
    // rows straight from events — a payload that failed to round-trip
    // hash-mismatches.
    Q(
      "m02_content_type_dispatch",
      """SELECT event_id, event_type, value,
        |  CASE WHEN event_id % 5 IN (0, 1) THEN 'application/json'
        |       WHEN event_id % 5 = 2 THEN 'application/xml'
        |       ELSE 'text/csv' END AS base_type
        |FROM events
        |WHERE event_id % 5 <> 4
        |ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      MessageOps.contentTypeDispatch(
          MessageOps.fromEvents(Tables(s, dir, "events")), payloadSchema)
        .filter(col("parsed").isNotNull)
        .select(
          col("parsed.event_id").as("event_id"),
          col("parsed.event_type").as("event_type"),
          col("parsed.value").as("value"),
          col("base_type"))
        .orderBy(col("event_id"))
    },

    // ---------------------------------------------------------------
    // m03 — A17 DLQ routing at the reference default maxRedeliverCount=5.
    Q(
      "m03_dlq_split",
      """SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(user_id AS VARCHAR) AS key,
        |  CAST(event_id % 8 AS INTEGER) AS redelivery_count,
        |  CASE WHEN event_id % 8 >= 5 THEN 'dlq' ELSE 'live' END AS route
        |FROM events
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val msgs = MessageOps.fromEvents(Tables(s, dir, "events"))
      val (dead, live) = MessageOps.dlqSplit(msgs, maxRedeliverCount = 5)
      dead.withColumn("route", lit("dlq"))
        .unionByName(live.withColumn("route", lit("live")))
        .select(col("message_id"), col("key"), col("redelivery_count"),
          col("route"))
        .orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // m04 — A21 readCompacted: latest message per key (aggregation form —
    // partial max_by, no sort). Oracle: window in DuckDB.
    Q(
      "m04_read_compacted",
      """SELECT key, message_id, publish_time FROM (
        |  SELECT CAST(user_id AS VARCHAR) AS key,
        |    '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |    ts AS publish_time,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, '0:' || CAST(event_id AS VARCHAR) || ':0:0' DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY key""".stripMargin
    ) { (s, dir) =>
      MessageOps.compactedAgg(MessageOps.fromEvents(Tables(s, dir, "events")))
        .select(col("key"), col("message_id"), col("publish_time"))
        .orderBy(col("key"))
    },

    // ---------------------------------------------------------------
    // m05 — A19 chunk reassembly (batch form): documents are split into
    // 100-char chunks (simulating Pulsar chunked messages), shuffled to
    // their reassembly key, stitched in chunk order, and must equal the
    // original text. The streaming form (out-of-order arrival + expiry)
    // lives in graft.streaming.ChunkReassembly with its own spec.
    Q(
      "m05_chunk_reassembly",
      """SELECT doc_id, count(*) AS n_chunks,
        |  CAST(string_agg(chunk, '' ORDER BY chunk_id) =
        |       min(text) AS BOOLEAN) AS ok
        |FROM (
        |  SELECT doc_id, text, i AS chunk_id, substr(text, CAST((i - 1) * 100 + 1 AS INTEGER), 100) AS chunk
        |  FROM documents CROSS JOIN (SELECT unnest(generate_series(1, 16)) AS i) g
        |  WHERE i <= ceil(length(text) / 100.0))
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val chunks = docs
        .withColumn("chunk_id", explode(sequence(lit(1L),
          ceil(length(col("text")) / 100.0).cast("long"))))
        .withColumn("chunk",
          expr("substr(text, CAST((chunk_id - 1) * 100 + 1 AS INT), 100)"))
      chunks.groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_chunks"),
          (concat_ws("",
            array_sort(collect_list(struct(col("chunk_id"), col("chunk"))))
              .getField("chunk")) === first(col("text"))).as("ok"))
        .orderBy(col("doc_id"))
    },

    // ---------------------------------------------------------------
    // m09 — A13 + §1.4 schema INFERENCE at table creation: the m02
    // round-trip with NO user-supplied payload schema. The topic is
    // published to the store, per-content-type schemas are inferred from
    // a bounded sample of the topic itself (what a user does pointing
    // the engine at an unknown topic), and the consumed messages are
    // dispatched against the inferred schemas. The oracle is the same
    // as m02's — inference must recover types (BIGINT/VARCHAR/DOUBLE)
    // exactly or the typed round-trip hash-mismatches. text/plain rows
    // have no parser (raw fallback) and are excluded on both sides.
    Q(
      "m09_schema_inference",
      """SELECT event_id, event_type, value,
        |  CASE WHEN event_id % 5 IN (0, 1) THEN 'application/json'
        |       WHEN event_id % 5 = 2 THEN 'application/xml'
        |       ELSE 'text/csv' END AS base_type
        |FROM events
        |WHERE event_id % 5 <> 4
        |ORDER BY event_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-infer")
      SharedEventsTopic.publish(s, dir, root)
      val consumed = StreamGate.read(s, root, "events")
      val schemas = MessageOps.inferPayloadSchemas(s, consumed,
        samplePerType = 200, xmlRowTag = "e")
      MessageOps.contentTypeDispatchInferred(consumed, schemas)
        .withColumn("event_id", coalesce(
          col("parsed_json.event_id"), col("parsed_xml.event_id"),
          col("parsed_csv._c0").cast("long")))
        .filter(col("event_id").isNotNull)
        .select(
          col("event_id"),
          coalesce(col("parsed_json.event_type"), col("parsed_xml.event_type"),
            col("parsed_csv._c1")).as("event_type"),
          coalesce(col("parsed_json.value"), col("parsed_xml.value"),
            col("parsed_csv._c2")).cast("double").as("value"),
          col("base_type"))
        .orderBy(col("event_id"))
    },

    // ---------------------------------------------------------------
    // m11 — A1/A2 multi-topic pattern subscribe under the oracle gate:
    // events are split across two topics by type, one `topicsPattern`
    // subscription (no topic list) resolves and serves BOTH, and the
    // union must reproduce every message exactly once with its origin
    // topic attributed. Pattern resolution against the store is
    // re-checked per read (A20 discovery path shares it).
    Q(
      "m11_pattern_subscribe",
      """SELECT CASE WHEN event_type = 'click' THEN 'ev-click'
        |       ELSE 'ev-other' END AS topic,
        |  '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(user_id AS VARCHAR) AS key
        |FROM events
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-pattern")
      val ev = Tables(s, dir, "events")
      graft.sources.TopicStore.publish(s,
        MessageOps.fromEvents(ev.filter(col("event_type") === "click")),
        root, "ev-click", 4)
      graft.sources.TopicStore.publish(s,
        MessageOps.fromEvents(ev.filter(col("event_type") =!= "click")),
        root, "ev-other", 4)
      // a pattern subscription: `topicsPattern` replaces the topic list
      s.read.format("pulsarlike")
        .options(StreamGate.address(root, "") - "topicNames")
        .option("topicsPattern", "ev-.*")
        .load()
        .select(col("topic"), col("message_id"), col("key"))
        .orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // m12 — producer half under the oracle gate: the DSv2 WRITE path
    // (`df.write.format("pulsarlike")` — PulsarLikeSink's task-buffered,
    // commit-time append) publishes the message fixture, and the DSv2
    // batch READ consumes it back. Every message must survive the relay
    // exactly once with identity, key, timestamps, redelivery count and
    // content type intact — a routing bug (writer key-hash vs consumer
    // expectation), a dropped task buffer, or a double append all
    // hash-mismatch against the events-derived oracle. (Payload bytes
    // round-trip is spec-gated in PulsarLikeSinkSpec; the m02 dispatch
    // gate covers payload decode through the shared store.)
    Q(
      "m12_sink_relay",
      """SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(user_id AS VARCHAR) AS key,
        |  ts AS publish_time, ts AS event_time,
        |  CAST(event_id % 8 AS INTEGER) AS redelivery_count,
        |  CASE event_id % 5
        |    WHEN 0 THEN 'application/json'
        |    WHEN 1 THEN 'application/json; charset=utf-8'
        |    WHEN 2 THEN 'application/xml'
        |    WHEN 3 THEN 'text/csv'
        |    ELSE 'text/plain' END AS content_type
        |FROM events
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-relay")
      MessageOps.fromEvents(Tables(s, dir, "events"))
        .write.format("pulsarlike")
        .mode("append") // publish appends to the topic (the only sane producer mode)
        .options(StreamGate.address(root, "relayed"))
        .save()
      StreamGate.read(s, root, "relayed")
        .select(col("message_id"), col("key"), col("publish_time"),
          col("event_time"), col("redelivery_count"), col("content_type"))
        .orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // m13 — EXACTLY-ONCE producer relay under a forced epoch replay
    // (the reference's `enableTransaction` surface,
    // connection/PulsarConnectionSetup.java:125-127, mapped per SURVEY
    // to checkpoint + epoch-idempotent sink): a consume→transform→produce
    // streaming relay runs in several admission-limited epochs, the
    // checkpoint's LAST commit marker is deleted (≙ crash between sink
    // write and checkpoint commit), and a second AvailableNow pass
    // REPLAYS that epoch — with the same epochId over the same offsets.
    // The sink's per-(queryId/writerPartition) epoch high-water must
    // skip the replayed appends: one duplicated message and the count +
    // hash both mismatch. (SinkExactlyOnceSpec proves the same fixture
    // DOES duplicate with enableTransaction off — the replay is real.)
    Q(
      "m13_exactly_once_relay",
      """SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(user_id AS VARCHAR) AS key,
        |  ts AS publish_time, ts AS event_time,
        |  CAST(event_id % 8 AS INTEGER) AS redelivery_count,
        |  CASE event_id % 5
        |    WHEN 0 THEN 'application/json'
        |    WHEN 1 THEN 'application/json; charset=utf-8'
        |    WHEN 2 THEN 'application/xml'
        |    ELSE 'text/csv' END AS content_type
        |FROM events
        |WHERE event_id % 5 <> 4
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      val root = graft.TempRoots.create("graft-xonce")
      val ckpt = root + "/.ckpt"
      graft.sources.TopicStore.publish(s,
        MessageOps.fromEvents(Tables(s, dir, "events")), root, "hop-in", 4)
      // several epochs per pass, so the replayed epoch is a real
      // mid-stream batch, not the whole topic — but a FIXED cap turns
      // into O(n/cap) trigger rounds at bigger fixtures (25 epochs and
      // ~4 s of pure per-epoch ceremony at sf0.1; round-8 had already
      // shaved 2000→4000). Size the cap to ~4 epochs at ANY fixture
      // scale, floored at the round-8 value so sf0.01 keeps its 3
      // epochs — d20's documented admission-sizing pattern. Epoch
      // boundaries don't change the relayed row set (the gate orders
      // by message_id), only how many ceremonies deliver it.
      val hopInLines = (0 until 4).map(p =>
        graft.sources.TopicStore.partitionMeta(root, "hop-in", p)._1).sum
      val epochCap = math.max(4000L, hopInLines / 4 + 1)
      def runPass(): Unit = StreamGate.run(s,
        StreamGate.source(s, root, "hop-in", epochCap)
          // the transform leg: drop text/plain (pushed to the source scan)
          .filter(col("content_type") =!= "text/plain")
          .writeStream
          .format("pulsarlike")
          .options(StreamGate.address(root, "hop-out"))
          .option("enableTransaction", "true"), ckpt)
      runPass()
      graft.streaming.StreamReplay.forceLastEpochReplay(ckpt)
      runPass()
      StreamGate.read(s, root, "hop-out")
        .select(col("message_id"), col("key"), col("publish_time"),
          col("event_time"), col("redelivery_count"), col("content_type"))
        .orderBy(col("message_id"))
    },

    // ---------------------------------------------------------------
    // m14 — the reference's deployment topology end-to-end, broker
    // through: stream-consume the source topic (first subscription),
    // relay through the DSv2 pulsarlike SINK into a second topic, then
    // stream-consume THAT with a fresh downstream subscription and land
    // the result — source semantics (A1/A4/A15), sink routing, and the
    // second consumer's delivery all composed in one oracled query.
    Q(
      "m14_roundtrip",
      """SELECT '0:' || CAST(event_id AS VARCHAR) || ':0:0' AS message_id,
        |  CAST(user_id AS VARCHAR) AS key,
        |  ts AS publish_time,
        |  CAST(event_id % 8 AS INTEGER) AS redelivery_count,
        |  CASE event_id % 5
        |    WHEN 0 THEN 'application/json'
        |    WHEN 1 THEN 'application/json; charset=utf-8'
        |    WHEN 2 THEN 'application/xml'
        |    WHEN 3 THEN 'text/csv'
        |    ELSE 'text/plain' END AS content_type
        |FROM events
        |ORDER BY message_id""".stripMargin
    ) { (s, dir) =>
      import graft.streaming.BatchLanding
      val root = graft.TempRoots.create("graft-roundtrip")
      val ckptRelay = root + "/.ckpt-relay"
      val ckptDown = root + "/.ckpt-down"
      val outDir = root + "/landed"
      graft.sources.TopicStore.publish(s,
        MessageOps.fromEvents(Tables(s, dir, "events")), root, "hop-in", 4)
      // m14 proves TOPOLOGY (source → sink → fresh subscription);
      // multi-epoch cursor advance is m06/m13/ps01's business, so the
      // admission limit only needs to keep the run multi-epoch. The
      // round-8 shave fixed it at 20000 (5 epochs/leg at sf0.1, still
      // per-epoch-ceremony-bound); round 12 sizes it to ~3 epochs/leg
      // at ANY fixture scale (d20's admission-sizing pattern), floored
      // at the round-8 value — epoch boundaries don't change the gated
      // row set (ordered by message_id), only the ceremony count.
      val hopInLines = (0 until 4).map(p =>
        graft.sources.TopicStore.partitionMeta(root, "hop-in", p)._1).sum
      val legCap = math.max(20000L, hopInLines / 3 + 1)
      // leg 1: subscription "sub-relay" consumes hop-in, produces hop-out
      StreamGate.run(s,
        StreamGate.source(s, root, "hop-in", legCap, Some("sub-relay"))
          .writeStream
          .format("pulsarlike")
          .options(StreamGate.address(root, "hop-out"))
          .option("enableTransaction", "true"), ckptRelay)
      // leg 2: a FRESH subscription consumes the produced topic
      StreamGate.run(s,
        StreamGate.source(s, root, "hop-out", legCap, Some("sub-down"))
          .writeStream
          .foreachBatch(StreamGate.land(outDir)), ckptDown)
      BatchLanding.read(s, outDir)
        .select(col("message_id"), col("key"), col("publish_time"),
          col("redelivery_count"), col("content_type"))
        .orderBy(col("message_id"))
    }
  )
}
