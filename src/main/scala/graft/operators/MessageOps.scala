package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's per-message dataflow operators (SURVEY.md §2A),
  * re-expressed as Catalyst-native transformations over the canonical
  * message schema (FIXTURES.md §1). All pure projections/dispatches — no
  * UDFs, everything stays inside whole-stage codegen.
  *
  * Reference behaviors reproduced:
  *  - metadata projection (A12): PulsarUtils.java:121-130
  *  - properties→JSON array of single-entry objects (A12): PulsarUtils.java:144-157
  *  - content-type dispatch with `;`-param strip and raw fallback (A13):
  *    PulsarMessageConsumer.java:505-529
  *  - DLQ split at maxRedeliverCount, default 5 (A17):
  *    PulsarMessageConsumer.java:295-304
  *  - compacted read = latest message per key (A21):
  *    PulsarMessageConsumer.java:346-352
  */
object MessageOps {

  /** Canonical message schema (FIXTURES.md §1). */
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("message_id", StringType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", BinaryType, nullable = false),
    StructField("value_str", StringType, nullable = true),
    StructField("properties", MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("publish_time", TimestampType, nullable = false),
    StructField("event_time", TimestampType, nullable = true),
    StructField("redelivery_count", IntegerType, nullable = false),
    StructField("content_type", StringType, nullable = true)))

  /** Content types cycled deterministically over the events fixture;
    * index 1 carries `; charset=utf-8` to exercise the reference's
    * parameter strip (PulsarMessageConsumer.java:518-519). */
  private val contentTypes = Seq(
    "application/json", "application/json; charset=utf-8",
    "application/xml", "text/csv", "text/plain")

  /** The (event_id, event_type, value) payload struct every fromEvents
    * body serializes — the ONE schema all dispatch call sites parse
    * with (a drifted hand-copy would silently parse a partial struct
    * and only fail at driver-verify time). */
  val payloadSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))

  /** Publish the `events` table into the canonical message shape — the
    * deterministic fixture used by message-op queries and the topic store.
    * `redelivery_count = event_id % 8` is a synthetic stand-in so DLQ
    * routing has non-trivial input (a real stream starts at 0 and the
    * source's requeue state increments it). */
  def fromEvents(events: DataFrame): DataFrame = {
    val payload = concat(
      lit("""{"event_id":"""), col("event_id"),
      lit(""","event_type":""""), col("event_type"),
      lit("""","value":"""), col("value").cast("string"),
      lit("}"))
    val xmlPayload = concat(
      lit("<e><event_id>"), col("event_id"),
      lit("</event_id><event_type>"), col("event_type"),
      lit("</event_type><value>"), col("value").cast("string"),
      lit("</value></e>"))
    val csvPayload = concat(
      col("event_id"), lit(","), col("event_type"), lit(","),
      col("value").cast("string"))
    val mode = pmod(col("event_id"), lit(5))
    val body = when(mode.isin(0, 1), payload)
      .when(mode === 2, xmlPayload)
      .when(mode === 3, csvPayload)
      .otherwise(concat(col("event_type"), lit(" "), col("value").cast("string")))
    // Par.fan BELOW the payload projection (round 12): every publish
    // leg feeds a one-file fixture scan into this select, so the
    // JSON/XML/CSV body construction + get_json_object ran as ONE task
    // ahead of the store's partition-routing exchange (0.3-0.9 s
    // single-task jobs on each gate's publish legs in the round-12 job
    // profile). Fanning the raw event rows first moves only the base
    // bytes once and builds payloads on all cores; the store's
    // per-partition (publish_time, message_id) sort makes the published
    // bytes byte-identical. Size-guarded: identity at production scale.
    graft.operators.Par.fan(events).select(
      lit("events").as("topic"),
      concat(lit("0:"), col("event_id"), lit(":0:0")).as("message_id"),
      col("user_id").cast("string").as("key"),
      body.cast("binary").as("value"),
      body.as("value_str"),
      map(lit("k"), get_json_object(col("props"), "$.k")).as("properties"),
      col("ts").as("publish_time"),
      col("ts").as("event_time"),
      pmod(col("event_id"), lit(8)).cast("int").as("redelivery_count"),
      element_at(
        typedLit(contentTypes), (pmod(col("event_id"), lit(5)) + 1).cast("int"))
        .as("content_type"))
  }

  /** A12 — metadata projection. Reproduces the reference's message-context
    * population, including the properties map serialized as a JSON array
    * of single-entry objects: `[{"k1":"v1"},{"k2":"v2"}]`
    * (PulsarUtils.java:144-157). Built-ins only:
    * map → entries → one single-key map per entry → to_json. */
  def metadataProjection(messages: DataFrame): DataFrame =
    messages.select(
      col("topic"), col("message_id"), col("key"), col("redelivery_count"),
      to_json(transform(map_entries(col("properties")),
        e => map(e.getField("key"), e.getField("value"))))
        .as("properties_json"))

  /** A13 — content-type-dispatched parse. MIME parameters after `;` are
    * stripped (reference: `contentType.split(";")[0].trim()`), the base
    * type selects the parser, and unknown types fall through to a raw
    * passthrough (our analog of the reference's SOAPBuilder fallback).
    * Returns the messages with a `base_type` and a parsed struct per
    * supported type. */
  def contentTypeDispatch(messages: DataFrame, payloadSchema: StructType): DataFrame = {
    val base = trim(split_part(col("content_type"), lit(";"), lit(1)))
    val csvOpts = Map[String, String]()
    messages
      .withColumn("base_type", base)
      .withColumn("parsed",
        when(col("base_type") === "application/json",
          from_json(col("value_str"), payloadSchema))
        .when(col("base_type") === "application/xml",
          from_xml(col("value_str"), payloadSchema))
        .when(col("base_type") === "text/csv",
          from_csv(col("value_str"), payloadSchema, csvOpts)))
  }

  /** §1.4 — per-content-type payload schema inference at table creation
    * (the "point the engine at an unknown topic" path): sample up to
    * `samplePerType` payloads per base type from the messages (typically
    * a bounded batch read of the topic the stream is about to subscribe
    * to) and infer a StructType per supported type with Spark's OWN
    * samplers (`spark.read.json/csv/xml` over a Dataset[String]) — the
    * sampling and inference run distributed, nothing but the schemas
    * reaches the driver. Types with no sampled payloads are absent from
    * the result, and [[contentTypeDispatchInferred]] leaves them null —
    * the raw fallback, as in the reference's dispatcher
    * (PulsarMessageConsumer.java:505-529).
    *
    * Deliberately NOT wired into the DSv2 source's inferSchema: the
    * source's contract is the canonical message schema, and parsing
    * belongs downstream in Catalyst (from_json/from_xml/from_csv stay
    * inside whole-stage codegen; a payload-parsing PartitionReader would
    * not). */
  def inferPayloadSchemas(spark: org.apache.spark.sql.SparkSession,
      messages: DataFrame, samplePerType: Int = 100,
      xmlRowTag: String = "e"): Map[String, StructType] = {
    import spark.implicits._
    val withBase = messages.withColumn("base_type",
      trim(split_part(col("content_type"), lit(";"), lit(1))))
    def sample(t: String) =
      withBase.filter(col("base_type") === t && col("value_str").isNotNull)
        .select(col("value_str")).limit(samplePerType).as[String]
    def infer(t: String)(f: org.apache.spark.sql.Dataset[String] => StructType)
        : Option[(String, StructType)] = {
      val s = sample(t)
      if (s.isEmpty) None else Some(t -> f(s))
    }
    (infer("application/json")(ds => spark.read.json(ds).schema) ++
      infer("application/xml")(ds =>
        spark.read.option("rowTag", xmlRowTag).xml(ds).schema) ++
      infer("text/csv")(ds =>
        spark.read.option("inferSchema", "true").csv(ds).schema)).toMap
  }

  /** A13 with inferred (per-type) schemas: same `;`-strip and dispatch as
    * [[contentTypeDispatch]], but each base type parses against its own
    * inferred StructType into `parsed_json` / `parsed_xml` / `parsed_csv`
    * (inferred schemas differ across types — CSV has positional `_c*`
    * names — so one shared struct column can't hold them). Types without
    * an inferred schema stay null = raw passthrough. */
  def contentTypeDispatchInferred(messages: DataFrame,
      schemas: Map[String, StructType]): DataFrame = {
    val base = trim(split_part(col("content_type"), lit(";"), lit(1)))
    def parsed(t: String, f: StructType => Column): Column =
      schemas.get(t).map(sch => when(col("base_type") === t, f(sch)))
        .getOrElse(lit(null))
    messages
      .withColumn("base_type", base)
      .withColumn("parsed_json", parsed("application/json",
        sch => from_json(col("value_str"), sch)))
      .withColumn("parsed_xml", parsed("application/xml",
        sch => from_xml(col("value_str"), sch)))
      .withColumn("parsed_csv", parsed("text/csv",
        sch => from_csv(col("value_str"), sch, Map.empty[String, String])))
  }

  /** A16 — redelivery pacing: keep only messages that are due — fresh
    * deliveries (no `retry_at` property) or redeliveries whose
    * `retry_at` (epoch millis, stamped by AckingSink.nack with the
    * nackRedeliveryDelay) has passed `asOf`. The not-yet-due complement
    * stays on the topic for a later trigger — the consumer-side half of
    * negativeAckRedeliveryDelay (PulsarMessageConsumer.java:354-356). */
  def dueOnly(messages: DataFrame, asOf: Column = current_timestamp()): DataFrame =
    // try_cast: a corrupted/non-numeric retry_at stamp must make the
    // message due NOW (at-least-once bias — a plain cast would throw
    // under ANSI, and a null-producing cast would park it forever)
    messages.filter(
      col("properties").getItem("retry_at").isNull ||
      expr("try_cast(properties['retry_at'] AS BIGINT)").isNull ||
      expr("try_cast(properties['retry_at'] AS BIGINT)") <= unix_millis(asOf))

  /** A17 — DLQ routing: messages at or past `maxRedeliverCount` (reference
    * default 5) go to the dead-letter sink, the rest stay live. One pass,
    * no shuffle — the split is a pair of complementary filters over the
    * same scan (Spark reuses the exchange under AQE). */
  def dlqSplit(messages: DataFrame, maxRedeliverCount: Int = 5): (DataFrame, DataFrame) = {
    val dead = messages.filter(col("redelivery_count") >= maxRedeliverCount)
    val live = messages.filter(col("redelivery_count") < maxRedeliverCount)
    (dead, live)
  }

  /** A21 — readCompacted snapshot: latest message per key, by
    * (publish_time, message_id). A partial (map-side) max_by per key, so
    * no sort of the full data. Broker parity (and the source reader's
    * behavior): compaction collapses KEYED messages only — unkeyed
    * messages all survive. */
  def compactedAgg(messages: DataFrame): DataFrame = {
    val ordering = struct(col("publish_time"), col("message_id"))
    messages.filter(col("key").isNotNull)
      .groupBy(col("key"))
      .agg(max_by(struct(messages.columns.map(col): _*), ordering).as("m"))
      .select(col("m.*"))
      .unionByName(messages.filter(col("key").isNull))
  }
}
