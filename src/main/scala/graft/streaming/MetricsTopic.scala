package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.TopicStore

/** Observability as a queryable surface (the ops-console role the
  * reference delegates to its MI dashboard): every micro-batch's
  * `StreamingQueryProgress` lands as ONE message in a metrics topic,
  * readable through the same batch source as any other topic — so lag /
  * throughput / state-size / watermark-drop dashboards are ordinary
  * queries over ordinary topics, joinable to the data they describe.
  *
  * The listener appends driver-side via TopicStore.append (one file
  * append per micro-batch, no Spark job — progress events are driver
  * objects already); key = "queryId/batchId", payload = flat JSON,
  * content_type = application/json, so m09-style schema inference and
  * [[MetricsTopic.read]]'s typed parse both work on it.
  *
  * 100 TB posture: metrics volume is O(micro-batches), unrelated to data
  * volume; one partition suffices and the topic participates in the
  * store's retention/truncation like any other.
  */
object MetricsTopic {

  /** Flat projection of the progress fields a pipeline operator alerts
    * on. `state_rows`/`dropped_by_watermark` sum across stateful
    * operators; watermark is epoch millis (-1 when unset). */
  private def progressJson(e: StreamingQueryListener.QueryProgressEvent): String = {
    val p = e.progress
    val stateRows = p.stateOperators.map(_.numRowsTotal).sum
    val dropped = p.stateOperators.map(_.numRowsDroppedByWatermark).sum
    val wm = Option(p.eventTime.get("watermark"))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(-1L)
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    s"""{"query_id":"${p.id}","run_id":"${p.runId}","batch_id":${p.batchId},""" +
      s""""num_input_rows":${p.numInputRows},""" +
      s""""input_rows_per_second":${num(p.inputRowsPerSecond)},""" +
      s""""processed_rows_per_second":${num(p.processedRowsPerSecond)},""" +
      s""""state_rows":$stateRows,"dropped_by_watermark":$dropped,""" +
      s""""watermark_ms":$wm}"""
  }

  /** A listener publishing every progress event to `topic` under
    * `root`. Register with `spark.streams.addListener`; detach with
    * `removeListener` when the gated query finishes. */
  final class Publisher(root: String, topic: String)
      extends StreamingQueryListener {
    TopicStore.ensureNumPartitions(root, topic, 1)

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val json = progressJson(e)
      val nowUs = e.progress.timestamp match {
        case null => System.currentTimeMillis() * 1000L
        case ts => java.time.Instant.parse(ts).toEpochMilli * 1000L
      }
      TopicStore.append(root, topic, 0, Seq(TopicStore.Msg(
        messageId = null,
        key = s"${e.progress.id}/${e.progress.batchId}",
        valueB64 = java.util.Base64.getEncoder
          .encodeToString(json.getBytes("UTF-8")),
        properties = Map("query_name" ->
          Option(e.progress.name).getOrElse("")),
        publishTimeUs = nowUs, eventTimeUs = nowUs,
        redeliveryCount = 0, contentType = "application/json")))
    }
  }

  def attach(spark: SparkSession, root: String, topic: String): Publisher = {
    val l = new Publisher(root, topic)
    spark.streams.addListener(l)
    l
  }

  def detach(spark: SparkSession, l: Publisher): Unit =
    spark.streams.removeListener(l)

  /** Typed batch read of a metrics topic — the dashboard's input. */
  def read(spark: SparkSession, root: String, topic: String): DataFrame = {
    val schema = "query_id string, run_id string, batch_id long, " +
      "num_input_rows long, input_rows_per_second double, " +
      "processed_rows_per_second double, state_rows long, " +
      "dropped_by_watermark long, watermark_ms long"
    StreamGate.read(spark, root, topic)
      .select(col("publish_time"), from_json(col("value_str"),
        org.apache.spark.sql.types.StructType.fromDDL(schema)).as("m"))
      .select(col("publish_time"), col("m.*"))
  }
}
