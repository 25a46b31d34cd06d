package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.MessageOps
import graft.sources.TopicStore
import graft.streaming.BatchLanding

/** Open loop: one generator thread appends small publishes at a fixed
  * offered rate into a live 4-partition topic that already holds some
  * history; one `pulsarlike` stream subscribed at Latest triggers every
  * 100 ms (the reference's poll interval) and lands each batch. Every
  * message is acked by the offset commit.
  *
  * Each message carries its due time as `publish_time`; the landing
  * keeps it, and the end of every foreachBatch is stamped, so latency
  * (due -> landed) is computed after the run from files alone. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val spark = ctx.spark
  private val rate = ctx.param("rate").toDouble
  private val topic = "in"
  private var root: String = _

  // the live messages, built once (encoding is not the engine's work)
  private lazy val live: Array[(Int, TopicStore.Msg)] = {
    val rows = spark.read.parquet(s"${ctx.in}/stream.parquet")
      .select("event_id", "user_id", "event_type", "value", "props")
      .orderBy("event_id").collect()
    rows.map { r =>
      val id = r.getLong(0)
      val body = s"""{"event_id":$id,"event_type":"${r.getString(2)}","value":${r.getDouble(3)}}"""
      val b64 = Base64.getEncoder.encodeToString(body.getBytes(StandardCharsets.UTF_8))
      val key = r.getLong(1).toString
      val k = r.getString(4).replaceAll("[^0-9]", "")
      (TopicStore.route(key, b64, Partitions),
        TopicStore.Msg(null, key, b64, Map("k" -> k), 0L, 0L, 0, "application/json"))
    }
  }

  def setup(rep: Int): Unit = {
    if (root != null) Main.deleteTree(root)
    root = s"${ctx.work}/ingest-store-$rep"
    TopicStore.ensureNumPartitions(root, topic, Partitions)
    val history = graft.Tables(spark, s"${ctx.in}/history", "events")
    TopicStore.publish(spark, MessageOps.fromEvents(history), root, topic, Partitions)
    live.length
  }

  def measure(tracer: Tracer, obs: Option[(Layers, Progress)]): Phase = {
    val phase = new Phase
    val landing = s"${ctx.work}/ingest-landing"
    val ckpt = s"${ctx.work}/ingest-ckpt"
    val ends = new ConcurrentHashMap[Long, Long]()
    val payload = MessageOps.payloadSchema

    val stream = spark.readStream.format("pulsarlike")
      .option("path", root).option("serviceUrl", "pulsar://local")
      .option("topicNames", topic).option("subscriptionName", "bench")
      .option("subscriptionInitialPosition", "Latest")
      .option("batchingMaxMessages", "1000000")
      .load()
    val query = stream.writeStream
      .trigger(Trigger.ProcessingTime(100L))
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        tracer.span("landing", s"ingest/$batchId") {
          val landed = MessageOps.contentTypeDispatch(batch, payload).select(
            col("parsed.event_id").as("event_id"),
            unix_micros(col("publish_time")).as("due_us"))
          BatchLanding.land(landed, landing, batchId)
        }
        ends.put(batchId, Clock.nowUs)
        ()
      }
      .start()

    phase.sampleHeap(spark.sparkContext)
    // Latest pins its start at the first trigger: publish only after it
    val t0Wait = System.nanoTime()
    while (query.lastProgress == null && query.isActive &&
        System.nanoTime() - t0Wait < 60e9.toLong) Thread.sleep(20)
    if (query.lastProgress == null) {
      phase.fail(s"stream never started: ${query.exception.map(_.toString)}")
      query.stop()
      return phase
    }

    // the first warmup_s of publishes warm the stream up: they are
    // checked but their latencies are not reported
    val warmupS = ctx.param("warmup_s").toDouble
    val total = math.min(live.length.toLong, (rate * (warmupS + ctx.seconds)).toLong).toInt
    val lags = ArrayBuffer.empty[Double]
    val metaBytes = ArrayBuffer.empty[Double]
    val t0 = Clock.nowUs + 50000L
    def due(i: Int): Long = t0 + (i * 1e6 / rate).toLong
    val gen = new Thread(() => {
      var next = 0
      var tick = 0L
      while (next < total) {
        val now = Clock.nowUs
        val upto = math.min(total.toLong, ((now - t0) * rate / 1e6).toLong + 1L).toInt
        if (upto > next) {
          lags += (now - due(next)) / 1000.0
          val byPart = (next until upto).groupBy(i => live(i)._1)
          byPart.toSeq.sortBy(_._1).foreach { case (p, idx) =>
            val msgs = idx.map { i =>
              val d = due(i)
              live(i)._2.copy(publishTimeUs = d, eventTimeUs = d)
            }
            tracer.span("store.append", s"ingest/p$p") {
              TopicStore.append(root, topic, p, msgs)
            }
            if (tracer.on) metaBytes +=
              Files.size(TopicStore.topicDir(root, topic).resolve(s"part-$p.meta")).toDouble
          }
          next = upto
        }
        tick += 1
        val sleepUs = t0 + tick * TickUs - Clock.nowUs
        if (sleepUs > 0) Thread.sleep(sleepUs / 1000, ((sleepUs % 1000) * 1000).toInt)
      }
    }, "perfbench-generator")

    tracer.span("stream", "ingest") {
      gen.start()
      gen.join()
      // every published message must land before the query stops
      val caught = Main.withTimeout(spark, 60.0)(query.processAllAvailable())
      caught.left.foreach(e => phase.fail(s"drain after publish: $e"))
      val stopped = Main.withTimeout(spark, 30.0)(query.stop())
      stopped.left.foreach(e => phase.fail(s"stop: $e"))
    }
    query.exception.foreach(e => phase.fail(s"stream failed: $e"))

    phase.attempted = total
    phase.raw("published") = total
    phase.raw("first_due_us") = t0
    phase.raw("measure_from_us") = t0 + (warmupS * 1e6).toLong
    phase.raw("last_due_us") = due(total - 1)
    phase.raw("landing") = landing
    phase.raw("batch_end_us") = ends.asScala.map { case (k, v) => k.toString -> v }.toMap
    if (tracer.on) {
      val (layers, progress) = obs.get
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      val appends = tracer.named("store.append")
      val lands = tracer.named("landing")
      val wallS = (Clock.nowUs - t0) / 1e6
      phase.layers ++= Map(
        "store.append_calls" -> appends.size.toDouble,
        "store.append_ms_p50" -> Stats.median(appends.map(_.ms)),
        "store.append_s" -> appends.map(_.ms).sum / 1000.0,
        "store.meta_bytes_per_append" ->
          (if (metaBytes.isEmpty) 0.0 else metaBytes.sum / metaBytes.size),
        "landing.land_ms_p50" -> Stats.median(lands.map(_.ms)),
        "landing.files" -> countParquet(landing).toDouble,
        "bench.generator_lag_p99_ms" -> Stats.pct(lags, 0.99))
      phase.layers ++= progress.metrics
      phase.layers ++= layers.sparkMetrics(wallS, ctx.cores)
    }
    Main.deleteTree(ckpt)
    phase
  }
}

object Ingest {
  val Partitions = 4
  val TickUs = 20000L

  def countParquet(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(_.toString.endsWith(".parquet")).count() finally st.close()
    }
  }
}
