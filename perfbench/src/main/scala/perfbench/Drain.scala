package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.operators.MessageOps
import graft.sources.TopicStore
import graft.streaming.{AckingSink, BatchLanding}

/** Closed loop, one consumer. Each round publishes the seeded events
  * table in one `TopicStore.publish(MessageOps.fromEvents(...))`, then
  * drains it with `AvailableNow` passes under `batchingMaxMessages`
  * admission. The sequence is metadataProjection + contentTypeDispatch;
  * parsed rows are relayed through the `pulsarlike` sink and landed
  * through `BatchLanding.land`, and the seeded poison rows are nacked
  * (maxRedeliverCount 3, then the DLQ).
  * Passes repeat until one nacks nothing, i.e. the retry log is
  * empty. Rounds repeat until the run's seconds are used. */
final class Drain(ctx: Ctx) extends Workload {
  import Drain._
  private val spark = ctx.spark
  private var events: DataFrame = _
  private var n = 0L
  private var rootSeq = 0

  private def freshRoot(): String = {
    rootSeq += 1
    val r = s"${ctx.work}/drain-store-$rootSeq"
    Main.deleteTree(r)
    r
  }

  /** Set-up writes the seeded events table to the parquet file every
    * round's publish leg scans. */
  def setup(rep: Int): Unit = {
    val dir = s"${ctx.work}/drain-table-$rep"
    spark.read.parquet(s"${ctx.in}/drain/events.parquet")
      .write.parquet(s"$dir/events.parquet")
    events = graft.Tables(spark, dir, "events")
    n = events.count()
  }

  def measure(tracer: Tracer, obs: Option[(Layers, Progress)]): Phase = {
    val phase = new Phase
    val publishS, consumeS = ArrayBuffer.empty[Double]
    val counters = new Counters
    var deadline = Long.MaxValue
    var round = 0
    val wallT0 = Clock.nowUs
    // the warm-up rounds are checked but not timed into the metrics
    while (round < WarmupRounds + Main.MinTimed ||
        (System.nanoTime() < deadline && round < 50)) {
      if (round == WarmupRounds) {
        deadline = System.nanoTime() + ctx.seconds * 1000000000L
      }
      val root = freshRoot()
      Seq(Topic, RelayTopic, s"$Topic-dlq").foreach(
        TopicStore.ensureNumPartitions(root, _, Partitions))
      val key = s"drain/r$round"
      val outDir = s"${ctx.out}/drain-r$round"
      val startUs = Clock.nowUs
      val t0 = System.nanoTime()
      tracer.span("store.publish", key) {
        TopicStore.publish(spark, MessageOps.fromEvents(events), root, Topic, Partitions)
      }
      val t1 = System.nanoTime()
      val ends = ArrayBuffer.empty[(String, Long)]
      val ok = consume(tracer, root, s"${ctx.work}/drain-ckpt-$rootSeq",
        s"$outDir/landing", key, counters, ends, phase)
      val t2 = System.nanoTime()
      phase.attempted += n
      if (!ok) phase.fail(s"round $round did not drain", n)
      if (round >= WarmupRounds) {
        publishS += (t1 - t0) / 1e9
        consumeS += (t2 - t1) / 1e9
      }
      if (round == 0) counters.dataBytes = TopicStore.partitionIds(root, Topic)
        .map(p => TopicStore.partitionMeta(root, Topic, p)._2).sum
      writeOutputs(root, outDir)
      phase.raw(s"r$round") = Map("start_us" -> startUs,
        "batch_end_us" -> ends.toMap)
      Main.deleteTree(root)
      Main.deleteTree(s"${ctx.work}/drain-ckpt-$rootSeq")
      if (round == WarmupRounds - 1) phase.sampleHeap(spark.sparkContext)
      round += 1
    }
    phase.raw("rounds") = round
    phase.raw("warmup_rounds") = WarmupRounds
    phase.raw("messages") = n
    phase.raw("publish_s") = publishS.toList
    phase.raw("consume_s") = consumeS.toList
    phase.raw("passes") = counters.passes
    phase.raw("retried") = counters.retried
    phase.raw("dead") = counters.dead
    if (tracer.on) {
      val (layers, progress) = obs.get
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      def spanS(name: String) = tracer.named(name).map(_.ms).sum / 1000.0
      def runS(name: String) = layers.layer(name).map(_.runMs).sum / 1000.0
      phase.layers ++= Map(
        "store.publish_s" -> spanS("store.publish"),
        "store.bytes_per_msg" -> counters.dataBytes.toDouble / n,
        "source.scan_task_s" -> runS("source"),
        "sequence.from_events_s" ->
          layers.layer("store.publish").map(_.mapStageRunMs).sum / 1000.0,
        "sequence.dispatch_s" -> spanS("sequence"),
        "sequence.parse_null_rows" -> counters.nullParsed.toDouble,
        "sink.write_s" -> spanS("sink"),
        "sink.rows" -> counters.relayed.toDouble,
        "landing.land_ms_p50" -> Stats.median(tracer.named("landing").map(_.ms)),
        "landing.files" -> (0 until round).map(r =>
          Ingest.countParquet(s"${ctx.out}/drain-r$r/landing")).sum.toDouble,
        "acking.nack_calls" -> counters.nackCalls.toDouble,
        "acking.nack_s" -> spanS("acking"),
        "acking.retried_rows" -> counters.retried.toDouble,
        "acking.dlq_rows" -> counters.dead.toDouble,
        "acking.passes" -> counters.passes.toDouble,
        "acking.first_try_frac" ->
          counters.firstTryOk.toDouble / math.max(1L, counters.firstTry))
      phase.layers ++= progress.metrics
      phase.layers ++= layers.sparkMetrics((Clock.nowUs - wallT0) / 1e6, ctx.cores)
    }
    phase
  }

  /** AvailableNow passes until one adds nothing to the retry log: a
    * pass serves every retry entry appended before it started, so the
    * log is then drained. False if a pass hung, failed, or the retry
    * log never emptied. */
  private def consume(tracer: Tracer, root: String, ckpt: String, landing: String,
      key: String, c: Counters, ends: ArrayBuffer[(String, Long)], phase: Phase): Boolean = {
    var pass = 0
    var retriesAdded = -1L
    while (retriesAdded != 0L && pass < MaxPasses) {
      retriesAdded = 0L
      val p = pass
      val query = spark.readStream.format("pulsarlike")
        .option("path", root).option("serviceUrl", "pulsar://local")
        .option("topicNames", Topic).option("subscriptionName", Sub)
        .option("subscriptionInitialPosition", "Earliest")
        .option("batchingMaxMessages", (n * BatchShare).toLong.toString)
        .load()
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val batchKey = s"$key/p$p/$batchId"
          retriesAdded += sequenceAndRoute(tracer, batch, root, landing, batchId,
            batchKey, c, p == 0)
          ends += (batchKey -> Clock.nowUs)
          ()
        }
        .start()
      val done = Main.withTimeout(spark, 120.0)(query.awaitTermination())
      done.left.foreach(e => phase.errors += s"$key pass $p: $e")
      query.exception.foreach(e => phase.errors += s"$key pass $p: $e")
      if (done.isLeft || query.exception.isDefined) return false
      pass += 1
      c.passes += 1
    }
    retriesAdded == 0L
  }

  /** One micro-batch: materialize it, run the sequence, relay and land
    * the healthy rows and nack the poison ones. Returns the rows nacked
    * into the retry log (the rest of the nacked rows went to the DLQ).
    * The passes of a round share one checkpoint, so `batchId` names one
    * landing directory per batch of the round. */
  private def sequenceAndRoute(tracer: Tracer, batch: DataFrame, root: String,
      landing: String, batchId: Long, key: String, c: Counters,
      firstPass: Boolean): Long = {
    val src = batch.persist()
    try {
      val s = tracer.span("source", key) {
        src.agg(count(lit(1)),
          count(when(col("properties").getItem("retry_at").isNotNull, 1)))
          .head()
      }
      c.retried += s.getLong(1)
      val seq = tracer.span("sequence", key) {
        val meta = MessageOps.metadataProjection(src)
          .select(col("message_id"), col("redelivery_count"), col("properties_json"))
        val parsed = MessageOps.contentTypeDispatch(src, MessageOps.payloadSchema)
          .join(meta, Seq("message_id", "redelivery_count"))
          .withColumn("eid", split_part(col("message_id"), lit(":"), lit(2)).cast(LongType))
          .withColumn("poison", poison(col("eid"), ctx.seed))
          .persist()
        val r = parsed.agg(count(lit(1)),
          count(when(col("parsed").isNull, 1)),
          count(when(col("poison"), 1))).head()
        c.nullParsed += r.getLong(1)
        if (firstPass) { c.firstTry += r.getLong(0); c.firstTryOk += r.getLong(0) - r.getLong(2) }
        parsed
      }
      try {
        val healthy = seq.filter(!col("poison"))
        tracer.span("sink", key) {
          healthy.select(
            col("message_id"), col("key"),
            to_json(struct(
              col("eid").as("event_id"),
              col("parsed.event_type").as("event_type"),
              col("parsed.value").as("value"),
              col("base_type"),
              col("properties_json"),
              lit(key).as("batch"))).as("value_str"),
            col("properties"), col("publish_time"), col("event_time"),
            col("redelivery_count"),
            lit("application/json").as("content_type"))
            .write.format("pulsarlike")
            .option("path", root).option("serviceUrl", "pulsar://local")
            .option("topicNames", RelayTopic).option("batchingMaxMessages", "1000")
            .mode("append").save()
        }
        tracer.span("landing", key) {
          BatchLanding.land(healthy.select(
            col("eid").as("event_id"),
            col("parsed.event_type").as("event_type"),
            col("parsed.value").as("value"),
            col("base_type"), col("redelivery_count"),
            lit(key).as("batch")), landing, batchId)
        }
        val failed = seq.filter(col("poison")).select(src.columns.map(col): _*)
        val (live, dead) = tracer.span("acking", key) {
          c.nackCalls += 1
          AckingSink.nack(spark, failed, root, Topic, subscription = Sub,
            maxRedeliverCount = MaxRedeliver)
        }
        c.dead += dead
        c.relayed += s.getLong(0) - live - dead
        live
      } finally { seq.unpersist(); () }
    } finally { src.unpersist(); () }
  }

  /** (event id, redelivery count) of every message on the relay and
    * DLQ topics, read back with `TopicStore.readEntries` after the round
    * (outside the timed region) for the checks. */
  private def writeOutputs(root: String, dir: String): Unit = {
    def entries(topic: String): Seq[Seq[Long]] = {
      val d = TopicStore.topicDir(root, topic)
      TopicStore.partitionIdsIn(d).flatMap { p =>
        TopicStore.readEntries(d, p, TopicStore.partitionBaseIn(d, p),
          TopicStore.partitionMetaIn(d, p)._1)
      }.map(m => Seq(m.messageId.split(":")(1).toLong, m.redeliveryCount.toLong))
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    Json.write(java.nio.file.Paths.get(dir, "topics.json"),
      Map("relay" -> entries(RelayTopic), "dlq" -> entries(s"$Topic-dlq")))
  }
}

object Drain {
  val Topic = "events"
  val RelayTopic = "relay"
  val Sub = "bench"
  val Partitions = 4
  val MaxRedeliver = 3
  val MaxPasses = 8
  val WarmupRounds = 1
  /** `batchingMaxMessages` admission as a share of a round's messages:
    * at 60% the p50 and p95 ranks of the relayed messages fall inside
    * the first and second batch, not on a batch boundary where a few
    * poison rows would flip them. */
  val BatchShare = 0.6

  final class Counters {
    var passes, nackCalls, retried, dead, relayed, nullParsed = 0L
    var firstTry, firstTryOk = 0L
    var dataBytes = 0L
  }

  /** The sequence's failure rule (same arithmetic as gen.is_poison; the
    * DLQ check compares this side's outcome with the Python rule): about
    * 5% of event ids fail on every delivery. Ids whose first redelivery
    * count (event_id % 8) is 0 never fail, so a round drains in at most
    * two passes: the first, and one retry pass before the DLQ. */
  def poison(eid: Column, seed: Long): Column =
    pmod(eid, lit(8L)) =!= lit(0L) &&
      pmod(eid * lit(2654435761L) + lit(seed * 97L), lit(1000003L)) < lit(57143L)
}
