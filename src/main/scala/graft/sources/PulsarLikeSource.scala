package graft.sources

import java.nio.file.{Files, Paths}
import java.util.Base64
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model._

/** `pulsarlike` — DataSource V2 source reproducing the reference consumer's
  * delivery semantics over the file-backed [[TopicStore]] (SURVEY.md §2A):
  *
  *  - A1 topic-list / A2 regex-pattern subscribe (incl. persistent-only /
  *    non-persistent-only filtering by the `np-` naming convention);
  *  - A4 initial position Latest/Earliest at first subscribe (the
  *    checkpoint — ≙ the durable subscription cursor — wins afterwards);
  *  - A6 poll loop ≙ micro-batch trigger; A9 batch receive ≙ one trigger's
  *    batch; A11 batch admission via SupportsAdmissionControl
  *    (batchingMaxMessages → ReadLimit.maxRows, batchingMaxBytes →
  *    byte-budget rows estimate from store meta);
  *  - A15 ack ≙ offset commit: `commit(end)` fires only after the batch
  *    (incl. foreachBatch) succeeds; a failed batch replays = redelivery;
  *  - A18 receiver-queue bound ≙ per-trigger read limits;
  *  - A20 partition discovery: the topic set and partition counts are
  *    re-resolved in every latestOffset() call;
  *  - A21 readCompacted: the first batch from a fresh subscription serves
  *    the latest-message-per-key snapshot (key-hash routing makes per-key
  *    state partition-local, so compaction is a partition-local pass);
  *  - A22 option surface validated in [[PulsarLikeConf]] at table
  *    creation (analysis time), TLS/auth being validated no-ops locally.
  *
  * Scale posture: one InputPartition per store partition slice — a
  * 1000-executor cluster reads partitions in parallel; latestOffset uses
  * O(partitions) meta reads, never data scans; admission control bounds a
  * trigger so executors can't be flooded (backpressure ≙ receiver queues).
  */
class PulsarLikeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pulsarlike"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PulsarLikeSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = properties.asScala.toMap
    val conf = PulsarLikeConf.fromOptions(opts)   // validation: analysis time
    val root = opts.getOrElse("path",
      throw new IllegalArgumentException(
        "Mandatory parameter 'path' (topic store root) is not set."))
    new PulsarLikeTable(conf, root)
  }
}

object PulsarLikeSource {
  /** Canonical message schema (SURVEY.md §1.4, FIXTURES.md). */
  val schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("message_id", StringType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", BinaryType, nullable = false),
    StructField("value_str", StringType, nullable = true),
    StructField("properties",
      MapType(StringType, StringType, valueContainsNull = false), nullable = false),
    StructField("publish_time", TimestampType, nullable = false),
    StructField("event_time", TimestampType, nullable = true),
    StructField("redelivery_count", IntegerType, nullable = false),
    StructField("content_type", StringType, nullable = true)))

  /** Resolve the subscribed topic set against the store (A1/A2/A20). */
  def resolveTopics(conf: PulsarLikeConf, root: String): Seq[String] = {
    val base = if (conf.topicNames.nonEmpty) {
      conf.topicNames.filter(t =>
        Files.isDirectory(Paths.get(root, t)))
    } else {
      val p = conf.topicsPattern.get.r
      TopicStore.listTopics(root).filter(t => p.pattern.matcher(t).matches())
    }
    conf.subscriptionTopicsMode match {
      case SubscriptionTopicsMode.AllTopics => base
      case SubscriptionTopicsMode.PersistentOnly =>
        base.filterNot(_.startsWith("np-"))
      case SubscriptionTopicsMode.NonPersistentOnly =>
        base.filter(_.startsWith("np-"))
    }
  }
}

class PulsarLikeTable(conf: PulsarLikeConf, root: String)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String =
    s"pulsarlike(${conf.topicNames.mkString(",")}${conf.topicsPattern.getOrElse("")})"
  override def schema(): StructType = PulsarLikeSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.ACCEPT_ANY_SCHEMA).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new PulsarLikeScanBuilder(conf, root)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new PulsarLikeWriteBuilder(conf, root, info)
}

/** Column pruning + filter pushdown (SURVEY.md §4): pruned columns are
  * never materialized into rows, and pushed predicates are evaluated on
  * the decoded message before row assembly — at scale this skips both
  * the base64 payload decode for metadata-only queries and row
  * construction for filtered-out messages. */
class PulsarLikeScanBuilder(conf: PulsarLikeConf, root: String)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownAggregates
    with SupportsPushDownLimit
    with SupportsPushDownTopN {
  import org.apache.spark.sql.sources._

  private var prunedSchema: StructType = PulsarLikeSource.schema
  private var pushed: Array[Filter] = Array.empty
  private var pushedCount = false
  private var pushedLimit: Option[Int] = None
  private var pushedTopN: Option[(Boolean, Int)] = None // (asc, n)

  // both Limit and TopN default this; Scala requires one explicit
  // override when two traits bring the same default method. Always
  // true: partitions serve AT LEAST the requested rows, Spark's own
  // limit / sort+limit sits above.
  override def isPartiallyPushed(): Boolean = true

  /** Top-N ORDER BY publish_time: the per-partition log IS the
    * publish-time order (broker-assigned timestamps — the same
    * precondition the m08 time seek rests on, now TRACKED per
    * partition at append time), so "first N" is the slice head and
    * "latest N" is the slice tail — tail-N of a topic of any size
    * costs N rows per partition, no full scan. Partial pushdown:
    * Spark still merges and limits across partitions. Accepted
    * optimistically; partitions whose meta does NOT prove time order
    * fall back to their whole slice at plan time (more rows, never
    * wrong). Refused where the scan drops rows (filters, compaction,
    * retry reads) or orders by anything else. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    val ok = pushed.isEmpty && !conf.readCompacted && !conf.readRetries &&
      orders.length == 1 && (orders.head.expression() match {
        case nr: NamedReference =>
          nr.fieldNames().sameElements(Array("publish_time"))
        case _ => false
      })
    if (ok) {
      pushedTopN = Some((
        orders.head.direction() == SortDirection.ASCENDING, limit))
      true
    } else false
  }

  /** LIMIT capped per partition slice (partial pushdown — Spark keeps
    * the global limit on top, so each partition only needs to serve AT
    * LEAST min(limit, its slice); capping the slice is exact). Refused
    * whenever the scan itself drops rows and a pre-filter cap could
    * under-serve: pushed filters, compaction, retry reads. */
  override def pushLimit(limit: Int): Boolean = {
    if (pushed.isEmpty && !conf.readCompacted && !conf.readRetries) {
      pushedLimit = Some(limit)
      true
    } else false
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve canonical field order; an empty projection (count(*))
    // keeps zero fields
    val wanted = requiredSchema.fieldNames.toSet
    prunedSchema = StructType(
      PulsarLikeSource.schema.fields.filter(f => wanted.contains(f.name)))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(PulsarLikeFilters.supported)
    pushed = sup
    unsup // Spark re-applies these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT(*) answered from partition METADATA — the msgBacklog trick
    * as a query path: every batch slice is [start, end) per partition
    * with both bounds metadata-computable (meta counts, retention
    * base, and the O(log n) time/offset seeks), so an unfiltered
    * ungrouped count never touches message bytes — O(partitions) meta
    * reads on a topic of ANY size. Partial pushdown: each partition
    * emits its slice length and Spark's final aggregate sums them
    * (complete pushdown would hand Spark a single pre-summed row —
    * partials keep the partition-parallel shape and cost nothing).
    * Refused whenever the count is NOT the slice length: pushed
    * filters, grouping, compaction (visible rows = distinct keys, not
    * slice length), or a retry-log read. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    val countStarOnly = agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head.isInstanceOf[
        org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (countStarOnly && pushed.isEmpty &&
        !conf.readCompacted && !conf.readRetries) {
      pushedCount = true
      true
    } else false
  }

  override def build(): Scan = new Scan
      with SupportsReportStatistics {
    override def readSchema(): StructType =
      if (pushedCount)
        StructType(Seq(StructField("count(*)", LongType, nullable = false)))
      else prunedSchema
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
      // V2ScanRelationPushDown only pushes aggregates into batch scans;
      // guard against a future Spark changing that under us
      require(!pushedCount,
        "aggregate pushdown has no streaming semantics")
      new PulsarLikeMicroBatchStream(conf, root, prunedSchema, pushed)
    }
    // lazy val, not def: Catalyst may call estimateStatistics several
    // times during planning and toBatch once more — each fresh batch
    // would re-list topics and re-read every partition's meta sidecar
    // (plus the O(log n) time seeks), multiplying metadata IO on
    // high-partition topics. One batch per Scan reads metadata once.
    private lazy val batch =
      new PulsarLikeBatch(conf, root, prunedSchema, pushed,
        countOnly = pushedCount, limit = pushedLimit, topN = pushedTopN)
    override def toBatch: Batch = batch
    /** Metadata row/byte stats (exact rows, prorated bytes) — feeds
      * join planning so a small topic auto-broadcasts. */
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      batch.estimateStatistics()
    override def description(): String =
      s"pulsarlike pushedFilters=[${pushed.mkString(", ")}] " +
        s"readSchema=[${prunedSchema.fieldNames.mkString(",")}]" +
        (if (pushedCount) " PushedAggregation=[COUNT(*)]" else "") +
        pushedLimit.map(l => s" PushedLimit=$l").getOrElse("") +
        pushedTopN.map { case (asc, n) =>
          s" PushedTopN=[publish_time ${if (asc) "ASC" else "DESC"}, $n]"
        }.getOrElse("")
  }
}

/** The predicate subset evaluable on a decoded message (metadata fields
  * only — payload predicates stay in Spark). */
object PulsarLikeFilters {
  import org.apache.spark.sql.sources._

  private val cols = Set("topic", "message_id", "key", "redelivery_count",
    "content_type")

  def supported(f: Filter): Boolean = f match {
    case EqualTo(a, _) => cols.contains(a)
    case In(a, _) => cols.contains(a)
    case GreaterThan(a, _) => cols.contains(a)
    case GreaterThanOrEqual(a, _) => cols.contains(a)
    case LessThan(a, _) => cols.contains(a)
    case LessThanOrEqual(a, _) => cols.contains(a)
    case IsNull(a) => cols.contains(a)
    case IsNotNull(a) => cols.contains(a)
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case _ => false
  }

  def eval(f: Filter, topic: String, m: TopicStore.Msg): Boolean = {
    def v(col: String): Any = col match {
      case "topic" => topic
      case "message_id" => m.messageId
      case "key" => m.key
      case "redelivery_count" => m.redeliveryCount
      case "content_type" => m.contentType
    }
    def cmp(col: String, x: Any): Int = (v(col), x) match {
      case (a: Int, b: Number) => java.lang.Integer.compare(a, b.intValue())
      case (a: String, b) =>
        // UTF-8 binary order, NOT String.compareTo (UTF-16 code units):
        // Spark compares strings as UTF8String bytes and trusts pushed
        // filters — the two orders differ for supplementary-plane
        // characters, which would silently drop/keep the wrong rows
        java.util.Arrays.compareUnsigned(
          a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          String.valueOf(b).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      case _ => 0
    }
    f match {
      case EqualTo(a, x) => v(a) != null && v(a) == x
      case In(a, xs) => v(a) != null && xs.contains(v(a))
      case GreaterThan(a, x) => v(a) != null && cmp(a, x) > 0
      case GreaterThanOrEqual(a, x) => v(a) != null && cmp(a, x) >= 0
      case LessThan(a, x) => v(a) != null && cmp(a, x) < 0
      case LessThanOrEqual(a, x) => v(a) != null && cmp(a, x) <= 0
      case IsNull(a) => v(a) == null
      case IsNotNull(a) => v(a) != null
      case And(l, r) => eval(l, topic, m) && eval(r, topic, m)
      case Or(l, r) => eval(l, topic, m) || eval(r, topic, m)
      case _ => true
    }
  }
}

/** Offset = per topic-partition next-line-to-read. Two cursor families:
  * `topic/p` into the main log and `topic/p/retry` into this
  * subscription's retry log (A16) — redelivery progress is subscription
  * state, exactly like a broker cursor, and both advance monotonically. */
case class PulsarLikeOffset(cursors: Map[String, Long]) extends Offset {
  override def json(): String = {
    val m = TopicStore.mapper.createObjectNode()
    cursors.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    TopicStore.mapper.writeValueAsString(m)
  }
}
object PulsarLikeOffset {
  def fromJson(s: String): PulsarLikeOffset = {
    val n = TopicStore.mapper.readTree(s)
    PulsarLikeOffset(n.fields().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap)
  }
  def key(topic: String, p: Int): String = s"$topic/$p"
  def retryKey(topic: String, p: Int): String = s"$topic/$p/retry"
  /** Marker cursor carried in a startingTime initial offset: flags the
    * first batch as a fresh subscription DURABLY (the checkpointed
    * offset, not driver memory), so a crash-restarted batch 0 still
    * serves the compacted snapshot even if the store changed between
    * runs. Stripped from every subsequent offset by latestOffset. */
  val FreshKey: String = "__fresh"
  /** (topic, partition, isRetry) */
  def parse(k: String): (String, Int, Boolean) = {
    val parts = k.split("/")
    if (parts.length == 3 && parts(2) == "retry") (parts(0), parts(1).toInt, true)
    else (parts(0), parts(1).toInt, false)
  }
}

class PulsarLikeMicroBatchStream(conf: PulsarLikeConf, root: String,
    schema: StructType = PulsarLikeSource.schema,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  import PulsarLikeOffset.{key, retryKey, parse}

  // endingTime has no streaming semantics (a subscription has no end);
  // failing here beats a validated option that silently does nothing
  if (conf.endingTimeUs.isDefined)
    throw new IllegalArgumentException(
      "Parameter 'endingTime' bounds BATCH reads only — a streaming " +
        "subscription has no end. Drop it, or use spark.read for a " +
        "time-range read.")
  // message-id seek is the batch Reader surface here; a streaming
  // subscription positions by time or initial position (same
  // fail-loudly rule as endingTime)
  if (conf.startingOffsets.nonEmpty)
    throw new IllegalArgumentException(
      "Parameter 'startingMessageId' positions BATCH reads only — use " +
        "spark.read, or seek a stream with 'startingTime'.")
  // a stream's durable cursor IS the checkpoint (A15); seeding it from
  // the subscription's ack cursor would leave two cursors racing for
  // one subscription (same fail-loudly rule as the seeks above)
  if (conf.startFromSubCursor)
    throw new IllegalArgumentException(
      "Parameter 'startFromSubscriptionCursor' positions BATCH reads " +
        "only — a stream's cursor is its checkpoint. Use spark.read.")

  /** One meta snapshot per cursor key; re-lists topics/partitions
    * (A20). Includes the subscription's retry-log partitions (A16) so
    * nacked messages are re-served through `planInputPartitions` — the
    * main log never grows from a redelivery. */
  private def partitionMetas(): Map[String, TopicStore.PartMeta] = {
    PulsarLikeSource.resolveTopics(conf, root).flatMap { t =>
      val dir = TopicStore.topicDir(root, t)
      val main = TopicStore.partitionIdsIn(dir).map { p =>
        key(t, p) -> TopicStore.PartMeta.read(dir, p)
      }
      val rdir = TopicStore.retryDir(root, t, conf.subscriptionName)
      val retry = TopicStore.partitionIdsIn(rdir).map { p =>
        retryKey(t, p) -> TopicStore.PartMeta.read(rdir, p)
      }
      main ++ retry
    }.toMap
  }

  /** Current end offsets. */
  private def endCursors(): Map[String, Long] =
    partitionMetas().map { case (k, m) => k -> m.count }

  /** How far into a retry partition delivery may advance at `nowMs`:
    * consecutive entries whose `retry_at` has passed. Entries append in
    * nack order, so with a consumer's (constant) nackRedeliveryDelay
    * `retry_at` ascends and the cursor never head-of-line blocks a due
    * entry behind a not-yet-due one. Driver-side, O(pending retries). */
  private def dueRetryEnd(topic: String, p: Int, from: Long, until: Long,
      nowMs: Long): Long = {
    if (until <= from) return from
    val dir = TopicStore.retryDir(root, topic, conf.subscriptionName)
    from + TopicStore.readEntries(dir, p, from, until)
      .iterator
      // unparseable retry_at ⇒ due now (matches MessageOps.dueOnly —
      // a throw here would kill the stream on one corrupted stamp)
      .takeWhile(_.properties.get("retry_at")
        .forall(_.toLongOption.getOrElse(0L) <= nowMs))
      .size
  }

  // Trigger.AvailableNow support: pin the end offsets at query start so
  // repeated admission-limited batches drain exactly to that point
  private var availableNowEnd: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowEnd = Some(endCursors())
  }

  override def initialOffset(): Offset = conf.startingTimeUs match {
    // time-based seek (Reader#seek(timestamp)): main cursors land on
    // the first message with publish_time >= T via the index-guided
    // binary search; a fresh subscription has no retry backlog, so
    // retry cursors start at their base. Overrides initialPosition.
    // The FreshKey marker rides in the checkpointed offset so the
    // first batch is recognized as fresh (readCompacted parity with
    // Earliest and with the batch path) across crash-restarts too.
    case Some(t) =>
      val cur = partitionMetas().map { case (k, m) =>
        val (topic, p, isRetry) = parse(k)
        if (isRetry) k -> m.base
        else k -> TopicStore.seekByTimeIn(TopicStore.topicDir(root, topic), p, t)
      }
      PulsarLikeOffset(cur + (PulsarLikeOffset.FreshKey -> 1L))
    case None => conf.initialPosition match {
      case InitialPosition.Earliest =>
        // Earliest = the retained base (a truncated prefix is gone, like
        // broker retention). The FreshKey marker is durable on EVERY
        // fresh subscription (not just seeks): freshness inferred from
        // cursor==base coincidence would misfire on a caught-up
        // subscription whose prefix was later truncated to exactly the
        // committed cursors, re-compacting (and so dropping) new tail
        // messages mid-subscription.
        // (the base is retention-aware: 0 unless a prefix was truncated)
        PulsarLikeOffset(partitionMetas().map { case (k, m) => k -> m.base }
          + (PulsarLikeOffset.FreshKey -> 1L))
      case InitialPosition.Latest =>
        // NO FreshKey: a Latest subscription never reads the retained
        // prefix — its batch 0 is only the tail published between
        // subscribe and the first trigger, which a real broker delivers
        // UNCOMPACTED (past the compaction horizon). Planting the marker
        // here would silently drop intermediate per-key updates in that
        // window under readCompacted=true.
        PulsarLikeOffset(endCursors())
    }
  }

  override def getDefaultReadLimit: ReadLimit =
    (conf.batchingMaxMessages, conf.batchingMaxBytes) match {
      case (Some(n), _) => ReadLimit.maxRows(n)
      case (None, Some(_)) => ReadLimit.allAvailable() // bytes applied in latestOffset
      case _ => ReadLimit.allAvailable()
    }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  /** A11 batch admission: cap the rows admitted this trigger. maxBytes is
    * applied as a rows budget from the partition's observed bytes/row. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startCur = start.asInstanceOf[PulsarLikeOffset].cursors
    val end = availableNowEnd.getOrElse(endCursors())
    val maxRows: Long = limit match {
      case r: ReadMaxRows => r.maxRows()
      case _ => conf.batchingMaxMessages.getOrElse(Long.MaxValue)
    }
    val maxBytes: Long = conf.batchingMaxBytes.getOrElse(Long.MaxValue)
    var rowBudget = maxRows
    var byteBudget = maxBytes
    val nowMs = System.currentTimeMillis()
    // deterministic partition order; budget consumed in that order
    val admitted = end.toSeq.sortBy(_._1).map { case (k, endRaw) =>
      val s = startCur.getOrElse(k, 0L)
      val (t, p, isRetry) = parse(k)
      val dir = TopicStore.logDir(root, t, conf.subscriptionName, isRetry)
      val m0 = TopicStore.PartMeta.read(dir, p)
      // GC: the committed cursor start means everything below was
      // delivered — reclaim a retry prefix once a full stride
      // accumulated (offsets stay absolute; only storage shrinks), then
      // snapshot the record the truncation left
      val m = if (isRetry && s - m0.base >= TopicStore.IndexStride) {
        TopicStore.truncateRetries(root, t, conf.subscriptionName, p, s)
        TopicStore.PartMeta.read(dir, p)
      } else m0
      // A16: a retry entry is only admissible once its retry_at has
      // passed — the due decision is frozen into the offset here, so
      // replaying the batch from the checkpoint is deterministic
      val endOff = if (isRetry) dueRetryEnd(t, p, s, endRaw, nowMs) else endRaw
      val avail = math.max(0L, endOff - s)
      // bytes/row over the rows still ON DISK: count is the absolute
      // offset count (incl. the truncation-reclaimed prefix) while
      // bytes is the current file size — dividing by count after a GC
      // would underestimate row size ~10x and overshoot the byte cap
      val curRows = m.count - m.base
      val bytesPerRow = if (curRows > 0) math.max(1L, m.bytes / curRows) else 1L
      val byByte = if (byteBudget == Long.MaxValue) avail
        else math.min(avail, byteBudget / bytesPerRow)
      // minimum-one-row floor while budget remains: Pulsar's batch
      // receive always delivers at least one message regardless of the
      // byte cap — without it a cap below one row's size admits 0
      // forever and the stream stalls (AvailableNow would terminate
      // claiming it drained)
      val floor = if (avail > 0 && rowBudget > 0 && byteBudget > 0) 1L else 0L
      val take = math.max(floor, math.min(avail, math.min(rowBudget, byByte)))
      rowBudget -= take
      byteBudget -= take * bytesPerRow
      k -> (s + take)
    }.toMap
    // keep cursors for partitions that vanished from the store listing;
    // the freshness marker must not outlive batch 0
    PulsarLikeOffset((startCur - PulsarLikeOffset.FreshKey) ++ admitted)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PulsarLikeOffset].cursors
    val e = end.asInstanceOf[PulsarLikeOffset].cursors
    // A21: a fresh subscription (start at the retained earliest, or at
    // a startingTime seek — flagged durably by the FreshKey marker in
    // the checkpointed initial offset) with readCompacted serves the
    // latest-per-key snapshot as its first batch
    // marker-only: the cursor==base fallback this once had misfires on
    // caught-up subscriptions after an exact-prefix truncation (see
    // initialOffset). Every initialOffset branch plants the marker, and
    // latestOffset strips it after batch 0, so the marker IS the
    // batch-0 signal — durably, across crash-restarts.
    val fresh = s.get(PulsarLikeOffset.FreshKey).contains(1L)
    e.toSeq.sortBy(_._1).flatMap { case (k, endOff) =>
      val startOff = s.getOrElse(k, 0L)
      if (endOff <= startOff) None
      else {
        val (t, p, isRetry) = parse(k)
        Some(PulsarLikeInputPartition(root, t, p, startOff, endOff,
          compacted = !isRetry && conf.readCompacted && fresh,
          retrySub = if (isRetry) conf.subscriptionName else null))
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PulsarLikeReaderFactory(schema.fieldNames, filters)

  /** A15: ack ≙ offset commit. Only reached after the whole batch —
    * including the user's foreachBatch — succeeded; a failure replays
    * from the checkpoint (redelivery). Cursor durability lives in the
    * checkpoint (≙ the durable subscription), so this is a no-op. */
  override def commit(end: Offset): Unit = ()

  override def deserializeOffset(json: String): Offset =
    PulsarLikeOffset.fromJson(json)
  override def stop(): Unit = ()
}

/** Batch read of the same store (full current range). With
  * `readRetries=true` the batch targets the subscription's retry log
  * instead — the pending-redelivery queue as a DataFrame (A16
  * observability; pair with [[graft.operators.MessageOps.dueOnly]]). */
class PulsarLikeBatch(conf: PulsarLikeConf, root: String,
    schema: StructType = PulsarLikeSource.schema,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    countOnly: Boolean = false,
    limit: Option[Int] = None,
    topN: Option[(Boolean, Int)] = None) extends Batch {

  /** Metadata-computed slice per (topic, partition): (dir, topic, p,
    * start, end, metaCnt, metaBytes) — shared by partition planning
    * and [[estimateStatistics]], so the planner's stats and the
    * actually-served rows can never disagree. A pushed LIMIT caps each
    * slice (every partition can stop at `limit` rows because Spark
    * keeps the global limit on top — partial pushdown).
    *
    * Lazy val, not def: planInputPartitions and estimateStatistics both
    * read it and Catalyst may ask for statistics more than once — one
    * metadata snapshot per Batch both bounds the IO (one topic listing +
    * one meta-sidecar read per partition) and keeps the stats and the
    * served rows consistent even if the topic is appended to mid-plan. */
  private[sources] lazy val slices: Seq[(java.nio.file.Path, String, Int,
      Long, Long, Long, Long)] = {
    PulsarLikeSource.resolveTopics(conf, root).flatMap { t =>
      val dir = TopicStore.logDir(root, t, conf.subscriptionName,
        conf.readRetries)
      TopicStore.partitionIdsIn(dir).map { p =>
        val m = TopicStore.PartMeta.read(dir, p)
        // startingTime bounds a batch read the same way it seeks a
        // stream: slice from the first message at-or-after T. A
        // message-id seek is an absolute per-partition offset instead
        // (INCLUSIVE, clamped to the retention base — Pulsar's
        // "earliest available" behavior for a truncated position;
        // unlisted partitions start at base; a seek past the log end
        // yields an empty slice, never an error). The conf forbids
        // combining the two.
        val base = m.base
        val start = conf.startingTimeUs.filter(_ => !conf.readRetries)
          .map(TopicStore.seekByTimeIn(dir, p, _))
          .orElse(conf.startingOffsets.get(p).filter(_ => !conf.readRetries)
            .map(math.max(_, base)))
          // the subscription's durable cumulative-ack cursor (conf
          // forbids combining with either seek or readRetries); clamped
          // to the retention base like a message-id seek
          .orElse(if (conf.startFromSubCursor)
              Some(math.max(
                TopicStore.subCursor(root, t, conf.subscriptionName, p),
                base))
            else None)
          .getOrElse(base)
        // endingTime is the same seek used as the EXCLUSIVE end: the
        // first offset at-or-after T is exactly where publish_time < T
        // stops (start ≤ end is guaranteed by the conf's range check +
        // seek monotonicity in T)
        val end = conf.endingTimeUs.filter(_ => !conf.readRetries)
          .map(TopicStore.seekByTimeIn(dir, p, _))
          .getOrElse(m.count)
        val capped = limit.map(l => math.min(end, start + l)).getOrElse(end)
        // top-N by publish_time: head (ASC) or tail (DESC) of the
        // slice — ONLY when this partition's meta proves the log is
        // time-sorted; otherwise the whole slice serves (more rows,
        // never wrong — Spark's sort+limit sits above)
        val (s2, e2) = topN match {
          case Some((asc, n)) if m.tsorted =>
            if (asc) (start, math.min(capped, start + n))
            else (math.max(start, capped - n), capped)
          case _ => (start, capped)
        }
        (dir, t, p, s2, e2, m.count, m.bytes)
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    slices.map { case (_, t, p, start, end, _, _) =>
      PulsarLikeInputPartition(root, t, p, start, end,
        compacted = !conf.readRetries && conf.readCompacted,
        retrySub = if (conf.readRetries) conf.subscriptionName else null)
    }.toArray

  /** Planner statistics from the same metadata: exact slice row count,
    * bytes prorated by the served fraction of each partition. This is
    * what lets Catalyst auto-broadcast a SMALL topic against a big
    * table — without it a DSv2 relation defaults to "unknown/huge" and
    * every topic-dim join pays a shuffle. */
  private[sources] def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    var rows = 0L
    var size = 0L
    slices.foreach { case (_, _, _, start, end, cnt, bytes) =>
      val n = math.max(0L, end - start)
      rows += n
      size += (if (cnt > 0) (bytes.toDouble * n / cnt).toLong else 0L)
    }
    val (r, s) = (rows, size)
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(s)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(r)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (countOnly) new PulsarLikeCountReaderFactory
    else new PulsarLikeReaderFactory(schema.fieldNames, filters)
}

/** Pushed-COUNT(*) reader: one row per partition carrying the slice
  * length (endOff − startOff) — both bounds were computed from
  * metadata in planInputPartitions, so no message bytes are read at
  * all. Spark's final aggregate sums the partials. */
class PulsarLikeCountReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val ip = partition.asInstanceOf[PulsarLikeInputPartition]
    new PartitionReader[InternalRow] {
      private var served = false
      override def next(): Boolean = !served && { served = true; true }
      override def get(): InternalRow =
        InternalRow(math.max(0L, ip.endOff - ip.startOff))
      override def close(): Unit = ()
    }
  }
}

/** `retrySub == null` → main log; else that subscription's retry log. */
case class PulsarLikeInputPartition(root: String, topic: String, p: Int,
    startOff: Long, endOff: Long, compacted: Boolean,
    retrySub: String = null) extends InputPartition

class PulsarLikeReaderFactory(fields: Array[String],
    filters: Array[org.apache.spark.sql.sources.Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val ip = partition.asInstanceOf[PulsarLikeInputPartition]
    new PulsarLikePartitionReader(ip, fields, filters)
  }
}

class PulsarLikePartitionReader(ip: PulsarLikeInputPartition,
    fields: Array[String],
    filters: Array[org.apache.spark.sql.sources.Filter])
    extends PartitionReader[InternalRow] {

  private val needsValue =
    fields.contains("value") || fields.contains("value_str")

  // held open for the slice; released in close() (and on exhaustion)
  private var slice: Option[TopicStore.Slice] = None

  /** Lines [startOff, endOff) of the partition file, through the store's
    * locked opener: it seeks to the nearest indexed line ≤ startOff via
    * the meta snapshot's sparse byte index and this iterator skips the
    * remainder — O(slice + IndexStride) I/O per micro-batch instead of
    * O(offset), and Long-safe past 2^31 lines. */
  private def openLines(): Iterator[String] =
    if (ip.endOff <= ip.startOff) Iterator.empty
    else {
      slice = TopicStore.openSlice(TopicStore.logDir(ip.root, ip.topic,
        ip.retrySub, ip.retrySub != null), ip.p, ip.startOff)
      slice.fold(Iterator.empty[String])(_.lines(ip.startOff, ip.endOff))
    }

  private val iter: Iterator[TopicStore.Msg] = {
    val decoded = openLines().map(TopicStore.decode)
    // A21 before filters: compaction must see every message so a pushed
    // predicate can't drop a key's latest and resurrect a superseded one
    // (Spark trusts pushed filters — they are evaluated on the compacted
    // snapshot, exactly what a broker's compacted read would serve)
    val compacted =
      if (!ip.compacted) decoded
      else {
        // latest per key within the slice — correct globally because key
        // routing pins a key to one partition; keyless messages pass through
        val seen = new java.util.LinkedHashMap[String, TopicStore.Msg]()
        val keyless = Vector.newBuilder[TopicStore.Msg]
        decoded.foreach { m =>
          if (m.key == null) keyless += m else seen.put(m.key, m)
        }
        (seen.values().asScala ++ keyless.result()).iterator
      }
    if (filters.isEmpty) compacted
    else compacted.filter(m => filters.forall(f =>
      PulsarLikeFilters.eval(f, ip.topic, m)))
  }

  private var cur: TopicStore.Msg = _

  override def next(): Boolean = {
    if (iter.hasNext) { cur = iter.next(); true } else false
  }

  override def get(): InternalRow = {
    // pruned assembly: only requested fields are materialized, and the
    // base64 payload decode is skipped entirely for metadata-only reads
    lazy val value = Base64.getDecoder.decode(cur.valueB64)
    val cells: Array[Any] = fields.map {
      case "topic" => UTF8String.fromString(ip.topic)
      case "message_id" => UTF8String.fromString(cur.messageId)
      case "key" =>
        if (cur.key == null) null else UTF8String.fromString(cur.key)
      case "value" => value
      case "value_str" => if (needsValue) UTF8String.fromBytes(value) else null
      case "properties" =>
        val props = cur.properties.toSeq
        ArrayBasedMapData(
          props.map(p => UTF8String.fromString(p._1)).toArray,
          props.map(p => UTF8String.fromString(p._2)).toArray)
      case "publish_time" => cur.publishTimeUs
      case "event_time" =>
        if (cur.eventTimeUs == 0L) null
        else java.lang.Long.valueOf(cur.eventTimeUs)
      case "redelivery_count" => cur.redeliveryCount
      case "content_type" =>
        if (cur.contentType == null) null
        else UTF8String.fromString(cur.contentType)
    }
    InternalRow(cells: _*)
  }

  override def close(): Unit = slice.foreach(_.close())
}
