package graft.sources

import java.io.BufferedReader
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.Base64
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** File-backed topic store — the local stand-in for the external broker
  * (SURVEY.md §7: the broker is out of scope; its *semantics* are
  * reproduced over this store).
  *
  * Layout: `<root>/<topic>/part-<p>.jsonl` (one JSON message per line,
  * line number = offset) + `part-<p>.meta`, the [[PartMeta]] record
  * (`{"count","bytes","base","maxPt","tsorted","index","txn"}`), so the
  * streaming source's `latestOffset()` never scans data files.
  * `part-<p>.lock` is the partition lock (`withPartitionLock`).
  *
  * Messages are routed to partitions by key hash (Pulsar's key routing):
  * a key lives in exactly one partition, which is what makes per-key
  * operations (compacted reads A21, Key_Shared ordering A3) local to a
  * partition. Null/empty keys round-robin via a message hash.
  *
  * Topics whose name starts with `np-` are treated as non-persistent for
  * `subscriptionTopicsMode` filtering (A2) — a naming convention standing
  * in for Pulsar's persistent:// / non-persistent:// schemes.
  */
object TopicStore {

  val mapper = new ObjectMapper()

  /** Every `IndexStride`-th line's byte offset is recorded in the meta
    * sidecar, so a reader starting at offset N seeks to the nearest
    * indexed line and skips at most `IndexStride - 1` lines — O(slice)
    * per read instead of O(offset), and safe past 2^31 lines. */
  val IndexStride: Long = 4096L

  final case class Msg(
      messageId: String, key: String, valueB64: String,
      properties: Map[String, String], publishTimeUs: Long,
      eventTimeUs: Long, redeliveryCount: Int, contentType: String)

  def topicDir(root: String, topic: String): Path = Paths.get(root, topic)

  /** Per-subscription redelivery queue (A16) — lives beside the topic's
    * partition files, same layout, never listed as a topic. A nacked
    * message is appended here (with `retry_at` in properties) instead of
    * re-published to the main log: the log holds each message once, like
    * the broker, and redelivery is subscription state. */
  def retryDir(root: String, topic: String, sub: String): Path =
    topicDir(root, topic).resolve(s".retry-$sub")

  /** A topic's main log, or with `retry` subscription `sub`'s retry log
    * of it. */
  def logDir(root: String, topic: String, sub: String, retry: Boolean): Path =
    if (retry) retryDir(root, topic, sub) else topicDir(root, topic)

  def listTopics(root: String): Seq[String] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) Seq.empty
    else {
      // Files.list wraps an open DirectoryStream — close it or the
      // driver leaks a dirfd per trigger (endCursors lists every topic
      // every micro-batch)
      val st = Files.list(r)
      try st.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filterNot(_.startsWith("."))
        .toSeq.sorted
      finally st.close()
    }
  }

  /** Existing partition ids (sparse — a partition file only exists once
    * something was routed to it). */
  def partitionIds(root: String, topic: String): Seq[Int] = partitionIdsIn(topicDir(root, topic))

  def partitionIdsIn(d: Path): Seq[Int] = {
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val st = Files.list(d)
      try st.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.matches("part-\\d+\\.jsonl") =>
          s.stripPrefix("part-").stripSuffix(".jsonl").toInt }
        .toSeq.sorted
      finally st.close()
    }
  }

  /** One partition's meta sidecar, `part-<p>.meta`, decoded. Appends
    * and truncations build the next value by `copy`; [[PartMeta.read]]
    * is its one decoder and [[PartMeta.encode]] its one encoder.
    *
    *  - `count`: the absolute end offset (lines ever committed).
    *  - `bytes`: committed bytes of the current data file.
    *  - `base`: absolute offset of the file's first line — non-zero once
    *    a prefix was reclaimed (retry-log GC, topic retention).
    *  - `maxPt`, `tsorted`: the publish-time high-water (µs) and whether
    *    every append so far arrived in non-decreasing publish-time order
    *    — the precondition the m08 time seek's binary search and the
    *    top-N slice cap rest on. Tracked at APPEND time and sticky false
    *    once violated, so consumers refuse the optimization instead of
    *    silently mis-seeking.
    *  - `index`: the sparse (line, byteOffset) index, ascending, one
    *    entry per `IndexStride` lines. Lines are ABSOLUTE offsets; bytes
    *    are positions in the current file.
    *  - `txn`: producer-transaction high-waters, token
    *    ("queryId/writerPartition") → highest epochId whose append was
    *    applied here. See [[appendIn]]'s txn parameter.
    *
    * The defaults are a partition with no meta file: empty, trivially
    * sorted. A legacy meta (`{"count":N,"bytes":B}`, written before the
    * later fields existed) decodes as base 0, an empty index and txn,
    * and NOT provably sorted. */
  final case class PartMeta(
      count: Long = 0L, bytes: Long = 0L, base: Long = 0L,
      maxPt: Long = Long.MinValue, tsorted: Boolean = true,
      index: Vector[(Long, Long)] = Vector.empty,
      txn: Map[String, Long] = Map.empty)

  object PartMeta {
    def read(dir: Path, p: Int): PartMeta = {
      val m = metaFile(dir, p)
      if (Files.exists(m)) decode(Files.readString(m)) else PartMeta()
    }

    private[sources] def decode(json: String): PartMeta = {
      val n = mapper.readTree(json)
      def field(k: String) = Option(n.get(k))
      val idx = field("index").filter(_.isArray).fold(Vector.empty[(Long, Long)])(
        _.elements().asScala.map(e => (e.get(0).asLong(), e.get(1).asLong())).toVector)
      val txn = field("txn").filter(_.isObject).fold(Map.empty[String, Long])(
        _.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap)
      PartMeta(
        count = n.get("count").asLong(),
        bytes = n.get("bytes").asLong(),
        base = field("base").fold(0L)(_.asLong()),
        maxPt = field("maxPt").fold(Long.MinValue)(_.asLong()),
        tsorted = field("maxPt").isDefined &&
          field("tsorted").exists(_.asBoolean()),
        index = idx, txn = txn)
    }

    /** Key order is fixed (count, bytes, base, maxPt, tsorted, index,
      * txn); txn tokens are sorted. The time fields are left out while
      * no publish time was ever recorded (a legacy meta's truncation), so
      * such a record keeps decoding as not provably sorted. */
    private[sources] def encode(m: PartMeta): String = {
      val o = mapper.createObjectNode()
      o.put("count", m.count).put("bytes", m.bytes).put("base", m.base)
      if (m.maxPt != Long.MinValue)
        o.put("maxPt", m.maxPt).put("tsorted", m.tsorted)
      val idx = o.putArray("index")
      m.index.foreach { case (l, b) => idx.addArray().add(l).add(b) }
      val txn = o.putObject("txn")
      m.txn.toSeq.sortBy(_._1).foreach { case (k, v) => txn.put(k, v) }
      mapper.writeValueAsString(o)
    }
  }

  private def metaFile(dir: Path, p: Int): Path = dir.resolve(s"part-$p.meta")
  private def dataFile(dir: Path, p: Int): Path = dir.resolve(s"part-$p.jsonl")

  /** (count, bytes) per partition from the meta sidecar (O(1), no scan). */
  def partitionMeta(root: String, topic: String, p: Int): (Long, Long) =
    partitionMetaIn(topicDir(root, topic), p)

  def partitionMetaIn(dir: Path, p: Int): (Long, Long) = {
    val m = PartMeta.read(dir, p)
    (m.count, m.bytes)
  }

  def partitionBaseIn(dir: Path, p: Int): Long = PartMeta.read(dir, p).base

  /** Durable subscription-cursor dir (the broker-side ack position):
    * `<topic>/.sub-<sub>/p<p>.cursor` holds the NEXT offset the
    * subscription will be served (acked-through + 1). Hidden like the
    * retry queue — never listed as a topic. */
  def subDir(root: String, topic: String, sub: String): Path =
    topicDir(root, topic).resolve(s".sub-$sub")

  /** The subscription's durable cursor for a partition; 0 (≙ serve from
    * the retention base, which the batch planner clamps to) when no ack
    * has ever landed. */
  def subCursor(root: String, topic: String, sub: String, p: Int): Long = {
    val f = subDir(root, topic, sub).resolve(s"p$p.cursor")
    if (!Files.exists(f)) 0L else Files.readString(f).trim.toLong
  }

  /** Cumulative ack — Pulsar's `consumer.acknowledgeCumulative(id)`:
    * one call acknowledges everything at or before `upToIncl` in the
    * partition, advancing the durable cursor to `upToIncl + 1`
    * MONOTONICALLY (a cumulative ack below the current position is a
    * no-op, never a rewind — broker semantics). Returns the effective
    * cursor. Atomic temp-file + rename under the partition lock, the
    * same durability discipline as the meta sidecar. Reference scope:
    * the reference acks each message individually
    * (PulsarMessageConsumer.java:158,189 acknowledge(msg)); cumulative
    * ack is the adjacent public consumer surface for the
    * prefix-processed case, modeled here as durable broker state next
    * to A15's checkpoint-commit mapping. */
  def ackCumulative(root: String, topic: String, sub: String, p: Int,
      upToIncl: Long): Long = {
    withPartitionLock(topicDir(root, topic), p) {
      val cur = subCursor(root, topic, sub, p)
      val next = math.max(cur, upToIncl + 1)
      if (next != cur) writeCursor(root, topic, sub, p, next)
      next
    }
  }

  private def writeCursor(root: String, topic: String, sub: String, p: Int,
      next: Long): Unit = {
    val d = subDir(root, topic, sub)
    Files.createDirectories(d)
    replaceAtomically(d.resolve(s"p$p.cursor"), next.toString)
  }

  /** Replace a small file in one step: temp file beside it, then
    * ATOMIC_MOVE (rename(2)). Readers poll metas and cursors without
    * the lock, so an in-place rewrite would let them read a truncated or
    * half-written file. Writers call it under the partition lock. */
  private def replaceAtomically(target: Path, content: String): Unit = {
    val tmp = Files.createTempFile(target.getParent,
      s".${target.getFileName}", ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Message expiry for a subscription — pulsar-admin
    * `topics expire-messages -s <sub> -t <ttl>`: everything published
    * BEFORE `beforeUs` is expired (auto-acked) for that subscription.
    * The expiry position comes from the same index-guided time seek
    * batch reads use (first offset with publish_time >= T), folded
    * through [[ackCumulative]], so it inherits monotonicity: an expiry
    * older than the current cursor is a no-op. Returns the effective
    * cursor. */
  def expireMessages(root: String, topic: String, sub: String, p: Int,
      beforeUs: Long): Long = {
    val firstKept = seekByTimeIn(topicDir(root, topic), p, beforeUs)
    ackCumulative(root, topic, sub, p, firstKept - 1)
  }

  /** Admin cursor reset — pulsar-admin
    * `topics reset-cursor -s <sub> -t <time>`: FORCES the
    * subscription's cursor to the first message with publish_time >=
    * `toUs`, in either direction — unlike a consumer's cumulative ack,
    * the admin override may rewind (that is its purpose: replay a
    * prefix through an existing subscription). Same atomic write
    * discipline as [[ackCumulative]]. */
  def resetCursor(root: String, topic: String, sub: String, p: Int,
      toUs: Long): Long = {
    val dir = topicDir(root, topic)
    withPartitionLock(dir, p) {
      // already under the lock: open with the held variant (a second
      // FileChannel.lock in this JVM would throw)
      val target = seekByTime(dir, p, openHeld(dir, p, 0L), toUs)
      writeCursor(root, topic, sub, p, target)
      target
    }
  }

  /** The topic-level partition count, persisted in `<topic>/topic.meta`
    * the first time the topic is written. Key-hash routing is mod this
    * value in EVERY write path — a second writer with a different count
    * would split one key across partitions and silently break the
    * per-key invariants (compaction A21, Key_Shared order A3), so the
    * persisted count always wins over the caller's request. */
  def ensureNumPartitions(root: String, topic: String, requested: Int): Int = {
    val dir = topicDir(root, topic)
    val m = dir.resolve("topic.meta")
    if (Files.exists(m)) mapper.readTree(Files.readString(m)).get("numPartitions").asInt()
    else {
      Files.createDirectories(dir)
      // pre-topic.meta topics: infer a floor from existing part files
      val n = math.max(requested, partitionIdsIn(dir).maxOption.map(_ + 1).getOrElse(0))
      // write-to-temp + atomic hard link makes the first writer win with
      // its BYTES already in place: two concurrent first writers with
      // different requested counts must not each route mod their own N
      // (that splits a key across partitions — the exact invariant this
      // meta exists to protect), and a CREATE_NEW-then-write pair would
      // let the loser (or any Files.exists fast-path reader) observe an
      // empty topic.meta between the two steps. createLink (not
      // ATOMIC_MOVE, whose rename(2) silently REPLACES an existing
      // target) fails atomically when the winner got there first; the
      // loser re-reads the winner's count.
      val tmp = Files.createTempFile(dir, ".topic.meta", ".tmp")
      try {
        Files.writeString(tmp, s"""{"numPartitions":$n}""")
        try {
          Files.createLink(m, tmp)
          n
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            mapper.readTree(Files.readString(m)).get("numPartitions").asInt()
        }
      } finally Files.deleteIfExists(tmp)
    }
  }

  /** Read the persisted partition count without creating the topic. */
  def numPartitions(root: String, topic: String, default: Int = 4): Int = {
    val m = topicDir(root, topic).resolve("topic.meta")
    if (Files.exists(m)) mapper.readTree(Files.readString(m)).get("numPartitions").asInt()
    else math.max(default, partitionIds(root, topic).maxOption.map(_ + 1).getOrElse(0))
  }

  def encode(m: Msg): String = {
    val o = mapper.createObjectNode()
    o.put("message_id", m.messageId)
    if (m.key != null) o.put("key", m.key) else o.putNull("key")
    o.put("value", m.valueB64)
    val props = o.putObject("properties")
    m.properties.foreach { case (k, v) => props.put(k, v) }
    o.put("publish_time", m.publishTimeUs)
    o.put("event_time", m.eventTimeUs)
    o.put("redelivery_count", m.redeliveryCount)
    if (m.contentType != null) o.put("content_type", m.contentType)
    else o.putNull("content_type")
    mapper.writeValueAsString(o)
  }

  def decode(line: String): Msg = {
    val n = mapper.readTree(line)
    val props = n.get("properties").asInstanceOf[ObjectNode]
    val pm = props.fields().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    Msg(
      messageId = n.get("message_id").asText(),
      key = if (n.get("key").isNull) null else n.get("key").asText(),
      valueB64 = n.get("value").asText(),
      properties = pm,
      publishTimeUs = n.get("publish_time").asLong(),
      eventTimeUs = n.get("event_time").asLong(),
      redeliveryCount = n.get("redelivery_count").asInt(),
      contentType =
        if (n.get("content_type").isNull) null else n.get("content_type").asText())
  }

  /** Publish a DataFrame into a topic. Expected columns (missing ones are
    * defaulted): key:string, value_str:string (or value:binary),
    * properties:map<string,string>, publish_time/event_time:timestamp,
    * redelivery_count:int, content_type:string, message_id:string
    * (preserved if present — redelivery keeps the original id).
    *
    * Appends after existing data; offsets stay contiguous per partition.
    */
  def publish(spark: SparkSession, df: DataFrame, root: String, topic: String,
      numPartitions: Int): Unit = {
    val parts = ensureNumPartitions(root, topic, numPartitions)
    val dir = topicDir(root, topic)
    Files.createDirectories(dir)
    val dirStr = dir.toAbsolutePath.toString
    // one writer task per store partition — offsets are assigned inside
    // the single task that owns the partition file (contiguous, ordered).
    // __p leads the sort so each store partition arrives as one
    // consecutive run and the writer can stream it in bounded chunks —
    // per-partition publish order is unchanged (ties on __p keep the
    // (publish_time, message_id) order).
    sortedByPartition(canonical(df).withColumn("__p", routeExpr(lit(parts))),
        parts)
      .foreachPartition { (it: Iterator[Row]) =>
        writeRuns(it)(writeGroup(dirStr, _, _))
      }
  }

  /** Publish nacked rows in ONE shuffle-and-write job: rows where
    * `toDlq` holds go to `dlqTopic`, the rest to `topic`'s retry log for
    * `sub` (A16). Routing and per-partition order are `publish`'s, each
    * side modulo its own partition count — a key's retries land in the
    * retry log's partition p, matching the main log's p, so merged
    * delivery keeps per-key locality. Returns (retried, dead) as counted
    * by the write tasks that appended them. The DLQ topic is created by
    * the first task that appends a dead row, so a nack in which nothing
    * dies leaves no DLQ behind. */
  def publishRetriesOrDlq(df: DataFrame, toDlq: Column, root: String,
      topic: String, sub: String, dlqTopic: String): (Long, Long) = {
    val liveParts = numPartitions(root, topic)
    val deadParts = numPartitions(root, dlqTopic, default = liveParts)
    val liveDir = retryDir(root, topic, sub).toAbsolutePath.toString
    val deadDir = topicDir(root, dlqTopic).toAbsolutePath.toString
    // slots [0, liveParts) are retry partitions, the rest DLQ partitions
    val slot = when(toDlq, routeExpr(lit(deadParts)) + liveParts)
      .otherwise(routeExpr(lit(liveParts)))
    val counts = sortedByPartition(canonical(df).withColumn("__p", slot),
        liveParts + deadParts)
      .mapPartitions { (it: Iterator[Row]) =>
        var live, dead = 0L
        writeRuns(it) { (slot, rows) =>
          val isLive = slot < liveParts
          val (t, n, d, p) =
            if (isLive) (topic, liveParts, liveDir, slot)
            else (dlqTopic, deadParts, deadDir, slot - liveParts)
          require(ensureNumPartitions(root, t, n) == n,
            s"topic $t changed its partition count during a nack")
          writeGroup(d, p, rows)
          if (isLive) live += rows.size else dead += rows.size
        }
        Iterator((live, dead))
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect()
    (counts.map(_._1).sum, counts.map(_._2).sum)
  }

  /** The stored message shape, columns missing from `df` defaulted. */
  private def canonical(df: DataFrame): DataFrame = {
    val cols = df.columns.toSet
    def orElse(name: String, default: org.apache.spark.sql.Column) =
      if (cols.contains(name)) col(name) else default

    df.select(
      orElse("message_id", lit(null).cast("string")).as("message_id"),
      orElse("key", lit(null).cast("string")).as("key"),
      // same per-row precedence as the DSv2 writer (PulsarLikeSink):
      // value if set, else value_str — the two publish paths must store
      // the same payload for the same row
      (if (cols.contains("value") && cols.contains("value_str"))
         coalesce(col("value"), col("value_str").cast("binary"))
       else if (cols.contains("value_str")) col("value_str").cast("binary")
       else orElse("value", lit(Array.empty[Byte]))).as("value"),
      orElse("properties",
        map().cast("map<string,string>")).as("properties"),
      orElse("publish_time", current_timestamp()).as("publish_time"),
      orElse("event_time", lit(null).cast("timestamp")).as("event_time"),
      orElse("redelivery_count", lit(0)).cast("int").as("redelivery_count"),
      orElse("content_type", lit(null).cast("string")).as("content_type"))
  }

  /** Pulsar key routing: hash(key) → partition; keyless rows spread by
    * value hash. xxhash64 is stable across executors/runs. */
  private def routeExpr(numPartitions: Column): Column =
    pmod(xxhash64(coalesce(col("key"), base64(col("value")))),
      numPartitions).cast("int")

  private def sortedByPartition(routed: DataFrame, tasks: Int): DataFrame =
    routed.repartition(tasks, col("__p"))
      .sortWithinPartitions(col("__p"), col("publish_time"), col("message_id"))

  /** Max rows buffered per append under the partition-file lock: bounds
    * writer-task memory to O(chunk), not O(partition) — a store
    * partition holds arbitrarily many rows at scale. Chunked appends
    * stay contiguous/ordered because `appendIn` continues from the
    * persisted meta under the lock. */
  private val WriteChunk = 10000

  private def writeRuns(it: Iterator[Row])(write: (Int, Vector[Row]) => Unit)
      : Unit = {
    // a task may receive rows of several store partitions (hash
    // co-location), each as a consecutive run of the __p-led sort —
    // stream each run into bounded chunk appends, never materializing
    // the partition
    var curP = Int.MinValue
    val buf = Vector.newBuilder[Row]
    var bufN = 0
    def flush(): Unit = if (bufN > 0) {
      write(curP, buf.result()); buf.clear(); bufN = 0
    }
    it.foreach { r =>
      val p = r.getAs[Int]("__p")
      if (p != curP || bufN >= WriteChunk) { flush(); curP = p }
      buf += r; bufN += 1
    }
    flush()
  }

  /** Route a key (or payload base64 for keyless messages) to a partition.
    * Must agree EXACTLY with the DataFrame publish path's
    * `pmod(xxhash64(coalesce(key, base64(value))), n)` — same key, same
    * partition, regardless of which write path delivered the message
    * (per-key order and compaction depend on it). */
  def route(key: String, valueB64: String, numPartitions: Int): Int = {
    val s = org.apache.spark.unsafe.types.UTF8String
      .fromString(if (key != null) key else valueB64)
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(s, org.apache.spark.sql.types.StringType, 42L)
    (((h % numPartitions) + numPartitions) % numPartitions).toInt
  }

  // JVM-level monitor per partition file: java FileLock throws (not
  // blocks) on overlap within one JVM, and local[n] runs all tasks in
  // one JVM — so serialize in-process first, then take the file lock
  // for cross-process safety.
  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Run `f` holding partition p's lock (in-JVM monitor + cross-process
    * file lock). Every writer takes it (appends, truncations, cursor
    * writes); readers take it only in [[openSlice]], so a truncation
    * can never leave them seeking a PRE-truncation byte index into the
    * rewritten file. Keep `f` short. Not reentrant: a second
    * FileChannel.lock on the same file in one JVM throws. */
  private def withPartitionLock[T](dir: Path, p: Int)(f: => T): T = {
    val lockFile = dir.resolve(s"part-$p.lock")
    val monitor = monitors.computeIfAbsent(
      lockFile.toAbsolutePath.toString, _ => new Object)
    monitor.synchronized {
      val ch = FileChannel.open(lockFile,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val lock = ch.lock()
      try f finally { lock.release(); ch.close() }
    }
  }

  def append(root: String, topic: String, p: Int, msgs: Seq[Msg],
      txn: Option[(String, Long)] = None): Unit =
    appendIn(topicDir(root, topic).toAbsolutePath.toString, p, msgs, txn)

  /** Append messages to one partition file under the lock; offsets/meta
    * stay contiguous. Null messageIds are assigned from the partition
    * offset. Executor-side API (DSv2 writer + publish).
    *
    * `txn = Some((token, epochId))` makes the append EPOCH-IDEMPOTENT
    * (the exactly-once half of the reference's `enableTransaction`
    * surface, connection/PulsarConnectionSetup.java:125-127): the meta
    * sidecar keeps, per token ("queryId/writerPartition"), the highest
    * epoch already applied, and an append at-or-below that high-water is
    * skipped. Data and high-water persist in the SAME locked meta write,
    * so a streaming epoch replayed after a crash between sink write and
    * checkpoint commit cannot duplicate. Epoch monotonicity per token is
    * Spark's micro-batch contract; a NEW query (fresh checkpoint) gets a
    * new queryId, so its restarted epoch numbering never collides. */
  def appendIn(dirStr: String, p: Int, msgs: Seq[Msg],
      txn: Option[(String, Long)] = None): Unit = if (msgs.nonEmpty) {
    val dir = Paths.get(dirStr)
    Files.createDirectories(dir)
    withPartitionLock(dir, p) {
      // every append path carries existing high-waters forward — a plain
      // publish interleaved with a transactional sink must not wipe them
      val prev = PartMeta.read(dir, p)
      val replayed = txn.exists { case (tok, epoch) =>
        prev.txn.get(tok).exists(_ >= epoch) }
      if (!replayed) appendLocked(dir, p, prev, msgs,
        txn.fold(prev.txn)(prev.txn + _))
    }
  }

  private def appendLocked(dir: Path, p: Int, prev: PartMeta, msgs: Seq[Msg],
      txn: Map[String, Long]): Unit = {
    val index = Vector.newBuilder[(Long, Long)] ++= prev.index
    // an append below the publish-time high-water marks the partition
    // unsorted — STICKY, so time-ordered optimizations refuse it forever
    var maxPt = prev.maxPt
    var tsorted = prev.tsorted
    val sb = new StringBuilder
    var off = prev.count
    var bytes = prev.bytes
    msgs.foreach { m0 =>
      val m = if (m0.messageId != null) m0
        else m0.copy(messageId = s"0:$off:$p:0")
      if (m.publishTimeUs < maxPt) tsorted = false
      else maxPt = m.publishTimeUs
      if (off % IndexStride == 0L) index += ((off, bytes))
      val line = encode(m)
      sb.append(line).append('\n')
      // byte (not char) length — the reader seeks by byte position
      bytes += line.getBytes(StandardCharsets.UTF_8).length + 1
      off += 1
    }
    // a crash between an earlier append's data write and its meta
    // rewrite leaves uncommitted lines past meta `bytes`; cut them off
    // first, or this append's meta would serve them as committed
    val data = FileChannel.open(dataFile(dir, p),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      if (data.size() > prev.bytes) data.truncate(prev.bytes)
      data.position(data.size())
      val buf = java.nio.ByteBuffer.wrap(
        sb.toString.getBytes(StandardCharsets.UTF_8))
      while (buf.hasRemaining) data.write(buf)
    } finally data.close()
    writeMeta(dir, p, prev.copy(count = off, bytes = bytes, maxPt = maxPt,
      tsorted = tsorted, index = index.result(), txn = txn))
  }

  private def writeMeta(dir: Path, p: Int, m: PartMeta): Unit =
    replaceAtomically(metaFile(dir, p), PartMeta.encode(m))

  /** Reclaim the delivered prefix of a retry partition: drop all lines
    * with absolute offset < `upTo`, record the new `base`, rebuild the
    * byte index. Offsets stay ABSOLUTE (cursor math is untouched) — only
    * the storage shrinks. Safe when `upTo` ≤ the subscription's
    * committed cursor: the stream never re-reads below it (only a
    * checkpoint older than the committed one would, and micro-batch
    * recovery always resumes from the latest commit). */
  def truncateRetries(root: String, topic: String, sub: String, p: Int,
      upTo: Long): Unit =
    truncateIn(retryDir(root, topic, sub), p, upTo)

  /** Topic retention (admin op — the broker-side knob in the reference
    * deployment): drop the prefix of a MAIN log partition below `upTo`.
    * Offsets stay absolute; readers with cursors at or past `upTo` are
    * unaffected, a fresh Earliest subscription starts at the retained
    * base — exactly a broker's retention semantics. */
  def truncateTopic(root: String, topic: String, p: Int, upTo: Long): Unit =
    truncateIn(topicDir(root, topic), p, upTo)

  private def truncateIn(dir: Path, p: Int, upTo: Long): Unit =
    if (Files.exists(dataFile(dir, p))) withPartitionLock(dir, p) {
      val m = PartMeta.read(dir, p)
      val newBase = math.min(math.max(upTo, m.base), m.count)
      if (newBase != m.base) {
        val (bytes, index) = rewriteFrom(dir, p, newBase - m.base, newBase)
        // retention must not forget producer-epoch high-waters: wiping
        // them would let a replayed epoch duplicate after a truncation.
        // Time meta carries forward too (a prefix drop cannot unsort a
        // sorted log; an unsorted flag stays conservatively sticky).
        writeMeta(dir, p, m.copy(bytes = bytes, base = newBase, index = index))
      }
    }

  /** Drop the data file's first `skip` lines: a streamed rewrite (never
    * loads the log in memory) into a temp file, then an atomic move — a
    * reader racing the rename sees either file complete. Returns the new
    * file's bytes and its index, whose first line is `newBase`. */
  private def rewriteFrom(dir: Path, p: Int, skip: Long, newBase: Long)
      : (Long, Vector[(Long, Long)]) = {
    val f = dataFile(dir, p)
    val tmp = dir.resolve(s"part-$p.jsonl.tmp")
    val index = Vector.newBuilder[(Long, Long)]
    var bytes = 0L
    val in = Files.newBufferedReader(f, StandardCharsets.UTF_8)
    try {
      var left = skip
      while (left > 0 && in.readLine() != null) left -= 1
      val out = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      try {
        var off = newBase
        var line = in.readLine()
        while (line != null) {
          if (off % IndexStride == 0L) index += ((off, bytes))
          out.write(line); out.newLine()
          bytes += line.getBytes(StandardCharsets.UTF_8).length + 1
          off += 1
          line = in.readLine()
        }
      } finally out.close()
    } finally in.close()
    Files.move(tmp, f, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    (bytes, index.result())
  }

  private def writeGroup(dir: String, p: Int,
      rows: Vector[Row]): Unit = {
    val msgs = rows.map { r =>
      val value = r.getAs[Array[Byte]]("value")
      val pubTs = Option(r.getAs[java.sql.Timestamp]("publish_time"))
        .map(t => t.getTime * 1000L + (t.getNanos / 1000) % 1000).getOrElse(0L)
      val evtTs = Option(r.getAs[java.sql.Timestamp]("event_time"))
        .map(t => t.getTime * 1000L + (t.getNanos / 1000) % 1000).getOrElse(pubTs)
      Msg(
        messageId = r.getAs[String]("message_id"), // null => assigned in append
        key = r.getAs[String]("key"),
        valueB64 = Base64.getEncoder.encodeToString(
          if (value == null) Array.empty[Byte] else value),
        properties = Option(r.getAs[Map[String, String]]("properties"))
          .getOrElse(Map.empty),
        publishTimeUs = pubTs,
        eventTimeUs = evtTs,
        redeliveryCount = r.getAs[Int]("redelivery_count"),
        contentType = r.getAs[String]("content_type"))
    }
    appendIn(dir, p, msgs)
  }

  /** A partition file opened by [[openSlice]]: the meta snapshot taken
    * under the lock, and a read channel positioned at absolute line
    * `line` — the nearest indexed line at or below the requested
    * offset. The caller scans after the lock is released: the channel
    * keeps the opened file across a truncation's rename (POSIX), and the
    * snapshot's byte index belongs to that file. */
  final class Slice private[TopicStore] (
      private[TopicStore] val meta: PartMeta, line: Long,
      channel: FileChannel) extends java.io.Closeable {

    /** A reader over the file from byte `pos`. */
    private[TopicStore] def readerAt(pos: Long): BufferedReader = {
      channel.position(pos)
      reader()
    }

    private def reader(): BufferedReader = new BufferedReader(
      Channels.newReader(channel, StandardCharsets.UTF_8.name()), 1 << 16)

    /** Lines [from, until), `from` ≥ the opened line; call once. The
      * channel closes when the iterator is exhausted. */
    def lines(from: Long, until: Long): Iterator[String] = {
      val r = reader()
      var l = line
      while (l < from && r.readLine() != null) l += 1
      val remaining = until - from
      new Iterator[String] {
        private var served = 0L
        private var nextLine: String = if (remaining > 0) r.readLine() else null
        override def hasNext: Boolean = nextLine != null
        override def next(): String = {
          val s = nextLine
          served += 1
          nextLine = if (served < remaining) r.readLine() else null
          if (nextLine == null) close()
          s
        }
      }
    }

    override def close(): Unit = if (channel.isOpen) channel.close()
  }

  /** Open partition p for reading from absolute offset `from`: under the
    * partition lock, snapshot the meta, open the data file and position
    * it at the nearest indexed line ≤ `from`. None when the partition
    * has no data file. A racing truncation rewrites the data file and
    * THEN its meta, so an unlocked reader could pair the old byte index
    * with the new file and start mid-line. */
  def openSlice(dir: Path, p: Int, from: Long): Option[Slice] =
    if (!Files.exists(dataFile(dir, p))) None
    else withPartitionLock(dir, p)(openHeld(dir, p, from))

  /** [[openSlice]] for a caller that already holds partition p's lock. */
  private def openHeld(dir: Path, p: Int, from: Long): Option[Slice] = {
    val f = dataFile(dir, p)
    if (!Files.exists(f)) None
    else {
      val m = PartMeta.read(dir, p)
      val (line, byte) = m.index.takeWhile(_._1 <= from).lastOption
        .getOrElse((m.base, 0L))
      val ch = FileChannel.open(f, StandardOpenOption.READ)
      ch.position(byte)
      Some(new Slice(m, line, ch))
    }
  }

  /** Decode a closed range of lines from one partition file, seeking via
    * the sparse index — O(slice + IndexStride) work, Long-safe. Caller
    * side: driver-side retry scans and tests; the DSv2 reader iterates
    * the same [[Slice]] lazily. */
  def readEntries(dir: Path, p: Int, from: Long, until: Long): Vector[Msg] =
    if (until <= from) Vector.empty
    else openSlice(dir, p, from).fold(Vector.empty[Msg]) { s =>
      try s.lines(from, until).map(decode).toVector finally s.close()
    }

  /** First offset whose publish_time >= tUs, assuming per-partition
    * publish-time monotonicity (a broker stamps publish time in append
    * order): binary-search the sparse index reading ONE message per
    * probe, then scan forward at most one stride — O(log(n/stride) +
    * stride) line reads. A pre-index prefix (meta written before the
    * index feature) has no entries, so a seek landing inside it scans
    * that prefix linearly — correct, just O(prefix); appends index
    * forward from where the log stands. Returns the partition end when
    * every retained message is older, the base when none is. */
  def seekByTimeIn(dir: Path, p: Int, tUs: Long): Long =
    seekByTime(dir, p, openSlice(dir, p, 0L), tUs)

  private def seekByTime(dir: Path, p: Int, slice: Option[Slice],
      tUs: Long): Long = slice match {
    case None => PartMeta.read(dir, p).base
    case Some(s) => try seekIn(s, tUs) finally s.close()
  }

  private def seekIn(s: Slice, tUs: Long): Long = {
    val m = s.meta
    if (m.count <= m.base) return m.base
    val entries = ((m.base, 0L) +: m.index)
      .filter(_._1 >= m.base).distinct.sortBy(_._1)
    def ptAt(bytePos: Long): Long = {
      val l = s.readerAt(bytePos).readLine()
      if (l == null) Long.MaxValue else decode(l).publishTimeUs
    }
    if (ptAt(entries.head._2) >= tUs) return entries.head._1
    // invariant: publish_time at entries(lo) < tUs
    var lo = 0
    var hi = entries.length - 1
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (ptAt(entries(mid)._2) < tUs) lo = mid else hi = mid - 1
    }
    val (startLine, startByte) = entries(lo)
    val r = s.readerAt(startByte)
    var line = startLine
    var l = r.readLine()
    while (l != null && decode(l).publishTimeUs < tUs) {
      line += 1
      l = r.readLine()
    }
    line
  }
}
