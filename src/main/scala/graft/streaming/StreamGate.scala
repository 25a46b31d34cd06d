package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one place a `pulsarlike` topic is addressed, and the consume half
  * of every stream gate — Structured Streaming's one contract (source
  * options → trigger → sink → commit) written once:
  *
  *  - [[address]] is the local store's connection options plus the
  *    mandatory batch policy; producers pass it to `write`/`writeStream`
  *    with `.options(...)`;
  *  - [[read]] is the batch consumer of a topic;
  *  - [[source]] subscribes to a `pulsarlike` topic from its earliest
  *    retained offset;
  *  - [[run]] drives a configured writer through one AvailableNow pass
  *    (checkpoint → trigger → start → await) under scoped session
  *    overrides;
  *  - [[land]] is the common `foreachBatch` body.
  *
  * A two-pass gate calls [[run]] twice with the same checkpoint; the
  * second pass resumes from the first one's committed offsets.
  */
object StreamGate {

  /** Admission cap of the plain drain loops. */
  val PlainCap: Long = 1000000L

  /** Admission cap of the sentinel choreographies. Single-batch-per-pass
    * is their determinism contract: a pass that splits would run its
    * tail batch under the sentinel-advanced watermark and silently drop
    * real rows. The cap must exceed any fixture size (10x soak
    * included), so it is 1e8, not [[PlainCap]]'s 1e6. */
  val SingleBatchCap: Long = 100000000L

  /** transformWithState requires the RocksDB state-store provider. */
  val RocksDbStateStore: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** The options that address `topic` (a comma-separated list is
    * several topics) in the store at `root`: the path, the local
    * `serviceUrl`, the topic list and the mandatory batch policy (A11) at
    * [[PlainCap]]. Only a micro-batch stream's admission reads the cap; a
    * batch read or a sink only validates it. */
  def address(root: String, topic: String): Map[String, String] = Map(
    "path" -> root,
    "serviceUrl" -> "pulsar://local",
    "topicNames" -> topic,
    "batchingMaxMessages" -> PlainCap.toString)

  /** Batch-read `topic` in the store at `root`. `opts` are further source
    * options (`startingTime`, `startFromSubscriptionCursor`, …); they are
    * applied last, so they win. */
  def read(s: SparkSession, root: String, topic: String,
      opts: Map[String, String] = Map.empty): DataFrame =
    s.read.format("pulsarlike").options(address(root, topic) ++ opts).load()

  /** Subscribe to `topic` in the store at `root` from the earliest
    * retained offset, admitting at most `maxMessages` per micro-batch.
    * `subscription` names the durable cursor; unset, the source's
    * default subscription is used. `opts` are further source options,
    * applied last, so they win. */
  def source(s: SparkSession, root: String, topic: String,
      maxMessages: Long, subscription: Option[String] = None,
      opts: Map[String, String] = Map.empty): DataFrame =
    s.readStream.format("pulsarlike").options(address(root, topic) ++
      Map("subscriptionInitialPosition" -> "Earliest",
        "batchingMaxMessages" -> maxMessages.toString) ++
      subscription.map("subscriptionName" -> _) ++ opts).load()

  /** Run `writer` through one AvailableNow pass checkpointed at `ckpt`
    * and return the finished query (its `recentProgress` and
    * `observedMetrics` stay readable).
    *
    * `statePartitions` sizes the state stores (`spark.sql.shuffle
    * .partitions`, captured by the query when it starts) and `conf`
    * holds any other session override. Both hold while the query runs
    * — `foreachBatch` bodies that use the session see them — and are
    * restored afterwards even on failure: a leaked override would
    * reach every later query in a shared Verify/Bench session.
    *
    * Each pass also runs with `spark.sql.artifact.isolation.enabled`
    * off. A started query runs on a clone of the session, and with
    * isolation on (Spark 4.1's default) the clone gets a fresh artifact
    * classloader — which is part of the key of Spark's codegen cache, so
    * every pass recompiled the classes an earlier pass had compiled,
    * while its tasks waited on the compile lock (ARCHITECTURE.md,
    * "Measurement and verification", has the counts). The engine adds no
    * session artifacts, so the session's own classloader serves. */
  def run[T](s: SparkSession, writer: DataStreamWriter[T], ckpt: String,
      statePartitions: Option[Int] = None,
      conf: Map[String, String] = Map.empty): StreamingQuery =
    withConf(s, (Map("spark.sql.artifact.isolation.enabled" -> "false") ++
        conf ++ statePartitions.map(n =>
          "spark.sql.shuffle.partitions" -> n.toString)).toSeq) {
      val q = writer
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }

  /** `foreachBatch` body landing each micro-batch unchanged under
    * `outDir` ([[BatchLanding.land]]). */
  def land(outDir: String): (DataFrame, Long) => Unit =
    (df, bid) => BatchLanding.land(df, outDir, bid)

  /** Run `body` with each of `kvs` set on the session, restoring the
    * previous values (or unsetting) afterwards even on failure. */
  def withConf[T](s: SparkSession, kvs: Seq[(String, String)])
      (body: => T): T = kvs match {
    case Seq() => body
    case (k, v) +: rest =>
      val prev = s.conf.getOption(k)
      s.conf.set(k, v)
      try withConf(s, rest)(body)
      finally prev.fold(s.conf.unset(k))(s.conf.set(k, _))
  }
}
