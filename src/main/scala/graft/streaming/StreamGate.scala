package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The consume half of every stream gate — Structured Streaming's one
  * contract (source options → trigger → sink → commit) written once:
  *
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

  /** Subscribe to `topic` in the store at `root` from the earliest
    * retained offset, admitting at most `maxMessages` per micro-batch.
    * `subscription` names the durable cursor; unset, the source's
    * default subscription is used. */
  def source(s: SparkSession, root: String, topic: String,
      maxMessages: Long, subscription: Option[String] = None): DataFrame = {
    val reader = s.readStream.format("pulsarlike")
      .option("path", root)
      .option("serviceUrl", "pulsar://local")
      .option("topicNames", topic)
      .option("subscriptionInitialPosition", "Earliest")
      .option("batchingMaxMessages", maxMessages)
    subscription.fold(reader)(reader.option("subscriptionName", _)).load()
  }

  /** Run `writer` through one AvailableNow pass checkpointed at `ckpt`
    * and return the finished query (its `recentProgress` and
    * `observedMetrics` stay readable).
    *
    * `statePartitions` sizes the state stores (`spark.sql.shuffle
    * .partitions`, captured by the query when it starts) and `conf`
    * holds any other session override. Both hold while the query runs
    * — `foreachBatch` bodies that use the session see them — and are
    * restored afterwards even on failure: a leaked override would
    * reach every later query in a shared Verify/Bench session. */
  def run[T](s: SparkSession, writer: DataStreamWriter[T], ckpt: String,
      statePartitions: Option[Int] = None,
      conf: Map[String, String] = Map.empty): StreamingQuery =
    withConf(s, (conf ++ statePartitions.map(n =>
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

  private def withConf[T](s: SparkSession, kvs: Seq[(String, String)])
      (body: => T): T = kvs match {
    case Seq() => body
    case (k, v) +: rest =>
      val prev = s.conf.getOption(k)
      s.conf.set(k, v)
      try withConf(s, rest)(body)
      finally prev.fold(s.conf.unset(k))(s.conf.set(k, _))
  }
}
