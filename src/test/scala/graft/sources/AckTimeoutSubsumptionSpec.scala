package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.model.PulsarLikeConf
import graft.streaming.{StreamGate, StreamReplay}

/** Pins the `ackTimeoutMillis` subsumption claim (A16).
  *
  * Reference semantics (PulsarMessageConsumer.java:279-281): a message
  * delivered to the consumer but neither acked nor nacked is redelivered
  * after the ack timeout. In the micro-batch mapping there is no
  * per-message outstanding-ack timer — the equivalent failure is an
  * epoch whose sink callback ran but whose checkpoint verdict (the
  * commit marker = the ack) was never recorded, i.e. a crash between
  * sink write and commit. Structured Streaming's recovery contract then
  * redelivers the SAME offset range on restart, which is exactly the
  * ack-timeout redelivery outcome; the timeout VALUE collapses into
  * restart latency (the replacement driver's, not a broker timer's).
  * This spec kills a query between sink write and verdict and proves
  * that redelivery, making the subsumption a tested contract instead of
  * an assertion.
  */
class AckTimeoutSubsumptionSpec extends SparkSpec {

  test("conf carries a validated ackTimeoutMillis") {
    val conf = PulsarLikeConf.fromOptions(
      StreamGate.address("", "t") ++ Map("ackTimeoutMillis" -> "30000"))
    assert(conf.ackTimeoutMs.contains(30000L))
    intercept[IllegalArgumentException] {
      PulsarLikeConf.fromOptions(
        StreamGate.address("", "t") ++ Map("ackTimeoutMillis" -> "soon"))
    }
  }

  test("an epoch delivered but never acked (no commit verdict) is redelivered") {
    import spark.implicits._
    val root = tmpDir("ackto")
    val ckpt = tmpDir("ackto-ckpt")
    val fixture = (0 until 20).map { i =>
      (s"k${i % 5}", s"msg-$i", new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("key", "value_str", "publish_time")
    TopicStore.publish(spark, fixture, root, "events", 2)

    // every foreachBatch invocation records (epochId, message_ids) — the
    // consumer-visible delivery log
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[String])]
    def pass(): Unit = {
      // several epochs per pass
      StreamGate.run(spark, StreamGate.source(spark, root, "events", 7L,
          opts = Map("ackTimeoutMillis" -> "30000"))
        .writeStream
        .foreachBatch { (df: DataFrame, epoch: Long) =>
          val ids = df.select("message_id").collect().map(_.getString(0)).toSet
          seen.add(epoch -> ids); ()
        }, ckpt)
    }

    pass()
    val delivered = seen.asScala.toVector
    assert(delivered.map(_._2.size).sum == 20, "all messages delivered once")

    // ... the sink ran for the last epoch, but its ack (commit verdict)
    // is lost — the crash-between-write-and-commit window
    val unacked = StreamReplay.forceLastEpochReplay(ckpt)
    pass()
    val after = seen.asScala.toVector.drop(delivered.size)

    assert(after.nonEmpty, "restart must re-run the unacked epoch")
    assert(after.head._1 == unacked,
      s"first redelivery must be the unacked epoch $unacked, got ${after.head._1}")
    val first = delivered.find(_._1 == unacked).get._2
    assert(after.head._2 == first,
      "redelivery must carry exactly the unacked messages (same offset range)")
    // and nothing BEFORE the unacked epoch is redelivered (acked = done)
    assert(after.map(_._1).forall(_ >= unacked),
      "acked epochs must not be redelivered")
  }
}
