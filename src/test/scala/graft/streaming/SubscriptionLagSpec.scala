package graft.streaming

import graft.SparkSpec
import graft.sources.TopicStore

/** SubscriptionLag reads the backlog metric (log end minus the last
  * COMMITTED checkpoint offset) the way an operator would: zero after
  * a drained run, the exact backlog after new publishes, the full log
  * for a subscription that never committed — and never message data. */
class SubscriptionLagSpec extends SparkSpec {

  private def publishEvents(root: String, n: Int, from: Int = 0): Unit = {
    import spark.implicits._
    val df = (from until from + n).map { i =>
      (s"k${i % 5}", s"payload-$i",
        new java.sql.Timestamp(1700000000000L + i * 1000L))
    }.toDF("key", "value_str", "publish_time")
    TopicStore.publish(spark, df, root, "events", 4)
  }

  test("lag: full log before any commit, zero after drain, exact backlog after") {
    val root = tmpDir("lagstore")
    val ckpt = tmpDir("lagckpt")
    publishEvents(root, 40)

    // a subscription that never committed owes the whole log
    val fresh = SubscriptionLag.report(spark, root, ckpt)
      .agg(org.apache.spark.sql.functions.sum("lag")).head.getLong(0)
    assert(fresh == 40, s"fresh-subscription lag $fresh != 40")

    StreamGate.run(spark,
      StreamGate.source(spark, root, "events", StreamGate.PlainCap)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.count(): Unit
        }, ckpt)
    val drained = SubscriptionLag.report(spark, root, ckpt).collect()
    assert(drained.length == 4) // one row per partition
    assert(drained.forall(_.getAs[Long]("lag") == 0L),
      s"drained lag rows: ${drained.mkString(", ")}")
    assert(drained.forall(r =>
      r.getAs[Long]("committed_offset") == r.getAs[Long]("log_end")))

    // new backlog shows up without running the stream
    publishEvents(root, 12, from = 40)
    val behind = SubscriptionLag.report(spark, root, ckpt)
      .agg(org.apache.spark.sql.functions.sum("lag")).head.getLong(0)
    assert(behind == 12, s"backlog lag $behind != 12")
  }
}
