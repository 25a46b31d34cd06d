package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamGate

/** Top-N pushdown on publish_time (SupportsPushDownTopN): "latest N"
  * over a topic of any size serves N rows per partition — the slice
  * tail — instead of a full scan, because the per-partition log IS
  * publish-time order. That precondition is now TRACKED: appends below
  * the high-water mark the partition unsorted (sticky), and an
  * unsorted partition falls back to its whole slice (more rows, never
  * wrong). The spec pins the plan marker, head/tail slice capping
  * (observed through the planner's own slices), ordering correctness,
  * the unsorted fallback, and refusal on other sort columns. */
class TopNPushdownSpec extends SparkSpec {

  private val t0 = 1700000000000L

  private def publishEvents(root: String, n: Int, parts: Int = 2): Unit = {
    import spark.implicits._
    val df = (0 until n).map { i =>
      (s"k$i", s"payload-$i", Map("seq" -> i.toString),
        new java.sql.Timestamp(t0 + i * 1000L), "text/plain")
    }.toDF("key", "value_str", "properties", "publish_time", "content_type")
    TopicStore.publish(spark, df, root, "events", parts)
  }

  test("latest-N serves slice tails; first-N serves heads; order correct") {
    val root = tmpDir("topn")
    publishEvents(root, 60)

    val latest = StreamGate.read(spark, root, "events")
      .orderBy(col("publish_time").desc).limit(5)
    val lPlan = latest.queryExecution.executedPlan.toString
    assert(lPlan.contains("PushedTopN=[publish_time DESC, 5]"), lPlan)
    val got = latest.select(expr("int(properties['seq'])"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == (59 to 55 by -1), s"latest-5 wrong: $got")

    val first = StreamGate.read(spark, root, "events")
      .orderBy(col("publish_time")).limit(4)
    val fPlan = first.queryExecution.executedPlan.toString
    assert(fPlan.contains("PushedTopN=[publish_time ASC, 4]"), fPlan)
    assert(first.select(expr("int(properties['seq'])"))
      .collect().map(_.getInt(0)).toSeq == (0 until 4))

    // the cap is physical: the planner's slices serve ≤ N rows per
    // partition, not the whole log
    val conf = graft.model.PulsarLikeConf.fromOptions(
      StreamGate.address(root, "events"))
    val capped = new PulsarLikeBatch(conf, root,
      topN = Some((false, 5))).slices
    capped.foreach { case (_, _, p, s, e, _, _) =>
      assert(e - s <= 5, s"partition $p slice not capped: [$s,$e)")
    }
  }

  test("an out-of-order append flips tsorted and disables the cap") {
    val root = tmpDir("topn-unsorted")
    publishEvents(root, 20, parts = 1)
    assert(TopicStore.PartMeta.read(
      TopicStore.topicDir(root, "events"), 0).tsorted)
    // a late append BELOW the high-water: the broker-assigned-time
    // premise is broken, the flag flips and stays
    TopicStore.append(root, "events", 0, Seq(TopicStore.Msg(
      null, "late", java.util.Base64.getEncoder.encodeToString(
        "late".getBytes), Map("seq" -> "99"), (t0 - 5000L) * 1000L,
      (t0 - 5000L) * 1000L, 0, "text/plain")))
    assert(!TopicStore.PartMeta.read(
      TopicStore.topicDir(root, "events"), 0).tsorted)

    // top-N still answers CORRECTLY (full-slice fallback + Spark sort)
    val latest = StreamGate.read(spark, root, "events")
      .orderBy(col("publish_time").desc).limit(3)
    assert(latest.select(expr("int(properties['seq'])"))
      .collect().map(_.getInt(0)).toSeq == Seq(19, 18, 17))
    val conf = graft.model.PulsarLikeConf.fromOptions(
      StreamGate.address(root, "events"))
    val slices = new PulsarLikeBatch(conf, root,
      topN = Some((false, 3))).slices
    assert(slices.exists { case (_, _, _, s, e, _, _) => e - s == 21 },
      s"unsorted partition should fall back to the whole slice: $slices")
  }

  test("ordering by any other column refuses the pushdown") {
    val root = tmpDir("topn-no")
    publishEvents(root, 10)
    val byKey = StreamGate.read(spark, root, "events").orderBy(col("key")).limit(3)
    val plan = byKey.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedTopN"), plan)
    assert(byKey.count() == 3L)
  }
}
