package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.StreamGate

/** DSv2 write path: batch + streaming producers into the topic store,
  * and routing consistency with the DataFrame publish path (same key →
  * same partition regardless of write path). */
class PulsarLikeSinkSpec extends SparkSpec {

  private def canonical(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (s"k${i % 3}", s"msg-$i", Map("i" -> i.toString),
        new java.sql.Timestamp(1700000000000L + i * 1000L), "text/plain")
    }.toDF("key", "value_str", "properties", "publish_time", "content_type")
      .withColumn("value", col("value_str").cast("binary"))
  }

  test("batch write publishes; consumer reads it back") {
    val root = tmpDir("sink")
    canonical(12).write.format("pulsarlike")
      .options(StreamGate.address(root, "out"))
      .mode("append")
      .save()
    val back = StreamGate.read(spark, root, "out")
    assert(back.count() == 12)
    val r = back.filter(col("value_str") === "msg-5").collect()(0)
    assert(r.getAs[String]("key") == "k2")
    assert(r.getAs[Map[String, String]]("properties")("i") == "5")
  }

  test("streaming write: source -> transform -> pulsarlike sink round trip") {
    val root = tmpDir("sink")
    TopicStore.publish(spark, canonical(20), root, "in", 2)
    StreamGate.run(spark, StreamGate.source(spark, root, "in", 7L)
      .withColumn("value_str", upper(col("value_str")))
      .withColumn("value", col("value_str").cast("binary"))
      .withColumn("message_id", lit(null).cast("string")) // sink re-assigns
      .writeStream
      .format("pulsarlike")
      .options(StreamGate.address(root, "out")), tmpDir("ckpt"))
    val out = StreamGate.read(spark, root, "out")
    assert(out.count() == 20)
    assert(out.filter(col("value_str") === "MSG-7").count() == 1)
  }

  test("sink routing agrees with the publish path: one partition per key") {
    val root = tmpDir("sink")
    // half the keys through publish(), half through the DSv2 writer
    TopicStore.publish(spark, canonical(10), root, "t", 4)
    canonical(10).write.format("pulsarlike")
      .options(StreamGate.address(root, "t"))
      .mode("append").save()
    val perKey = StreamGate.read(spark, root, "t")
      .select(col("key"), expr("split(message_id, ':')[2]").as("p"))
      .distinct()
      .groupBy("key").count().collect()
    assert(perKey.forall(_.getLong(1) == 1L),
      s"same key split across partitions: ${perKey.mkString(",")}")
  }
}
