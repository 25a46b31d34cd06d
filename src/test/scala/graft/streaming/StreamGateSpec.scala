package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sources.TopicStore

/** StreamGate's contracts that no gate exercises on its own: `run`
  * restores the session after a failed pass, and the topic address is
  * written only in StreamGate. */
class StreamGateSpec extends SparkSpec {

  test("run holds its overrides during the pass and restores them when it fails") {
    import spark.implicits._
    val root = tmpDir("gate")
    TopicStore.publish(spark, Seq(("k", "v")).toDF("key", "value_str"),
      root, "t", 1)
    val shuffle = "spark.sql.shuffle.partitions"
    val zone = "spark.sql.session.timeZone"
    val probe = "spark.graft.gate.probe" // unset before the pass
    val keys = Seq(shuffle, zone, probe)
    val before = keys.map(spark.conf.getOption)
    assert(before(0) != Some("8") && before(1) != Some("Asia/Tokyo") &&
      before(2).isEmpty, s"overrides must differ from the session: $before")
    val during = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Option[String]]]
    val err = intercept[Exception] {
      StreamGate.run(spark, StreamGate.source(spark, root, "t", StreamGate.PlainCap)
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          during.add(keys.map(spark.conf.getOption))
          throw new IllegalStateException("planted batch failure")
        }, tmpDir("gate-ckpt"), statePartitions = Some(8),
        conf = Map(zone -> "Asia/Tokyo", probe -> "on"))
    }
    val chain = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    assert(chain.exists(_.contains("planted batch failure")), chain)
    assert(during.asScala.toSeq == Seq(Seq(Some("8"), Some("Asia/Tokyo"),
      Some("on"))), s"overrides during the pass: $during")
    assert(keys.map(spark.conf.getOption) == before,
      "a failed pass leaked a session override")
  }

  test("tripwire: only StreamGate writes the topic address in src/main") {
    // the local serviceUrl, typed anywhere else, is a hand-built address
    // that bypasses StreamGate.address/read/source
    val address = """option\("serviceUrl"|"pulsar://local"""".r
    val walk = Files.walk(Paths.get("src/main/scala"))
    val counts = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "StreamGate.scala")
      .map(p => p -> address.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    finally walk.close()
    assert(counts.isEmpty,
      s"topic address typed outside StreamGate: ${counts.mkString(", ")}; " +
        "read with StreamGate.read/source, produce with " +
        ".options(StreamGate.address(root, topic))")
  }
}
