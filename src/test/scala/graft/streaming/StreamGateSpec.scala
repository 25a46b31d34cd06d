package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sources.TopicStore

/** StreamGate's contracts that no gate exercises on its own: `run`
  * restores the session after a failed pass, a pass pays no per-pass
  * ceremony (no recompiles, no forked processes) and leaves the same
  * checkpoint files as before, and the topic address is written only in
  * StreamGate. */
class StreamGateSpec extends SparkSpec {
  import StreamGateSpec._

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

  test("a stateful pass reuses the code an earlier pass compiled") {
    // fresh roots and checkpoints, the same plan: with the session's
    // artifact isolation on, the second pass would recompile every class
    val (first, second) = (windowTopic(spark), windowTopic(spark))
    windowedCount(spark, first)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    val before = compiles.getCount
    windowedCount(spark, second)
    assert(compiles.getCount - before == 0,
      "the second pass compiled generated classes again")
  }

  test("a stateful pass with landing starts no chmod, readlink, ls or stat process") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val root = windowTopic(spark)
    val rec = new Recording()
    val dump = Files.createTempFile("gate-processes", ".jfr")
    val commands = try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try windowedCount(spark, root) finally rec.stop()
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
    val shellOuts = Set("chmod", "readlink", "ls", "stat")
    val forked = commands.filter(c =>
      shellOuts(Paths.get(c.trim.split("\\s+")(0)).getFileName.toString))
    assert(forked.isEmpty, s"${forked.size} processes forked: " +
      forked.take(5).mkString("; "))
  }

  test("a stateful pass leaves the checkpoint files it always left, .crc siblings included") {
    val root = windowTopic(spark)
    windowedCount(spark, root)
    val ckpt = Paths.get(root, ".ckpt")
    val walk = Files.walk(ckpt)
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => ckpt.relativize(p).toString).toSeq.sorted
    finally walk.close()
    assert(files == checkpointFiles.sorted, files.mkString("\n"))
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

object StreamGateSpec {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions.{col, window}

  /** A new topic store holding topic `t`: 40 events of 4 keys, ten
    * minutes apart, over two partitions. Returns its root. */
  def windowTopic(spark: SparkSession): String = {
    import spark.implicits._
    val root = graft.TempRoots.session("gate-window")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = (0 until 40).map(i =>
      (s"k${i % 4}", s"v$i", new java.sql.Timestamp(t0 + i * 600000L)))
    TopicStore.publish(spark, rows.toDF("key", "value_str", "event_time"),
      root, "t", 2)
    root
  }

  /** A small stateful gate over [[windowTopic]]' topic: a watermarked hourly
    * count per key, each micro-batch landed under `root/out`, checkpointed
    * at `root/.ckpt` on two state partitions. */
  def windowedCount(spark: SparkSession, root: String): Unit =
    StreamGate.run(spark, StreamGate.source(spark, root, "t", StreamGate.PlainCap)
      .withWatermark("event_time", "1 hour")
      .groupBy(window(col("event_time"), "1 hour"), col("key")).count()
      .writeStream
      .outputMode("append")
      .foreachBatch(StreamGate.land(root + "/out")),
      root + "/.ckpt", statePartitions = Some(2))

  /** The files [[windowedCount]]'s checkpoint holds after one pass: two
    * batches (the data batch and the no-data batch that finalizes its
    * windows) over two state partitions, every file with its `.crc`; the
    * state schema is written once, under partition 0. */
  val checkpointFiles: Seq[String] = Seq(".metadata.crc", "metadata") ++
    Seq("commits", "offsets").flatMap(d =>
      Seq(s"$d/.0.crc", s"$d/.1.crc", s"$d/0", s"$d/1")) ++
    Seq(0, 1).flatMap(p => Seq(s"state/0/$p/.1.delta.crc",
      s"state/0/$p/.2.delta.crc", s"state/0/$p/1.delta",
      s"state/0/$p/2.delta")) ++
    Seq("state/0/0/_metadata/.schema.crc", "state/0/0/_metadata/schema",
      "state/0/_metadata/.metadata.crc", "state/0/_metadata/metadata")
}
