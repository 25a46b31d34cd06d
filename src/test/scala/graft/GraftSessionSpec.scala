package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.Stage
import graft.queries.{RegistrySweep, SharedEventsTopic}
import graft.streaming.StreamGate

/** The tested session is the benched session: every spec runs under the
  * confs Bench and Verify run under, so a conf-dependent failure (the
  * RocksDB snapshot-upload deadlock under checkpoint file checksums,
  * say) cannot hide behind a test-only configuration.
  *
  * And `GraftSession.release` is the end of a query's life: its temp
  * roots are deleted there, while session-scoped roots survive. */
class GraftSessionSpec extends SparkSpec {

  test("SparkSpec.session carries every conf GraftSession.build sets") {
    assert(spark.sparkContext.master == "local[4]")
    GraftSession.confs(4).foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), s"$k")
    }
  }

  test("a session's file: URIs resolve to the engine's filesystem for both Hadoop APIs") {
    val conf = spark.sessionState.newHadoopConf()
    val local = java.net.URI.create("file:///")
    assert(org.apache.hadoop.fs.FileSystem.get(local, conf)
      .isInstanceOf[graft.hadoop.NoChecksumLocalFileSystem])
    assert(org.apache.hadoop.fs.FileContext.getFileContext(local, conf)
      .getDefaultFileSystem.isInstanceOf[graft.hadoop.ForkFreeLocalFs])
  }

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  /** The `graft-*` directories under the temp dir now. */
  private def graftRoots(): Set[Path] = {
    val st = Files.list(tmp)
    try st.iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft-")).toSet
    finally st.close()
  }

  /** The `graft-*` roots that `body` leaves in the temp dir. */
  private def rootsMadeBy(body: => Unit): Set[Path] = {
    val before = graftRoots()
    body
    graftRoots() -- before
  }

  /** Every file under `root`, relative path to bytes. */
  private def files(root: Path): Map[String, Seq[Byte]] = {
    val st = Files.walk(root)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString ->
        Files.readAllBytes(p).toSeq).toMap
    finally st.close()
  }

  /** The WARN messages `TempRoots` logs while `body` runs. */
  private def tempRootWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val appender = new AbstractAppender("graft-session-spec", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == org.apache.logging.log4j.Level.WARN)
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger(TempRoots.getClass.getName).asInstanceOf[Logger]
    // a logger config of its own, passing on to the console like before,
    // and removed again afterwards
    logger.addAppender(appender)
    logger.setAdditive(true)
    try body finally {
      logger.getContext.getConfiguration.removeLogger(logger.getName)
      logger.getContext.updateLoggers()
      appender.stop()
    }
    seen.asScala.toSeq
  }

  test("a stream gate makes one root, and release deletes it") {
    val made = rootsMadeBy(
      QueryRegistry.byName("m06_retry_pacing").run(spark, small).count())
    assert(made.size == 1, s"m06 made ${made.mkString(", ")}")
    GraftSession.release(spark)
    assert(made.filter(Files.exists(_)).isEmpty)
  }

  test("release deletes the root of a query that threw after creating it") {
    val noFixture = tmpDir("no-fixture") // no events table in it
    val made = rootsMadeBy(intercept[Exception](
      QueryRegistry.byName("ps01_stream_ingest").run(spark, noFixture)))
    assert(made.nonEmpty)
    GraftSession.release(spark)
    assert(made.filter(Files.exists(_)).isEmpty)
  }

  test("session-scoped roots survive release; a later gate copies a " +
      "byte-identical topic") {
    val base = Paths.get(SharedEventsTopic.basePlain(spark, small))
    val published = files(base)
    val own = Paths.get(tmpDir("graft-spec-own"))
    val reliable = StreamGate.withConf(spark,
        Seq("spark.graft.checkpoint" -> "reliable")) {
      Stage.stage(spark.range(3).toDF()).count()
      spark.sparkContext.getCheckpointDir.get
    }
    QueryRegistry.byName("ws13_stream_sketch_store").run(spark, small).count()
    GraftSession.release(spark)
    assert(Files.isDirectory(base))
    assert(Files.isDirectory(own))
    assert(Files.isDirectory(
      Paths.get(new org.apache.hadoop.fs.Path(reliable).toUri.getPath)))
    val copy = Paths.get(TempRoots.create("graft-spec-copy"))
    TempRoots.copy(base.toString, copy.toString)
    assert(files(copy) == published)
    GraftSession.release(spark)
    assert(!Files.exists(copy))
  }

  test("a root that cannot be deleted makes release warn, not throw") {
    val root = Paths.get(TempRoots.create("graft-stuck"))
    // path-based deletes cannot reach an entry whose path is longer than
    // PATH_MAX (4096 bytes on Linux), whoever runs them: nest one ~2.4 kB
    // chain of directories inside another with a rename, each under the
    // limit on its own
    val chain = Seq.fill(20)("d" * 120).mkString("/")
    val outer = Files.createDirectories(root.resolve("a").resolve(chain))
    Files.createDirectories(root.resolve("b").resolve(chain))
    val nested = Files.move(root.resolve("b"), outer.resolve("b"))
    try {
      val warnings = tempRootWarnings(GraftSession.release(spark))
      assert(Files.exists(root))
      assert(warnings.exists(_.contains(root.toString)), warnings)
    } finally {
      Files.move(nested, root.resolve("b"))
      assert(TempRoots.delete(root))
    }
  }

  test("RegistrySweep records every fact before release deletes the " +
      "query's roots") {
    var facts: Option[RegistrySweep.Facts] = None
    val left = rootsMadeBy {
      facts = RegistrySweep.sweep(small, Set("m10_effectively_once"),
        _ => false).get("m10_effectively_once")
    }
    assert(left.isEmpty, s"m10 left ${left.mkString(", ")}")
    facts.get.productIterator.foreach(f =>
      assert(f.asInstanceOf[scala.util.Try[_]].isSuccess, f))
    // what a fact read after the release would meet: m10's result reads
    // the landing dir under its root
    val df = QueryRegistry.byName("m10_effectively_once").run(spark, small)
    GraftSession.release(spark)
    intercept[Exception](df.count())
  }
}
