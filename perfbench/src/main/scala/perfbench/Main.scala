package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload needs from the harness. `in` holds the generated
  * inputs, `work` is scratch space, `out` receives files for the
  * checks run after the JVM exits. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
    seconds: Int, cores: Int, in: String, work: String, out: String,
    params: Map[String, String]) {
  def param(k: String): String = params.getOrElse(k,
    throw new IllegalArgumentException(s"missing --param $k"))
}

/** The result of one measured phase: raw observations for the checks
  * and end-to-end metrics, per-layer metrics when traced, and the
  * operations the JVM itself saw fail (timeouts, exceptions). */
final class Phase {
  val raw = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  def fail(what: String, n: Long = 1L): Unit = { failed += n; errors += what }
  /** Heap in use after a full GC, taken by the workload once its fixed
    * warm-up work is done, so it does not vary with how many timed
    * iterations fit in the run. Unpersisted blocks are removed
    * asynchronously; the sample waits until storage memory stops
    * changing (at most 5 s) so it does not count blocks in flight. */
  var liveHeapMb = Double.NaN
  def sampleHeap(sc: org.apache.spark.SparkContext): Unit = {
    def storage = sc.getExecutorMemoryStatus.values.map { case (m, f) => m - f }.sum
    val until = System.nanoTime() + 5000000000L
    var last = -1L
    var now = storage
    while (now != last && System.nanoTime() < until) {
      Thread.sleep(200)
      last = now
      now = storage
    }
    // objects freed by a GC can release blocks (broadcasts, shuffle
    // state) only once the context cleaner has run: GC a few times with
    // pauses and keep the smallest reading
    val rt = Runtime.getRuntime
    liveHeapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      System.gc()
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }
}

trait Workload {
  /** One set-up from scratch; the last one's state is what `measure`
    * runs against. */
  def setup(rep: Int): Unit
  def measure(tracer: Tracer, layers: Option[(Layers, Progress)]): Phase
}

object Main {
  /** Set-ups per run. The first runs cold, so the reported median is set
    * by the warm ones. */
  val SetupReps = 5
  /** Timed iterations (drain rounds, catalog passes) a run makes at
    * least, past its seconds if need be: the JIT is still warming up
    * through a short run, so every run must time the same stretch of it
    * for runs to compare. */
  val MinTimed = 2

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toSeq
    val single = opts.filter(_._1 != "param").toMap
    val params = opts.filter(_._1 == "param").map(_._2.split("=", 2))
      .map(a => a(0) -> a(1)).toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val work = single("work")
    val sessionT0 = System.nanoTime()
    val spark = Session.build(cores, work)
    val sessionS = (System.nanoTime() - sessionT0) / 1e9
    val ctx = Ctx(spark, single("workload"), single("seed").toLong,
      single("seconds").toInt, cores, single("in"), work, single("out"), params)
    val trace = single("trace") == "1"
    val result = mutable.LinkedHashMap.empty[String, Any]
    var code = 0
    try {
      val w: Workload = ctx.workload match {
        case "ingest" => new Ingest(ctx)
        case "drain" => new Drain(ctx)
        case "catalog" => new Catalog(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val setups = (1 to SetupReps).map { i =>
        val t0 = System.nanoTime()
        w.setup(i)
        (System.nanoTime() - t0) / 1e9
      }
      result("setup_s") = setups
      // a traced run measures only traced, after the same set-up and
      // warm-up an untraced run gets, so the two compare
      val measureT0 = System.nanoTime()
      val phase = if (!trace) w.measure(new Tracer(false, spark.sparkContext), None)
      else {
        val layers = new Layers
        val progress = new Progress
        spark.sparkContext.addSparkListener(layers)
        spark.streams.addListener(progress)
        val tracer = new Tracer(true, spark.sparkContext)
        val traced = w.measure(tracer, Some((layers, progress)))
        spark.streams.removeListener(progress)
        spark.sparkContext.removeSparkListener(layers)
        result("spans") = tracer.all.map(s => Map("id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "key" -> s.key,
          "start_us" -> s.startUs, "end_us" -> s.endUs))
        traced
      }
      result("phase") = phaseJson(phase)
      result("measure_s") = (System.nanoTime() - measureT0) / 1e9
      result("live_heap_mb") = phase.liveHeapMb
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result("fatal") = e.toString
        code = 3
    }
    result("facts") = Map(
      "nproc" -> cores,
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "session_s" -> sessionS,
      "spark_confs" -> Session.nonDefault(spark))
    Json.write(Paths.get(ctx.out, "result.json"), result)
    // bounded stop: a wedged query must not hold the JVM past the run
    try Await.ready(Future(spark.stop())(scala.concurrent.ExecutionContext.global),
      30.seconds)
    catch { case _: Throwable => () }
    sys.exit(code)
  }

  def phaseJson(p: Phase): Map[String, Any] = Map(
    "raw" -> p.raw.toMap, "layers" -> p.layers.toMap,
    "attempted" -> p.attempted, "failed" -> p.failed, "errors" -> p.errors.toList)

  /** Run `f` with a deadline. A hang or a throw becomes `Left`; on a
    * hang the streams and Spark jobs are cancelled, so the benchmark
    * degrades instead of hanging. */
  def withTimeout[T](spark: SparkSession, seconds: Double)(f: => T): Either[String, T] = {
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newSingleThreadExecutor())
    try Right(Await.result(Future(f)(ec), seconds.seconds))
    catch {
      case _: java.util.concurrent.TimeoutException =>
        spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
        spark.sparkContext.cancelAllJobs()
        Left(s"timed out after ${seconds}s")
      case e: Throwable => Left(e.toString)
    } finally ec.shutdown()
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.deleteIfExists(x))
      finally st.close()
    }
  }
}

object Session {
  /** The confs graft.Bench sets, plus scratch locations inside the
    * benchmark's work directory. */
  def confs(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.cleaner.periodicGC.interval" -> "1min",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.hadoop.fs.file.impl" -> "graft.hadoop.NoChecksumLocalFileSystem",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.graft.checkpoint.dir" -> s"$work/checkpoints")

  def build(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    confs(cores, work).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Effective values of the confs set here (all differ from Spark's
    * defaults), as the session reports them. */
  def nonDefault(spark: SparkSession): Map[String, String] =
    confs(1, "").map(_._1).filterNot(k => k.startsWith("spark.local") ||
      k.contains("warehouse") || k.contains("checkpoint.dir"))
      .map(k => k -> spark.conf.getOption(k).orElse(spark.sparkContext.getConf.getOption(k))
        .getOrElse("unset")).toMap
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case null => null
    case x => x.asInstanceOf[AnyRef]
  }
  def write(path: java.nio.file.Path, v: Any): Unit =
    Files.writeString(path, mapper.writeValueAsString(toJava(v)))
}
