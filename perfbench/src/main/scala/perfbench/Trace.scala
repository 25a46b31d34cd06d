package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in microseconds with nanoTime resolution: due times,
  * batch end stamps and spans all read this one clock. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

object Stats {
  /** Nearest-rank percentile; NaN for no samples. */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

final case class Span(id: Int, parent: Int, name: String, key: String,
    startUs: Long, endUs: Long) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * A span also sets the Spark job group to `<name>|<key>` for its
  * duration, so the [[Layers]] listener attributes the jobs it runs;
  * the previous group is restored after. When tracing is off, `span`
  * only runs its body. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Integer] {
    override def initialValue(): Integer = -1
  }
  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"

  def span[T](name: String, key: String)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val prevGroup = sc.getLocalProperty(GroupKey)
      val prevDesc = sc.getLocalProperty(DescKey)
      sc.setLocalProperty(GroupKey, s"$name|$key")
      sc.setLocalProperty(DescKey, s"$key $name")
      val t0 = Clock.nowUs
      try f
      finally {
        val t1 = Clock.nowUs
        sc.setLocalProperty(GroupKey, prevGroup)
        sc.setLocalProperty(DescKey, prevDesc)
        current.set(parent)
        spans.synchronized { spans += Span(id, parent, name, key, t0, t1) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
}

/** Task, stage and job counts per job group (one group per span),
  * summed from the listener bus. */
final class Layers extends SparkListener {
  final class Agg {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var mapStageRunMs = 0L
    var peakMem = 0L
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val aggs = new ConcurrentHashMap[String, Agg]()
  private def agg(g: String) = aggs.computeIfAbsent(g, _ => new Agg)
  private def groupOf(stageId: Int) = stageGroup.getOrDefault(stageId, "other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).filter(_.contains("|"))
      .getOrElse("other")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val a = agg(g)
    a.synchronized(a.jobs += 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = agg(groupOf(e.stageInfo.stageId))
    val m = e.stageInfo.taskMetrics
    a.synchronized {
      a.stages += 1
      // stages that write shuffle output are the map side of a job —
      // for a publish, the scan and payload projection ahead of the
      // store's routing exchange
      if (m != null && m.shuffleWriteMetrics.bytesWritten > 0)
        a.mapStageRunMs += m.executorRunTime
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(groupOf(e.stageId))
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      }
    }
  }

  /** Aggregates of the groups of every span named `name`. */
  def layer(name: String): Seq[Agg] =
    aggs.asScala.collect { case (g, a) if g.takeWhile(_ != '|') == name => a }.toSeq
  def everything: Seq[Agg] = aggs.values().asScala.toSeq

  /** The `spark.*` per-layer metrics over `wallS` seconds on `cores`. */
  def sparkMetrics(wallS: Double, cores: Int): Map[String, Double] = {
    val as = everything
    def sum(f: Agg => Long) = as.map(f).sum.toDouble
    val runS = sum(_.runMs) / 1000.0
    Map(
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.core_idle_frac" ->
        (if (wallS > 0) math.max(0.0, 1.0 - runS / (cores * wallS)) else 0.0),
      "spark.gc_s" -> sum(_.gcMs) / 1000.0,
      "spark.shuffle_read_mb" -> sum(_.shuffleRead) / 1048576.0,
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / 1048576.0,
      "spark.spill_mb" -> sum(_.spill) / 1048576.0,
      "spark.peak_exec_mem_mb" ->
        (if (as.isEmpty) 0.0 else as.map(_.peakMem).max / 1048576.0))
  }
}

/** Progress of every micro-batch of every stream (traced runs only). */
final class Progress extends StreamingQueryListener {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    buf.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = buf.asScala.toSeq

  private def dur(p: StreamingQueryProgress, k: String): Option[Double] =
    Option(p.durationMs.get(k)).map(_.doubleValue)

  /** The `source.*` and `stream.*` per-layer metrics over every trigger
    * that ran a micro-batch. */
  def metrics: Map[String, Double] = {
    val ps = all
    def p50(k: String) = Stats.median(ps.flatMap(dur(_, k)))
    def zero(v: Double) = if (v.isNaN) 0.0 else v
    Map(
      "source.triggers" -> ps.size.toDouble,
      "source.input_rows" -> ps.map(_.numInputRows.toDouble).sum,
      "source.latest_offset_ms_p50" -> zero(p50("latestOffset")),
      "source.get_batch_ms_p50" -> zero(p50("getBatch")),
      "source.rows_per_trigger_p50" -> zero(Stats.median(ps.map(_.numInputRows.toDouble))),
      "stream.trigger_ms_p50" -> zero(p50("triggerExecution")),
      "stream.trigger_ms_p95" ->
        zero(Stats.pct(ps.flatMap(dur(_, "triggerExecution")), 0.95)),
      "stream.query_planning_ms_p50" -> zero(p50("queryPlanning")),
      "stream.add_batch_ms_p50" -> zero(p50("addBatch")),
      "stream.wal_commit_ms_p50" -> zero(p50("walCommit")),
      "stream.commit_offsets_ms_p50" -> zero(p50("commitOffsets")))
  }
}
