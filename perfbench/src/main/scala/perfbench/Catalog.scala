package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.operators.Stage

/** Closed loop, one client: a fixed list of registry queries in one
  * shared session, each pass in a seed-permuted order. A query's time
  * is its build plus a full-result action (the noop sink). Between
  * queries, outside the timer, the harness records Stage's tracked
  * count and storage memory and then does graft.Bench's cleanup.
  *
  * The first pass is the checked one: it writes every result for the
  * DuckDB oracle compare and absorbs JIT and codegen warm-up; it is not
  * timed into the metrics. */
final class Catalog(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val sfDir = s"${ctx.in}/sf"
  private val queries: Seq[String] = ctx.param("queries").split(",").toSeq
  private val registry = SparkEntry.queries

  /** Set-up: scan every generated table (the ones the queries read)
    * once, as graft.Bench's warm-up does for every table. */
  def setup(rep: Int): Unit =
    new java.io.File(sfDir).list().filter(_.endsWith(".parquet")).sorted
      .foreach(f => graft.Tables(spark, sfDir, f.stripSuffix(".parquet")).count())

  private def cleanup(obs: Stage0, key: String): Unit = {
    val tracked = Stage.trackedCount(spark.sparkContext)
    val mem = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0
    obs.tracked = math.max(obs.tracked, tracked)
    obs.storageMb = math.max(obs.storageMb, mem)
    obs.perQuery += Map("query" -> key, "tracked" -> tracked, "storage_mb" -> mem)
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    Stage.drain(spark)
  }

  /** Stage's tracked count and storage memory after each query, before
    * its cleanup: the instrument for shared-session pressure. */
  private final class Stage0 {
    var tracked = 0
    var storageMb = 0.0
    val perQuery = ArrayBuffer.empty[Map[String, Any]]
  }

  def measure(tracer: Tracer, obs: Option[(Layers, Progress)]): Phase = {
    val phase = new Phase
    val stage = new Stage0
    val timeoutS = Catalog.QueryTimeoutS
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Json.write(java.nio.file.Paths.get(ctx.out, "oracle_sql.json"), oracle)
    queries.foreach { name =>
      val r = Main.withTimeout(spark, timeoutS) {
        registry(name)(spark, sfDir).write.mode("overwrite")
          .parquet(s"${ctx.out}/results/$name")
      }
      r.left.foreach(e => phase.fail(s"$name (checked pass): $e"))
      phase.attempted += 1
      cleanup(stage, s"$name/checked")
    }
    phase.sampleHeap(spark.sparkContext)
    val build = mutable.Map.empty[String, ArrayBuffer[Double]]
    val action = mutable.Map.empty[String, ArrayBuffer[Double]]
    val passes = ArrayBuffer.empty[Double]
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val wallT0 = Clock.nowUs
    var pass = 0
    while (pass < Main.MinTimed || System.nanoTime() < deadline) {
      val order = new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(queries)
      var passS = 0.0
      order.foreach { name =>
        val key = s"$name/$pass"
        val r = Main.withTimeout(spark, timeoutS) {
          val t0 = System.nanoTime()
          val df: DataFrame = tracer.span("queries.build", key)(registry(name)(spark, sfDir))
          val t1 = System.nanoTime()
          tracer.span("queries.action", key)(df.write.format("noop").mode("overwrite").save())
          val t2 = System.nanoTime()
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        }
        phase.attempted += 1
        r match {
          case Right((b, a)) =>
            build.getOrElseUpdate(name, ArrayBuffer.empty) += b
            action.getOrElseUpdate(name, ArrayBuffer.empty) += a
            passS += b + a
          case Left(e) =>
            phase.fail(s"$key: $e")
            passS += timeoutS
        }
        cleanup(stage, key)
      }
      passes += passS
      pass += 1
    }
    phase.raw("pass_s") = passes.toList
    phase.raw("stage_after_query") = stage.perQuery.toList
    phase.raw("query_s") = queries.map(q => q -> build.getOrElse(q, Nil).zip(
      action.getOrElse(q, Nil)).map { case (b, a) => b + a }.toList).toMap
    if (tracer.on) {
      val (layers, progress) = obs.get
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      def med(m: mutable.Map[String, ArrayBuffer[Double]], q: String) =
        Stats.median(m.getOrElse(q, ArrayBuffer.empty[Double]))
      queries.foreach { q =>
        phase.layers(s"queries.${q}_s") = med(build, q) + med(action, q)
      }
      phase.layers("queries.build_s") = queries.map(med(build, _)).sum
      phase.layers("queries.action_s") = queries.map(med(action, _)).sum
      phase.layers("stage.tracked_after_query_max") = stage.tracked.toDouble
      phase.layers("stage.storage_mem_mb_after_query_max") = stage.storageMb
      phase.layers ++= progress.metrics
      phase.layers ++= layers.sparkMetrics((Clock.nowUs - wallT0) / 1e6, ctx.cores)
    }
    phase
  }
}

object Catalog {
  /** A query past this deadline is cancelled and counted as failed. */
  val QueryTimeoutS = 60.0
}
