package graft.queries

import scala.collection.immutable.VectorMap
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.{GraftSession, QueryRegistry, SparkSpec}
import graft.Fixtures.{large, small}

/** One build of every registered query per scale for the seven
  * registry-wide lints (PlanSpec's window, decimal, broadcast, cartesian
  * and RDD-fallback tests, FloatSurfaceSpec, RoundTieSpec). A build's
  * staging and checkpoint actions cost far more than any assertion, so
  * every fact a lint reads is recorded from one DataFrame and the
  * session is released before the next query. A fact that could not be
  * recorded (a failed build fails them all) fails every lint reading it. */
object RegistrySweep {

  /** Queries whose run() executes a stream end-to-end (publish + consume
    * + landed parquet): their executed plan is the final parquet read,
    * not the streaming pipeline, so PlanSpec's plan-shape lints skip
    * them. m11 and m12 are NOT here: they publish, then batch-read the
    * topic through a real DSv2 scan worth sweeping. */
  val streamLoops: Set[String] = Set("ps01_stream_ingest",
    "m06_retry_pacing", "m07_chunked_ingest", "m10_effectively_once",
    "m13_exactly_once_relay", "m14_roundtrip", "w04_stream_interval_join",
    "w05_stream_outer_join", "w06_stream_full_outer_join",
    "w07_stream_semi_join", "w08_stream_join_window", "w09_stream_enrich",
    "ws01_watermarked_window", "ws02_watermarked_sliding",
    "ws03_watermarked_session", "ws04_update_mode_window",
    "ws05_complete_mode", "ws06_drop_accounting", "ws07_tws_topk",
    "ws08_dynamic_session", "ws09_chained_windows",
    "ws10_dedup_then_window", "ws11_stream_psi", "ws12_stream_cusum",
    "ws13_stream_sketch_store", "ws14_stream_kll_shards",
    "d07_incremental_dedup", "s10_ann_incremental", "d20_stream_neardup")

  /** Streaming queries whose Spark rendering rounds doubles — tie-linted
    * despite the choreography cost. */
  val streamingIncludes: Set[String] = Set("ws11_stream_psi")

  /** RoundTieSpec's scope: every batch family, plus [[streamingIncludes]]. */
  lazy val tieLinted: Set[String] = {
    val streaming = (StreamingQueries.all ++ MessageQueries.all).map(_.name).toSet
    QueryRegistry.all.map(_.name)
      .filter(n => !streaming(n) || streamingIncludes(n)).toSet
  }

  /** What the lints read from one build of one query. */
  final case class Facts(
      windows: Try[Seq[String]], // unpartitioned Windows over unreduced data
      decimals: Try[Seq[String]], // decimal multiplies/divides beyond 38 digits
      hintRows: Try[Seq[Long]], // rows of each broadcast-hinted side, in plan order
      plan: Try[String], // the executed plan
      schema: Try[StructType],
      roundTies: Try[Seq[String]]) // RoundTieLint problems; empty unless tie-linted

  lazy val atSmall: VectorMap[String, Facts] = sweep(small, _ => true, _ => false)
  lazy val atLarge: VectorMap[String, Facts] =
    sweep(large, n => !streamLoops(n) || tieLinted(n), tieLinted)

  /** The fact's value, or the failure that kept it from being recorded. */
  def value[T](name: String, fact: Try[T]): T = fact match {
    case Success(v) => v
    case Failure(e) => throw new AssertionError(s"$name: ${e.getMessage}", e)
  }

  private def attempt[T](body: => T): Try[T] =
    try Success(body) catch { case e: Throwable => Failure(e) }

  private[graft] def sweep(dir: String, in: String => Boolean,
      tie: String => Boolean): VectorMap[String, Facts] = {
    val spark = SparkSpec.session
    VectorMap.from(QueryRegistry.all.filter(q => in(q.name)).map { q =>
      q.name -> (try {
        attempt(q.run(spark, dir)) match {
          case Failure(e) => Facts(Failure(e), Failure(e), Failure(e),
            Failure(e), Failure(e), Failure(e))
          case Success(df) =>
            val qe = df.queryExecution
            Facts(
              attempt(unboundedWindows(qe.optimizedPlan)),
              attempt(decimalProblems(qe.analyzed)),
              attempt(qe.analyzed.collect {
                case h: ResolvedHint if h.hints.strategy.exists(
                    _.toString.contains("broadcast")) => h.child
              }.map(spark.sessionState.executePlan(_).toRdd.count())),
              attempt(qe.executedPlan.toString),
              attempt(df.schema),
              if (tie(q.name))
                attempt(RoundTieLint.lint(q.name, df))
              else Success(Nil))
        }
        // every fact is a value, recorded before release deletes the
        // query's temp roots (GraftSessionSpec: "RegistrySweep records
        // every fact before release deletes the query's roots")
      } finally GraftSession.release(spark))
    })
  }

  /** PlanSpec's global-window rule: a row bound over every leaf. */
  private def unboundedWindows(plan: LogicalPlan): Seq[String] = {
    def bounded(p: LogicalPlan): Boolean = p match {
      case _: GlobalLimit => true // explicit row bound
      case _: LocalLimit => true
      case _: LocalRelation => true // literal table
      case _: OneRowRelation => true
      case l if l.children.isEmpty => false // unreduced leaf reached
      case o => o.children.forall(bounded)
    }
    plan.collect {
      case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
        w.toString
    }
  }

  /** PlanSpec's decimal-parity rule, in Spark's own result-type formulas. */
  private def decimalProblems(plan: LogicalPlan): Seq[String] =
    plan.flatMap(_.expressions.flatMap(_.flatMap {
      case m: Multiply => (m.left.dataType, m.right.dataType) match {
        case (a: DecimalType, b: DecimalType) =>
          val need = a.precision + b.precision + 1
          Option.when(need > 38)("decimal multiply " +
            s"(${a.precision},${a.scale})·(${b.precision},${b.scale})" +
            s" needs $need > 38 digits —" +
            s" Spark shrinks scale with per-row rounding: $m")
        case _ => None
      }
      case d: Divide => (d.left.dataType, d.right.dataType) match {
        case (a: DecimalType, b: DecimalType) =>
          val need = a.precision - a.scale + b.scale +
            math.max(6, a.scale + b.precision + 1)
          Option.when(need > 38)("decimal divide " +
            s"(${a.precision},${a.scale})/(${b.precision},${b.scale})" +
            s" needs $need > 38 digits — Spark shrinks scale: $d")
        case _ => None
      }
      case _ => None
    }))
}
