package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column ⇄ Expression bridge. `ExpressionUtils` is `private[sql]` in
  * Spark 4, so libraries shipping native Catalyst expressions expose
  * them through a shim in the `org.apache.spark.sql` namespace — the
  * established pattern for Spark extension libraries. */
object ColumnBridge extends org.apache.spark.internal.Logging {
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Eagerly convert a Column to its Catalyst expression.
    * (`ExpressionUtils.expression` returns a lazy ColumnNodeExpression
    * wrapper that is neither matchable nor serializable — the real
    * conversion lives in ColumnNodeToExpressionConverter.) */
  def expression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — needed to expose custom LogicalPlan operators
    * through a public API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Block until the async listener bus has delivered every queued
    * event (`SparkContext.listenerBus` is `private[spark]`) — lets a
    * measurement listener read a complete job log instead of racing a
    * fixed sleep against event delivery. Gives up with a warning after
    * `ListenerDrainTimeoutMs`: a wedged listener degrades the log it
    * feeds, it does not hang the measurement. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(ListenerDrainTimeoutMs)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        logWarning(s"listener bus not empty after $ListenerDrainTimeoutMs ms;" +
          " the job log read next may be incomplete")
    }

  val ListenerDrainTimeoutMs: Long = 10000L

  /** Eager local checkpoint that PRESERVES outputPartitioning,
    * outputOrdering, and statistics.
    *
    * `Dataset.localCheckpoint` builds its LogicalRDD from the
    * executed plan BEFORE the first job runs; under AQE that plan is
    * an unfinalized AdaptiveSparkPlan whose outputPartitioning is
    * UnknownPartitioning — so every consumer of the checkpoint
    * re-exchanges data that is already correctly placed, and every
    * join against it is planned stats-blind (measured round 12:
    * `df.repartition(k).localCheckpoint(true)` reports
    * UnknownPartitioning(0)). Materializing FIRST and then calling
    * `LogicalRDD.fromDataset` (the same constructor
    * `Dataset.checkpoint` uses, which rewrites the captured
    * partitioning/ordering/stats to the new output attributes)
    * captures the FINAL plan's partitioning instead. Same lifecycle
    * as a plain localCheckpoint: the returned frame scans the
    * persisted blocks, `rdd.unpersist` releases them. */
  def localCheckpointKeepingLayout(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical._
    val classic =
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[
        org.apache.spark.sql.Row]]
    val qe = classic.queryExecution
    val internal = qe.toRdd.map(_.copy())
    internal.localCheckpoint()
    val rows = internal.count() // eager: blocks cached, plan finalized
    // the FINAL plan (AdaptiveSparkPlanExec itself always reports
    // UnknownPartitioning — it never overrides outputPartitioning)
    val finalPlan = qe.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.finalPhysicalPlan
      case p => p
    }
    val out = classic.logicalPlan.output
    // physical attrs → logical output attrs, by position; declare a
    // partitioning/ordering only when every referenced attribute maps
    // (anything else falls back to unknown — never an untrue claim)
    val rewrite: Map[Attribute, Attribute] =
      finalPlan.output.zip(out).toMap
    def rewriteHash(hp: HashPartitioning): Option[HashPartitioning] = {
      val ok = hp.expressions.forall(_.references.forall(rewrite.contains))
      if (!ok) None
      else Some(hp.copy(expressions = hp.expressions.map(_.transform {
        case a: Attribute => rewrite(a)
      })))
    }
    val partitioning: Partitioning = finalPlan.outputPartitioning match {
      case hp: HashPartitioning =>
        rewriteHash(hp).getOrElse(UnknownPartitioning(internal.getNumPartitions))
      case chp: CoalescedHashPartitioning =>
        rewriteHash(chp.from).map(h => chp.copy(from = h))
          .getOrElse(UnknownPartitioning(internal.getNumPartitions))
      case _ => UnknownPartitioning(internal.getNumPartitions)
    }
    val ordering: Seq[SortOrder] = {
      val o = finalPlan.outputOrdering
      if (o.forall(_.references.forall(rewrite.contains)))
        o.map(_.transform { case a: Attribute => rewrite(a) }
          .asInstanceOf[SortOrder])
      else Nil
    }
    // EXACT stats off the just-persisted blocks (row count from the
    // materializing pass; bytes from the block manager) — a staged
    // table stops being stats-blind, so joins against it get the
    // strategy the optimizer would pick with the truth in hand
    val bytes = classic.sparkSession.sparkContext.getRDDStorageInfo
      .find(_.id == internal.id)
      .map(i => BigInt(i.memSize + i.diskSize).max(BigInt(rows)))
      .getOrElse(BigInt(rows) * 64)
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = bytes, rowCount = Some(BigInt(rows)))
    val logical = org.apache.spark.sql.execution.LogicalRDD(
      out, internal, partitioning, ordering, isStreaming = false, None)(
      classic.sparkSession, Some(stats), None)
    org.apache.spark.sql.classic.Dataset.ofRows(
      classic.sparkSession, logical)
  }
}
