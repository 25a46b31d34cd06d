package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Materialization point for an expensive intermediate that feeds
  * multiple consumers (e.g. a dedup signature table read by both sides
  * of a self-join). The mode is a session conf so the same query code
  * serves both postures:
  *
  *  - `spark.graft.checkpoint = local` (default): `localCheckpoint`
  *    (eager) — blocks on executor storage, no lineage. Fastest, right
  *    for single-node/local[n]; an executor loss kills the query.
  *  - `reliable`: `checkpoint` (eager) to the Spark checkpoint dir
  *    (`spark.graft.checkpoint.dir` is set as the SparkContext
  *    checkpoint dir if none is configured) — survives executor loss,
  *    the 100×-cluster-safe form.
  *  - `none`: pass-through — each consumer recomputes the lineage
  *    (lets Catalyst see through the subtree; occasionally the right
  *    trade when the intermediate is cheap and filters could push past
  *    it).
  *
  * == Lifecycle ==
  *
  * `localCheckpoint` persists the query's internal RDD and NOTHING
  * releases those blocks until JVM GC happens to collect the RDD
  * object — across a shared-JVM run of many staged queries that is
  * hundreds of never-released block sets competing for one storage
  * pool (the round-6 adjudicated mechanism for a 6× recorded bench
  * blowup on unchanged code). So every staged RDD is TRACKED here, and
  * runners call [[drain]] once a query's action completes: blocks are
  * released deterministically instead of at GC's leisure. A deployment
  * running one query per cluster never needs drain; a shared session
  * (bench loop, verify sweep, notebook) calls it between queries.
  */
object Stage {

  /** Staged (persisted) RDDs per SparkContext, registered by [[stage]]
    * and released by [[drain]]. The RDD is taken straight from the
    * checkpointed Dataset's LogicalRDD — no persistent-RDD-list
    * diffing, so concurrent persists elsewhere (streaming sinks) are
    * never swept up. Keyed by context so a stop/restart cycle can't
    * unpersist into the wrong session. */
  private val staged =
    new ConcurrentHashMap[org.apache.spark.SparkContext,
      java.util.Set[RDD[_]]]()

  private def register(df: DataFrame): DataFrame = {
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val sc = df.sparkSession.sparkContext
        staged
          .computeIfAbsent(sc, _ => ConcurrentHashMap.newKeySet[RDD[_]]())
          .add(l.rdd)
      case _ => () // reliable checkpoint: file-backed, no storage blocks
    }
    df
  }

  def stage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get("spark.graft.checkpoint", "local") match {
      case "reliable" =>
        if (spark.sparkContext.getCheckpointDir.isEmpty) {
          // getOption first: a default ARGUMENT evaluates eagerly and
          // would orphan a temp dir even when the conf is set
          val dir = spark.conf.getOption("spark.graft.checkpoint.dir")
            .getOrElse(graft.TempRoots.session("graft-reliable-ckpt"))
          spark.sparkContext.setCheckpointDir(dir)
        }
        df.checkpoint(eager = true)
      case "none" => df
      case _ => register(df.localCheckpoint(eager = true))
    }
  }

  /** Like [[stage]], but the materialized frame KEEPS its final
    * outputPartitioning/ordering and carries EXACT statistics (row
    * count from the materializing pass, bytes from the persisted
    * blocks; none if the block manager has no entry for them) —
    * `Dataset.localCheckpoint` reports UnknownPartitioning
    * and default (huge) stats because it captures the unfinalized
    * adaptive plan (ColumnBridge.localCheckpointKeepingLayout has the
    * mechanics). Consumers that re-aggregate or re-join on the staged
    * key skip their exchange, and joins against the frame are planned
    * with the truth instead of stats-blind.
    *
    * OPT-IN per call site, not the default: the exact stats also let
    * the planner pick shuffled-hash/broadcast where AQE's runtime
    * coalescing was previously winning — measured round 12, it helps
    * iterative loops (p06 −26%) and hurts q39's sweep joins (+30%).
    * Use where an A/B shows it pays. `none` upgrades like
    * [[stageRequired]] — callers choose this variant because
    * consumers DEPEND on the preserved layout for their plan shape. */
  def stageExact(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.checkpoint", "local") match {
      case "reliable" => stage(df)
      case _ => register(org.apache.spark.sql.graft.ColumnBridge
        .localCheckpointKeepingLayout(df))
    }

  /** Like [[stage]], but the materialization is LOAD-BEARING for
    * correctness, not a performance trade — e.g. pinning a
    * `spark_partition_id()` assignment that two consumers must agree
    * on (q43's range-partition offsets): re-executing the lineage per
    * consumer could re-sample range boundaries and hand the consumers
    * different row→partition maps. `none` therefore upgrades to a
    * tracked localCheckpoint here; `local`/`reliable` behave as in
    * [[stage]]. */
  def stageRequired(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("spark.graft.checkpoint", "local") == "none")
      register(df.localCheckpoint(eager = true))
    else stage(df)

  /** Release every staged block set registered against `sc` since the
    * last drain. END-OF-LIFE, not soft eviction: localCheckpoint
    * TRUNCATES lineage, so a drained frame cannot recompute — running
    * it again throws CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (spec-pinned).
    * The runner's contract is therefore "drain only after the query's
    * terminal action, then rebuild the DataFrame from its Q.run for
    * any further use" — exactly what Bench (fresh build per rep) and
    * Verify (one write per query) do. Returns the number of RDDs
    * unpersisted. */
  def drain(sc: org.apache.spark.SparkContext): Int = {
    val set = staged.remove(sc)
    if (set == null) 0
    else {
      var n = 0
      set.forEach { r =>
        try { r.unpersist(blocking = false); n += 1 }
        catch { case _: Throwable => () } // stopped context: nothing to free
      }
      n
    }
  }

  def drain(spark: org.apache.spark.sql.SparkSession): Int =
    drain(spark.sparkContext)

  /** Number of currently-tracked (staged, not yet drained) RDDs —
    * spec hook for the lifecycle invariant. */
  def trackedCount(sc: org.apache.spark.SparkContext): Int = {
    val set = staged.get(sc)
    if (set == null) 0 else set.size()
  }
}
