package graft.operators

import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.graft.ColumnBridge

import graft.{QueryRegistry, SparkSpec}

/** Round-7 lifecycle gate: staged `localCheckpoint` blocks must be
  * RELEASED once a query's action completes, not parked until JVM GC.
  * Round 6's driver bench recorded t01 at 6.4× baseline while two
  * fresh-JVM medians put it at 0.63× — the adjudicated mechanism was
  * hundreds of never-unpersisted staged block sets squeezing the
  * shared storage pool. `Stage.drain` is the deterministic release;
  * Bench and Verify call it after every query action. */
class StageLifecycleSpec extends SparkSpec {

  private val dir = small

  test("stage registers the checkpointed RDD; drain unpersists it") {
    val sc = spark.sparkContext
    Stage.drain(sc) // clean slate (other suites may have staged)
    val pre = sc.getPersistentRDDs.keySet
    val df = Stage.stage(spark.range(1000).toDF("id"))
    assert(Stage.trackedCount(sc) == 1, "staged RDD not tracked")
    assert(df.count() == 1000)
    assert((sc.getPersistentRDDs.keySet -- pre).nonEmpty,
      "localCheckpoint should hold storage blocks while staged")
    assert(Stage.drain(sc) == 1)
    assert(Stage.trackedCount(sc) == 0)
    assert((sc.getPersistentRDDs.keySet -- pre).isEmpty,
      "drain must leave no staged blocks in the pool")
  }

  test("a drained frame is DEAD — it fails loudly, never silently wrong") {
    // localCheckpoint truncates lineage: after drain the frame cannot
    // recompute. The contract is drain-at-end-of-life (runners rebuild
    // each query from Q.run), and the failure mode for a contract
    // violation must be a loud checkpoint error, not wrong rows.
    val df = Stage.stage(spark.range(100).toDF("id"))
    Stage.drain(spark)
    val e = intercept[Exception] { df.count() }
    assert(e.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"),
      s"expected the loud checkpoint error, got: ${e.getMessage}")
  }

  test("'none' mode stages nothing and drain is a no-op") {
    spark.conf.set("spark.graft.checkpoint", "none")
    try {
      val sc = spark.sparkContext
      Stage.drain(sc)
      Stage.stage(spark.range(10).toDF("id"))
      assert(Stage.trackedCount(sc) == 0)
      assert(Stage.drain(sc) == 0)
    } finally spark.conf.unset("spark.graft.checkpoint")
  }

  test("storage pool stays BOUNDED across repeated staged queries") {
    // the shared-JVM shape that bit round 6: the same staged query run
    // back-to-back. With drain after each action the persistent-RDD
    // pool must return to its pre-loop size every iteration — without
    // it, this loop grows the pool monotonically.
    val sc = spark.sparkContext
    Stage.drain(sc)
    val pre = sc.getPersistentRDDs.keySet
    val q = QueryRegistry.byName("d02_minhash_lsh")
    (1 to 3).foreach { i =>
      q.run(spark, dir).count()
      assert(Stage.trackedCount(sc) > 0,
        s"iteration $i: d02 should stage at least one intermediate")
      Stage.drain(sc)
      assert((sc.getPersistentRDDs.keySet -- pre).isEmpty,
        s"iteration $i: staged blocks leaked past drain")
    }
  }

  test("a layout-keeping checkpoint with no storage entry never plans a broadcast") {
    // a guessed size (rows x 64 B) understates wide rows and can flip a
    // join against the frame to broadcast; without an entry the frame
    // must be planned stats-blind
    val ids = spark.range(1000).toDF("id")
    val blind = Seq.fill(2)(
      ColumnBridge.localCheckpointKeepingLayout(ids, _ => Nil))
    val exact = ColumnBridge.localCheckpointKeepingLayout(ids)
    val frames = exact +: blind
    try {
      val plan = blind(0).join(blind(1), "id").queryExecution.sparkPlan
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
        s"stats-blind checkpoints planned a broadcast:\n$plan")
      assert(exact.queryExecution.optimizedPlan.stats.rowCount
        .contains(BigInt(1000)), "a stored checkpoint keeps exact stats")
    } finally frames.foreach(_.queryExecution.logical match {
      case l: LogicalRDD => l.rdd.unpersist()
      case _ => ()
    })
  }
}
