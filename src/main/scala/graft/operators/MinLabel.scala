package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Min-label connected-components fixpoint — the shared loop behind
  * p06 (document dup chains) and s24 (DBSCAN core graph), extracted in
  * round 12 so both sites carry the same measured optimizations.
  *
  * One round = min-label propagation over the edge list plus a pointer
  * jump (`lab := lab(lab)`), which halves the remaining path per round
  * — O(log diameter) rounds (p06's original design note). Each
  * generation is lineage-truncated via [[Stage.stageExact]], which
  * registers it in `Stage`'s staged set: every generation's blocks stay
  * live until the caller's [[Stage.drain]], so live storage is
  * O(rounds × one generation), not O(one generation).
  *
  * Convergence probe (round-12 optimization, guide §1.2 "per-task
  * work" / §2.4 "remove shuffles outright"): labels are node ids and
  * per-node NON-INCREASING across rounds (start = own id; propagation
  * takes a min including the current label; a jump replaces lab(v)
  * with lab(lab(v)) ≤ lab(v) by the lab(u) ≤ u invariant). The label
  * SUM therefore strictly decreases until the fixpoint, so "no label
  * moved" is ONE scalar aggregation over the just-staged generation —
  * replacing the old join-back + limit(1).count probe, which cost an
  * extra equi-join shuffle against the previous generation every
  * round. Sum bound: n·max(id) must fit int64 — 9.2e18, i.e. safe past
  * a billion nodes with billion-scale ids; the gated graphs top out
  * near 1e5·1e5 = 1e10 even at the 100× soak.
  */
object MinLabel {

  /** Iterate to the fixpoint (or `maxRounds`) and return the final
    * (id, lab) frame. `start` must have columns (id, lab) with lab
    * initialized to id; `edges` must have columns (src, dst) and be
    * cheap to rescan (the callers pass a staged edge list).
    *
    * Precondition, unchecked: every edge `src` and `dst` is drawn from
    * `start.id`. The sum-convergence probe is sound only under it — an
    * endpoint outside the node set joins the label frame as a new node,
    * raising the sum while other labels lower it, so two rounds can sum
    * equal before the fixpoint and the loop stops early. */
  def fixpoint(start: DataFrame, edges: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    def labSum(df: DataFrame): Long = {
      val r = df.agg(sum(col("lab"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // (Tried in round 12 and REVERTED: scoping AQE off for the loop —
    // without AQE's partition coalescing every tiny generation shuffles
    // as 32 full-width stages and task overhead dominates; s24 went
    // 5.8 s → 12.5 s. AQE's job-per-stage cost is the lesser evil.)
    val sc = start.sparkSession.sparkContext
    try fixpointLoop(start, edges, maxRounds, sc, labSum)
    finally sc.setJobDescription(null)
  }

  private def fixpointLoop(start: DataFrame, edges: DataFrame,
      maxRounds: Int, sc: org.apache.spark.SparkContext,
      labSum: DataFrame => Long): DataFrame = {
    var lab = start
    var prevSum = labSum(lab)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      sc.setJobDescription(s"minlabel round ${rounds + 1}")
      // lab'(v) = min(lab(v), lab(u) over in-neighbors u)
      val viaEdges = edges
        .join(lab, col("src") === col("id"))
        .select(col("dst").as("id"), col("lab"))
      val prop = lab.unionByName(viaEdges)
        .groupBy(col("id")).agg(min(col("lab")).as("lab"))
      // pointer jump: every label is a node id present in prop, so the
      // lookup is an equi-join against prop itself. (A second jump per
      // round — f⁴ instead of f² — was tried in round 12 and REVERTED:
      // composed lazily it recomputes per consumer, staged it pays a
      // second localCheckpoint action per round; both lost more to
      // per-action overhead than the halved round count saved.)
      // stageExact: generations keep their partitioning and exact
      // (tiny) stats, so the next round's joins against them are
      // planned with the truth — measured p06 2.6 → 1.9 s (round 12)
      val next = Stage.stageExact(prop
        .join(prop.select(col("id").as("lid"), col("lab").as("llab")),
          col("lab") === col("lid"))
        .select(col("id"), col("llab").as("lab")))
      val s = labSum(next)
      converged = s == prevSum
      prevSum = s
      lab = next
      rounds += 1
    }
    lab
  }
}
