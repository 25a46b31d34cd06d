package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The frequent-items seam (SketchOps.freqSketch, q86's operator): a
  * Misra-Gries LongsSketch forced to purge on a planted zipf stream
  * must keep its guarantees — every true count inside [lower, upper],
  * no heavy item untracked — on one shard and across an 8-shard merge.
  * Sits beside ThetaSketchSpec and KllSketchSpec; the from-store
  * answers are pinned in SketchStoreSpec. */
class FreqSketchSpec extends SparkSpec {

  test("q86 operator: forced-purge FreqLongs keeps the Misra-Gries " +
    "guarantees — bounds bracket every true count, no false negatives, " +
    "and the guarantees survive an 8-shard merge") {
    import graft.operators.SketchOps
    import spark.implicits._
    // planted zipf-ish stream: item i in 1..400 appears 401-i times;
    // 400 distinct >> 0.75*64, so a maxMapSize=64 sketch MUST purge
    val stream = (1 to 400).flatMap(i => Seq.fill(401 - i)(i.toLong))
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong)
      .toMap
    for (parts <- Seq(1, 8)) {
      val df = stream.toDF("v").repartition(parts)
      val sk = SketchOps.freqSketch(df, col("v"), 64)
      val err = sk.getMaximumError
      assert(err > 0, "purges expected: 400 distinct into a 64-slot map")
      truth.foreach { case (item, n) =>
        val (lb, ub) = (sk.getLowerBound(item), sk.getUpperBound(item))
        assert(lb <= n && n <= ub,
          s"parts=$parts item=$item n=$n outside [$lb, $ub]")
        assert(ub - lb <= err,
          s"bracket wider than maxError for $item: [$lb, $ub] err=$err")
        assert(lb <= sk.getEstimate(item) && sk.getEstimate(item) <= ub,
          s"estimate outside its own bracket for $item")
        if (n > err) assert(sk.getEstimate(item) > 0,
          s"false negative: item=$item n=$n > maxError=$err untracked")
      }
      // untracked items are provably light
      assert(truth.filter(_._2 > err)
        .forall { case (i, _) => sk.getEstimate(i) > 0 })
    }
  }
}
