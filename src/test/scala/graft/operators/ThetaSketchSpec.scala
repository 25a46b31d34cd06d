package graft.operators

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketch, Sketches}
import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec}

/** The theta-sketch set-algebra seam (SketchOps.ThetaDistinct, q83):
  * the mergeable-stats contract for SETS — sketches built per shard
  * merge associatively, and union/intersection/A-not-B answer
  * cross-source questions from sketch bytes alone. Pins (VERDICT
  * round-9 #4): the error bound across an 8-shard merge, exact-mode
  * identity below the nominal entry count, set-op estimates against
  * planted ground truth, and byte-level determinism under input
  * reordering (the property KLL does NOT have, and the reason q83's
  * flags are deterministic). */
class ThetaSketchSpec extends SparkSpec {

  private def wrap(b: Array[Byte]): Sketch =
    Sketches.wrapSketch(Memory.wrap(b))

  /** Sketch a local set through the SAME Aggregator code path Spark
    * drives (zero/reduce/merge/finish), split into `shards`. */
  private def sketchSharded(xs: Seq[Long], shards: Int): Array[Byte] = {
    val agg = new SketchOps.ThetaDistinct(12)
    val parts = xs.zipWithIndex.groupBy(_._2 % shards)
      .toSeq.sortBy(_._1).map(_._2.map(_._1))
    val bufs = parts.map(p => p.foldLeft(agg.zero)(agg.reduce))
    agg.finish(bufs.reduce(agg.merge))
  }

  test("exact mode below 2^lgK: estimate equals the true distinct " +
    "count, bounds collapse to it") {
    val xs = (1L to 3000L) ++ (1L to 3000L) // duplicates must not count
    val sk = wrap(sketchSharded(xs, 8))
    assert(sk.getEstimate == 3000.0,
      s"exact-mode estimate ${sk.getEstimate} != 3000")
    assert(sk.getLowerBound(2) == 3000.0 && sk.getUpperBound(2) == 3000.0)
  }

  test("8-shard merge of 200k keys: 2-sigma bounds contain the truth " +
    "and honor the published lgK=12 error (3.3% at 2 sigma)") {
    // keys from a fixed LCG so the draw is reproducible
    var x = 88172645463325252L
    val xs = (1 to 200000).map { _ =>
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x
    }
    val n = xs.distinct.size.toDouble
    val merged = wrap(sketchSharded(xs, 8))
    assert(merged.getLowerBound(2) <= n && n <= merged.getUpperBound(2),
      s"truth $n outside [${merged.getLowerBound(2)}, " +
        s"${merged.getUpperBound(2)}]")
    // 2-sigma relative bound for theta at k=4096 is ~2/sqrt(4096) =
    // 3.125%; allow the library's exact constant a little headroom
    assert(math.abs(merged.getEstimate - n) / n < 0.033,
      s"estimate ${merged.getEstimate} off truth $n by more than 3.3%")
    // the 8-shard merge must equal the single-shard sketch exactly:
    // theta's retained set is a pure function of the input SET
    assert(java.util.Arrays.equals(sketchSharded(xs, 8),
      sketchSharded(xs, 1)), "shard-split changed the merged sketch")
  }

  test("set algebra against planted ground truth: union, " +
    "intersection, A-not-B bounds all contain the exact answers") {
    def keys(lo: Long, hi: Long): Seq[Long] =
      (lo until hi).map(i => i * 2654435761L + -7046029254386353131L)
    val a = wrap(sketchSharded(keys(0, 100000), 8))
    val b = wrap(sketchSharded(keys(50000, 150000), 8))
    val un = SetOperation.builder().buildUnion()
    un.union(a); un.union(b)
    val us = un.getResult()
    assert(us.getLowerBound(2) <= 150000 && 150000 <= us.getUpperBound(2))
    val in = SetOperation.builder().buildIntersection()
    in.intersect(a); in.intersect(b)
    val is = in.getResult()
    assert(is.getLowerBound(2) <= 50000 && 50000 <= is.getUpperBound(2),
      s"intersection truth 50000 outside [${is.getLowerBound(2)}, " +
        s"${is.getUpperBound(2)}]")
    val ab = SetOperation.builder().buildANotB().aNotB(a, b)
    assert(ab.getLowerBound(2) <= 50000 && 50000 <= ab.getUpperBound(2))
  }

  test("byte determinism: input order and shard assignment do not " +
    "change the compact bytes (q83's flags cannot flake)") {
    val xs = (1L to 50000L).map(i => i * 6364136223846793005L + 1L)
    val base = sketchSharded(xs, 8)
    assert(java.util.Arrays.equals(base, sketchSharded(xs.reverse, 8)))
    assert(java.util.Arrays.equals(base, sketchSharded(
      scala.util.Random.javaRandomToRandom(
        new java.util.Random(7)).shuffle(xs), 3)))
  }

  test("q83 end-to-end at sf0.001: every pair row matches a " +
    "plain-Scala shingle recount and every flag is true") {
    val dir = small
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySrc = docs.groupBy(_._1).view.mapValues(_.flatMap { case (_, t) =>
      val ws = t.split(" ").filter(_.nonEmpty)
      if (ws.length < 3) Seq.empty
      else ws.sliding(3).map(_.mkString(" ")).toSeq
    }.toSet).toMap
    val expected = (for {
      a <- bySrc.keys.toSeq.sorted
      b <- bySrc.keys.toSeq.sorted if a < b
    } yield {
      val (sa, sb) = (bySrc(a), bySrc(b))
      val i = (sa & sb).size.toLong
      (a, b, sa.size.toLong, sb.size.toLong, i,
        sa.size + sb.size - i, sa.size - i)
    })
    val got = QueryRegistry.byName("q83_theta_source_overlap")
      .run(spark, dir).collect()
    assert(got.forall(r => r.getBoolean(7) && r.getBoolean(8) &&
      r.getBoolean(9)), "a sketch bound flag is false at exact scale")
    val gotKeys = got.map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
      r.getLong(6))).toSeq
    assert(gotKeys == expected,
      s"pair counts diverge:\n got $gotKeys\n exp $expected")
  }
}
