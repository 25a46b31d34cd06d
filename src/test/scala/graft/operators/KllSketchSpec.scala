package graft.operators

import org.apache.datasketches.kll.{KllDoublesSketch, KllSketch}
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** Pins for the KLL quantile-sketch surface (SketchOps + q72): the
  * rank-error guarantee measured against exact order statistics, the
  * merge path (the reason the sketch exists), and the buffer's
  * java-serialization seam. */
class KllSketchSpec extends SparkSpec {

  private val dir = small
  private val quantiles = Seq(0.25, 0.5, 0.9, 0.99)
  private val eps = KllSketch.getNormalizedRankError(200, false)

  private lazy val prices: Array[Double] =
    Tables(spark, dir, "lineitem").select(col("l_extendedprice"))
      .collect().map(_.getDouble(0)).sorted

  /** Inclusive normalized rank of `v` in the sorted fixture. */
  private def rankOf(v: Double): Double =
    prices.count(_ <= v).toDouble / prices.length

  test("q72: exact values match order statistics; every flag true") {
    val rows = QueryRegistry.byName("q72_kll_quantile_merge")
      .run(spark, dir).collect()
    assert(rows.length == 4)
    rows.zip(quantiles).foreach { case (r, q) =>
      assert(r.getDouble(0) == q)
      val target = math.max(1, math.ceil(q * prices.length).toLong)
      assert(r.getDouble(1) == prices(target.toInt - 1),
        s"exact value at q=$q diverges from the sorted fixture")
      assert(r.getBoolean(2), s"rank-eps flag false at q=$q")
    }
  }

  test("sequential sketch honors the k=200 rank-error bound at " +
    "every gated quantile") {
    val sk = KllDoublesSketch.newHeapInstance(200)
    prices.foreach(sk.update)
    quantiles.foreach { q =>
      val est = sk.getQuantile(q, QuantileSearchCriteria.INCLUSIVE)
      val err = math.abs(rankOf(est) - q)
      assert(err <= 2 * eps,
        s"rank error $err at q=$q exceeds 2eps=${2 * eps}")
    }
  }

  test("merged shard sketches answer within the same bound (the " +
    "mergeability contract)") {
    // 8 'shards' by hash, merged pairwise in an arbitrary tree order —
    // the associativity Spark's partial/final aggregation relies on
    val shards = prices.zipWithIndex.groupBy(_._2 % 8).values.map { g =>
      val sk = KllDoublesSketch.newHeapInstance(200)
      g.foreach { case (v, _) => sk.update(v) }
      sk
    }.toSeq
    val merged = shards.reduce { (a, b) => a.merge(b); a }
    assert(merged.getN == prices.length.toLong)
    quantiles.foreach { q =>
      val est = merged.getQuantile(q, QuantileSearchCriteria.INCLUSIVE)
      val err = math.abs(rankOf(est) - q)
      assert(err <= 2 * eps,
        s"merged rank error $err at q=$q exceeds 2eps=${2 * eps}")
    }
  }

  test("KllBuf java-serialization round-trips the sketch bytes") {
    val sk = KllDoublesSketch.newHeapInstance(200)
    prices.take(5000).foreach(sk.update)
    val buf = new SketchOps.KllBuf(sk)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(buf); oos.close()
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    val back = ois.readObject().asInstanceOf[SketchOps.KllBuf]
    assert(back.sk.getN == sk.getN)
    quantiles.foreach { q =>
      assert(back.sk.getQuantile(q, QuantileSearchCriteria.INCLUSIVE)
        == sk.getQuantile(q, QuantileSearchCriteria.INCLUSIVE),
        "deserialized sketch answers differently")
    }
  }
}
