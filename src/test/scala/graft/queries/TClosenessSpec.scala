package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** p39 t-closeness: plain-Scala recount of every class EMD, the
  * zero-distance identity, and the generalization-ladder monotonicity
  * the operator exists to report — coarsening quasi-identifiers can
  * only LOWER the worst-class EMD (a coarse class is a row-weighted
  * mixture of the fine classes it merges, and EMD to a fixed marginal
  * is convex in the mixture), which is exactly why p34's ladder is the
  * remediation lever for a failed t-closeness audit. */
class TClosenessSpec extends SparkSpec {

  private val dir = small

  /** (class key → band counts) → per-class ordered EMD, exact-integer
    * cumulative sums, one display division (the query's arithmetic). */
  private def emds(rows: Seq[(String, Int)]): Map[String, Double] = {
    val bands = rows.map(_._2).distinct.sorted
    val m = bands.size
    val n = rows.size.toLong
    val gl = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    rows.groupBy(_._1).map { case (k, rs) =>
      val ncr = rs.size.toLong
      val cn = rs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      var cum = 0L
      var s = 0L
      bands.foreach { b =>
        cum += cn.getOrElse(b, 0L) * n - gl(b) * ncr
        s += math.abs(cum)
      }
      k -> s.toDouble / (ncr.toDouble * n * (m - 1))
    }
  }

  private lazy val base: Seq[(Int, String, Int)] =
    Tables(spark, dir, "customer")
      .select(col("c_nationkey").cast("int"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000.0).cast("int"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq

  test("every class row matches the plain-Scala exact-integer EMD " +
    "and the flag is emd > 0.25") {
    val exp = emds(base.map { case (na, sg, b) => (s"$na|$sg", b) })
    val got = QueryRegistry.byName("p39_t_closeness")
      .run(spark, dir).collect()
    assert(got.length == exp.size, s"${got.length} rows != ${exp.size}")
    got.foreach { r =>
      val k = s"${r.getLong(0)}|${r.getString(1)}"
      assert(r.getDouble(3) == exp(k),
        s"class $k emd ${r.getDouble(3)} != ${exp(k)}")
      assert(r.getBoolean(4) == (exp(k) > 0.25), s"flag wrong for $k")
    }
    // the audit must not be vacuous on the fixture: distances spread
    assert(exp.values.max > 2 * exp.values.min,
      s"EMDs degenerate: [${exp.values.min}, ${exp.values.max}]")
  }

  test("EMD of the corpus against itself is zero (identity)") {
    val one = emds(base.map { case (_, _, b) => ("all", b) })
    assert(one("all") == 0.0)
  }

  test("generalization ladder monotonicity: coarsening the class key " +
    "never raises the worst-class EMD") {
    val fine = emds(base.map { case (na, sg, b) => (s"$na|$sg", b) })
    val mid = emds(base.map { case (_, sg, b) => (sg, b) })
    val coarse = emds(base.map { case (_, _, b) => ("all", b) })
    assert(fine.values.max >= mid.values.max,
      s"segment-only max ${mid.values.max} exceeds fine max " +
        s"${fine.values.max}")
    assert(mid.values.max >= coarse.values.max)
    assert(coarse.values.max == 0.0)
  }
}
