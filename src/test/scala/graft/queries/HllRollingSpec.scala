package graft.queries

import graft.{QueryRegistry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** q59 (HLL-merge sliding distinct) error bound vs q58's exact form:
  * per day, |approx − exact| / exact ≤ 5%. The gated oracle row can
  * only see the boolean flag; this spec pins the actual relative
  * error distribution against the exact counts at sf0.001 and sf0.01,
  * plus the structural promise that the two queries cover the SAME
  * day set (a coverage gap would silently shrink the comparison).
  */
class HllRollingSpec extends SparkSpec {

  private def errors(dir: String): Seq[(java.sql.Date, Long, Long, Double)] = {
    val orders = Tables(spark, dir, "orders")
    val approx = AnalyticsQueries.hllRollingDistinct(orders)
    val exact = orders
      .select(to_date(col("o_orderdate")).as("d"), col("o_custkey").as("c"))
      .distinct()
      .select(col("d"), col("c"),
        explode(sequence(lit(0), lit(27))).as("k"))
      .select(date_add(col("d"), col("k")).as("day"), col("c"))
      .distinct()
      .groupBy(col("day"))
      .agg(count(lit(1)).cast("long").as("n_active"))
    val joined = exact.join(approx, Seq("day"), "full_outer").collect()
    joined.map { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2),
        s"day-set mismatch between exact and sketch paths: $r")
      val ex = r.getLong(1)
      val ap = r.getLong(2) // hll_sketch_estimate returns BIGINT
      (r.getDate(0), ex, ap, math.abs(ap - ex) / ex.toDouble)
    }.toSeq
  }

  test("per-day relative error <= 5% vs exact q58 (sf0.001 and sf0.01)") {
    Seq(small, large).foreach { dir =>
      val es = errors(dir)
      assert(es.nonEmpty, s"no days at $dir")
      val worst = es.maxBy(_._4)
      assert(worst._4 <= 0.05,
        s"$dir day ${worst._1}: exact ${worst._2} approx ${worst._3} " +
          f"err ${worst._4 * 100}%.2f%%")
      info(f"$dir: ${es.size} days, worst err ${worst._4 * 100}%.2f%% " +
        s"(exact ${worst._2})")
    }
  }

  test("q60: inclusion-exclusion overlap error <= 5% of the exact union per month") {
    Seq(small, large).foreach { dir =>
      val orders = Tables(spark, dir, "orders")
      val mo = orders
        .select(trunc(col("o_orderdate"), "month").as("m"),
          col("o_custkey").as("c"))
        .distinct()
      val a = mo.groupBy(col("m")).agg(count(lit(1)).cast("long").as("n"))
      val ret = mo.as("cur")
        .join(mo.as("prv"),
          col("prv.c") === col("cur.c") &&
            expr("prv.m = add_months(cur.m, -1)"))
        .groupBy(col("cur.m").as("m"))
        .agg(count(lit(1)).cast("long").as("n_retained"))
      val rows = a.as("cur")
        .join(a.as("prv"), expr("prv.m = add_months(cur.m, -1)"))
        .select(col("cur.m").as("m"), col("cur.n").as("n_cur"),
          col("prv.n").as("n_prev"))
        .join(ret, Seq("m"), "left_outer")
        .join(AnalyticsQueries.hllMonthlyRetention(orders), Seq("m"))
        .collect()
      assert(rows.nonEmpty, s"no month pairs at $dir")
      val errs = rows.map { r =>
        val exact = if (r.isNullAt(3)) 0L else r.getLong(3)
        val union = r.getLong(1) + r.getLong(2) - exact
        val est = r.getLong(4) + r.getLong(5) - r.getLong(6)
        (r.get(0), exact, est, math.abs(est - exact).toDouble / union.max(1L))
      }
      val worst = errs.maxBy(_._4)
      assert(worst._4 <= 0.05,
        s"$dir month ${worst._1}: exact ${worst._2} est ${worst._3} " +
          f"err-of-union ${worst._4 * 100}%.2f%%")
      info(f"$dir: ${errs.length} month pairs, worst err-of-union " +
        f"${worst._4 * 100}%.2f%% (exact overlap ${worst._2})")
    }
  }

  test("q59's gated flag is TRUE on every row at sf0.001") {
    val out = QueryRegistry.byName("q59_rolling_distinct_hll")
      .run(spark, small).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getBoolean(2)),
      out.filterNot(_.getBoolean(2)).mkString(", "))
  }
}
