package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** Exhaustive-truth pins for the analytics batch (q45–q49). Every one
  * of these oracles MIRRORS the algorithm in DuckDB, so a shared
  * algorithmic bug (mis-oriented wedge join, inverted dominance,
  * sweep ordering that double-counts touching intervals) would
  * hash-match and pass. Each test recomputes the ANSWER a different
  * way — brute force where feasible at sf0.001 — and compares.
  */
class AnalyticsSemanticsSpec extends SparkSpec {

  private val dir = small

  private def coEdges(): Set[(Long, Long)] = {
    val items = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    items.as("a")
      .join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk"), col("b.pk")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("q45: triangle count equals the brute-force adjacency count") {
    // independent method: sum over edges of |N(a) ∩ N(b)|, each
    // triangle counted once per edge = 3× — no orientation involved,
    // so an orientation bug (wedge under-/over-enumeration) surfaces
    val edges = coEdges()
    val adj = scala.collection.mutable.Map
      .empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val tripleCount = edges.toSeq.map { case (a, b) =>
      (adj(a) intersect adj(b)).size.toLong
    }.sum
    assert(tripleCount % 3 == 0, s"edge-sum $tripleCount not divisible by 3")
    val row = QueryRegistry.byName("q45_triangle_count").run(spark, dir).head
    assert(row.getLong(row.fieldIndex("n_triangles")) == tripleCount / 3,
      s"query=${row.getLong(row.fieldIndex("n_triangles"))} " +
        s"brute=${tripleCount / 3}")
    assert(row.getLong(row.fieldIndex("n_edges")) == edges.size.toLong)
  }

  test("q46: every reported lift recomputes from independent counts") {
    val items = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val nOrders = items.select(col("ok")).distinct().count()
    val supp = items.groupBy(col("pk")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = QueryRegistry.byName("q46_basket_lift").run(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (p1, p2) = (r.getLong(0), r.getLong(1))
      val nBoth = r.getLong(2)
      val lift = r.getDouble(5)
      val expect = math.rint(nBoth.toDouble * nOrders
        / (supp(p1).toDouble * supp(p2)) * 1e6) / 1e6
      assert(math.abs(lift - expect) < 1e-9,
        s"($p1,$p2): lift $lift != recomputed $expect")
      assert(r.getLong(3) == supp(p1) && r.getLong(4) == supp(p2))
    }
    // descending by lift (ties by keys) — a flipped sort direction
    // would surface anti-correlated pairs instead of associations
    val lifts = out.map(_.getDouble(5)).toSeq
    assert(lifts == lifts.sorted.reverse, "lift column not descending")
  }

  test("q47: CMS estimates are one-sided and exact counts are exact") {
    val exact = Tables(spark, dir, "lineitem")
      .groupBy(col("l_partkey")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = QueryRegistry.byName("q47_heavy_hitters").run(spark, dir).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val pk = r.getLong(0)
      assert(r.getLong(1) == exact(pk), s"part $pk exact count wrong")
      assert(r.getLong(2) >= r.getLong(1),
        s"part $pk: CMS underestimated (${r.getLong(2)} < ${r.getLong(1)})" +
          " — count-min can only overcount")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
  }

  test("q48: sweep max equals brute-force point-stabbing at every start") {
    // independent method: the max of a concurrency step function is
    // attained at some interval start; count intervals covering each
    // start (half-open [s, s+30min)) by direct comparison — no sweep,
    // no ordering subtleties shared with the implementation
    val evs = Tables(spark, dir, "events")
      .select(col("event_type"), unix_millis(col("ts")).as("ms"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val brute = evs.groupBy(_._1).map { case (tpe, rows) =>
      val starts = rows.map(_._2)
      tpe -> starts.map(t => starts.count(s => s <= t && t < s + 1800000L))
        .max.toLong
    }
    val out = QueryRegistry.byName("q48_interval_concurrency")
      .run(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == brute, s"sweep=$out brute=$brute")
  }

  test("q49: the skyline is exactly the non-dominated set") {
    val parts = Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_retailprice"),
        col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def dominated(x: (Long, Double, Long)) = parts.exists { o =>
      o._2 <= x._2 && o._3 >= x._3 && (o._2 < x._2 || o._3 > x._3)
    }
    val expect = parts.filterNot(dominated).map(_._1).toSet
    val got = QueryRegistry.byName("q49_skyline").run(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect,
      s"missing=${expect -- got} extra=${got -- expect}")
  }
}
