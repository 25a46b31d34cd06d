package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** p27's allocation invariants — the mirrored oracle proves both
  * engines compute the same schedule, not that the schedule is a
  * correct greedy water-fill; these pin the contract itself. */
class RepeatScheduleSpec extends SparkSpec {

  private val dir = small

  test("p27: greedy repeat schedule is budget-exact, capped, small-first") {
    val rows = QueryRegistry.byName("p27_repeat_schedule")
      .run(spark, dir).collect()
    assert(rows.nonEmpty)
    val n = rows.map(r => r.getAs[Long]("n_tokens"))
    val a = rows.map(r => r.getAs[Long]("alloc_tokens"))
    val cap = rows.map(r => r.getAs[Boolean]("at_cap"))
    val tot = n.sum

    // every source keeps its base epoch; nobody exceeds the 4-epoch cap
    rows.indices.foreach { i =>
      assert(a(i) >= n(i), s"source ${rows(i).getString(0)} lost tokens")
      assert(a(i) <= 4 * n(i),
        s"source ${rows(i).getString(0)} past the epoch cap")
      assert(cap(i) == (a(i) == 4 * n(i)))
    }

    // budget exactness: the greedy fill allocates exactly
    // min(B, 4 × total) = min(2·tot, 4·tot) = 2·tot — the surplus is
    // never lost and never overspent
    assert(a.sum == 2 * tot, s"allocated ${a.sum}, budget ${2 * tot}")

    // small-first: no source may sit below cap while a LARGER source
    // took any surplus (the greedy order is size ASC)
    val bySize = rows.sortBy(r =>
      (r.getAs[Long]("n_tokens"), r.getAs[String]("source")))
    val firstUncapped = bySize.indexWhere(r => !r.getAs[Boolean]("at_cap"))
    if (firstUncapped >= 0)
      bySize.drop(firstUncapped + 1).foreach { r =>
        assert(r.getAs[Long]("alloc_tokens") == r.getAs[Long]("n_tokens"),
          s"source ${r.getString(0)} took surplus after an uncapped one")
      }

    // epochs column is consistent with the allocation
    rows.foreach { r =>
      val want = BigDecimal(r.getAs[Long]("alloc_tokens").toDouble /
        r.getAs[Long]("n_tokens"))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("epochs") - want) < 1e-9)
    }
  }
}
