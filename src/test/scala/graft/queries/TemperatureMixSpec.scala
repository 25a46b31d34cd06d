package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** p16's temperature-mixing contract on the 100-doc fixture where the
  * derived domains have exactly known populations (floor(sqrt(k)) over
  * k = 0..99 → counts 1, 3, 5, …, 19): quotas must equal the
  * hand-computed floor(N_target · √c / Σ√c), kept counts must equal
  * quotas, and α = 0.5 must UPWEIGHT rare domains / downweight big
  * ones relative to proportional sampling — the property that makes
  * temperature mixing worth running. */
class TemperatureMixSpec extends SparkSpec {

  test("p16 quotas match hand-computed temperature weights; rare domains upweighted") {
    import spark.implicits._
    val dir = tmpDir("tempmix")
    plant(dir, "documents", (0L until 100L).map(id => (id, s"text $id"))
      .toDF("doc_id", "text"))

    // expected: same arithmetic, same fold order (domains sorted by
    // name — d0, d1, …, d9 — matching the query's ordered fold)
    val counts = (0 until 10).map(d =>
      s"d$d" -> (0 until 100).count(k => math.sqrt(k).toInt == d)).toMap
    assert(counts.values.toSeq.sorted == Seq(1, 3, 5, 7, 9, 11, 13, 15, 17, 19))
    val s = counts.toSeq.sortBy(_._1)
      .foldLeft(0.0)((acc, kv) => acc + math.sqrt(kv._2.toDouble))
    val expectedQuota = counts.map { case (d, c) =>
      d -> math.floor(50 * math.sqrt(c.toDouble) / s).toLong }

    val rows = QueryRegistry.byName("p16_temperature_mix").run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(rows.length == 100)
    rows.foreach { case (id, d, n, k, rn, kept) =>
      assert(n == counts(d), s"doc $id domain_n")
      assert(k == expectedQuota(d), s"doc $id quota: $k vs ${expectedQuota(d)}")
      assert(kept == (rn <= k), s"doc $id kept flag")
    }
    // kept counts equal quotas exactly (rank prefix, no ties possible)
    val keptPerDomain = rows.filter(_._6).groupBy(_._2).view.mapValues(_.length)
    expectedQuota.foreach { case (d, k) =>
      assert(keptPerDomain.getOrElse(d, 0).toLong == k, s"$d kept != quota")
    }
    // the temperature property: rare domains sampled ABOVE their
    // proportional share, the biggest below it
    val rate = expectedQuota.map { case (d, k) => d -> k.toDouble / counts(d) }
    assert(rate("d1") > 0.5 && rate("d2") > 0.5,
      s"rare domains not upweighted: $rate")
    assert(rate("d9") < 0.5, s"big domain not downweighted: $rate")
  }
}
