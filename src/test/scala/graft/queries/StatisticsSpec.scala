package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** Statistics and monitoring pins: independence and rank tests (q84
  * χ², q85 Spearman, q94 Mann–Whitney, q98 Kruskal–Wallis), CUSUM,
  * Gini and ACF monitors (q95–q97) and the streaming CUSUM (ws12).
  * Each oracle MIRRORS its query's formula, so a wrong-direction bug
  * reproduces identically in DuckDB and still hash-matches; these
  * tests re-derive each result through an INDEPENDENT implementation
  * (sequential rank walks, the literal clamped recursion, BigInt
  * rationals) and plant known signals. */
class StatisticsSpec extends SparkSpec {

  private val dir = small

  test("q84: plain-Scala contingency recount reproduces every cell, " +
    "chi2 and V") {
    val docs = Tables(spark, dir, "documents")
      .select(col("source"), col("lang")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val o = docs.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rT = docs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cT = docs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = docs.length.toLong
    // the round-10 gated surface: term as an exact split floor ratio
    // at 1e-6 scale, chi2 its exact BIGINT sum, V² as an exact e9
    // floor ratio — replicated here in plain Long math
    def termE6(d2: Long, den: Long): Long =
      (d2 / den) * 1000000L + ((d2 % den) * 1000L / den) * 1000L +
        (((d2 % den) * 1000L % den) * 1000L) / den
    val cells = for (s <- rT.keys.toSeq.sorted; l <- cT.keys.toSeq.sorted)
      yield {
        val (r, c) = (rT(s), cT(l))
        val ob = o.getOrElse((s, l), 0L)
        val diff = ob * n - r * c
        val te6 = termE6(diff * diff, n * r * c)
        // semantic anchor: the pinned-scale term sits within 1e-6 of
        // the real-valued chi-square term
        assert(math.abs(te6 / 1e6 -
          diff.toDouble * diff / (n.toDouble * r * c)) < 1e-6 + 1e-9,
          s"split floor ratio off at ($s,$l)")
        val expE9 = r * c * 1000000000L / n
        (s, l, ob, expE9, te6)
      }
    val chi2E6 = cells.map(_._5).sum
    val m1 = math.min(rT.size, cT.size).toLong - 1L
    val v2E9 = chi2E6 * 1000L / (n * m1)
    val band =
      if (chi2E6 < n * m1 * 10000L) "negligible"
      else if (chi2E6 < n * m1 * 90000L) "weak"
      else "strong"
    val got = QueryRegistry.byName("q84_source_lang_independence")
      .run(spark, dir).collect()
    assert(got.length == cells.length)
    got.zip(cells).foreach { case (g, e) =>
      assert((g.getString(0), g.getString(1), g.getLong(2),
        g.getLong(3), g.getLong(4),
        g.getLong(5), g.getLong(6), g.getString(7)) ==
        (e._1, e._2, e._3, e._4, e._5, chi2E6, v2E9, band),
        s"cell mismatch: got $g expected $e (chi2_e6=$chi2E6 " +
          s"v2_e9=$v2E9 band=$band)")
    }
  }

  test("q84: planted source-determined language is 'strong' (V = 1); " +
    "planted balanced independence is 'negligible' (V = 0)") {
    val dep = tmpDir("r9-dep")
    // 4 sources, each writing ONLY its own language
    plant(dep, "documents", documents((0L until 200L).map(i =>
      (i, s"w$i text", s"lang${i % 4}", s"src${i % 4}"))))
    val depRows = QueryRegistry
      .byName("q84_source_lang_independence").run(spark, dep).collect()
    assert(depRows.forall(_.getString(7) == "strong"),
      s"dependency not flagged: ${depRows.head}")
    assert(depRows.head.getLong(6) == 1000000000L,
      s"deterministic mapping must score V²_e9 = 1e9, got " +
        s"${depRows.head.getLong(6)}")
    val ind = tmpDir("r9-ind")
    // perfectly balanced grid: every (source, lang) cell equal
    plant(ind, "documents", documents((0L until 200L).map(i =>
      (i, s"w$i text", s"lang${i % 4}", s"src${(i / 4) % 5}"))))
    val indRows = QueryRegistry
      .byName("q84_source_lang_independence").run(spark, ind).collect()
    assert(indRows.forall(_.getString(7) == "negligible"),
      s"balanced grid flagged: ${indRows.head}")
    assert(indRows.head.getLong(5) == 0L,
      "exact balance has chi2 0")
  }

  test("q85: plain-Scala tie-averaged Spearman reproduces the moments " +
    "and rho; the fixture's quality-length anti-correlation is real") {
    val rows = Tables(spark, dir, "documents")
      .select(col("text"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def qe6(text: String): Long = {
      val ts = text.split(" ").filter(_.nonEmpty)
      val n = ts.length.toLong
      val s = ts.count(w => w == "a" || w == "the").toLong
      val u = ts.distinct.length.toLong
      val mNum = text.length.toLong - n + 1
      ((8 * (n - s) + 16 * u + math.min(mNum, 8 * n)) * 2000000L +
        32 * n) / (64 * n)
    }
    val xs = rows.map(r => qe6(r._1))
    val ys = rows.map(_._1.length.toLong)
    def ranks2(vs: Seq[Long]): Map[Long, Long] = {
      val sorted = vs.sorted
      val first = sorted.zipWithIndex.reverse.toMap // first idx per v
      val last = sorted.zipWithIndex.toMap
      vs.distinct.map(v => v -> (first(v) + 1L + last(v) + 1L)).toMap
    }
    val (rx, ry) = (ranks2(xs.toSeq), ranks2(ys.toSeq))
    val pts = xs.zip(ys).map { case (a, b) => (rx(a), ry(b)) }
    val n = pts.length.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxx = pts.map(p => p._1 * p._1).sum
    val syy = pts.map(p => p._2 * p._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val rho = (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) *
        math.sqrt((n * syy - sy * sy).toDouble))
    val g = QueryRegistry.byName("q85_quality_length_spearman")
      .run(spark, dir).collect().head
    assert((g.getLong(0), g.getLong(1), g.getLong(2), g.getLong(3),
      g.getLong(4), g.getLong(5), g.getDouble(6)) ==
      (n, sx, sy, sxx, syy, sxy, rho), s"spearman diverges: $g vs " +
      s"($n,$sx,$sy,$sxx,$syy,$sxy,$rho)")
    assert(sx == n * (n + 1) && sy == n * (n + 1),
      "tie-averaged 2-ranks must sum to n(n+1)")
    // the audit's actual finding on this corpus
    assert(rho < -0.9, s"expected strong anti-correlation, got $rho")
  }

  test("q85: planted monotone quality-in-length scores exactly -1") {
    val mono = tmpDir("r9-mono")
    // longer docs repeat one token more -> unique ratio falls strictly
    // with length (qNum = 11i + 49 over 32(i+1), monotone), no ties in
    // either variable; the fixed-width suffix keeps char counts
    // digit-jump free
    plant(mono, "documents", documents((1L to 60L).map { i =>
      val text = ("tok " * i.toInt).trim + f" unique$i%03d"
      (i, text, "en", "src0")
    }))
    val r = QueryRegistry.byName("q85_quality_length_spearman")
      .run(spark, mono).collect().head
    // numerator = -denominator in exact arithmetic; the rendered
    // double is within an ulp of -1 because sqrt(a)*sqrt(a) != a in
    // IEEE (same in both engines — the gate hashes the same double)
    assert(math.abs(r.getDouble(6) + 1.0) < 1e-12,
      s"planted monotone must be -1 within an ulp, got " +
        s"${r.getDouble(6)}")
    // the exact-integer identity, free of the sqrt: num^2 == den^2
    val (n, sx, sy, sxx, syy, sxy) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val num = n * sxy - sx * sy
    assert(num < 0 &&
      num * num == (n * sxx - sx * sx) * (n * syy - sy * sy),
      "exact moments must witness perfect anti-correlation")
  }

  test("q94: a sequential sort-and-walk rank computation reproduces " +
    "n1/n2/R1/U1/ties, and z matches the closed form") {
    val rows = Tables(spark, dir, "documents")
      .select(col("n_chars"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1) == "en"))
    // sequential mid-rank walk over the sorted values (2x integers)
    val sorted = rows.sortBy(_._1)
    var i = 0
    var r1x2 = 0L
    var tieSum = 0L
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      val t = j - i // tie-run length; 2·midrank = 2i + t + 1 (0-based)
      val rank2x = 2L * i + t + 1
      r1x2 += rank2x * sorted.slice(i, j).count(_._2)
      tieSum += t.toLong * t * t - t
      i = j
    }
    val n1 = rows.count(_._2).toLong
    val n2 = rows.length - n1
    val u1x2 = r1x2 - n1 * (n1 + 1)
    val n = n1 + n2
    val varU = (n1.toDouble * n2.toDouble / 12.0) *
      ((n.toDouble + 1.0) - tieSum.toDouble / (n.toDouble * (n.toDouble - 1.0)))
    val zExp = BigDecimal(((u1x2 - n1 * n2).toDouble / 2.0) / math.sqrt(varU))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = QueryRegistry.byName("q94_mann_whitney").run(spark, dir)
      .collect().head
    assert(got.getLong(0) == n1 && got.getLong(1) == n2)
    assert(got.getLong(2) == r1x2, "rank sum (2x) diverged")
    assert(got.getLong(3) == u1x2, "U statistic (2x) diverged")
    assert(got.getLong(4) == n1 * n2, "null mean (2x) diverged")
    assert(got.getLong(5) == tieSum, "tie correction diverged")
    assert(math.abs(got.getDouble(6) - zExp) < 1e-9,
      s"z diverged: got ${got.getDouble(6)} expected $zExp")
  }

  test("q94 direction: a planted stochastically-larger group yields " +
    "U above its null mean and z > 0") {
    import spark.implicits._
    val d = tmpDir("mwu")
    // en docs all longer than the rest; one tie pair across groups
    val docs = (1 to 10).map(i => (i.toLong, "a", "en", 100L + i)) ++
      (11 to 20).map(i => (i.toLong, "a", "de", i.toLong)) :+
      (21L, "a", "de", 101L) // ties with the shortest en doc
    plant(d, "documents", docs.toDF("doc_id", "text", "lang", "n_chars"))
    val r = QueryRegistry.byName("q94_mann_whitney").run(spark, d)
      .collect().head
    assert(r.getLong(3) > r.getLong(4),
      "U1 must exceed n1·n2/2 when group 1 dominates")
    assert(r.getDouble(6) > 3.0, s"z should be large-positive: ${r.getDouble(6)}")
    assert(r.getLong(5) == 6L, "one tie pair of 2 => t^3 - t = 6")
  }

  test("q95: the literal clamped recursion over collected daily " +
    "counts reproduces every cusum_up/cusum_dn row") {
    val daily = Tables(spark, dir, "events")
      .groupBy(expr("unix_millis(ts) DIV 86400000").as("d"))
      .agg(count(lit(1)).cast("long").as("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val s = daily.map(_._2).sum
    val nd = daily.length.toLong
    var up = 0L
    var dn = 0L
    val expected = daily.map { case (d, x) =>
      val inc = nd * x - s
      up = math.max(0L, up + inc)
      dn = math.max(0L, dn - inc)
      (d, x, up, dn, up > 5 * s, dn > 5 * s)
    }
    val got = QueryRegistry.byName("q95_cusum_drift").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6))).toSeq
    assert(got == expected.toSeq, s"recursion diverged: got " +
      s"${got.take(3)} expected ${expected.take(3).toSeq}")
  }

  test("q95 planted shift: alarm fires after a 10x volume jump and " +
    "only after it") {
    import spark.implicits._
    val d = tmpDir("cusum")
    // 20 quiet days (10 events/day) then 10 loud days (100/day):
    // mean = 40, so the upward chart needs ceil(5*1200/60) = 100 i.e.
    // two loud days of +60 deviation each... assert alarm day > 20
    val rows = (0 until 20).flatMap(day => (0 until 10).map(i =>
      (day * 100L + i, day.toLong, i.toLong))) ++
      (20 until 30).flatMap(day => (0 until 100).map(i =>
        (day * 1000L + i, day.toLong, i.toLong)))
    plant(d, "events", rows.toDF("event_id", "day", "i")
      .select(col("event_id"),
        timestamp_micros(col("day") * 86400000000L + col("i") * 1000000L)
          .as("ts"),
        col("i").as("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props")))
    val out = QueryRegistry.byName("q95_cusum_drift").run(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4),
        r.getBoolean(5)))
    val firstAlarm = out.find(_._4).map(_._1)
    assert(firstAlarm.exists(_ >= 20L),
      s"upward alarm must fire in the loud segment: ${out.toSeq}")
    assert(out.filter(_._1 < 20L).forall(!_._4),
      "no upward alarm during the quiet segment")
    // the reference is the retrospective GLOBAL mean, so the quiet
    // half sits BELOW it: the downward chart must accumulate across
    // the quiet days and strictly decay across the loud ones
    val dn = out.sortBy(_._1).map(_._3)
    assert(dn.take(20).sliding(2).forall(w => w(1) > w(0)),
      "downward chart should climb through the quiet segment")
    assert(dn.drop(20).sliding(2).forall(w => w(1) < w(0)),
      "downward chart should decay through the loud segment")
    // and the upward chart is pinned at 0 until the shift
    assert(out.sortBy(_._1).map(_._2).take(20).forall(_ == 0L),
      "upward chart must clamp at 0 below the mean")
  }

  test("q96: BigInt rational Gini over collected per-source masses " +
    "matches, including the e9 rendering bit-for-bit") {
    val xs = Tables(spark, dir, "documents")
      .groupBy(col("source")).agg(sum(col("n_chars")).cast("long").as("x"))
      .collect().map(r => (r.getLong(1), r.getString(0)))
    val sorted = xs.sortBy(identity).map(_._1)
    val n = BigInt(sorted.length)
    val tot = sorted.map(BigInt(_)).sum
    val wsum = sorted.zipWithIndex.map { case (x, i) =>
      BigInt(i + 1) * x }.sum
    val gNum = 2 * wsum - (n + 1) * tot
    val gDen = n * tot
    val got = QueryRegistry.byName("q96_gini_concentration")
      .run(spark, dir).collect().head
    assert(got.getLong(0) == n.toLong && got.getLong(1) == tot.toLong)
    assert(got.getLong(2) == gNum.toLong && got.getLong(3) == gDen.toLong)
    assert(got.getLong(4) == e9L(gNum, gDen),
      "gini e9 rendering diverged from the BigInt floor ratio")
    assert(got.getLong(5) ==
      e9L(BigInt(sorted.max), tot), "top1_share diverged")
  }

  test("q96 planted: an exactly equal mixture has gini 0; a " +
    "one-source corpus has top1_share 1") {
    val d = tmpDir("gini")
    plant(d, "documents", documents(
      (1 to 30).map(i => (i.toLong, "x" * 40, "en", s"src${i % 3}"))))
    val r = QueryRegistry.byName("q96_gini_concentration")
      .run(spark, d).collect().head
    assert(r.getLong(2) == 0L, "equal masses must yield g_num = 0")
    assert(r.getLong(4) == 0L, "zero numerator must render gini_e9 = 0")
  }

  test("q97: BigInt re-derivation of every lag row (pairs, moments, " +
    "e9 quotient with carried sign)") {
    val daily = Tables(spark, dir, "events")
      .groupBy(expr("unix_millis(ts) DIV 86400000").as("d"))
      .agg(count(lit(1)).cast("long").as("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val s = daily.map(_._2).sum
    val nd = daily.length.toLong
    val y = daily.map { case (d, x) => (d, BigInt(nd * x - s)) }.toMap
    val den = y.values.map(v => v * v).sum
    val expected = (1 to 7).map { k =>
      val pairs = y.keys.toSeq.filter(d => y.contains(d - k))
      val num = pairs.map(d => y(d) * y(d - k)).sum
      val acf = num.signum.toLong * e9L(num.abs, den)
      (k.toLong, pairs.size.toLong, num.toLong, den.toLong, acf)
    }
    val got = QueryRegistry.byName("q97_acf").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected,
      s"ACF diverged: got ${got.take(2)} expected ${expected.take(2)}")
  }

  test("q97 planted period: an alternating high/low series has " +
    "acf(1) strongly negative and acf(2) strongly positive") {
    import spark.implicits._
    val d = tmpDir("acf")
    val rows = (0 until 20).flatMap { day =>
      val k = if (day % 2 == 0) 30 else 10
      (0 until k).map(i => (day * 1000L + i, day.toLong, i.toLong))
    }
    plant(d, "events", rows.toDF("event_id", "day", "i")
      .select(col("event_id"),
        timestamp_micros(col("day") * 86400000000L + col("i") * 1000000L)
          .as("ts"),
        col("i").as("user_id"), lit("view").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props")))
    val acf = QueryRegistry.byName("q97_acf").run(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(4))
      .toMap
    assert(acf(1L) <= -900000000L, s"lag-1 should be ~ -1e9: $acf")
    assert(acf(2L) >= 900000000L, s"lag-2 should be ~ +1e9: $acf")
  }

  test("q98: the sequential rank walk reproduces per-group rank sums " +
    "and H matches the closed form") {
    val rows = Tables(spark, dir, "documents")
      .select(col("n_chars"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val sorted = rows.sortBy(_._1)
    var i = 0
    var tieSum = 0L
    val rg = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      val t = j - i
      val rank2x = 2L * i + t + 1
      sorted.slice(i, j).foreach { case (_, g) => rg(g) += rank2x }
      tieSum += t.toLong * t * t - t
      i = j
    }
    val n = sorted.length.toLong
    val ng = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    // the same exact e6 fixed-point term sum the query gates, via
    // BigInt floor division (no double enters until the final algebra)
    val rrE6 = ng.keys.toSeq.sorted.map { g =>
      val r2 = BigInt(rg(g)) * BigInt(rg(g))
      val d = BigInt(ng(g))
      (r2 / d) * 1000000 + ((r2 % d) * 1000000) / d
    }.sum
    val hRaw = (3.0 * (rrE6.toDouble / 1000000.0)) /
      (n.toDouble * (n.toDouble + 1.0)) - 3.0 * (n.toDouble + 1.0)
    val tieAdj = 1.0 - tieSum.toDouble /
      (n.toDouble * n.toDouble * n.toDouble - n.toDouble)
    val hExp = hRaw / tieAdj
    val got = QueryRegistry.byName("q98_kruskal_wallis").run(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(5), r.getDouble(6)))
    got.foreach { case (lang, gN, gR, ts, hs) =>
      assert(gN == ng(lang) && gR == rg(lang),
        s"$lang rank sum diverged: ($gN, $gR) vs (${ng(lang)}, ${rg(lang)})")
      assert(ts == tieSum)
      assert(math.abs(hs - hExp) < 1e-9, s"H diverged: $hs vs $hExp")
    }
    assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
  }

  test("q98 planted: fully separated groups maximize H; an all-tied " +
    "corpus NULLs it (tie_adj = 0 degenerate)") {
    import spark.implicits._
    val d = tmpDir("kw")
    // three languages on disjoint length levels -> H = k - 1 = ... for
    // fully separated groups H approaches n-based max; assert strongly
    // positive and ties only within groups
    plant(d, "documents",
      ((1 to 10).map(i => (i.toLong, "a", "en", 100L + i)) ++
      (11 to 20).map(i => (i.toLong, "a", "de", 200L + i)) ++
      (21 to 30).map(i => (i.toLong, "a", "fr", 300L + i)))
      .toDF("doc_id", "text", "lang", "n_chars"))
    val h = QueryRegistry.byName("q98_kruskal_wallis").run(spark, d)
      .collect().head.getDouble(6)
    // df = k-1 = 2; fully separated ranks give H near its maximum
    // (n-1)·... for 3 equal groups of 10: H = 25.8+ — assert > 20
    assert(h > 20.0, s"separated groups should give large H: $h")
    val d2 = tmpDir("kw2")
    plant(d2, "documents", (1 to 12).map(i => (i.toLong, "a", s"l${i % 3}", 7L))
      .toDF("doc_id", "text", "lang", "n_chars"))
    val r2 = QueryRegistry.byName("q98_kruskal_wallis").run(spark, d2)
      .collect().head
    assert(r2.isNullAt(6), "all-tied corpus must NULL the statistic")
  }

  test("ws12: landed day counts are the ON-TIME subset (late replay " +
    "dropped) and the chart equals the literal recursion over them") {
    val onTime = Tables(spark, dir, "events")
      .filter(col("event_id") % 3 =!= 0)
      .groupBy(expr("unix_millis(ts) DIV 86400000").as("d"))
      .agg(count(lit(1)).cast("long").as("x"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val all = Tables(spark, dir, "events").count()
    val s = onTime.map(_._2).sum
    assert(s < all, "fixture must carry a late (%3 == 0) subset")
    val nd = onTime.length.toLong
    var up = 0L
    var dn = 0L
    val expected = onTime.map { case (d, x) =>
      val inc = nd * x - s
      up = math.max(0L, up + inc)
      dn = math.max(0L, dn - inc)
      (d * 86400000L, x, up, dn)
    }
    val got = QueryRegistry.byName("ws12_stream_cusum").run(spark, dir)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected.toSeq,
      s"stream chart diverged: got ${got.take(3)} expected " +
        s"${expected.take(3).toSeq}")
  }
}
