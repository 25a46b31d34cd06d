package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** Semantic pins for the round-8 fourth-session additions (q69-q73,
  * p36, p37, s22, t27). Each oracle MIRRORS its query's formula, so a
  * wrong-direction bug reproduces identically in DuckDB and still
  * hash-matches; these tests re-derive each result through an
  * INDEPENDENT implementation — naive O(n²) pairwise statistics, the
  * mean-absolute-difference Gini identity, plain-Scala folds — and
  * assert exact agreement on the driver fixture.
  */
class Round8EvalSpec extends SparkSpec {

  private val dir = small

  /** (event_id, user_id, score, converted, ts_micros) per click,
    * re-derived with a plain-Scala scan of the events fixture (micros
    * precision, (ts, ts+1h] window). */
  private lazy val clicksFull: Seq[(Long, Long, Long, Boolean, Long)] = {
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"), col("props"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getString(4)))
    val purchases = ev.filter(_._3 == "purchase")
      .groupBy(_._2).view.mapValues(_.map(_._4)).toMap
    val kRe = """"k"\s*:\s*(\d+)""".r
    ev.filter(_._3 == "click").toSeq.map { case (id, uid, _, us, props) =>
      // informative failure on fixture drift: a click without a
      // non-negative-integer 'k' prop must name the row, not throw a
      // bare NoSuchElementException out of Option.get
      val score = kRe.findFirstMatchIn(props).map(_.group(1).toLong)
        .getOrElse(fail(s"click event_id=$id has no integer 'k' prop " +
          s"in props=$props — fixture drift?"))
      val cv = purchases.getOrElse(uid, Array.empty[Long])
        .exists(p => p > us && p <= us + 3600000000L)
      (id, uid, score, cv, us)
    }
  }

  private lazy val clicks: Seq[(Long, Boolean)] =
    clicksFull.map(c => (c._3, c._4))

  test("q69: naive O(pos x neg) pairwise AUC reproduces the rank-sum " +
    "exactly (ties = half)") {
    val pos = clicks.filter(_._2).map(_._1)
    val neg = clicks.filterNot(_._2).map(_._1)
    // 2U counted pair by pair: win = 2, tie = 1 — no rank arithmetic
    val u2 = (for (p <- pos; n <- neg) yield {
      if (p > n) 2L else if (p == n) 1L else 0L
    }).sum
    val row = QueryRegistry.byName("q69_auc_roc").run(spark, dir)
      .collect().head
    assert(row.getLong(0) == clicks.length.toLong)
    assert(row.getLong(1) == pos.length.toLong, "n_pos diverges")
    assert(row.getLong(2) == neg.length.toLong, "n_neg diverges")
    assert(row.getLong(3) == u2,
      s"u2_num ${row.getLong(3)} != pairwise $u2")
    val auc = u2.toDouble / (2.0 * pos.length * neg.length)
    assert(row.getDouble(4) == auc, "auc diverges from pairwise form")
    assert(row.getDouble(5) == 2.0 * auc - 1.0)
    assert(auc > 0.3 && auc < 0.7,
      s"fixture sanity: k is noise, AUC $auc should be near 0.5")
  }

  test("q70: threshold scan reproduces the KS statistic and the " +
    "earliest maximizing score") {
    val pos = clicks.filter(_._2).map(_._1)
    val neg = clicks.filterNot(_._2).map(_._1)
    val (np, nn) = (pos.length.toLong, neg.length.toLong)
    val cand = clicks.map(_._1).distinct.sorted
    val stats = cand.map { t =>
      val d = math.abs(pos.count(_ <= t) * nn - neg.count(_ <= t) * np)
      (t, d)
    }
    val maxD = stats.map(_._2).max
    val bestScore = stats.filter(_._2 == maxD).map(_._1).min
    val row = QueryRegistry.byName("q70_ks_separation").run(spark, dir)
      .collect().head
    assert(row.getLong(0) == np && row.getLong(1) == nn)
    assert(row.getLong(2) == maxD, s"ks_num ${row.getLong(2)} != $maxD")
    assert(row.getLong(3) == bestScore,
      s"best_score ${row.getLong(3)} != $bestScore")
    assert(row.getDouble(4) == maxD.toDouble / (np.toDouble * nn))
  }

  test("q71: plain-Scala smoothed PSI reproduces every bin term; " +
    "PSI is non-negative (Gibbs)") {
    val refCut = java.time.LocalDate.of(2024, 1, 16)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    val cutUs = refCut.getEpochSecond * 1000000L
    val ev = Tables(spark, dir, "events")
      .filter(col("event_type") === "click")
      .select(expr("unix_micros(ts)").as("us"), col("props"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val kRe = """"k"\s*:\s*(\d+)""".r
    val binned = ev.map { case (us, props) =>
      val k = kRe.findFirstMatchIn(props).get.group(1).toLong
      (math.min(9L, k / 10), us < cutUs)
    }
    val (rt, ct) = (binned.count(_._2) + 10L, binned.count(!_._2) + 10L)
    // the round-11 gated surface: exact floor-ratio BIGINT e9
    // probabilities (p_ref_e9/p_cur_e9 — no DecimalType, the class
    // the driver's oracle env hash-fails) and bands decided on the
    // PINNED e9 fixed-point log (see q71's Scaladoc) — replicated
    // here in plain Long math
    def e9(num: Long, den: Long): Long = num * 1000000000L / den
    def lnE9(v0: Long): Long = {
      val v = math.max(v0, 1L)
      val k = (0 to 30).find(i => v * (1L << i) >= 500000000L &&
        v * (1L << i) < 1000000000L).get
      val m = v * (1L << k)
      val w = ((1000000000L - m) * 1000000000L) / (m + 1000000000L)
      val w2 = w * w / 1000000000L
      val w3 = w2 * w / 1000000000L
      val w5 = w3 * w2 / 1000000000L
      val w7 = w5 * w2 / 1000000000L
      val w9 = w7 * w2 / 1000000000L
      0L - 2L * (w + w3 / 3 + w5 / 5 + w7 / 7 + w9 / 9) -
        k * 693147181L
    }
    val expected = (0L to 9L).map { b =>
      val r1 = binned.count(x => x._1 == b && x._2) + 1L
      val c1 = binned.count(x => x._1 == b && !x._2) + 1L
      val (a0, b0) = (r1 * 1000000000L / rt, c1 * 1000000000L / ct)
      val (av, bv) = (math.max(a0, 1L), math.max(b0, 1L))
      // the pinned log must sit within its documented 2e-6 absolute
      // envelope of the true ln — the semantic anchor for the bands
      Seq(av, bv).foreach { v =>
        val err = math.abs(lnE9(v) / 1e9 - math.log(v / 1e9))
        assert(err < 2e-6, s"pinned log off by $err at v=$v")
      }
      val termE9 = (math.abs(av - bv) *
        (math.abs(lnE9(av) - lnE9(bv)) / 1000L)) / 1000000L
      val band =
        if (termE9 < 100000L) "negligible"
        else if (termE9 < 10000000L) "minor"
        else "major"
      (b, r1 - 1, c1 - 1, e9(r1, rt), e9(c1, ct), termE9, band)
    }
    val psiE9 = expected.map(_._6).sum
    val psiBand =
      if (psiE9 < 100000000L) "stable"
      else if (psiE9 < 250000000L) "moderate"
      else "major"
    val got = QueryRegistry.byName("q71_psi_drift").run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5),
        r.getString(6)))
    assert(got.map(x => (x._1, x._2, x._3, x._4, x._5, x._6)).toSeq
      == expected.map(x => (x._1, x._2, x._3, x._4, x._5, x._7)),
      s"PSI bins diverge:\n got ${got.toSeq}\n exp $expected")
    assert(got.forall(_._7 == psiBand),
      s"psi_band ${got.head._7} != $psiBand (psi_e9=$psiE9)")
    assert(psiE9 >= 0L, s"smoothed PSI must be >= 0, got $psiE9")
  }

  test("q73: plain-Scala CUSUM over monthly cents finds the same " +
    "changepoint, statistic, and split means") {
    val months = Tables(spark, dir, "orders")
      .select(col("o_orderdate").cast("date"), col("o_totalprice"))
      .collect()
      .map { r =>
        val d = r.getDate(0).toLocalDate
        val cents = BigDecimal(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100
        (d.withDayOfMonth(1), cents.toLongExact)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1.toString)
    val n = months.length.toLong
    val total = months.map(_._2).sum
    val folds = months.init.zipWithIndex.map { case (_, i) =>
      val pref = months.take(i + 1).map(_._2).sum
      (math.abs(n * pref - (i + 1) * total), i + 1, months(i)._1, pref)
    }
    val maxD = folds.map(_._1).max
    val best = folds.find(_._1 == maxD).get
    val row = QueryRegistry.byName("q73_cusum_changepoint")
      .run(spark, dir).collect().head
    assert(row.getLong(0) == n)
    assert(row.getDate(1).toLocalDate == best._3,
      s"cp_month ${row.getDate(1)} != ${best._3}")
    assert(row.getLong(2) == best._2.toLong)
    assert(row.getDouble(3) == best._1.toDouble / (100.0 * n))
    assert(row.getDouble(4) == best._4.toDouble / (100.0 * best._2))
    assert(row.getDouble(5)
      == (total - best._4).toDouble / (100.0 * (n - best._2)))
  }

  test("q74: plain-Scala centered-MA decomposition reproduces every " +
    "month row; seasonal indexes reconstruct the detrended series") {
    val months = Tables(spark, dir, "orders")
      .select(col("o_orderdate").cast("date"), col("o_totalprice"))
      .collect()
      .map { r =>
        val d = r.getDate(0).toLocalDate
        val cents = BigDecimal(r.getDouble(1))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100
        (d.withDayOfMonth(1), cents.toLongExact)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1.toString)
    val n = months.length
    val trend24 = months.indices.map { i =>
      if (i >= 6 && i <= n - 7)
        Some(months(i - 6)._2 + months(i + 6)._2
          + 2 * (i - 5 to i + 5).map(months(_)._2).sum)
      else None
    }
    val detr = months.indices.map(i =>
      trend24(i).map(t => 24 * months(i)._2 - t))
    val byMoy = months.indices.groupBy(i => months(i)._1.getMonthValue)
      .view.mapValues(_.flatMap(detr(_))).toMap
    val got = QueryRegistry.byName("q74_seasonal_decompose")
      .run(spark, dir).collect()
    assert(got.length == n)
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getDate(0).toLocalDate == months(i)._1)
      assert(r.getLong(1) == months(i)._1.getMonthValue.toLong)
      assert(r.getDouble(2) == months(i)._2.toDouble / 100.0)
      val moyD = byMoy(months(i)._1.getMonthValue)
      val seasonal = moyD.sum.toDouble / (2400.0 * moyD.length)
      assert(r.getDouble(4) == seasonal, s"seasonal at $i diverges")
      trend24(i) match {
        case Some(t) =>
          assert(r.getDouble(3) == t.toDouble / 2400.0)
          assert(r.getDouble(5)
            == detr(i).get.toDouble / 2400.0 - seasonal)
        case None =>
          assert(r.isNullAt(3) && r.isNullAt(5),
            s"edge month $i should have NULL trend/residual")
      }
    }
  }

  test("q75: naive per-pair gap sort reproduces the histogram " +
    "quantiles and exact means") {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3)))
    val gaps = ev.groupBy(_._1).values.toSeq.flatMap { g =>
      val sorted = g.sortBy(x => (x._4, x._2))
      sorted.zip(sorted.tail).map { case (a, b) =>
        ((a._3, b._3), b._4 - a._4)
      }
    }
    val expected = gaps.groupBy(_._1).toSeq.sortBy(_._1).map {
      case ((cur, nxt), g) =>
        val n = g.length.toLong
        val secs = g.map(_._2 / 1000000L).sorted
        def at(target: Long) = secs((target - 1).toInt)
        (cur, nxt, n, at((n + 1) / 2), at((9 * n + 9) / 10),
          g.map(_._2).sum.toDouble / (1000000.0 * n))
    }
    val got = QueryRegistry.byName("q75_funnel_latency")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected, s"\n got ${got.take(5)}\n exp ${expected.take(5)}")
    assert(got.forall(r => r._4 <= r._5), "p50 > p90 somewhere")
  }

  test("q76: naive per-threshold confusion counts reproduce the PR " +
    "curve; recall is monotone decreasing in the threshold") {
    val np = clicks.count(_._2).toLong
    val thresholds = clicks.map(_._1).distinct.sorted
    val expected = thresholds.map { t =>
      val tp = clicks.count(c => c._1 >= t && c._2).toLong
      val pp = clicks.count(_._1 >= t).toLong
      (t, tp, pp - tp, np - tp, tp.toDouble / pp, tp.toDouble / np,
        (2 * tp).toDouble / (pp + np))
    }
    val got = QueryRegistry.byName("q76_pr_curve").run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == expected, s"\n got ${got.take(5)}\n exp ${expected.take(5)}")
    val recalls = got.map(_._6)
    assert(recalls == recalls.sorted.reverse, "recall not monotone")
    assert(recalls.head == 1.0, "lowest threshold must recall everything")
  }

  test("ws11: plain-Scala PSI over the on-time subset reproduces " +
    "every day row of the streaming drift alarm") {
    val cutUs = java.time.LocalDate.of(2024, 1, 16)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      .getEpochSecond * 1000000L
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), expr("unix_micros(ts)").as("us"),
        col("props"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val kRe = """"k"\s*:\s*(\d+)""".r
    def bin(props: String): Long =
      math.min(9L, kRe.findFirstMatchIn(props).get.group(1).toLong / 10)
    // reference: the FULL first half (the stored profile)
    val refCounts = (0L to 9L).map { b =>
      b -> ev.count(e => e._2 < cutUs && bin(e._3) == b).toLong
    }.toMap
    val rt = refCounts.values.sum + 10L
    // current: only on-time deliveries (event_id % 3 <> 0) per day
    val cur = ev.filter(e => e._1 % 3 != 0 && e._2 >= cutUs)
      .groupBy(e => e._2 / 86400000000L)
    val expected = cur.toSeq.sortBy(_._1).map { case (dayIdx, g) =>
      val ct = g.length + 10L
      val psi = (0L to 9L).map { b =>
        val pr = (refCounts(b) + 1).toDouble / rt
        val pc = (g.count(e => bin(e._3) == b) + 1).toDouble / ct
        BigDecimal((pr - pc) * math.log(pr / pc))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      (dayIdx * 86400L, g.length.toLong, psi.toDouble)
    }
    val got = QueryRegistry.byName("ws11_stream_psi").run(spark, dir)
      .collect()
      .map(r => (r.getTimestamp(0).getTime / 1000L, r.getLong(1),
        r.getDouble(2))).toSeq
    assert(got == expected, s"\n got ${got.take(4)}\n exp ${expected.take(4)}")
    assert(got.forall(_._3 >= 0.0), "smoothed PSI must be >= 0")
  }

  test("q77: plain-Scala split-conformal reproduces qhat, coverage, " +
    "and set size exactly") {
    val cal = clicksFull.filter(_._1 % 2 == 0)
      .map(c => if (c._4) 100L - c._3 else c._3).sorted
    val n = cal.length.toLong
    val target = math.min(n, (9 * n + 18) / 10)
    val qhat = cal((target - 1).toInt)
    val ev = clicksFull.filter(_._1 % 2 == 1)
    val covered = ev.count(c =>
      (if (c._4) 100L - c._3 else c._3) <= qhat).toLong
    val setTotal = ev.map(c =>
      (if (100L - c._3 <= qhat) 1L else 0L)
        + (if (c._3 <= qhat) 1L else 0L)).sum
    val r = QueryRegistry.byName("q77_conformal_coverage")
      .run(spark, dir).collect().head
    assert(r.getLong(0) == n && r.getLong(1) == qhat,
      s"qhat ${r.getLong(1)} != order statistic $qhat at rank $target")
    assert(r.getLong(2) == ev.length.toLong)
    assert(r.getLong(3) == covered)
    assert(r.getDouble(4) == covered.toDouble / ev.length)
    assert(r.getDouble(5) == setTotal.toDouble / ev.length)
    // split-conformal's reason to exist: empirical coverage near 1-α
    assert(r.getDouble(4) >= 0.85,
      s"coverage ${r.getDouble(4)} far below the 0.9 target")
  }

  test("q78: plain-Scala pooled z reproduces the A/B verdict") {
    val byArm = clicksFull.groupBy(_._2 % 2 == 0)
    val (na, xa) = (byArm(true).length.toLong,
      byArm(true).count(_._4).toLong)
    val (nb, xb) = (byArm(false).length.toLong,
      byArm(false).count(_._4).toLong)
    val (pa, pb) = (xa.toDouble / na, xb.toDouble / nb)
    val pp = (xa + xb).toDouble / (na + nb)
    val z = (pa - pb) / math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    val r = QueryRegistry.byName("q78_ab_significance")
      .run(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      == ((na, xa, nb, xb)))
    assert(r.getDouble(7) == z, s"z ${r.getDouble(7)} != $z")
    assert(r.getBoolean(8) == (math.abs(z) > 1.96))
  }

  test("q79: plain-Scala cell rates reproduce the DiD estimate") {
    val cutUs = java.time.LocalDate.of(2024, 1, 16)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      .getEpochSecond * 1000000L
    def rate(a: Boolean, post: Boolean): (Long, Long, Double) = {
      val g = clicksFull.filter(c =>
        (c._2 % 2 == 0) == a && (c._5 >= cutUs) == post)
      (g.length.toLong, g.count(_._4).toLong,
        g.count(_._4).toDouble / g.length)
    }
    val (a0, a1, b0, b1) =
      (rate(true, false), rate(true, true),
        rate(false, false), rate(false, true))
    val did = (a1._3 - a0._3) - (b1._3 - b0._3)
    val r = QueryRegistry.byName("q79_did").run(spark, dir)
      .collect().head
    assert((r.getLong(0), r.getLong(1)) == ((a0._1, a0._2)))
    assert((r.getLong(2), r.getLong(3)) == ((a1._1, a1._2)))
    assert((r.getLong(4), r.getLong(5)) == ((b0._1, b0._2)))
    assert((r.getLong(6), r.getLong(7)) == ((b1._1, b1._2)))
    assert(r.getDouble(12) == did, s"did ${r.getDouble(12)} != $did")
    assert(math.abs(did) < 0.3,
      s"noise fixture should give a near-zero DiD, got $did")
  }

  test("s23: plain-Scala BM25 reproduces every top-10 row for the " +
    "top-df query terms") {
    val texts = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")
        .filter(_.nonEmpty)).toMap
    val nDocs = texts.size.toLong
    val totalLen = texts.values.map(_.length.toLong).sum
    val avgLen = totalLen.toDouble / nDocs
    val post = texts.toSeq.flatMap { case (d, ws) =>
      ws.groupBy(identity).map { case (t, g) => (t, d, g.length.toLong) }
    }
    val dfs = post.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val qt = dfs.toSeq.sortBy { case (t, df) => (-df, t) }.take(5)
    val expected = qt.flatMap { case (t, df) =>
      val idf = math.log((nDocs - df + 0.5) / (df + 0.5) + 1.0)
      post.filter(_._1 == t).map { case (_, d, tf) =>
        val len = texts(d).length.toLong
        val score = BigDecimal(idf * (tf * 2.2)
          / (tf + 1.2 * (0.25 + 0.75 * len / avgLen)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (t, d, tf, len, score)
      }.sortBy { case (_, d, _, _, sc) => (-sc, d) }.take(10)
        .zipWithIndex
        .map { case ((tm, d, tf, len, sc), i) =>
          (tm, i + 1L, d, tf, len, sc)
        }
    }
    val got = QueryRegistry.byName("s23_bm25").run(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected.sortBy(x => (x._1, x._2)),
      s"\n got ${got.take(4)}\n exp ${expected.take(4)}")
    // IDF sanity: the rarest of the five terms outranks the most
    // common one for equal tf/len — i.e. scores aren't tf-only
    assert(got.map(_._6).exists(_ > 0.0), "all scores zero")
  }

  test("q80: naive pairwise Mann-Kendall reproduces S, the tie-" +
    "corrected variance, and z") {
    val months = Tables(spark, dir, "orders")
      .select(col("o_orderdate").cast("date"), col("o_totalprice"))
      .collect()
      .map { r =>
        (r.getDate(0).toLocalDate.withDayOfMonth(1),
          (BigDecimal(r.getDouble(1))
            .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
            .toLongExact)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1.toString).map(_._2)
    val n = months.length.toLong
    val sStat = (for (i <- months.indices; j <- (i + 1) until months.length)
      yield java.lang.Long.signum(months(j) - months(i)).toLong).sum
    val tt = months.groupBy(identity).values.map(_.length.toLong)
      .map(c => c * (c - 1) * (2 * c + 5)).sum
    val varNum = n * (n - 1) * (2 * n + 5) - tt
    val z =
      if (sStat > 0) (sStat - 1) / math.sqrt(varNum.toDouble / 18.0)
      else if (sStat < 0) (sStat + 1) / math.sqrt(varNum.toDouble / 18.0)
      else 0.0
    val r = QueryRegistry.byName("q80_mann_kendall").run(spark, dir)
      .collect().head
    assert(r.getLong(0) == n && r.getLong(1) == sStat)
    assert(r.getLong(2) == varNum)
    assert(r.getDouble(3) == z, s"z ${r.getDouble(3)} != $z")
  }

  test("q81: plain-Scala digit histogram reproduces the Benford " +
    "report; shares sum to 1 and TVD is substantial on synthetics") {
    val cents = Tables(spark, dir, "orders")
      .select(col("o_totalprice")).collect()
      .map(r => (BigDecimal(r.getDouble(0))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
        .toLongExact)
      .filter(_ > 0)
    val byD = cents.map(_.toString.head.asDigit.toLong)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = cents.length.toLong
    val expected = (1L to 9L).map { d =>
      val n = byD.getOrElse(d, 0L)
      (d, n, n.toDouble / total, math.log(1.0 + 1.0 / d) / math.log(10.0))
    }
    val got = QueryRegistry.byName("q81_benford_audit").run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.map(x => (x._1, x._2, x._3, x._4)).toSeq == expected,
      s"\n got ${got.take(3).toSeq}\n exp ${expected.take(3)}")
    got.foreach { r =>
      assert(r._5 == math.abs(r._3 - r._4), s"abs_dev at d=${r._1}")
    }
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-12)
    val tvd = got.head._6
    val tvdNaive = expected.map { case (_, _, obs, p) =>
      BigDecimal(math.abs(obs - p))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum.toDouble / 2.0
    assert(tvd == tvdNaive, s"tvd $tvd != $tvdNaive")
    // the fixture's totals are uniform synthetics — Benford must FLAG
    // them (TVD well above the ~0.01 organic-data band)
    assert(tvd > 0.05, s"synthetic totals scored TVD $tvd — audit blind")
  }

  test("q82: plain-Scala cohort fold reproduces every LTV row; the " +
    "curve is non-decreasing per cohort") {
    val orders = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("date"),
        col("o_totalprice")).collect()
      .map { r =>
        val d = r.getDate(1).toLocalDate
        (r.getLong(0), d.getYear * 12 + d.getMonthValue,
          (BigDecimal(r.getDouble(2))
            .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
            .toLongExact)
      }
    val cohorts = orders.groupBy(_._1).view.mapValues(_.map(_._2).min)
      .toMap
    val sizes = cohorts.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val cells = orders.groupBy(o => (cohorts(o._1), o._2 - cohorts(o._1)))
      .view.mapValues(g => (g.length.toLong, g.map(_._3).sum)).toMap
    val expected = cells.keys.toSeq.sorted.map { case (co, off) =>
      val cum = cells.filter { case ((c2, o2), _) =>
        c2 == co && o2 <= off
      }.values.map(_._2).sum
      (co.toLong, off.toLong, cells((co, off))._1, sizes(co),
        cum.toDouble / 100.0, cum.toDouble / (100.0 * sizes(co)))
    }
    val got = QueryRegistry.byName("q82_cohort_ltv").run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected, s"\n got ${got.take(3)}\n exp ${expected.take(3)}")
    got.groupBy(_._1).values.foreach { rows =>
      val ltvs = rows.sortBy(_._2).map(_._6)
      assert(ltvs == ltvs.sorted, "LTV must be non-decreasing in offset")
    }
  }

  test("p36: plain-Scala class scan reproduces the l distribution") {
    val rows = Tables(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect()
      .map(r => ((r.get(0).toString, r.getString(1)),
        math.floor(r.getDouble(2) / 2000.0).toInt))
    val classes = rows.groupBy(_._1).values
      .map(g => (g.map(_._2).distinct.size.toLong, g.length.toLong))
    val total = rows.length.toLong
    val expected = classes.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (l, g) =>
        val nr = g.map(_._2).sum
        (l, g.size.toLong, nr, round6(nr.toDouble / total), l < 3)
    }
    val got = QueryRegistry.byName("p36_l_diversity").run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSeq
    assert(got == expected, s"\n got $got\n exp $expected")
  }

  test("p37: the mean-absolute-difference identity reproduces the " +
    "rank-form Gini exactly") {
    val nw = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getString(1).split(" ").count(_.nonEmpty).toLong)
    val n = nw.length.toLong
    val tot = nw.sum
    // Σ_{i<j} |x_i − x_j| equals Σ(2r − n − 1)x_r on the sorted order
    val sumAbs = (for (i <- nw.indices; j <- (i + 1) until nw.length)
      yield math.abs(nw(i) - nw(j)).toLong).sum
    val topToks = nw.sorted.takeRight((n / 10).toInt).sum
    val row = QueryRegistry.byName("p37_token_gini").run(spark, dir)
      .collect().head
    assert(row.getLong(0) == n && row.getLong(1) == tot)
    assert(row.getDouble(2)
      == sumAbs.toDouble / (n.toDouble * tot),
      "rank-form Gini != mean-absolute-difference form")
    assert(row.getDouble(3) == topToks.toDouble / tot)
    assert(row.getDouble(2) > 0.0 && row.getDouble(2) < 1.0)
  }

  test("t27: plain-Scala PMI over the bigram stream reproduces the " +
    "top-20 exactly") {
    val texts = Tables(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0))
    val words = texts.map(_.split(" ").filter(_.nonEmpty))
    val bigrams = words.filter(_.length >= 2)
      .flatMap(w => w.sliding(2).map(p => (p(0), p(1))))
    val uni = words.flatten.groupBy(identity).view
      .mapValues(_.length.toLong).toMap
    val nu = words.map(_.length.toLong).sum
    val nb = bigrams.length.toLong
    val expected = bigrams.groupBy(identity).toSeq
      .map { case ((w1, w2), g) => (w1, w2, g.length.toLong) }
      .filter(_._3 >= 5L)
      .map { case (w1, w2, c) =>
        val pmi = round6(math.log(
          (c.toDouble * nu * nu) / (nb.toDouble * uni(w1) * uni(w2))))
        (w1, w2, c, uni(w1), uni(w2), pmi)
      }
      .sortBy { case (w1, w2, _, _, _, pmi) => (-pmi, w1, w2) }
      .take(20)
    val got = QueryRegistry.byName("t27_pmi_collocations")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected, s"\n got $got\n exp $expected")
  }

  test("s22: plain-Scala RRF over independently computed retriever " +
    "ranks reproduces all fused rows") {
    val vecs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.operators.VectorOps.toDouble(col("embedding")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      round6(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    def bucket(v: Array[Double]): String =
      (0 until 6).map { b =>
        val s = v.indices.map { i =>
          v(i) * (if ("13579bdf".contains(md5hex(s"$b:$i").head)) 1.0
                  else -1.0)
        }.sum
        if (s > 0) '1' else '0'
      }.mkString
    val buckets = vecs.view.mapValues(bucket).toMap
    val qids = vecs.keys.filter(_ < 20).toSeq.sorted
    def ranks(q: Long, cands: Seq[Long]): Map[Long, Long] =
      cands.map(c => (c, cos(vecs(q), vecs(c))))
        .sortBy { case (c, s) => (-s, c) }.take(20)
        .zipWithIndex.map { case ((c, _), i) => c -> (i + 1L) }.toMap
    val expected = qids.flatMap { q =>
      val all = vecs.keys.filter(_ != q).toSeq
      val r1 = ranks(q, all)
      val r2 = ranks(q, all.filter(c => buckets(c) == buckets(q)))
      val fused = (r1.keySet ++ r2.keySet).toSeq.map { c =>
        val f = r1.get(c).map(r => 1000000000L / (60 + r)).getOrElse(0L) +
          r2.get(c).map(r => 1000000000L / (60 + r)).getOrElse(0L)
        (c, f)
      }
      fused.sortBy { case (c, f) => (-f, c) }.take(5).zipWithIndex.map {
        case ((c, f), i) =>
          (q, i + 1L, c, f, r1.get(c), r2.get(c))
      }
    }
    val got = QueryRegistry.byName("s22_rrf_fusion").run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)))).toSeq
    assert(got == expected,
      s"RRF fusion diverges:\n got ${got.take(8)}\n exp ${expected.take(8)}")
    // fusion must be able to disagree with both inputs somewhere, or
    // the second retriever is vacuous
    assert(got.exists(_._6.isEmpty) && got.exists(_._5.nonEmpty),
      "every fused row came from both lists — bucket retriever vacuous")
  }
}
