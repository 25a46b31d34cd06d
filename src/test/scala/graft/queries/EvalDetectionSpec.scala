package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec}

/** Planted-truth detection tests for the model-eval/monitoring family:
  * the oracle gate proves FORMULA agreement on the driver fixture (where
  * k is uniform noise, so AUC ≈ 0.5 and PSI ≈ 0 — nothing to detect);
  * these tests construct fixtures with a KNOWN signal and assert each
  * operator actually finds it — perfect separation scores AUC 1.0, a
  * planted level shift is the CUSUM argmax, planted December bumps top
  * the seasonal index, planted drift fires PSI an order of magnitude
  * above the no-drift floor. Same end-to-end path as
  * AdversarialFixtureSpec: generated parquet → Tables() → registry
  * query, never a reimplementation. */
class EvalDetectionSpec extends SparkSpec {

  private val T0 = Timestamp.valueOf("2024-01-02 00:00:00").getTime

  /** events rows: clicks with score k; converting users get a purchase
    * 10 minutes after their click. refHalf=true plants the click before
    * the 2024-01-16 PSI cutoff, else after. */
  private def clickRows(rows: Seq[(Long, Long, Long, Boolean, Boolean)])
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    rows.flatMap { case (id, uid, score, converts, refHalf) =>
      val base = if (refHalf) T0 else T0 + 15L * 86400000L
      val t = base + (id % 1000) * 60000L
      val click = (id, new Timestamp(t), uid, "click", 0.0,
        s"""{"k": $score}""")
      if (converts)
        Seq(click, (id + 100000L, new Timestamp(t + 600000L), uid,
          "purchase", 0.0, """{"k": 0}"""))
      else Seq(click)
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("q69/q70/q76: perfectly separated scores grade AUC 1.0, " +
    "KS = np*nn, and a perfect PR point at the top threshold") {
    val dir = tmpDir("det-sep")
    // 40 converting users at score 90, 60 non-converting at score 10;
    // distinct users so outcome joins can't cross-contaminate
    val rows = (1L to 40L).map(i => (i, i, 90L, true, true)) ++
      (41L to 100L).map(i => (i, i, 10L, false, true))
    plant(dir, "events", clickRows(rows))
    val auc = QueryRegistry.byName("q69_auc_roc").run(spark, dir)
      .collect().head
    assert(auc.getLong(1) == 40L && auc.getLong(2) == 60L)
    assert(auc.getDouble(4) == 1.0, s"perfect separation scored ${auc.getDouble(4)}")
    assert(auc.getDouble(5) == 1.0, "Gini should be 1.0")
    val ks = QueryRegistry.byName("q70_ks_separation").run(spark, dir)
      .collect().head
    assert(ks.getLong(2) == 40L * 60L, "KS numerator != np*nn")
    assert(ks.getDouble(4) == 1.0)
    assert(ks.getLong(3) == 10L, "maximizing threshold must be the " +
      "negative class's score (CDF gap is largest after it)")
    val pr = QueryRegistry.byName("q76_pr_curve").run(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    assert(pr(90L) == ((1.0, 1.0, 1.0)),
      s"threshold 90 should be the perfect operating point, got ${pr(90L)}")
  }

  test("q69: one fully-tied score is exactly chance (AUC 0.5); zero " +
    "positives degrades to NULL, never an exception") {
    val tied = tmpDir("det-tied")
    plant(tied, "events", clickRows(
      (1L to 30L).map(i => (i, i, 50L, i % 3 == 0L, true))))
    val r = QueryRegistry.byName("q69_auc_roc").run(spark, tied)
      .collect().head
    assert(r.getDouble(4) == 0.5, s"all-tied AUC ${r.getDouble(4)}")
    val nopos = tmpDir("det-nopos")
    plant(nopos, "events", clickRows(
      (1L to 20L).map(i => (i, i, i % 100, false, true))))
    val r2 = QueryRegistry.byName("q69_auc_roc").run(spark, nopos)
      .collect().head
    assert(r2.getLong(1) == 0L)
    // ANSI Spark raises DIVIDE_BY_ZERO even for double 0/0 — the
    // operators guard with nullif, so a single-class stream reports
    // NULL (and both engines agree on x / NULLIF(y, 0))
    assert(r2.isNullAt(4) && r2.isNullAt(5),
      "zero positives must surface as NULL auc/gini, not throw")
    val ks0 = QueryRegistry.byName("q70_ks_separation").run(spark, nopos)
      .collect().head
    assert(ks0.isNullAt(4), "zero positives must NULL the KS ratio")
    val pr0 = QueryRegistry.byName("q76_pr_curve").run(spark, nopos)
      .collect()
    assert(pr0.nonEmpty && pr0.forall(_.isNullAt(5)),
      "zero positives must NULL recall on every threshold row")
  }

  test("q71: planted second-half drift fires PSI an order of " +
    "magnitude above the identical-distribution floor") {
    val drift = tmpDir("det-drift")
    // ref half: uniform bins; current half: everything in bin 9
    plant(drift, "events", clickRows(
      (1L to 200L).map(i => (i, i, i % 100, false, true)) ++
        (201L to 400L).map(i => (i, i, 95L, false, false))))
    // the gated surface carries exact BIGINT e9 probabilities and
    // bands (q71's round-11 decimal purge); the numeric PSI for the
    // separation claim is recomputed here from those exact integers
    def psiOf(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map { r =>
        val (pr, pc) =
          (r.getLong(3) / 1e9, r.getLong(4) / 1e9)
        (pr - pc) * math.log(pr / pc)
      }.sum
    val driftRows = QueryRegistry.byName("q71_psi_drift")
      .run(spark, drift).collect()
    val psiDrift = psiOf(driftRows)
    val still = tmpDir("det-still")
    plant(still, "events", clickRows(
      (1L to 200L).map(i => (i, i, i % 100, false, true)) ++
        (201L to 400L).map(i => (i, i, i % 100, false, false))))
    val stillRows = QueryRegistry.byName("q71_psi_drift")
      .run(spark, still).collect()
    val psiStill = psiOf(stillRows)
    assert(psiDrift > 1.0, s"planted total drift only scored $psiDrift")
    assert(psiDrift > 10.0 * math.max(psiStill, 1e-9),
      s"drift $psiDrift not separable from floor $psiStill")
    // the gated alarm itself must fire: planted drift lands in the
    // 'major' band, identical halves in 'stable' (< 0.1, the standard
    // industry rule of thumb), and the all-mass bin-9 term is 'major'
    assert(driftRows.forall(_.getString(6) == "major"),
      s"drift psi_band ${driftRows.head.getString(6)} != major")
    assert(stillRows.forall(_.getString(6) == "stable"),
      s"still psi_band ${stillRows.head.getString(6)} != stable")
    assert(driftRows.find(_.getLong(0) == 9L).get.getString(5)
      == "major", "bin-9 term_band must be major under total drift")
  }

  test("randomized sweep: three seeded tie-heavy draws reproduce " +
    "naive AUC, KS, PR rows, and the conformal order statistic") {
    for (seed <- Seq(7, 41, 97)) {
      val rnd = new scala.util.Random(seed)
      val dir = tmpDir(s"det-rand$seed")
      // scores drawn from a COARSE domain (0, 5, ..., 45) so ties are
      // the norm, not the exception — the tie-correction arithmetic is
      // exactly what the fixture (uniform 0..99) underexercises
      val rows = (1L to 120L).map { i =>
        (i, i, rnd.nextInt(10) * 5L, rnd.nextDouble() < 0.3, true)
      }
      plant(dir, "events", clickRows(rows))
      val data = rows.map(r => (r._1, r._3, r._4))
      val pos = data.filter(_._3).map(_._2)
      val neg = data.filterNot(_._3).map(_._2)
      // q69 vs naive pairwise
      val u2 = (for (p <- pos; n <- neg)
        yield if (p > n) 2L else if (p == n) 1L else 0L).sum
      val auc = QueryRegistry.byName("q69_auc_roc").run(spark, dir)
        .collect().head
      assert(auc.getLong(3) == u2, s"seed $seed: u2 diverges")
      // q70 vs naive threshold scan
      val (np, nn) = (pos.length.toLong, neg.length.toLong)
      val ksNaive = data.map(_._2).distinct.sorted.map { t =>
        math.abs(pos.count(_ <= t) * nn - neg.count(_ <= t) * np)
      }.max
      val ks = QueryRegistry.byName("q70_ks_separation").run(spark, dir)
        .collect().head
      assert(ks.getLong(2) == ksNaive, s"seed $seed: ks_num diverges")
      // q76 vs naive confusion counts at every threshold
      val prGot = QueryRegistry.byName("q76_pr_curve").run(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      data.map(_._2).distinct.foreach { t =>
        val tp = data.count(d => d._2 >= t && d._3).toLong
        val fp = data.count(d => d._2 >= t && !d._3).toLong
        assert(prGot(t) == ((tp, fp)), s"seed $seed: PR row at $t")
      }
      // q77 vs the sorted calibration order statistic
      val cal = data.filter(_._1 % 2 == 0)
        .map(d => if (d._3) 100L - d._2 else d._2).sorted
      val n = cal.length.toLong
      val qhat = cal((math.min(n, (9 * n + 18) / 10) - 1).toInt)
      val conf = QueryRegistry.byName("q77_conformal_coverage")
        .run(spark, dir).collect().head
      assert(conf.getLong(1) == qhat, s"seed $seed: qhat diverges")
    }
  }

  test("q73: a planted level shift is the CUSUM argmax month") {
    import spark.implicits._
    val dir = tmpDir("det-shift")
    // 24 months, 10 orders each at 100.00; from month 13 at 250.00
    val rows = for (m <- 0 until 24; i <- 0 until 10) yield {
      val price = if (m < 12) 100.0 else 250.0
      ((m * 10 + i).toLong, i.toLong, "O",
        price, Timestamp.valueOf(f"2020-${m % 12 + 1}%02d-15 00:00:00")
          .toLocalDateTime.plusYears(m / 12).toString.replace("T", " "))
    }
    val df = rows.toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "d")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("d").cast("timestamp").as("o_orderdate"),
        lit("1-URGENT").as("o_orderpriority"))
    plant(dir, "orders", df)
    val r = QueryRegistry.byName("q73_cusum_changepoint")
      .run(spark, dir).collect().head
    assert(r.getLong(0) == 24L)
    assert(r.getLong(2) == 12L,
      s"changepoint at k=${r.getLong(2)}, planted at 12")
    assert(r.getDouble(4) == 1000.0, "pre-shift monthly mean")
    assert(r.getDouble(5) == 2500.0, "post-shift monthly mean")
  }

  test("q80: a planted monotone ramp is 'increasing'; a planted " +
    "shuffle of the same values is 'none'") {
    import spark.implicits._
    def orders(vals: Seq[Double], dirTag: String): String = {
      val dir = tmpDir(dirTag)
      val rows = vals.zipWithIndex.flatMap { case (p, m) =>
        (0 until 5).map(i => ((m * 5 + i).toLong, i.toLong, "O", p,
          Timestamp.valueOf(f"2020-${m % 12 + 1}%02d-15 00:00:00")
            .toLocalDateTime.plusYears(m / 12).toString
            .replace("T", " ")))
      }
      plant(dir, "orders", rows
        .toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "d")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"),
          col("d").cast("timestamp").as("o_orderdate"),
          lit("1-URGENT").as("o_orderpriority")))
      dir
    }
    val ramp = orders((1 to 24).map(_ * 10.0), "det-mk-up")
    val up = QueryRegistry.byName("q80_mann_kendall").run(spark, ramp)
      .collect().head
    assert(up.getString(4) == "increasing",
      s"monotone ramp graded '${up.getString(4)}' (z=${up.getDouble(3)})")
    assert(up.getLong(1) == 24L * 23L / 2L, "S must be every pair")
    // same multiset, alternating order — no monotone trend
    val mixed = orders((1 to 24).map(i =>
      (if (i % 2 == 0) i else 25 - i) * 10.0), "det-mk-mix")
    val none = QueryRegistry.byName("q80_mann_kendall")
      .run(spark, mixed).collect().head
    assert(none.getString(4) == "none",
      s"alternating series graded '${none.getString(4)}'")
  }

  test("q74: planted December bumps top the seasonal index and " +
    "leave a near-flat trend elsewhere") {
    import spark.implicits._
    val dir = tmpDir("det-season")
    val rows = for (m <- 0 until 36; i <- 0 until 10) yield {
      val moy = m % 12 + 1
      val price = if (moy == 12) 300.0 else 100.0
      ((m * 10 + i).toLong, i.toLong, "O", price,
        Timestamp.valueOf(f"2020-$moy%02d-15 00:00:00")
          .toLocalDateTime.plusYears(m / 12).toString.replace("T", " "))
    }
    val df = rows.toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "d")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("d").cast("timestamp").as("o_orderdate"),
        lit("1-URGENT").as("o_orderpriority"))
    plant(dir, "orders", df)
    val rowsOut = QueryRegistry.byName("q74_seasonal_decompose")
      .run(spark, dir).collect()
    val byMoy = rowsOut.map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(byMoy(12L) == byMoy.values.max,
      s"December's seasonal index ${byMoy(12L)} is not the max")
    assert(byMoy(12L) > 1500.0, "bump magnitude lost")
    // every non-December month shares the same (negative) index
    val others = (1L to 11L).map(byMoy)
    assert(others.max - others.min < 1e-9, s"flat months diverge: $others")
  }

  test("q75: constructed gap ladder lands exactly on the integer " +
    "rank targets") {
    import spark.implicits._
    val dir = tmpDir("det-gaps")
    // 100 users, each exactly (view @ t, purchase @ t + k seconds),
    // k = 1..100 — p50 target (100+1) DIV 2 = rank 50 → 50 s,
    // p90 target (900+9) DIV 10 = rank 90 → 90 s
    val rows = (1 to 100).flatMap { k =>
      val t = T0 + k * 3600000L
      Seq((k.toLong, new Timestamp(t), k.toLong, "view", 0.0, """{"k": 1}"""),
        (k + 1000L, new Timestamp(t + k * 1000L), k.toLong, "purchase",
          0.0, """{"k": 1}"""))
    }
    plant(dir, "events",
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val r = QueryRegistry.byName("q75_funnel_latency").run(spark, dir)
      .collect()
    assert(r.length == 1, s"expected one (view, purchase) pair row: ${r.toSeq}")
    assert(r.head.getString(0) == "view" && r.head.getString(1) == "purchase")
    assert(r.head.getLong(2) == 100L)
    assert(r.head.getLong(3) == 50L, s"p50 ${r.head.getLong(3)}")
    assert(r.head.getLong(4) == 90L, s"p90 ${r.head.getLong(4)}")
    assert(r.head.getDouble(5) == (1 to 100).map(_ * 1000L).sum
      / (1000000.0 * 100L) * 1000.0,
      "mean must be the exact micros sum over 1e6·n")
  }

  test("degenerate inputs match the oracle's shape: empty stream, " +
    "single-month corpus, empty calibration half") {
    import spark.implicits._
    // empty click stream — the oracle's global aggregate row is
    // all-NULL for q69; its LIMIT-1/GROUP-BY pipelines emit ZERO rows
    // for q70/q77 (round-9 guards; unreachable on the driver fixture
    // but a real pipeline sees empty partitions routinely)
    val empty = tmpDir("det-empty")
    plant(empty, "events", clickRows(Seq.empty))
    val auc = QueryRegistry.byName("q69_auc_roc").run(spark, empty)
      .collect()
    assert(auc.length == 1 && (0 to 5).forall(auc.head.isNullAt),
      s"empty stream must yield one all-NULL q69 row: ${auc.toSeq}")
    assert(QueryRegistry.byName("q70_ks_separation").run(spark, empty)
      .collect().isEmpty, "empty stream must yield zero q70 rows")
    assert(QueryRegistry.byName("q77_conformal_coverage")
      .run(spark, empty).collect().isEmpty,
      "empty stream must yield zero q77 rows")
    // q77 with a NON-empty eval half but an EMPTY calibration half
    // (all odd event_ids): the oracle's qh GROUP BY over nothing
    // leaves eval clicks joining to zero qhat rows
    val calEmpty = tmpDir("det-cal-empty")
    plant(calEmpty, "events", clickRows(
      (1L to 99L by 2).map(i => (i, i, i % 100, false, true))))
    assert(QueryRegistry.byName("q77_conformal_coverage")
      .run(spark, calEmpty).collect().isEmpty,
      "empty calibration half must yield zero q77 rows")
    // q73 on a 1-month corpus (no k < n candidate) and a 0-order
    // corpus: the oracle's WHERE k < n + LIMIT 1 emits zero rows
    def ordersFix(nMonths: Int, tag: String): String = {
      val dir = tmpDir(tag)
      val rows = for (m <- 0 until nMonths; i <- 0 until 3) yield
        ((m * 3 + i).toLong, i.toLong, "O", 100.0,
          f"2020-${m + 1}%02d-15 00:00:00")
      plant(dir, "orders", rows
        .toDF("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "d")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"),
          col("d").cast("timestamp").as("o_orderdate"),
          lit("1-URGENT").as("o_orderpriority")))
      dir
    }
    assert(QueryRegistry.byName("q73_cusum_changepoint")
      .run(spark, ordersFix(1, "det-1mo")).collect().isEmpty,
      "single-month corpus must yield zero q73 rows")
    assert(QueryRegistry.byName("q73_cusum_changepoint")
      .run(spark, ordersFix(0, "det-0mo")).collect().isEmpty,
      "empty corpus must yield zero q73 rows")
  }
}
