package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** Semantic pins for the round-9 second-session additions that have no
  * subject suite yet (q87 isotonic calibration, s24 grid DBSCAN, q88
  * Adamic-Adar, q89 robust location, t28 JSD drift, q90 ANOVA, q91
  * Markov removal effects, p40 quantile normalization; d24 lives in
  * NearDupSpec, q86 in FreqSketchSpec and SketchStoreSpec). Discipline
  * as in Round8EvalSpec / Round8AdditionsSpec: every oracle MIRRORS
  * its query's formula, so a wrong-direction bug reproduces
  * identically in DuckDB and still hash-matches — these tests
  * re-derive each result through an INDEPENDENT implementation
  * (sequential stack-based PAV, brute-force DBSCAN, sequential chain
  * solves) and planted-truth fixtures (known blobs, planted causal
  * graphs).
  */
class Round9AdditionsSpec extends SparkSpec {

  private val dir = small

  // -----------------------------------------------------------------
  // q87 isotonic calibration

  /** Sequential stack-based pool-adjacent-violators on (n, pos) per
    * ascending score: pooled mean = exact-long ratio, one IEEE
    * division per pool — the same arithmetic as the minimax form. */
  private def pav(groups: Seq[(Long, Long, Long)]): Seq[(Long, Double)] = {
    case class Pool(var n: Long, var pos: Long, var size: Int)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Pool]
    groups.sortBy(_._1).foreach { case (_, n, pos) =>
      stack += Pool(n, pos, 1)
      while (stack.length >= 2 &&
        stack(stack.length - 2).pos.toDouble / stack(stack.length - 2).n >=
          stack.last.pos.toDouble / stack.last.n) {
        val t = stack.remove(stack.length - 1)
        stack.last.n += t.n; stack.last.pos += t.pos; stack.last.size += t.size
      }
    }
    val fitted = stack.flatMap(p =>
      Seq.fill(p.size)(p.pos.toDouble / p.n)).toSeq
    groups.sortBy(_._1).map(_._1).zip(fitted)
  }

  test("q87: a sequential stack-based PAV reproduces every fitted " +
    "value exactly, and the fit is monotone") {
    val g = QueryRegistry.byName("q87_isotonic_calibration")
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(g.nonEmpty)
    val seq = pav(g.map(r => (r._1, r._2, r._3)).toSeq).toMap
    g.foreach { case (score, _, _, _, fitted) =>
      // the minimax form and PAV pooling produce the same pooled-mean
      // doubles: both divide the same exact longs once
      assert(fitted == seq(score),
        s"score=$score minimax=$fitted pav=${seq(score)}")
    }
    g.sliding(2).foreach {
      case Array(a, b) => assert(a._5 <= b._5,
        s"isotonic fit not monotone at ${a._1}->${b._1}")
      case _ =>
    }
    // PAV never moves outside the observed-rate envelope
    val (lo, hi) = (g.map(_._4).min, g.map(_._4).max)
    g.foreach(r => assert(r._5 >= lo && r._5 <= hi))
  }

  // -----------------------------------------------------------------
  // s24 DBSCAN

  test("s24: planted blobs, a multi-hop chain, a border and a far " +
    "outlier get the exact DBSCAN roles and min-id cluster labels") {
    import spark.implicits._
    val d = tmpDir("dbscan")
    // blob A: 4 points pairwise within eps=0.02 -> all cores (deg >= 3)
    val blobA = Seq((10L, 0.500, 0.500), (11L, 0.508, 0.500),
      (12L, 0.500, 0.508), (13L, 0.508, 0.508))
    // chain B: 10 points spaced 0.009 (so +-2 indices are neighbors,
    // +-3 are not) -> inner points are cores; the min label must
    // travel the whole chain (pointer-jumping exercise)
    val chain = (0 until 10).map(i => (20L + i, 0.800 + 0.009 * i, 0.200))
    // border: within eps of cores 10 and 12 only -> deg 2 < 3
    val border = Seq((40L, 0.483, 0.500))
    // noise: far from everything
    val noise = Seq((50L, 0.100, 0.900))
    // the QUERY reads FLOAT parquet and widens to double — the
    // reference must use the same float-rounded coordinates, and the
    // planted spacings keep every distance well off the eps boundary
    val pts = (blobA ++ chain ++ border ++ noise).map { case (id, x, y) =>
      (id, x.toFloat.toDouble, y.toFloat.toDouble)
    }
    plant(d, "embeddings", pts.map { case (id, x, y) =>
      (id, Seq(x.toFloat, y.toFloat) ++ Seq.fill(62)(0f), 0)
    }.toDF("vec_id", "embedding", "label"))
    // brute-force reference with the same arithmetic
    val eps2 = 0.02 * 0.02
    def nbrs(id: Long): Seq[Long] = {
      val (_, ax, ay) = pts.find(_._1 == id).get
      pts.filter { case (b, bx, by) =>
        b != id &&
          (ax - bx) * (ax - bx) + (ay - by) * (ay - by) <= eps2
      }.map(_._1)
    }
    val cores = pts.map(_._1).filter(id => nbrs(id).size >= 3).toSet
    val gotMap = QueryRegistry.byName("s24_dbscan").run(spark, d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(gotMap.keySet == pts.map(_._1).toSet)
    pts.map(_._1).foreach { id =>
      val expectedRole =
        if (cores(id)) "core"
        else if (nbrs(id).exists(cores)) "border"
        else "noise"
      assert(gotMap(id)._1 == expectedRole,
        s"id=$id expected $expectedRole got ${gotMap(id)._1}")
    }
    // blob A is one cluster labeled by its min core id
    blobA.map(_._1).foreach(id => assert(gotMap(id)._2 == 10L))
    // the chain's cores all share ONE label = min core id of the chain,
    // despite the label having to travel the whole chain
    val chainCores = chain.map(_._1).filter(cores)
    assert(chainCores.nonEmpty)
    chainCores.foreach(id => assert(gotMap(id)._2 == chainCores.min,
      s"chain split: $id has ${gotMap(id)._2} not ${chainCores.min}"))
    // chain endpoints are borders of the chain cluster
    assert(gotMap(20L) == (("border", chainCores.min)))
    assert(gotMap(29L) == (("border", chainCores.min)))
    // border attaches to blob A's cluster; noise has NULL cluster
    assert(gotMap(40L) == (("border", 10L)))
    assert(gotMap(50L) == (("noise", -1L)))
  }

  // -----------------------------------------------------------------
  // q88 Adamic-Adar

  test("q88: a naive per-order recount with BigDecimal term sums " +
    "reproduces the top-100 exactly") {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val baskets = li.groupBy(_._1).view
      .mapValues(_.map(_._2).distinct.sorted).toMap
    val acc = scala.collection.mutable.Map
      .empty[(Long, Long), (Long, BigDecimal)]
    baskets.values.filter(_.size >= 2).foreach { ps =>
      val term = BigDecimal(1.0 / math.log(ps.size.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      for (i <- ps.indices; j <- (i + 1) until ps.size) {
        val key = (ps(i), ps(j))
        val (c, t) = acc.getOrElse(key, (0L, BigDecimal(0)))
        acc(key) = (c + 1, t + term)
      }
    }
    val expected = acc.toSeq
      .map { case ((p1, p2), (c, t)) => (p1, p2, c, t.toDouble) }
      .sortBy { case (p1, p2, _, sc) => (-sc, p1, p2) }.take(100)
    val got = QueryRegistry.byName("q88_adamic_adar").run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == expected,
      s"AA top-100 diverged: got ${got.take(3)} expected ${expected.take(3)}")
    // the discount must actually reorder relative to raw co-occurrence
    // somewhere in the fixture, or the operator adds nothing over q37
    assert(got.map(_._3).sliding(2).exists {
      case Seq(a, b) => a < b
      case _ => false
    }, "AA order degenerate: identical to raw co-occurrence everywhere")
  }

  // -----------------------------------------------------------------
  // q89 robust location

  test("q89: a sequential sorted-scan recount reproduces n, cuts and " +
    "all three means exactly") {
    val rows = Tables(spark, dir, "lineitem")
      .select(col("l_extendedprice"), col("l_orderkey"),
        col("l_linenumber")).collect()
      .map(r => (BigDecimal(r.getDouble(0))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP),
        r.getLong(1), r.getInt(2)))
      .sortBy(t => (t._1, t._2, t._3))
    val n = rows.length.toLong
    val k = 5 * n / 100
    val kept = rows.slice(k.toInt, (n - k).toInt).map(_._1)
    val vLo = rows(k.toInt)._1
    val vHi = rows((n - k).toInt - 1)._1
    // the round-11 gated surface: exact cent sums, then the split
    // integer division (c div n)·1e7 + ((c mod n)·1e7) div n shipped
    // as a raw BIGINT e9 (no DecimalType — the class the driver's
    // oracle env hash-fails) — replicated here in plain Long math
    def e9(cents: Long, den: Long): Long =
      (cents / den) * 10000000L + ((cents % den) * 10000000L) / den
    val sAllC = (rows.map(_._1).sum * 100).toLongExact
    val sKeptC = (kept.sum * 100).toLongExact
    val wC = sKeptC + k * (vLo * 100).toLongExact +
      k * (vHi * 100).toLongExact
    val mean = e9(sAllC, n)
    val trimmed = e9(sKeptC, n - 2 * k)
    val winsor = e9(wC, n)
    val g = QueryRegistry.byName("q89_robust_location").run(spark, dir)
      .collect()(0)
    assert(g.getLong(0) == n && g.getLong(1) == k)
    assert(g.getLong(2) == (vLo * 100).toLongExact
      && g.getLong(3) == (vHi * 100).toLongExact)
    assert(g.getLong(4) == mean, s"mean ${g.getLong(4)} != $mean")
    assert(g.getLong(5) == trimmed)
    assert(g.getLong(6) == winsor)
    // semantic anchor: the pinned-scale means sit within 1e-9 of the
    // real-valued BigDecimal quotients
    assert((BigDecimal(mean, 9) - rows.map(_._1).sum / n).abs < 1e-9)
    assert((BigDecimal(trimmed, 9) - kept.sum / (n - 2 * k)).abs < 1e-9)
    // robustness direction on this fixture: the trimmed mean must
    // differ from the raw mean (tails exist), and sit between the cuts
    assert(trimmed != mean)
    assert(BigDecimal(trimmed, 9) >= vLo && BigDecimal(trimmed, 9) <= vHi)
  }

  // -----------------------------------------------------------------
  // t28 Jensen-Shannon drift

  /** Plain-Scala JSD(source vs rest) over the 256-bucket hashed
    * char-trigram profile, mirroring the query's exact arithmetic
    * (integer products, one IEEE division + ln per term, round-6
    * BigDecimal term sums, one division per side, halved, round 6). */
  private def jsdRecount(docs: Seq[(String, String)])
      : Map[String, Double] = {
    val buckets = docs.flatMap { case (src, text) =>
      if (text.length < 3) Nil
      else text.sliding(3).map(g => (src, md5hex(g).take(2))).toSeq
    }
    val cSb = buckets.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cS = buckets.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val cB = buckets.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val c = buckets.size.toLong
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    cS.keys.map { src =>
      val cs = cS(src)
      val cq = c - cs
      var tp = BigDecimal(0); var tq = BigDecimal(0)
      cB.foreach { case (b, cb) =>
        val csb = cSb.getOrElse((src, b), 0L)
        val cqb = cb - csb
        val den = (csb * cq + cqb * cs).toDouble
        if (csb > 0)
          tp += r6(csb * math.log(2L * csb * cq / den))
        if (cqb > 0)
          tq += r6(cqb * math.log(2L * cqb * cs / den))
      }
      src -> r6((tp.toDouble / cs + tq.toDouble / cq) / 2).toDouble
    }.toMap
  }

  test("t28: a plain-Scala recount reproduces every source's JSD; " +
    "bounds hold; a planted divergent source dominates") {
    val docs = Tables(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val expect = jsdRecount(docs)
    val got = QueryRegistry.byName("t28_jsd_drift").run(spark, dir)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (src, j) =>
      assert(j == expect(src), s"$src: $j != ${expect(src)}")
      // JSD in nats is bounded by ln 2 (plus round-6 slack) and >= 0
      assert(j >= -1e-6 && j <= math.log(2.0) + 1e-6, s"$src out of bounds: $j")
    }
    // planted: one source drawn from a disjoint alphabet must carry a
    // JSD far above two identically-distributed sources
    val d = tmpDir("jsd")
    val common = "the quick brown fox jumps over the lazy dog " * 5
    plant(d, "documents", documents(
      Seq((1L, common, "en", "sA"), (2L, common, "en", "sB"),
        (3L, "zzzqqqxxxwwwvvv" * 12, "en", "sC"))))
    val p = QueryRegistry.byName("t28_jsd_drift").run(spark, d)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(p("sC") > 0.5, s"divergent source not flagged: ${p("sC")}")
    assert(p("sA") < p("sC") && p("sB") < p("sC"))
    // sA and sB are each HALF the corpus with identical profiles: their
    // rest includes the divergent sC, so both sit strictly above zero
    // but equal each other by symmetry of the construction
    assert(p("sA") == p("sB"))
  }

  test("t28: a single-source corpus has no 'rest' and yields NULL " +
    "jsd_nats (not NaN/inf) — the degenerate-input guard") {
    val d = tmpDir("jsd-single")
    plant(d, "documents", documents(
      Seq((1L, "the quick brown fox jumps over the lazy dog", "en", "sOnly"),
        (2L, "pack my box with five dozen liquor jugs", "en", "sOnly"))))
    val rows = QueryRegistry.byName("t28_jsd_drift").run(spark, d)
      .collect()
    assert(rows.length == 1 && rows.head.getString(0) == "sOnly")
    assert(rows.head.getLong(2) == 0L, "rest count must be 0")
    assert(rows.head.isNullAt(4),
      s"single-source jsd_nats must be NULL, got ${rows.head.get(4)}")
  }

  // -----------------------------------------------------------------
  // q90 one-way ANOVA

  test("q90: a plain-Scala moment recount reproduces every group row " +
    "and the F statistic; degenerate inputs yield NULL F") {
    val lens = Tables(spark, dir, "documents")
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val g = lens.groupBy(_._1).view.mapValues { ys =>
      val v = ys.map(_._2)
      (v.size.toLong, v.sum, v.map(y => y * y).sum)
    }.toMap
    val n = g.values.map(_._1).sum
    val s = g.values.map(_._2).sum
    val k = g.size.toLong
    val ssw = g.values.map { case (ng, sg, qg) =>
      r6((ng * qg - sg * sg).toDouble / ng) }.sum.toDouble
    val ssb = g.values.map { case (ng, sg, _) =>
      r6((sg * sg).toDouble / ng) }.sum.toDouble - (s * s).toDouble / n
    val fStat = (ssb / (k - 1)) / (ssw / (n - k))
    val rows = QueryRegistry.byName("q90_anova_length_by_source")
      .run(spark, dir).collect()
    assert(rows.length == g.size)
    rows.foreach { r =>
      val src = r.getString(0)
      val (ng, sg, _) = g(src)
      assert(r.getLong(1) == ng && r.getLong(2) == sg)
      assert(r.getDouble(3) == sg.toDouble / ng)
      assert(r.getLong(4) == n && r.getLong(5) == k)
      assert(r.getDouble(6) == ssb && r.getDouble(7) == ssw)
      assert(r.getDouble(8) == fStat, s"$src F ${r.getDouble(8)} != $fStat")
    }
    // degenerate guards: one group -> NULL F; zero within-variance
    // (constant lengths per group) -> NULL F, never Inf/NaN
    val d1 = tmpDir("anova1")
    plant(d1, "documents", documents(
      Seq((1L, "aaa", "en", "s0"), (2L, "bbbb", "en", "s0"))))
    val one = QueryRegistry.byName("q90_anova_length_by_source")
      .run(spark, d1).collect()
    assert(one.forall(_.isNullAt(8)), "k=1 must NULL the F statistic")
    val d2 = tmpDir("anova2")
    plant(d2, "documents", documents(
      Seq((1L, "aaa", "en", "s0"), (2L, "xyz", "en", "s0"),
        (3L, "ccccc", "en", "s1"), (4L, "ddddd", "en", "s1"))))
    val zero = QueryRegistry.byName("q90_anova_length_by_source")
      .run(spark, d2).collect()
    assert(zero.forall(_.isNullAt(8)), "ssw=0 must NULL the F statistic")
  }

  // -----------------------------------------------------------------
  // q91 Markov removal effects

  /** Sequential micro-unit chain solve mirroring q91's arithmetic:
    * 6 iterations, p pinned 1e9 at purchase and 0 at the removed
    * channel, floor division by the row total per step. */
  private def solveChain(trans: Map[(String, String), Long],
      states: Seq[String], removed: Option[String]): Map[String, Long] = {
    val tot = trans.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    var p = states.map(s =>
      s -> (if (s == "purchase") 1000000000L else 0L)).toMap
    (1 to 6).foreach { _ =>
      p = states.map { s =>
        s -> (
          if (s == "purchase") 1000000000L
          else if (removed.contains(s)) 0L
          else tot.get(s) match {
            case Some(t) =>
              val num = states.map(n =>
                trans.getOrElse((s, n), 0L) * p(n)).sum
              Math.floorDiv(num, t)
            case None => 0L
          })
      }.toMap
    }
    p
  }

  private def removalRecount(
      ev: Seq[(Long, Long, String, Long)]) // (user, event_id, type, ms)
      : Seq[(String, Long, Long, Option[Double])] = {
    val byUser = ev.groupBy(_._1).view
      .mapValues(_.sortBy(e => (e._4, e._2)).map(_._3)).toMap
    val trans = byUser.values.flatMap(p => p.zip(p.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val states = trans.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct
    val firsts = byUser.values.map(_.head).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val nu = firsts.values.sum
    def pStart(rm: Option[String]): Long = {
      val p = solveChain(trans, states, rm)
      Math.floorDiv(firsts.map { case (s, n) =>
        n * p.getOrElse(s, 0L) }.sum, nu)
    }
    val pb = pStart(None)
    states.filter(_ != "purchase").sorted.map { c =>
      val pr = pStart(Some(c))
      (c, pb, pr,
        if (pb > 0) Some((pb - pr).toDouble / pb) else None)
    }
  }

  test("q91: a sequential chain solve reproduces every channel's " +
    "removal effect exactly on the fixture") {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ms")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSeq
    val expected = removalRecount(ev)
    val got = QueryRegistry.byName("q91_markov_removal").run(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    assert(got == expected,
      s"removal effects diverged:\n got $got\n exp $expected")
    assert(expected.nonEmpty)
  }

  test("q91: planted causal graph — the only route to purchase has " +
    "effect 1, a dead-end channel has effect 0") {
    import spark.implicits._
    val d = tmpDir("markov")
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String)]
    var eid = 0L
    (1L to 6L).foreach { u =>
      Seq("start", "gate", "purchase").foreach { t =>
        rows += ((eid, u, t)); eid += 1 }
    }
    (7L to 10L).foreach { u =>
      Seq("start", "side").foreach { t =>
        rows += ((eid, u, t)); eid += 1 }
    }
    plant(d, "events", rows.toSeq.toDF("event_id", "user_id", "event_type")
      .withColumn("ts", expr(
        "timestamp'2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,event_id)"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}")))
    val got = QueryRegistry.byName("q91_markov_removal").run(spark, d)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3)))).toMap
    // base: p(start) = 6e8 (6 of 10 users convert), every user starts
    // at 'start'
    assert(got.keySet == Set("start", "gate", "side"))
    assert(got("gate") == ((600000000L, 0L, 1.0)),
      s"gate: ${got("gate")}")
    assert(got("side") == ((600000000L, 600000000L, 0.0)),
      s"side: ${got("side")}")
    assert(got("start") == ((600000000L, 0L, 1.0)),
      s"start: ${got("start")}")
  }

  // -----------------------------------------------------------------
  // p40 quantile normalization

  test("p40: a plain-Scala rank/lookup recount reproduces every row; " +
    "equal-size planted sources normalize to identical multisets") {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val global = docs.sortBy(t => (t._3, t._1)).map(_._3) // rank -> score
    val n = global.length.toLong
    val expected = docs.groupBy(_._2).flatMap { case (src, ds) =>
      val ns = ds.length.toLong
      ds.sortBy(t => (t._3, t._1)).zipWithIndex.map {
        case ((id, _, score), i) =>
          val rank = i + 1L
          val target = (rank * n + ns - 1) / ns
          (id, src, score, rank, ns, global((target - 1).toInt))
      }
    }.toSeq.sortBy(_._1)
    val got = QueryRegistry.byName("p40_quantile_normalize")
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected,
      s"normalization diverged: got ${got.take(2)} exp ${expected.take(2)}")
    // planted: two equal-size sources with SHIFTED score scales must
    // carry identical normalized multisets (the defining property) —
    // and a global cut then removes the same quantile of each
    import spark.implicits._
    val d = tmpDir("qnorm")
    val rows = (1L to 50L).map(i => (i, "x" * (100 + i.toInt), "en", "sLo")) ++
      (51L to 100L).map(i => (i, "x" * (5000 + 3 * i.toInt), "en", "sHi"))
    plant(d, "documents", rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long")))
    val p = QueryRegistry.byName("p40_quantile_normalize").run(spark, d)
      .collect().map(r => (r.getString(1), r.getLong(5)))
    val bySrc = p.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(bySrc("sLo") == bySrc("sHi"),
      "equal-size sources must normalize to identical score multisets")
    // raw scales don't overlap at all, yet the normalized threshold
    // admits exactly half of EACH source
    val cut = bySrc("sLo")(25)
    p.groupBy(_._1).foreach { case (src, xs) =>
      val kept = xs.count(_._2 >= cut)
      assert(kept == 25, s"$src keeps $kept of 50 above the median cut")
    }
  }

  test("s24 fixture sanity: all three roles and >1 cluster exist at " +
    "the gate SF") {
    val rows = QueryRegistry.byName("s24_dbscan").run(spark, dir)
      .collect()
    val roles = rows.map(_.getString(1)).toSet
    assert(roles == Set("core", "border", "noise"),
      s"degenerate fixture: roles=$roles")
    val clusters = rows.filterNot(_.isNullAt(2)).map(_.getLong(2)).toSet
    assert(clusters.size > 1, "expected multiple density clusters")
  }
}
