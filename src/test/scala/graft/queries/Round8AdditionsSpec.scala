package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** Semantic pins for the round-8 additions (p33, s19, t22). Each
  * oracle MIRRORS its query's formula, so a wrong-direction bug
  * reproduces identically in DuckDB and still hash-matches; these
  * tests re-derive each result through an INDEPENDENT implementation —
  * pure-Scala MessageDigest md5 instead of the engines' md5, plain
  * Scala doubles/BigDecimal instead of Catalyst folds — and assert
  * exact agreement on the driver fixture.
  */
class Round8AdditionsSpec extends SparkSpec {

  private val dir = small

  private def hrw(docId: Long, n: Int): Int =
    (1 to n).maxBy(sh => (md5hex(s"$docId:$sh"), sh))

  test("p33: pure-Scala HRW reproduces the report exactly; growth " +
    "moves docs only to the new shard") {
    val docIds = Tables(spark, dir, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val rows = docIds.map(id => (hrw(id, 8), hrw(id, 9)))
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (old, g) =>
        val moved = g.count { case (o, n) => n != o }
        val elsewhere = g.count { case (o, n) => n != o && n != 9 }
        (old.toLong, g.length.toLong, moved.toLong, elsewhere.toLong,
          BigDecimal(moved.toDouble / g.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = QueryRegistry.byName("p33_rendezvous_reshard")
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected, s"HRW report diverges from the " +
      s"independent MessageDigest argmax:\n got $got\n exp $expected")
    // the rendezvous invariant: a grown shard set captures docs, it
    // never re-deals between survivors
    assert(got.forall(_._4 == 0L), "a doc moved to a SURVIVING shard")
    val (moved, total) = (got.map(_._3).sum, got.map(_._2).sum)
    assert(total == docIds.length)
    val frac = moved.toDouble / total
    assert(frac > 0.05 && frac < 0.20,
      s"moved fraction $frac implausibly far from 1/9")
  }

  test("s19: plain-Scala brute force reproduces every sweep row; " +
    "recall is monotone in the prefix width") {
    val vecs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.operators.VectorOps.toDouble(col("embedding")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val qids = vecs.keys.filter(id => id >= 300 && id < 320).toSeq.sorted
    def cos(a: Array[Double], b: Array[Double], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def top10(q: Long, d: Int): Set[Long] =
      vecs.keys.filter(_ != q).toSeq
        .map(c => (c, cos(vecs(q), vecs(c), d)))
        .sortBy { case (c, s) => (-s, c) }.take(10).map(_._1).toSet
    val truth = qids.map(q => q -> top10(q, 64)).toMap
    val expected = Seq(8, 16, 32).map { d =>
      val hits = qids.map(q => (top10(q, d) & truth(q)).size)
      (d, qids.length.toLong, hits.sum.toLong, hits.min.toLong,
        hits.max.toLong,
        BigDecimal(hits.sum / (10.0 * qids.length))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = QueryRegistry.byName("s19_matryoshka_recall")
      .run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected,
      s"matryoshka sweep diverges from plain-Scala brute force:\n" +
        s" got $got\n exp $expected")
    val recalls = got.map(_._6)
    assert(recalls == recalls.sorted,
      s"recall not monotone in prefix width: $recalls")
    assert(recalls.last < 1.0,
      "recall@32 hit 1.0 — the truncation sweep is vacuous")
  }

  test("t22: plain-Scala contingency KL reproduces every source row; " +
    "KL is non-negative (Gibbs)") {
    val docs = Tables(spark, dir, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val counts = collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { case (src, text) =>
      if (text.length >= 3)
        (0 to text.length - 3).foreach { i =>
          val b = md5hex(text.substring(i, i + 3)).take(2)
          counts((src, b)) = counts.getOrElse((src, b), 0L) + 1L
        }
    }
    val cS = counts.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val cB = counts.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val cTot = counts.values.sum
    val expected = cS.keys.toSeq.sorted.map { src =>
      val terms = counts.collect { case ((s, b), c) if s == src =>
        // the query's discipline: round each c·ln term to 6 decimals,
        // DECIMAL-sum, ONE division at the end
        BigDecimal(c * math.log((c.toDouble * cTot) / (cS(src).toDouble * cB(b))))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
      // the query divides the DECIMAL sum by c_s AS DOUBLES — mirror
      // that exactly (an exact-BigDecimal division can differ in the
      // last ulp and flip the 6th-decimal rounding)
      val kl = BigDecimal(terms.sum.toDouble / cS(src).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (src, cS(src),
        counts.keys.count(_._1 == src).toLong, kl)
    }
    val got = QueryRegistry.byName("t22_source_drift")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == expected, s"KL drift report diverges from the " +
      s"independent contingency fold:\n got $got\n exp $expected")
    assert(got.forall(_._4 >= 0.0),
      s"negative KL — marginals swapped? ${got.filter(_._4 < 0.0)}")
  }

  test("t23: a sequential pure-Scala BPE trainer reproduces all three " +
    "merge iterations exactly") {
    // the classic in-memory trainer — mutable greedy scan, nothing
    // relational — must agree with the windowed gaps-and-islands form
    // on every report column (including the aa|aa overlap parity)
    def greedyMerge(syms: Vector[String], a: String, b: String)
        : (Vector[String], Int) = {
      val out = Vector.newBuilder[String]
      var i = 0; var merges = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); merges += 1; i += 2
        } else { out += syms(i); i += 1 }
      }
      (out.result(), merges)
    }
    var words = Tables(spark, dir, "documents")
      .filter(col("lang") === "en")
      .select(col("text")).collect().map(_.getString(0))
      .flatMap(_.split(" ").filter(_.nonEmpty))
      .map(w => w.map(_.toString).toVector).toVector
    val expected = (1 to 3).map { it =>
      val counts = collection.mutable.Map.empty[(String, String), Long]
      words.foreach(w => w.zip(w.tail).foreach(p =>
        counts(p) = counts.getOrElse(p, 0L) + 1L))
      val ((a, b), c) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
      val before = words.map(_.length.toLong).sum
      val merged = words.map(w => greedyMerge(w, a, b))
      val nMerges = merged.map(_._2.toLong).sum
      words = merged.map(_._1)
      (it, a, b, c, before, nMerges, before - nMerges)
    }
    val got = QueryRegistry.byName("t23_bpe_merges")
      .run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected, s"BPE merge report diverges from the " +
      s"sequential trainer:\n got $got\n exp $expected")
    // internal consistency: the symbol ledger must balance across
    // iterations, and adjacency counts bound merges from above
    got.sliding(2).foreach { case Seq(p, n) =>
      assert(p._7 == n._5, s"symbol ledger breaks between $p and $n")
    }
    assert(got.forall(r => r._4 >= r._6),
      s"more merges than pair occurrences: $got")
  }

  test("t24: sequential train-on-sample + encode-all reproduces the " +
    "per-language fertility report exactly") {
    def greedyMerge(syms: Vector[String], a: String, b: String)
        : Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def toWords(text: String) =
      text.split(" ").filter(_.nonEmpty)
        .map(_.map(_.toString).toVector).toVector
    // train three merges on the en doc_id%3==0 subsample
    var sample = docs.filter(d => d._2 == "en" && d._1 % 3 == 0)
      .flatMap(d => toWords(d._3)).toVector
    val merges = (1 to 3).map { _ =>
      val counts = collection.mutable.Map.empty[(String, String), Long]
      sample.foreach(w => w.zip(w.tail).foreach(p =>
        counts(p) = counts.getOrElse(p, 0L) + 1L))
      val (pair, _) = counts.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
      sample = sample.map(w => greedyMerge(w, pair._1, pair._2))
      pair
    }
    // encode every doc with the learned merges, in order
    val perLang = docs.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (lang, ds) =>
        val words = ds.flatMap(d => toWords(d._3))
        val encoded = words.map(w =>
          merges.foldLeft(w)((v, p) => greedyMerge(v, p._1, p._2)))
        val (nw, nc, ns) = (words.length.toLong,
          words.map(_.length.toLong).sum,
          encoded.map(_.length.toLong).sum)
        (lang, ds.length.toLong, nw, nc, ns,
          BigDecimal(ns.toDouble / nw.toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(nc.toDouble / ns.toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = QueryRegistry.byName("t24_bpe_fertility")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == perLang, s"fertility report diverges from the " +
      s"sequential encoder:\n got $got\n exp $perLang")
    // each merge only shrinks: chars >= symbols >= words
    assert(got.forall(r => r._4 >= r._5 && r._5 >= r._3),
      s"symbol ledger out of order: $got")
  }

  test("s20: plain-Scala scoring reproduces the frontier; the anchor " +
    "row is exactly recall 1") {
    val vecs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.operators.VectorOps.toDouble(col("embedding")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val dims = 64
    // per-dim (min, step) — then the SQ8 round trip in plain doubles
    val mins = (0 until dims).map(d => vecs.values.map(_(d)).min).toArray
    val steps = (0 until dims)
      .map(d => (vecs.values.map(_(d)).max - mins(d)) / 256.0).toArray
    def dequant(x: Array[Double]): Array[Double] =
      (0 until dims).map { d =>
        if (steps(d) == 0) mins(d)
        else mins(d) + (math.min(math.max(
          math.floor((x(d) - mins(d)) / steps(d)), 0), 255) + 0.5) * steps(d)
      }.toArray
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      r6(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
    // asymmetric: exact query vs dequantized corpus, FULL norms
    def cosSq8(a: Array[Double], b: Array[Double]): Double = {
      val bq = dequant(b)
      var dot = 0.0; var i = 0
      while (i < dims) { dot += a(i) * bq(i); i += 1 }
      def n(x: Array[Double]) = math.sqrt(x.map(e => e * e).sum)
      r6(dot / (n(a) * n(bq)))
    }
    val qids = vecs.keys.filter(id => id >= 400 && id < 420).toSeq.sorted
    def top10(q: Long, score: (Array[Double], Array[Double]) => Double)
        : Set[Long] =
      vecs.keys.filter(_ != q).toSeq
        .map(c => (c, score(vecs(q), vecs(c))))
        .sortBy { case (c, sc) => (-sc, c) }.take(10).map(_._1).toSet
    val truth = qids.map(q => q -> top10(q, cos(_, _, dims))).toMap
    def rowFor(method: String, bytes: Int,
        score: (Array[Double], Array[Double]) => Double) = {
      val hits = qids.map(q => (top10(q, score) & truth(q)).size)
      (method, bytes, qids.length.toLong, hits.sum.toLong,
        r6(hits.sum / (10.0 * qids.length)))
    }
    val expected = Seq(
      rowFor("full_f32", 256, cos(_, _, dims)),
      rowFor("prefix16_f32", 64, cos(_, _, 16)),
      rowFor("sq8", 64, cosSq8)).sortBy(_._1)
    val got = QueryRegistry.byName("s20_compression_frontier")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got == expected, s"frontier diverges from plain-Scala " +
      s"scoring:\n got $got\n exp $expected")
    val anchor = got.find(_._1 == "full_f32").get
    assert(anchor._5 == 1.0, s"anchor recall ${anchor._5} != 1.0")
  }

  test("p34: a plain-Scala contingency recount reproduces every ladder " +
    "level; risk is monotone non-increasing under generalization") {
    val rows = Tables(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    def level(keyOf: ((Int, String, Double)) => Any, lvl: Int,
        label: String) = {
      val sizes = rows.groupBy(keyOf).values.map(_.length.toLong).toSeq
      val risk = sizes.filter(_ < 5).sum
      (lvl, label, sizes.length.toLong, sizes.min,
        sizes.count(_ < 5).toLong, risk,
        BigDecimal(risk.toDouble / sizes.sum.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expected = Seq(
      // .toInt truncates toward zero — the contract both engines pin
      level(r => (r._1, r._2, (r._3 / 1000.0).toInt), 0,
        "nation,segment,balance_1k"),
      level(r => (r._1, r._2), 1, "nation,segment"),
      level(r => r._2, 2, "segment"))
    val got = QueryRegistry.byName("p34_k_anonymity")
      .run(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(got == expected, s"k-anonymity ladder diverges from the " +
      s"contingency recount:\n got $got\n exp $expected")
    val risks = got.map(_._7)
    assert(risks == risks.sorted.reverse,
      s"coarsening INCREASED re-identification risk: $risks")
  }

  test("q61: pure-Scala subset enumeration reproduces the exact Shapley " +
    "report; the efficiency axiom holds") {
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime,
        r.getString(3)))
    val fp = ev.filter(_._4 == "purchase").groupBy(_._2)
      .map { case (u, g) => u -> g.map(_._3).min }
    val masks = ev
      .filter(e => e._4 == "click" || e._4 == "view")
      .filter(e => fp.get(e._2).exists(e._3 < _))
      .groupBy(_._2).values
      .map(_.map(e => 1 << (e._1 % 4).toInt).reduce(_ | _)).toSeq
    val nm: Map[Int, Long] =
      masks.groupBy(identity).map { case (m, g) => m -> g.length.toLong }
    def v(setMask: Int): Long =
      nm.collect { case (m, n) if (m & setMask) != 0 => n }.sum
    val w = Array(6L, 2L, 2L, 6L) // |S|!(3-|S|)! for |S| = 0..3
    val names = Array("search", "social", "email", "direct")
    val expected = (0 to 3).map { c =>
      val bit = 1 << c
      val phi24 = (0 to 15).filter(s => (s & bit) == 0)
        .map(s => w(Integer.bitCount(s)) * (v(s | bit) - v(s))).sum
      val nUsers = nm.collect { case (m, n) if (m & bit) != 0 => n }.sum
      (names(c), nUsers, phi24,
        BigDecimal(phi24.toDouble / 24.0)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    val got = QueryRegistry.byName("q61_shapley_attribution")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == expected, s"Shapley report diverges from the " +
      s"independent subset enumeration:\n got $got\n exp $expected")
    // efficiency axiom: the channel credits sum exactly to the grand
    // coalition's value (every reached converted user), in 24ths
    assert(got.map(_._3).sum == 24L * v(15),
      s"sum of phi*24 = ${got.map(_._3).sum} != 24*v(C) = ${24L * v(15)}")
    assert(v(15) == masks.length.toLong)
  }

  test("q62: a sequential Kaplan-Meier recount reproduces every row; " +
    "at-risk counts strictly decrease and log-survival never rises") {
    import java.time.ZoneOffset
    import java.time.temporal.ChronoUnit
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant, r.getString(2)))
    val t0 = ev.filter(_._3 == "click").groupBy(_._1)
      .map { case (u, g) => u -> g.map(_._2).min }
    val tp = ev.filter(_._3 == "purchase")
      .filter(e => t0.get(e._1).exists(t => !e._2.isBefore(t)))
      .groupBy(_._1).map { case (u, g) => u -> g.map(_._2).min }
    val tmax = ev.map(_._2).max
    def day(i: java.time.Instant) = i.atZone(ZoneOffset.UTC).toLocalDate
    val durs = t0.toSeq.map { case (u, t) =>
      val end = tp.getOrElse(u, tmax)
      (ChronoUnit.DAYS.between(day(t), day(end)), tp.contains(u))
    }
    val byDay = durs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (d, g) =>
        (d, g.length.toLong, g.count(_._2).toLong) }
    var remaining = durs.length.toLong
    var lnMicro = 0L
    var dead = false
    val expected = byDay.map { case (dur, cnt, d) =>
      val nrisk = remaining
      remaining -= cnt
      if (d > 0 && d < nrisk)
        lnMicro += BigDecimal(math.log(1.0 - d.toDouble / nrisk) * 1e6)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      if (d >= nrisk) dead = true
      // round-9: the query renders the e6 integer with ONE exact IEEE
      // division (no outer round — see q62's Scaladoc)
      val km: Option[Double] = if (dead) None
        else Some(lnMicro.toDouble / 1000000.0)
      (dur, nrisk, d, cnt - d, km)
    }
    val got = QueryRegistry.byName("q62_survival_km")
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(got == expected, s"Kaplan-Meier curve diverges from the " +
      s"sequential recount:\n got $got\n exp $expected")
    val risks = got.map(_._2)
    assert(risks == risks.sorted.reverse && risks.distinct == risks,
      s"at-risk set must strictly shrink: $risks")
    val kms = got.flatMap(_._5)
    assert(kms == kms.sorted.reverse,
      s"log-survival increased along the curve: $kms")
    assert(got.map(r => r._3 + r._4).sum == t0.size.toLong,
      "events + censored must account for the whole cohort")
  }

  test("t25: a sequential first-occurrence scan reproduces the Heaps " +
    "fit exactly; type growth is monotone") {
    val docs = Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    def mom(terms: Seq[BigDecimal]): Double =
      terms.sum.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r6(x: Double): BigDecimal =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (src, g) =>
        val toks = g.sortBy(_._2)
          .flatMap(_._3.split(" ").filter(_.nonEmpty))
        val seen = collection.mutable.Set.empty[String]
        val firsts = toks.zipWithIndex.collect {
          case (t, i) if seen.add(t) => i + 1L
        }
        val nTok = toks.length.toLong
        val bins = firsts.groupBy(f => 63 - java.lang.Long
            .numberOfLeadingZeros(f)).toSeq.sortBy(_._1)
          .map { case (b, fs) => (b, fs.length.toLong) }
        var vt = 0L
        val pts = bins.map { case (b, cnt) =>
          vt += cnt
          (r6(math.log(math.min((1L << (b + 1)) - 1, nTok).toDouble)),
            r6(math.log(vt.toDouble)))
        }
        val n = pts.length.toDouble
        val sx = mom(pts.map(_._1)); val sy = mom(pts.map(_._2))
        val sxy = mom(pts.map(p => p._1 * p._2))
        val sxx = mom(pts.map(p => p._1 * p._1))
        val syy = mom(pts.map(p => p._2 * p._2))
        val num = n * sxy - sx * sy
        val denX = n * sxx - sx * sx
        val denY = n * syy - sy * sy
        (src, nTok, vt, pts.length.toLong,
          r6(num / denX).toDouble,
          r6((sy - num / denX * sx) / n).toDouble,
          r6(num * num / (denX * denY)).toDouble)
    }
    val got = QueryRegistry.byName("t25_heaps_law")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got == expected, s"Heaps fit diverges from the sequential " +
      s"first-occurrence scan:\n got $got\n exp $expected")
    // the fit must be over at least a few octaves, and V <= n always
    assert(got.forall(_._4 >= 3), s"too few sample points: $got")
    assert(got.forall(r => r._3 <= r._2),
      "more types than tokens — rank/offset arithmetic broke")
  }

  test("mm15: a sequential shot-segmentation scan reproduces every " +
    "keyframe row; shots partition the frame stream") {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.sortBy(_._1).flatMap { case (id, text) =>
      val nf = math.min(63L, math.ceil(text.length / 16.0).toLong - 1)
      val energies = (0L to nf).map { f =>
        text.substring((f * 16).toInt,
          math.min((f * 16 + 16).toInt, text.length))
          .map(c => c.toLong * c.toLong).sum
      }
      var shot = 1L
      val tagged = energies.zipWithIndex.map { case (e, f) =>
        if (f > 0 && math.abs(e - energies(f - 1)) > 20000) shot += 1
        (shot, f.toLong, e)
      }
      tagged.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, fr) =>
        val (kf, ke) = fr.map(x => (x._2, x._3))
          .maxBy { case (f, e) => (e, -f) } match {
            case (f, e) => (f, e)
          }
        (id, s, fr.map(_._2).min, fr.length.toLong, kf, ke)
      }
    }.toSeq
    val got = QueryRegistry.byName("mm15_keyframes")
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, s"keyframe report diverges from the " +
      s"sequential scan:\n got ${got.take(5)}\n exp ${expected.take(5)}")
    // shots PARTITION each clip's frames; the keyframe sits inside its
    // shot's frame range
    got.groupBy(_._1).foreach { case (id, shots) =>
      val total = shots.map(_._4).sum
      val text = docs.find(_._1 == id).get._2
      val nf = math.min(64L, math.ceil(text.length / 16.0).toLong)
      assert(total == nf, s"doc $id: shots cover $total of $nf frames")
      shots.foreach { s =>
        assert(s._5 >= s._3 && s._5 < s._3 + s._4,
          s"doc $id shot ${s._2}: keyframe ${s._5} outside its shot")
      }
    }
  }

  test("v05: the shredding profile matches first-principles counts " +
    "derived from the raw columns (no JSON in the check)") {
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val n = ev.length.toLong
    val click = ev.filter(e => e._3 == "click" || e._3 == "view")
    val buy = ev.filter(_._3 == "purchase")
    val other = ev.filter(e => e._3 != "click" && e._3 != "view" &&
      e._3 != "purchase")
    val kNull = ev.count(_._1 % 5 == 0).toLong
    val kTyped = ev.filter(_._1 % 5 != 0)
    val expected = Seq(
      ("$.cents", buy.length.toLong, 0L, buy.length.toLong, 0L,
        buy.length.toLong, buy.map(e => (e._1 * 37 + e._2) % 10000).sum),
      ("$.items[0]", buy.length.toLong, 0L, buy.length.toLong, 0L,
        buy.length.toLong, buy.map(_._1 % 5).sum),
      ("$.items[1]", buy.length.toLong, 0L, buy.length.toLong, 0L,
        buy.length.toLong, buy.map(_._1 % 7).sum),
      ("$.k", n, kNull, n - kNull, 0L, n - kNull, kTyped.map(_._4).sum),
      ("$.msg", other.length.toLong, 0L, 0L, other.length.toLong, 0L, 0L),
      ("$.pos.x", click.length.toLong, 0L, click.length.toLong, 0L,
        click.length.toLong, click.map(_._2 % 100).sum))
    val got = QueryRegistry.byName("v05_variant_shredding")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got == expected, s"shredding profile diverges from the " +
      s"first-principles recount:\n got $got\n exp $expected")
  }

  test("q63: a sequential micro-unit matrix-vector recursion reproduces " +
    "the absorption report; purchase is exactly absorbed") {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val trans = collection.mutable.Map.empty[(String, String), Long]
    ev.groupBy(_._1).values.foreach { g =>
      val seq = g.sortBy(e => (e._4, e._2)).map(_._3)
      seq.zip(seq.tail).foreach(p =>
        trans(p) = trans.getOrElse(p, 0L) + 1L)
    }
    val ntot = trans.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val states = (trans.keys.map(_._1) ++ trans.keys.map(_._2)).toSeq
      .distinct.sorted
    var p: Map[String, Long] =
      states.map(s => s -> (if (s == "purchase") 1000000000L else 0L)).toMap
    (1 to 6).foreach { _ =>
      p = states.map { s =>
        s -> (if (s == "purchase") 1000000000L
          else {
            val num = trans.collect { case ((c, t), cnt) if c == s =>
              cnt * p(t) }.sum
            if (ntot.getOrElse(s, 0L) == 0L) 0L else num / ntot(s)
          })
      }.toMap
    }
    val expected = states.map { s =>
      (s, ntot.getOrElse(s, 0L), p(s), p(s).toDouble / 1e9)
    }
    val got = QueryRegistry.byName("q63_absorbing_markov")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got == expected, s"absorption report diverges from the " +
      s"sequential recursion:\n got $got\n exp $expected")
    assert(got.find(_._1 == "purchase").exists(_._3 == 1000000000L),
      "the absorbing state must have probability exactly 1")
    assert(got.forall(r => r._3 >= 0L && r._3 <= 1000000000L),
      s"a probability left [0, 1]: $got")
  }

  test("t26: an exact BigInt dispersion recount reproduces every VMR " +
    "row; the rational is in lowest meaningful form") {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = BigInt(docs.length)
    val perDoc = docs.map { case (_, t) =>
      t.split(" ").filter(_.nonEmpty).groupBy(identity)
        .map { case (w, g) => w -> g.length.toLong }
    }
    val terms = perDoc.flatMap(_.keys).distinct
    val expected = terms.map { w =>
      val cs = perDoc.flatMap(_.get(w))
      val s1 = BigInt(cs.sum)
      val s2 = cs.map(c => BigInt(c) * BigInt(c)).sum
      val num = n * s2 - s1 * s1
      val den = n * s1
      (w, cs.sum, cs.length.toLong, num.toLong, den.toLong,
        num.toLong.toDouble / den.toLong.toDouble)
    }.sortBy(r => (-r._2, r._1)).take(100).toSeq
    val got = QueryRegistry.byName("t26_burstiness")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected, s"burstiness diverges from the BigInt " +
      s"recount:\n got ${got.take(3)}\n exp ${expected.take(3)}")
    // variance is non-negative, so VMR is; a term in every doc with
    // equal counts would hit exactly 0
    assert(got.forall(_._6 >= 0.0), s"negative VMR: $got")
    assert(got.forall(r => r._3 <= docs.length.toLong))
  }

  test("q64: a sequential trigram-path scan reproduces the top-20; " +
    "shares refer to ALL windows, not just the reported ones") {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_millis(ts)").as("ms"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val counts = collection.mutable.Map.empty[String, Long]
    ev.groupBy(_._1).values.foreach { g =>
      val seq = g.sortBy(e => (e._4, e._2)).map(_._3)
      seq.sliding(3).filter(_.length == 3).foreach { w =>
        val p = w.mkString(">")
        counts(p) = counts.getOrElse(p, 0L) + 1L
      }
    }
    val total = counts.values.sum
    val expected = counts.toSeq.sortBy { case (p, c) => (-c, p) }.take(20)
      .map { case (p, c) => (p, c, c.toDouble / total) }
    val got = QueryRegistry.byName("q64_path_mining")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == expected, s"path mining diverges from the sequential " +
      s"scan:\n got ${got.take(3)}\n exp ${expected.take(3)}")
    // the denominator is every 3-window in the corpus: sum over users
    // of max(0, len - 2)
    val nWindows = ev.groupBy(_._1).values
      .map(g => math.max(0, g.length - 2).toLong).sum
    assert(total == nWindows, s"window accounting broke: $total != $nWindows")
    assert(got.map(_._2).sum <= total)
  }

  test("p35: merging independently-computed standing/delta stats " +
    "reproduces the direct full-corpus stats exactly") {
    val docs = Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    case class St(n: Long, s1: Long, s2: BigInt, mn: Long, mx: Long)
    def statsOf(g: Seq[Long]) = St(g.length.toLong, g.sum,
      g.map(c => BigInt(c) * BigInt(c)).sum, g.min, g.max)
    def merge(a: St, b: St) = St(a.n + b.n, a.s1 + b.s1, a.s2 + b.s2,
      math.min(a.mn, b.mn), math.max(a.mx, b.mx))
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (src, g) =>
        val standing = g.filter(_._2 % 10 != 0).map(_._3)
        val delta = g.filter(_._2 % 10 == 0).map(_._3)
        // the algebraic point: merge(stats(a), stats(b)) == stats(a++b)
        val m =
          if (standing.isEmpty) statsOf(delta)
          else if (delta.isEmpty) statsOf(standing)
          else merge(statsOf(standing), statsOf(delta))
        assert(m == statsOf(g.map(_._3)), s"merge algebra broke for $src")
        val varNum = BigInt(m.n) * m.s2 - BigInt(m.s1) * BigInt(m.s1)
        (src, m.n, m.s1, m.s2.toLong, m.mn, m.mx,
          m.s1.toDouble / m.n,
          varNum.toDouble / (m.n.toDouble * m.n.toDouble))
    }
    val got = QueryRegistry.byName("p35_incremental_stats")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7))).toSeq
    assert(got == expected, s"merged stats diverge from the direct " +
      s"recount:\n got ${got.take(2)}\n exp ${expected.take(2)}")
    assert(got.forall(_._8 >= 0.0), "negative variance")
  }

  test("s21: a plain-Scala tombstone-filtered search reproduces every " +
    "row; no tombstoned id survives anywhere in the report") {
    val vecs = Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.operators.VectorOps.toDouble(col("embedding")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // the SRP bucket, re-derived from the md5 contract (VectorOps):
    // weight(b, i) = +1 iff the first hex digit of md5("b:i") is odd
    def bucket(v: Array[Double]): String =
      (0 until 6).map { b =>
        val proj = v.indices.map { i =>
          val w = if ("13579bdf".contains(md5hex(s"$b:$i").charAt(0)))
            1.0 else -1.0
          v(i) * w
        }.sum
        if (proj > 0) '1' else '0'
      }.mkString
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < 64) { dot += a(i) * b(i); na += a(i) * a(i)
        nb += b(i) * b(i); i += 1 }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val buckets = vecs.map { case (id, v) => id -> bucket(v) }
    val qids = vecs.keys.filter(id =>
      id >= 100 && id < 120 && id % 17 != 0).toSeq.sorted
    val expected = qids.map { qid =>
      val cands = vecs.keys.filter(c =>
        c != qid && buckets(c) == buckets(qid)).toSeq
      val (deadC, liveC) = cands.partition(_ % 17 == 0)
      val live1 = liveC.map(c => (c, cos(vecs(qid), vecs(c))))
        .sortBy { case (c, s) => (-s, c) }.headOption
      val truth = vecs.keys.filter(c => c != qid && c % 17 != 0).toSeq
        .map(c => (c, cos(vecs(qid), vecs(c))))
        .sortBy { case (c, s) => (-s, c) }.head._1
      (qid, liveC.length.toLong, deadC.length.toLong,
        live1.map(_._1), live1.map(_._2), truth,
        live1.exists(_._1 == truth))
    }
    val got = QueryRegistry.byName("s21_ann_tombstones")
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getLong(5), r.getBoolean(6))).toSeq
    assert(got == expected, s"tombstone search diverges from the " +
      s"plain-Scala scan:\n got ${got.take(3)}\n exp ${expected.take(3)}")
    assert(got.forall(r => r._4.forall(_ % 17 != 0) && r._6 % 17 != 0),
      s"a tombstoned id survived into the report: $got")
  }

  test("q65: a MessageDigest Poisson-weight recount reproduces every " +
    "CI row; weights average to ~1 as Poisson(1) must") {
    val th = Seq("5e2d58d8b3bc", "bc5ab1b16779", "eb715e1dc158",
      "fb23979734a2", "ff1025f59174", "ffd90f3ba405", "fffa8b71fc72",
      "ffff540c0914", "ffffed1f4aa8")
    def weight(key: Long, b: Int): Int = {
      val u = md5hex(s"$key:$b").substring(0, 12)
      val i = th.indexWhere(u < _)
      if (i < 0) 9 else i
    }
    val orders = Tables(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    var wSum = 0L
    val expected = orders.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (prio, g) =>
        val means = (0 to 31).map { b =>
          val ws = g.map(o => (weight(o._2, b), o._3))
          wSum += ws.map(_._1.toLong).sum
          val num = ws.map { case (w, p) =>
            BigDecimal(w) * BigDecimal(p)
              .setScale(2, BigDecimal.RoundingMode.HALF_UP) }.sum
          num.toDouble / ws.map(_._1.toLong).sum
        }.sorted
        val mean = g.map(o => BigDecimal(o._3)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
          .toDouble / g.length
        (prio, g.length.toLong, mean, means(1), means(30))
    }
    val got = QueryRegistry.byName("q65_poisson_bootstrap")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(got == expected, s"bootstrap CI diverges from the " +
      s"MessageDigest recount:\n got ${got.take(2)}\n exp ${expected.take(2)}")
    assert(got.forall(r => r._4 <= r._5), s"inverted CI: $got")
    val meanW = wSum.toDouble / (orders.length.toLong * 32)
    assert(meanW > 0.9 && meanW < 1.1,
      s"mean Poisson weight $meanW implausibly far from 1")
  }

  test("q66: a BigDecimal-moments + same-parenthesization Cramer solve " +
    "reproduces the fit exactly") {
    val rows = Tables(spark, dir, "lineitem")
      .select(col("l_quantity"), col("l_discount"), col("l_extendedprice"))
      .collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    def s2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    def s6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val n = rows.length.toDouble
    val sx1 = rows.map(r => s2(r._1)).sum.toDouble
    val sx2 = rows.map(r => s6(r._2)).sum.toDouble
    val sy = rows.map(r => s2(r._3)).sum.toDouble
    val sx1x1 = rows.map(r => s2(r._1) * s2(r._1)).sum.toDouble
    val sx2x2 = rows.map(r => s6(r._2) * s6(r._2)).sum.toDouble
    val sx1x2 = rows.map(r => s2(r._1) * s6(r._2)).sum.toDouble
    val sx1y = rows.map(r => s2(r._1) * s2(r._3)).sum.toDouble
    val sx2y = rows.map(r => s6(r._2) * s2(r._3)).sum.toDouble
    val syy = rows.map(r => s2(r._3) * s2(r._3)).sum.toDouble
    val det = n * (sx1x1 * sx2x2 - sx1x2 * sx1x2) -
      sx1 * (sx1 * sx2x2 - sx1x2 * sx2) +
      sx2 * (sx1 * sx1x2 - sx1x1 * sx2)
    val det0 = sy * (sx1x1 * sx2x2 - sx1x2 * sx1x2) -
      sx1 * (sx1y * sx2x2 - sx1x2 * sx2y) +
      sx2 * (sx1y * sx1x2 - sx1x1 * sx2y)
    val det1 = n * (sx1y * sx2x2 - sx1x2 * sx2y) -
      sy * (sx1 * sx2x2 - sx1x2 * sx2) +
      sx2 * (sx1 * sx2y - sx1y * sx2)
    val det2 = n * (sx1x1 * sx2y - sx1y * sx1x2) -
      sx1 * (sx1 * sx2y - sx1y * sx2) +
      sy * (sx1 * sx1x2 - sx1x1 * sx2)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = (rows.length.toLong, r6(det0 / det), r6(det1 / det),
      r6(det2 / det),
      r6(1.0 - (syy - (det0 / det) * sy - (det1 / det) * sx1y -
        (det2 / det) * sx2y) / (syy - sy * sy / n)))
    val got = QueryRegistry.byName("q66_multiple_regression")
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).head
    assert(got == expected, s"normal-equation fit diverges from the " +
      s"BigDecimal recount:\n got $got\n exp $expected")
    // honest fixture note: the synthetic extendedprice is generated
    // independently of quantity/discount, so the fit finds ~no signal
    // (r2 ~ 3e-4) — the gate is the EXACT arithmetic, not the fit
    // quality; a real TPC-H corpus would put b1 near the unit price
    assert(got._5 >= 0 && got._5 <= 1, s"r2 out of range: $got")
  }

  private def clickConversions(): Seq[(Long, Long, Int)] = {
    // (event_id, score, converted-within-1h) — shared by q67/q68
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).toInstant.getEpochSecond * 1000000L +
          r.getTimestamp(2).toInstant.getNano / 1000L,
        r.getString(3), r.getLong(4)))
    val buys = ev.filter(_._4 == "purchase").groupBy(_._2)
      .map { case (u, g) => u -> g.map(_._3).sorted }
    ev.filter(_._4 == "click").map { c =>
      val cv = buys.get(c._2).exists(_.exists(t =>
        t > c._3 && t <= c._3 + 3600000000L))
      (c._1, c._5, if (cv) 1 else 0)
    }.toSeq
  }

  test("q67: a sequential exact-decile recount reproduces lift and " +
    "cumulative gain; gains are monotone and end at 1") {
    val clicks = clickConversions()
    val sorted = clicks.sortBy(c => (-c._2, c._1))
    val n = sorted.length
    val (q, rem) = (n / 10, n % 10)
    def decileOf(rank1: Int): Int =
      if (rank1 <= rem * (q + 1)) (rank1 - 1) / (q + 1) + 1
      else rem + (rank1 - 1 - rem * (q + 1)) / q + 1
    val byDec = sorted.zipWithIndex
      .groupBy { case (_, i) => decileOf(i + 1) }.toSeq.sortBy(_._1)
      .map { case (d, g) =>
        (d.toLong, g.length.toLong, g.map(_._1._3.toLong).sum) }
    val (tn, tc) = (byDec.map(_._2).sum, byDec.map(_._3).sum)
    var cum = 0L
    val expected = byDec.map { case (d, nn, nc) =>
      cum += nc
      (d, nn, nc, nc.toDouble / nn,
        (nc.toDouble / nn) / (tc.toDouble / tn), cum.toDouble / tc)
    }
    val got = QueryRegistry.byName("q67_decile_lift")
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected, s"decile lift diverges from the sequential " +
      s"recount:\n got ${got.take(3)}\n exp ${expected.take(3)}")
    val gains = got.map(_._6)
    assert(gains == gains.sorted && math.abs(gains.last - 1.0) < 1e-12,
      s"cumulative gain must rise to 1: $gains")
    assert(got.map(_._2).sum == n.toLong)
  }

  test("q68: a sequential calibration recount reproduces every bin; " +
    "bins partition the click stream") {
    val clicks = clickConversions()
    val expected = clicks.groupBy(c => math.min(9L, c._2 / 10))
      .toSeq.sortBy(_._1).map { case (b, g) =>
        val nn = g.length
        val meanP = g.map(_._2).sum.toDouble / (100.0 * nn)
        val obs = g.map(_._3.toLong).sum.toDouble / nn
        (b, nn.toLong, g.map(_._3.toLong).sum, meanP, obs,
          math.abs(meanP - obs))
      }
    val got = QueryRegistry.byName("q68_calibration")
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    assert(got == expected, s"calibration diverges from the sequential " +
      s"recount:\n got ${got.take(3)}\n exp ${expected.take(3)}")
    assert(got.map(_._2).sum == clicks.length.toLong,
      "bins must partition the click stream")
    assert(got.forall(r => r._6 >= 0.0 && r._6 <= 1.0))
  }
}
