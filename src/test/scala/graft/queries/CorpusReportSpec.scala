package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}
import graft.operators.DedupOps

/** Semantics pins for the corpus-report batch (p24 / p25 / t15) —
  * oracles mirror the formulas, so each test asserts the BEHAVIOR from
  * the other direction: waterfill invariants for p24, a hand-built
  * bucket recompute for p25, an independent JVM fold for t15.
  */
class CorpusReportSpec extends SparkSpec {

  private val dir = small

  test("p24: waterfill invariants — whole-or-capped, budget-tight, no overdraw") {
    val rows = QueryRegistry.byName("p24_unimax_mix").run(spark, dir)
      .collect()
    val sizes = rows.map(r => r.getString(0) ->
      (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    val budget = sizes.values.map(_._1).sum / 2
    val k = sizes.size.toLong
    // (a) no source exceeds its own size
    sizes.foreach { case (s, (sz, q, _)) =>
      assert(q <= sz, s"$s over-allocated: quota $q > size $sz") }
    // (b) the capped sources share ONE common level, and every
    // taken-whole source is no bigger than that level (waterfill order:
    // small sources saturate first)
    val caps = sizes.values.collect { case (_, q, false) => q }.toSet
    assert(caps.size <= 1, s"capped sources at different levels: $caps")
    caps.headOption.foreach { lvl =>
      sizes.values.foreach { case (sz, _, whole) =>
        if (whole) assert(sz <= lvl + k,
          s"taken-whole source of size $sz above the cap $lvl") }
    }
    // (c) the budget is spent to within integer-division slack (k−1)
    // and never overspent — proportional sampling or an inverted sort
    // order leaves far more on the table
    val spent = sizes.values.map(_._2).sum
    assert(spent <= budget, s"overspent: $spent > $budget")
    assert(spent > budget - k, s"underspent: $spent <= ${budget - k}")
  }

  test("p25: buckets recompute by hand and every doc fits its half-open band") {
    val toks = Tables(spark, dir, "documents")
      .select(size(DedupOps.words(col("text"))).cast("long"))
      .collect().map(_.getLong(0))
    def capOf(n: Long) = (0 to 20).map(1L << _).find(_ >= n).get
    val expect = toks.groupBy(capOf).map { case (cap, ns) =>
      cap -> (ns.length.toLong, ns.sum) }
    val out = QueryRegistry.byName("p25_padding_waste").run(spark, dir)
      .collect()
    assert(out.map(_.getLong(0)).toSet == expect.keySet)
    out.foreach { r =>
      val cap = r.getLong(0)
      val (nDocs, nTok) = expect(cap)
      assert(r.getLong(1) == nDocs && r.getLong(2) == nTok,
        s"bucket $cap: got (${r.getLong(1)}, ${r.getLong(2)}), " +
          s"expect ($nDocs, $nTok)")
      assert(r.getLong(3) == cap * nDocs)
      assert(r.getLong(4) == cap * nDocs - nTok)
      // power-of-two cap, and a tighter bucket would not fit at least
      // one member (the band is (cap/2, cap])
      assert((cap & (cap - 1)) == 0, s"$cap not a power of two")
      assert(toks.exists(n => capOf(n) == cap && n > cap / 2),
        s"bucket $cap has no member above cap/2 — bucket misassigned")
    }
  }

  test("p26: no near-dup cluster spans the split, and the property is non-vacuous") {
    // the oracle mirrors the cluster-keyed coin, so a doc-keyed coin
    // mirrored on BOTH sides would still hash-match — this pins the
    // actual leakage guarantee on the query output
    val out = QueryRegistry.byName("p26_leakfree_split")
      .run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byCluster = out.groupBy(_._2)
    val multi = byCluster.filter(_._2.length > 1)
    assert(multi.nonEmpty, "no multi-doc clusters — planting broken?")
    multi.foreach { case (c, ms) =>
      assert(ms.map(_._3).distinct.length == 1,
        s"cluster $c spans splits: ${ms.mkString(",")}") }
    assert(out.map(_._3).distinct.sorted.toSeq == Seq("test", "train"))
    // non-vacuous: at least one multi-doc cluster would SPLIT under a
    // doc-keyed coin (the p15 shape) — so the cluster key is doing work
    def docCoin(id: Long) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (d < "c" * 32) "train" else "test"
    }
    assert(multi.exists(_._2.map(m => docCoin(m._1)).distinct.length > 1),
      "every cluster agrees under a doc-keyed coin — test is vacuous")
  }

  test("t15: entropy matches an independent JVM fold and its bounds") {
    val texts = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = QueryRegistry.byName("t15_char_entropy").run(spark, dir)
      .collect()
    assert(out.length == texts.size)
    out.foreach { r =>
      val (id, nDist, h) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      // independent path: codepoint histogram + sorted-key fold on the
      // JVM (not Catalyst codegen), same rounding contract
      val cps = texts(id).codePoints.toArray.toSeq
      val n = cps.length.toDouble
      val terms = cps.groupBy(identity).toSeq
        .map { case (cp, g) => new String(Character.toChars(cp)) ->
          (g.length / n) * math.log(g.length / n) }
        .sortBy(_._1).map(_._2)
      val expect = math.rint(-terms.foldLeft(0.0)(_ + _) * 1e6) / 1e6
      assert(math.abs(h - expect) < 1e-9, s"doc $id: $h != $expect")
      assert(h >= 0.0 && h <= math.log(nDist.toDouble) + 1e-9,
        s"doc $id: entropy $h outside [0, ln($nDist)]")
    }
  }
}
