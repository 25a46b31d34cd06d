package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** t09's LM-scoring contract on a corpus small enough to hand-compute:
  * add-one bigram probabilities (p = (c2+1)/(c1+V)), per-bigram
  * round(ln, 6), exact decimal summation, and the d09 short-doc lesson —
  * a sub-bigram document keeps its accounting row (n_bigrams = 0, NULL
  * scores) instead of vanishing. No shipped fixture doc is that short
  * (min 10 tokens), so the corner lives here. */
class BigramPplSpec extends SparkSpec {

  test("t09 matches hand-computed add-one bigram scores; short docs keep rows") {
    import spark.implicits._
    val dir = tmpDir("bigramppl")
    // vocab = {a,b,c,x} (V=4); bigram counts: "a b"=3, "b a"=1, "b c"=1;
    // context counts: a=3, b=2
    plant(dir, "documents", Seq(
      (1L, "a b a b"), // lps: ln(4/7), ln(2/6), ln(4/7)
      (2L, "a b c"),   // lps: ln(4/7), ln(2/6)
      (3L, "x")        // nw=1 -> no bigram, NULL scores
    ).toDF("doc_id", "text"))

    val rows = QueryRegistry.byName("t09_bigram_ppl").run(spark, dir)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), rows.mkString(","))
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    // avg_logprob is deliberately UNROUNDED (the round sat one count
    // from a 7th-decimal half boundary where the engines' rounding
    // modes disagree — first hit at sf0.1); expected = the exact
    // decimal sum divided as a double, ppl = HALF_UP(exp(-avg), 6)
    def ppl(avg: Double): Double = java.math.BigDecimal
      .valueOf(math.exp(-avg)).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()
    val avg1 = -2.217844 / 3 // 2·round(ln(4/7),6) + round(ln(2/6),6)
    assert(byId(1L).getLong(1) == 3L)
    assert(byId(1L).getDouble(2) == avg1 && byId(1L).getDouble(3) == ppl(avg1),
      byId(1L).toString)
    val avg2 = -1.658228 / 2 // round(ln(4/7),6) + round(ln(2/6),6)
    assert(byId(2L).getLong(1) == 2L)
    assert(byId(2L).getDouble(2) == avg2 && byId(2L).getDouble(3) == ppl(avg2),
      byId(2L).toString)
    // the 1-token doc: accounting row with zero bigrams and NULL scores
    assert(byId(3L).getLong(1) == 0L)
    assert(byId(3L).isNullAt(2) && byId(3L).isNullAt(3), byId(3L).toString)
  }

  test("t21: in-domain text scores higher and backs off less than out-of-domain") {
    // Stupid Backoff's point on the fixture: 'en' (the training slice)
    // must beat every other language on mean log-prob AND trigram-hit
    // rate — a flipped backoff chain or a ratio inverted toward the
    // raw corpus erases this while still hash-matching the mirrored
    // oracle.
    import org.apache.spark.sql.functions._
    val out = graft.QueryRegistry.byName("t21_lm_backoff")
      .run(spark, small)
      .filter(col("n_scored") > 0)
      .groupBy(col("lang"))
      .agg(avg(col("avg_logprob")).as("lp"),
        avg(col("n_tri").cast("double") / col("n_scored")).as("tri_frac"))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val (enLp, enTri) = out("en")
    out.filter(_._1 != "en").foreach { case (lang, (lp, tri)) =>
      assert(enLp > lp, s"en $enLp not above $lang $lp")
      assert(enTri > tri, s"en tri-hit $enTri not above $lang $tri")
    }
  }
}
