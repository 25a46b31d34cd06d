package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** The oracle only proves both engines agree — it cannot see whether
  * normalization actually COLLAPSES the planted variants (both engines
  * would agree on a broken normalizer too). These specs pin the
  * semantics: d12's case/space/punctuation variants must land in their
  * canonical's group, and t12's grade must match a hand-computed
  * Flesch-Kincaid value. */
class NormalizedDedupSpec extends SparkSpec {

  test("d12: every planted variant collapses into its canonical's group") {
    import spark.implicits._
    val dir = tmpDir("normdedup")
    plant(dir, "documents", Seq(
      (0L, "some plain text here"),     // %11: gets a shouting variant
      (5L, "other distinct words"),
      (11L, "eleven doc body text"),    // %11: variant too
      (12L, "some plain text here")     // verbatim copy of doc 0's text
    ).toDF("doc_id", "text"))

    val rows = QueryRegistry.byName("d12_normalized_dedup").run(spark, dir)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    // doc 0's group: base + verbatim copy (12) + normalized variant
    // (200000) = 3; doc 11's group: base + variant = 2; doc 5 alone
    assert(rows == Map(0L -> 3L, 5L -> 1L, 11L -> 2L), rows.toString)
  }

  test("t12: Flesch-Kincaid grade matches the hand-computed value") {
    import spark.implicits._
    val dir = tmpDir("readability")
    // "the cat sat": nw=3, ns=ceil(3/10)=1, syllables 1+1+1=3
    // grade = 0.39*(3/1) + 11.8*(3/3) - 15.59 = 1.17 + 11.8 - 15.59
    // "aeiou xyz beautiful": syllables = 1 + max(1,0) + 4 ('eau','i','u'
    //  -> [aeiou]+ runs: 'eau', 'i', 'u' = 3... pinned by the collect)
    plant(dir, "documents",
      Seq((1L, "the cat sat"), (2L, "aeiou xyz beautiful"))
        .toDF("doc_id", "text"))
    val out = QueryRegistry.byName("t12_readability").run(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(1L) == ((3L, 1L, 3L,
      math.rint((0.39 * 3.0 + 11.8 * 1.0 - 15.59) * 1e4) / 1e4)),
      out(1L).toString)
    // 'beautiful' -> vowel runs 'eau', 'i', 'u' = 3; 'aeiou' -> 1;
    // 'xyz' -> max(1, 0) = 1; total 5
    val (nw2, ns2, nsy2, _) = out(2L)
    assert(nw2 == 3L && ns2 == 1L && nsy2 == 5L, out(2L).toString)
  }
}
