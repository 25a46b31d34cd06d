package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** t10's rule battery on hand-computed docs: each injected rule
  * (symbol ratio, alpha fraction, bullet lines, ellipsis lines) must
  * fail exactly the doc constructed to trip it and nothing else, and
  * the integer-threshold arithmetic must match the by-hand values.
  * The doc_ids are chosen against the injection moduli (13 → '#'
  * floods, 9 → bullets, 11 → ellipses; 1 hits none). */
class GopherRulesSpec extends SparkSpec {

  test("t10 rules fire exactly on the docs constructed to trip them") {
    import spark.implicits._
    val dir = tmpDir("gopher")
    // every word after the two stopwords is 4+ chars; counts chosen so
    // word-count / symbol / alpha / bullet / ellipsis rules each have a
    // single deliberate failure
    def words(n: Int, p: String): String =
      (Seq("the", "a") ++ (0 until n - 2).map(_ => p)).mkString(" ")
    plant(dir, "documents", Seq(
      (1L, words(60, "wxyz")),  // no modulus hit: passes everything
      (13L, words(26, "wxyz")), // +ceil(26/3)=9 '#': fails wc, sym, alpha
      (9L, words(50, "wxyz")),  // bullets on all 5 lines: fails bullet
      (11L, words(50, "wxyz"))  // '...' on all 5 lines: fails ellipsis
    ).toDF("doc_id", "text"))

    val out = QueryRegistry.byName("t10_gopher_rules").run(spark, dir)
      .collect().map { r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2),
          (4 until 12).map(r.getBoolean))
      }.toMap
    assert(out.keySet == Set(1L, 13L, 9L, 11L))

    // columns 4..11: wc, mwl, sym, alpha, stop, bullet, ell, pass
    val (nw1, nl1, r1) = out(1L)
    assert(nw1 == 60 && nl1 == 6 && r1.forall(identity), s"doc 1: $r1")

    val (nw13, nl13, r13) = out(13L)
    // 26 words + ceil(26/3)=9 '#' = 35 words, 4 lines; 10*9 > 35 (sym),
    // 5*26=130 < 4*35=140 (alpha), 35 < 50 (wc)
    assert(nw13 == 35 && nl13 == 4, s"doc 13: $nw13/$nl13")
    assert(r13 == Seq(false, true, false, false, true, true, true, false),
      s"doc 13: $r13")

    val (nw9, _, r9) = out(9L)
    assert(nw9 == 50 &&
      r9 == Seq(true, true, true, true, true, false, true, false),
      s"doc 9: $r9")

    val (nw11, _, r11) = out(11L)
    assert(nw11 == 50 &&
      r11 == Seq(true, true, true, true, true, true, false, false),
      s"doc 11: $r11")
  }
}
