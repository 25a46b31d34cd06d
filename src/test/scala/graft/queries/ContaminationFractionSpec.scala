package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** p13's graded-contamination contract on a hand-computed corpus: exact
  * copies and planted near-dups of eval docs land 'dirty' at fraction
  * 1.0, the planted mixed doc (clean head + 20-word eval tail) lands
  * 'partial' at exactly 8/23 grams, untouched docs are 'clean' at 0.0,
  * and a sub-13-word doc keeps its n_grams=0 / NULL-fraction accounting
  * row (d09's lesson) instead of vanishing. */
class ContaminationFractionSpec extends SparkSpec {

  test("p13 buckets and fractions match hand-computed gram counts") {
    import spark.implicits._
    val dir = tmpDir("contam")
    def words(n: Int, p: String): String =
      (0 until n).map(i => s"$p$i").mkString(" ")
    val eval0 = words(25, "e") // doc 0: eval (0%7==0), >= 20 words
    plant(dir, "documents", Seq(
      (0L, eval0),
      (1L, words(30, "c")),  // clean; also the mixed doc's head donor
      (2L, words(5, "s")),   // sub-13 words: accounting row only
      (3L, eval0),           // exact copy of an eval doc -> dirty 1.0
      (10L, words(15, "t"))  // %10 plants a near-dup (not eval-related)
    ).toDF("doc_id", "text"))

    // corpus the query builds: docs 1,2,3,10 (eval 0 excluded),
    // near-dups 100000 (of 0, first word dropped) and 100010 (of 10),
    // mixed 300000 = first 15 words of doc 1 + last 20 words of doc 0
    val out = QueryRegistry.byName("p13_contamination_fraction")
      .run(spark, dir)
      .collect().map { r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getString(4))
      }.toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 100000L, 100010L, 300000L),
      s"unexpected row set: ${out.keySet}")

    assert(out(1L) == ((18L, 0L, Some(0.0), "clean")), s"doc 1: ${out(1L)}")
    assert(out(2L) == ((0L, 0L, None, "clean")), s"doc 2: ${out(2L)}")
    // exact copy: all 13 of its 13-grams are eval grams
    assert(out(3L) == ((13L, 13L, Some(1.0), "dirty")), s"doc 3: ${out(3L)}")
    assert(out(10L) == ((3L, 0L, Some(0.0), "clean")), s"doc 10: ${out(10L)}")
    // near-dup of eval doc 0 (24 words): every gram is an eval gram
    assert(out(100000L) == ((12L, 12L, Some(1.0), "dirty")),
      s"dup of eval: ${out(100000L)}")
    assert(out(100010L) == ((2L, 0L, Some(0.0), "clean")),
      s"dup of clean: ${out(100010L)}")
    // mixed doc: 35 words -> 23 grams; hits are exactly the 8 grams
    // fully inside the 20-word eval tail (positions 16..23)
    assert(out(300000L) == ((23L, 8L, Some(0.347826), "partial")),
      s"mixed doc: ${out(300000L)}")
  }
}
