package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** d10's span-merge semantics on a corpus built to hit every branch the
  * fixture only exercises statistically: maximal-span reconstruction
  * from overlapping 8-gram windows, multiple islands per doc, the
  * within-one-doc repeat that must NOT count (cross-doc means ≥2
  * DISTINCT docs), and the sub-8-token doc keeping its zero row.
  * Doc ids avoid %10==0 so corpusWithNearDups plants no extra copies. */
class RepeatedSpanSpec extends SparkSpec {

  private def toks(p: String, n: Int): String =
    (1 to n).map(i => s"$p$i").mkString(" ")

  test("d10 merges overlapping dup grams into maximal spans per doc") {
    import spark.implicits._
    val dir = tmpDir("repspan")
    val s10 = toks("s", 10) // 10-token run shared by docs 1,2,3
    val t10 = toks("t", 10) // 10-token run shared by docs 3,11
    val r8 = toks("r", 8)   // 8-gram repeated WITHIN doc 12 only
    plant(dir, "documents", Seq(
      (1L, s"$s10 u1 u2"),                  // nw=12: span [1,10]
      (2L, s"v1 v2 $s10 v3"),               // nw=13: span [3,12]
      (3L, s"$s10 ${toks("w", 9)} $t10"),   // nw=29: [1,10] + [20,29]
      (11L, t10),                           // nw=10: span [1,10]
      (12L, s"$r8 x0 $r8"),                 // nw=17: same-doc repeat only
      (13L, "tiny doc")                     // nw=2: below one gram
    ).toDF("doc_id", "text"))

    val out = QueryRegistry.byName("d10_repeated_spans").run(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 11L, 12L, 13L), out.keySet.toString)
    assert(out(1L) == ((12L, 1L, 10L)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((13L, 1L, 10L)), s"doc2: ${out(2L)}")
    assert(out(3L) == ((29L, 2L, 20L)), s"doc3 two islands: ${out(3L)}")
    assert(out(11L) == ((10L, 1L, 10L)), s"doc11: ${out(11L)}")
    assert(out(12L) == ((17L, 0L, 0L)), s"within-doc repeat: ${out(12L)}")
    assert(out(13L) == ((2L, 0L, 0L)), s"sub-gram doc: ${out(13L)}")
  }

  test("d11 strips exactly the span tokens; fully-covered docs keep a 0-row") {
    import spark.implicits._
    val dir = tmpDir("spanstrip")
    val s10 = toks("s", 10)
    plant(dir, "documents", Seq(
      (1L, s"$s10 u1 u2"),  // span [1,10] -> keeps "u1 u2"
      (2L, s"v1 v2 $s10"),  // span [3,12] -> keeps "v1 v2"
      (11L, s10),           // fully covered -> 0 kept, NULL hash
      (13L, "tiny doc")     // no grams -> untouched
    ).toDF("doc_id", "text"))

    val out = graft.QueryRegistry.byName("d11_span_strip").run(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3)))).toMap
    assert(out(1L) == ((12L, 2L, md5hex("u1 u2"))), s"doc1: ${out(1L)}")
    assert(out(2L) == ((12L, 2L, md5hex("v1 v2"))), s"doc2: ${out(2L)}")
    assert(out(11L) == ((10L, 0L, null)), s"full overlap: ${out(11L)}")
    assert(out(13L) == ((2L, 2L, md5hex("tiny doc"))), s"no dup: ${out(13L)}")
  }
}
