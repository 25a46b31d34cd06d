package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** d09's per-doc rejection-accounting contract on the corner the shipped
  * fixtures never hit (min fixture text length 44): a document with
  * fewer than 3 tokens has zero segments, yet must still emit its
  * accounting row with every token kept — vanishing from the output
  * would under-report the corpus. */
class ShortDocAccountingSpec extends SparkSpec {

  test("d09 emits n_segments=0, n_tokens_kept=nw for sub-segment docs") {
    import spark.implicits._
    val dir = tmpDir("shortdoc")
    plant(dir, "documents", Seq(
      (1L, "just two"),                           // nw=2 -> no segment
      (2L, "one"),                                // nw=1
      (3L, "alpha beta gamma delta"),             // nw=4 -> 1 seg + 1 tail
      (4L, "alpha beta gamma delta epsilon zeta") // nw=6 -> 2 segs
    ).toDF("doc_id", "text"))

    val out = QueryRegistry.byName("d09_line_dedup").run(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L),
      s"short docs must keep their accounting rows, got ${out.keySet}")
    assert(out(1L) == ((0L, 0L, 2L)), s"nw=2 doc: ${out(1L)}")
    assert(out(2L) == ((0L, 0L, 1L)), s"nw=1 doc: ${out(2L)}")
    assert(out(3L) == ((1L, 0L, 4L)), s"nw=4 doc: ${out(3L)}")
    assert(out(4L) == ((2L, 0L, 6L)), s"nw=6 doc: ${out(4L)}")
  }
}
