package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** mm07's shingle metric is exact (no lossy blocking), so this spec
  * pins exact |shingle intersection| counts on a hand-built corpus:
  * the planted first-frame drop realigns and shares all-but-one
  * shingle, a last-frame edit shares all-but-one, the trimmed plant
  * of an edited video shares the middle run, and sub-4-frame videos
  * produce no shingles at all. */
class VideoShingleSpec extends SparkSpec {

  test("mm07 shared-shingle counts match hand-computed intersections") {
    import spark.implicits._
    val dir = tmpDir("vidshingle")
    // 16-char frames, distinct by construction
    def fr(tag: String, k: Int): String = s"$tag$k".padTo(16, '.')
    def video(tag: String, n: Int): String =
      (0 until n).map(fr(tag, _)).mkString
    plant(dir, "documents", Seq(
      (0L, video("a", 6)),                       // %12: plant drops frame a0
      (1L, video("d", 6)),                       // unrelated
      (2L, video("e", 3)),                       // 3 frames: no shingles
      (12L, video("b", 8)),                      // %12: plant drops frame b0
      (24L, video("b", 7) + fr("c", 7))          // %12: doc 12 with last frame edited
    ).toDF("doc_id", "text"))

    val out = QueryRegistry.byName("mm07_video_neardup").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    // doc 0 (6 frames -> 3 shingles) vs its trim (5 frames -> 2): 2 shared
    // doc 12 (8 -> 5) vs doc 24 (b0..b6+c7 -> 5, last differs): 4 shared
    // doc 12 vs its trim (7 -> 4, all from 12's tail): 4 shared
    // doc 24 vs 12's trim: middle run only: 3 shared
    // doc 24's trim (b1..b6+c7): with 12: 3; with 24: 4; with 12's trim: 3
    val expected = Map(
      (0L, 100000L) -> 2L,
      (12L, 24L) -> 4L,
      (12L, 100012L) -> 4L,
      (24L, 100012L) -> 3L,
      (12L, 100024L) -> 3L,
      (24L, 100024L) -> 4L,
      (100012L, 100024L) -> 3L)
    assert(out == expected, s"got $out")
  }
}
