package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.SparkSpec
import graft.streaming.StreamGate

/** Property: for ANY publish-time sequence — monotone, shuffled, with
  * duplicate timestamps, across any partition count — a top-N read on
  * publish_time equals the brute-force sort-take-N of the full log
  * (compared as the selected TIME MULTISET, deterministic under
  * boundary ties). The sortedness tracking decides only whether the
  * slice cap fires; correctness must hold either way. */
class TopNPropertySpec extends SparkSpec {

  private def check(p: Prop, n: Int = 12): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  private val caseGen = for {
    n <- Gen.choose(5, 60)
    // raw second offsets; sortedness emerges (or not) from the draw
    ts <- Gen.listOfN(n, Gen.choose(0, 40))
    parts <- Gen.choose(1, 3)
    k <- Gen.choose(1, 8)
    desc <- Gen.oneOf(true, false)
  } yield (ts, parts, k, desc)

  test("top-N on publish_time == brute force for any log, sorted or not") {
    import spark.implicits._
    check(Prop.forAll(caseGen) { case (ts, parts, k, desc) =>
      val root = tmpDir("topn-prop")
      // publish in TWO batches: a single publish sorts its batch by
      // publish_time, so cross-batch appends are the only way random
      // draws actually produce unsorted logs (and flip tsorted)
      val rows = ts.zipWithIndex.map { case (t, i) =>
        (s"k$i", s"p$i", new Timestamp(1700000000000L + t * 1000L))
      }
      rows.grouped(math.max(1, rows.size / 2 + 1)).foreach { half =>
        TopicStore.publish(spark,
          half.toDF("key", "value_str", "publish_time"),
          root, "events", parts)
      }
      val ord = if (desc) col("publish_time").desc else col("publish_time")
      val got = StreamGate.read(spark, root, "events").orderBy(ord).limit(k)
        .select(col("publish_time")).collect()
        .map(_.getTimestamp(0).getTime).sorted.toSeq
      val all = ts.map(t => 1700000000000L + t * 1000L)
      val want = (if (desc) all.sorted.reverse else all.sorted)
        .take(k).sorted
      got == want
    })
  }
}
