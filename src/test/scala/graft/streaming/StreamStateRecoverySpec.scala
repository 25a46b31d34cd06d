package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.SparkSpec
import graft.sources.TopicStore

/** d20's state machine across a RESTART, not just a batch boundary:
  * the min-id-per-band state must come back from the checkpoint when
  * a second AvailableNow pass runs on new data — a band-mate that
  * arrives a whole stream lifetime later must still be flagged
  * against the first pass's minimum. (The d20 gate itself forces
  * multiple batches within ONE run; this pins recovery between
  * runs — the production shape, where the dedup stream restarts
  * daily against the same checkpoint.) */
class StreamStateRecoverySpec extends SparkSpec {

  private def publishDocs(root: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    TopicStore.publish(spark,
      docs.toDF("doc_id", "text").select(
        col("doc_id").cast("string").as("key"),
        col("text").as("value_str"),
        expr("timestamp_micros(1700000000000000 + doc_id * 1000000)")
          .as("publish_time")),
      root, "docs", 1)
  }

  private def runPass(root: String, ckpt: String, outDir: String): Unit = {
    import spark.implicits._
    val bands = StreamGate.source(spark, root, "docs", 100000L)
      // one band per doc: the first word IS the band key — the state
      // machinery under test is identical to d20's, the banding is
      // just made transparent
      .select(col("key").cast("long").as("doc_id"),
        substring_index(col("value_str"), " ", 1).as("band_key"))
    val flagged = bands.as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, it: Iterator[(Long, String)],
            state: org.apache.spark.sql.streaming.GroupState[Long]) => {
          val ids = it.map(_._1).toVector
          val mn = math.min(ids.min, state.getOption.getOrElse(Long.MaxValue))
          state.update(mn)
          ids.iterator.map(d => (d, mn < d))
        })
      .toDF("doc_id", "earlier")
    StreamGate.run(spark, flagged.writeStream
      .outputMode("append")
      .foreachBatch(StreamGate.land(outDir)), ckpt)
  }

  test("band-min state survives a restart: late band-mates still flag") {
    val root = tmpDir("recov")
    val ckpt = tmpDir("recov-ckpt")
    val outDir = root + "/flags"

    // pass 1: bands alpha (min id 1) and beta (min id 2)
    publishDocs(root, Seq(1L -> "alpha one", 2L -> "beta two",
      5L -> "alpha five"))
    runPass(root, ckpt, outDir)

    // full stream restart; pass 2 sees only the NEW rows — doc 9's
    // flag can only come from the checkpointed alpha minimum
    publishDocs(root, Seq(9L -> "alpha nine", 10L -> "gamma ten"))
    runPass(root, ckpt, outDir)

    val got = BatchLanding.read(spark, outDir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> false, 2L -> false, 5L -> true,
      9L -> true, 10L -> false), got.toString)
  }
}
