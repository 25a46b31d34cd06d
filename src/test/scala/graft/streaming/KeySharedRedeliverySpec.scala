package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.TopicStore

/** Key_Shared ordering ACROSS a redelivery, end-to-end (round-7 task:
  * the 200-case property test drives the reader loop by hand; this
  * pins the same contract through a real Structured Streaming query
  * with the m06 nack machinery interleaved mid-stream).
  *
  * The contract, exactly what Pulsar Key_Shared + negative-ack gives:
  *  1. key locality — EVERY delivery of a key, fresh or redelivered,
  *     arrives on the key's hash partition (so one consumer per
  *     partition keeps per-key mutual exclusion);
  *  2. fresh per-key FIFO — first deliveries respect publish order;
  *  3. a nacked message redelivers later (same message_id, bumped
  *     redelivery_count), which — as in Pulsar — suspends strict
  *     order for that message;
  *  4. per-key order is RESTORABLE after the dust settles: the
  *     documented Key_Shared recipe (dedup by message_id, per-key
  *     sort on (publish_time, message_id)) reconstructs the exact
  *     publish sequence, effectively once, despite the redelivery.
  */
class KeySharedRedeliverySpec extends SparkSpec {

  test("per-key order holds across nack/redelivery through the source") {
    import spark.implicits._
    val nParts = 3
    val root = tmpDir("ks-redeliver")
    val ckpt = tmpDir("ks-redeliver-ckpt")
    val landDir = root + "/landed"

    val keys = Seq("alpha", "beta", "gamma", "delta", "epsilon")
    // 5 messages per key, globally interleaved publish order
    val msgs = for (seq <- 0 until 5; k <- keys) yield
      (k, s"$k/$seq", new Timestamp(1700000000000L +
        (seq.toLong * keys.size + keys.indexOf(k)) * 1000L))
    TopicStore.publish(spark,
      msgs.toDF("key", "value_str", "publish_time"), root, "ks", nParts)

    // small admission budget → many micro-batches, so cross-batch
    // order is observable; nack every key's seq-2 message on first
    // delivery (redeliveries carry rc=1 and are not re-nacked)
    def runPass(): Unit = StreamGate.run(spark,
      StreamGate.source(spark, root, "ks", 7L)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          BatchLanding.land(
            df.select("message_id", "key", "value_str",
              "redelivery_count", "publish_time"), landDir, bid)
          AckingSink.nack(df.sparkSession,
            df.filter(col("redelivery_count") === 0 &&
              col("value_str").endsWith("/2"))
              .select("message_id", "key", "value_str",
                "redelivery_count", "publish_time", "properties"),
            root, "ks", maxRedeliverCount = 5, nackDelayMs = 0L)
          ()
        }, ckpt)
    runPass() // fresh deliveries (+ any retries already visible)
    runPass() // same checkpoint: the source merges remaining due retries

    final case class D(mid: String, key: String, v: String, rc: Int,
        pubUs: Long, batch: Long)
    val delivered = BatchLanding.readRaw(spark, landDir)
      .select(col("message_id"), col("key"), col("value_str"),
        col("redelivery_count"), unix_micros(col("publish_time")),
        col("batch_id").cast("long"))
      .collect()
      .map(r => D(r.getString(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getLong(4), r.getLong(5)))

    // 1. key locality, fresh AND redelivered (message_id encodes the
    //    store partition as ledger:entry:partition:batch)
    delivered.foreach { d =>
      val p = d.mid.split(":")(2).toInt
      assert(p == TopicStore.route(d.key, "", nParts),
        s"delivery of ${d.v} (rc=${d.rc}) left its key partition: $d")
    }

    // 2. fresh per-key FIFO at batch granularity: seq i's first
    //    delivery never lands in a later batch than seq i+1's
    val fresh = delivered.filter(_.rc == 0)
    assert(fresh.length == msgs.length, "every message delivered fresh once")
    keys.foreach { k =>
      val batchBySeq = fresh.filter(_.key == k)
        .map(d => d.v.split("/")(1).toInt -> d.batch).sortBy(_._1).toSeq
      assert(batchBySeq.map(_._1) == (0 until 5).toSeq,
        s"key $k: fresh deliveries ${batchBySeq.map(_._1)}")
      assert(batchBySeq.map(_._2) == batchBySeq.map(_._2).sorted,
        s"key $k: fresh publish order broken across batches: $batchBySeq")
    }

    // 3. exactly the nacked messages redeliver: same message_id,
    //    rc bumped to 1, in a strictly later batch than the nack
    val redelivered = delivered.filter(_.rc > 0)
    assert(redelivered.map(_.v).sorted.toSeq ==
      keys.map(k => s"$k/2").sorted.toSeq,
      s"redelivered set: ${redelivered.map(_.v).toSeq}")
    redelivered.foreach { r =>
      assert(r.rc == 1, s"unexpected extra redelivery: $r")
      val orig = fresh.find(_.v == r.v).get
      assert(r.mid == orig.mid,
        s"redelivery minted a new message_id: $orig vs $r")
      assert(r.batch > orig.batch,
        s"redelivery of ${r.v} did not arrive after its nack: $orig vs $r")
    }

    // 4. the Key_Shared consumer recipe reconstructs exact per-key
    //    publish order, effectively once, despite the redelivery
    val restored = delivered.groupBy(_.mid).values
      .map(_.maxBy(_.rc)).toSeq
      .groupBy(_.key).view.mapValues(
        _.sortBy(d => (d.pubUs, d.mid)).map(_.v.split("/")(1).toInt).toSeq)
    keys.foreach { k =>
      assert(restored(k).toSeq == (0 until 5).toSeq,
        s"key $k: restored order ${restored(k)}")
    }
  }
}
