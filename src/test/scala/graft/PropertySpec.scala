package graft

import java.sql.Timestamp
import java.util.Base64

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}

import graft.sources.{PulsarLikeInputPartition, PulsarLikeMicroBatchStream, PulsarLikeOffset, TopicStore}
import graft.streaming.{AckingSink, ChunkReassembly, StreamGate}

/** Property-based invariants (SURVEY.md §5 item 4):
  *  - topic-store round trip is the identity on random messages
  *    (null keys, arbitrary properties, all content types);
  *  - chunk reassembly over random splits reproduces the original
  *    payload exactly;
  *  - at-least-once accounting: redelivered ∪ dead = nacked, and the
  *    DLQ threshold is exact. */
class PropertySpec extends SparkSpec {

  /** scalacheck runner (no scalatest bridge in the offline cache).
    * `workers > 1` evaluates cases concurrently — safe when each case is
    * fully isolated (own tmpDir store; Spark actions are thread-safe). */
  private def check(p: Prop, minSuccessful: Int = 20, workers: Int = 1): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(minSuccessful)
        .withWorkers(workers), p)
    assert(res.passed, res.status.toString)
  }

  private val keyGen = Gen.option(Gen.alphaNumStr.map(_.take(8)))
  private val propsGen = Gen.mapOf(Gen.zip(
    Gen.identifier.map(_.take(6)).suchThat(_.nonEmpty),
    Gen.alphaNumStr.map(_.take(12)))).map(_.take(8))
  private val ctGen = Gen.oneOf("application/json",
    "application/json; charset=utf-8", "application/xml", "text/csv",
    "text/plain", "application/octet-stream")
  private case class M(key: Option[String], body: String,
      props: Map[String, String], ct: String)
  private val msgGen = for {
    k <- keyGen; b <- Gen.asciiPrintableStr.map(_.take(64))
    p <- propsGen; ct <- ctGen
  } yield M(k, b, p, ct)

  test("topic store round trip is identity (keys, properties, payloads)") {
    import spark.implicits._
    check(Prop.forAllNoShrink(Gen.listOfN(25, msgGen)) { msgs =>
      val root = tmpDir("prop-store")
      val df = msgs.zipWithIndex.map { case (m, i) =>
        (m.key.orNull, m.body, m.props,
          new Timestamp(1700000000000L + i * 1000L), m.ct, s"mid-$i")
      }.toDF("key", "value_str", "properties", "publish_time",
        "content_type", "message_id")
      TopicStore.publish(spark, df, root, "t", 3)
      val back = StreamGate.read(spark, root, "t")
        .select("message_id", "key", "value_str", "properties", "content_type")
        .collect()
        .map(r => r.getAs[String]("message_id") ->
          (Option(r.getAs[String]("key")), r.getAs[String]("value_str"),
            r.getAs[Map[String, String]]("properties"),
            r.getAs[String]("content_type")))
        .toMap
      msgs.zipWithIndex.forall { case (m, i) =>
        back(s"mid-$i") == ((m.key, m.body, m.props, m.ct))
      }
    })
  }

  // random payloads split at random points, shuffled arrival order
  private val docGen = for {
    payload <- Gen.asciiPrintableStr.map(_.take(120)).suchThat(_.length >= 8)
    nCuts <- Gen.choose(1, 5)
    cuts <- Gen.listOfN(nCuts, Gen.choose(1, payload.length - 1))
  } yield (payload, (cuts.distinct.sorted :+ payload.length)
    .foldLeft((0, List.empty[String])) { case ((s, acc), e) =>
      (e, acc :+ payload.substring(s, e))
    }._2.filter(_.nonEmpty))

  private def reassemblyIdentityProp(wallClock: Boolean, runs: Int): Unit = {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    check(Prop.forAllNoShrink(Gen.listOfN(8, docGen), Gen.long) { (docs, seed) =>
      val chunks = scala.util.Random.javaRandomToRandom(
        new java.util.Random(seed)).shuffle(
        docs.zipWithIndex.flatMap { case ((_, frags), d) =>
          frags.zipWithIndex.map { case (f, i) =>
            ChunkReassembly.Chunk(s"doc$d", i, frags.size, f,
              new Timestamp(1700000000000L + i))
          }
        })
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[ChunkReassembly.Chunk]
      val name = s"prop_asm_${wallClock}_" + math.abs(seed).toString
      val ds =
        if (wallClock)
          ChunkReassembly.reassembleWallClock(spark, input.toDS(),
            expiryMs = 3600000L)
        else ChunkReassembly.reassemble(spark, input.toDS())
      val writer = ds.writeStream.format("memory").queryName(name)
        .outputMode("append")
      // processing-time timers keep the engine triggering, so
      // processAllAvailable never settles on the wall-clock backend —
      // poll for the expected count instead
      val q = (if (wallClock)
          writer.trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))
        else writer).start()
      try {
        // deliver in two waves to exercise cross-batch state
        val (w1, w2) = chunks.splitAt(chunks.size / 2)
        if (w1.nonEmpty) { input.addData(w1); if (!wallClock) q.processAllAvailable() }
        if (w2.nonEmpty) { input.addData(w2); if (!wallClock) q.processAllAvailable() }
        val deadline = System.currentTimeMillis() + 30000L
        while (spark.table(name).count() < docs.size &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        val out = spark.table(name).collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        docs.zipWithIndex.forall { case ((payload, _), d) =>
          out.get(s"doc$d").contains(payload)
        }
      } finally q.stop()
    }, minSuccessful = runs)
  }

  test("chunk reassembly over random splits is identity") {
    reassemblyIdentityProp(wallClock = false, runs = 10)
  }

  test("chunk reassembly over random splits is identity (wall-clock/RocksDB backend)") {
    StreamGate.withConf(spark, StreamGate.RocksDbStateStore.toSeq) {
      reassemblyIdentityProp(wallClock = true, runs = 3)
    }
  }

  test("GroupTopK == window-rank for arbitrary k and group shapes") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    check(Prop.forAllNoShrink(
      Gen.choose(1, 8),
      Gen.listOfN(300, Gen.zip(Gen.choose(0, 20), Gen.choose(0, 1000)))) { (k, data) =>
      val df = data.zipWithIndex.map { case ((g, v), i) =>
        (g.toLong, i.toLong, v.toLong)
      }.toDF("g", "id", "v").repartition(5)
      val viaOp = graft.plans.GroupTopK.topK(df, Seq(col("g")), k,
          col("v").desc, col("id").asc)
        .select("g", "id").collect().map(_.toString).sorted.toSeq
      val w = Window.partitionBy("g").orderBy(col("v").desc, col("id").asc)
      val viaW = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select("g", "id").collect().map(_.toString).sorted.toSeq
      viaOp == viaW
    }, minSuccessful = 10)
  }

  test("at-least-once accounting: redelivered + dead == nacked; threshold exact") {
    import spark.implicits._
    check(Prop.forAllNoShrink(
      Gen.listOfN(30, Gen.choose(0, 8)), Gen.choose(1, 6)) { (counts, max) =>
      val root = tmpDir("prop-nack")
      val failed = counts.zipWithIndex.map { case (rc, i) =>
        (s"m-$i", s"k$i", s"v$i", rc)
      }.toDF("message_id", "key", "value_str", "redelivery_count")
        .withColumn("properties", map().cast("map<string,string>"))
        .withColumn("publish_time", lit(new Timestamp(1700000000000L)))
        .withColumn("content_type", lit("text/plain"))
      val (live, dead) = AckingSink.nack(spark, failed, root, "t",
        maxRedeliverCount = max)
      val expectedDead = counts.count(_ + 1 >= max)
      live + dead == counts.size && dead == expectedDead
    }, minSuccessful = 10)
  }

  // -------------------------------------------------------------------
  // Key_Shared end-to-end (SURVEY §7 hard-part #2; reference
  // PulsarMessageConsumer.java:263-269): random keyed messages with a
  // per-message failure plan are driven through the REAL delivery loop —
  // PulsarLikeMicroBatchStream admission (random per-trigger row limits),
  // planInputPartitions' retry-cursor merge, the partition readers, and
  // AckingSink.nack — with a second publish wave interleaved mid-stream.
  // Asserted per generated case:
  //  1. partition locality: every delivery of a key (fresh OR retry)
  //     comes from its key-hash partition;
  //  2. per-key FIFO: fresh deliveries of a key arrive in publish order;
  //  3. retry FIFO: within a partition, redeliveries arrive in nack order;
  //  4. at-least-once accounting: acked ∪ dead = published (disjoint),
  //     and each message is delivered exactly 1 + min(fails, threshold-
  //     reaching nacks) times — nothing lost, nothing duplicated, the
  //     DLQ threshold exact (every dead row at redelivery_count == max).
  private case class PlanMsg(key: String, seq: Int, fails: Int)

  test("Key_Shared: per-key order + at-least-once accounting through the source (200 cases)") {
    import spark.implicits._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val nParts = 2
    val maxRedeliver = 2 // fails=2 → DLQ at redelivery_count == 2

    val planGen: Gen[(List[PlanMsg], List[PlanMsg], List[Int])] = for {
      nKeys <- Gen.choose(2, 4)
      n1 <- Gen.choose(8, 12)
      n2 <- Gen.choose(4, 6)
      mk = (seq: Int) => for {
        k <- Gen.choose(0, nKeys - 1)
        f <- Gen.frequency(5 -> 0, 3 -> 1, 2 -> 2)
      } yield PlanMsg(s"k$k", seq, f)
      w1 <- Gen.sequence[List[PlanMsg], PlanMsg]((0 until n1).map(mk).toList)
      w2 <- Gen.sequence[List[PlanMsg], PlanMsg]((n1 until n1 + n2).map(mk).toList)
      limits <- Gen.listOfN(40, Gen.choose(4, 11))
    } yield (w1, w2, limits)

    def publishWave(root: String, wave: List[PlanMsg]): Unit = {
      val df = wave.map(m => (m.key, s"${m.key}/${m.seq}",
          new Timestamp(1700000000000L + m.seq * 1000L)))
        .toDF("key", "value_str", "publish_time")
      TopicStore.publish(spark, df, root, "t", nParts)
    }

    check(Prop.forAllNoShrink(planGen) { case (w1, w2, limits) =>
      val root = tmpDir("prop-keyshared")
      val all = w1 ++ w2
      publishWave(root, w1)

      val conf = graft.model.PulsarLikeConf.fromOptions(
        StreamGate.address(root, "t") ++ Map(
          "subscriptionInitialPosition" -> "Earliest",
          "batchingMaxMessages" -> "8"))
      val stream = new PulsarLikeMicroBatchStream(conf, root)
      val factory = stream.createReaderFactory()
      var cur = stream.initialOffset().asInstanceOf[PulsarLikeOffset]

      // (partition, isRetry, message_id, key, value_str, rc, pubUs)
      final case class D(p: Int, retry: Boolean, mid: String, key: String,
        v: String, rc: Int, pubUs: Long)
      val delivered = scala.collection.mutable.Buffer.empty[D]
      val remainingFails = scala.collection.mutable.Map(
        all.map(m => s"${m.key}/${m.seq}" -> m.fails): _*)
      val acked = scala.collection.mutable.Set.empty[String]
      // expected redelivery order per partition (enqueue order per nack)
      val retryQueue = scala.collection.mutable.Map.empty[Int, Vector[String]]
        .withDefaultValue(Vector.empty)

      var wave2Done = false
      var batchIdx = 0
      var stalled = false
      while (!stalled && batchIdx < 50) {
        val end = stream.latestOffset(cur,
          ReadLimit.maxRows(limits(batchIdx % limits.size).toLong))
          .asInstanceOf[PulsarLikeOffset]
        if (end.cursors == cur.cursors) {
          if (!wave2Done) { publishWave(root, w2); wave2Done = true }
          else stalled = true
        } else {
          val batch = stream.planInputPartitions(cur, end).toSeq.flatMap { ipr =>
            val ip = ipr.asInstanceOf[PulsarLikeInputPartition]
            val r = factory.createReader(ip)
            val buf = scala.collection.mutable.Buffer.empty[D]
            try while (r.next()) {
              val row = r.get()
              buf += D(ip.p, ip.retrySub != null,
                row.getUTF8String(1).toString, row.getUTF8String(2).toString,
                row.getUTF8String(4).toString, row.getInt(8), row.getLong(6))
            } finally r.close()
            buf
          }
          delivered ++= batch
          val toNack = batch.filter { d =>
            val rem = remainingFails(d.v)
            if (rem > 0) { remainingFails(d.v) = rem - 1; true }
            else { acked += d.v; false }
          }
          if (toNack.nonEmpty) {
            val df = toNack.map(d => (d.mid, d.key, d.v, d.rc,
                new Timestamp(d.pubUs / 1000L)))
              .toDF("message_id", "key", "value_str", "redelivery_count",
                "publish_time")
              .withColumn("properties", map().cast("map<string,string>"))
            AckingSink.nack(spark, df, root, "t",
              maxRedeliverCount = maxRedeliver, nackDelayMs = 0L)
            // rows staying below the threshold re-enter delivery, in
            // publish-time order per partition (publishTo's sort)
            toNack.filter(_.rc + 1 < maxRedeliver)
              .sortBy(d => (d.pubUs, d.mid))
              .foreach(d => retryQueue(d.p) = retryQueue(d.p) :+ d.v)
          }
          cur = end
          if (batchIdx == 0 && !wave2Done) { publishWave(root, w2); wave2Done = true }
        }
        batchIdx += 1
      }

      // dead set straight from the DLQ topic's store partitions
      val dlqDir = TopicStore.topicDir(root, "t-dlq")
      val dead = TopicStore.partitionIdsIn(dlqDir).flatMap { p =>
        val (cnt, _) = TopicStore.partitionMetaIn(dlqDir, p)
        TopicStore.readEntries(dlqDir, p, 0, cnt)
      }.map(m => new String(Base64.getDecoder.decode(m.valueB64), "UTF-8") -> m)

      val published = all.map(m => s"${m.key}/${m.seq}").toSet
      val locality = delivered.forall(d =>
        d.p == TopicStore.route(d.key, "", nParts))
      val freshFifo = delivered.filter(!_.retry).groupBy(_.key).forall {
        case (_, ds) =>
          val seqs = ds.map(_.v.split("/")(1).toInt)
          seqs == seqs.sorted
      }
      val retryFifo = delivered.filter(_.retry).groupBy(_.p).forall {
        case (p, ds) => ds.map(_.v).toVector == retryQueue(p)
      }
      val counts = delivered.groupBy(_.v).view.mapValues(_.size).toMap
      // fails=0 → 1 delivery; fails=1 → 2 (retry then ack); fails=2 → 2
      // (the second nack crosses the threshold → DLQ, never redelivered):
      // deliveries = 1 fresh + one per nack that stayed below the DLQ bar
      val expectedCount = all.map(m =>
        s"${m.key}/${m.seq}" -> (1 + math.min(m.fails, maxRedeliver - 1))).toMap
      val accounting =
        acked.toSet ++ dead.map(_._1).toSet == published &&
        acked.toSet.intersect(dead.map(_._1).toSet).isEmpty &&
        counts == expectedCount &&
        dead.forall(_._2.redeliveryCount == maxRedeliver)
      val ok = locality && freshFifo && retryFifo && accounting
      if (!ok) {
        println(s"DEBUG locality=$locality freshFifo=$freshFifo retryFifo=$retryFifo accounting=$accounting")
        println(s"DEBUG stalledAt=$batchIdx delivered=${delivered.size} acked=${acked.size} dead=${dead.size} published=${published.size}")
        println(s"DEBUG counts=$counts")
        println(s"DEBUG expected=$expectedCount")
        println(s"DEBUG retryDelivered=${delivered.filter(_.retry).map(d => (d.p, d.v))}")
        println(s"DEBUG retryQueue=$retryQueue")
      }
      ok
    }, minSuccessful = 200, workers = 4)
  }

  test("seekByTime == linear-scan reference on random monotonic publish times") {
    import spark.implicits._
    // random inter-arrival gaps (0 allowed — equal timestamps) and
    // random probe times, including exact hits and the extremes
    val gapsGen = Gen.listOfN(40, Gen.choose(0L, 5000L))
    check(Prop.forAllNoShrink(gapsGen, Gen.choose(0, 41)) { (gaps, probe) =>
      val root = tmpDir("prop-seek")
      val times = gaps.scanLeft(1700000000000L)(_ + _) // n+1 ascending ms
      val df = times.zipWithIndex.map { case (t, i) =>
        (s"k", s"v$i", new Timestamp(t))
      }.toDF("key", "value_str", "publish_time")
        .withColumn("properties", map().cast("map<string,string>"))
        .withColumn("content_type", lit("text/plain"))
      TopicStore.publish(spark, df, root, "t", 1)
      val dir = TopicStore.topicDir(root, "t")
      // probe at an exact message time, or just before/after one
      val tMs = if (probe > 40) times.last + 1 else times(probe)
      (-1L to 1L).forall { off =>
        val tUs = (tMs + off) * 1000L
        val expected = times.count(_ * 1000L < tUs).toLong
        TopicStore.seekByTimeIn(dir, 0, tUs) == expected
      }
    }, minSuccessful = 10)
  }

  // -------------------------------------------------------------------
  // Native expression invariants (pure eval — no Spark jobs, so the
  // case counts are cheap). These are the contracts the s06/t08 oracles
  // rely on.

  test("sq8: codes bounded, error <= step/2 in range, re-encode is identity (500 cases)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.functions.{Sq8Dequant, Sq8Encode}
    val dimGen = for {
      mn <- Gen.choose(-100.0, 100.0)
      // 1-in-8 dims are exactly constant (step 0) — a continuous
      // generator would hit 0.0 with probability ~0 and leave the
      // constant-dimension contract untested
      width <- Gen.frequency(1 -> Gen.const(0.0), 7 -> Gen.choose(0.0, 50.0))
      frac <- Gen.choose(0.0, 1.0)
    } yield (mn, width / 256.0, mn + frac * width) // (min, step, x in range)
    val vecGen = Gen.choose(1, 16).flatMap(n => Gen.listOfN(n, dimGen))
    check(Prop.forAllNoShrink(vecGen) { dims =>
      val mins = new GenericArrayData(dims.map(_._1).toArray)
      val steps = new GenericArrayData(dims.map(_._2).toArray)
      val v = new GenericArrayData(dims.map(_._3).toArray)
      def enc(x: Any): Array[Byte] = {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.types.{ArrayType, DoubleType}
        Sq8Encode(Literal(x, ArrayType(DoubleType)),
          Literal(mins, ArrayType(DoubleType)),
          Literal(steps, ArrayType(DoubleType))).eval(null)
          .asInstanceOf[Array[Byte]]
      }
      def deq(c: Array[Byte]) = {
        import org.apache.spark.sql.catalyst.expressions.Literal
        import org.apache.spark.sql.types.{ArrayType, BinaryType, DoubleType}
        Sq8Dequant(Literal(c, BinaryType),
          Literal(mins, ArrayType(DoubleType)),
          Literal(steps, ArrayType(DoubleType))).eval(null)
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      }
      val codes = enc(v)
      val vq = deq(codes)
      val errOk = dims.indices.forall { d =>
        val (_, step, x) = dims(d)
        if (step == 0.0) vq.getDouble(d) == dims(d)._1
        else math.abs(x - vq.getDouble(d)) <= step / 2.0 + 1e-9
      }
      // quantization is a projection: encode∘dequant∘encode = encode
      val fixpoint = java.util.Arrays.equals(enc(deq(codes)), codes)
      errOk && fixpoint
    }, minSuccessful = 500)
  }

  test("nfc_normalize is idempotent and composition-equivalent (500 cases)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.NfcNormalize
    // ascii mixed with precomposed chars and combining marks, in
    // arbitrary interleavings (incl. mark-first edge cases)
    val atomGen = Gen.frequency(
      5 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf("é", "Å", "ö", "ñ", "ç").map(identity),
      2 -> Gen.oneOf("́", "̊", "̈", "̧"),
      1 -> Gen.oneOf(" ", ".", "→", "λ"))
    val strGen = Gen.listOf(atomGen).map(_.mkString).map(_.take(64))
    def nfc(s: String): String =
      NfcNormalize(Literal(UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)).eval(null)
        .asInstanceOf[UTF8String].toString
    check(Prop.forAllNoShrink(strGen) { s =>
      val once = nfc(s)
      nfc(once) == once &&
        java.text.Normalizer.isNormalized(once, java.text.Normalizer.Form.NFC) &&
        // canonical equivalence is preserved: NFD of the result equals
        // NFD of the input (normalization never changes the text, only
        // its encoding)
        java.text.Normalizer.normalize(once, java.text.Normalizer.Form.NFD) ==
          java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    }, minSuccessful = 500)
  }

  // -------------------------------------------------------------------
  // Producer mirror of the Key_Shared consumer property: random task
  // abort/retry/replay plans driven through the REAL DSv2 writer
  // (PulsarLikeDataWriter's buffer-then-commit contract) against the
  // topic store, asserting the append accounting exactly:
  //  - an aborted attempt publishes NOTHING (task buffer dropped);
  //  - batch path (no txn): each committed attempt appends once —
  //    at-least-once, duplicate speculative commits duplicate exactly;
  //  - streaming path with enableTransaction (txn tokens): a replayed
  //    epoch — including partially-committed first attempts — appends
  //    nothing new: every message exactly once, in its key's partition.

  private def sinkWriter(root: String, parts: Int,
      txn: Option[(String, Long)]) =
    new graft.sources.PulsarLikeDataWriter(root, "t", parts,
      Map("key" -> 0, "value_str" -> 1, "publish_time" -> 2), txn)

  private def sinkRow(key: String, v: String, i: Int) =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(key),
        org.apache.spark.unsafe.types.UTF8String.fromString(v),
        1700000000000000L + i * 1000L))

  private def storeCounts(root: String): Map[String, Int] = {
    val dir = TopicStore.topicDir(root, "t")
    TopicStore.partitionIdsIn(dir).flatMap { p =>
      val (cnt, _) = TopicStore.partitionMetaIn(dir, p)
      TopicStore.readEntries(dir, p, 0, cnt).map(m =>
        (new String(Base64.getDecoder.decode(m.valueB64), "UTF-8"), p))
    }.groupBy(_._1).view.mapValues(_.size).toMap
  }

  private case class WriterPlan(msgs: Vector[(String, String, Int)],
      aborts: Int, commits: Int)

  test("producer accounting: random aborts and speculative commits on the batch write path (100 cases)") {
    val nParts = 3
    val planGen = for {
      nWriters <- Gen.choose(1, 4)
      plans <- Gen.sequence[Vector[WriterPlan], WriterPlan](
        (0 until nWriters).map { w =>
          for {
            n <- Gen.choose(0, 8)
            aborts <- Gen.frequency(5 -> 0, 3 -> 1, 1 -> 2)
            // 1 commit normally; 2 models a speculative duplicate that a
            // commit coordinator would have fenced (at-least-once bound)
            commits <- Gen.frequency(8 -> 1, 2 -> 2)
          } yield WriterPlan((0 until n).toVector.map(i =>
            (s"k${(w * 31 + i) % 5}", s"w$w-m$i", w * 100 + i)),
            aborts, commits)
        }.toVector)
    } yield plans
    check(Prop.forAllNoShrink(planGen) { plans =>
      val root = tmpDir("prop-sink-batch")
      TopicStore.ensureNumPartitions(root, "t", nParts)
      plans.foreach { plan =>
        (0 until plan.aborts).foreach { a =>
          val w = sinkWriter(root, nParts, None)
          // an aborted attempt dies after writing a random prefix
          plan.msgs.take(a * 2).foreach { case (k, v, i) =>
            w.write(sinkRow(k, v, i)) }
          w.abort()
        }
        (0 until plan.commits).foreach { _ =>
          val w = sinkWriter(root, nParts, None)
          plan.msgs.foreach { case (k, v, i) => w.write(sinkRow(k, v, i)) }
          w.commit()
        }
      }
      val counts = storeCounts(root)
      val expected = plans.flatMap(p =>
        p.msgs.map { case (_, v, _) => v -> p.commits }).toMap
        .filter(_._2 > 0)
      counts == expected
    }, minSuccessful = 100)
  }

  test("producer accounting: epoch replays with txn tokens are exactly-once (150 cases)") {
    val nParts = 3
    // per epoch, per writer: how many rows, how many aborted attempts,
    // whether the writer's first-pass commit LANDED before the "crash"
    // (a replayed epoch re-commits every writer)
    case class EpochWriter(rows: Vector[(String, String, Int)], aborts: Int,
        committedFirstPass: Boolean)
    val planGen = for {
      nWriters <- Gen.choose(1, 3)
      nEpochs <- Gen.choose(1, 4)
      replayed <- Gen.someOf(0 until nEpochs)
      epochs <- Gen.sequence[Vector[Vector[EpochWriter]], Vector[EpochWriter]](
        (0 until nEpochs).map { e =>
          Gen.sequence[Vector[EpochWriter], EpochWriter]((0 until nWriters).map { w =>
            for {
              n <- Gen.choose(0, 6)
              aborts <- Gen.frequency(6 -> 0, 3 -> 1, 1 -> 2)
              committed <- Gen.oneOf(true, false)
            } yield EpochWriter((0 until n).toVector.map(i =>
              (s"k${(e * 7 + w * 3 + i) % 5}", s"e$e-w$w-m$i", e * 1000 + w * 100 + i)),
              aborts,
              // a non-replayed epoch completed: every writer committed
              committed || !replayed.contains(e))
          }.toVector)
        }.toVector)
    } yield (epochs, replayed.toSet)
    check(Prop.forAllNoShrink(planGen) { case (epochs, replayed) =>
      val root = tmpDir("prop-sink-txn")
      TopicStore.ensureNumPartitions(root, "t", nParts)
      val queryId = java.util.UUID.randomUUID().toString
      def attempt(e: Int, w: Int, ew: EpochWriter, commit: Boolean): Unit = {
        val wr = sinkWriter(root, nParts, Some((s"$queryId/$w", e.toLong)))
        ew.rows.take(if (commit) ew.rows.size else 2)
          .foreach { case (k, v, i) => wr.write(sinkRow(k, v, i)) }
        if (commit) wr.commit() else wr.abort()
      }
      epochs.zipWithIndex.foreach { case (writers, e) =>
        // first pass: aborted attempts, then the commits that landed
        writers.zipWithIndex.foreach { case (ew, w) =>
          (0 until ew.aborts).foreach(_ => attempt(e, w, ew, commit = false))
          if (ew.committedFirstPass) attempt(e, w, ew, commit = true)
        }
        // crash + replay: the SAME epoch re-runs, every writer commits
        if (replayed.contains(e)) {
          writers.zipWithIndex.foreach { case (ew, w) =>
            attempt(e, w, ew, commit = true)
          }
        }
      }
      val counts = storeCounts(root)
      val expected = epochs.flatten
        .flatMap(_.rows.map { case (_, v, _) => v -> 1 }).toMap
      // exactly-once: every planned row exactly once, none lost, none
      // duplicated — regardless of aborts, partial commits, and replays
      counts == expected
    }, minSuccessful = 150)
  }

  test("d15 blocking: one substitution in a >=8-char name keeps a zone") {
    // mirrors d15_fuzzy_linkage's prefix-4/suffix-4 blocking keys: for
    // any name of length >= 8 and any single-character substitution,
    // the original and the variant share at least one key — so every
    // one-edit pair at those lengths is a candidate with certainty.
    // The sole evasion (7-char name, position 4, where the zones
    // overlap) is asserted too, so the documented bound stays honest.
    def keys(s: String): Set[String] =
      Set("p:" + s.substring(0, 4), "s:" + s.substring(s.length - 4))
    val nameChar = Gen.alphaLowerChar
    val gen = for {
      len <- Gen.choose(8, 16)
      cs <- Gen.listOfN(len, nameChar)
      pos <- Gen.choose(0, len - 1)
      repl <- nameChar.suchThat(c => c != cs(pos))
    } yield (cs.mkString, pos, repl)
    check(Prop.forAllNoShrink(gen) { case (name, pos, repl) =>
      val variant = name.updated(pos, repl)
      keys(name).intersect(keys(variant)).nonEmpty
    }, minSuccessful = 200)
    // the overlap evasion exists and is exactly (len 7, pos 4):
    val n7 = "abcdefg"
    assert(keys(n7).intersect(keys(n7.updated(3, 'x'))).isEmpty)
    for (p <- Seq(0, 1, 2, 4, 5, 6))
      assert(keys(n7).intersect(keys(n7.updated(p, 'x'))).nonEmpty,
        s"7-char substitution at index $p unexpectedly evades both zones")
  }
}
