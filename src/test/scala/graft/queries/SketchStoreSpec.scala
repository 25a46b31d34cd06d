package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}
import graft.operators.SketchOps

/** The sketch store: per-key theta/KLL/frequencies/VarOpt bytes
  * persisted by one pass and answered from the bytes alone (q86 gate,
  * q92–q93, the q92b/c/d answer legs), and its two streaming
  * maintainers — ws13's associative theta merge and ws14's
  * exactly-once KLL shards (multi-batch, replay, restart, compaction).
  * Each pin pairs a planted-truth fixture with an independent
  * plain-Scala recount of the gated surface. */
class SketchStoreSpec extends SparkSpec {

  import org.apache.datasketches.memory.Memory

  private val dir = small

  /** Documents whose n_chars is a planted weight, not the text length. */
  private def weightedDocs(rows: Seq[(Long, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "n_chars")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s0"))
  }

  test("q86 gate: the exact top-20 equals a plain-Scala recount and " +
    "both flags hold on the fixture") {
    val toks = Tables(spark, dir, "documents")
      .select(col("text")).collect().map(_.getString(0))
      .flatMap(_.split(" ").filter(_.nonEmpty))
    val top = toks.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(20)
    val got = QueryRegistry.byName("q86_frequent_tokens").run(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2),
        r.getBoolean(3)))
    assert(got.map(g => (g._1, g._2)).toSeq == top.map(t => (t._1, t._2)))
    assert(got.forall(g => g._3 && g._4),
      "structurally-true sketch flags must hold")
  }

  test("q92: stored sketch bytes are read back byte-identical, and " +
    "theta answers from the STORE equal in-session answers") {
    val d = tmpDir("r10-store")
    // two overlapping user sets: A = 0..99, B = 50..149
    plant(d, "events", events(
      (0L until 100L).map(u => (u, u, "click", 1.0)) ++
        (0L until 100L).map(u => (1000L + u, 50L + u, "view", 2.0))))
    val ev = Tables(spark, d, "events")
    val store = tmpDir("r10-store-tbl") + "/sketch_store"
    SketchOps.writeSketchStore(ev, col("event_type"), col("user_id"),
      col("value"), col("user_id"), col("event_id"),
      greatest(lit(1L), round(col("value") * 100).cast("long")), store)
    // round-trip fidelity: what parquet hands back IS what heapify
    // accepts, for all four kinds, and the bytes parse to sketches
    // whose answers match the in-session build
    val rows = spark.read.parquet(store)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        r.getAs[Array[Byte]](2))).toMap
    assert(rows.keySet == Set(("click", "theta"), ("click", "kll"),
      ("click", "freq"), ("click", "varopt"), ("view", "theta"),
      ("view", "kll"), ("view", "freq"), ("view", "varopt")))
    // theta: retained set is order-independent -> stored bytes answer
    // exactly like the in-session per-key build
    val inSession = SketchOps.thetaPerKey(ev, col("event_type"),
      col("user_id"))
    inSession.foreach { case (k, n, sk) =>
      val stored = org.apache.datasketches.theta.Sketches
        .wrapSketch(Memory.wrap(rows((k, "theta"))))
      assert(stored.getEstimate == sk.getEstimate &&
        stored.getRetainedEntries == sk.getRetainedEntries,
        s"$k: stored theta diverges from in-session")
      assert(stored.getEstimate == 100.0,
        s"$k: exact-mode estimate must be the true 100, got " +
          s"${stored.getEstimate}")
      assert(n == 100L)
    }
    // kll / freq bytes parse and carry the full weight
    Seq("click", "view").foreach { k =>
      val kll = org.apache.datasketches.kll.KllDoublesSketch
        .heapify(Memory.wrap(rows((k, "kll"))))
      assert(kll.getN == 100L, s"$k: KLL lost updates")
      val fr = org.apache.datasketches.frequencies.LongsSketch
        .getInstance(Memory.wrap(rows((k, "freq"))))
      assert(fr.getStreamLength == 100L, s"$k: freq lost updates")
      val vo = org.apache.datasketches.sampling.VarOptItemsSketch
        .heapify(Memory.wrap(rows((k, "varopt"))),
          new org.apache.datasketches.common.ArrayOfLongsSerDe())
      assert(vo.getN == 100L, s"$k: varopt lost updates")
    }
    // the bytes-only set algebra sees the planted overlap exactly
    // (both sets < 4096 keys -> exact mode)
    val bounds = SketchOps.thetaOverlapBoundsFromStore(spark, store, 3)
    assert(bounds.length == 1)
    val (a, b, iLb, iUb, uLb, uUb, nLb, nUb) = bounds.head
    assert(a == "click" && b == "view")
    assert(iLb <= 50.0 && 50.0 <= iUb, s"inter [$iLb,$iUb] misses 50")
    assert(uLb <= 150.0 && 150.0 <= uUb, s"union [$uLb,$uUb] misses 150")
    assert(nLb <= 50.0 && 50.0 <= nUb, s"anotb [$nLb,$nUb] misses 50")
  }

  test("q92: registry query on planted disjoint and identical user " +
    "sets reports exact counts with all flags true") {
    val d = tmpDir("r10-q92")
    plant(d, "events", events(
      (0L until 60L).map(u => (u, u, "click", 1.0)) ++
        (0L until 60L).map(u => (100L + u, 1000L + u, "view", 1.0)) ++
        (0L until 60L).map(u => (200L + u, u, "purchase", 1.0))))
    val got = QueryRegistry.byName("q92_sketch_store_roundtrip")
      .run(spark, d).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getBoolean(7), r.getBoolean(8),
          r.getBoolean(9)))).toMap
    assert(got.keySet == Set(("click", "view"), ("click", "purchase"),
      ("purchase", "view")))
    // click ∩ purchase planted identical; view planted disjoint
    assert(got(("click", "purchase")) ==
      ((60L, 60L, 60L, 60L, 0L, true, true, true)))
    assert(got(("click", "view")) ==
      ((60L, 60L, 0L, 120L, 60L, true, true, true)))
    assert(got(("purchase", "view")) ==
      ((60L, 60L, 0L, 120L, 60L, true, true, true)))
  }

  test("q93: VarOpt invariants hold and a heavy item is retained " +
    "deterministically, including under an 8-shard merge") {
    val d = tmpDir("r10-q93")
    // 400 light docs (weight 10) + one heavy doc carrying more than
    // the average k-bucket share: w=100000 >> total/k, so it sits in
    // the deterministic H region of every merged sketch
    plant(d, "documents", weightedDocs(
      (0L until 400L).map(i => (i, s"doc $i", 10L)) :+
        ((400L, "heavy", 100000L))))
    val docs = Tables(spark, d, "documents")
      .select(col("doc_id"), col("n_chars"))
    (1 to 8).foreach { shards =>
      val sample = SketchOps.varoptSample(docs.repartition(shards),
        col("doc_id"), col("n_chars").cast("double"), 16)
      assert(sample.length == 16, s"$shards shards: size")
      assert(sample.exists(_._1 == 400L),
        s"$shards shards: heavy item evicted — VarOpt H-region broken")
      // total-weight invariant: Σ adjusted == Σ true, exactly up to
      // float-sum slack
      val est = sample.map(_._2).sum
      assert(math.abs(est - 104000.0) <= 1e-9 * 104000.0,
        s"$shards shards: est_total $est != 104000")
      // adjusted weights never fall below true weights
      val wTrue = Map(400L -> 100000.0).withDefaultValue(10.0)
      sample.foreach { case (id, w) =>
        assert(w >= wTrue(id) - 1e-6, s"$shards shards: $id lifted " +
          s"weight $w below true ${wTrue(id)}")
      }
      // the heavy item keeps its EXACT weight (H region stores w, not τ)
      assert(sample.find(_._1 == 400L).get._2 == 100000.0)
    }
  }

  test("q93: registry query — sample_size = min(k, n) on a corpus " +
    "smaller than k, and all flags hold") {
    val d = tmpDir("r10-q93-small")
    plant(d, "documents", weightedDocs(
      (0L until 20L).map(i => (i, s"doc $i", 5L + i))))
    val r = QueryRegistry.byName("q93_varopt_sample").run(spark, d)
      .collect()(0)
    assert(r.getLong(0) == 64L && r.getLong(1) == 20L)
    assert(r.getLong(2) == (0L until 20L).map(5L + _).sum)
    assert(r.getLong(3) == 20L, "undersized corpus must sample fully")
    assert(r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(6))
  }

  test("q92b: exact per-type quantile values match a plain-Scala " +
    "sorted recount at the integer ceiling ranks; all flags true") {
    val byType = Tables(spark, dir, "events")
      .select(col("event_type"), col("value"), col("event_id"))
      .collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getLong(2))))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(identity).map(_._1).toIndexedSeq)
      .toMap
    val ratios = Seq((0.25, 1L, 4L), (0.5, 1L, 2L), (0.9, 9L, 10L))
    val expected = (for {
      (t, vs) <- byType.toSeq
      (q, qn, qd) <- ratios
    } yield {
      val n = vs.length.toLong
      val rk = math.max(1L, (qn * n + qd - 1) / qd)
      ((t, q), (n, vs((rk - 1).toInt)))
    }).toMap
    val got = QueryRegistry.byName("q92b_store_quantiles")
      .run(spark, dir).collect()
    assert(got.length == expected.size,
      s"row count ${got.length} != ${expected.size}")
    got.foreach { r =>
      val key = (r.getString(0), r.getDouble(1))
      val (n, v) = expected(key)
      assert(r.getLong(2) == n && r.getDouble(3) == v,
        s"$key: got (${r.getLong(2)}, ${r.getDouble(3)}) want ($n, $v)")
      assert(r.getBoolean(4), s"$key: within_rank_eps false — the " +
        "store's KLL estimate fell outside the doubled rank-eps bracket")
    }
  }

  test("q92b planted: a known uniform ladder per type yields the " +
    "literal ceiling-rank order statistics, answered with flags true") {
    val d = tmpDir("r11-q92b")
    // click: values 1..100; view: values 1..40 (distinct sizes so the
    // per-type ceiling ranks differ)
    plant(d, "events", events(
      (1L to 100L).map(i => (i, i, "click", i.toDouble)) ++
        (1L to 40L).map(i => (1000L + i, i, "view", i.toDouble))))
    val got = QueryRegistry.byName("q92b_store_quantiles")
      .run(spark, d).collect()
      .map(r => ((r.getString(0), r.getDouble(1)),
        (r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    // click n=100: ranks 25/50/90 -> values 25, 50, 90
    assert(got(("click", 0.25)) == ((100L, 25.0, true)))
    assert(got(("click", 0.5)) == ((100L, 50.0, true)))
    assert(got(("click", 0.9)) == ((100L, 90.0, true)))
    // view n=40: ceil(10)/ceil(20)/ceil(36) -> values 10, 20, 36
    assert(got(("view", 0.25)) == ((40L, 10.0, true)))
    assert(got(("view", 0.5)) == ((40L, 20.0, true)))
    assert(got(("view", 0.9)) == ((40L, 36.0, true)))
  }

  test("q92b store purity: kllQuantilesFromStore answers from bytes " +
    "written by a DIFFERENT session pass, exactly (small-n exact mode)") {
    val d = tmpDir("r11-q92b-store")
    plant(d, "events", events(
      (1L to 100L).map(i => (i, i, "click", i.toDouble))))
    val store = tmpDir("r11-q92b-tbl") + "/sketch_store"
    SketchOps.writeSketchStore(Tables(spark, d, "events"),
      col("event_type"), col("user_id"), col("value"), col("user_id"),
      col("event_id"),
      greatest(lit(1L), round(col("value") * 100).cast("long")), store)
    // 100 updates < the k=200 buffer: the sketch has never compacted,
    // so the INCLUSIVE quantile is the exact order statistic
    val ans = SketchOps.kllQuantilesFromStore(spark, store,
      Seq(0.25, 0.5, 0.9)).map(t => (t._2, t._3)).toMap
    assert(ans(0.25) == 25.0 && ans(0.5) == 50.0 && ans(0.9) == 90.0,
      s"exact-mode store answers diverged: $ans")
  }

  test("q92c: exact per-type top-5 matches a plain-Scala recount " +
    "(count desc, user_id tie-break); all flags true") {
    val counts = Tables(spark, dir, "events")
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = counts.toSeq
      .map { case ((t, u), n) => (t, u, n) }
      .groupBy(_._1).view
      .mapValues(_.sortBy(x => (-x._3, x._2)).take(5)
        .sortBy(_._2))
      .toMap
    val got = QueryRegistry.byName("q92c_store_heavy_users")
      .run(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    val gotByType = got.groupBy(_._1)
    assert(gotByType.keySet == expected.keySet)
    expected.foreach { case (t, exp) =>
      assert(gotByType(t).map(x => (x._1, x._2, x._3)).toSeq == exp,
        s"$t: top-5 diverged: ${gotByType(t).toSeq} vs $exp")
    }
    got.foreach { r =>
      assert(r._4 && r._5, s"flags false on $r — the stored freq " +
        "sketch violated a structurally-true Misra-Gries guarantee")
    }
  }

  test("q92c planted: a dominant user is answered from the store with " +
    "an exact-mode estimate equal to its true count") {
    val d = tmpDir("r11-q92c")
    // user 7 fires 50 clicks; 60 other users once each (well under
    // 0.75*1024 distinct keys -> the freq sketch never purges)
    plant(d, "events", events(
      (1L to 50L).map(i => (i, 7L, "click", 1.0)) ++
        (1L to 60L).map(i => (100L + i, 1000L + i, "click", 1.0))))
    val store = tmpDir("r11-q92c-tbl") + "/sketch_store"
    SketchOps.writeSketchStore(Tables(spark, d, "events"),
      col("event_type"), col("user_id"), col("value"), col("user_id"),
      col("event_id"),
      greatest(lit(1L), round(col("value") * 100).cast("long")), store)
    val (rows, errs) = SketchOps.freqEstimatesFromStore(spark, store)
    assert(errs == Seq(("click", 0L)),
      s"exact mode expected (no purges), got maxError $errs")
    val u7 = rows.find(r => r._1 == "click" && r._2 == 7L).get
    assert(u7._3 == 50L && u7._4 == 50L && u7._5 == 50L,
      s"exact-mode estimate must equal the true count: $u7")
    // and the registry query reports user 7 first with flags true
    val got = QueryRegistry.byName("q92c_store_heavy_users")
      .run(spark, d).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getBoolean(4)))
    assert(got.length == 5)
    assert(got.exists(_ == ((7L, 50L, true, true))),
      s"dominant user missing from the gated top-5: ${got.toSeq}")
  }

  test("q92d: per-type counts and exact integer weight totals match a " +
    "plain-Scala recount; sample sizes are min(k, n); all flags true") {
    val rows = Tables(spark, dir, "events")
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val expected = rows.groupBy(_._1).view.mapValues { vs =>
      val n = vs.length.toLong
      val w = vs.map(v => math.max(1L, math.round(v._2 * 100))).sum
      (n, w, math.min(64L, n))
    }.toMap
    val got = QueryRegistry.byName("q92d_store_varopt")
      .run(spark, dir).collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val t = r.getString(0)
      val (n, w, ss) = expected(t)
      assert(r.getLong(1) == 64L)
      assert(r.getLong(2) == n && r.getLong(3) == w &&
        r.getLong(4) == ss,
        s"$t: got (${r.getLong(2)}, ${r.getLong(3)}, ${r.getLong(4)})" +
          s" want ($n, $w, $ss)")
      assert(r.getBoolean(5) && r.getBoolean(6) && r.getBoolean(7),
        s"$t: a structurally-true VarOpt flag came back false")
    }
  }

  test("q92d planted exact mode: n <= k keeps EVERY item with its true " +
    "weight, answered from bytes written by a different pass") {
    val d = tmpDir("r11-q92d")
    // 50 click events, weights = round(value*100) = 100·i
    plant(d, "events", events(
      (1L to 50L).map(i => (i, i, "click", i.toDouble))))
    val store = tmpDir("r11-q92d-tbl") + "/sketch_store"
    SketchOps.writeSketchStore(Tables(spark, d, "events"),
      col("event_type"), col("user_id"), col("value"), col("user_id"),
      col("event_id"),
      greatest(lit(1L), round(col("value") * 100).cast("long")), store)
    val (sample, totals) = SketchOps.varoptFromStore(spark, store)
    // under-capacity: the sample IS the input, adjusted weight == true
    // weight exactly (no R region exists yet)
    assert(totals == Seq(("click", 50L, (1 to 50).map(_ * 100.0).sum)),
      s"exact-mode totals diverged: $totals")
    assert(sample == (1L to 50L).map(i => ("click", i, i * 100.0)),
      s"exact-mode sample must be the full weighted input: $sample")
    // and the registry query gates it green
    val got = QueryRegistry.byName("q92d_store_varopt")
      .run(spark, d).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(2) == 50L && r.getLong(3) == 127500L &&
      r.getLong(4) == 50L, s"planted q92d exact legs diverged: $r")
    assert(r.getBoolean(5) && r.getBoolean(6) && r.getBoolean(7),
      s"planted q92d flags diverged: $r")
  }

  test("q92d over-capacity: k < n still satisfies min(k,n) size, the " +
    "invariant total, and the weight floor (randomized contents)") {
    val d = tmpDir("r11-q92d-oc")
    plant(d, "events", events((1L to 300L).map(i =>
      (i, i, "click", (1 + (i % 17)).toDouble))))
    val got = QueryRegistry.byName("q92d_store_varopt")
      .run(spark, d).collect()
    assert(got.length == 1)
    val r = got.head
    val totalW = (1L to 300L).map(i => (1 + (i % 17)) * 100L).sum
    assert(r.getLong(2) == 300L && r.getLong(3) == totalW &&
      r.getLong(4) == 64L,
      s"over-capacity exact legs diverged: $r")
    assert(r.getBoolean(5) && r.getBoolean(6) && r.getBoolean(7),
      s"a VarOpt invariant failed over capacity: $r")
  }

  test("ws13 registry: planted per-type user sets are answered " +
    "exactly from the streamed store with flags true") {
    val d = tmpDir("r11-ws13")
    // click: users 0..79; view: users 40..99 (overlap is irrelevant —
    // the store keys per type); every content-type mode exercised
    plant(d, "events", events(
      (0L until 80L).map(u => (u, u, "click", 1.0)) ++
        (0L until 60L).map(u => (1000L + u, 40L + u, "view", 2.0))))
    val got = QueryRegistry.byName("ws13_stream_sketch_store")
      .run(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(got == Seq(("click", 80L, true), ("view", 60L, true)),
      s"streamed store answers diverged: $got")
  }

  test("ws13 multi-batch: a small admission cap forces several merge " +
    "batches and the associatively-merged store still answers exactly") {
    import graft.operators.MessageOps
    import graft.sources.TopicStore
    val d = tmpDir("r11-ws13-mb")
    plant(d, "events", events((0L until 100L).map(u => (u, u, "click", 1.0))))
    val root = tmpDir("r11-ws13-mb-topic")
    val ckpt = tmpDir("r11-ws13-mb-ckpt")
    val store = tmpDir("r11-ws13-mb-store") + "/sketch_store"
    TopicStore.publish(spark,
      MessageOps.fromEvents(Tables(spark, d, "events")), root,
      "events", 4)
    val batches = StreamSketchGate.pass(spark, root, ckpt, store, 30L)
    assert(batches > 1,
      s"cap 30 over 100 messages must split into several batches, got $batches")
    val est = SketchOps.thetaEstimatesFromStore(spark, store, 3)
    assert(est.map(t => (t._1, t._2)) == Seq(("click", 100.0)),
      s"exact-mode streamed estimate must be 100: $est")
  }

  test("ws13 restart-resume: a second pass on the same checkpoint " +
    "merges ONLY newly published messages into the store") {
    import graft.operators.MessageOps
    import graft.sources.TopicStore
    val d1 = tmpDir("r11-ws13-rr1")
    val d2 = tmpDir("r11-ws13-rr2")
    plant(d1, "events", events((0L until 100L).map(u => (u, u, "click", 1.0))))
    plant(d2, "events", events(
      (0L until 50L).map(u => (500L + u, 1000L + u, "click", 1.0))))
    val root = tmpDir("r11-ws13-rr-topic")
    val ckpt = tmpDir("r11-ws13-rr-ckpt")
    val store = tmpDir("r11-ws13-rr-store") + "/sketch_store"
    TopicStore.publish(spark,
      MessageOps.fromEvents(Tables(spark, d1, "events")), root,
      "events", 4)
    val b1 = StreamSketchGate.pass(spark, root, ckpt, store, 60L)
    assert(b1 == 2, s"pass 1: 100 messages under cap 60 = 2 batches, got $b1")
    val mid = SketchOps.thetaEstimatesFromStore(spark, store, 3)
    assert(mid.map(t => (t._1, t._2)) == Seq(("click", 100.0)),
      s"store after pass 1 must cover exactly the first publish: $mid")
    // restart: publish 50 MORE users, resume from the same checkpoint
    TopicStore.publish(spark,
      MessageOps.fromEvents(Tables(spark, d2, "events")), root,
      "events", 4)
    val b2 = StreamSketchGate.pass(spark, root, ckpt, store, 60L)
    assert(b2 == 1, "pass 2 must resume from committed offsets and " +
      s"process ONLY the 50 new messages (1 batch under cap 60), got $b2")
    val fin = SketchOps.thetaEstimatesFromStore(spark, store, 3)
    assert(fin.map(t => (t._1, t._2)) == Seq(("click", 150.0)),
      s"resumed store must cover the union of both publishes: $fin")
  }

  test("ws13 replay idempotency: re-merging an already-merged batch " +
    "leaves the store answers unchanged (at-least-once is safe)") {
    import org.apache.spark.sql.functions.col
    val d = tmpDir("r11-ws13-idem")
    plant(d, "events", events((0L until 100L).map(u => (u, u, "click", 1.0))))
    val store = tmpDir("r11-ws13-idem-store") + "/sketch_store"
    val batch = Tables(spark, d, "events")
      .select(col("event_type"), col("user_id"))
    SketchOps.mergeThetaIntoStore(batch, col("event_type"),
      col("user_id"), store)
    val once = SketchOps.thetaEstimatesFromStore(spark, store, 3)
    // the replay: same rows merged again (a foreachBatch retry)
    SketchOps.mergeThetaIntoStore(batch, col("event_type"),
      col("user_id"), store)
    val twice = SketchOps.thetaEstimatesFromStore(spark, store, 3)
    assert(once == twice && once.map(t => (t._1, t._2)) ==
      Seq(("click", 100.0)),
      s"theta union must be idempotent under replay: $once vs $twice")
  }

  test("ws14 registry planted: a known uniform ladder is answered " +
    "exactly from the stream-maintained sharded store, flags true") {
    val d = tmpDir("r11-ws14")
    plant(d, "events", events(
      (1L to 100L).map(i => (i, i, "click", i.toDouble)) ++
        (1L to 40L).map(i => (1000L + i, i, "view", i.toDouble))))
    val got = QueryRegistry.byName("ws14_stream_kll_shards")
      .run(spark, d).collect()
      .map(r => ((r.getString(0), r.getDouble(1)),
        (r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got(("click", 0.25)) == ((100L, 25.0, true)))
    assert(got(("click", 0.5)) == ((100L, 50.0, true)))
    assert(got(("click", 0.9)) == ((100L, 90.0, true)))
    assert(got(("view", 0.25)) == ((40L, 10.0, true)))
    assert(got(("view", 0.5)) == ((40L, 20.0, true)))
    assert(got(("view", 0.9)) == ((40L, 36.0, true)))
  }

  test("ws14 multi-batch: small admission caps split the pass into " +
    "several shards whose merge answers exactly (uncompacted mode)") {
    import graft.operators.MessageOps
    import graft.sources.TopicStore
    val d = tmpDir("r11-ws14-mb")
    plant(d, "events", events(
      (1L to 100L).map(i => (i, i, "click", i.toDouble))))
    val root = tmpDir("r11-ws14-mb-topic")
    val ckpt = tmpDir("r11-ws14-mb-ckpt")
    val shards = tmpDir("r11-ws14-mb-store") + "/kll_shards"
    TopicStore.publish(spark,
      MessageOps.fromEvents(Tables(spark, d, "events")), root,
      "events", 4)
    val bids = StreamKllShardGate.pass(spark, root, ckpt, shards, 30L)
    assert(bids.length > 1,
      s"cap 30 over 100 messages must split into several shards: $bids")
    // 100 total updates < k=200: the MERGED sketch is uncompacted, so
    // INCLUSIVE quantiles are the exact order statistics
    val ans = SketchOps.kllQuantilesFromShardedStore(spark, shards,
      Seq(0.25, 0.5, 0.9)).map(t => (t._2, t._3)).toMap
    assert(ans(0.25) == 25.0 && ans(0.5) == 50.0 && ans(0.9) == 90.0,
      s"sharded-store exact-mode answers diverged: $ans")
  }

  test("ws14 replay idempotency: rewriting the SAME batch id replaces " +
    "its shard — answers and shard count unchanged (exactly-once)") {
    import org.apache.spark.sql.functions.col
    val d = tmpDir("r11-ws14-idem")
    plant(d, "events", events(
      (1L to 100L).map(i => (i, i, "click", i.toDouble))))
    val shards = tmpDir("r11-ws14-idem-store") + "/kll_shards"
    val batch = Tables(spark, d, "events")
      .select(col("event_type"), col("value"))
    SketchOps.writeKllShard(batch, col("event_type"), col("value"),
      shards, 0L)
    val once = SketchOps.kllQuantilesFromShardedStore(spark, shards,
      Seq(0.5))
    // the replay: the same deterministic batch id retried after a
    // crash-before-commit — an overwrite, NOT a second merge
    SketchOps.writeKllShard(batch, col("event_type"), col("value"),
      shards, 0L)
    val twice = SketchOps.kllQuantilesFromShardedStore(spark, shards,
      Seq(0.5))
    assert(once == twice && once.map(t => (t._1, t._3)) ==
      Seq(("click", 50.0)),
      s"batch-id overwrite must be idempotent: $once vs $twice")
    val dirs = new java.io.File(shards).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(dirs == Seq("batch=0"),
      s"a replayed batch must not mint a new shard: $dirs")
  }

  test("ws14 compaction: folding old shards into a checkpoint shard " +
    "preserves answers, bounds the store, and is idempotent") {
    import org.apache.spark.sql.functions.col
    val d = tmpDir("r11-ws14-cpt")
    plant(d, "events", events(
      (1L to 100L).map(i => (i, i, "click", i.toDouble))))
    val shards = tmpDir("r11-ws14-cpt-store") + "/kll_shards"
    val ev = Tables(spark, d, "events")
    // five shards of 20 values each (batch ids 0..4)
    (0L until 5L).foreach { b =>
      SketchOps.writeKllShard(
        ev.filter(col("event_id") > b * 20 &&
          col("event_id") <= (b + 1) * 20)
          .select(col("event_type"), col("value")),
        col("event_type"), col("value"), shards, b)
    }
    def dirs() = new java.io.File(shards).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName)
      .sorted.toSeq
    val before = SketchOps.kllQuantilesFromShardedStore(spark, shards,
      Seq(0.25, 0.5, 0.9))
    assert(dirs() == Seq("batch=0", "batch=1", "batch=2", "batch=3",
      "batch=4"))
    SketchOps.compactKllShards(spark, shards, 2)
    // batches 0..2 folded into checkpoint batch=2; 3 and 4 kept
    assert(dirs() == Seq("batch=2", "batch=3", "batch=4"),
      s"compaction must bound the store at keepLast+1: ${dirs()}")
    val after = SketchOps.kllQuantilesFromShardedStore(spark, shards,
      Seq(0.25, 0.5, 0.9))
    // 100 total updates < k=200: both stores are exact, so the fold
    // must preserve answers EXACTLY (KLL merge associativity)
    assert(before == after,
      s"compaction changed store answers: $before vs $after")
    assert(after.map(t => (t._2, t._3)).toMap ==
      Map(0.25 -> 25.0, 0.5 -> 50.0, 0.9 -> 90.0))
    // idempotent re-compaction folds the previous checkpoint forward
    SketchOps.compactKllShards(spark, shards, 1)
    assert(dirs() == Seq("batch=3", "batch=4"),
      s"re-compaction must fold the old checkpoint too: ${dirs()}")
    assert(SketchOps.kllQuantilesFromShardedStore(spark, shards,
      Seq(0.25, 0.5, 0.9)) == before)
    // keepLast >= shard count is a no-op
    SketchOps.compactKllShards(spark, shards, 5)
    assert(dirs() == Seq("batch=3", "batch=4"))
  }

  test("ws14 restart-resume: a second pass on the same checkpoint " +
    "writes only NEW batch ids and the merge covers both publishes") {
    import graft.operators.MessageOps
    import graft.sources.TopicStore
    val d1 = tmpDir("r11-ws14-rr1")
    val d2 = tmpDir("r11-ws14-rr2")
    // pass 1: values 1..80; pass 2: values 81..100 (disjoint ids)
    plant(d1, "events", events(
      (1L to 80L).map(i => (i, i, "click", i.toDouble))))
    plant(d2, "events", events((81L to 100L).map(i =>
      (i, i, "click", i.toDouble))))
    val root = tmpDir("r11-ws14-rr-topic")
    val ckpt = tmpDir("r11-ws14-rr-ckpt")
    val shards = tmpDir("r11-ws14-rr-store") + "/kll_shards"
    TopicStore.publish(spark,
      MessageOps.fromEvents(Tables(spark, d1, "events")), root,
      "events", 4)
    val b1 = StreamKllShardGate.pass(spark, root, ckpt, shards, 50L)
    assert(b1.length == 2,
      s"pass 1: 80 messages under cap 50 = 2 shards, got $b1")
    TopicStore.publish(spark,
      MessageOps.fromEvents(Tables(spark, d2, "events")), root,
      "events", 4)
    val b2 = StreamKllShardGate.pass(spark, root, ckpt, shards, 50L)
    assert(b2.length == 1 && b2.forall(i => !b1.contains(i)),
      s"pass 2 must resume and write ONLY new shard ids: $b1 then $b2")
    val ans = SketchOps.kllQuantilesFromShardedStore(spark, shards,
      Seq(0.5, 0.9)).map(t => (t._2, t._3)).toMap
    // 100 total updates across 3 shards < k=200 -> exact order stats
    assert(ans(0.5) == 50.0 && ans(0.9) == 90.0,
      s"resumed sharded store must cover both publishes: $ans")
  }
}
