package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}
import graft.operators.SketchOps

/** Round-10 additions: the q92 sketch-store round trip (persist
  * per-key theta/KLL/frequencies bytes, answer from the bytes alone)
  * and the q93 VarOpt weighted sample. Each gets the
  * Round9AdditionsSpec treatment — planted-truth fixtures plus
  * independent plain-Scala recounts of every structurally-true claim
  * the gated surfaces ride on. */
class Round10AdditionsSpec extends SparkSpec {

  import org.apache.datasketches.memory.Memory

  private def writeEvents(d: String,
      rows: Seq[(Long, Long, String, Double)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts",
        timestamp_micros(lit(1704067200000000L) + col("event_id")))
      .withColumn("props", lit("""{"k":1}"""))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/events.parquet")
  }

  private def writeDocs(d: String,
      rows: Seq[(Long, String, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "n_chars")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s0"))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$d/documents.parquet")
  }

  // -----------------------------------------------------------------
  // q92 sketch store

  test("q92: stored sketch bytes are read back byte-identical, and " +
    "theta answers from the STORE equal in-session answers") {
    val d = tmpDir("r10-store")
    // two overlapping user sets: A = 0..99, B = 50..149
    writeEvents(d,
      (0L until 100L).map(u => (u, u, "click", 1.0)) ++
        (0L until 100L).map(u => (1000L + u, 50L + u, "view", 2.0)))
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
    writeEvents(d,
      (0L until 60L).map(u => (u, u, "click", 1.0)) ++
        (0L until 60L).map(u => (100L + u, 1000L + u, "view", 1.0)) ++
        (0L until 60L).map(u => (200L + u, u, "purchase", 1.0)))
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

  // -----------------------------------------------------------------
  // q93 VarOpt sample

  test("q93: VarOpt invariants hold and a heavy item is retained " +
    "deterministically, including under an 8-shard merge") {
    val d = tmpDir("r10-q93")
    // 400 light docs (weight 10) + one heavy doc carrying more than
    // the average k-bucket share: w=100000 >> total/k, so it sits in
    // the deterministic H region of every merged sketch
    writeDocs(d,
      (0L until 400L).map(i => (i, s"doc $i", 10L)) :+
        ((400L, "heavy", 100000L)))
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
    writeDocs(d, (0L until 20L).map(i => (i, s"doc $i", 5L + i)))
    val r = QueryRegistry.byName("q93_varopt_sample").run(spark, d)
      .collect()(0)
    assert(r.getLong(0) == 64L && r.getLong(1) == 20L)
    assert(r.getLong(2) == (0L until 20L).map(5L + _).sum)
    assert(r.getLong(3) == 20L, "undersized corpus must sample fully")
    assert(r.getBoolean(4) && r.getBoolean(5) && r.getBoolean(6))
  }
}
