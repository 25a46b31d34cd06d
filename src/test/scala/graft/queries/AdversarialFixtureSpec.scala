package graft.queries

import java.sql.Timestamp

import graft.{QueryRegistry, SparkSpec}

/** The shipped queries over inputs the driver fixture never produces:
  * exact timestamp ties at interval boundaries (q48), duplicate
  * (price, size) points and full-column ties (q49), duplicate
  * lineitems of one (order, part) (q45), and degenerate source-size
  * distributions (p24). Each test WRITES a generated parquet fixture
  * and runs the REGISTRY query against it — end-to-end through
  * Tables(), not a reimplementation — comparing to brute force.
  */
class AdversarialFixtureSpec extends SparkSpec {

  test("q48 on boundary-tied events: sweep equals brute force, half-open") {
    import spark.implicits._
    val dir = tmpDir("adv-q48")
    val base = 1700000000000L
    val rnd = new scala.util.Random(11)
    // starts drawn from a coarse grid so many events tie EXACTLY and
    // many intervals end exactly where others start (the 30-min grid:
    // delta collisions at both +1 and −1)
    val rows = (1 to 300).map { i =>
      val tpe = s"t${rnd.nextInt(3)}"
      val t = base + rnd.nextInt(8) * 1800000L  // 30-min grid, 8 slots
      (i.toLong, new Timestamp(t), rnd.nextInt(5).toLong, tpe,
        0.0, "{}")
    }
    plant(dir, "events",
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val out = QueryRegistry.byName("q48_interval_concurrency")
      .run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val brute = rows.groupBy(_._4).map { case (tpe, rs) =>
      val starts = rs.map(_._2.getTime)
      val conc = starts.map(t =>
        t -> starts.count(s => s <= t && t < s + 1800000L).toLong)
      val mx = conc.map(_._2).max
      tpe -> (mx, conc.filter(_._2 == mx).map(_._1).min)
    }
    assert(out == brute, s"sweep=$out\nbrute=$brute")
  }

  test("q49 on tied points: skyline equals the non-dominated set exactly") {
    import spark.implicits._
    val dir = tmpDir("adv-q49")
    val rnd = new scala.util.Random(23)
    // 5×5 value grid with repeats: duplicate (price, size) pairs,
    // same-price different-size, same-size different-price — every tie
    // class the dominance definition has to arbitrate
    val rows = (1 to 120).map { i =>
      (i.toLong, s"p$i", "B", "T", 1 + rnd.nextInt(5),
        1.0 + rnd.nextInt(5).toDouble)
    }
    plant(dir, "part",
      rows.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice"))
    val pts = rows.map(r => (r._1, r._6, r._5.toLong))
    def dominated(x: (Long, Double, Long)) = pts.exists { o =>
      o._2 <= x._2 && o._3 >= x._3 && (o._2 < x._2 || o._3 > x._3)
    }
    val expect = pts.filterNot(dominated).map(_._1).toSet
    val got = QueryRegistry.byName("q49_skyline").run(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
  }

  test("q45 on duplicate lineitems: DISTINCT guard holds, count matches brute") {
    import spark.implicits._
    val dir = tmpDir("adv-q45")
    val rnd = new scala.util.Random(37)
    // small dense graph via baskets; every (order, part) row duplicated
    // 1–3× — a missing DISTINCT in the edge build would inflate counts
    val baskets = (1 to 60).flatMap { ok =>
      val items = rnd.shuffle((1 to 12).toList).take(2 + rnd.nextInt(4))
      items.flatMap(pk =>
        Seq.fill(1 + rnd.nextInt(3))((ok.toLong, pk.toLong)))
    }
    plant(dir, "lineitem", baskets.toDF("l_orderkey", "l_partkey"))
    val edges = baskets.distinct
      .groupBy(_._1).values.toSeq
      .flatMap { is =>
        val ps = is.map(_._2).distinct.sorted
        for { a <- ps; b <- ps if a < b } yield (a, b)
      }.distinct
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val triples = edges.map { case (a, b) =>
      (adj(a) intersect adj(b)).size.toLong }.sum
    val row = QueryRegistry.byName("q45_triangle_count").run(spark, dir).head
    assert(row.getLong(row.fieldIndex("n_edges")) == edges.length.toLong)
    assert(row.getLong(row.fieldIndex("n_triangles")) == triples / 3,
      s"query=${row.getLong(row.fieldIndex("n_triangles"))} " +
        s"brute=${triples / 3}")
  }

  test("t15 on an empty doc: no row, no phantom chars (sequence(1,0) trap)") {
    // Spark's sequence(1, 0) counts DOWN to [1, 0] — without the
    // length guard an empty doc mints two empty-string "chars" and a
    // row DuckDB's naturally-empty range(1, 1) never produces; the
    // driver fixture has no empty docs, so only this test sees it
    import spark.implicits._
    val dir = tmpDir("adv-t15")
    plant(dir, "documents", Seq(
      (1L, "", "en", "s", 0L),
      (2L, "ab", "en", "s", 2L),
      (3L, "aaaa", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val out = QueryRegistry.byName("t15_char_entropy").run(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(!out.contains(1L), s"empty doc minted a row: ${out.get(1L)}")
    assert(out(2L) == ((2L, 2L, math.rint(math.log(2) * 1e6) / 1e6)))
    assert(out(3L) == ((4L, 1L, 0.0)))
  }

  test("p24 waterfill on degenerate source distributions") {
    import spark.implicits._
    def check(label: String, sizes: Seq[Int]): Unit = {
      val dir = tmpDir(s"adv-p24-$label")
      val rows = sizes.zipWithIndex.flatMap { case (nw, si) =>
        // one doc per source holding ALL its words: token count = nw
        Seq((si.toLong, Seq.fill(nw)("w").mkString(" "), "en",
          s"src$si", nw.toLong))
      }
      plant(dir, "documents",
        rows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      val out = QueryRegistry.byName("p24_unimax_mix").run(spark, dir)
        .collect()
      val k = sizes.length.toLong
      val budget = sizes.map(_.toLong).sum / 2
      out.foreach { r =>
        assert(r.getLong(3) <= r.getLong(2),
          s"$label: quota over size in $r") }
      val caps = out.filterNot(_.getBoolean(4)).map(_.getLong(3)).toSet
      assert(caps.size <= 1, s"$label: multiple cap levels $caps")
      val spent = out.map(_.getLong(3)).sum
      assert(spent <= budget && spent > budget - k,
        s"$label: spent $spent outside (${budget - k}, $budget]")
    }
    check("single", Seq(100))
    check("equal", Seq.fill(6)(40))
    check("skewed", Seq(1000, 3, 3, 3, 3, 3))
    check("two", Seq(10, 990))
  }

  test("degenerate documents: CDC/LM/stitch family keeps accounting straight") {
    // empty, whitespace-only, single-word and sub-window docs — below
    // every window/ngram threshold the fixture's 10+-word docs never
    // cross. Each query must complete AND account for them correctly
    // (the d09/t09 short-doc lesson, applied to this session's ops).
    import spark.implicits._
    val dir = tmpDir("adv-degen")
    val doc6 = (1 to 30).map(i => s"w$i").mkString(" ")
    plant(dir, "documents", Seq(
      (1L, "srcA", "en", ""),         // 0 words
      (2L, "srcA", "en", "   "),      // whitespace-only -> 0 words
      (3L, "srcA", "en", "one"),      // 1 word
      (4L, "srcB", "fr", "a b"),      // below the trigram/window floor
      (5L, "srcB", "en", "a b c d"),  // exactly at the boundary window
      (6L, "srcB", "en", doc6)
    ).toDF("doc_id", "source", "lang", "text"))

    // d21: zero-word docs contribute NO chunks; srcA is exactly doc 3
    val d21 = QueryRegistry.byName("d21_cdc_chunks").run(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(d21("srcA") == ((1L, 1L, 3L, 3L)), s"srcA: ${d21("srcA")}")
    val (ct, cs, _, _) = d21("srcB")
    assert(cs <= ct && ct >= 3, s"srcB: ${d21("srcB")}")

    // t21: every doc keeps a row; n_scored = max(0, n-2); NULL score
    // exactly below the trigram floor
    val t21 = QueryRegistry.byName("t21_lm_backoff").run(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.isNullAt(7)))).toMap
    assert(t21.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L), t21.keySet.toString)
    val wantScored = Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      5L -> 2L, 6L -> 28L)
    wantScored.foreach { case (id, ns) =>
      assert(t21(id)._1 == ns, s"doc $id n_scored ${t21(id)._1} want $ns")
      assert(t21(id)._2 == (ns == 0L), s"doc $id null-score ${t21(id)._2}")
    }

    // d22/d23/p31: complete on the degenerate corpus with sane shapes
    val d22 = QueryRegistry.byName("d22_overlap_stitch").run(spark, dir)
      .collect()
    assert(d22.forall(r => r.getLong(2) >= 8), "overlap below gram width")
    val d23 = QueryRegistry.byName("d23_incremental_chunks").run(spark, dir)
      .collect()
    d23.foreach(r => assert(r.getLong(2) <= r.getLong(1),
      s"chunks_new > chunks_in: $r"))
    val p31 = QueryRegistry.byName("p31_dsir_importance").run(spark, dir)
      .collect()
    assert(p31.length <= 50 &&
      p31.forall(r => !r.getDouble(3).isNaN && !r.getDouble(3).isInfinite),
      "p31 weight not finite")
  }
}
