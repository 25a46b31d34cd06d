package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** d21 (content-defined chunking) and d22 (shard-overlap stitching)
  * against an INDEPENDENT plain-Scala reimplementation of the chunking
  * contract — the assertions here don't share a line of expression code
  * with the operator, so a Spark-side drift (slice off-by-one, window
  * width, boundary predicate) can't cancel out.
  *
  * Doc ids avoid %10==0 / %20==0 except where a test plants splits on
  * purpose, so the queries' own corpus augmentation stays inert.
  */
class CdcStitchSpec extends SparkSpec {

  /** Reference CDC: boundary after word i (4 <= i <= n-1) iff
    * md5(words[i-3..i] joined) starts with '0'; chunks are the word
    * runs between boundaries. Mirrors DedupOps.cdcBoundaries' DOC
    * contract, not its code. */
  private def refChunks(words: Seq[String]): Seq[String] = {
    val n = words.length
    if (n == 0) return Nil
    val bounds = (4 to n - 1).filter { i =>
      md5hex(words.slice(i - 4, i).mkString(" ")).startsWith("0")
    }
    val starts = 1 +: bounds.map(_ + 1)
    val ends = bounds :+ n
    starts.zip(ends).map { case (s, e) => words.slice(s - 1, e).mkString(" ") }
  }

  private def toks(p: String, n: Int): Seq[String] = (1 to n).map(i => s"$p$i")

  test("d21 per-source accounting matches the reference chunker exactly") {
    import spark.implicits._
    val dir = tmpDir("cdc")
    val tail = toks("t", 48)
    // srcA owns the tail (doc 1 < doc 2); srcB's copy is PREFIXED with a
    // different-length head, so fixed-width chunking would misalign —
    // CDC must re-synchronize and dedupe the shared tail chunks.
    val docs = Seq(
      (1L, "srcA", (toks("p", 3) ++ tail).mkString(" ")),
      (2L, "srcB", (toks("q", 7) ++ tail).mkString(" ")),
      (3L, "srcA", toks("u", 2).mkString(" ")),  // below one window: 1 chunk
      (7L, "srcB", toks("v", 30).mkString(" "))
    )
    plant(dir, "documents", docs.toDF("doc_id", "source", "text"))

    // independent expected accounting (first occurrence by (doc_id, idx))
    val rows = docs.flatMap { case (id, src, text) =>
      refChunks(text.split(" ").toSeq).zipWithIndex.map { case (c, i) =>
        (id, src, i + 1, md5hex(c), c.length)
      }
    }
    val owners = rows.groupBy(_._4).map { case (_, g) =>
      g.minBy(r => (r._1, r._3))
    }.toSeq
    def acct(rs: Seq[(Long, String, Int, String, Int)]) =
      rs.groupBy(_._2).map { case (s, g) => s -> ((g.size.toLong, g.map(_._5).sum.toLong)) }
    val tot = acct(rows)
    val sto = acct(owners)
    // the planted pair must actually share chunks, or this test is vacuous
    assert(sto("srcB")._2 < tot("srcB")._2,
      s"no resynchronized shared chunk: ${sto("srcB")} vs ${tot("srcB")}")

    val out = QueryRegistry.byName("d21_cdc_chunks").run(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet == Set("srcA", "srcB"), out.keySet.toString)
    for (s <- Seq("srcA", "srcB")) {
      assert(out(s) == ((tot(s)._1, sto(s)._1, tot(s)._2, sto(s)._2)),
        s"$s: got ${out(s)} want ${(tot(s)._1, sto(s)._1, tot(s)._2, sto(s)._2)}")
    }
  }

  test("d21 chunks reconstruct every document (reference chunker contract)") {
    // spot the reference chunker itself: concatenation is the identity
    for (n <- Seq(1, 3, 4, 5, 16, 47, 80)) {
      val ws = toks(s"w${n}_", n)
      assert(refChunks(ws).mkString(" ") == ws.mkString(" "), s"n=$n")
    }
  }

  test("cdcBoundaries matches the reference on 300 random word soups") {
    // fixed-seed randomized sweep, ONE Spark pass: every doc length
    // 0..120 over a tiny alphabet (forces repeated windows, the case
    // hand-picked fixtures under-sample), expression output must equal
    // the plain-Scala boundary set exactly
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "ab", "ba", "x")
    val docs = (1 to 300).map { i =>
      val n = rnd.nextInt(121)
      (i.toLong, (1 to n).map(_ => vocab(rnd.nextInt(vocab.length))))
    }
    val expected = docs.map { case (id, ws) =>
      val n = ws.length
      id -> (4 to n - 1).filter { j =>
        md5hex(ws.slice(j - 4, j).mkString(" ")).startsWith("0")
      }.toSeq
    }.toMap
    val got = docs.toDF("doc_id", "w")
      .select(col("doc_id"),
        graft.operators.DedupOps.cdcBoundaries(col("w"), size(col("w")))
          .as("b"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).map(_.toInt)).toMap
    docs.foreach { case (id, _) =>
      assert(got(id) == expected(id),
        s"doc $id: got ${got(id)} want ${expected(id)}")
    }
  }

  test("d22 recovers planted splits with overlap exactly q, plus natural overlap") {
    import spark.implicits._
    val dir = tmpDir("stitch")
    val o12 = toks("o", 12)
    plant(dir, "documents", Seq(
      // planted split targets: %20 == 0, n >= 24
      (20L, (toks("a", 30)).mkString(" ")),            // n=30, q=10
      (40L, (toks("b", 47)).mkString(" ")),            // n=47, q=15
      // natural overlap: doc3's 12-word suffix == doc7's 12-word prefix
      (3L, (toks("x", 10) ++ o12).mkString(" ")),      // len 22
      (7L, (o12 ++ toks("y", 10)).mkString(" ")),      // len 22
      (9L, toks("z", 15).mkString(" "))                // innocent bystander
    ).toDF("doc_id", "text"))

    val out = QueryRegistry.byName("d22_overlap_stitch").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // A = w[1..2q] (id+200000), B = w[q+1..n] (id+300000): overlap q
    assert(out((200020L, 300020L)) == ((10L, 2L * 10 + 20 - 10)),
      s"doc20 split: ${out.get((200020L, 300020L))}")
    assert(out((200040L, 300040L)) == ((15L, 2L * 15 + 32 - 15)),
      s"doc40 split: ${out.get((200040L, 300040L))}")
    assert(out((3L, 7L)) == ((12L, 32L)), s"natural: ${out.get((3L, 7L))}")
    // containment is NOT stitching: no pair may claim its whole left doc
    assert(!out.exists { case ((a, _), (ov, _)) =>
      a >= 200000 && a < 300000 && ov >= 20 }, "A-fragment containment leaked")
  }

  test("d22 recovers overlaps past 39 words (strided suffix anchors)") {
    import spark.implicits._
    val dir = tmpDir("stitch100")
    val o100 = toks("o", 100)
    plant(dir, "documents", Seq(
      // natural 100-word overlap: doc3's suffix == doc7's prefix.
      // Round 7's single last-8-gram anchor needed a prefix gram at
      // position ov-7 = 93 > the 32-position cap — undetectable; the
      // 32-stride anchors place one anchor inside b's gram window for
      // any overlap length.
      (3L, (toks("x", 10) ++ o100).mkString(" ")),     // len 110
      (7L, (o100 ++ toks("y", 10)).mkString(" ")),     // len 110
      // planted split with q = 42 > 39: n = 126, A = w[1..84],
      // B = w[43..126], overlap exactly 42
      (20L, toks("a", 126).mkString(" ")),
      (9L, toks("z", 15).mkString(" "))                // innocent bystander
    ).toDF("doc_id", "text"))

    val out = QueryRegistry.byName("d22_overlap_stitch").run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(out((3L, 7L)) == ((100L, 120L)),
      s"100-word natural overlap: ${out.get((3L, 7L))}")
    assert(out((200020L, 300020L)) == ((42L, 126L)),
      s"q=42 planted split: ${out.get((200020L, 300020L))}")
  }

  test("d21 keeps the accounting row of a source that stores nothing") {
    import spark.implicits._
    val dir = tmpDir("cdczero")
    val t = toks("t", 40).mkString(" ")
    // srcB's only doc is an exact copy of srcA's earlier doc: every
    // srcB chunk first occurs under srcA, so srcB stores zero chunks —
    // the report must still carry its row (chunks_stored = 0), not
    // silently drop it (inner-join regression, advisor round 7)
    plant(dir, "documents", Seq((1L, "srcA", t), (2L, "srcB", t))
      .toDF("doc_id", "source", "text"))
    val out = QueryRegistry.byName("d21_cdc_chunks").run(spark, dir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet == Set("srcA", "srcB"), out.keySet.toString)
    val (aTot, aSto, _, _) = out("srcA")
    val (bTot, bSto, _, bChars) = out("srcB")
    assert(aTot == bTot && aSto == aTot, s"srcA owns everything: ${out("srcA")}")
    assert(bSto == 0L && bChars == 0L, s"srcB must store nothing: ${out("srcB")}")
  }
}
