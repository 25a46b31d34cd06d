package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** mm05's degenerate-band guard is a recall trade (an all-zero band
  * blocks nothing, so a pair whose every EQUAL band is all-zero is
  * missed). This spec pins the trade against the exhaustive truth:
  * an all-pairs hamming scan (fine at sf0.001; the registry query
  * never does this) must agree with the band-blocked result on
  * (1) every planted near-dup pair — their ≥3 equal bands include a
  * non-zero one, so the guard can never drop them — and (2) an
  * overall recall floor.
  */
class MultimodalRecallSpec extends SparkSpec {

  private val dir = small

  test("mm05: planted pairs all recovered; recall vs exhaustive truth >= 0.9") {
    val docs = Tables(spark, dir, "documents")
    // same corpus augmentation as the registry query
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("substr(text, 1, length(text) - 1)").as("text")))
    // same signature arithmetic as the registry query (duplicated here
    // deliberately: the spec must not trust the code under test)
    val sigs = corpus
      .withColumn("es", expr(
        "transform(sequence(0, 63), f -> aggregate(" +
          "transform(filter(split(substr(text, f*4+1, 4), ''), c -> c <> '')," +
          " c -> CAST(ascii(c) * ascii(c) AS BIGINT))," +
          " CAST(0 AS BIGINT), (a, x) -> a + x))"))
      .withColumn("te", expr("aggregate(es, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("ahash", concat_ws("",
        transform(col("es"), e =>
          when(e * 64 > col("te"), lit("1")).otherwise(lit("0")))))
      .select(col("doc_id"),
        conv(substring(col("ahash"), 1, 16), 2, 10).cast("long").as("w0"),
        conv(substring(col("ahash"), 17, 16), 2, 10).cast("long").as("w1"),
        conv(substring(col("ahash"), 33, 16), 2, 10).cast("long").as("w2"),
        conv(substring(col("ahash"), 49, 16), 2, 10).cast("long").as("w3"))
    val ham = (0 until 4).map(b =>
      bit_count(col(s"a.w$b").bitwiseXOR(col(s"b.w$b")))).reduce(_ + _)
    val truth = sigs.as("a")
      .join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        ham.as("h"))
      .filter(col("h") <= 2)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val got = QueryRegistry.byName("mm05_image_neardup").run(spark, dir)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(got.subsetOf(truth),
      s"band blocking invented pairs: ${(got -- truth).take(5)}")
    val planted = truth.filter { case (a, b) => b - a == 100000L }
    assert(planted.nonEmpty, "fixture has no planted pairs")
    assert(planted.subsetOf(got),
      s"planted near-dups missed: ${(planted -- got).take(5)}")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (${got.size}/${truth.size})")
  }

  test("mm06: planted pairs all recovered; recall vs exhaustive truth >= 0.9") {
    val docs = Tables(spark, dir, "documents")
    // same corpus augmentation as the registry query
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(
      docs.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit("x")).as("text")))
    // same delta-fingerprint arithmetic as the registry query
    // (duplicated deliberately: the spec must not trust the code under
    // test)
    val sigs = corpus
      .withColumn("es", expr(
        "transform(sequence(0, 32), f -> aggregate(" +
          "transform(filter(split(substr(text, f*4+1, 4), ''), c -> c <> '')," +
          " c -> CAST(ascii(c) * ascii(c) AS BIGINT))," +
          " CAST(0 AS BIGINT), (a, x) -> a + x))"))
      .withColumn("fp", expr(
        "array_join(transform(sequence(0, 31), f -> " +
          "CASE WHEN element_at(es, f+2) >= element_at(es, f+1) " +
          "THEN '1' ELSE '0' END), '')"))
      .select(col("doc_id"), conv(col("fp"), 2, 10).cast("long").as("w"))
    val truth = sigs.as("a")
      .join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        bit_count(col("a.w").bitwiseXOR(col("b.w"))).as("h"))
      .filter(col("h") <= 2)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val got = QueryRegistry.byName("mm06_audio_neardup").run(spark, dir)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(got.subsetOf(truth),
      s"band blocking invented pairs: ${(got -- truth).take(5)}")
    val planted = truth.filter { case (a, b) => b - a == 100000L }
    assert(planted.nonEmpty, "fixture has no planted pairs")
    assert(planted.subsetOf(got),
      s"planted near-dups missed: ${(planted -- got).take(5)}")
    val recall = got.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall (${got.size}/${truth.size})")
  }

  test("mm13: DCT pHash separates planted dups from the random baseline") {
    // the report's own numbers ARE the contract: planted near-dups
    // (one energy cell perturbed) must sit far below unrelated
    // adjacent-id pairs in hamming distance, or the frequency-domain
    // hash carries no signal and the query is a tautology
    val out = QueryRegistry.byName("mm13_phash_dct").run(spark, dir)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set("dup", "rand"), out.keySet.toString)
    val (nDup, avgDup, maxDup) = out("dup")
    val (nRand, avgRand, _) = out("rand")
    assert(nDup > 0 && nRand > 0, s"degenerate fixture: $out")
    assert(avgDup * 2 < avgRand,
      s"no separation: dup avg $avgDup vs rand avg $avgRand")
    assert(maxDup <= 4, s"a planted dup drifted to hamming $maxDup")
  }

  test("mm14: every detected planted crop matches at offset +2; recall floor holds") {
    // sf0.01: richer peak population than sf0.001 (the vote floor
    // needs >= 4 shared landmark pairs)
    val d01 = large
    val out = QueryRegistry.byName("mm14_audio_fingerprint")
      .run(spark, d01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val planted = out.filter { case (a, b, _, _) => b == a + 100000 }
    // the fingerprint key is time-shift invariant, so a frame-aligned
    // 2-frame crop can ONLY match at anchor delta +2 — any other delta
    // on a planted pair is a correctness bug, not a recall miss
    assert(planted.nonEmpty)
    planted.foreach { case (a, _, d, v) =>
      assert(d == 2L, s"planted pair of $a matched at delta $d")
      assert(v >= 4L)
    }
    val eligible = Tables(spark, d01, "documents")
      .filter(col("doc_id") % 10 === 0 && length(col("text")) >= 96)
      .count()
    val recall = planted.map(_._1).distinct.length.toDouble / eligible
    // a vote-floor detector trades recall for precision; pin the trade
    // (measured 32/49 = 0.65 — short clips lack 4 shared landmarks)
    assert(recall >= 0.6, f"planted-crop recall $recall%.2f < 0.6")
  }
}
