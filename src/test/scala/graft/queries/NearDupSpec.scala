package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** Near-duplicate pins: d24's winnowing (pair accounting re-derived by
  * a sequential scan, the w+k-1 guarantee and fingerprint density on
  * planted docs) and d25's capture-recapture estimate over the d02/d03
  * pair sets (catcher counts and the Chapman algebra in BigInt). */
class NearDupSpec extends SparkSpec {

  private val dir = small

  /** Sequential winnowing (k=4, w=5) of one token list: every window
    * of 5 consecutive gram hashes contributes its minimum; docs with
    * fewer grams than w degenerate to one whole-doc window. Returns
    * the distinct fingerprint set. */
  private def winnow(toks: Seq[String]): Set[String] = {
    if (toks.length < 4) return Set.empty
    val hs = toks.sliding(4).map(g => md5hex(g.mkString(" "))).toVector
    val starts = 1 to math.max(1, hs.length - 4)
    starts.map(s0 => hs.slice(s0 - 1, s0 - 1 + 5).min).toSet
  }

  test("d24: a sequential winnowing scan reproduces every pair row " +
    "(fingerprint sets, shared counts, jaccard) on the fixture") {
    val base = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // corpusWithNearDups: every 10th doc re-appears at id+100000 with
    // its first word dropped
    val corpus = base.toSeq ++ base.filter(_._1 % 10 == 0)
      .map { case (id, t) => (id + 100000L, t.split(" ").filter(_.nonEmpty)
        .drop(1).mkString(" ")) }
    val fps = corpus.map { case (id, t) =>
      id -> winnow(t.split(" ").filter(_.nonEmpty).toSeq)
    }.toMap
    val expected = (for {
      (a, fa) <- fps.toSeq; (b, fb) <- fps.toSeq if a < b
      shared = (fa & fb).size if shared >= 2
    } yield (a, b, fa.size.toLong, fb.size.toLong, shared.toLong,
      shared.toDouble / (fa.size + fb.size - shared)))
      .sortBy(t => (t._1, t._2))
    val got = QueryRegistry.byName("d24_winnowing").run(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == expected,
      s"winnowing pair accounting diverged: got ${got.take(3)}... " +
        s"expected ${expected.take(3)}...")
    assert(expected.nonEmpty, "fixture produced no winnowing pairs — " +
      "the planted near-dups should share fingerprints")
  }

  test("d24: the w+k-1 guarantee and density bound on planted docs — " +
    "a 20-token shared run is found, disjoint-gram docs are not") {
    val d = tmpDir("winnow")
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    def uniq(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    // ids chosen non-multiples of 10 so corpusWithNearDups plants no
    // copies that would add pairs beyond the constructed truth
    plant(d, "documents", documents(Seq(
      (1L, s"${uniq("a", 30)} $shared ${uniq("z", 30)}", "en", "s0"),
      (3L, s"${uniq("b", 25)} $shared ${uniq("y", 25)}", "en", "s0"),
      (7L, uniq("c", 120), "en", "s0"))))
    val rows = QueryRegistry.byName("d24_winnowing").run(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    // guarantee: a shared run of >= w+k-1 = 8 tokens shares >= 1
    // fingerprint; 20 shared tokens give 17 shared grams = 13 full
    // windows inside the run, hence >= ceil(13/5) >= 2 — above the
    // query's >=2 noise filter
    assert(rows.map(t => (t._1, t._2)).toSet == Set((1L, 3L)),
      s"expected exactly the planted pair (1,3), got ${rows.toSeq}")
    assert(rows.head._3 >= 2)
    // density: fingerprints per doc ~ 2/(w+1) of windows; doc 7 has
    // 117 grams -> 113 windows; assert the sampled index is well under
    // half the gram index d10 would build
    val toks7 = (1 to 120).map(i => s"c$i")
    val nfp = winnow(toks7).size
    assert(nfp <= 113 / 2, s"winnowing density too high: $nfp of 113")
    assert(nfp >= 113 / 8, s"winnowing density implausibly low: $nfp")
  }

  test("d25: catcher counts equal the audited d02/d03 pair sets, and " +
    "the Chapman algebra matches a BigInt re-derivation") {
    val pa = QueryRegistry.byName("d02_minhash_lsh").run(spark, dir)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pb = QueryRegistry.byName("d03_simhash").run(spark, dir)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (n1, n2, m) = (BigInt(pa.size), BigInt(pb.size),
      BigInt((pa & pb).size))
    val union = BigInt((pa | pb).size)
    val nHat = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    val got = QueryRegistry.byName("d25_capture_recapture")
      .run(spark, dir).collect().head
    assert(got.getLong(0) == n1.toLong && got.getLong(1) == n2.toLong,
      "catcher counts must equal the d02/d03 result sets")
    assert(got.getLong(2) == m.toLong && got.getLong(3) == union.toLong)
    assert(got.getLong(4) == nHat.toLong, "Chapman floor diverged")
    assert(got.getLong(5) == (nHat - union).max(BigInt(0)).toLong)
    assert(got.getLong(6) == e9L(union, nHat))
    // sanity on the fixture: both catchers catch, they overlap, and
    // the estimator is at least the observed union
    assert(n1 > 0 && n2 > 0 && m > 0, s"degenerate fixture: $n1 $n2 $m")
    assert(nHat >= union, "Chapman below the observed union")
  }
}
