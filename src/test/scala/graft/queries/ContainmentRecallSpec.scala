package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** d14's min-shingle blocking is a recall trade: a FULL containment
  * (A ⊆ B) is found with certainty — min(A) is one of A's shingles and
  * every shingle of A is in B — but a partial containment (0.9 ≤ c < 1)
  * is missed when A's minimum shingle happens to fall in the unshared
  * tail. This spec pins both claims against the exhaustive all-pairs
  * truth (affordable at sf0.001; the registry query never enumerates
  * all pairs):
  *  1. every exhaustive pair with containment = 1.0 appears in d14's
  *     output — the certainty claim, which must hold structurally;
  *  2. overall recall against all ≥ 0.9 pairs stays above a floor.
  */
class ContainmentRecallSpec extends SparkSpec {

  private val dir = small

  test("d14: full containments all recovered; overall recall >= 0.9") {
    import graft.operators.DedupOps
    val docs = Tables(spark, dir, "documents")
    // same corpus augmentation as the registry query (duplicated
    // deliberately: the spec must not trust the code under test)
    val corpus = docs.select(col("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat_ws(" ", slice(DedupOps.words(col("text")), lit(1),
            ceil(size(DedupOps.words(col("text"))) / 2.0).cast("int")))
            .as("text")))
    val sh = corpus.withColumn("ws", DedupOps.words(col("text")))
      .select(col("doc_id"),
        array_distinct(transform(DedupOps.shingles(col("ws"), 3),
          x => md5(x))).as("sh"))
      .filter(size(col("sh")) > 0)

    // exhaustive truth: every ordered pair, exact containment
    val truth = sh.as("a").join(sh.as("b"),
        col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(col("a.sh"))).as("cont"))
      .filter(col("cont") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    val found = QueryRegistry.byName("d14_containment").run(spark, dir)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val full = truth.filter(_._3 >= 1.0).map(t => (t._1, t._2))
    assert(full.nonEmpty, "fixture planted no full containments")
    val fullMissed = full.filterNot(found.contains)
    assert(fullMissed.isEmpty,
      s"full containments missed (structurally impossible): " +
        s"${fullMissed.take(5).mkString(", ")}")

    val all = truth.map(t => (t._1, t._2))
    val recall = all.count(found.contains).toDouble / all.length
    assert(recall >= 0.9,
      s"overall containment recall $recall < 0.9 " +
        s"(${all.length} true pairs, ${all.count(found.contains)} found)")
  }
}
