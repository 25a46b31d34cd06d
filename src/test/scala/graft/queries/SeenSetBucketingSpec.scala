package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.DedupOps

/** d07's 100 TB posture (incremental dedup against a huge history): the
  * seen-hash set persisted bucketed-by-hash must anti-join WITHOUT
  * broadcasting the history and WITHOUT shuffling it — only the
  * incoming batch may exchange. Equivalence against the plain
  * anti-join pins correctness of the layout change. */
class SeenSetBucketingSpec extends SparkSpec {

  private val dir = small

  test("bucketed seen-set anti join: no broadcast, no shuffle of the history") {
    spark.sql("DROP TABLE IF EXISTS seen_b")
    val docs = Tables(spark, dir, "documents")
    val seen = docs.filter(col("doc_id") % 5 < 3)
      .select(md5(col("text")).as("text_hash")).distinct()
    DedupOps.writeSeenSetBucketed(seen, "seen_b", buckets = 8)

    val incoming = docs.filter(col("doc_id") % 5 >= 3)
      .select(col("doc_id"), md5(col("text")).as("text_hash"))
      .unionByName(docs.filter(col("doc_id") % 5 < 3 && col("doc_id") % 7 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), md5(col("text")).as("text_hash")))

    // history above the broadcast threshold — the production regime
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fresh = DedupOps.antiJoinSeenBucketed(spark, incoming, "seen_b")
      val plan = fresh.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"history must not broadcast above the size threshold:\n$plan")
      assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"),
        s"expected sort-merge anti join:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"history must be read through its bucket layout:\n$plan")
      // one exchange PER JOIN — the incoming batch aligning to the
      // bucket layout; zero over the bucketed history scan. (Catalyst
      // may push the join below the incoming union, duplicating the
      // join; each copy still gets exactly its incoming-side exchange.)
      val nExchanges = "Exchange hashpartitioning".r.findAllMatchIn(plan).size
      val nJoins = "SortMergeJoin".r.findAllMatchIn(plan).size
      assert(nExchanges == nJoins,
        s"only incoming sides may shuffle: $nExchanges exchanges for $nJoins joins:\n$plan")

      // layout change must not change the answer
      val expected = incoming.join(seen, Seq("text_hash"), "left_anti")
      assert(fresh.exceptAll(expected).isEmpty &&
        expected.exceptAll(fresh).isEmpty)
      assert(fresh.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS seen_b")
    }
  }
}
