package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Bucketing = the co-located-join story at 100 TB: fact tables written
  * bucketed by the join key join WITHOUT a shuffle. This spec proves the
  * engine produces exchange-free plans from bucketed layouts (SURVEY.md
  * §2B joins row; ARCHITECTURE.md shuffle discipline). */
class BucketingSpec extends SparkSpec {

  private val dir = small

  test("join of co-bucketed tables plans without a shuffle exchange") {
    // spark.sql.warehouse.dir is static — managed tables land in the
    // default warehouse; DROP TABLE below removes their files
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    Tables(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")

    // disable auto-broadcast so the join would otherwise need a shuffle
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not introduce exchanges over the scans
      val joinSection = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}
