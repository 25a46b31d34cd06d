package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** AQE skew-join posture, proven at test scale: q50 salts by hand and
  * the 10× soak probes task-time ratios, but the third leg of the skew
  * story is Spark's own runtime split — AQE detecting an oversized
  * shuffle partition on a sort-merge join and dividing it across
  * reducers. The thresholds are sized for clusters (256 MB), so the
  * spec lowers them to fixture scale, builds a join where one key
  * carries ~90% of the rows, and asserts (a) the executed plan marks
  * the join `skew=true` and (b) the result is identical to the
  * AQE-disabled plan — the runtime rewrite must never change rows. */
class SkewJoinSpec extends SparkSpec {

  test("AQE splits the hot key; results identical to the unsplit plan") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap

    // one hot key (0) carries 90k of 100k fact rows; 40-byte payloads
    // make the hot partition's bytes unmistakable at the lowered
    // threshold
    def fact = spark.range(0, 100000).select(
      when(col("id") < 90000, 0L).otherwise(col("id")).as("k"),
      concat(lit("x" * 32), col("id").cast("string")).as("pay"))
    def dim = spark.range(0, 100000).select(col("id").as("k"),
      (col("id") % 97).as("w"))
    // the payload must be CONSUMED downstream (sum of lengths) or
    // column pruning drops it before the exchange and no partition
    // ever crosses the skew threshold — the first version of this spec
    // failed exactly that way
    def run() = fact.join(dim, "k")
      .groupBy(col("k") % 10)
      .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
        sum(length(col("pay"))).as("sp"))
      .orderBy(col("(k % 10)"))

    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.enabled", "false")
      val baseline = run().collect().toSeq

      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "65536")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      val df = run()
      val rows = df.collect().toSeq
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n$plan")
      assert(rows == baseline, "skew split changed the result")
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }
}
