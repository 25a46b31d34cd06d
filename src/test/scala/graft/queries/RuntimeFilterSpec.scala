package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** q53's scale claim, proven at test scale: Spark's runtime
  * Bloom-filter injection plants bloom_filter_might_contain on the
  * fact-scan side of a selective dim join once the size thresholds are
  * met (they are threshold-gated precisely so fixture-scale scans
  * don't pay the sketch build — at 100 TB the defaults fire on their
  * own). The spec drops the application-side threshold to 0, forces
  * the shuffle join (a broadcast join needs no pre-shuffle pruning),
  * asserts the filter lands in the optimized plan, and proves the
  * rewrite is result-identical to the default-conf run. */
class RuntimeFilterSpec extends SparkSpec {

  private val dir = small

  test("q53: bloom runtime filter injects above thresholds, results identical") {
    val q = QueryRegistry.byName("q53_runtime_filter_join")
    val baseline = q.run(spark, dir).collect().toSeq

    val conf = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = q.run(spark, dir)
      val opt = df.queryExecution.optimizedPlan.toString.toLowerCase
      assert(opt.contains("might_contain"),
        s"no bloom runtime filter in optimized plan:\n$opt")
      assert(df.collect().toSeq == baseline,
        "runtime-filtered plan changed the result")
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }
}
