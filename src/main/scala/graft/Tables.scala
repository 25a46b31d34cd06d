package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * At 100 TB these reads are partitioned parquet scans; all queries in this
  * repo keep filters/projections as Catalyst expressions so pushdown and
  * column pruning reach the scan (verify via .explain: PushedFilters /
  * ReadSchema).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Where table `name` of the fixture directory `dir` lives:
    * `<dir>/<name>.parquet`. The one place that spells the layout. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
      // Spark's reader rejects — read nanos as long, truncate to micros
      // matching DuckDB's ns → µs truncation) and plain TIMESTAMP(MICROS)
      // (arrives as TIMESTAMP_NTZ — cast to session-TZ TIMESTAMP, UTC
      // everywhere in this repo, so downstream typing is identical either
      // way). Dispatch on the landed type, not the fixture generation.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(path(dir, name))
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.LongType
      if (raw.schema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else
        raw.withColumn("ts", col("ts").cast("timestamp"))
    } else {
      spark.read.parquet(path(dir, name))
    }
}
