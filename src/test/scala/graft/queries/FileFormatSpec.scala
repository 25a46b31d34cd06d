package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** File-format surface (SURVEY.md §2B first row): the engine reads and
  * writes parquet, json, csv, orc, and text through the standard
  * spark.read/write paths — round-trip equality on a real table slice. */
class FileFormatSpec extends SparkSpec {

  private val dir = small

  test("json/csv/orc/parquet round-trip a table slice losslessly") {
    val src = Tables(spark, dir, "nation")
      .orderBy("n_nationkey")
    val rows = src.collect().map(_.toSeq)

    for (fmt <- Seq("json", "csv", "orc", "parquet")) {
      val out = tmpDir(s"fmt-$fmt") + "/data"
      val w = src.write.mode("overwrite")
      (if (fmt == "csv") w.option("header", "true") else w)
        .format(fmt).save(out)
      val r = spark.read
      // json/csv infer column order/types — pin the schema for both
      val back = (if (fmt == "csv")
        r.option("header", "true").schema(src.schema).format(fmt).load(out)
      else if (fmt == "json") r.schema(src.schema).format(fmt).load(out)
      else r.format(fmt).load(out))
        .orderBy("n_nationkey")
      assert(back.collect().map(_.toSeq).toSeq == rows.toSeq,
        s"$fmt round trip diverged")
    }
  }

  test("xml format round-trips a table slice (built-in since Spark 4)") {
    val src = Tables(spark, dir, "nation").orderBy("n_nationkey")
    val out = tmpDir("fmt-xml") + "/data"
    src.write.mode("overwrite").option("rowTag", "nation")
      .format("xml").save(out)
    val back = spark.read.option("rowTag", "nation").schema(src.schema)
      .format("xml").load(out).orderBy("n_nationkey")
    assert(back.collect().map(_.toSeq).toSeq ==
      src.collect().map(_.toSeq).toSeq, "xml round trip diverged")
  }

  test("text format reads raw lines") {
    val out = tmpDir("fmt-text") + "/data"
    Tables(spark, dir, "region").select(col("r_name"))
      .write.mode("overwrite").text(out)
    val back = spark.read.text(out)
    assert(back.count() == 5)
    assert(back.columns.toSeq == Seq("value"))
  }
}
