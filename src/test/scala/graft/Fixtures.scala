package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The planted-fixture kit of the specs: the driver fixture directories,
  * the one writer of a planted table ([[plant]], at [[Tables.path]]),
  * the events/documents row builders, and the JVM-side twins of the
  * queries' md5 and fixed-scale renderings that independent recounts
  * use. Every [[SparkSpec]] has it; other test code uses the object.
  */
trait Fixtures {

  /** The driver fixture at sf0.001 (TESTDATA.md): the input of the
    * semantic pins and the registry-wide lints. */
  val small = "/root/testdata/sf0.001"

  /** The driver fixture at sf0.01 (10x rows), for scale lints. */
  val large = "/root/testdata/sf0.01"

  /** Writes `df` as table `name` of the fixture directory `dir`: one
    * file at [[Tables.path]], replacing an earlier plant. */
  def plant(dir: String, name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(Tables.path(dir, name))

  /** A documents table from (doc_id, text, lang, source) rows;
    * n_chars is the text length. */
  def documents(rows: Seq[(Long, String, String, String)]): DataFrame = {
    val spark = SparkSpec.session
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** An events table from (event_id, user_id, event_type, value) rows:
    * ts is 2024-01-01T00:00Z plus event_id microseconds, props `{"k":1}`. */
  def events(rows: Seq[(Long, Long, String, Double)]): DataFrame = {
    val spark = SparkSpec.session
    import spark.implicits._
    rows.toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts",
        timestamp_micros(lit(1704067200000000L) + col("event_id")))
      .withColumn("props", lit("""{"k":1}"""))
  }

  /** Lower-case hex MD5 of the UTF-8 bytes: SQL `md5(s)` on the JVM. */
  def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Half-up rounding to 6 decimals, the queries' rendered scale. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Exact floor((num/den)·1e9) as a raw Long: the BIGINT e9 ratio the
    * gated surfaces render, derived in BigInt. */
  def e9L(num: BigInt, den: BigInt): Long =
    (num * BigInt(1000000000) / den).toLong
}

object Fixtures extends Fixtures
