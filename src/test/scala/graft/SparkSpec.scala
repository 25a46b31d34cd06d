package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session — Spark
  * session startup dominates suite time otherwise), plus the
  * planted-fixture kit ([[Fixtures]]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll with Fixtures {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    TempRoots.session(prefix)  // survives release; deleted at JVM exit
}

object SparkSpec {
  /** The benched session ([[GraftSession.build]]) at 4 cores. */
  lazy val session: SparkSession = GraftSession.build(4)
}
