package graft

/** The tested session is the benched session: every spec runs under the
  * confs Bench and Verify run under, so a conf-dependent failure (the
  * RocksDB snapshot-upload deadlock under checkpoint file checksums,
  * say) cannot hide behind a test-only configuration. */
class GraftSessionSpec extends SparkSpec {

  test("SparkSpec.session carries every conf GraftSession.build sets") {
    assert(spark.sparkContext.master == "local[4]")
    GraftSession.confs(4).foreach { case (k, v) =>
      assert(spark.conf.getOption(k).contains(v), s"$k")
    }
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      "graft.hadoop.NoChecksumLocalFileSystem")
  }
}
