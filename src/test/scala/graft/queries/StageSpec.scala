package graft.queries

import graft.{QueryRegistry, SparkSpec}

/** The Stage materialization point must be semantics-free: the same
  * query returns identical results whether the reused intermediate is
  * localCheckpoint'ed (local fast path), reliably checkpointed (the
  * cluster-safe form — survives executor loss because the data is on
  * checkpoint storage, not executor blocks), or recomputed. */
class StageSpec extends SparkSpec {

  private val dir = small

  test("checkpoint modes agree: local == reliable == none (d02)") {
    def run(mode: String): Seq[String] = {
      spark.conf.set("spark.graft.checkpoint", mode)
      try QueryRegistry.byName("d02_minhash_lsh").run(spark, dir)
        .collect().map(_.toString).toSeq
      finally spark.conf.unset("spark.graft.checkpoint")
    }
    val local = run("local")
    assert(local.nonEmpty)
    assert(run("reliable") == local)
    assert(run("none") == local)
  }
}
