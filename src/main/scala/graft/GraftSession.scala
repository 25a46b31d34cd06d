package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session every runner and spec uses — Bench, Verify,
  * Probe, Smoke, ScaleSoak and `SparkSpec` — so the verified, tested
  * and benched configuration is the same by construction, and the one
  * per-query cleanup between queries in a shared session. */
object GraftSession {

  /** Local cores: `SPARK_GRAFT_CPUS`, else 4. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** The session confs [[build]] sets, for `cores` local cores. */
  def confs(cores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // backstop for anything Stage.drain can't see (e.g. shuffle
    // files of dead stages): force a periodic driver GC so the
    // ContextCleaner actually runs during a long shared-JVM run
    "spark.cleaner.periodicGC.interval" -> "1min",
    // Spark 4.1's checkpoint file-checksum writes a sibling .checksum
    // file for EVERY offset/commit/state file — doubling the tiny-file
    // count of every micro-batch (8 state partitions x ~3 files x
    // N batches x 2 passes per gate). The stream gates here run on
    // one-shot throwaway checkpoints where corruption detection buys
    // nothing; a deployment with durable checkpoints can re-enable it.
    // Correctness-neutral (pure I/O integrity feature); measured ~5-12%
    // off the stateful streaming gates (OPTIMIZATION_r11.md). Its async
    // upload pool also deadlocks under many concurrent RocksDB snapshot
    // zips (Spark 4.1.2, local fs): every task parks in
    // ChecksumCheckpointFileManager.awaitResult forever.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    // Hadoop's default `file:` filesystem is ChecksumFileSystem: every
    // task output file gets a sibling .crc written on write and
    // VERIFIED on read-back. The stream gates' foreachBatch landings
    // are write-once scratch handoffs on local disk, re-read once in
    // the same process — the checksum layer doubles their tiny-file
    // count and re-hashes every byte both ways (round-12 A/B:
    // ws10 7.3→3.7 s, ws05 3.9→2.5 s, ws04 7.4→5.8 s). Same class as
    // the streaming checkpoint-checksum disable above: local-scratch
    // I/O integrity, not results; HDFS/S3 deployments never use this
    // FS and keep their own integrity layers.
    "spark.hadoop.fs.file.impl" -> "graft.hadoop.NoChecksumLocalFileSystem")

  /** A `local[cores]` session with [[confs]], logging at WARN. */
  def build(cores: Int): SparkSession = {
    val s = confs(cores)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Per-query cleanup after a query's terminal action, outside any
    * timer. Unloads state-store providers: every stream-loop query runs
    * on a one-shot checkpoint, so cached provider maps and their
    * maintenance work are dead weight that taxes every LATER query in a
    * shared session. Then releases the query's staged localCheckpoint
    * blocks: un-drained they accumulate across a whole run — hundreds
    * of dead block sets squeezing the storage pool, the round-6
    * mechanism for a 6× recorded blowup on the heaviest staged queries
    * ([[graft.operators.Stage.drain]] has the end-of-life contract).
    * Last, deletes the query's temp roots ([[TempRoots.release]]): only
    * after the providers are unloaded may their checkpoints go, and
    * nothing of the query may be read after this call. */
  def release(spark: SparkSession): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    graft.operators.Stage.drain(spark)
    TempRoots.release()
  }
}
