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
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")
  // The `file:` filesystem (no `.crc` files for the FileSystem API, no
  // chmod/readlink process per file for either API) is not a session
  // conf: src/main/resources/core-site.xml names it for every Hadoop
  // Configuration on the classpath (graft.hadoop.NoChecksumLocalFileSystem).

  /** WARN lines that are benign by design, as (logger, message text):
    * hundreds of them in a test run drown the real warnings.
    *  - Stage.drain unpersists staged localCheckpoint RDDs at the end of
    *    their query — the end of life that the warning warns about.
    *  - Every stateful pass starts on a one-shot checkpoint, so its
    *    state-store providers never find a loaded map (Spark notes this
    *    is normal). The provider's logger name carries its id, so the
    *    text is matched on the package's logger.
    *  - Stateful streaming queries run without AQE by Spark's design.
    *  - A query's job group is cancelled after its jobs are done.
    * The loggers keep their level: only lines with that text are
    * dropped, every other WARN still prints. */
  private val benignWarnings: Seq[(String, String)] = Seq(
    "org.apache.spark.rdd.MapPartitionsRDD" ->
      "cannot be recomputed after unpersisting",
    "org.apache.spark.sql.execution.streaming.state" ->
      "doesn't exist in loadedMaps",
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution" ->
      "Disabling AQE",
    "org.apache.spark.scheduler.DAGScheduler" -> "Failed to cancel job group")

  /** A `local[cores]` session with [[confs]], logging at WARN without
    * the [[benignWarnings]]. */
  def build(cores: Int): SparkSession = {
    val s = confs(cores)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    dropBenignWarnings()
    s
  }

  private def dropBenignWarnings(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.StringMatchFilter
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    // once per JVM: a session built again finds the loggers configured
    benignWarnings.filterNot(w => cfg.getLoggers.containsKey(w._1))
      .foreach { case (logger, text) =>
        // level null: the logger keeps inheriting the root's level
        val lc = new LoggerConfig(logger, null, true)
        lc.addFilter(StringMatchFilter.newBuilder().setMatchString(text)
          .setOnMatch(Filter.Result.DENY)
          .setOnMismatch(Filter.Result.NEUTRAL).build())
        cfg.addLogger(logger, lc)
      }
    ctx.updateLoggers()
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
