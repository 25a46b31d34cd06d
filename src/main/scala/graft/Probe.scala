package graft

/** Optimization-round measurement harness (guide §1): per-query plan
  * dumps and isolated timings, run OUTSIDE the official Bench so the
  * committed recording's methodology stays untouched.
  *
  * Modes (first arg):
  *   explain <outDir> <query...>  — write `.explain("formatted")` of each
  *     named query to <outDir>/<query>.txt (the plans/r11 evidence files).
  *   time [--noop] <reps> <query...> — run each query <reps> times and
  *     print every rep + the median. Default timed action is `.count()`
  *     (the Bench methodology); `--noop` times a full-column noop-sink
  *     write instead (guide §1.4) to expose work count() lets the
  *     optimizer prune.
  *
  * Reads SPARK_GRAFT_SF_DIR like Bench and runs in its session
  * ([[GraftSession]]).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build(GraftSession.cores)
    Tables.names.foreach { t =>
      try Tables(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    args.toList match {
      case "explain" :: outDir :: names =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        resolve(names).foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$name.txt"), txt)
          println(s"[probe] wrote $outDir/$name.txt")
          GraftSession.release(spark)
        }
      case "time" :: rest0 =>
        val (noop, rest) =
          if (rest0.headOption.contains("--noop")) (true, rest0.tail)
          else (false, rest0)
        val reps = rest.head.toInt
        resolve(rest.tail).foreach { name =>
          val fn = SparkEntry.queries(name)
          // (rep duration, rep succeeded) — failed reps are excluded
          // from the median so a fast-failing query can't print a
          // misleadingly fast number (ADVICE r11)
          val runs = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            val ok =
              try {
                val df = fn(spark, sfDir)
                if (noop) df.write.format("noop").mode("overwrite").save()
                else df.count()
                true
              } catch {
                case e: Throwable => println(s"[probe] $name ERR $e"); false
              }
            val dt = (System.nanoTime() - t0) / 1e9
            GraftSession.release(spark)
            (dt, ok)
          }
          val med = Bench.median(runs.collect { case (t, true) => t })
          val failed = runs.count(!_._2)
          val failNote = if (failed > 0) s"  FAILED=$failed/$reps" else ""
          println(f"[probe] $name%-32s med=$med%7.3f$failNote  reps=" +
            runs.map { case (t, ok) =>
              f"$t%.3f" + (if (ok) "" else "!")
            }.mkString(","))
        }
      case "jobs" :: names =>
        // one run per query with a job-level breakdown: which Spark jobs
        // (stage submissions) the query triggers and what each costs —
        // guide §7.1's stage view, terminal-friendly
        val lock = new Object
        val rows = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Long, Long, Int, String)]
        val starts = scala.collection.mutable.HashMap
          .empty[Int, (Long, Int, String)]
        val listener =
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
              lock.synchronized {
                val desc = Option(
                  j.properties.getProperty("spark.job.description"))
                  .getOrElse("")
                val nTasks = j.stageInfos.map(_.numTasks).sum
                starts(j.jobId) = (j.time, nTasks, desc)
              }
            override def onJobEnd(
                j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
              lock.synchronized {
                starts.remove(j.jobId).foreach { case (t0, nTasks, desc) =>
                  rows += ((j.jobId, t0, j.time - t0, nTasks, desc))
                }
              }
          }
        spark.sparkContext.addSparkListener(listener)
        resolve(names).foreach { name =>
          // drain the async listener bus BEFORE clearing, so a late
          // JobEnd from the previous query can't be attributed to this
          // one (ADVICE r11)
          org.apache.spark.sql.graft.ColumnBridge
            .drainListenerBus(spark.sparkContext)
          lock.synchronized { rows.clear(); starts.clear() }
          val t0 = System.nanoTime()
          try SparkEntry.queries(name)(spark, sfDir).count()
          catch { case e: Throwable => println(s"[probe] $name ERR $e") }
          val dt = (System.nanoTime() - t0) / 1e9
          org.apache.spark.sql.graft.ColumnBridge
            .drainListenerBus(spark.sparkContext)
          lock.synchronized {
            println(f"[jobs] $name total=$dt%.3f s, ${rows.size} jobs")
            rows.sortBy(_._2).foreach { case (id, _, ms, nTasks, desc) =>
              println(f"[jobs]   job=$id%-4d ${ms / 1000.0}%7.3f s  tasks=$nTasks%-5d $desc")
            }
          }
          GraftSession.release(spark)
        }
        spark.sparkContext.removeSparkListener(listener)
      case other =>
        println(s"usage: explain <outDir> <q...> | time [--noop] <reps> <q...> | jobs <q...>; got $other")
    }
    spark.stop()
  }

  private def resolve(names: Seq[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    names.flatMap { n =>
      if (all.contains(n)) Seq(n) else all.filter(_.startsWith(n))
    }.distinct
  }
}
