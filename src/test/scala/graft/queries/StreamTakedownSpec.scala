package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** p38 streaming takedown: the properties the ORACLE cannot see.
  * The DuckDB gate proves the landed cascade arithmetic; this spec
  * proves the STREAM side — the late replay (event_id % 3 = 0,
  * published after the sentinel advanced the watermark) is dropped by
  * the window operator row for row, the on-time notices land exactly
  * once, and the landed notice set drives a cascade that matches a
  * plain-Scala recount of the removal set. */
class StreamTakedownSpec extends SparkSpec {

  private val dir = small

  private def noticeAgg(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = df
    .groupBy(window(col("event_time"), "1 day"),
      when(expr("try_cast(element_at(properties, 'k') AS BIGINT)")
          >= 80L,
        expr("try_cast(key AS BIGINT) * 100L + " +
          "try_cast(element_at(properties, 'k') AS BIGINT)"))
        .as("tgt"))
    .agg(count(lit(1)).cast("long").as("n_notices"))
    .select(col("window.start").as("day"), col("tgt"),
      col("n_notices"))

  test("late-replay notices are dropped by the watermark; on-time " +
    "notices land exactly once; the cascade matches a recount") {
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("k"),
        expr("unix_micros(ts)").as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val onTimeNotices = ev.filter(e => e._1 % 3 != 0 && e._3 >= 80L)
    // the drop counter ticks at the STATE operator, which sees the
    // late pass AFTER map-side partial aggregation — so it counts the
    // late subset's distinct (day-window, target) GROUPS, not its raw
    // rows (the single-batch-per-pass contract makes that one exact
    // partial-agg of the whole late subset)
    val lateGroups = ev.filter(_._1 % 3 == 0)
      .map(e => (e._4 / 86400000000L,
        if (e._3 >= 80L) Some(e._2 * 100L + e._3) else None))
      .distinct.length.toLong

    val (landedAll, counters) = StreamingWindowGate.runCounted(
      spark, dir, "graft-wtkd-spec", noticeAgg, Seq("day", "tgt"))
    // the ENTIRE late replay is dropped at the window operator — every
    // late (day, target) group, notices and the null group alike
    assert(counters.lateDropped == lateGroups,
      s"lateDropped ${counters.lateDropped} != late groups $lateGroups")
    // every delivered row was observed (both passes + the sentinel)
    assert(counters.rowsObserved == ev.length + 1L,
      s"observed ${counters.rowsObserved} != ${ev.length} + sentinel")
    val landed = landedAll.filter(col("tgt").isNotNull).collect()
    assert(landed.map(_.getLong(2)).sum == onTimeNotices.length.toLong,
      "on-time notice events did not land exactly once")

    val nDocs = Tables(spark, dir, "documents").count()
    val docIds = Tables(spark, dir, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val removedExp = onTimeNotices
      .map(e => (e._2 * 100L + e._3) % nDocs).toSet
    val landedRemoved = landed
      .map(r => r.getLong(1) % nDocs).toSet
    assert(landedRemoved == removedExp,
      s"landed removal set diverges: ${landedRemoved.size} vs " +
        s"${removedExp.size}")

    val rows = QueryRegistry.byName("p38_stream_takedown")
      .run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toMap
    val d = rows("documents")
    assert(d._1 == nDocs && d._2 == (removedExp & docIds).size.toLong &&
      d._4 == d._1 - d._2, s"documents row $d")
    val n = rows("notices")
    assert(n._1 == onTimeNotices.length.toLong &&
      n._4 == (removedExp & docIds).size.toLong, s"notices row $n")
    val c = rows("chunks")
    assert(c._1 == c._2 + c._4, s"chunks must partition: $c")
    assert(c._3 <= c._4, "re-owned chunks must survive")
    // the audit is non-vacuous on the fixture
    assert(d._2 > 0 && c._2 + c._3 > 0,
      s"fixture removed nothing (docs=$d chunks=$c)")
  }
}
