package graft.queries

import org.apache.spark.sql.functions._

import graft.{QueryRegistry, SparkSpec, Tables}

/** Semantics pins for ops whose oracle MIRRORS the formula and so
  * cannot catch a wrong-direction bug (a flipped sign in a sampling
  * key or a misdirected graph update reproduces identically in DuckDB
  * and still hash-matches). Each test asserts the BEHAVIOR the
  * operator exists for, on the driver fixture.
  */
class SamplingSemanticsSpec extends SparkSpec {

  private val dir = large

  test("p18: the weighted sample skews toward heavier docs") {
    // A-Res with w = n_tokens must over-represent long docs: the
    // sample's mean token count has to beat the population's. A
    // flipped key (ln(u)·w, or ascending order) inverts this.
    import graft.operators.DedupOps
    val popMean = Tables(spark, dir, "documents")
      .select(size(DedupOps.words(col("text"))).cast("double").as("nt"))
      .agg(avg(col("nt"))).head.getDouble(0)
    val sampleMean = QueryRegistry.byName("p18_weighted_sample")
      .run(spark, dir)
      .agg(avg(col("n_tokens").cast("double"))).head.getDouble(0)
    assert(sampleMean > popMean,
      s"weighted sample mean $sampleMean not above population $popMean")
  }

  test("p19: every source fills min(quota, stratum size)") {
    val strata = Tables(spark, dir, "documents")
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = QueryRegistry.byName("p19_stratified_weighted").run(spark, dir)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == strata.keySet,
      s"sources dropped: ${strata.keySet -- out.keySet}")
    val off = strata.filter { case (s, n) => out(s) != math.min(50L, n) }
    assert(off.isEmpty, s"per-source quotas off: $off -> " +
      s"${off.keys.map(out).mkString(", ")}")
  }

  test("p31: importance weights select target-like (en) documents") {
    // DSIR's whole point: the top-50 by log p_target/p_raw must
    // over-represent the target slice well beyond its population
    // share (~44% en in the fixture). A flipped ratio (or a fold over
    // the wrong distribution) selects AGAINST the target instead —
    // and still hash-matches the mirrored oracle.
    val sel = QueryRegistry.byName("p31_dsir_importance").run(spark, dir)
    val enFrac = sel.agg(
      avg(when(col("lang") === "en", 1.0).otherwise(0.0))).head.getDouble(0)
    assert(enFrac >= 0.6, s"top-50 en fraction $enFrac not target-enriched")
  }

  test("q39: pagerank mass concentrates on high-degree parts") {
    // on an undirected graph PageRank correlates with degree — the
    // top-50 scored parts must have a higher mean co-purchase degree
    // than the graph average. A misdirected update (src/dst swapped
    // asymmetrically or damping misapplied) destroys this.
    val items = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
      .distinct()
    val prs = items.as("a").join(items.as("b"),
        col("a.okey") === col("b.okey") && col("a.pkey") < col("b.pkey"))
      .select(col("a.pkey").as("p1"), col("b.pkey").as("p2"))
      .distinct()
    val deg = prs.select(col("p1").as("p")).unionByName(
        prs.select(col("p2").as("p")))
      .groupBy(col("p")).count()
    val avgDeg = deg.agg(avg(col("count"))).head.getDouble(0)
    val topDeg = QueryRegistry.byName("q39_part_pagerank").run(spark, dir)
      .join(deg, Seq("p"))
      .agg(avg(col("count"))).head.getDouble(0)
    assert(topDeg > avgDeg,
      s"top-50 pagerank mean degree $topDeg not above graph mean $avgDeg")
  }
}
