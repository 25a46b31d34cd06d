package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ad-hoc 10× scale soak (not part of the driver contract): the driver
  * ships no sf1 fixture, so derive one from sf0.1 — 10 replicas with
  * shifted ids, per-replica user_id offsets (events) and per-replica
  * token remapping + source suffixes (documents), so join and dup-pair
  * cardinalities scale LINEARLY with the data (identical replicas would
  * scale them quadratically and measure a different workload). Soak
  * input only — oracle queries always run on driver-generated data.
  *
  * Usage: Test/runMain graft.ScaleSoak [genDir [--reps N]
  *   [--keepsrc] [--shift2d] [queryName...]]
  * Runs the given queries (default: the 6 most expensive) at sf0.1 and
  * at the N× derivative (default 10), reports wall times, the N×/1×
  * ratio per query (flat per-row cost ⇒ ratio ≈ N of the data-bound
  * part), and peak driver heap. Runs in the Bench session
  * ([[GraftSession]], `SPARK_GRAFT_CPUS` cores).
  *
  * Replica-count ceilings (round 9, for the 100× runs): queries that
  * PLANT ids (Q.plantedId offsets 100000+) raise on derived doc_ids ≥
  * their offset, so planting queries cap at 19 replicas (19 × 5000 =
  * 95000 < 100000) — run them with `--reps 19`; the embedding rotation
  * repeats after 64 replicas (7i mod 64 cycles), so embedding-pair
  * queries are only linear-faithful to 64× — none of the round-9 100×
  * targets read embeddings.
  */
object ScaleSoak {
  def main(args: Array[String]): Unit = {
    val soakDir = if (args.nonEmpty) args(0) else "/tmp/sf1soak"
    val repsIdx = args.indexOf("--reps")
    val reps = if (repsIdx >= 0) args(repsIdx + 1).toInt else 10
    // --shift2d: replace the embeddings ROTATION derivation with a
    // spatial SHIFT of dims 1–2 only (+3.0·i, far beyond s24's eps =
    // 0.02 neighborhood), for soaking the 2-D grid queries (s24
    // DBSCAN). Rationale: rotation preserves within-replica geometry
    // but lands every replica in the SAME (x, y) plane region, so 2-D
    // eps-neighborhoods gain ~reps× density and pair work grows
    // QUADRATICALLY in reps by construction — a different workload,
    // not a bigger one. The shift keeps each replica an isolated
    // island in the probed plane (within-replica distances unchanged;
    // zero cross-replica neighbors), so neighbor/core/CC work scales
    // LINEARLY — the honest "more corpus, new regions" read of a 2-D
    // density scan. Use a DEDICATED soak dir: the shifted table is
    // only faithful for queries that read dims 1–2 as coordinates
    // (cosine/norm queries must keep the rotation derivation).
    val shift2d = args.contains("--shift2d")
    // --keepsrc: documents replicas KEEP the fixture's source names
    // (default derivation suffixes them per replica). For queries
    // whose work is keyed on the source VOCABULARY (q83's all-pairs
    // source overlap: |sources|²/2 pair spine by problem definition),
    // the honest 100× is "the same 20-source mixture at 100× volume"
    // — suffixed sources would multiply the question itself (2000
    // sources → 10,000× more pairs), measuring a different workload.
    // Use a dedicated soak dir; per-source-cardinality queries (p02's
    // source casts etc.) must keep the default derivation.
    val keepSrc = args.contains("--keepsrc")
    val queryArgs = {
      val a = args.drop(1)
        .filterNot(x => x == "--shift2d" || x == "--keepsrc")
      val r = a.indexOf("--reps")
      (if (r >= 0) a.patch(r, Nil, 2) else a).toSeq
    }
    val base = "/root/testdata/sf0.1"
    val spark = GraftSession.build(GraftSession.cores)

    def replicate(name: String, f: (DataFrame, Int) => DataFrame): Unit = {
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(Tables.path(soakDir, name)))) return
      val src = Tables(spark, base, name)
      val out = (0 until reps).map(i => f(src, i)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(Tables.path(soakDir, name))
    }
    locally {
      // ts as BIGINT nanos: graft.Tables reads the fixture's
      // TIMESTAMP(NANOS) as long and does `ts div 1000` — a plain long
      // column takes the same path
      replicate("events", (df, i) => df.select(
        (col("event_id") + i * 10000000L).as("event_id"),
        (unix_micros(col("ts")) * 1000L).as("ts"),
        (col("user_id") + i * 10000000L).as("user_id"),
        col("event_type"), col("value"), col("props")))
      replicate("documents", (df, i) => {
        val textExpr =
          if (i == 0) col("text")
          else array_join(transform(split(col("text"), " "),
            t => concat(t, lit(s"r$i"))), " ")
        df.select(
          // COMPACT id offsets: Q.plantedId raise_errors when base ids
          // reach the planted offset (100000) — the guard added for
          // exactly this kind of derived fixture. 10 replicas of
          // max-4999 ids stay below 50000; multiples of 10 preserve
          // the doc_id % 10 planting rate per replica.
          (col("doc_id") + i * 5000L).as("doc_id"),
          textExpr.as("text"),
          // distinct per-replica sources that KEEP the fixture's
          // parseable "src<N>" shape (p02 casts the numeric suffix)
          col("lang"),
          (if (keepSrc) col("source")
           else concat(lit("src"),
             (regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
               + i * 100).cast("string"))).as("source"),
          // n_chars of the TRANSFORMED text — the fixture invariant
          // n_chars = length(text) must hold for replicas too, or
          // quality rules reading the stored column measure a corpus
          // no real 10x scale-up could produce
          length(textExpr).as("n_chars"))
      })
      replicate("embeddings", (df, i) => df.select(
        // compact for the same Q.plantedId reason (d05/d08/mm05 plant
        // vec_id + 100000); replica 0 keeps original ids so the
        // fixed query/init ranges (vec_id < 16, 100-320) stay stable
        (col("vec_id") + i * 2000L).as("vec_id"),
        // rotate dimensions by 7*i positions: preserves every
        // within-replica pairwise cosine, Euclidean distance and norm
        // EXACTLY (each replica is the same workload as the original)
        // while decorrelating cross-replica similarity. Rejected
        // alternatives, both measured quadratic at 10×: verbatim
        // copies collide in every bucket family; a constant +c·i
        // shift makes each high-i replica internally near-duplicate
        // (all vectors → the 1-direction as c grows — d05's 43 true
        // pairs exploded to 43.7M).
        {
          if (shift2d)
            // island shift for 2-D grid soaks (see flag comment above)
            transform(col("embedding"), (v, idx) =>
              when(idx < 2, v + lit(3.0f) * i).otherwise(v))
          else {
            val r = (7 * i) % 64
            if (r == 0) col("embedding")
            else concat(slice(col("embedding"), r + 1, 64 - r),
              slice(col("embedding"), 1, r))
          }
        }.as("embedding"),
        col("label")))
      // orders/lineitem (round 8, for q57/q58/q59 and the relational
      // order-stat family): 10× volume over the SAME date range and
      // value distribution — distinct customers per day scale 10×
      // (shifted custkeys), quantile targets keep their distribution.
      // Dates are NOT shifted: a window operator's honest scale-up is
      // more volume per window, not a longer history at equal density.
      replicate("orders", (df, i) => df.select(
        (col("o_orderkey") + i * 1000000L).as("o_orderkey"),
        (col("o_custkey") + i * 100000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")))
      replicate("lineitem", (df, i) => df.select(
        (col("l_orderkey") + i * 1000000L).as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate")))
      println(s"[soak] generated $soakDir")
    }
    // dimension/fact tables that are NOT scaled ride through unchanged
    // (10× facts against same-size dims is the realistic scale-up);
    // added lazily so an existing soak dir gains them on next run
    Tables.names.filterNot(
        Set("events", "documents", "embeddings", "orders", "lineitem"))
      .foreach { t =>
      if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(Tables.path(soakDir, t))))
        Tables(spark, base, t).write.mode("overwrite")
          .parquet(Tables.path(soakDir, t))
    }

    val names =
      if (queryArgs.nonEmpty) queryArgs
      else Seq("t01_langid_ngram", "w04_stream_interval_join",
        "p06_connected_components", "ps01_stream_ingest", "p04_dup_clusters",
        "s03_ann_ml_lsh")
    def run(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      // noop sink, NOT count(): count() lets the optimizer prune every
      // projection column (a pure-projection query would soak only its
      // scan); noop executes the full plan and discards rows
      QueryRegistry.byName(name).run(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      GraftSession.release(spark)
      dt
    }
    import scala.jdk.CollectionConverters._
    def peakHeapMb: Long = java.lang.management.ManagementFactory
      .getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1 << 20)

    println(f"${"query"}%-26s ${"sf0.1_s"}%8s ${reps + "x_s"}%8s ratio  peakHeapMB")
    names.foreach { n =>
      run(n, base) // warm
      val t1 = run(n, base)
      val t10 = run(n, soakDir)
      println(f"$n%-26s $t1%8.2f $t10%8.2f ${t10 / t1}%5.2f  $peakHeapMb%d")
    }
    spark.stop()
  }
}
