package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Guards the two cell-assignment paths (d08 SemDeDup / s04 IVF
  * machinery) against each other and against the large-k regime.
  *
  * SemDeDup's production regime is k ≈ 10⁴–10⁵ cells; the literal path
  * embeds all k centroids in one per-row projection, which breaks
  * (codegen width, driver-literal size) long before that. The join path
  * must (a) agree exactly with the literal path where both run, and
  * (b) actually execute at k = 4096 with total coverage. */
class VectorAssignSpec extends SparkSpec {

  private val dir = small

  private def base = Tables(spark, dir, "embeddings")
    .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))

  test("join path (bands=0) assigns identically to the literal path") {
    import spark.implicits._
    val centroids = VectorOps.kmeansCentroids(base, k = 8, iters = 2, dims = 64)
    val lit8 = VectorOps.assignCells(base, centroids, nprobe = 2)
      .select("vec_id", "pivot_id")
    val joined = VectorOps.assignCellsJoin(
      base, centroids.toDF("pivot_id", "cv"), nprobe = 2, dims = 64)
      .select("vec_id", "pivot_id")
    assert(lit8.exceptAll(joined).isEmpty && joined.exceptAll(lit8).isEmpty,
      "bands=0 join path must reproduce the literal assignment exactly")
  }

  test("assignCellsAuto dispatches to the literal plan at small k") {
    val centroids = VectorOps.kmeansCentroids(base, k = 8, iters = 1, dims = 64)
    val plan = VectorOps.assignCellsAuto(base, centroids, nprobe = 1)
      .queryExecution.executedPlan.toString
    // literal path has no join operator at all
    assert(!plan.contains("Join"), s"expected join-free literal plan:\n$plan")
  }

  test("k=4096 banded assignment runs without codegen failure, total coverage") {
    // deterministic synthetic model at production-ish k — training 4096
    // real cells on a 1k-row fixture is meaningless, the regime under
    // test is expression/broadcast structure, not model quality
    val rnd = new scala.util.Random(42)
    val dims = 64
    val k = 4096
    val centroids = (0 until k).map { pid =>
      (pid.toLong, Seq.fill(dims)(rnd.nextGaussian()))
    }
    val n = base.count()
    val t0 = System.nanoTime()
    val assigned = VectorOps.assignCellsAuto(base, centroids, nprobe = 1)
    val perRow = assigned.groupBy("vec_id").count()
    val rowsAssigned = perRow.count()
    val maxPerRow = perRow.agg(max("count")).head.getLong(0)
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"k=$k assignment over $n rows: $dt%.1f s wall (local[4])")
    assert(rowsAssigned == n, s"coverage: $rowsAssigned of $n rows assigned")
    assert(maxPerRow == 1L, s"nprobe=1 must assign exactly one cell, saw $maxPerRow")
    // and the auto threshold really picked the join path
    val plan = assigned.queryExecution.executedPlan.toString
    assert(plan.contains("Join"), "k=4096 must take the broadcast-join path")
  }

  test("salvage pass covers rows whose bands match no centroid") {
    import spark.implicits._
    // one centroid far from everything: rows' bands will rarely match
    // its band; with a single centroid every non-matching row must be
    // salvaged by the exact pass or coverage breaks
    val vecs = (0 until 50)
      .map(i => (i.toLong, Seq.tabulate(8)(d => if (d == i % 8) 1.0 else 0.1)))
      .toDF("vec_id", "v")
    val cent = Seq((0L, Seq.fill(8)(-1.0))).toDF("pivot_id", "cv")
    val assigned = VectorOps.assignCellsJoin(vecs, cent, nprobe = 1, dims = 8,
      bands = 4, bandBits = 4)
    assert(assigned.count() == 50, "every row must be assigned via salvage")
    assert(assigned.select("pivot_id").distinct().head.getLong(0) == 0L)
  }
}
