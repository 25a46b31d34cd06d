package graft.operators

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable quantile sketches (Karnin–Lang–Liberty, FOCS 2016) as a
  * typed Aggregator — the UDAF surface (SURVEY §2B), same machinery as
  * q22's WeightedAvg. Why a sketch when q57 already computes EXACT
  * quantiles: EquiDepth's exact form costs one range exchange of the
  * full corpus per question asked; a KLL sketch is a few KB of state
  * that is built ONCE per shard/ingest batch map-side, merged
  * associatively (Spark's partial/final aggregation IS the merge
  * tree), stored beside the shard, and then answers ANY quantile
  * question later without re-reading data — the p35 mergeable-stats
  * story for order statistics. At 100 TB: per-partition sketches are
  * O(k·log n) memory, the merge reduces to the driver-side bytes of
  * ONE sketch, and the rank-error guarantee ε(k) is independent of n.
  *
  * KLL compaction is RANDOMIZED (coin flips choose surviving items),
  * so estimates vary run to run within the guarantee — which is why
  * q72 gates the EXACT quantile values plus a rank-error flag (q59's
  * sketch-gating pattern), never the estimate itself.
  */
object SketchOps {

  /** Aggregation buffer: a KLL sketch behind java-serialization hooks
    * that write the sketch's own compact byte form. The buffer object
    * lives DESERIALIZED inside ObjectHashAggregate between updates;
    * serialization happens only at partial-output/shuffle boundaries,
    * so per-row cost is one sketch update, not a codec round-trip. */
  final class KllBuf(@transient var sk: KllDoublesSketch)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      val b = sk.toByteArray
      out.writeInt(b.length)
      out.write(b)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      sk = KllDoublesSketch.heapify(Memory.wrap(b))
    }
  }

  /** KLL quantile aggregator: update per row map-side, sketch-merge at
    * the partial/final boundary. finish() returns the INCLUSIVE
    * quantile estimates for `qs` (the classic "smallest retained value
    * whose cumulative weight covers rank q"). */
  final class KllQuantiles(k: Int, qs: Seq[Double])
      extends Aggregator[Double, KllBuf, Seq[Double]] {
    override def zero: KllBuf =
      new KllBuf(KllDoublesSketch.newHeapInstance(k))
    override def reduce(b: KllBuf, x: Double): KllBuf = {
      b.sk.update(x); b
    }
    override def merge(a: KllBuf, b: KllBuf): KllBuf = {
      a.sk.merge(b.sk); a
    }
    override def finish(r: KllBuf): Seq[Double] =
      qs.map(q => r.sk.getQuantile(q, QuantileSearchCriteria.INCLUSIVE))
    override def bufferEncoder: Encoder[KllBuf] =
      Encoders.javaSerialization[KllBuf]
    override def outputEncoder: Encoder[Seq[Double]] =
      ExpressionEncoder[Seq[Double]]()
  }

  /** Theta-sketch buffer (Datasketches theta family): a Union acting
    * as an updating sketch, serialized as the compact ordered byte
    * form at shuffle boundaries (same seam as KllBuf). Unlike KLL,
    * a theta sketch's retained set — the k smallest seeded hash
    * values — is ORDER-INDEPENDENT, so the merged sketch (and its
    * compact bytes) is bit-deterministic for a given input set no
    * matter how Spark partitions or interleaves the updates. */
  final class ThetaBuf(
      @transient var u: org.apache.datasketches.theta.Union)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      val b = u.getResult().toByteArray
      out.writeInt(b.length)
      out.write(b)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      u = org.apache.datasketches.theta.SetOperation.builder()
        .buildUnion()
      u.union(org.apache.datasketches.theta.Sketches.wrapSketch(
        Memory.wrap(b)))
    }
  }

  /** Theta distinct-count sketch over 64-bit keys: update per row
    * map-side, sketch-union at the partial/final boundary; finish()
    * returns the compact ordered bytes — the mergeable artifact set
    * algebra (union / intersect / A-not-B) runs on WITHOUT rescanning
    * any source (q83). lgK=12 (4096 nominal entries) is the
    * datasketches default: exact below ~4096 distinct keys, ~1.6%
    * RSE above. */
  final class ThetaDistinct(lgK: Int = 12)
      extends Aggregator[Long, ThetaBuf, Array[Byte]] {
    override def zero: ThetaBuf = new ThetaBuf(
      org.apache.datasketches.theta.SetOperation.builder()
        .setLogNominalEntries(lgK).buildUnion())
    override def reduce(b: ThetaBuf, x: Long): ThetaBuf = {
      b.u.update(x); b
    }
    override def merge(a: ThetaBuf, b: ThetaBuf): ThetaBuf = {
      a.u.union(b.u.getResult()); a
    }
    override def finish(r: ThetaBuf): Array[Byte] =
      r.u.getResult().toByteArray
    override def bufferEncoder: Encoder[ThetaBuf] =
      Encoders.javaSerialization[ThetaBuf]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Frequent-items buffer (Datasketches frequencies family — the
    * Misra–Gries / space-saving lineage): same serialization seam as
    * KllBuf/ThetaBuf — the sketch lives DESERIALIZED between updates,
    * compact bytes only at shuffle boundaries. Unlike theta, which
    * items survive a purge DEPENDS on stream order, so per-item
    * estimates are not deterministic across partitionings — but the
    * two guarantees (the true count lies in [getLowerBound,
    * getUpperBound], an interval never wider than getMaximumError;
    * and every item with true count > maxError is retained) hold for
    * EVERY order, which is what q86 gates (q72's discipline: exact
    * values hashed, sketch enters only through structurally-true
    * flags). */
  final class FreqBuf(
      @transient var sk: org.apache.datasketches.frequencies.LongsSketch)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      val b = sk.toByteArray
      out.writeInt(b.length)
      out.write(b)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      sk = org.apache.datasketches.frequencies.LongsSketch
        .getInstance(Memory.wrap(b))
    }
  }

  /** Frequent-items (heavy-hitter) aggregator over 64-bit keys:
    * update per row map-side, Misra–Gries merge at the partial/final
    * boundary (error bounds ADD under merge, staying ≤ N/maxMapSize
    * overall — the mergeability theorem of Agarwal et al.,
    * "Mergeable Summaries", PODS 2012). maxMapSize bounds memory at
    * O(maxMapSize) per partial regardless of input size; below
    * 0.75·maxMapSize distinct keys the sketch is EXACT (no purges,
    * maxError 0). */
  final class FreqLongs(maxMapSize: Int)
      extends Aggregator[Long, FreqBuf, Array[Byte]] {
    override def zero: FreqBuf = new FreqBuf(
      new org.apache.datasketches.frequencies.LongsSketch(maxMapSize))
    override def reduce(b: FreqBuf, x: Long): FreqBuf = {
      b.sk.update(x); b
    }
    override def merge(a: FreqBuf, b: FreqBuf): FreqBuf = {
      a.sk.merge(b.sk); a
    }
    override def finish(r: FreqBuf): Array[Byte] = r.sk.toByteArray
    override def bufferEncoder: Encoder[FreqBuf] =
      Encoders.javaSerialization[FreqBuf]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** KLL sketch aggregator that finishes to the sketch's compact BYTE
    * form instead of quantile estimates — the persistable artifact for
    * the q92 sketch store (answer quantile questions later from the
    * bytes, never re-reading data). */
  final class KllBytes(k: Int)
      extends Aggregator[Double, KllBuf, Array[Byte]] {
    override def zero: KllBuf =
      new KllBuf(KllDoublesSketch.newHeapInstance(k))
    override def reduce(b: KllBuf, x: Double): KllBuf = {
      b.sk.update(x); b
    }
    override def merge(a: KllBuf, b: KllBuf): KllBuf = {
      a.sk.merge(b.sk); a
    }
    override def finish(r: KllBuf): Array[Byte] = r.sk.toByteArray
    override def bufferEncoder: Encoder[KllBuf] =
      Encoders.javaSerialization[KllBuf]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Persist per-key mergeable-summary artifacts as a parquet STORE at
    * `path`: one row per (key, kind) with kind ∈ {theta, kll, freq,
    * varopt} — the summary table a 100 TB pipeline keeps per ingest
    * batch so any later distinct/quantile/heavy-hitter/audit-sample
    * question is answered from stored bytes without rescanning
    * (Agarwal et al., PODS 2012; Cohen et al., SODA 2009 for the
    * sample leg). All four sketches build in ONE partial/final
    * aggregation pass over the input. */
  def writeSketchStore(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column,
      thetaVal: org.apache.spark.sql.Column,
      kllVal: org.apache.spark.sql.Column,
      freqVal: org.apache.spark.sql.Column,
      varoptItem: org.apache.spark.sql.Column,
      varoptWeight: org.apache.spark.sql.Column, path: String,
      varoptK: Int = 64): Unit = {
    import org.apache.spark.sql.functions.{array, col, explode, lit,
      struct, udaf}
    val theta = udaf(new ThetaDistinct(12), Encoders.scalaLong)
    val kll = udaf(new KllBytes(200), Encoders.scalaDouble)
    val freq = udaf(new FreqLongs(1024), Encoders.scalaLong)
    val vo = udaf(new VarOptLongs(varoptK),
      ExpressionEncoder[(Long, Double)]())
    df.groupBy(key.as("k"))
      .agg(theta(thetaVal).as("t"), kll(kllVal.cast("double")).as("q"),
        freq(freqVal).as("f"),
        vo(varoptItem, varoptWeight.cast("double")).as("v"))
      .select(col("k"), explode(array(
        struct(lit("theta").as("kind"), col("t").as("bytes")),
        struct(lit("kll").as("kind"), col("q").as("bytes")),
        struct(lit("freq").as("kind"), col("f").as("bytes")),
        struct(lit("varopt").as("kind"), col("v").as("bytes")))).as("x"))
      .select(col("k"), col("x.kind").as("kind"),
        col("x.bytes").as("bytes"))
      .write.mode("overwrite").parquet(path)
  }

  /** Theta set algebra from STORE BYTES ALONE: read the kind='theta'
    * rows of a sketch store back, wrap each key's stored bytes, and
    * return — per ordered key pair — the `numStdDev`-sigma lower/upper
    * bounds of |A∩B|, |A∪B|, |A∖B|. Driver-side MODEL-STATE collect
    * (~32 KB per key — the thetaPerKey precedent; the collect lives
    * here, not in queries/, per PlanSpec's lint). Nothing but the
    * store is touched: this is the "never rescan" leg of q92. */
  def thetaOverlapBoundsFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String, numStdDev: Int = 3)
      : Seq[(String, String, Double, Double, Double, Double, Double,
        Double)] = {
    import org.apache.spark.sql.functions.col
    val sks = spark.read.parquet(path)
      .filter(col("kind") === "theta")
      .select(col("k"), col("bytes"))
      .collect()
      .map(r => (r.getString(0),
        org.apache.datasketches.theta.Sketches.wrapSketch(
          Memory.wrap(r.getAs[Array[Byte]](1)))
          : org.apache.datasketches.theta.Sketch))
      .toSeq.sortBy(_._1)
    for {
      ((a, sa), i) <- sks.zipWithIndex
      (b, sb) <- sks.drop(i + 1)
    } yield {
      val in = org.apache.datasketches.theta.SetOperation.builder()
        .buildIntersection()
      in.intersect(sa); in.intersect(sb)
      val is = in.getResult()
      val un = org.apache.datasketches.theta.SetOperation.builder()
        .buildUnion()
      un.union(sa); un.union(sb)
      val us = un.getResult()
      val ab = org.apache.datasketches.theta.SetOperation.builder()
        .buildANotB().aNotB(sa, sb)
      (a, b, is.getLowerBound(numStdDev), is.getUpperBound(numStdDev),
        us.getLowerBound(numStdDev), us.getUpperBound(numStdDev),
        ab.getLowerBound(numStdDev), ab.getUpperBound(numStdDev))
    }
  }

  /** Quantile answers from STORE BYTES ALONE: read the kind='kll'
    * rows of a sketch store back, heapify each key's bytes, and
    * return (key, q, estimate) for every requested quantile —
    * INCLUSIVE search criteria, matching KllQuantiles/q72. Nothing
    * but the store is touched: this is the quantile leg of the
    * "never rescan" contract q92 opened (VERDICT r10 task #5).
    * Driver-side MODEL-STATE collect (~few KB per key — the
    * thetaOverlapBoundsFromStore precedent; the collect lives here,
    * not in queries/, per PlanSpec's lint). */
  def kllQuantilesFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String, qs: Seq[Double]): Seq[(String, Double, Double)] = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(path)
      .filter(col("kind") === "kll")
      .select(col("k"), col("bytes"))
      .collect()
      .flatMap { r =>
        val sk = KllDoublesSketch.heapify(
          Memory.wrap(r.getAs[Array[Byte]](1)))
        qs.map(q => (r.getString(0), q,
          sk.getQuantile(q, QuantileSearchCriteria.INCLUSIVE)))
      }.toSeq.sortBy(t => (t._1, t._2))
  }

  /** Heavy-hitter answers from STORE BYTES ALONE: read the
    * kind='freq' rows back and return, per key, the NO_FALSE_NEGATIVES
    * frequent-item rows (key, item, est, lb, ub) plus each key's
    * maxError — the two structurally-true guarantees (true count ≤ ub;
    * every item with true count > maxError is retained) hold for every
    * purge/merge order, which is what q92c gates (q86's discipline).
    * Same model-state collect seam as kllQuantilesFromStore. */
  def freqEstimatesFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[(String, Long, Long, Long, Long)],
        Seq[(String, Long)]) = {
    import org.apache.spark.sql.functions.col
    val sks = spark.read.parquet(path)
      .filter(col("kind") === "freq")
      .select(col("k"), col("bytes"))
      .collect()
      .map(r => (r.getString(0),
        org.apache.datasketches.frequencies.LongsSketch.getInstance(
          Memory.wrap(r.getAs[Array[Byte]](1)))))
      .toSeq.sortBy(_._1)
    val rows = sks.flatMap { case (k, sk) =>
      sk.getFrequentItems(0L,
          org.apache.datasketches.frequencies.ErrorType
            .NO_FALSE_NEGATIVES)
        .map(e => (k, e.getItem.longValue, e.getEstimate,
          e.getLowerBound, e.getUpperBound)).toSeq
    }
    (rows, sks.map { case (k, sk) => (k, sk.getMaximumError) })
  }

  /** Audit-sample answers from STORE BYTES ALONE: read the
    * kind='varopt' rows back and return, per key, the sampled
    * (item, adjustedWeight) rows plus each key's (sampleSize,
    * adjustedTotal). The sample CONTENTS are randomized (which light
    * items survive the R region), but three surfaces are structural
    * in the weight multiset — sample size is exactly min(k, n), the
    * adjusted-weight total is exactly the total stream weight (the
    * VarOpt invariant, up to float-sum slack), and adjusted weights
    * never fall below true weights — which is what q92d gates (q93's
    * discipline, answered from persisted bytes instead of a live
    * aggregation). Same model-state collect seam as
    * kllQuantilesFromStore (≤ k items per key). */
  def varoptFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String): (Seq[(String, Long, Double)],
        Seq[(String, Long, Double)]) = {
    import org.apache.spark.sql.functions.col
    val serde = new org.apache.datasketches.common.ArrayOfLongsSerDe()
    val sks = spark.read.parquet(path)
      .filter(col("kind") === "varopt")
      .select(col("k"), col("bytes"))
      .collect()
      .map(r => (r.getString(0),
        org.apache.datasketches.sampling.VarOptItemsSketch
          .heapify(Memory.wrap(r.getAs[Array[Byte]](1)), serde)))
      .toSeq.sortBy(_._1)
    val rows = Seq.newBuilder[(String, Long, Double)]
    val totals = sks.map { case (k, sk) =>
      val it = sk.getSketchSamples.iterator()
      var total = 0.0
      var n = 0L
      while (it.hasNext) {
        val ws = it.next()
        rows += ((k, ws.getItem.longValue, ws.getWeight))
        total += ws.getWeight
        n += 1L
      }
      (k, n, total)
    }
    (rows.result().sortBy(t => (t._1, t._2)), totals)
  }

  /** Per-micro-batch STREAMING maintenance of the theta leg of the
    * sketch store (ws13; VERDICT r10 task #6): aggregate ONE batch's
    * rows into per-key theta sketches (distributed partial/final
    * agg — only the ~32 KB-per-key bytes reach the driver), union
    * them with the bytes already in the store, and atomically replace
    * the store (write to a `.tmp` sibling, then swap — a crash
    * mid-write leaves the previous store intact). Correctness under
    * at-least-once replay is STRUCTURAL: theta union is a set union
    * of retained hash values, so re-merging a replayed batch is a
    * no-op — the final store equals the sketch of the delivered
    * message SET no matter how foreachBatch retries interleave, which
    * is exactly why a distinct-count summary is the right first
    * continuously-maintained store leg. At 100 TB: per-batch work is
    * one bounded-key aggregation; store I/O is model-state-sized and
    * independent of corpus size. */
  def mergeThetaIntoStore(batch: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, path: String): Unit = {
    import org.apache.spark.sql.functions.{col, udaf}
    val theta = udaf(new ThetaDistinct(12), Encoders.scalaLong)
    val fresh = batch.groupBy(key.as("k"))
      .agg(theta(value).as("bytes"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    if (fresh.isEmpty) return
    val spark = batch.sparkSession
    val fs = new java.io.File(path)
    val existing: Map[String, Array[Byte]] =
      if (fs.exists())
        spark.read.parquet(path)
          .filter(col("kind") === "theta")
          .collect()
          .map(r => (r.getString(0), r.getAs[Array[Byte]](2)))
          .toMap
      else Map.empty
    val merged = (existing.keySet ++ fresh.map(_._1)).toSeq.sorted
      .map { k =>
        val u = org.apache.datasketches.theta.SetOperation.builder()
          .buildUnion()
        existing.get(k).foreach(b => u.union(
          org.apache.datasketches.theta.Sketches.wrapSketch(
            Memory.wrap(b))))
        fresh.toMap.get(k).foreach(b => u.union(
          org.apache.datasketches.theta.Sketches.wrapSketch(
            Memory.wrap(b))))
        (k, "theta", u.getResult().toByteArray)
      }
    val tmp = path + ".tmp"
    spark.createDataFrame(merged).toDF("k", "kind", "bytes")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    // swap: drop the old store, move the fresh one into place (local
    // FS rename; object stores would version by batch id instead)
    graft.TempRoots.delete(fs.toPath)
    require(new java.io.File(tmp).renameTo(fs),
      s"sketch-store swap failed: $tmp -> $path")
  }

  /** Exactly-once STREAMING maintenance for the NON-idempotent sketch
    * legs (ws14). Theta union is a set union, so ws13's merge-in-place
    * is replay-safe by algebra; KLL (and freq/VarOpt) MERGES
    * DOUBLE-COUNT a replayed batch. The classical fix is the
    * idempotent-overwrite pattern: foreachBatch's batchId is
    * deterministic under retry (Structured Streaming replays the SAME
    * batch id from the checkpointed offset log), so each batch writes
    * its per-key sketch shard to `shardRoot/batch=<batchId>` with
    * overwrite — a crash-and-replay REPLACES the shard instead of
    * re-merging it, and the store's answer is a pure function of the
    * committed offset ranges. The shard build is one distributed
    * partial/final aggregation; nothing reaches the driver on the
    * write path. Readers merge shards at read time (KLL merge is
    * associative and order-free). At 100 TB the shard count grows
    * with batches, not data — [[compactKllShards]] folds shards older
    * than the newest N into a checkpoint shard, bounding the store at
    * N+1 shards forever. */
  def writeKllShard(batch: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, shardRoot: String,
      batchId: Long): Unit = {
    import org.apache.spark.sql.functions.udaf
    val kll = udaf(new KllBytes(200), Encoders.scalaDouble)
    batch.groupBy(key.as("k"))
      .agg(kll(value.cast("double")).as("bytes"))
      .write.mode("overwrite")
      .parquet(s"$shardRoot/batch=$batchId")
  }

  /** Shard COMPACTION for the batch-id-sharded store: fold every shard
    * except the newest `keepLast` into one checkpoint shard keyed by
    * the largest folded batch id (KLL merge is associative, so the
    * checkpoint answers exactly like the shards it replaces), bounding
    * store size by keepLast+1 regardless of how many batches have ever
    * run — the piece that keeps ws14's store model-state-sized at
    * 100 TB ingest volumes. Crash-safe by the same tmp+swap discipline
    * as mergeThetaIntoStore: the ENTIRE new store (checkpoint + kept
    * shards) is built at a `.tmp` sibling and renamed into place in
    * one move, so a crash at any point leaves either the old store or
    * the new one — never a double-counting mix. (The store is
    * model-state-sized — KBs per shard — so the whole-store rewrite is
    * cheap.) Runs between stream passes: the overwrite-by-batch-id
    * write path stays untouched, and a replayed batch id older than
    * the checkpoint cannot occur because compaction only folds
    * batches already committed to the offset log. Idempotent:
    * re-compacting folds the previous checkpoint into the next. */
  def compactKllShards(spark: org.apache.spark.sql.SparkSession,
      shardRoot: String, keepLast: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val rootDir = new java.io.File(shardRoot)
    if (!rootDir.exists()) return
    val ids = rootDir.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName.stripPrefix("batch=").toLong)
      .sorted.toSeq
    if (ids.length <= keepLast + 1) return
    val fold = ids.dropRight(keepLast)
    val keep = ids.takeRight(keepLast)
    // fold: per-key merged bytes across the folded shards (model
    // state: |fold|·|keys| rows of ~KB sketches)
    val merged = fold
      .map(id => spark.read.parquet(s"$shardRoot/batch=$id"))
      .reduce(_ unionByName _)
      .select(col("k"), col("bytes"))
      .collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .map { case (k, rows) =>
        val m = KllDoublesSketch.newHeapInstance(200)
        rows.foreach(r => m.merge(KllDoublesSketch.heapify(
          Memory.wrap(r.getAs[Array[Byte]](1)))))
        (k, m.toByteArray)
      }
    val tmp = shardRoot + ".tmp"
    val tmpDir = new java.io.File(tmp)
    graft.TempRoots.delete(tmpDir.toPath)
    spark.createDataFrame(merged).toDF("k", "bytes")
      .coalesce(1).write.parquet(s"$tmp/batch=${fold.max}")
    // kept shards move byte-identically into the new store
    keep.foreach(id =>
      graft.TempRoots.copy(s"$shardRoot/batch=$id", s"$tmp/batch=$id"))
    graft.TempRoots.delete(rootDir.toPath)
    require(tmpDir.renameTo(rootDir),
      s"kll-shard compaction swap failed: $tmp -> $shardRoot")
  }

  /** Quantile answers from the batch-id-SHARDED store alone: read
    * every `batch=*` shard under `shardRoot`, merge each key's KLL
    * sketches (associative, order-free — the mergeability that makes
    * per-batch shards a valid decomposition of the corpus sketch),
    * and return (key, q, estimate) per requested quantile. Driver-side
    * MODEL-STATE collect: |batches|·|keys| rows of ~KB sketch bytes
    * (the kllQuantilesFromStore seam, one extra bounded dimension). */
  def kllQuantilesFromShardedStore(
      spark: org.apache.spark.sql.SparkSession, shardRoot: String,
      qs: Seq[Double]): Seq[(String, Double, Double)] = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(shardRoot)
      .select(col("k"), col("bytes"))
      .collect()
      .groupBy(_.getString(0)).toSeq.sortBy(_._1)
      .flatMap { case (k, rows) =>
        val m = KllDoublesSketch.newHeapInstance(200)
        rows.foreach(r => m.merge(KllDoublesSketch.heapify(
          Memory.wrap(r.getAs[Array[Byte]](1)))))
        qs.map(q => (k, q,
          m.getQuantile(q, QuantileSearchCriteria.INCLUSIVE)))
      }.sortBy(t => (t._1, t._2))
  }

  /** Distinct-count answers from STORE BYTES ALONE: per stored key the
    * theta estimate with `numStdDev`-sigma bounds — the question ws13
    * gates after its streaming merges land. Same model-state collect
    * seam as thetaOverlapBoundsFromStore. */
  def thetaEstimatesFromStore(spark: org.apache.spark.sql.SparkSession,
      path: String, numStdDev: Int = 3)
      : Seq[(String, Double, Double, Double)] = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(path)
      .filter(col("kind") === "theta")
      .select(col("k"), col("bytes"))
      .collect()
      .map { r =>
        val sk = org.apache.datasketches.theta.Sketches.wrapSketch(
          Memory.wrap(r.getAs[Array[Byte]](1)))
        (r.getString(0), sk.getEstimate,
          sk.getLowerBound(numStdDev), sk.getUpperBound(numStdDev))
      }.toSeq.sortBy(_._1)
  }

  /** VarOpt weighted-sampling buffer (Cohen et al., "Stream sampling
    * for variance-optimal estimation of subset sums", SODA 2009 — the
    * Datasketches sampling family): same serialization seam as the
    * other buffers. VarOpt's RANDOM part is which LIGHT items survive
    * the R region; the threshold τ and the heavy set H = {w > τ} are
    * deterministic functions of the weight multiset, and the sum of
    * adjusted weights is always EXACTLY the total stream weight — the
    * structurally-true surfaces q93 gates. */
  final class VarOptBuf(
      @transient var sk: org.apache.datasketches.sampling
        .VarOptItemsSketch[java.lang.Long])
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      val b = sk.toByteArray(
        new org.apache.datasketches.common.ArrayOfLongsSerDe())
      out.writeInt(b.length)
      out.write(b)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      val b = new Array[Byte](in.readInt())
      in.readFully(b)
      sk = org.apache.datasketches.sampling.VarOptItemsSketch
        .heapify(Memory.wrap(b),
          new org.apache.datasketches.common.ArrayOfLongsSerDe())
    }
  }

  /** VarOpt(k) weighted-sampling aggregator over (item, weight) rows:
    * update per row map-side, VarOptItemsUnion merge at the partial/
    * final boundary (mergeability per the Datasketches union; variance
    * optimality is preserved under merge). finish() returns the
    * sketch's compact bytes — the persistable audit-subset artifact. */
  final class VarOptLongs(k: Int)
      extends Aggregator[(Long, Double), VarOptBuf, Array[Byte]] {
    private def serde =
      new org.apache.datasketches.common.ArrayOfLongsSerDe()
    override def zero: VarOptBuf = new VarOptBuf(
      org.apache.datasketches.sampling.VarOptItemsSketch
        .newInstance[java.lang.Long](k))
    override def reduce(b: VarOptBuf, x: (Long, Double)): VarOptBuf = {
      b.sk.update(java.lang.Long.valueOf(x._1), x._2); b
    }
    override def merge(a: VarOptBuf, b: VarOptBuf): VarOptBuf = {
      val u = org.apache.datasketches.sampling.VarOptItemsUnion
        .newInstance[java.lang.Long](k)
      u.update(a.sk); u.update(b.sk)
      a.sk = u.getResult; a
    }
    override def finish(r: VarOptBuf): Array[Byte] =
      r.sk.toByteArray(serde)
    override def bufferEncoder: Encoder[VarOptBuf] =
      Encoders.javaSerialization[VarOptBuf]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Corpus-wide VarOpt(k) sample, collected as driver-side MODEL
    * STATE (k items + adjusted weights — the freqSketch precedent; the
    * collect lives here per PlanSpec's driver-materialization lint).
    * Returns (item, adjustedWeight) pairs. */
  def varoptSample(df: org.apache.spark.sql.DataFrame,
      item: org.apache.spark.sql.Column,
      weight: org.apache.spark.sql.Column, k: Int)
      : Seq[(Long, Double)] = {
    import org.apache.spark.sql.functions.udaf
    val vo = udaf(new VarOptLongs(k),
      ExpressionEncoder[(Long, Double)]())
    val bytes = df.agg(vo(item, weight).as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    val sk = org.apache.datasketches.sampling.VarOptItemsSketch
      .heapify(Memory.wrap(bytes),
        new org.apache.datasketches.common.ArrayOfLongsSerDe())
    val it = sk.getSketchSamples.iterator()
    val out = Seq.newBuilder[(Long, Double)]
    while (it.hasNext) {
      val ws = it.next()
      out += ((ws.getItem.longValue, ws.getWeight))
    }
    out.result()
  }

  /** Corpus-wide frequent-items sketch, collected as driver-side MODEL
    * STATE (a single ≤maxMapSize-entry summary — the k-means/PQ
    * precedent; the collect lives here, not in queries/, per
    * PlanSpec's driver-materialization lint). */
  def freqSketch(df: org.apache.spark.sql.DataFrame,
      value: org.apache.spark.sql.Column, maxMapSize: Int = 1024)
      : org.apache.datasketches.frequencies.LongsSketch = {
    import org.apache.spark.sql.functions.udaf
    val freq = udaf(new FreqLongs(maxMapSize), Encoders.scalaLong)
    val bytes = df.agg(freq(value).as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    org.apache.datasketches.frequencies.LongsSketch
      .getInstance(Memory.wrap(bytes))
  }

  /** Per-key theta sketches, collected as driver-side MODEL STATE (the
    * VectorOps k-means/PQ precedent, and the reason this collect lives
    * here and not in a query body — PlanSpec's driver-materialization
    * lint bans collects in queries/): one ~lgK-bounded sketch per key
    * regardless of corpus size, sorted by key for deterministic
    * iteration. */
  def thetaPerKey(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column,
      value: org.apache.spark.sql.Column, lgK: Int = 12)
      : Seq[(String, Long, org.apache.datasketches.theta.Sketch)] = {
    import org.apache.spark.sql.functions.{count, lit, udaf}
    val theta = udaf(new ThetaDistinct(lgK), Encoders.scalaLong)
    // the exact per-key row count rides the SAME partial aggregation
    // (one shuffle for sketch + count instead of two)
    df.groupBy(key.as("k"))
      .agg(count(lit(1)).cast("long").as("n"), theta(value).as("sk"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        org.apache.datasketches.theta.Sketches.wrapSketch(
          Memory.wrap(r.getAs[Array[Byte]](2)))
          : org.apache.datasketches.theta.Sketch))
      .toSeq.sortBy(_._1)
  }
}
