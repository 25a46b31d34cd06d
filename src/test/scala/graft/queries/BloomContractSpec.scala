package graft.queries

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.Prop.propBoolean

import graft.SparkSpec

/** p11's bloom decontamination contract, property-tested. The bloom's
  * deterministic false positives are PART of the oracle contract (both
  * engines flip identical bits), so the thing to pin is the bloom
  * semantics itself:
  *  (a) ZERO false negatives — an eval gram present in the candidate
  *      stream is always flagged (its slots are occupied by itself);
  *  (b) the false-positive rate stays within the analytic bound
  *      p = (occupied/m)^3 for random corpora (m = 16^4 slots, 3
  *      hashes), with binomial-tail slack.
  * A Spark-vs-model equivalence test pins the pure-Scala model to the
  * exact column expressions p11 uses, so the 100 property cases above
  * genuinely constrain the query. */
class BloomContractSpec extends SparkSpec {

  private val M = 65536 // 16^4 slot space

  /** The model mirror of p11's slot function. */
  private def slots(g: String): Seq[String] =
    (0 until 3).map(j => md5hex(s"$j:$g").substring(0, 4))

  private def check(p: Prop, minSuccessful: Int): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(minSuccessful), p)
    assert(res.passed, res.status.toString)
  }

  test("bloom membership: zero false negatives, FP rate within analytic bound") {
    val corpusGen = for {
      nEval <- Gen.choose(500, 4000)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (nEval, seed)
    check(Prop.forAllNoShrink(corpusGen) { case (nEval, seed) =>
      // seeded deterministic grams: ScalaCheck shrink-free and fast at
      // thousands of grams per case
      val rnd = new scala.util.Random(seed)
      def gram() = Seq.fill(3 + rnd.nextInt(6))(
        "w" + rnd.nextInt(1 << 20)).mkString(" ")
      val eval = Seq.fill(nEval)(gram()).distinct
      val evalSet = eval.toSet
      val fresh = Seq.fill(800)(gram()).filterNot(evalSet)
      val resampled = Seq.fill(200)(eval(rnd.nextInt(eval.size)))

      val occupied = eval.iterator.flatMap(slots).toSet
      def flagged(g: String) = slots(g).forall(occupied)

      // (a) structural: every re-crawled eval gram flags
      val fn = resampled.filterNot(flagged)
      // (b) FP tail: binomial(|fresh|, p) with 5-sigma + absolute slack
      val p = math.pow(occupied.size.toDouble / M, 3)
      val fps = fresh.count(flagged)
      val bound = 800 * p + 5 * math.sqrt(800 * p * (1 - p)) + 3
      (fn.isEmpty :| s"false negatives: $fn") &&
        ((fps <= bound) :| s"FP count $fps above bound $bound (p=$p)")
    }, minSuccessful = 100)
  }

  test("the model mirrors p11's Spark slot expressions exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val eval = Seq.fill(300)(Seq.fill(4)("w" + rnd.nextInt(1000)).mkString(" "))
    // fresh grams + re-crawled eval grams, so both branches (miss and
    // guaranteed-flag) exercise the comparison
    val cand = Seq.fill(400)(Seq.fill(4)("w" + rnd.nextInt(1000)).mkString(" ")) ++
      Seq.fill(50)(eval(rnd.nextInt(eval.size)))

    def slot(j: Int, g: org.apache.spark.sql.Column) =
      substring(md5(concat(lit(s"$j:"), g)), 1, 4)
    val evalPos = eval.toDF("g")
      .select(explode(array((0 until 3).map(j => slot(j, col("g"))): _*)).as("pos"))
      .distinct()
    val sparkFlagged = (0 until 3).foldLeft(cand.distinct.toDF("g")) { (df, j) =>
      df.withColumn("pos", slot(j, col("g")))
        .join(broadcast(evalPos), Seq("pos"), "left_semi")
        .drop("pos")
    }.as[String].collect().toSet

    val occupied = eval.iterator.flatMap(slots).toSet
    val modelFlagged = cand.distinct.filter(g => slots(g).forall(occupied)).toSet
    assert(sparkFlagged == modelFlagged,
      s"spark-only: ${sparkFlagged -- modelFlagged}; model-only: ${modelFlagged -- sparkFlagged}")
    assert(modelFlagged.nonEmpty, "fixture should produce at least one flag")
  }
}
