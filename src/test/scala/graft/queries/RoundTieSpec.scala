package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.functions.{col, count, min, sum, when, lit, isnan}
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.{QueryRegistry, SparkSpec}

/** Distance-to-rounding-tie lint over every gated query (round-9,
  * VERDICT Next #1b): round 8 shipped q71 with a `round(ln-expr, 6)`
  * whose pre-rounded value sat 4e-9 above the .5 boundary at sf0.01 —
  * the driver's oracle environment computed the ln pipeline a few ulps
  * differently, the term flipped 0.000004 → 0.000003, and the hash gate
  * went red while rows and schema stayed green. This lint would have
  * caught it before the driver did, and proves no other query ships on
  * that knife edge.
  *
  * SCOPE (round 10): this lint measures MARGINS for round()-bearing
  * surfaces only — it is deliberately blind to raw un-rounded doubles
  * (round 9's q89 had no Round node at all). COVERAGE is owned by
  * FloatSurfaceSpec, which enumerates every Double/Float column of
  * every gated OUTPUT SCHEMA and requires a classified inventory
  * entry; the "libm" entries there cite THIS spec's in-situ margin
  * measurement as their evidence. The two are complements: schema
  * audit for reach, node tap for depth.
  *
  * Mechanics: for each registry query, walk the ANALYZED plan, find
  * every `Round`/`BRound` whose child is DOUBLE/FLOAT (rounds on
  * DECIMAL are exact decimal arithmetic, identical in both engines, and
  * exempt), and evaluate — at the driver's gate scale factor, over the
  * exact rows the round sees in situ — the distance from each
  * pre-rounded value to its nearest .5 boundary, in boundary units:
  * d = | (|x·10^k| mod 1) − 0.5 |.
  *
  * Threshold: d must exceed max(1e-7, |x·10^k| · 1e-13).
  *  - 1e-7 is the VERDICT's floor: seven orders of magnitude above the
  *    ~1e-16-relative disagreement two libm versions can produce on a
  *    transcendental, yet hit with probability ~2e-7 per uniformly
  *    placed value, so a clean corpus passes.
  *  - the |scaled|·1e-13 term covers magnitude: engine noise is
  *    relative to the VALUE (a few ulps ≈ |x|·1e-15, so ≈ |scaled|·
  *    1e-15 in boundary units after scaling by 10^k); requiring 100×
  *    that keeps the floor meaningful when someone rounds a large
  *    value to many decimals (where a fixed 1e-7 would sit BELOW the
  *    noise it must dominate).
  * Pure-IEEE pipelines (add/mul/div/sqrt with identical operand order
  * in both renderings) are bit-identical cross-engine and need no
  * margin at all — the threshold is calibrated for the worst case, a
  * transcendental-bearing child, without needing to classify.
  *
  * Placement: a round INSIDE an aggregate argument (sum(round(x,6)))
  * is evaluated per input row via Project(margin, node.child); a round
  * AROUND an aggregate (round(sum(x),6)) via Aggregate(grouping,
  * margin, child) so each group's pre-rounded aggregate is checked.
  * Anything the surgery cannot tap (multi-child nodes, unresolvable
  * refs) FAILS the lint rather than silently skipping.
  *
  * Scope: all batch families dynamically; streaming/message queries
  * execute their full gate choreography on construction, so they are
  * linted only when they are known to round doubles (ws11 today) — a
  * source-level tripwire test below forces this include-list to be
  * revisited whenever a round() lands in those two files.
  */
class RoundTieSpec extends SparkSpec {

  test("no gated query rounds a double within noise-distance of a " +
    ".5 boundary at the driver's gate SF") {
    assert(RegistrySweep.streamingIncludes.forall(QueryRegistry.byName.contains),
      "streamingIncludes names an unregistered query")
    val problems = RegistrySweep.atLarge.toSeq
      .filter { case (name, _) => RegistrySweep.tieLinted(name) }
      .flatMap { case (name, f) =>
        f.roundTies.recover { case e =>
          Seq(s"$name: lint machinery failed: ${e.getMessage}")
        }.get
      }
    assert(problems.isEmpty,
      s"${problems.size} round-tie problem(s):\n" +
        problems.mkString("\n"))
  }

  test("tripwire: a new round() in the streaming/message families " +
    "must be added to the lint's include list") {
    // counts include comments and oracle SQL on purpose: ANY new
    // occurrence forces a human decision here
    def occurrences(path: String): Int = {
      val src = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)))
      "round\\(".r.findAllIn(src).size
    }
    val streaming =
      occurrences("src/main/scala/graft/queries/StreamingQueries.scala")
    val message =
      occurrences("src/main/scala/graft/queries/MessageQueries.scala")
    assert(streaming == 3 && message == 0,
      s"round( count changed (StreamingQueries=$streaming expected 3, " +
        s"MessageQueries=$message expected 0): if the new round is in " +
        "a query's Spark rendering, add that query to " +
        "RegistrySweep.streamingIncludes; then update the expected counts")
  }

  test("the lint catches a planted knife-edge and passes a planted " +
    "safe value") {
    import spark.implicits._
    // 2.0000005 scaled by 1e6 sits exactly on a .5 boundary;
    // 0.1234564 lands mid-cell
    val knife = Seq(2.0000005, 0.1234564).toDF("x")
      .select(org.apache.spark.sql.functions.round(col("x"), 6).as("r"))
    val ps = RoundTieLint.lint("planted", knife)
    assert(ps.nonEmpty && ps.head.contains("planted"),
      s"planted knife-edge not flagged: $ps")
    val safe = Seq(0.1234564, 0.9876543).toDF("x")
      .select(org.apache.spark.sql.functions.round(col("x"), 6).as("r"))
    assert(RoundTieLint.lint("safe", safe).isEmpty)
    // a round AROUND an aggregate is tapped per group
    val aggKnife = Seq(("a", 1.00000025), ("a", 1.00000025),
        ("b", 0.1), ("b", 0.2))
      .toDF("k", "x").groupBy(col("k"))
      .agg(org.apache.spark.sql.functions
        .round(sum(col("x")), 6).as("s"))
    val aps = RoundTieLint.lint("agg-planted", aggKnife)
    assert(aps.nonEmpty, "planted aggregate knife-edge not flagged")
    // decimal rounds are exempt (exact arithmetic in both engines)
    val dec = Seq(BigDecimal("2.0000005")).toDF("x")
      .select(org.apache.spark.sql.functions.round(col("x"), 6).as("r"))
    assert(RoundTieLint.lint("decimal", dec).isEmpty,
      "decimal round must be exempt")
  }
}

object RoundTieLint {

  /** Boundary-distance margin of a RoundBase in boundary units, minus
    * its magnitude-aware threshold: negative ⇒ violation. Built as a
    * catalyst expression so it evaluates wherever the round's child
    * resolves. */
  /** NULL-guard every division in a tapped child: in situ the round
    * usually sits under a `when(den > 0, ...)` the tap strips away, and
    * ANSI integral/decimal division by zero throws. A NULL margin on
    * those rows matches the query's own semantics (no gated value is
    * produced there). */
  private def divGuard(e: Expression): Expression = {
    def g(b: BinaryArithmetic): Expression = b.withNewChildren(Seq(
      b.left,
      If(EqualTo(b.right, Literal.default(b.right.dataType)),
        Literal.create(null, b.right.dataType), b.right)))
    e.transformUp {
      case d: Divide => g(d)
      case d: IntegralDivide => g(d)
      case d: Remainder => g(d)
      case d: Pmod => g(d)
    }
  }

  private def marginMinusThreshold(r: RoundBase): Expression = {
    val k = r.right.eval() match {
      case i: Int => i
      case other => sys.error(s"non-literal round scale: $other")
    }
    val guarded = divGuard(r.left)
    val child =
      if (guarded.dataType == DoubleType) guarded
      else Cast(guarded, DoubleType)
    val scaled = Abs(Multiply(child, Literal(math.pow(10.0, k))))
    // |frac − .5| via remainder (no Long-overflow from Floor)
    val dist = Abs(Subtract(Remainder(scaled, Literal(1.0)),
      Literal(0.5)))
    val threshold = Greatest(Seq(Literal(1e-7),
      Multiply(scaled, Literal(1e-13))))
    Subtract(dist, threshold)
  }

  /** Returns one problem string per round site with any in-situ value
    * inside its tie threshold (empty = clean). */
  def lint(name: String, df: DataFrame): Seq[String] = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    val problems = Seq.newBuilder[String]
    val roots: Seq[LogicalPlan] = analyzed +: analyzed.subqueriesAll
    roots.distinct.foreach { root =>
      root.foreach { node =>
        val rounds = node.expressions.flatMap(_.collect {
          case r: RoundBase if r.left.dataType == DoubleType ||
            r.left.dataType == FloatType => r
        }).distinct
        if (rounds.nonEmpty) {
          val (aggRounds, rowRounds) = rounds.partition(_.left.exists {
            case _: AggregateExpression => true
            case _ => false
          })
          def alias(rs: Seq[RoundBase]): Seq[NamedExpression] =
            rs.zipWithIndex.map { case (r, i) =>
              Alias(marginMinusThreshold(r), s"m$i")()
            }
          val jobs = Seq.newBuilder[(LogicalPlan, Seq[RoundBase])]
          if (rowRounds.nonEmpty) node.children match {
            case Seq(child) if rowRounds.forall(
                _.references.subsetOf(child.outputSet)) =>
              jobs += ((Project(alias(rowRounds), child), rowRounds))
            case _ =>
              problems += s"$name: cannot tap per-row round(s) " +
                s"${rowRounds.map(_.sql).mkString("; ")} at node " +
                s"${node.nodeName} — extend the lint"
          }
          if (aggRounds.nonEmpty) node match {
            case a: Aggregate =>
              jobs += ((Aggregate(a.groupingExpressions,
                alias(aggRounds), a.child), aggRounds))
            case _ =>
              problems += s"$name: aggregate-bearing round(s) " +
                s"${aggRounds.map(_.sql).mkString("; ")} outside an " +
                s"Aggregate node (${node.nodeName}) — extend the lint"
          }
          jobs.result().foreach { case (plan, tagged) =>
            try {
              val mdf = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, plan)
              val cols = mdf.columns.toSeq
              val aggs = cols.flatMap(c => Seq(
                sum(when(col(c) < lit(0.0), 1L).otherwise(0L))
                  .as(s"bad_$c"),
                min(when(!isnan(col(c)), col(c))).as(s"min_$c"),
                count(col(c)).as(s"n_$c")))
              val row = mdf.agg(aggs.head, aggs.tail: _*).collect().head
              cols.zip(tagged).foreach { case (c, r) =>
                val bad = Option(row.getAs[java.lang.Long](s"bad_$c"))
                  .map(_.longValue).getOrElse(0L)
                if (bad > 0L) {
                  val m = row.getAs[java.lang.Double](s"min_$c")
                  val n = row.getAs[Long](s"n_$c")
                  problems += (s"$name: ${r.sql} has $bad of $n " +
                    s"value(s) within the tie threshold (worst margin" +
                    s"-minus-threshold $m) — harden this gate like " +
                    "q71 (exact DECIMAL / band)")
                }
              }
            } catch {
              case e: Throwable =>
                problems += s"$name: margin evaluation failed for " +
                  s"${tagged.map(_.sql).mkString("; ")}: ${e.getMessage}"
            }
          }
        }
      }
    }
    problems.result()
  }
}
