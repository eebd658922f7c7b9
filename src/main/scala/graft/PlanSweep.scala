package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Whole-suite physical-plan audit AND regression gate: flags
  * cartesian/nested-loop joins, counts exchanges + ScalaUDF expressions
  * per query, and FAILS (nonzero status) when any query's final plan exceeds
  * the exchange budget or plans a non-whitelisted nested-loop join — so
  * lineage growth (the round-2 q38 defect: 4,088 Exchange nodes from an
  * uncheckpointed iterative loop) can never silently return. Run after any
  * query change:
  *   sbt -batch "runMain graft.tools.Main plansweep [sfDir]"
  *
  * Known, deliberate exception: q17_embed_topk is the EXACT brute-force ANN
  * baseline — a crossJoin against a broadcast 8-row query side plans as
  * BroadcastNestedLoop by construction (linear in the corpus, the correct
  * shape for an exact-scan baseline; the scale path is q18/q28's LSH).
  */
object PlanSweep extends AdaptiveSparkPlanHelper {

  /** Max Exchange operators allowed in any query's FINAL physical plan.
    * Every current query plans ≤ 8; the iterative clustering queries (q38,
    * q39) end in a localCheckpoint scan, so their final plans are nearly
    * exchange-free — a budget breach means someone re-introduced unbounded
    * lineage or an accidental extra shuffle.
    */
  val ExchangeBudget = 12

  /** Queries whose nested-loop join is deliberate (documented above). */
  val BnljWhitelist: Set[String] = Set("q17_embed_topk")

  /** ScalaUDF nodes in the expression trees of `plan`, its adaptive query
    * stages and its subqueries. A Scala UDF prints under its name or as
    * `UDF(...)`, so the plan string cannot count them.
    */
  def scalaUdfs(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case p =>
      p.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum
    }.sum

  def run(args: Array[String]): Int = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = tools.Main.localSession()
    val bad = Seq("CartesianProduct", "BroadcastNestedLoop")
    var violations = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val executed = fn(spark, sfDir).queryExecution.executedPlan
      val plan = executed.toString
      val hits = bad.filter(plan.contains)
        .filterNot(_ => BnljWhitelist.contains(name))
      val exchanges = "Exchange".r.findAllIn(plan).length
      val udfs = scalaUdfs(executed)
      val overBudget = exchanges > ExchangeBudget
      if (hits.nonEmpty || overBudget) violations += 1
      println(s"$name: exchanges=$exchanges udf=$udfs" +
        (if (overBudget) s"  !!! OVER BUDGET ($ExchangeBudget)" else "") +
        (if (hits.nonEmpty) s"  !!! ${hits.mkString(",")}" else ""))
    }
    spark.stop()
    if (violations > 0) {
      System.err.println(s"[plansweep] FAIL: $violations quer${if (violations == 1) "y" else "ies"} violated the plan budget")
      1
    } else {
      println("[plansweep] PASS: all plans within budget")
      0
    }
  }
}
