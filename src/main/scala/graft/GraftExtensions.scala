package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.VectorExpressions._

/** Session extension registering every graft native expression
  * (`VectorExpressions.functions`) as a permanent SQL function — the
  * canonical integration point, so plain SQL sessions (thrift server,
  * `spark.sql(...)`, notebooks) get the functions without calling
  * `VectorExpressions.register` imperatively:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   // or .withExtensions(new GraftExtensions)
  * }}}
  *
  * Demo main: `sbt "runMain graft.ExtensionsDemo"`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    e.injectOptimizerRule(_ => GraftRules.DotSelfToSumSq)
  }
}

/** Optimizer rules shipped with the extension — the `Rule[LogicalPlan]`
  * integration point (SURVEY §7: drop to custom Catalyst only where
  * built-ins can't express the semantics; a rule is how ENGINE
  * knowledge about its own functions reaches plans the USER wrote).
  */
object GraftRules {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.catalyst.rules.Rule

  /** Algebraic rewrite: `graft_dot(x, x)` → `graft_sumsq(x)` — a user
    * computing a norm through the general dot product gets the
    * single-traversal form (and Catalyst can then CSE it with other
    * `graft_sumsq(x)` occurrences, e.g. a hand-written norm column).
    * Guarded on determinism: rewriting a nondeterministic x would
    * collapse two independent evaluations into one.
    */
  object DotSelfToSumSq extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      plan.transformAllExpressions {
        case DotProduct(a, b) if a.deterministic && a.semanticEquals(b) =>
          SumSquares(a)
      }
  }
}

/** Smoke main proving the extension path works in a fresh session. */
object ExtensionsDemo {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val row = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
        "graft_shingles('a b c d') AS sh").head()
    println(s"[ext] graft_dot=${row.getDouble(0)} shingles=${row.getSeq[String](1)}")
    assert(row.getDouble(0) == 11.0)
    // the injected optimizer rule rewrites the self-dot into sumsq
    // (non-constant input — a literal array would constant-fold away
    // before the assertion could see either expression)
    val q = spark.sql("SELECT graft_dot(v, v) AS n FROM " +
      "(SELECT array(cast(id AS double) + 3.0D, 4.0D) AS v FROM range(1))")
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("sumsquares") && !opt.contains("dotproduct"),
      s"DotSelfToSumSq did not fire:\n$opt")
    assert(q.head().getDouble(0) == 25.0)
    println("[ext] DotSelfToSumSq rewrite verified")
    spark.stop()
  }
}
