package graft.plans

import graft.SparkSpec

class RangeJoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq((1L, 100L), (2L, 200L), (3L, 150L))
    .toDF("lid", "t")
  private def right = Seq((10L, 95L), (11L, 40L), (12L, 199L),
    (13L, 150L), (14L, 141L), (15L, 139L)).toDF("rid", "rt")

  private val sql =
    "SELECT l.lid, r.rid FROM rj_l l JOIN rj_r r " +
      "ON r.rt BETWEEN l.t - 10 AND l.t"

  // the shared session is built by GraftSession.builder, which injects
  // the rule; the naive plan is the same query with the rule excluded
  private def withoutRule[A](f: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, RangeJoinRewrite.ruleName)
    try f
    finally spark.conf.unset(key)
  }

  test("rewrites the key-less interval join to a bucketed equi-join") {
    left.createOrReplaceTempView("rj_l")
    right.createOrReplaceTempView("rj_r")
    val naivePlan = withoutRule {
      spark.sql(sql).queryExecution.executedPlan.toString
    }
    assert(naivePlan.contains("BroadcastNestedLoopJoin") ||
      naivePlan.contains("CartesianProduct"),
      s"fixture no longer plans as a pairing blow-up:\n$naivePlan")
    val plan = spark.sql(sql).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"rule did not fire:\n$plan")
    assert(plan.contains("__rj_bucket"), "expected the bucket join key")
  }

  test("rewritten join returns exactly the naive join's rows") {
    left.createOrReplaceTempView("rj_l")
    right.createOrReplaceTempView("rj_r")
    val naive = withoutRule {
      spark.sql(sql).as[(Long, Long)].collect().toSet
    }
    val rewritten = spark.sql(sql).as[(Long, Long)].collect().toSet
    assert(rewritten == naive && naive.nonEmpty,
      s"rewrite changed results: $rewritten vs $naive")
    // window semantics spot checks: t=100 pairs rt=95 (in window),
    // never rt=40 (too old); t=150 pairs 141/150 but not 139
    assert(naive.contains((1L, 10L)) && !naive.contains((1L, 11L)))
    assert(naive.contains((3L, 13L)) && naive.contains((3L, 14L)) &&
      !naive.contains((3L, 15L)))
  }

  test("joins the rule doesn't understand are left untouched") {
    left.createOrReplaceTempView("rj_l")
    right.createOrReplaceTempView("rj_r")
    // keyed join with residual range: Spark's hash join handles it
    val keyed = spark.sql(
      "SELECT l.lid FROM rj_l l JOIN rj_r r " +
        "ON l.lid % 3 = r.rid % 3 AND r.rt <= l.t AND r.rt >= l.t - 10")
    assert(!keyed.queryExecution.executedPlan.toString
      .contains("__rj_bucket"))
    // one-sided inequality (unbounded window): untouched
    val unbounded = spark.sql(
      "SELECT l.lid FROM rj_l l JOIN rj_r r ON r.rt <= l.t")
    assert(!unbounded.queryExecution.executedPlan.toString
      .contains("__rj_bucket"))
    assert(unbounded.count() > 0)
  }
}
