package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{F, JsonBuildArray}

/** T2 — defer-expensive-projection: JSON building is not evaluated on
  * every row below the top-k (it is without the rule; see this spec's
  * negative control), plus result invariance. The property is checked on
  * the executed plan, not on the optimized plan's shape: under the
  * session's extensions Spark 4.1 pushes the rule's `Project` back below
  * the limit, and the builder ends up in the top-k's own output list.
  */
class DeferProjectionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def topk: DataFrame = {
    F.registerAll(spark)
    graft.tables.Tables.events(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("defer_ev")
    spark.sql("""SELECT json_build_array(event_type, user_id, props) AS j
      |FROM defer_ev ORDER BY ts DESC LIMIT 10""".stripMargin)
  }

  private def hasBuilder(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.isInstanceOf[JsonBuildArray]))

  /** Runs `df`; returns its rows and whether any operator below the top-k
    * evaluates the JSON builder. */
  private def runTopK(df: DataFrame): (Seq[String], Boolean) = {
    val rows = df.collect().map(_.getString(0)).toSeq
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val tops = plan.collect { case t: TakeOrderedAndProjectExec => t }
    assert(tops.nonEmpty, s"expected a top-k in:\n$plan")
    assert(plan.exists(hasBuilder), s"the builder must still run:\n$plan")
    (rows, tops.exists(_.child.exists(hasBuilder)))
  }

  test("the JSON builder is not evaluated below the top-k") {
    val (_, below) = runTopK(topk)
    assert(!below, "the builder must run on the k kept rows only")
  }

  test("deferral does not change results") {
    val (deferred, _) = runTopK(topk)
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, graft.plans.DeferExpensiveProjection.ruleName)
    try {
      val (baseline, below) = runTopK(topk)
      assert(deferred == baseline)
      // negative control: without the rule the builder runs on every row
      assert(below, "without the rule Catalyst leaves the builder below TopK")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
