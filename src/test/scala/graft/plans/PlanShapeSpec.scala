package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}

/** Plan-shape gate: plans every `SparkEntry.queries` entry at sf0.001 on
  * the factory session (the configuration Bench times) and asserts the
  * join shapes that decide how a plan scales. Adaptive plans, query
  * stages and subqueries are all searched. */
class PlanShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Queries that join against a bounded side with no equi-key — global
    * bounds, a query-vector sample, a span or target table — where a
    * broadcast nested-loop join is the intended shape. Any other query
    * growing one is a plan regression. */
  private val bnljAllowed = Set(
    "q14_dead_keys", "q29_knn_cosine", "q67_forecast_series",
    "q69_rrd_retention", "q98_ivfpq_adc", "q107_lang_mix",
    "q109_embed_decon", "q112_dsir_sample")

  private lazy val plans: Seq[(String, SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.executedPlan
    }

  private def having(pf: PartialFunction[SparkPlan, Unit]): Set[String] =
    plans.collect { case (name, p) if collectWithSubqueries(p)(pf).nonEmpty => name }.toSet

  test("no query plans a CartesianProduct") {
    val bad = having { case _: CartesianProductExec => () }
    assert(bad.isEmpty, s"CartesianProduct in: ${bad.toSeq.sorted.mkString(", ")}")
  }

  test("BroadcastNestedLoopJoin appears only in the allow-listed queries") {
    val bnlj = having { case _: BroadcastNestedLoopJoinExec => () }
    val bad = bnlj -- bnljAllowed
    assert(bad.isEmpty,
      s"BroadcastNestedLoopJoin outside the allow-list: ${bad.toSeq.sorted.mkString(", ")}")
  }
}
