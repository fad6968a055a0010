package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.rules.QueryExecutionMetering
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The few Spark-internal read points the benchmark's tracer needs, kept
  * in one place so a Spark upgrade breaks exactly one file. */
object Internals extends AdaptiveSparkPlanHelper {

  /** Block until every listener event posted so far has been delivered,
    * so per-op counters are read after the op's own events. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** (compiles, summed compile ms) recorded by the codegen compiler so
    * far. The histogram keeps every sample until its reservoir (1028)
    * fills; past that the sum is estimated as count × sample mean. */
  def codegenTotals(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val vs = h.getSnapshot.getValues
    val sum = vs.foldLeft(0.0)(_ + _)
    if (vs.length >= n || vs.isEmpty) (n, sum) else (n, sum / vs.length * n)
  }

  /** (rule invocations, effective rule invocations) over all rule
    * executors in this JVM so far. */
  def ruleTotals(): (Long, Long) = {
    val m = QueryExecutionMetering.INSTANCE.getMetrics()
    (m.numRuns, m.numEffectiveRuns)
  }

  /** Every node of a physical plan, looking through adaptive wrappers and
    * query stages and into subqueries. */
  def allNodes(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) {
    case p => p
  }
}
