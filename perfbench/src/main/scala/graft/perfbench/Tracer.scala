package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Running per-layer counters, fed by Spark's own listeners and read by the
  * harness around each call it makes into the engine.
  *
  * Listener events arrive asynchronously, so [[snapshot]] first drains
  * the listener bus; the delta of two snapshots is what the engine did in
  * between. Counter names are the per-layer metric names of
  * BENCHMARK.json.
  */
final class Tracer(spark: SparkSession) {
  private val sums = new ConcurrentHashMap[String, java.lang.Double]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  private def add(k: String, v: Double): Unit =
    if (v != 0) sums.merge(k, v, (a, b) => a + b)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      add("exec.jobs", 1)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmitted.put(e.stageInfo.stageId,
        Long.box(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      val sub = stageSubmitted.get(e.stageId)
      if (sub != null) add("exec.task_wait_ms", e.taskInfo.launchTime - sub)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.executor_cpu_ms", m.executorCpuTime / 1e6)
        add("exec.executor_run_ms", m.executorRunTime.toDouble)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
        add("scan.rows_read", m.inputMetrics.recordsRead.toDouble)
        add("sources.bytes_written", m.outputMetrics.bytesWritten.toDouble)
        add("sources.rows_written", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  /** SQL metric name → per-layer counter, by physical operator class. */
  private val opMetrics: Seq[(String, String, String, Double)] = Seq(
    ("FileSourceScanExec", "scanTime", "exec.op.scan_ms", 1.0),
    ("BatchScanExec", "scanTime", "exec.op.scan_ms", 1.0),
    ("WholeStageCodegenExec", "pipelineTime", "exec.op.wholestage_ms", 1.0),
    ("HashAggregateExec", "aggTime", "exec.op.agg_ms", 1.0),
    ("ObjectHashAggregateExec", "aggTime", "exec.op.agg_ms", 1.0),
    ("SortAggregateExec", "aggTime", "exec.op.agg_ms", 1.0),
    ("SortExec", "sortTime", "exec.op.sort_ms", 1.0),
    ("BroadcastExchangeExec", "buildTime", "exec.op.join_build_ms", 1.0),
    ("ShuffledHashJoinExec", "buildTime", "exec.op.join_build_ms", 1.0),
    ("ShuffleExchangeExec", "shuffleWriteTime", "exec.op.shuffle_write_ms", 1e-6))

  private val indexDirs = Seq("/phash_fp/", "/ann_index/")

  private def onQuery(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (phase, s) =>
      add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
    }
    for (node <- Internals.allNodes(qe.executedPlan)) {
      val cls = node.getClass.getSimpleName
      for ((c, metric, key, scale) <- opMetrics if c == cls;
           m <- node.metrics.get(metric))
        add(key, m.value * scale)
      node match {
        case w: DataWritingCommandExec =>
          w.metrics.get("numFiles").foreach(m => add("sources.files_written", m.value.toDouble))
        case _ =>
      }
      node match {
        case f: FileSourceScanExec if f.relation.location.rootPaths.exists(
            p => indexDirs.exists(p.toString.contains)) =>
          add("index.reads", 1)
        case _ =>
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = onQuery(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streaming.triggers", 1)
      val d = p.durationMs.asScala
      for ((k, key) <- Seq("triggerExecution" -> "streaming.trigger_ms",
        "addBatch" -> "streaming.add_batch_ms",
        "queryPlanning" -> "streaming.query_planning_ms",
        "walCommit" -> "streaming.wal_commit_ms"); v <- d.get(k))
        add(key, v.doubleValue)
      add("streaming.state_rows", p.stateOperators.map(_.numRowsTotal).sum.toDouble)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** All counters now, after every event posted so far is delivered; the
    * driver-side counters (codegen, rule executor) are read directly. */
  def snapshot(): Map[String, Double] = {
    Internals.drainListenerBus(spark.sparkContext)
    val (compiles, compileMs) = Internals.codegenTotals()
    val (rules, effective) = Internals.ruleTotals()
    sums.asScala.map { case (k, v) => k -> v.doubleValue }.toMap ++ Map(
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_ms" -> compileMs,
      "catalyst.rule_invocations" -> rules.toDouble,
      "catalyst.effective_rule_invocations" -> effective.toDouble)
  }
}

object Tracer {
  def delta(after: Map[String, Double], before: Map[String, Double])
      : Map[String, Double] =
    (after.keySet ++ before.keySet).iterator.map { k =>
      k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))
    }.filter(_._2 != 0).toMap
}
