package lakebench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters gathered from Spark's public listener interfaces while
  * tracing is on: a `SparkListener` for jobs, stages and task metrics,
  * and a `QueryExecutionListener` for catalog commands, Catalyst
  * planning time and the files each executed plan read or wrote.
  *
  * Nothing is registered unless [[install]] is called, so untraced runs
  * pay nothing. Listener events arrive asynchronously;
  * [[Probe.snapshot]] drains the listener bus before it reads.
  */
final class Probe(spark: SparkSession) {
  private val longs = collection.concurrent.TrieMap.empty[String, AtomicLong]
  private val doubles = collection.concurrent.TrieMap.empty[String, DoubleAdder]
  private def add(k: String, v: Long): Unit = longs.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
  private def addS(k: String, v: Double): Unit = doubles.getOrElseUpdate(k, new DoubleAdder).add(v)

  private val tasks = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) {
        addS("spark.task_run_s", m.executorRunTime / 1e3)
        addS("spark.task_cpu_s", m.executorCpuTime / 1e9)
        addS("spark.gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        addS("spark.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        // the scheduler-delay formula of Spark's own UI: task wall time
        // not spent deserializing, running or shipping the result
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        addS("spark.scheduler_delay_s", math.max(0L, delay) / 1e3)
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values.map(_.durationMs).sum
      addS("catalyst.plan_ms", phases.toDouble)
      if (isCatalogCommand(qe.analyzed)) {
        add("catalog.commands", 1)
        addS("catalog.command_s", durationNs / 1e9)
      }
      leaves(qe.executedPlan).foreach {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").foreach(m => add("storage.files_read", m.value))
          s.metrics.get("filesSize").foreach(m => add("storage.bytes_read", m.value))
          s.metrics.get("numOutputRows").foreach(m => add("storage.rows_read", m.value))
        case w: DataWritingCommandExec =>
          w.cmd.metrics.get("numFiles").foreach(m => add("storage.files_written", m.value))
          w.cmd.metrics.get("numOutputBytes").foreach(m => add("storage.bytes_written", m.value))
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("spark.failed_queries", 1)
  }

  /** Catalog-only commands (CREATE VIEW, DROP TABLE, SHOW TBLPROPERTIES,
    * ANALYZE, CREATE DATABASE): a Command node that writes no data.
    */
  private def isCatalogCommand(plan: LogicalPlan): Boolean =
    plan.collectFirst { case c: Command => c }.exists { c =>
      val n = c.nodeName
      !(n.contains("AsSelect") || n.contains("InsertInto") || n.contains("SaveIntoDataSource") ||
        n.contains("WriteFiles") || n.contains("AppendData") || n.contains("OverwriteByExpression"))
    }

  /** Every operator of an executed plan, looking through adaptive
    * query stages and skipping reused exchanges (counted once).
    */
  private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(leaves)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(tasks)
    spark.listenerManager.register(queries)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(queries)
  }

  /** All counters so far, after every posted event is delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.LakebenchBridge.drainListeners(spark.sparkContext)
    longs.map { case (k, v) => k -> v.get.toDouble }.toMap ++
      doubles.map { case (k, v) => k -> v.sum }
  }
}

object Probe {
  /** Per-op deltas between two snapshots. */
  def perOp(before: Map[String, Double], after: Map[String, Double], ops: Int): Map[String, Double] =
    (before.keySet ++ after.keySet).map { k =>
      k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0)) / math.max(1, ops)
    }.toMap
}
