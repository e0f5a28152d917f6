package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners.  Every callback appends one JSON object
  * to a queue; the harness drains the listener bus after each operation
  * and takes everything queued since the previous operation, so each
  * event belongs to exactly one operation of the closed loop.
  */
final class Trace(spark: SparkSession) {
  private val events = new ConcurrentLinkedQueue[Json.Raw]()

  /** Per-stage task fold: count, runtime sum/min/max, peak memory. */
  private final class Fold(var n: Long = 0, var sum: Long = 0,
      var min: Long = Long.MaxValue, var max: Long = Long.MinValue, var peak: Long = 0)
  private val folds = mutable.Map.empty[(Int, Int), Fold]

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      events.add(Json.obj("ev" -> "job_start", "job" -> e.jobId, "t" -> e.time))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(Json.obj("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
      val f = folds.getOrElseUpdate((e.stageId, e.stageAttemptId), new Fold())
      val rt = e.taskMetrics.executorRunTime
      f.n += 1; f.sum += rt; f.min = math.min(f.min, rt); f.max = math.max(f.max, rt)
      f.peak = math.max(f.peak, e.taskMetrics.peakExecutionMemory)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val f = folds.remove((si.stageId, si.attemptNumber())).getOrElse(new Fold(min = 0, max = 0))
      events.add(Json.obj("ev" -> "stage", "stage" -> si.stageId, "tasks" -> f.n,
        "task_ms" -> m.executorRunTime, "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime, "deser_ms" -> m.executorDeserializeTime,
        "shuffle_w" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_r" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled), "peak_mem" -> f.peak,
        "rt_n" -> f.n, "rt_sum" -> f.sum, "rt_min" -> f.min, "rt_max" -> f.max))
    }
  }

  private val actions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      events.add(action(funcName, qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      events.add(action(funcName, qe))
  }

  private def action(funcName: String, qe: QueryExecution): Json.Raw = {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Json.arr(Seq(p.startTimeMs, p.endTimeMs))
    }
    Json.obj("ev" -> "action", "func" -> funcName,
      "phases" -> Json.obj(phases.toSeq: _*), "plan" -> Census(qe.executedPlan))
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(actions)
  }

  /** Every event since the previous call, oldest first. */
  def take(): Seq[Json.Raw] = {
    Trace.drainBus(spark)
    Iterator.continually(events.poll()).takeWhile(_ != null).toSeq
  }
}

object Trace {
  /** Wait until the listener bus has delivered every posted event.
    * `listenerBus` is private to Spark's package but public in bytecode. */
  def drainBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(30000L))
    ()
  }
}

/** Exact operator counts over an executed (post-AQE) plan, subqueries
  * and query stages included. */
object Census extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Json.Raw = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def n(f: SparkPlan => Boolean) = nodes.count(f)
    Json.obj(
      "exchanges" -> n(_.isInstanceOf[ShuffleExchangeLike]),
      "smj" -> n(_.isInstanceOf[SortMergeJoinExec]),
      "shj" -> n(_.isInstanceOf[ShuffledHashJoinExec]),
      "bhj" -> n(_.isInstanceOf[BroadcastHashJoinExec]),
      "broadcast_exchanges" -> n(_.isInstanceOf[BroadcastExchangeLike]),
      "reused_exchanges" -> n(_.isInstanceOf[ReusedExchangeExec]))
  }
}
