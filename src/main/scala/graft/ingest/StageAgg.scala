package graft.ingest

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import graft.model.StageAggMetric

/** Streaming per-stage skewness with explicit custom state — the
  * stream-native equivalent of the reference's "aggregate when the stage
  * completes" callback (CustomMetricsListener.scala:77-83,146-188).
  *
  * ONE fold serves both stateful operators: [[StatefulStageAgg.StageState]]
  * folds a stage's tasks into running min/max/sum/count for the two skew
  * columns (O(1) per live stage, so the state store holds one entry per
  * live stage) and `emit`s max(max−avg, avg−min)/range through the one
  * scalar [[StatefulStageAgg.skew]] — the same algebraic form as the
  * batch `Skewness.stageAgg`, so emitted rows are bit-identical to the
  * batch recompute while a stage's task sums stay below 2^53.
  *
  * A stage has no end-marker in the metric stream, so closure is
  * INFERRED: a stage emits when the event-time watermark passes
  * [[StatefulStageAgg.InactivityMs]] beyond its last task. The close
  * time is clamped above the current watermark, so a stage whose tasks
  * arrive late closes at the next advance instead of failing the query.
  * That is the reference's semantics under a well-ordered stream, minus
  * its shared-buffer concurrent-stage bug (keys isolate stages here).
  *
  *  - [[StatefulStageAgg]]: `flatMapGroupsWithState` with an event-time
  *    `GroupStateTimeout`;
  *  - [[TwsStageAgg]]: Spark 4's `transformWithState` — a typed
  *    `ValueState` on the RocksDB provider (off-heap, so hot state can
  *    outgrow executor heap) and one event-time timer per stage, re-armed
  *    on every new task.
  */
object StatefulStageAgg {

  /** Event time a stage must stay quiet past its last task to close. */
  val InactivityMs = 60000L

  final case class StageKey(appName: String, appId: String, jobId: String, stageId: Int)

  final case class TaskLite(
      appName: String, appId: String, jobId: String, stageId: Int,
      inputBytesRead: Long, shuffleBytesRead: Long, metricTime: Timestamp)

  /** The fold. Its fields, in this order, are the state-store schema of
    * existing checkpoints.
    */
  final case class StageState(
      nTasks: Long,
      sumIn: Long, minIn: Long, maxIn: Long,
      sumSh: Long, minSh: Long, maxSh: Long,
      lastMetricMillis: Long) {

    def add(t: TaskLite): StageState = StageState(
      nTasks + 1,
      sumIn + t.inputBytesRead,
      math.min(minIn, t.inputBytesRead),
      math.max(maxIn, t.inputBytesRead),
      sumSh + t.shuffleBytesRead,
      math.min(minSh, t.shuffleBytesRead),
      math.max(maxSh, t.shuffleBytesRead),
      math.max(lastMetricMillis, t.metricTime.getTime))

    def closeAt(watermarkMs: Long): Long =
      math.max(lastMetricMillis + InactivityMs, watermarkMs + 1)

    def emit(key: StageKey): StageAggMetric = StageAggMetric(
      key.appName, key.appId, key.jobId, key.stageId,
      skew(maxIn, minIn, sumIn, nTasks), maxIn,
      skew(maxSh, minSh, sumSh, nTasks), maxSh,
      new Timestamp(lastMetricMillis))
  }

  object StageState {
    val empty: StageState =
      StageState(0L, 0L, Long.MaxValue, Long.MinValue, 0L, Long.MaxValue, Long.MinValue, 0L)
  }

  /** Scalar twin of `Skewness.skewFromStats` (range 0 → divide by 1). */
  def skew(mx: Long, mn: Long, sum: Long, n: Long): Double = {
    val avg = sum.toDouble / n
    val range = if (mx == mn) 1.0 else (mx - mn).toDouble
    math.max(mx - avg, avg - mn) / range
  }

  /** The watermarked task stream grouped by stage: both operators' input. */
  private[ingest] def byStage(tasks: DataFrame,
      watermarkDelay: String): KeyValueGroupedDataset[StageKey, TaskLite] = {
    val spark = tasks.sparkSession
    import spark.implicits._
    tasks
      .withWatermark("metricTime", watermarkDelay)
      .select($"appName", $"appId", $"jobId", $"stageId",
        $"inputBytesRead", $"shuffleBytesRead", $"metricTime")
      .as[TaskLite]
      .groupByKey(t => StageKey(t.appName, t.appId, t.jobId, t.stageId))
  }

  private def updateState(key: StageKey, tasks: Iterator[TaskLite],
      state: GroupState[StageState]): Iterator[StageAggMetric] =
    if (state.hasTimedOut) {
      val s = state.get
      state.remove()
      Iterator.single(s.emit(key))
    } else {
      val s = tasks.foldLeft(state.getOption.getOrElse(StageState.empty))(_ add _)
      state.update(s)
      state.setTimeoutTimestamp(s.closeAt(state.getCurrentWatermarkMs()))
      Iterator.empty
    }

  /** Emits one StageAggMetric per stage when the stage goes quiet. */
  def apply(tasks: DataFrame, watermarkDelay: String): Dataset[StageAggMetric] = {
    val spark = tasks.sparkSession
    import spark.implicits._
    byStage(tasks, watermarkDelay)
      .flatMapGroupsWithState[StageState, StageAggMetric](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(updateState)
  }
}

object TwsStageAgg {
  import StatefulStageAgg.{StageKey, StageState, TaskLite}

  final class Processor extends StatefulProcessor[StageKey, TaskLite, StageAggMetric] {

    @transient private var state: ValueState[StageState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[StageState](
        "stage", Encoders.product[StageState], TTLConfig.NONE)

    override def handleInputRows(key: StageKey, rows: Iterator[TaskLite],
        tv: TimerValues): Iterator[StageAggMetric] = {
      val s = rows.foldLeft(if (state.exists()) state.get() else StageState.empty)(_ add _)
      state.update(s)
      // a straggler re-arms its stage's timer instead of emitting twice
      getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
      getHandle.registerTimer(s.closeAt(tv.getCurrentWatermarkInMs()))
      Iterator.empty
    }

    override def handleExpiredTimer(key: StageKey, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[StageAggMetric] =
      if (state.exists()) {
        val s = state.get()
        state.clear()
        Iterator.single(s.emit(key))
      } else Iterator.empty
  }

  /** Emits one StageAggMetric per stage when the stage goes quiet. The
    * session running this query must use the RocksDB state store
    * provider (`Pipelines.startMetricsTws` sets it on a cloned session).
    */
  def apply(tasks: DataFrame, watermarkDelay: String): Dataset[StageAggMetric] = {
    val spark = tasks.sparkSession
    import spark.implicits._
    StatefulStageAgg.byStage(tasks, watermarkDelay)
      .transformWithState[StageAggMetric](new Processor, TimeMode.EventTime(), OutputMode.Append())
  }
}
