package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relative-distance skewness — the reference's signature computation
  * (SURVEY §2.1 A6; source/collector/.../CustomMetricsListener.scala:146-188):
  *
  *   skew(x) = max(|x − avg(x)|) / range(x),   range 0 → forced to 1
  *
  * so a constant group gets skew 0, and skew ∈ [0,1] by construction
  * ("relative distance of a data point proportionally to the average",
  * data-skew.ndjson line 17).
  *
  * Spark-first formulation: the algebraic identity
  * `max(|x − avg|) = greatest(max − avg, avg − min)` lets us compute it
  * from built-in `max/min/avg` aggregates in ONE pass — a single
  * hash-aggregate with map-side partials and one shuffle on the group
  * keys. No UDAF, fully whole-stage-codegen'd, and at 100 TB the shuffle
  * carries only (group-count × 3 doubles) per value column.
  */
object Skewness {

  /** skew from pre-aggregated max/min/avg columns (range-0 guard per the
    * reference, CustomMetricsListener.scala:155-158,168-171).
    */
  def skewFromStats(maxC: Column, minC: Column, avgC: Column): Column =
    greatest(maxC - avgC, avgC - minC) /
      when(maxC === minC, lit(1.0)).otherwise(maxC - minC)

  /** Grouped relative skewness for an arbitrary set of value columns.
    * Output: group keys + per-value `avg_/max_/min_` stats +
    * `<value>_skewness`.
    */
  def relativeSkew(df: DataFrame, groupCols: Seq[String], valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty, "relativeSkew needs at least one value column")
    val aggs = valueCols.flatMap { v =>
      Seq(
        max(col(v)).as(s"max_$v"),
        min(col(v)).as(s"min_$v"),
        avg(col(v)).as(s"avg_$v"))
    }
    val g = df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    valueCols.foldLeft(g) { (acc, v) =>
      acc.withColumn(
        s"${v}_skewness",
        skewFromStats(col(s"max_$v"), col(s"min_$v"), col(s"avg_$v")))
    }
  }

  /** The reference's stage-level aggregation: task metrics → one row per
    * (appName, appId, jobId, stageId) with input/shuffle skewness + max.
    * `metricTime` is the latest task metricTime in the stage (the
    * reference stamps wall-clock at stage completion,
    * CustomMetricsListener.scala:186 — we stay deterministic, SURVEY §7.4).
    *
    * Grouping by the full key fixes the reference's shared-buffer
    * cross-contamination bug under concurrent stages by construction
    * (SURVEY §2.1 A6 notes). An event-time `window` (a `window(...)`
    * column) groups ahead of the stage key, and its start is kept as
    * `windowStart`; the streaming `Pipelines.windowedStageAgg` runs it so.
    */
  def stageAgg(taskMetrics: DataFrame, window: Option[Column] = None): DataFrame = {
    val keys = Seq("appName", "appId", "jobId", "stageId").map(col)
    taskMetrics
      .groupBy(window.toSeq ++ keys: _*)
      .agg(
        max(col("inputBytesRead")).as("max_in"),
        min(col("inputBytesRead")).as("min_in"),
        avg(col("inputBytesRead")).as("avg_in"),
        max(col("shuffleBytesRead")).as("max_sh"),
        min(col("shuffleBytesRead")).as("min_sh"),
        avg(col("shuffleBytesRead")).as("avg_sh"),
        max(col("metricTime")).as("maxMetricTime"))
      .select(keys ++ Seq(
        skewFromStats(col("max_in"), col("min_in"), col("avg_in"))
          .as("inputBytesReadSkewness"),
        col("max_in").as("maxInputBytesRead"),
        skewFromStats(col("max_sh"), col("min_sh"), col("avg_sh"))
          .as("shuffleBytesReadSkewness"),
        col("max_sh").as("maxShuffleBytesRead"),
        col("maxMetricTime").as("metricTime")) ++
        window.map(_ => col("window.start").as("windowStart")): _*)
  }
}
