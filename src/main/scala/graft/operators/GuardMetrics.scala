package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.slf4j.LoggerFactory

/** Observed-metric watchdog for silent-degradation guards (e.g. the LSH
  * oversized-bucket drop): metrics ride the existing action through
  * `Dataset.observe` (a CollectMetrics node — ZERO extra jobs), and a
  * per-session QueryExecutionListener logs a warning whenever a guard
  * fires, so recall loss is observable instead of silent.
  *
  * The metric node rides ONE branch of the candidate self-join (a node
  * shared by both branches lands inside the reused exchange subtree and
  * is dropped from the collected metrics), so each membership is
  * counted exactly once. Known blind corner: if the WHOLE query output
  * is provably empty (every bucket dropped), AQE's empty-relation
  * propagation replaces the subtree — metric node included — before the
  * listener can read it; mixed degenerate/normal content, the case the
  * guard exists for, reports fine.
  */
object GuardMetrics {

  /** Metric name for LSH band buckets dropped by the maxBucketSize skew
    * guard (see [[graft.dedup.Dedup.lshCandidatePairs]]).
    */
  val LshDroppedMetric = "graft_lsh_dropped"

  private val log = LoggerFactory.getLogger(getClass)

  // process-global running totals so a HARNESS (e.g. Bench) can
  // surface guard fires in its report — a scale sweep must auto-flag
  // silent recall loss instead of depending on someone reading the logs
  private val droppedTotal = new java.util.concurrent.atomic.LongAdder
  private val guardFires = new java.util.concurrent.atomic.LongAdder
  private val maxBucketEver =
    new java.util.concurrent.atomic.LongAccumulator(math.max(_, _), 0L)

  /** Monotone running totals across every guarded query this JVM has
    * run: band memberships dropped, number of executions that dropped
    * any, and the largest bucket ever observed (dropped or not).
    */
  final case class GuardSnapshot(
      droppedMemberships: Long, fires: Long, maxBucketSeen: Long) {
    def minus(earlier: GuardSnapshot): GuardSnapshot = GuardSnapshot(
      droppedMemberships - earlier.droppedMemberships,
      fires - earlier.fires,
      maxBucketSeen) // max is a high-water mark, not a delta
  }

  def snapshot(): GuardSnapshot =
    GuardSnapshot(droppedTotal.sum(), guardFires.sum(), maxBucketEver.get())

  /** Best-effort flush of Spark's async listener bus so a snapshot taken
    * right after an action includes that action's guard metrics (the
    * QueryExecutionListener fires on the shared bus). Reflective because
    * `SparkContext.listenerBus`/`waitUntilEmpty` are private[spark]
    * (public in bytecode); harness-only — product code never blocks on
    * the bus.
    */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long = 5000): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(timeoutMs))
    } catch { case _: Throwable => () }

  // one listener per session; WeakHashMap so dead sessions don't pin
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Attach the guard metrics (dropped band-membership count + largest
    * bucket seen) to `sizedMemberships` — a frame carrying a `bsz`
    * bucket-size column — and ensure this session logs when the guard
    * trips.
    */
  def observeLshDrops(sizedMemberships: DataFrame, maxBucketSize: Int): DataFrame = {
    ensureListener(sizedMemberships.sparkSession)
    import org.apache.spark.sql.functions._
    sizedMemberships.observe(
      LshDroppedMetric,
      sum(when(col("bsz") > maxBucketSize, 1L).otherwise(0L)).as("dropped_memberships"),
      max(col("bsz")).as("max_bucket_size"))
  }

  /** Find the guard's CollectMetrics node anywhere in the executed plan,
    * unwrapping AQE stage boundaries: `qe.observedMetrics` only surfaces
    * metrics visible from the final plan, and under adaptive execution a
    * metric node that lands inside an intermediate ShuffleQueryStage is
    * silently absent from it (verified empirically on 4.1.2 — the same
    * plan reports fine with AQE off).
    */
  private[graft] def findLshMetric(plan: org.apache.spark.sql.execution.SparkPlan): Option[org.apache.spark.sql.Row] =
    plan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        findLshMetric(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        findLshMetric(q.plan)
      case c: org.apache.spark.sql.execution.CollectMetricsExec if c.name == LshDroppedMetric =>
        Some(c.collectedMetrics)
      case other =>
        other.children.iterator.map(findLshMetric).collectFirst { case Some(r) => r }
    }

  def ensureListener(spark: SparkSession): Unit =
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) == null) {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          qe.observedMetrics.get(LshDroppedMetric)
            .orElse(try findLshMetric(qe.executedPlan) catch { case _: Throwable => None })
            .foreach { row =>
            val dropped = Option(row.getAs[java.lang.Long]("dropped_memberships"))
              .map(_.longValue).getOrElse(0L)
            Option(row.getAs[java.lang.Long]("max_bucket_size"))
              .foreach(m => maxBucketEver.accumulate(m.longValue))
            if (dropped > 0) {
              droppedTotal.add(dropped)
              guardFires.increment()
              val maxBsz = Option(row.getAs[java.lang.Long]("max_bucket_size"))
                .map(_.longValue).getOrElse(0L)
              log.warn(
                s"LSH skew guard dropped ~$dropped band memberships " +
                  s"(largest bucket: $maxBsz rows) — near-dup recall is " +
                  "reduced for degenerate/boilerplate content; raise " +
                  "maxBucketSize or pre-filter such documents if this is unexpected")
            }
          }
        override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
      })
    }
}
