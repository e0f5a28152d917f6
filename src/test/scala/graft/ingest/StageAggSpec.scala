package graft.ingest

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkTestBase
import graft.ingest.StatefulStageAgg.{StageKey, StageState, TaskLite}
import graft.model.StageAggMetric
import graft.operators.Skewness

/** The one stage-skew fold ([[StatefulStageAgg.StageState]]), run through
  * both stateful operators and checked against the batch recompute.
  */
class StageAggSpec extends SparkTestBase {

  private val T0 = 1767225600000L // 2026-01-01T00:00:00Z

  private def task(stageId: Int, in: Long, sh: Long, offMs: Long) =
    TaskLite("fixture-app", "app-001", "1", stageId, in, sh, new Timestamp(T0 + offMs))

  /** FIXTURES.md stage 2 (skewed) + stage 3 (uniform, range-0 guard),
    * then a sentinel two hours later that pushes the watermark past both
    * stages but never closes itself.
    */
  private def fixture(s: SparkSession, name: String,
      operator: (DataFrame, String) => Dataset[StageAggMetric]): Unit = {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val input = MemoryStream[TaskLite]
    val q = operator(input.toDF(), "1 minute")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      input.addData(
        task(2, 1000000L, 0L, 1000),
        task(2, 1000000L, 0L, 2000),
        task(2, 98000000L, 0L, 9000),
        task(3, 5000L, 4096L, 11000),
        task(3, 5000L, 4096L, 12000))
      q.processAllAvailable()
      input.addData(task(99, 1L, 0L, 7200L * 1000))
      q.processAllAvailable()

      val out = s.table(name).collect().map(r => r.getAs[Int]("stageId") -> r).toMap
      assert(out.keySet == Set(2, 3), s"expected stages 2,3; got ${out.keySet}")
      val expSkew = (98000000.0 - (1000000.0 + 1000000.0 + 98000000.0) / 3) / 97000000.0
      assert(out(2).getAs[Double]("inputBytesReadSkewness") == expSkew)
      assert(out(2).getAs[Long]("maxInputBytesRead") == 98000000L)
      assert(out(3).getAs[Double]("inputBytesReadSkewness") == 0.0)
      assert(out(3).getAs[Double]("shuffleBytesReadSkewness") == 0.0)
      assert(out(3).getAs[Timestamp]("metricTime") == new Timestamp(T0 + 12000))
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits exact skew on inactivity, sentinel open") {
    fixture(spark, "stage_agg_stateful", StatefulStageAgg(_, _))
  }

  test("transformWithState emits the same exact skew rows") {
    // transformWithState requires the RocksDB state store provider — set
    // on a cloned session so the shared test session stays untouched
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    fixture(s, "stage_agg_tws", TwsStageAgg(_, _))
  }

  test("randomized differential: the fold equals Skewness.stageAgg bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260101L)
    (1 to 20).foreach { trial =>
      val tasks = (0 until 1 + rnd.nextInt(12)).flatMap { stage =>
        // single-task stages, constant-value stages and skewed ones; task
        // sums stay below 2^53 (≤ 80 tasks × < 2^40 bytes)
        val n = if (rnd.nextInt(4) == 0) 1 else 1 + rnd.nextInt(80)
        val constant = rnd.nextInt(4) == 0
        val c = rnd.nextLong(1L << 40)
        Seq.fill(n)(TaskLite("app", s"app-${stage % 3}", (stage % 2).toString, stage,
          if (constant) c else rnd.nextLong(1L << 40),
          if (rnd.nextBoolean()) 0L else rnd.nextLong(1L << 30),
          new Timestamp(T0 + rnd.nextInt(600000))))
      }
      val folded = tasks.groupBy(t => StageKey(t.appName, t.appId, t.jobId, t.stageId))
        .map { case (k, ts) => ts.foldLeft(StageState.empty)(_ add _).emit(k) }
        .toSet
      val batch = Skewness.stageAgg(tasks.toDF()).as[StageAggMetric].collect().toSet
      assert(folded == batch, s"trial $trial")
    }
  }
}
