package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}

import graft.SparkTestBase

/** Every stream run on a [[Pipelines.streamingSession]] clone runs its
  * tasks in the executor's one default class loader, so generated code
  * compiled for one run is reused by the next. On a session with Spark's
  * default per-session artifact isolation, each run gets a loader of its
  * own.
  */
class StreamingSessionSpec extends SparkTestBase {

  /** The task's context class loader, as the executor set it. */
  private val loaderId = udf((_: Long) =>
    System.identityHashCode(Thread.currentThread.getContextClassLoader)).asNondeterministic()

  /** Drains one checkpointed stream twice with AvailableNow, each drain a
    * new `StreamExecution` over one new input file, and returns each run's
    * set of task class loaders.
    */
  private def loadersPerRun(session: SparkSession): Map[Long, Set[Int]] = {
    val root = Files.createTempDirectory("graft-stream-session").toRealPath()
    val src = Files.createDirectories(root.resolve("src"))
    val sink = root.resolve("sink").toString
    def drain(run: Long): Unit = {
      Files.writeString(src.resolve(s"run-$run.json"), s"""{"run":$run}""")
      session.readStream.schema(new StructType().add("run", LongType)).json(src.toString)
        .withColumn("loader", loaderId(col("run")))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
    drain(1)
    drain(2)
    spark.read.parquet(sink).collect().toSeq
      .groupBy(_.getAs[Long]("run"))
      .map { case (run, rows) => run -> rows.map(_.getAs[Int]("loader")).toSet }
  }

  test("every stream run on a streaming session shares one executor class loader") {
    val runs = loadersPerRun(Pipelines.streamingSession(spark))
    assert(runs.keySet == Set(1L, 2L))
    assert(runs.values.flatten.toSet.size == 1, runs)
    // the caller's session keeps Spark's default
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "true")
  }

  test("control: on a plain session each stream run gets a class loader of its own") {
    val runs = loadersPerRun(spark.newSession())
    assert(runs.keySet == Set(1L, 2L))
    assert(runs(1L).intersect(runs(2L)).isEmpty, runs)
  }
}
