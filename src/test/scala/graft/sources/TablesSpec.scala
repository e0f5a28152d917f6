package graft.sources

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StructType}

import graft.SparkTestBase

class TablesSpec extends SparkTestBase {
  import spark.implicits._

  /** Run `body` under a fresh job tag and count the Spark jobs that carry
    * it: jobs of suites running in parallel carry no such tag.
    */
  private def taggedJobs[T](body: => T): (T, Int) = {
    val tag = s"tables-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.addJobTag(tag)
    try {
      val out = body
      graft.operators.GuardMetrics.drainListenerBus(spark, 10000)
      (out, jobs.get)
    } finally {
      spark.sparkContext.removeJobTag(tag)
      spark.sparkContext.removeSparkListener(l)
    }
  }

  private def tempDir(): String =
    Files.createTempDirectory("tables-spec").toString

  test("a second read of an unchanged table starts no Spark job") {
    val first = Tables.lineitem(spark, sfSmoke).schema
    val (second, jobs) = taggedJobs(Tables.lineitem(spark, sfSmoke).schema)
    assert(second == first)
    assert(jobs == 0, s"second read started $jobs job(s)")
    // control: the same counter sees the inference job of a bare read
    val (_, bare) = taggedJobs(spark.read.parquet(s"$sfSmoke/lineitem.parquet").schema)
    assert(bare >= 1, "a bare parquet read should infer with a Spark job")
  }

  test("a table overwritten at the same path is read with its new schema and rows") {
    val dir = tempDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val before = Tables(spark, dir, "t")
    assert(before.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(before.as[(Long, String)].collect().sorted.toSeq == Seq((1L, "a"), (2L, "b")))

    Seq((7L, 0.5, 3)).toDF("id", "x", "n")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables(spark, dir, "t")
    assert(after.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(after.schema.fieldNames.toSeq == Seq("id", "x", "n"))
    assert(after.collect().toSeq == Seq(Row(7L, 0.5, 3)))
  }

  test("a session with nanosAsLong off is not served the cached nano-long schema") {
    // events.parquet with ts as parquet TIMESTAMP(NANOS), the encoding
    // whose Spark type the nanosAsLong flag decides
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    try {
      val g = new SimpleGroupFactory(schema)
      w.write(g.newGroup().append("event_id", 1L).append("ts", 1500000000123456789L))
    } finally w.close()

    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(Tables.eventsFileSchema(spark, dir)("ts").dataType == LongType)
    assert(Tables.events(spark, dir).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)

    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    def outcome(read: => StructType): Either[String, StructType] =
      Try(read).toEither.left.map(e => s"${e.getClass.getName}: ${e.getMessage}")
    // what an uncached read gives in that session: the schema or the error
    val bare = outcome(Tables.normalizeEventTs(
      other.read.parquet(s"$dir/events.parquet")).schema)
    assert(outcome(Tables.events(other, dir).schema) == bare)
    // the first session still reads with its own setting
    assert(Tables.eventsFileSchema(spark, dir)("ts").dataType == LongType)
  }

  test("concurrent first reads of one table agree on its schema") {
    val dir = tempDir()
    Seq((1L, "a", 2.0)).toDF("id", "s", "v").write.parquet(s"$dir/c.parquet")
    val expected = spark.read.parquet(s"$dir/c.parquet").schema
    val pool = Executors.newFixedThreadPool(8)
    try {
      val gate = new CountDownLatch(1)
      val reads = (1 to 8).map { _ =>
        pool.submit(() => { gate.await(); Tables(spark, dir, "c").schema })
      }
      gate.countDown()
      val schemas = reads.map(_.get(60, TimeUnit.SECONDS))
      assert(schemas.forall(_ == expected), schemas.distinct.mkString("\n"))
    } finally pool.shutdownNow()
  }
}
