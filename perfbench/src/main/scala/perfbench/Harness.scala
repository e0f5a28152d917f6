package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ingest.Pipelines

/** One benchmark process: builds the session, runs one workload as a
  * closed loop through the engine's public entry points, and writes a
  * raw record (per-operation timings, plus listener events when traced)
  * for `run.py` to check and summarize.
  *
  *   Harness workload=<w> seed=<n> seconds=<s> trace=0|1
  *           cores=<N> min_units=<n> data=<dir> work=<dir> out=<file>
  *           [queries=a,b,..]
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cores = a("cores").toInt
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).count()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val trace = if (a("trace") == "1") Some(new Trace(spark)) else None
    trace.foreach(_.start())
    val seconds = a("seconds").toDouble
    val minUnits = a("min_units").toInt
    val results = Paths.get(work, "results")
    val body: Seq[(String, Any)] = a("workload") match {
      case "ingest" =>
        new Ingest(spark, trace, a("data"), work, results).run(seconds, minUnits)
      case _ =>
        Seq("passes" -> new QueryLoop(spark, trace, a("data"), results)
          .run(a("queries").split(",").toSeq, a("seed").toLong, seconds, minUnits))
    }
    // let the ContextCleaner release what the first collections free
    val heapAfterGc = { for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    val record = Json.obj(Seq(
      "setup_s" -> setupS,
      "heap_after_gc_mb" -> heapAfterGc / 1048576.0,
      "jvm" -> jvm()) ++ body: _*)
    Files.writeString(Paths.get(a("out")), record.s)
    spark.stop()
  }

  private def jvm(): Json.Raw = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    Json.obj("gc_ms" -> gcMs,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "heap_peak_mb" -> heapPeak / 1048576.0)
  }

  def errText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" ").take(300)

  /** A result value in the canonical form `benchlib.canon` gives the
    * oracle's values. */
  def canon(v: Any): Any = v match {
    case null => null
    case d: java.math.BigDecimal =>
      val s = d.stripTrailingZeros.toPlainString
      "dec:" + (if (d.signum == 0) "0" else s)
    case d: scala.math.BigDecimal => canon(d.bigDecimal)
    case t: java.sql.Timestamp => canon(t.toInstant)
    case t: java.time.Instant => canon(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime =>
      "ts:" + t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    case d: java.sql.Date => canon(d.toLocalDate)
    case d: java.time.LocalDate => "date:" + d.toString
    case b: Array[Byte] => "bin:" + b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(canon(k), canon(x)) }.sortBy(p => String.valueOf(p.head))
    case s: Iterable[_] => s.map(canon).toSeq
    case other => other
  }

  def writeRows(path: Path, columns: Seq[String], rows: Seq[Row]): Unit = {
    Files.createDirectories(path.getParent)
    Files.writeString(path, Json.obj(
      "columns" -> columns,
      "rows" -> rows.map(r => r.toSeq.map(canon))).s)
    ()
  }
}

/** The `dashboard` workload: a cold pass, then warm passes
  * until the time is up, each in a seed-permuted order. */
final class QueryLoop(spark: SparkSession, trace: Option[Trace], data: String, results: Path) {
  private val fns = graft.SparkEntry.queries

  def run(names: Seq[String], seed: Long, seconds: Double, minPasses: Int): Seq[Json.Raw] = {
    val rnd = new scala.util.Random(seed)
    val start = System.nanoTime()
    val passes = ArrayBuffer.empty[Json.Raw]
    while (passes.size < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val p = passes.size
      passes += Json.obj("pass" -> p, "ops" -> rnd.shuffle(names).map(op(_, p)))
      System.gc() // between passes, untimed
    }
    passes.toSeq
  }

  private def op(name: String, pass: Int): Json.Raw = {
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    trace.foreach(_.take())
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tbms, t1ms = 0L
    var tb, t1 = 0L
    val err = try {
      val df = fns(name)(spark, data)
      tbms = System.currentTimeMillis(); tb = System.nanoTime()
      val rows = df.collect()
      t1 = System.nanoTime(); t1ms = System.currentTimeMillis()
      Harness.writeRows(results.resolve(s"$pass/$name.json"), df.schema.fieldNames.toSeq, rows.toSeq)
      None
    } catch { case e: Throwable => Some(Harness.errText(e)) }
    if (t1 == 0) { t1 = System.nanoTime(); t1ms = System.currentTimeMillis() }
    if (tb == 0) { tb = t1; tbms = t1ms }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!persisted.contains(id)) rdd.unpersist(blocking = false)
    }
    System.err.println(f"[harness] $name pass $pass: ${(t1 - t0) / 1e9}%.2f s ${err.getOrElse("")}")
    Json.obj("name" -> name, "pass" -> pass, "err" -> err,
      "t0" -> t0ms, "tb" -> tbms, "t1" -> t1ms,
      "wall_ms" -> (t1 - t0) / 1e6, "build_wall_ms" -> (tb - t0) / 1e6,
      "events" -> trace.map(_.take()).getOrElse(Seq.empty))
  }
}

/** The `ingest` workload: a backlog drain, round after round, by one
  * long-lived set of pipelines (one sink and checkpoint each, kept across
  * rounds).  A round is one collector flush: the generator's files for
  * that round are moved into the source directories, then each pipeline
  * in turn is started with AvailableNow and drained, as a scheduled job
  * would: one closed-loop client, so the next pipeline starts only when
  * the previous one has ended.
  * Each round's last metric record is a sentinel an hour past its data:
  * it moves the watermark past every window and stateful timer of the
  * round, so the no-data batch that closes the AvailableNow drain emits
  * them, and each round's sink rows are final when its drains end. */
final class Ingest(spark: SparkSession, trace: Option[Trace], spools: String,
    work: String, results: Path) {

  private type Start = Pipelines.Config => Seq[StreamingQuery]
  private val pipelines: Seq[(String, String, Start)] = Seq(
    ("metrics", "metrics", c => Pipelines.startMetrics(spark, c)),
    ("stateful", "metrics", c => Seq(Pipelines.startMetricsStateful(spark, c))),
    ("tws", "metrics", c => Seq(Pipelines.startMetricsTws(spark, c))),
    ("logs", "logs", c => Seq(Pipelines.startLogs(spark, c))))
  private val source = Paths.get(work, "source")
  private val base = s"$work/ingest"

  def run(seconds: Double, minRounds: Int): Seq[(String, Any)] = {
    val spooled = Files.list(Paths.get(spools)).iterator().asScala
      .count(_.getFileName.toString.startsWith("round-"))
    val start = System.nanoTime()
    val rounds = ArrayBuffer.empty[Json.Raw]
    while (rounds.size < spooled &&
        (rounds.size < minRounds || (System.nanoTime() - start) / 1e9 < seconds)) {
      val r = rounds.size
      deliver(Paths.get(spools, f"round-$r%03d"))
      rounds += Json.obj("round" -> r, "ops" -> pipelines.map(op(r, _)))
      System.gc() // between rounds, untimed
    }
    val exhausted = (System.nanoTime() - start) / 1e9 < seconds
    Seq("rounds" -> rounds.toSeq, "exhausted" -> exhausted, "sinks" -> snapshot())
  }

  /** Move a flush's files into the source directories, newest last. */
  private def deliver(spool: Path): Unit =
    for (sub <- Seq("metrics", "logs"); dir = spool.resolve(sub)) {
      Files.createDirectories(source.resolve(sub))
      for (f <- Files.list(dir).iterator().asScala.toSeq.sortBy(_.getFileName.toString)) {
        val to = source.resolve(sub).resolve(s"${spool.getFileName}-${f.getFileName}")
        Files.move(f, to, StandardCopyOption.ATOMIC_MOVE)
        Files.setLastModifiedTime(to, FileTime.fromMillis(System.currentTimeMillis()))
        Thread.sleep(2)
      }
    }

  private def conf(pipeline: String, src: String) = Pipelines.Config(
    sourceDir = source.resolve(src).toString,
    sinkRoot = s"$base/$pipeline/tables",
    checkpointRoot = s"$base/$pipeline/ckpt",
    maxFilesPerTrigger = 1,
    availableNow = true,
    watermarkDelay = "1 minute",
    stageWindow = "1 minute")

  /** One pipeline's drain of a delivered round, timed from its start
    * call until every streaming query it started has ended. */
  private def op(round: Int, pipeline: (String, String, Start)): Json.Raw = {
    val (p, src, start) = pipeline
    trace.foreach(_.take())
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var err: Option[String] = None
    val qs = try start(conf(p, src))
      catch { case e: Throwable => err = Some(Harness.errText(e)); Seq.empty }
    val tbms = System.currentTimeMillis()
    while (qs.exists(_.isActive)) Thread.sleep(2)
    val t1 = System.nanoTime()
    val t1ms = System.currentTimeMillis()
    err = err.orElse(qs.flatMap(_.exception).headOption.map(Harness.errText))
    System.err.println(f"[harness] $p round $round: ${(t1 - t0) / 1e9}%.2f s ${err.getOrElse("")}")
    Json.obj("name" -> s"$p-$round", "pipeline" -> p, "err" -> err,
      "t0" -> t0ms, "tb" -> tbms, "t1" -> t1ms, "wall_ms" -> (t1 - t0) / 1e6,
      "progress" -> qs.flatMap(_.recentProgress).map(x => Json.Raw(x.json)),
      "events" -> trace.map(_.take()).getOrElse(Seq.empty))
  }

  /** Untimed: what the sinks hold, for the exactly-once and stage-agg
    * checks, plus their file counts and sizes. */
  private def snapshot(): Json.Raw = {
    def table(pipeline: String, name: String): DataFrame =
      spark.read.parquet(s"$base/$pipeline/tables/$name").filter(col("appId") =!= "sentinel")
    val stageCols = Seq("appId", "jobId", "stageId", "inputBytesReadSkewness",
      "maxInputBytesRead", "shuffleBytesReadSkewness", "maxShuffleBytesRead")
    def stages(pipeline: String, name: String, label: String): Unit = {
      val df = table(pipeline, name)
        .select((stageCols.map(col) :+ unix_millis(col("metricTime")).as("last_ms")): _*)
      Harness.writeRows(results.resolve(s"ingest/$label.json"), df.columns.toSeq, df.collect().toSeq)
    }
    val agg = graft.model.Schemas.StageAggMetricsTable
    stages("metrics", agg, "passthrough")
    stages("metrics", agg + "_derived", "derived")
    stages("stateful", agg + "_stateful", "stateful")
    stages("tws", agg + "_tws", "tws")
    val files = Files.walk(Paths.get(base)).iterator().asScala
      .filter(p => p.toString.contains("/tables/") && p.toString.endsWith(".parquet") &&
        !p.toString.contains("_spark_metadata"))
      .toSeq
    Json.obj(
      "task_rows" -> table("metrics", graft.model.Schemas.TaskMetricsTable).count(),
      "log_rows" -> table("logs", graft.model.Schemas.LogsTable).count(),
      "files" -> files.size,
      "bytes" -> files.map(Files.size).sum)
  }
}
