package graft.ingest

import scala.concurrent.duration.{DurationInt, FiniteDuration}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.model.Schemas
import graft.operators.Skewness

/** Structured Streaming ingestion pipelines — the Spark-native
  * re-expression of the reference's collector→OSI→OpenSearch dataflow
  * (SURVEY §3):
  *
  *  - file JSON source ≙ the OSI HTTP push endpoint (events land as
  *    JSON batches; `maxFilesPerTrigger` ≙ collector batchSize,
  *    `Trigger.ProcessingTime` ≙ timeThreshold — the reference's dual
  *    size/time flush, ObservabilityClient.scala:299-306)
  *  - route on metricsType → separate sinks ≙ metrics-pipeline.yaml:9-28
  *  - parquet sinks with checkpointing: the file-source + file-sink pair
  *    gives EXACTLY-ONCE (source tracks processed files, sink commits
  *    through the _spark_metadata log) — strictly stronger than the
  *    reference's retry/at-least-once HTTP delivery (A14,
  *    ObservabilityClient.scala:160-201)
  *  - sinks are dt-partitioned (A16): dashboards' global time filter
  *    (B19) becomes partition pruning at read
  *
  * Scale: every stage before the sink is a narrow projection/filter or a
  * broadcast join — no shuffle in the hot path. The derived stage
  * aggregations run one computation: the windowed delivery is the batch
  * `Skewness.stageAgg` with the event-time window as one more grouping
  * key (state bounded by live stages × window, evicted by watermark);
  * the stateful and `transformWithState` deliveries share the one
  * min/max/sum/count fold in `StageAgg.scala` (one entry per live stage).
  *
  * Every `start*` reads through [[jsonSource]], writes parquet through
  * [[fileSink]] and clones its session only through [[sessionFor]].
  * The query packs' own streaming harnesses clone theirs through
  * [[streamingSession]].
  */
object Pipelines {

  final case class Config(
      sourceDir: String,
      sinkRoot: String,
      checkpointRoot: String,
      maxFilesPerTrigger: Int = 100,
      timeThreshold: FiniteDuration = 10.seconds,
      availableNow: Boolean = false,
      watermarkDelay: String = "5 minutes",
      stageWindow: String = "1 minute",
      dedupeDelivery: Boolean = false,
      streamShufflePartitions: Option[Int] = None) {
    def tablePath(name: String): String = s"$sinkRoot/$name"
  }

  private def trigger(conf: Config): Trigger =
    if (conf.availableNow) Trigger.AvailableNow()
    else Trigger.ProcessingTime(conf.timeThreshold.toMillis)

  /** A new session on `spark`'s context for streaming queries (it starts
    * from the context's conf, not from `spark`'s runtime settings), with
    * `settings` set on it and checkpoint files written in-process through
    * [[InProcessLocalFs]] (no `chmod`/`readlink` process per file; the
    * files are the same). Every checkpointed stream the engine starts
    * runs on one. The caller's session conf and the SparkContext's
    * Hadoop conf are never touched.
    *
    * Per-session artifact isolation (`spark.sql.artifact.isolation.enabled`)
    * is off. With it on (Spark's default), every `StreamExecution` runs
    * on a clone with a new session UUID, each UUID gets its own executor
    * class loader, and `CodeGenerator`'s cache is keyed by that loader:
    * every task of every stream run recompiled its generated classes,
    * and resolved names through a jar-scanning loader. The engine adds
    * no jars or artifacts to any session, so isolation kept nothing
    * apart. Off, every run's tasks share the executor's default loader
    * and its compiled classes (`StreamingSessionSpec`). `ArtifactManager`
    * reads the setting on the session's first job, so it is set here,
    * before any use; each run's clone copies it.
    */
  def streamingSession(spark: SparkSession, settings: (String, String)*): SparkSession = {
    val s = spark.newSession()
    (InProcessLocalFs.Setting +: ("spark.sql.artifact.isolation.enabled" -> "false") +: settings)
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Streaming state is sharded by `spark.sql.shuffle.partitions` AT
    * CHECKPOINT CREATION, and every micro-batch commits every shard
    * (delta file + rename) even when empty. Shard count should therefore
    * track the LIVE KEY CARDINALITY of the stateful operator (stage keys
    * here), not the batch data volume — 32 shards for ~100 stage keys
    * triples empty-batch latency for nothing, while a 100 TB deployment
    * with hot state would raise it well past the session default. The
    * knob and any `settings` ride the [[streamingSession]] clone.
    */
  private def sessionFor(spark: SparkSession, conf: Config,
      settings: (String, String)*): SparkSession =
    streamingSession(spark,
      conf.streamShufflePartitions.map("spark.sql.shuffle.partitions" -> _.toString).toSeq ++
        settings: _*)

  /** The pipelines' source: `conf.sourceDir` as a JSON file stream, read
    * on [[sessionFor]]`(spark, conf, settings)`.
    */
  private def jsonSource(spark: SparkSession, conf: Config, schema: StructType,
      settings: (String, String)*): DataFrame =
    sessionFor(spark, conf, settings: _*).readStream
      .schema(schema)
      .option("maxFilesPerTrigger", conf.maxFilesPerTrigger)
      .json(conf.sourceDir)

  /** Append-mode parquet sink at `conf.tablePath(table)`; the checkpoint
    * directory is named after the table unless `checkpoint` names it.
    */
  private def fileSink(df: DataFrame, conf: Config, table: String,
      partitionCols: Seq[String] = Seq("dt"),
      checkpoint: Option[String] = None): StreamingQuery =
    df.writeStream
      .format("parquet")
      .partitionBy(partitionCols: _*)
      .option("path", conf.tablePath(table))
      .option("checkpointLocation", s"${conf.checkpointRoot}/${checkpoint.getOrElse(table)}")
      .trigger(trigger(conf))
      .start()

  /** A derived stage-agg delivery: table `<stage agg table>_<variant>`,
    * checkpoint `stage_agg_<variant>`, dt-partitioned.
    */
  private def stageAggSink(agg: DataFrame, conf: Config, variant: String): StreamingQuery =
    fileSink(Transforms.withDt(agg, "metricTime"), conf,
      s"${Schemas.StageAggMetricsTable}_$variant", checkpoint = Some(s"stage_agg_$variant"))

  private def taskMetrics(raw: DataFrame): DataFrame =
    Transforms.projectTaskMetrics(Transforms.route(raw, Transforms.TaskMetricsType))

  /** Metrics pipeline: one source, routed to the task table and the
    * stage-agg passthrough table, plus a derived stateful stage-skewness
    * aggregation (the engine-side version of the reference's in-driver
    * stage aggregation — grouping by the full key fixes its
    * concurrent-stage cross-contamination bug by construction).
    * Returns the started queries (task, stageAggPassthrough, stageAggDerived).
    */
  def startMetrics(spark: SparkSession, conf: Config): Seq[StreamingQuery] = {
    val raw = jsonSource(spark, conf, Transforms.rawMetricSchema)
    val projected = taskMetrics(raw)
    // A14 hardening: an at-least-once upstream (the reference retries
    // whole batches on failure) can deliver duplicates; the task key is
    // unique per attempt, so a watermark-bounded dedup restores
    // exactly-once CONTENT (state is evicted past the watermark).
    val deduped =
      if (conf.dedupeDelivery)
        projected
          .withWatermark("metricTime", conf.watermarkDelay)
          .dropDuplicatesWithinWatermark(
            "appId", "jobId", "stageId", "stageAttemptId", "taskId")
      else projected
    val taskQ = fileSink(Transforms.withDt(deduped, "metricTime"), conf, Schemas.TaskMetricsTable)

    val passthrough = Transforms.withDt(
      Transforms.projectStageAgg(Transforms.route(raw, Transforms.StageAggMetricsType)),
      "metricTime")
    val passQ = fileSink(passthrough, conf, Schemas.StageAggMetricsTable)

    // Derived stage aggregation: event-time windowed, append-mode (rows
    // emit when the watermark closes the window — the stream-native
    // equivalent of "stage completed", SURVEY §7.4). Partial/final agg
    // shape mirrors §3.2; state is evicted by the watermark. The sink
    // keeps the StageAggMetric record shape.
    val aggQ = stageAggSink(
      windowedStageAgg(projected, conf).drop("windowStart"), conf, "derived")

    Seq(taskQ, passQ, aggQ)
  }

  /** Event-time windowed stage aggregation (batch/stream agnostic, the
    * §3.2 partial/final shape): one row per (window, stage key) with
    * skew stats plus the window start, which window-aware sinks keep
    * and the StageAggMetric-shaped sink drops.
    */
  def windowedStageAgg(tasks: DataFrame, conf: Config): DataFrame =
    Skewness.stageAgg(tasks.withWatermark("metricTime", conf.watermarkDelay),
      Some(window(col("metricTime"), conf.stageWindow)))

  /** Windowed-agg-only delivery into its own window-keyed table — the
    * focused variant the correctness gate replays (startMetrics runs
    * the same aggregation alongside its task/passthrough sinks).
    */
  def startMetricsWindowed(spark: SparkSession, conf: Config): StreamingQuery = {
    val raw = jsonSource(spark, conf, Transforms.rawMetricSchema)
    stageAggSink(windowedStageAgg(taskMetrics(raw), conf), conf, "windowed")
  }

  /** Alternative derived-agg delivery: foreachBatch recompute-upsert.
    * Each micro-batch appends its task rows, then recomputes the stage
    * aggregation ONLY for the (appId) partitions the batch touched and
    * dynamic-partition-overwrites them — exact recompute semantics
    * (identical to batch Skewness.stageAgg) with work bounded by the
    * batch's key set. This is the §7.4 "recompute-on-upsert first"
    * variant; the windowed query above is the stateful one.
    */
  def startMetricsUpsert(spark: SparkSession, conf: Config): StreamingQuery = {
    val raw = jsonSource(spark, conf, Transforms.rawMetricSchema)
    val tasks = Transforms.withDt(taskMetrics(raw), "metricTime")
    // own table name: the upsert layout carries an extra batch_id
    // partition level, so sharing startMetrics' task path would mix two
    // incompatible partition schemas in one directory
    val taskPath = conf.tablePath(Schemas.TaskMetricsTable + "_upsert")
    val aggPath = conf.tablePath(Schemas.StageAggMetricsTable + "_upsert")
    tasks.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"${conf.checkpointRoot}/metrics_upsert")
      .trigger(trigger(conf))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // foreachBatch is at-least-once: partitioning the task table by
        // batch_id and dynamic-OVERWRITING makes a replayed batch replace
        // its own partitions instead of appending duplicates (idempotent
        // redelivery — the reference's retry envelope delivers dupes too).
        // partitionOverwriteMode is a per-WRITER option so the dynamic
        // semantics never leak to other writes on the shared session.
        // isEmpty is a limit-1 probe (not a key collect): an empty
        // trigger must not write an empty-schema task dir or re-read it
        if (!batch.isEmpty) {
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("dt", "batch_id").parquet(taskPath)
          // recompute only the (appId) groups this batch touched — the
          // touched set stays on executors as a broadcast semi-join (no
          // driver collect in the hot loop)
          val touched = broadcast(batch.select("appId").distinct())
          val all = s.read.parquet(taskPath).join(touched, Seq("appId"), "left_semi")
          val agg = Skewness.stageAgg(all.drop("batch_id", "dt"))
            .withColumn("appIdPart", col("appId"))
          agg.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("appIdPart").parquet(aggPath)
        }
        ()
      }
      .start()
  }

  /** Third derived-agg delivery: the custom-state stage aggregation
    * ([[StatefulStageAgg]], flatMapGroupsWithState) wired to a parquet
    * sink — emits exactly one row per stage when the stage goes quiet,
    * the closest stream-native match to the reference's
    * "aggregate on stage completion" callback.
    */
  def startMetricsStateful(spark: SparkSession, conf: Config): StreamingQuery = {
    val raw = jsonSource(spark, conf, Transforms.rawMetricSchema)
    stageAggSink(StatefulStageAgg(taskMetrics(raw), conf.watermarkDelay).toDF(), conf, "stateful")
  }

  /** Fourth derived-agg delivery: the same fold on `transformWithState`
    * ([[TwsStageAgg]], Spark 4 arbitrary-state API) wired to a parquet
    * sink. State rides the RocksDB provider (the API requires it — and
    * off-heap state is the right provider once live state outgrows
    * executor heap), set on the cloned session so the caller's session
    * conf is never mutated. Changelog checkpointing commits the delta,
    * not a full SST snapshot, per micro-batch — the production setting
    * for low-latency commits.
    */
  def startMetricsTws(spark: SparkSession, conf: Config): StreamingQuery = {
    val raw = jsonSource(spark, conf, Transforms.rawMetricSchema,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    stageAggSink(TwsStageAgg(taskMetrics(raw), conf.watermarkDelay).toDF(), conf, "tws")
  }

  /** A14: retry with exponential backoff for NON-transactional external
    * sinks — the reference's delivery envelope (ObservabilityClient
    * .scala:28-33,271-292: initial 5 s, ×2 per attempt, capped 60 s, 5
    * retries, retryable-error classification, reset on success). The
    * parquet sinks here don't need it (file-source checkpoint + sink
    * commit log are exactly-once); wrap external writes inside
    * `foreachBatch` with it.
    */
  def withRetries[T](
      maxRetries: Int = 5,
      initialBackoffMs: Long = 5000L,
      capMs: Long = 60000L,
      retryable: Throwable => Boolean = _ => true,
      sleep: Long => Unit = Thread.sleep)(fn: => T): T = {
    var attempt = 0
    var backoff = initialBackoffMs
    while (true) {
      try return fn
      catch {
        case e: Throwable =>
          attempt += 1
          if (attempt > maxRetries || !retryable(e)) throw e
          sleep(math.min(backoff, capMs))
          backoff = math.min(backoff * 2, capMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Logs pipeline: JSON log events → MDC parse → LogRecord table,
    * dt-partitioned (logs-pipeline.yaml:5-15 has no routing).
    */
  def startLogs(spark: SparkSession, conf: Config): StreamingQuery = {
    val raw = jsonSource(spark, conf, Transforms.rawLogSchema)
    fileSink(Transforms.withDt(Transforms.projectLogRecords(raw), "logTime"), conf,
      Schemas.LogsTable)
  }

  /** Deep-schema logs pipeline: full Log4j2 JSON (nested level/instant,
    * MDC map, thrownProxy→causeProxy chain) → structured LogRecord table
    * with derived cause-chain diagnostics. Same narrow no-shuffle shape
    * as [[startLogs]]; the nested struct/map columns ride parquet's
    * nested encoding and prune columnar-ly at read.
    */
  def startLogsDeep(spark: SparkSession, conf: Config): StreamingQuery = {
    val raw = jsonSource(spark, conf, Transforms.rawLogSchemaDeep)
    fileSink(Transforms.withDt(Transforms.projectLogRecordsDeep(raw), "logTime"), conf,
      Schemas.LogsTable + "_deep")
  }

  /** Run a parsed [[PipelineConfig]] document as a LIVE pipeline: a
    * JSON file-stream source, the declared processor chain, then one
    * streaming query per declared opensearch sink, each writing its
    * routed subset to `conf.tablePath(<index>)`. This is the
    * config-driven twin of the hard-coded [[startMetrics]]/[[startLogs]]
    * planes — hand it the reference's metrics-pipeline.yaml parsed by
    * [[PipelineConfig.parse]] and the routing it declares runs as real
    * checkpointed streams.
    *
    * Each sink is an independent query with its own checkpoint (Data
    * Prepper's model too — sinks consume the routed stream
    * independently and fail/recover independently); the cost is one
    * source scan per sink, fine at the reference's 2-3 sinks. Routing
    * stays a pushed filter per sink — no shuffle is introduced.
    * `now` anchors a declared `date` processor (injectable for
    * deterministic tests, wall-clock in production).
    */
  def startConfigured(
      spark: SparkSession,
      pipeline: PipelineConfig.Config,
      conf: Config,
      schema: StructType,
      now: Option[java.sql.Timestamp] = None): Seq[StreamingQuery] = {
    // output path AND checkpoint dir derive from the index name — two
    // sinks declaring the same index would silently share a checkpoint
    // (each query would steal the other's offsets); fail fast instead
    val dup = pipeline.sinks.groupBy(_.index).collect {
      case (idx, ss) if ss.size > 1 => idx
    }
    require(dup.isEmpty,
      s"pipeline declares duplicate sink index(es): ${dup.mkString(", ")}" +
        " — sink paths and checkpoints are keyed by index name")
    pipeline.routedFrames(
      pipeline.applyProcessors(jsonSource(spark, conf, schema), now)
    ).map { case (index, df) => fileSink(df, conf, index, partitionCols = Nil) }
  }

  /** Generic content-routed ingest of an arbitrary keyed stream into a
    * partitioned table — used by the correctness harness to replay the
    * driver `events` table through a real checkpointed streaming write
    * (source→sink exactly-once), proving the sink path end-to-end.
    */
  def ingestPartitioned(
      spark: SparkSession,
      sourceGlob: String,
      schema: StructType,
      partitionCol: String,
      conf: Config): StreamingQuery = {
    val raw = sessionFor(spark, conf).readStream
      .schema(schema)
      .option("maxFilesPerTrigger", conf.maxFilesPerTrigger)
      .parquet(sourceGlob)
    fileSink(raw, conf, "ingested", Seq(partitionCol))
  }
}
