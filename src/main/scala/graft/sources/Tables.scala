package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet test tables (TESTDATA.md).
  *
  * Reads are V1 file-source scans (`Scan parquet` over an
  * `InMemoryFileIndex` in `.explain`, see PLANS.md) that prune columns
  * and push predicates down at the scan (`ReadSchema`, `PushedFilters`).
  * At cluster scale these would be catalog tables partitioned by
  * date/appId; the query layer only depends on the DataFrame, not the
  * physical layout.
  *
  * Schema once per file version: a bare `spark.read.parquet` infers the
  * schema with a one-task Spark job (footer merge) on every call, and
  * dashboard panels reload the same unchanged tables. [[apply]] keeps,
  * per qualified table path, the schema Spark inferred and the key it
  * was inferred under, and reads with that schema while the key holds.
  * The key is the name, length and modification time of every leaf file
  * under the path plus the session's inference settings (every
  * `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*` value and
  * `spark.sql.caseSensitive`; `nanosAsLong` decides the type of
  * `events.ts`). Any change to the files or the settings infers again,
  * exactly as an uncached read does, and replaces the path's entry. An
  * entry holds the schema and its key only, never a plan or file index.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor
    * (region 5 rows, nation 25 rows — fixed-size in TPC-H).
    */
  val broadcastable: Set[String] = Set("region", "nation")

  private final case class SchemaKey(
      files: Seq[(String, Long, Long)],
      settings: Map[String, String])

  private final case class Inferred(key: SchemaKey, schema: StructType)

  private val inferred = new ConcurrentHashMap[String, Inferred]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a path that cannot be listed is read bare, so Spark raises its own
    // PATH_NOT_FOUND (or resolves a glob) exactly as without the cache
    if (!fs.exists(hPath)) return spark.read.parquet(path)
    val qualified = fs.makeQualified(hPath).toString
    // the key is taken BEFORE inference: files replaced while Spark
    // infers leave a stale key behind, which the next read misses
    val key = SchemaKey(leafFiles(fs, hPath), inferenceSettings(spark))
    Option(inferred.get(qualified)).filter(_.key == key) match {
      case Some(hit) => spark.read.schema(hit.schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        inferred.put(qualified, Inferred(key, df.schema))
        df
    }
  }

  private def leafFiles(fs: FileSystem, path: Path): Seq[(String, Long, Long)] = {
    val it = fs.listFiles(path, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sorted
  }

  private def inferenceSettings(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }

  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  /** The events table stores `ts` as parquet TIMESTAMP(NANOS) which Spark
    * has no native type for; with `spark.sql.legacy.parquet.nanosAsLong`
    * (set once at session bootstrap — Verify/Bench/test builders — NOT
    * mutated here) the column arrives as nano longs, floor-converted to
    * microseconds — the same conversion DuckDB applies reading nanos into
    * its microsecond timestamps, so oracle results align. Floor (not
    * truncate-toward-zero) so pre-epoch nanos would still bucket left.
    */
  // Defensive set-if-absent for externally-built sessions (the nanos
  // flag is required to read a nanos-encoded events file at all); our
  // own entry points set it at session build so this is a no-op there.
  private def ensureNanosFlag(spark: SparkSession): Unit =
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").isEmpty) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }

  def events(spark: SparkSession, dir: String): DataFrame = {
    ensureNanosFlag(spark)
    normalizeEventTs(apply(spark, dir, "events"))
  }

  /** On-disk schema of the events file. Streaming file sources require
    * an explicit schema; deriving it from a static read keeps streams
    * in lockstep with whatever ts encoding the data generator used.
    * Carries the same nanos guard as [[events]] — a streaming query can
    * be the FIRST events access in an externally-built session.
    */
  def eventsFileSchema(spark: SparkSession, dir: String): StructType = {
    ensureNanosFlag(spark)
    apply(spark, dir, "events").schema
  }

  /** Normalize a raw events frame (static or streaming, any on-disk ts
    * encoding) to the canonical instant-typed `ts` (TIMESTAMP_LTZ).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      // nanos-as-long: floor (not truncate-toward-zero) so pre-epoch
      // nanos still bucket left — the same conversion DuckDB applies
      // reading nanos into its microsecond timestamps.
      df.withColumn("ts", org.apache.spark.sql.functions.expr(
        "timestamp_micros(ts div 1000 - (case when ts % 1000 < 0 then 1 else 0 end))"))
    case org.apache.spark.sql.types.TimestampNTZType =>
      // Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
      // TIMESTAMP_NTZ under Spark 4's NTZ inference. All sessions here
      // run with session tz UTC, so casting to the instant type maps
      // the same wall-clock values to the same UTC instants the nanos
      // path produced — and instant-only functions (unix_millis,
      // window(), watermarks) keep working unchanged.
      df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
        .cast(org.apache.spark.sql.types.TimestampType))
    case _ => df
  }

  /** One sentinel event row (event_id/user_id = -1) at epoch-ms `tsMs`,
    * with `ts` typed to match `schema`'s on-disk encoding so the row can
    * land in the same streaming spool as generator files (watermark
    * advancement in the availableNow replay harnesses).
    */
  def eventSentinel(
      spark: SparkSession,
      schema: StructType,
      tsMs: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = Seq((-1L, tsMs, -1L, "sentinel", 0.0, "{}"))
      .toDF("event_id", "ms", "user_id", "event_type", "value", "props")
    val tsCol = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ms") * 1000000L
      case org.apache.spark.sql.types.TimestampNTZType =>
        // session tz is UTC everywhere here, so LTZ→NTZ keeps the instant
        timestamp_millis(col("ms")).cast(org.apache.spark.sql.types.TimestampNTZType)
      case _ => timestamp_millis(col("ms"))
    }
    base.select(col("event_id"), tsCol.as("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
