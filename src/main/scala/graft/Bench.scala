package graft
import org.apache.spark.sql.SparkSession

/** Bench main: one JSON line with per-query wall time. Failures are
  * REPORTED (per-query "err" map + failed count), never silently timed —
  * a broken query must not read as a fast query.
  *
  * Measurement design (round-4): accumulated JVM state (codegen classes /
  * metaspace growth, streaming-replay shutdown hooks, persist churn) made
  * single-JVM sequential passes read up to 40× slow for late queries —
  * round 2 reported a "warm" pass slower than cold, and round 3's cold
  * pass still taxed query N with the leftovers of queries 1..N-1. Now the
  * parent process FORKS A FRESH JVM PER QUERY GROUP (default 8 queries,
  * `SPARK_GRAFT_BENCH_GROUP`):
  *  - headline `value`/`queries` = each query's first execution in its
  *    group's fresh JVM — at most 7 predecessors of accumulation, and the
  *    number a fresh-session Profile run reproduces;
  *  - `steady_state`/`queries_warm` = per-query MIN over
  *    `SPARK_GRAFT_BENCH_WARM` (default 2) extra in-group passes, run in
  *    rotated order (min-of-N absorbs accumulated-state noise);
  *  - a child that dies or times out falls back to an in-process run of
  *    its group, so one bad query can't blank the whole bench
  *    (`SPARK_GRAFT_BENCH_FORK=0` forces the in-process path).
  * The stdout contract line stays SHORT (the collector keeps only a
  * bounded tail of stdout — round-3's ~3.5 KB line lost its head and
  * parsed as nothing); full detail goes to a sidecar file.
  */
object Bench {
  // Spark 4.x on JDK 17 module flags for the forked children: the
  // parent's own --add-opens arguments (build.sbt's javaOptions), since
  // ProcessBuilder children do not inherit them.
  private def parentAddOpens: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filter(_.startsWith("--add-opens"))
  }

  private def mkSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** cold, warm (min over passes), coldErr, warmErr per query name;
    * guardDropped = LSH band memberships the skew guard dropped across
    * all of this query's passes (silent-recall-loss flag for scale
    * sweeps), guardMax = the JVM's high-water bucket size when the
    * query finished.
    */
  final case class QRes(cold: Double, warm: Option[Double],
      coldErr: Option[String], warmErr: Option[String],
      guardDropped: Long = 0L, guardMax: Long = 0L)

  private def sanitize(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(120)
      .replaceAll("[\\x00-\\x1f|]", " ")

  /** Run `names` in one session: one cold pass then `warmPasses` rotated
    * passes; min-of-N warm. Shared by the child process and the
    * in-process fallback.
    */
  private def runGroup(spark: SparkSession, sfDir: String, names: Seq[String],
      warmPasses: Int): Map[String, QRes] = {
    val fns = SparkEntry.queries
    val guardDropped = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    def one(n: String): Either[String, Double] = {
      val before = graft.operators.GuardMetrics.snapshot()
      val persisted = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val r = try { fns(n)(spark, sfDir).count(); Right(()) }
        catch { case e: Throwable => Left(sanitize(e)) }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache() // release per-query persisted sig tables
      // UNTIMED inter-query JVM hygiene (round-12, measurement-isolation
      // fix): clearCache only drops CacheManager entries — localCheckpoint
      // block sets and driver-built broadcast hash relations are freed
      // only when ContextCleaner notices the dead references after a GC.
      // Round 11 proved cross-query contamination inside a group JVM
      // (untouched q123 ran 0.72 s at 8 cores vs 15.5 s at 32 in q122's
      // group). Reap leftover RDD blocks explicitly and give the cleaner
      // its GC so every query starts from a clean heap; timing of the
      // query itself is untouched. Only RDDs this query persisted are
      // reaped: a localCheckpoint block set is unrecoverable once dropped,
      // so anything persisted before the query stays.
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!persisted.contains(id)) rdd.unpersist(blocking = false)
      }
      System.gc()
      // attribute guard fires to this query: the listener rides the
      // async bus, so flush it (untimed) before reading the counters
      graft.operators.GuardMetrics.drainListenerBus(spark)
      guardDropped(n) += graft.operators.GuardMetrics.snapshot()
        .minus(before).droppedMemberships
      r.map(_ => dt)
    }
    val cold = names.map(n => n -> one(n)).toMap
    val warm = scala.collection.mutable.Map.empty[String, Double]
    val warmErr = scala.collection.mutable.Map.empty[String, String]
    for (p <- 1 to warmPasses) {
      val off = (p * names.size / (warmPasses + 1)) % math.max(names.size, 1)
      (names.drop(off) ++ names.take(off)).foreach { n =>
        one(n) match {
          case Right(dt) => warm(n) = math.min(warm.getOrElse(n, Double.MaxValue), dt)
          case Left(e)   => warmErr.getOrElseUpdate(n, e)
        }
      }
    }
    val guardMax = graft.operators.GuardMetrics.snapshot().maxBucketSeen
    names.map { n =>
      n -> QRes(
        cold = cold(n).getOrElse(Double.NaN),
        warm = warm.get(n),
        coldErr = cold(n).left.toOption,
        // a query that never completed a warm pass has no steady-state
        // claim — keep the error only if no pass succeeded
        warmErr = if (warm.contains(n)) None else warmErr.get(n),
        guardDropped = guardDropped(n),
        guardMax = guardMax)
    }.toMap
  }

  /** Child mode: run one group, write `name|cold|warm|coldErr|warmErr`
    * lines to the handoff file (pipe-delimited; sanitize strips pipes).
    */
  private def childMain(outPath: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "2").toInt
    val names = sys.env("SPARK_GRAFT_BENCH_QUERIES").split(",").toSeq
    val spark = mkSession()
    // absorb session/executor/JIT startup into the harness, not into the
    // group's first query: a tiny scan + shuffle warms the scheduler,
    // parquet reader and exchange paths (~4-5 s otherwise billed to the
    // group leader)
    try {
      spark.read.parquet(s"$sfDir/region.parquet").count()
      spark.range(1000).repartition(4).selectExpr("sum(id)").collect()
      // the first streaming query in a JVM also pays the streaming
      // runtime's class loading (~2 s) — absorb it here too
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      val ms = MemoryStream[Int]
      ms.addData(1, 2, 3)
      val q = ms.toDF().writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    } catch { case _: Throwable => () }
    val res = runGroup(spark, sfDir, names, warmPasses)
    val lines = names.map { n =>
      val r = res(n)
      s"$n|${r.cold}|${r.warm.getOrElse("")}|${r.coldErr.getOrElse("")}|${r.warmErr.getOrElse("")}|${r.guardDropped}|${r.guardMax}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      lines.mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Fork one child JVM for a group; None on any failure (spawn error,
    * nonzero exit, timeout, unparseable handoff).
    */
  private def forkGroup(names: Seq[String], timeoutMin: Long): Option[Map[String, QRes]] = {
    try {
      val out = java.nio.file.Files.createTempFile("graft-bench-", ".psv")
      val log = java.nio.file.Files.createTempFile("graft-bench-", ".log")
      val java17 = java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString
      val heap = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
      val cmd: Seq[String] =
        Seq(java17) ++ parentAddOpens ++ Seq(
          s"-Xmx$heap", "-Dspark.ui.enabled=false",
          "-Dspark.sql.session.timeZone=UTC",
          "-cp", sys.props("java.class.path"), "graft.Bench")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", out.toString)
      pb.environment().put("SPARK_GRAFT_BENCH_QUERIES", names.mkString(","))
      // child stdout/stderr must NOT reach parent stdout (the contract
      // line is the only stdout the collector should see)
      pb.redirectErrorStream(true)
      pb.redirectOutput(log.toFile)
      val proc = pb.start()
      val done = proc.waitFor(timeoutMin, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) { proc.destroyForcibly(); proc.waitFor(); return None }
      if (proc.exitValue() != 0) {
        System.err.println(s"[bench] child for ${names.head}.. exited ${proc.exitValue()}; log tail:")
        val logLines = java.nio.file.Files.readAllLines(log)
        logLines.subList(math.max(0, logLines.size - 20), logLines.size)
          .forEach(l => System.err.println(s"[bench]   $l"))
        return None
      }
      val parsed = java.nio.file.Files.readAllLines(out).toArray(Array.empty[String])
        .filter(_.nonEmpty).map { line =>
          val f = line.split("\\|", -1)
          f(0) -> QRes(f(1).toDouble,
            if (f(2).isEmpty) None else Some(f(2).toDouble),
            if (f(3).isEmpty) None else Some(f(3)),
            if (f(4).isEmpty) None else Some(f(4)),
            guardDropped = if (f.length > 5) f(5).toLong else 0L,
            guardMax = if (f.length > 6) f(6).toLong else 0L)
        }.toMap
      if (names.forall(parsed.contains)) Some(parsed) else None
    } catch { case e: Throwable =>
      System.err.println(s"[bench] fork failed: ${e.getMessage}"); None
    }
  }

  def main(args: Array[String]): Unit = {
    sys.env.get("SPARK_GRAFT_BENCH_CHILD") match {
      case Some(out) => childMain(out)
      case None      => parentMain()
    }
  }

  /** Un-timed page-cache prime: stream every byte under sfDir once so
    * the timed "cold" numbers measure plan execution, not disk weather
    * — round 4's official cold total doubled (724.7 vs 373.8 s, same
    * commit) purely because the first run after a data drop paid
    * first-touch parquet I/O. The OS page cache is machine-wide, so one
    * parent-side prime covers every forked child. Returns
    * (bytes, seconds); a slow prime is REPORTED as disk_cold so
    * cross-round cold comparisons can discount the weather.
    */
  private def primeFileCache(sfDir: String): (Long, Double) = {
    val t0 = System.nanoTime()
    var bytes = 0L
    try {
      val buf = new Array[Byte](1 << 20)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(sfDir))
      try {
        val it = walk.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (java.nio.file.Files.isRegularFile(p)) {
            val in = java.nio.file.Files.newInputStream(p)
            try {
              var n = in.read(buf)
              while (n >= 0) { bytes += n; n = in.read(buf) }
            } finally in.close()
          }
        }
      } finally walk.close()
    } catch { case _: Throwable => () }
    (bytes, (System.nanoTime() - t0) / 1e9)
  }

  /** Parse a SPARK_GRAFT_BENCH_ONLY list. Unknown names FAIL the run —
    * a typo silently shrinking the sweep would read as a successful
    * (and suspiciously fast) benchmark.
    */
  private[graft] def resolveBenchOnly(only: String): Seq[String] = {
    val names = only.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
        s"${unknown.mkString(", ")}")
    names.sorted
  }

  private def parentMain(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "2").toInt
    val groupSize = sys.env.getOrElse("SPARK_GRAFT_BENCH_GROUP", "8").toInt
    val doFork = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK", "1") != "0"
    // SPARK_GRAFT_BENCH_ONLY bounds a sweep to named queries (the scale
    // sweeps bench the cliff-prone families, not all 282 at 30x)
    val ordered = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(resolveBenchOnly)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val groups = ordered.grouped(math.max(groupSize, 1)).toSeq
    val (primeBytes, primeSec) = primeFileCache(sfDir)
    // cold disk: the prime itself ran below ~1 GB/s — the data was NOT
    // already in the page cache when the bench started
    val diskCold = primeSec > math.max(0.5, primeBytes / 1e9)

    // in-process fallback session is created lazily — when every fork
    // succeeds the parent never starts Spark at all — and stopped at the
    // end so its non-daemon threads can't hang the exit
    var fallback: Option[SparkSession] = None
    def fallbackSession = fallback.getOrElse { val s = mkSession(); fallback = Some(s); s }
    val results: Map[String, QRes] = groups.flatMap { g =>
      // scale sweeps need a longer leash: at sf10 a single graph or
      // output-bound query can legitimately run 10+ minutes per pass
      val timeoutMin = sys.env.getOrElse("SPARK_GRAFT_BENCH_TIMEOUT_MIN", "20").toLong
      val forked = if (doFork) forkGroup(g, timeoutMin) else None
      forked.getOrElse(runGroup(fallbackSession, sfDir, g, warmPasses))
    }.toMap

    val cold = ordered.map(n => n -> results(n).cold)
    val coldErrors = ordered.flatMap(n => results(n).coldErr.map(n -> _)).toMap
    val warmErrors = ordered.flatMap(n => results(n).warmErr.map(n -> _)).toMap
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""
    def r3(v: Double) = math.rint(v * 1000) / 1000 // ms precision keeps the line short
    def jmap(m: Seq[(String, Double)]) =
      m.map { case (k, v) => jstr(k) + ":" + r3(v) }.mkString("{", ",", "}")
    def jsmap(m: Iterable[(String, String)]) =
      m.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val qs = jmap(cold)
    val qsWarm = jmap(cold.map { case (n, c) => n -> results(n).warm.getOrElse(c) })
    val total = r3(cold.map(_._2).sum)
    val steady = r3(cold.map { case (n, c) => results(n).warm.getOrElse(c) }.sum)
    // silent-recall-loss surface: per-query dropped LSH band memberships
    // (only queries whose guard FIRED appear) + the fleet-wide totals, so
    // a scale sweep auto-flags guard-driven recall loss from the detail
    // JSON instead of someone having to read executor logs
    val guardFired = ordered.map(n => n -> results(n).guardDropped).filter(_._2 > 0)
    val guards = guardFired.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val guardTotal = guardFired.map(_._2).sum
    val guardMaxBucket = ordered.map(n => results(n).guardMax).foldLeft(0L)(math.max)
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""steady_state":$steady,"queries_warm":$qsWarm,""" +
        s""""failed":${coldErrors.size},"errors":${jsmap(coldErrors)},""" +
        s""""warm_failed":${warmErrors.size},"errors_warm":${jsmap(warmErrors)},""" +
        s""""guards":$guards,"guard_dropped_total":$guardTotal,""" +
        s""""guard_max_bucket":$guardMaxBucket,""" +
        s""""disk_cold":$diskCold,"prime_sec":${r3(primeSec)},""" +
        s""""prime_mb":${primeBytes / 1000000},"sf":"$sfDir"}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "bench_detail.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), detail + "\n")
    catch { case _: Throwable => () }
    // Contract line must survive the collector's bounded stdout tail
    // (~2000 chars, round 2/3 lost the head of a full per-query map), so
    // it carries totals + the slowest-12 and points at the sidecar for
    // the rest. Keep it comfortably under ~1500 chars.
    val slow = jmap(cold.sortBy(-_._2).take(12))
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${ordered.size},"steady_state":$steady,"failed":${coldErrors.size},"warm_failed":${warmErrors.size},"guard_dropped":$guardTotal,"disk_cold":$diskCold,"slowest":$slow,"errors":${jsmap(coldErrors.take(4))},"detail":"$detailPath","sf":"$sfDir"}""")
    fallback.foreach(_.stop())
  }
}
