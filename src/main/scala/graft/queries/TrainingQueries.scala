package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.text.TextAnalysis

/** Round-5 operator surface: LLM training-batch assembly (next-fit
  * sequence packing, token-budget selection, mixture planning, quality
  * retention sweeps) and operational monitoring (threshold alerting
  * with incident merge, stage straggler audit). Same conventions as
  * [[PipelineQueries]]: integer-exact (or 6-decimal-rounded) outputs,
  * DuckDB oracle per entry, column names/types matched for the
  * driver's hash compare.
  */
object TrainingQueries {

  /** DuckDB mirror of TextAnalysis.tokenCount (blank → 0 guard). */
  private val tokSql =
    """CASE WHEN length(trim(text)) = 0 THEN 0
      |      ELSE len(string_split_regex(trim(text), '\s+')) END""".stripMargin

  /** DuckDB mirror of TextAnalysis.qualityScore — identical operation
    * order to q21's oracle (alphabetic density, en-stopword presence,
    * length saturation; round to 6 decimals so the doubles compare
    * byte-equal across engines).
    */
  private lazy val qualitySql: String = {
    val sEn = TextAnalysis.langProfiles.head._2
      .map(w => s"len(regexp_extract_all(text, '\\b$w\\b'))").mkString(" + ")
    s"""round((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
       |   / CAST(greatest(length(text), 1) AS DOUBLE) * 0.4
       | + least(($sEn) * 5.0 / CAST(greatest(toks, 1) AS DOUBLE), 1.0) * 0.3
       | + least(CAST(greatest(toks, 1) AS DOUBLE) / 100.0, 1.0) * 0.3, 6)""".stripMargin
  }

  // ---------------------------------------------------------------- q183

  // Next-fit sequence packing for fine-tuning batches: documents are
  // hashed into 16 shards and packed into 512-token bins WITHOUT
  // splitting any document (Packing.nextFit — contrast q57's
  // tokenShards, which cuts mid-document). The per-shard walk is a
  // sequential recurrence the oracle replays with a recursive CTE over
  // ranked rows; output is the per-shard packing efficiency summary.
  def q183NextFitPack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", ($"doc_id" % 16).as("shard"),
        TextAnalysis.tokenCount($"text").as("toks"))
    graft.operators.Packing.nextFit(docs, "shard", "doc_id", "toks", capacity = 512L)
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), (max($"bin") + 1L).as("n_bins"),
        sum($"toks").as("sum_tokens"), max($"fill").as("max_fill"))
      .select($"shard", $"n_docs", $"n_bins", $"sum_tokens", $"max_fill",
        expr("sum_tokens * 1000000 div (n_bins * 512)").as("util_ppm"))
      .orderBy($"shard")
  }

  // ---------------------------------------------------------------- q184

  // Token-budget data selection: rank the corpus by quality score
  // (best first, doc_id tiebreak) and keep documents until half the
  // corpus' tokens are spent. The global running sum is the
  // DISTRIBUTED two-phase PrefixSum — never a single-partition window
  // — and descending order is expressed as ascending on the negated
  // score. Output: per-source selection rates.
  def q184BudgetSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Tables.documents(s, dir)
      .select($"doc_id", $"source",
        TextAnalysis.tokenCount($"text").as("toks"),
        TextAnalysis.qualityScore($"text").as("q"))
    val ranked = graft.operators.PrefixSum.runningSum(
      scored.withColumn("negq", -$"q"), Seq("negq", "doc_id"), "toks", "cum")
    val tot = scored.agg(sum($"toks").as("total"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("sel", $"cum" * 2 <= $"total")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("sum_tokens"),
        sum(when($"sel", 1L).otherwise(0L)).as("n_selected"),
        coalesce(sum(when($"sel", $"toks")), lit(0L)).as("sel_tokens"))
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- q185

  // Threshold alerting with incident merge (the monitor → alert →
  // incident pipeline): hourly event counts per type breach at n >= 4;
  // breach episodes separated by at most one quiet hour merge into one
  // incident; an incident must span >= 2 breach hours to fire. The
  // lag/cumsum windows run over the HOURLY aggregate, whose size is
  // bounded by the time range (720 h/month per type), not the data —
  // at 100 TB the per-type series length is unchanged.
  def q185AlertIncidents(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = Tables.events(s, dir)
      .groupBy($"event_type", expr("unix_millis(ts) div 3600000").as("hr"))
      .agg(count(lit(1)).as("n"))
    alertIncidents(h)
  }

  /** Shared breach → merge → incident derivation over an hourly
    * (event_type, hr, n) frame; used by the batch (q185) and streaming
    * (q193) alerting paths so both share one oracle.
    */
  private[queries] def alertIncidents(h: DataFrame): DataFrame = {
    val s = h.sparkSession
    import s.implicits._
    val wOrd = Window.partitionBy($"event_type").orderBy($"hr")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val g = h.filter($"n" >= 4)
      .withColumn("prev", lag($"hr", 1).over(wOrd))
      .withColumn("new_inc",
        when($"prev".isNull || $"hr" - $"prev" > 2, 1L).otherwise(0L))
      .withColumn("inc", sum($"new_inc").over(wCum))
      .groupBy($"event_type", $"inc")
      .agg(count(lit(1)).as("bh"), (max($"hr") - min($"hr") + 1).as("dur"),
        max($"n").as("peak"))
      .filter($"bh" >= 2)
    h.select($"event_type").distinct()
      .join(g, Seq("event_type"), "left")
      .groupBy($"event_type")
      .agg(count($"inc").as("n_incidents"),
        coalesce(max($"dur"), lit(0L)).as("max_dur_hours"),
        coalesce(sum($"bh"), lit(0L)).as("breach_hours"),
        coalesce(max($"peak"), lit(0L)).as("peak_hourly"))
      .orderBy($"event_type")
  }

  // --------------------------------------------------------------- q193

  // The alerting pipeline's STREAMING plane: the same hourly breach
  // counts as q185, but computed by a watermarked event-time windowed
  // aggregation over a real checkpointed stream (q54's two-run/one-
  // checkpoint sentinel harness — run 2 executes with run 1's persisted
  // watermark, which is what flushes every real window). The incident
  // derivation then runs over the SINK, and the oracle is byte-for-byte
  // q185's: any lost window, double emission, or premature flush breaks
  // the hash.
  def q193StreamAlerts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = Tables.eventsFileSchema(s, dir)
    val tmp = PipelineQueries.tempDir("graft-q193")
    val spool = java.nio.file.Files.createDirectories(tmp.resolve("spool"))
    java.nio.file.Files.createSymbolicLink(
      spool.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val maxMs = Tables.events(s, dir).agg(max(unix_millis($"ts"))).head().getLong(0)
    def sentinel(offMs: Long): Unit = {
      val dir1 = tmp.resolve(s"sentinel-$offMs")
      Tables.eventSentinel(s, schema, maxMs + offMs)
        .coalesce(1).write.parquet(dir1.toString)
      val listing = java.nio.file.Files.list(dir1)
      try {
        val part = listing.iterator()
        while (part.hasNext) {
          val p = part.next()
          if (p.getFileName.toString.endsWith(".parquet"))
            java.nio.file.Files.copy(p, spool.resolve(s"sentinel-$offMs.parquet"))
        }
      } finally listing.close()
    }
    val s2 = graft.ingest.Pipelines.streamingSession(s, "spark.sql.shuffle.partitions" -> "8")
    def run(): Unit = {
      val raw = s2.readStream.schema(schema)
        .option("maxFilesPerTrigger", 100000).parquet(spool.toString)
      Tables.normalizeEventTs(raw)
        .withWatermark("ts", "1 minute")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"))
        .select($"event_type", unix_millis($"window.start").as("win_ms"), $"n")
        .writeStream.format("parquet")
        .option("path", s"$tmp/tables/hourly")
        .option("checkpointLocation", s"$tmp/ckpt/hourly")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    sentinel(86400000L)
    run()
    sentinel(2L * 86400000L)
    run()
    val hourly = s.read.parquet(s"$tmp/tables/hourly")
      .filter($"event_type" =!= "sentinel")
      .select($"event_type", expr("win_ms div 3600000").as("hr"), $"n")
    alertIncidents(hourly)
  }

  // ---------------------------------------------------------------- q186

  // Pretraining mixture plan: given per-source token inventories and
  // target mixture weights (deterministic function of the source id so
  // both engines recompute them), apportion a 10M-token training budget
  // and report the implied epoch count per source — the "how many
  // passes over each corpus" planning table. Metadata-scale integer
  // math throughout (one row per source).
  def q186MixturePlan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = Tables.documents(s, dir)
      .groupBy($"source")
      .agg(sum(TextAnalysis.tokenCount($"text")).as("src_tokens"))
      .withColumn("weight",
        lit(20000L) + lit(60000L) * (substring($"source", 4, 10).cast("long") % 3))
    val wsum = src.agg(sum($"weight").as("wsum"))
    src.crossJoin(broadcast(wsum))
      .select($"source", $"src_tokens", $"weight",
        expr("10000000 * weight div wsum").as("planned_tokens"),
        expr("(10000000 * weight div wsum) * 1000000 div src_tokens").as("epochs_ppm"))
      .withColumn("oversampled", $"epochs_ppm" > 1000000L)
      .orderBy($"source")
  }

  // ---------------------------------------------------------------- q187

  // Quality-threshold retention sweep: corpus deciled by quality score
  // via the distributed GlobalRank (never a global ntile window), then
  // cumulative docs/tokens retained from the best decile down — the
  // "where do we set the filter cutoff" curve. The cumulative window
  // runs over the 10-row decile aggregate only.
  def q187QualitySweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Tables.documents(s, dir)
      .select($"doc_id",
        TextAnalysis.tokenCount($"text").as("toks"),
        TextAnalysis.qualityScore($"text").as("q"))
    val ranked = graft.operators.GlobalRank.rowNumber(
      scored.withColumn("negq", -$"q"), Seq("negq", "doc_id"), "rk")
    val tot = scored.agg(count(lit(1)).as("n"), sum($"toks").as("tot_toks"))
    val byDecile = ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("(rk - 1) * 10 div n + 1"))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("dec_tokens"))
    val w10 = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile.crossJoin(broadcast(tot.select($"tot_toks")))
      .withColumn("cum_docs", sum($"n_docs").over(w10))
      .withColumn("cum_tokens", sum($"dec_tokens").over(w10))
      .select($"decile", $"n_docs", $"dec_tokens", $"cum_docs", $"cum_tokens",
        expr("cum_tokens * 1000000 div tot_toks").as("retained_ppm"))
      .orderBy($"decile")
  }

  // ---------------------------------------------------------------- q188

  // Stage straggler audit (the observability counterpart of the skew
  // dashboards): deterministic task durations per stage, exact lower
  // median via the value-domain-compressed rank pick (q172's shape —
  // the duration domain is 997 values, so per-stage windows run over
  // <= 997 rows regardless of data scale), stragglers = tasks slower
  // than 2x the stage median, skew = max/median in ppm.
  def q188StragglerAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.events(s, dir)
      .filter($"user_id".isNotNull && $"user_id" >= 0 && $"event_id".isNotNull)
      .select(($"user_id" % 10).as("stage"), ($"event_id" % 997 + 1).as("dur"))
      .groupBy($"stage", $"dur")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"stage").orderBy($"dur")
    val wT = Window.partitionBy($"stage")
    val rp = expr("(n - 1) div 2 + 1")
    val med = c.withColumn("hi", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(wT))
      .withColumn("lo", $"hi" - $"cnt")
      .groupBy($"stage", $"n")
      .agg(max(when($"lo" < rp && rp <= $"hi", $"dur")).as("med"),
        max($"dur").as("max_dur"))
    c.join(broadcast(med), "stage")
      .groupBy($"stage", $"n", $"med", $"max_dur")
      .agg(coalesce(sum(when($"dur" > $"med" * 2, $"cnt")), lit(0L)).as("n_stragglers"))
      .select($"stage", $"n".as("n_tasks"), $"med".as("med_ms"),
        $"max_dur".as("max_ms"), $"n_stragglers",
        expr("max_dur * 1000000 div med").as("skew_ppm"))
      .orderBy($"stage")
  }

  // ---------------------------------------------------------------- q189

  // Tokenizer-vocabulary coverage curve: rank corpus tokens by
  // frequency and report how much of the token stream a vocabulary of
  // the top 5 / 10 / 20 types would cover (the synthetic corpus has ~31
  // types; a real corpus would cut at 2^15..2^18) — the "how big must
  // the vocab be" planning curve. Ranking is the distributed GlobalRank
  // and the cumulative mass the distributed PrefixSum; no window ever
  // sees the raw token stream.
  def q189VocabCurve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .filter(length(trim($"text")) > 0)
      .select(explode(split(trim($"text"), "\\s+")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
    val ranked = graft.operators.GlobalRank.rowNumber(
      toks.withColumn("negCnt", -$"cnt"), Seq("negCnt", "token"), "rk")
    val cum = graft.operators.PrefixSum.runningSum(ranked, Seq("rk"), "cnt", "cum")
    val tot = toks.agg(sum($"cnt").as("total"), count(lit(1)).as("n_vocab"))
    cum.filter($"rk".isin(5L, 10L, 20L))
      .crossJoin(broadcast(tot))
      .select($"rk".as("vocab_size"), $"cum".as("covered_tokens"),
        $"total", $"n_vocab",
        expr("cum * 1000000 div total").as("coverage_ppm"))
      .orderBy($"vocab_size")
  }

  // ---------------------------------------------------------------- q190

  // SLO error-budget burn rate (the SRE alerting arithmetic): daily
  // error rates against a 250 000 ppm availability SLO, with a 7-day
  // RANGE window for the slow-burn signal. The rolling window runs
  // over the DAILY aggregate (30 rows/month — time-bounded, not
  // data-bounded), exact integer ppm throughout.
  def q190SloBurn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val slo = 250000L
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when($"event_type" === "error", 1L).otherwise(0L)).as("n_err"))
    val w7 = Window.orderBy($"day").rangeBetween(-6, 0)
    daily
      .withColumn("n7", sum($"n").over(w7))
      .withColumn("err7", sum($"n_err").over(w7))
      .select($"day", $"n", $"n_err",
        expr("n_err * 1000000 div n").as("rate_ppm"),
        expr("err7 * 1000000 div n7").as("rate7_ppm"),
        expr(s"(n_err * 1000000 div n) * 1000000 div $slo").as("burn1_ppm"),
        expr(s"(err7 * 1000000 div n7) * 1000000 div $slo").as("burn7_ppm"))
      .withColumn("alert",
        $"rate_ppm" > lit(slo) && $"rate7_ppm" > lit(slo))
      .orderBy($"day")
  }

  // ---------------------------------------------------------------- q191

  // Classifier evaluation against gold labels (the labeling-pipeline
  // QA table): a deterministic pseudo-classifier (hash-flipped gold)
  // scored per class — tp/fp/fn, precision/recall/F1 in exact ppm.
  // One aggregation over the label pairs; the class table is
  // cardinality-10, so every join broadcasts.
  def q191ClassifierEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Tables.embeddings(s, dir)
      .select($"vec_id", $"label".cast("long").as("gold"))
      .withColumn("pred",
        when($"vec_id" % 7 === 0, ($"gold" + 1 + $"vec_id" % 9) % 10)
          .otherwise($"gold"))
    val byGold = scored.groupBy($"gold".as("label"))
      .agg(count(lit(1)).as("n_gold"),
        sum(when($"pred" === $"gold", 1L).otherwise(0L)).as("tp"))
    val byPred = scored.groupBy($"pred".as("label"))
      .agg(count(lit(1)).as("n_pred"))
    byGold.join(broadcast(byPred), Seq("label"), "left")
      .select($"label", $"n_gold", $"tp",
        (coalesce($"n_pred", lit(0L)) - $"tp").as("fp"),
        ($"n_gold" - $"tp").as("fn"))
      .select($"label", $"n_gold", $"tp", $"fp", $"fn",
        expr("tp * 1000000 div greatest(tp + fp, 1)").as("prec_ppm"),
        expr("tp * 1000000 div greatest(tp + fn, 1)").as("rec_ppm"),
        expr("2 * tp * 1000000 div greatest(2 * tp + fp + fn, 1)").as("f1_ppm"))
      .orderBy($"label")
  }

  // ---------------------------------------------------------------- q192

  // ANN quality harness: recall@10 of the SRP-LSH candidate path
  // against the exact brute-force ranking, per query vector — the
  // "is the index good enough" gate run before shipping an index
  // configuration. Exact side = Similarity.knnJoin (rounded-cosine
  // rank, engine-portable); ANN side = the same signature/Hamming
  // prefilter the production index uses. Brute force is the ground
  // truth DEFINITION here and is bounded by |queries| x corpus — the
  // eval runs on a sample, never the full corpus against itself.
  def q192AnnRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.similarity.Similarity
    val bits = 12
    val maxHamming = 3
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val exact = Similarity.knnJoin(emb, "vec_id", "embedding", queries, 10)
      .select($"qid", $"vec_id")
    val planes = Similarity.hyperplanes(bits, 64)
    val sigged = emb
      .withColumn("__v", Similarity.toDoubleVec($"embedding"))
      .withColumn("__sig", Similarity.srpSignature($"__v", planes))
    val qs = queries
      .withColumn("__qv", Similarity.toDoubleVec($"qvec"))
      .withColumn("__qsig", Similarity.srpSignature($"__qv", planes))
      .select($"qid", $"__qv", $"__qsig")
    val cand = sigged.crossJoin(broadcast(qs))
      .filter(call_function("bit_count",
        $"__sig".bitwiseXOR($"__qsig")) <= maxHamming)
      .withColumn("cos", round(Similarity.cosine($"__v", $"__qv"), 6))
    val ann = graft.operators.TopK.perGroup(
        cand, Seq($"qid"), Seq($"cos".desc, $"vec_id"), 10)
      .select($"qid", $"vec_id")
    val hits = ann.join(broadcast(exact), Seq("qid", "vec_id"))
      .groupBy($"qid").agg(count(lit(1)).as("n_hits"))
    cand.groupBy($"qid").agg(count(lit(1)).as("n_cands"))
      .join(broadcast(hits), Seq("qid"), "left")
      .select($"qid", $"n_cands",
        coalesce($"n_hits", lit(0L)).as("n_hits"),
        expr("coalesce(n_hits, 0) * 1000000 div 10").as("recall_ppm"))
      .orderBy($"qid")
  }

  // ---------------------------------------------------------------- q194

  // REAL audio decode through the multimodal plane: 20 planted PCM16
  // WAVs (rate/channels/frames closed-form functions of the id) parsed
  // by Multimodal.decodeWavHeader — a pure RIFF chunk walk, no codec
  // dependency — inside the mapPartitions batch stage. The oracle
  // recomputes every field from the id alone, so a misread header or a
  // silent stub fallback breaks the hash (q182's convention for audio).
  def q194AudioDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = (1L to 20L).map { id =>
      val sr = 8000 * (1 + (id % 3)).toInt
      val ch = 1 + (id % 2).toInt
      val frames = (1000 + id * 37).toInt
      (id, graft.multimodal.Multimodal.syntheticWav(sr, ch, frames))
    }
    val media = planted.toDF("media_id", "content")
    graft.multimodal.Multimodal.decodeAudioMeta(media).toDF()
      .select($"mediaId".as("media_id"),
        $"sampleRate".cast("long").as("sample_rate"),
        $"channels".cast("long").as("channels"),
        $"bitsPerSample".cast("long").as("bits"),
        $"nFrames".as("n_frames"),
        $"durationMs".as("duration_ms"),
        $"format")
      .orderBy($"media_id")
  }

  // ---------------------------------------------------------------- q195

  // Rolling metric anomaly gate (3-sigma over a trailing window): per
  // event type, a day is anomalous when its count deviates from the
  // TRAILING 7-day window (current day excluded) by more than 3 sigma,
  // tested exactly as (n*k - S)^2 > 9*(k*Q - S^2) with the squared
  // terms in DECIMAL(38,0) — operands cast BEFORE multiplying (the
  // KsTest lesson), so the engines agree at any count magnitude. Edge
  // rule: only full 7-day windows can flag. Windows run over the daily
  // aggregate (time-bounded).
  def q195RollingAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type", expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"event_type").orderBy($"day").rangeBetween(-7, -1)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    daily
      .withColumn("k", count($"n").over(w))
      .withColumn("s", coalesce(sum($"n").over(w), lit(0L)))
      .withColumn("q", coalesce(sum($"n" * $"n").over(w), lit(0L)))
      .withColumn("anomaly", $"k" === 7 &&
        dec($"n" * $"k" - $"s") * dec($"n" * $"k" - $"s") >
          (dec($"k") * dec($"q") - dec($"s") * dec($"s")) * lit(9))
      .select($"event_type", $"day", $"n", $"k".cast("long").as("k"),
        $"s".as("s_prev"), $"anomaly")
      .orderBy($"event_type", $"day")
  }

  // ---------------------------------------------------------------- q196

  // Capacity forecast: exact-integer OLS trend over the daily event
  // count (q115's sufficient-stats convention, x re-based to day 0 so
  // the products stay small), slope and the 7-days-out prediction in
  // milli-events via the rational closed form pred*n*D = Sy*D - N*Sx +
  // n*N*x. Signed divisions are sign-explicit (q126's convention) so
  // truncating-vs-flooring DuckDB builds agree. Int64 envelope: safe
  // while n_days * |N| * x < ~9e15 (documented, like AbTest).
  def q196CapacityForecast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("y"))
    val d0 = daily.agg(min($"day").as("d0"))
    val st = daily.crossJoin(broadcast(d0))
      .select(($"day" - $"d0").as("x"), $"y")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
    st.select($"n", $"sy",
        ($"n" * $"sxy" - $"sx" * $"sy").as("nn"),
        ($"n" * $"sxx" - $"sx" * $"sx").as("dd"), $"sx")
      .select($"n".as("n_days"), $"sy".as("total_events"),
        expr("""CASE WHEN nn < 0 THEN -((-nn * 1000) div dd)
                |     ELSE (nn * 1000) div dd END""".stripMargin).as("slope_milli"),
        expr("""CASE WHEN sy * dd - nn * sx + n * nn * (n + 6) < 0
                |     THEN -((-(sy * dd - nn * sx + n * nn * (n + 6)) * 1000) div (n * dd))
                |     ELSE ((sy * dd - nn * sx + n * nn * (n + 6)) * 1000) div (n * dd)
                |END""".stripMargin).as("pred7_milli"))
  }

  // ---------------------------------------------------------------- q197

  // Ranker-agreement audit: Spearman rank correlation between the
  // TF-IDF (q64) and BM25 (q96) top-20 rankings for the same query —
  // the "did swapping the ranker change anything" gate run before a
  // retrieval rollout. Both lists re-rank 1..m within their
  // intersection (Spearman needs aligned dense ranks); rho in exact
  // milli via the integer closed form with a sign-explicit division.
  // Every window here runs over a <= 20-row frame.
  def q197RankerAgreement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val terms = Seq("spark", "shuffle", "dup")
    val wScore = Window.orderBy($"score".desc, $"doc_id")
    val a = graft.text.Tfidf.searchTopK(docs, "doc_id", "text", terms, 20)
      .withColumn("ra", row_number().over(wScore)).select($"doc_id", $"ra")
    val b = graft.text.Tfidf.bm25TopK(docs, "doc_id", "text", terms, 20)
      .withColumn("rb", row_number().over(wScore)).select($"doc_id", $"rb")
    val joint = a.join(b, "doc_id")
      .withColumn("ra2", row_number().over(Window.orderBy($"ra")))
      .withColumn("rb2", row_number().over(Window.orderBy($"rb")))
    joint.agg(count(lit(1)).as("m"),
        sum(($"ra2" - $"rb2") * ($"ra2" - $"rb2")).as("sum_d2"))
      .select($"m", $"sum_d2",
        expr("""CASE WHEN m * (m * m - 1) - 6 * sum_d2 < 0
                |     THEN -((-(m * (m * m - 1) - 6 * sum_d2) * 1000)
                |            div greatest(m * (m * m - 1), 1))
                |     ELSE ((m * (m * m - 1) - 6 * sum_d2) * 1000)
                |          div greatest(m * (m * m - 1), 1)
                |END""".stripMargin).as("rho_milli"))
  }

  // ---------------------------------------------------------------- q198

  // Dead-letter ingest audit: a spool of event-derived JSON lines is
  // salted with deterministic malformed records (4 syntactically broken
  // lines + 3 parseable lines missing the required id), read back under
  // PERMISSIVE mode with an explicit corrupt-record column, and
  // triaged into good / missing-field / broken counts — the accounting
  // every at-least-once collector needs before declaring a batch
  // delivered. The oracle pins the planted counts against the source
  // row count.
  def q198CorruptAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val tmp = PipelineQueries.tempDir("graft-q198")
    val spool = tmp.resolve("spool").toString
    ev.select(to_json(struct($"event_id", $"event_type",
        unix_millis($"ts").as("ms"))).as("value"))
      .write.mode("overwrite").text(spool)
    val planted =
      Seq.tabulate(4)(i => s"""{"event_id": $i, "event_type": "x"""") ++ // broken
        Seq.tabulate(3)(i => s"""{"event_type": "planted-$i", "ms": $i}""") // id-less
    java.nio.file.Files.write(
      java.nio.file.Paths.get(spool).resolve("planted.json"),
      planted.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ms",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_corrupt",
        org.apache.spark.sql.types.StringType)))
    val read = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(spool)
    read.select(
        when($"_corrupt".isNotNull, "broken")
          .when($"event_id".isNull, "missing_field")
          .otherwise("good").as("category"))
      .groupBy($"category").agg(count(lit(1)).as("n"))
      .orderBy($"category")
  }

  // ---------------------------------------------------------------- q199

  // Hard-negative mining for contrastive training: for every anchor
  // vector, the most similar embedding with a DIFFERENT label, found
  // through the banded SRP-signature candidate join (pigeonhole over
  // hamming <= 3 of 24 bits — never the n^2, which exists only in the
  // oracle's replication of the same prefilter). 24 bits, not 12: the
  // sf1 sweep showed the 12-bit ball admits 7.3% of ALL pairs, so the
  // spec'd candidate set itself was quadratic; at 24 bits the ball is
  // 1.4e-4 of the space and candidates track true near-neighbors.
  // Per-anchor argmax is the q179 max-struct convention: (cos, -neg)
  // lexicographic max, no data-scale window.
  def q199HardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.similarity.Similarity
    val planes = Similarity.hyperplanes(24, 64)
    val emb = Tables.embeddings(s, dir)
      .select($"vec_id".as("id"), $"label".cast("long").as("label"),
        Similarity.toDoubleVec($"embedding").as("__v"))
      .withColumn("__sig", Similarity.srpSignature($"__v", planes))
      // localCheckpoint: referenced by the band join and both verify
      // sides — exchange reuse across those references only fires over
      // checkpointed sources (persisted ones wrap in
      // TableCacheQueryStage, which AQE won't deduplicate)
      .localCheckpoint(true)
    // auto-banded (r from the corpus size): r=1's 6-bit bands admit
    // 6.25% of all pairs — fine at test scale, quadratic at 100×; the
    // output is r-independent (pigeonhole recall + exact verify)
    val pairs = graft.dedup.Dedup.simhashNearDupPairsAuto(
      emb.select($"id", $"__sig"), "id", "__sig", maxHamming = 3, bits = 24)
    val side = emb.select($"id".as("__jid"), $"label".as("__jlabel"), $"__v".as("__jv"))
    val both = pairs
      .join(side, $"id_a" === $"__jid")
      .select($"id_a", $"id_b", $"__jlabel".as("label_a"), $"__jv".as("v_a"))
      .join(side, $"id_b" === $"__jid")
      .select($"id_a", $"id_b", $"label_a", $"v_a",
        $"__jlabel".as("label_b"), $"__jv".as("v_b"))
      .filter($"label_a" =!= $"label_b")
      .withColumn("cos", round(Similarity.cosine($"v_a", $"v_b"), 6))
    val directed = both.select($"id_a".as("anchor"), $"id_b".as("neg"), $"cos")
      .unionAll(both.select($"id_b".as("anchor"), $"id_a".as("neg"), $"cos"))
    directed
      .groupBy($"anchor")
      .agg(max(struct($"cos", (-$"neg").as("mneg"))).as("best"),
        count(lit(1)).as("n_cands"))
      .select($"anchor", (-$"best.mneg").as("neg"), $"best.cos".as("cos"), $"n_cands")
      .orderBy($"anchor")
  }

  // ---------------------------------------------------------------- q200

  // Corpus data card: the one-table summary shipped alongside a
  // training corpus — volume, token mass, dedup rate, PII exposure,
  // language mix, source spread — every metric an exact integer and
  // each row independently recomputable by the oracle. One scan plus
  // tiny aggregates; the UNION ALL branches carry explicit aliases
  // (the q105 convention).
  def q200DataCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    def metric(name: String, value: Column): DataFrame =
      docs.agg(value.cast("long").as("value")).select(lit(name).as("metric"), $"value")
    val dupPpm = {
      val n = docs.agg(count(lit(1)).as("n"))
      docs.groupBy(md5($"text".cast("binary"))).agg(count(lit(1)).as("c"))
        .agg(sum($"c" - 1).as("dups"))
        .crossJoin(broadcast(n))
        .select(lit("dup_ppm").as("metric"),
          expr("dups * 1000000 div n").as("value"))
    }
    metric("n_docs", count(lit(1)))
      .unionAll(metric("n_tokens", sum(TextAnalysis.tokenCount($"text"))))
      .unionAll(metric("n_chars", sum(length($"text"))))
      .unionAll(metric("n_sources", countDistinct($"source")))
      .unionAll(metric("n_langs", countDistinct($"lang")))
      .unionAll(metric("en_docs", sum(when($"lang" === "en", 1L).otherwise(0L))))
      .unionAll(metric("pii_emails", sum(TextAnalysis.piiEmailCount($"text"))))
      .unionAll(dupPpm)
      .orderBy($"metric")
  }

  // ---------------------------------------------------------------- q201

  // Dashboard panels executed FROM THEIR SAVED SPECS: three JSON panel
  // definitions (kuery filter + aggregation, the exported-dashboard
  // shape) interpreted by search.PanelSpec into one normalized frame —
  // the query a user runs by handing over their dashboard export
  // rather than rewriting each panel. The oracle replays every panel
  // as plain SQL.
  def q201PanelSpecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val specs = Seq(
      """{"panel": "p1_clicks_daily", "kuery": "event_type.keyword: click",
        | "agg": "date_histogram", "field": "ts", "interval_ms": 86400000}""".stripMargin,
      """{"panel": "p2_power_user_terms", "kuery": "user_id >= 500",
        | "agg": "terms", "field": "event_type", "size": 3}""".stripMargin,
      """{"panel": "p3_purchase_stats",
        | "kuery": "event_type.keyword: (purchase or signup)",
        | "agg": "stats", "field": "value"}""".stripMargin)
    specs.map(graft.search.PanelSpec.run(ev, _))
      .reduce(_.unionAll(_))
      .orderBy($"panel", $"bucket")
  }

  // ---------------------------------------------------------------- q202

  // Context-length truncation loss: how many documents and tokens a
  // hard cut at 32/64/128 tokens would discard — the companion to the
  // q183 packing and q57 sharding decisions. One corpus scan (the
  // three capacities are conditional aggregates over one row, stacked
  // afterwards), exact ppm.
  def q202TruncationLoss(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select(TextAnalysis.tokenCount($"text").as("t"))
    val caps = Seq(32, 64, 128)
    val aggs = count(lit(1)).as("n_docs") +: sum($"t").as("total") +:
      caps.flatMap(c => Seq(
        sum(when($"t" > c, 1L).otherwise(0L)).as(s"nt$c"),
        sum(when($"t" > c, $"t" - c).otherwise(0L)).as(s"lost$c")))
    val stacked = caps.map(c => s"${c}L, nt$c, lost$c").mkString(", ")
    toks.agg(aggs.head, aggs.tail: _*)
      .select($"n_docs", $"total",
        expr(s"stack(${caps.size}, $stacked)")
          .as(Seq("capacity", "n_truncated", "tokens_lost")))
      .select($"capacity", $"n_docs", $"n_truncated", $"tokens_lost",
        expr("tokens_lost * 1000000 div total").as("loss_ppm"))
      .orderBy($"capacity")
  }

  // ---------------------------------------------------------------- q203

  // Kuery TIME-RANGE strings (the dashboard date picker as a query
  // string): timestamp comparisons compile through Kuery's typed-literal
  // path (lit cast to the field's timestamp type) and combine with
  // keyword and free-text clauses; every string replays as a plain SQL
  // WHERE clause.
  def q203KueryTimeRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val kueries = Seq(
      // bare ISO dates tokenize unquoted; the spaced timestamp takes
      // the KQL double-quote form
      "k1_window" -> "ts >= 2024-01-10 and ts < 2024-01-20",
      "k2_typed_after" ->
        "event_type.keyword: purchase and ts >= \"2024-01-15 12:00:00\"",
      "k3_props_not" -> "props: *9* and not event_type.keyword: error")
    kueries.map { case (label, kq) =>
      ev.filter(graft.search.Kuery.predicate(ev, kq, Seq("props")))
        .agg(count(lit(1)).as("n"),
          coalesce(sum(floor($"value" * 100).cast("long")), lit(0L)).as("cents"))
        .select(lit(label).as("kuery"), $"n", $"cents")
    }.reduce(_.unionAll(_)).orderBy($"kuery")
  }

  // ---------------------------------------------------------------- q204

  // Panel pipeline aggregations from specs: cumulative_sum and
  // derivative over the daily histogram buckets, ES dashboard
  // semantics (first derivative bucket = 0), windows only ever over
  // the time-bounded bucket series.
  def q204PanelPipelines(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val specs = Seq(
      """{"panel": "p1_cum_purchases", "kuery": "event_type.keyword: purchase",
        | "agg": "date_histogram", "field": "ts", "pipeline": "cumulative_sum"}""".stripMargin,
      """{"panel": "p2_error_deriv", "kuery": "event_type.keyword: error",
        | "agg": "date_histogram", "field": "ts", "pipeline": "derivative"}""".stripMargin)
    specs.map(graft.search.PanelSpec.run(ev, _))
      .reduce(_.unionAll(_))
      .orderBy($"panel", $"bucket")
  }

  // ---------------------------------------------------------------- q205

  // Tokenizer fertility by language: subword-per-word ratio (the
  // BPE-proxy regex over the whitespace token count) per language — the
  // multilingual-tokenizer budget table. Row-local counts, one tiny
  // aggregation, exact milli ratio.
  def q205Fertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount($"text")).as("n_tokens"),
        sum(TextAnalysis.subwordCount($"text")).as("n_subwords"))
      .select($"lang", $"n_docs", $"n_tokens", $"n_subwords",
        expr("n_subwords * 1000 div greatest(n_tokens, 1)").as("fertility_milli"))
      .orderBy($"lang")
  }

  // ---------------------------------------------------------------- q206

  // Dedup threshold sensitivity: how many near-dup pairs a 0.7 / 0.8 /
  // 0.9 Jaccard cutoff would each merge — the curve consulted before
  // committing a dedup threshold. ONE prefix-filtered set-similarity
  // join at the loosest cutoff (q75's exact PPJoin machinery), the
  // tighter thresholds are conditional aggregates over its (shared, un)
  // output; the n^2 form exists only in the oracle.
  def q206DedupSensitivity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sets = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id",
        graft.plans.GraftFunctions.wordShingleHashes($"text", 3).as("sh"))
    val pairs = graft.dedup.SetSimJoin.jaccardJoin(sets, "doc_id", "sh",
      tNum = 7, tDen = 10)
    val ts = Seq(7, 8, 9)
    val aggs = ts.flatMap(t => Seq(
      sum(when($"shared" * 10 >= $"un" * t, 1L).otherwise(0L)).as(s"n$t"),
      coalesce(sum(when($"shared" * 10 >= $"un" * t, $"shared")), lit(0L)).as(s"sh$t")))
    val stacked = ts.map(t => s"${t * 100}L, n$t, sh$t").mkString(", ")
    pairs.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${ts.size}, $stacked)")
        .as(Seq("threshold_pm", "n_pairs", "sum_shared")))
      .orderBy($"threshold_pm")
  }

  // -------------------------------------------------------------- maps

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q183_next_fit_pack" -> q183NextFitPack _,
    "q184_budget_select" -> q184BudgetSelect _,
    "q185_alert_incidents" -> q185AlertIncidents _,
    "q186_mixture_plan" -> q186MixturePlan _,
    "q187_quality_sweep" -> q187QualitySweep _,
    "q188_straggler_audit" -> q188StragglerAudit _,
    "q189_vocab_curve" -> q189VocabCurve _,
    "q190_slo_burn" -> q190SloBurn _,
    "q191_classifier_eval" -> q191ClassifierEval _,
    "q192_ann_recall" -> q192AnnRecall _,
    "q193_stream_alerts" -> q193StreamAlerts _,
    "q194_audio_decode" -> q194AudioDecode _,
    "q195_rolling_anomaly" -> q195RollingAnomaly _,
    "q196_capacity_forecast" -> q196CapacityForecast _,
    "q197_ranker_agreement" -> q197RankerAgreement _,
    "q198_corrupt_audit" -> q198CorruptAudit _,
    "q199_hard_negatives" -> q199HardNegatives _,
    "q200_data_card" -> q200DataCard _,
    "q201_panel_specs" -> q201PanelSpecs _,
    "q202_truncation_loss" -> q202TruncationLoss _,
    "q203_kuery_time_range" -> q203KueryTimeRange _,
    "q204_panel_pipelines" -> q204PanelPipelines _,
    "q205_fertility" -> q205Fertility _,
    "q206_dedup_sensitivity" -> q206DedupSensitivity _,
    "q233_rank_eval" -> q233RankEval _,
    "q252_feature_snapshot" -> q252FeatureSnapshot _,
    "q255_cuped" -> q255Cuped _)

  // ---------------------------------------------------------------- q255

  // CUPED variance-reduced A/B read-out, exact to the milli: users
  // hash-split into arms, pre-period spend (first 15 days) is the
  // covariate, post-period spend the metric. θ and both arm
  // differences stay RATIONAL — every product runs in DECIMAL(38,0)
  // (≡ HUGEINT), every signed division is sign-explicit (q126), so
  // raw_diff_milli, theta_milli and adj_diff_milli are bit-identical
  // across engines. One events scan + one user-keyed agg + a 1-row
  // fold.
  def q255Cuped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .filter($"user_id".isNotNull && $"value".isNotNull)
      .select($"user_id", expr("unix_millis(ts) div 86400000").as("day"),
        floor($"value" * 100).cast("long").as("cents"))
    val d0 = ev.agg(min($"day").as("d0"))
    val per = ev.crossJoin(broadcast(d0))
      .groupBy($"user_id")
      .agg(coalesce(sum(when($"day" < $"d0" + 15, $"cents")), lit(0L)).as("x"),
        coalesce(sum(when($"day" >= $"d0" + 15, $"cents")), lit(0L)).as("y"))
      .withColumn("armb", $"user_id" % 2 === 1)
    val dec = "DECIMAL(38,0)"
    per.agg(
        count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum(expr(s"CAST(x AS $dec) * y")).as("sxy"),
        sum(expr(s"CAST(x AS $dec) * x")).as("sxx"),
        sum(when(!$"armb", 1L).otherwise(0L)).as("n_a"),
        sum(when($"armb", 1L).otherwise(0L)).as("n_b"),
        coalesce(sum(when(!$"armb", $"x")), lit(0L)).as("sx_a"),
        coalesce(sum(when($"armb", $"x")), lit(0L)).as("sx_b"),
        coalesce(sum(when(!$"armb", $"y")), lit(0L)).as("sy_a"),
        coalesce(sum(when($"armb", $"y")), lit(0L)).as("sy_b"))
      .withColumn("snum", expr(s"CAST(n AS $dec) * sxy - CAST(sx AS $dec) * sy"))
      .withColumn("sden", expr(s"CAST(n AS $dec) * sxx - CAST(sx AS $dec) * sx"))
      .withColumn("ydiff", expr(s"CAST(sy_b AS $dec) * n_a - CAST(sy_a AS $dec) * n_b"))
      .withColumn("xdiff", expr(s"CAST(sx_b AS $dec) * n_a - CAST(sx_a AS $dec) * n_b"))
      .withColumn("raw_diff_milli", signedMilli(
        s"CAST(1000 AS $dec) * ydiff", s"CAST(n_a AS $dec) * n_b"))
      .withColumn("theta_milli", signedMilli(s"CAST(1000 AS $dec) * snum", "sden"))
      .withColumn("adj_diff_milli", signedMilli(
        s"CAST(1000 AS $dec) * (ydiff * sden - snum * xdiff)",
        s"CAST(n_a AS $dec) * n_b * sden"))
      .select($"n_a", $"n_b", $"sy_a", $"sy_b",
        $"raw_diff_milli", $"theta_milli", $"adj_diff_milli")
  }

  /** Sign-explicit truncating integer division (num/den may be signed;
    * engines disagree on negative floor-vs-truncate, abs() makes it
    * moot), milli output cast BIGINT; NULL on a zero denominator.
    */
  private def signedMilli(num: String, den: String): Column = expr(
    s"""CAST(CASE WHEN ($den) = 0 THEN NULL
       |     WHEN (($num) >= 0) = (($den) > 0)
       |     THEN abs($num) div abs($den)
       |     ELSE -(abs($num) div abs($den)) END AS BIGINT)""".stripMargin)

  // ---------------------------------------------------------------- q252

  // Feature-store row materialization: one training-feature row per
  // user — lifetime counts, exact cents totals, and the 3 most recent
  // event types as an ordered path string. ONE user-keyed shuffle; the
  // recency slice is the q144 sorted-struct trick (negated sort keys,
  // slice 3), never a per-user window over the raw stream.
  def q252FeatureSnapshot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter($"user_id".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        coalesce(sum(floor($"value" * 100).cast("long")), lit(0L)).as("cents"),
        countDistinct($"event_type").as("n_types"),
        array_sort(collect_list(struct(
          (-unix_millis($"ts")).as("nms"), (-$"event_id").as("nid"),
          $"event_type"))).as("evs"))
      .select($"user_id", $"n_events", $"cents", $"n_types",
        expr("array_join(transform(slice(evs, 1, 3), e -> e.event_type), '>')")
          .as("recent3"))
      .orderBy($"user_id")
  }

  // ---------------------------------------------------------------- q233

  // rank_eval for saved searches: MRR, precision@10 and recall@20 of
  // the BM25 ranking against tf≥2 relevance labels, per query term —
  // the ES rank_eval API over the q96 scorer. All metrics are RANK
  // functions (exact integer ppm); scores never leave the plan. The
  // 20-row ranked frame broadcasts into the relevance join (q192's
  // explicit-broadcast lesson); corpus-side work is one tokens scan
  // per query term.
  def q233RankEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val terms = Seq("merge", "spark", "vector")
    terms.map { t =>
      val ranked = graft.text.Tfidf.bm25TopK(docs, "doc_id", "text", Seq(t), 20)
        .withColumn("r", row_number().over(
          Window.orderBy($"score".desc, $"doc_id")).cast("long"))
        .select($"doc_id", $"r")
      val rel = docs.filter(expr(
        s"size(filter(split(trim(text), '\\\\s+'), x -> x = '$t')) >= 2"))
        .select($"doc_id")
      val relTot = rel.agg(count(lit(1)).as("n_rel"))
      val hits = rel.join(broadcast(ranked), Seq("doc_id"))
        .agg(min($"r").as("frr0"),
          coalesce(sum(when($"r" <= 10L, 1L).otherwise(0L)), lit(0L)).as("h10"),
          count(lit(1)).as("h20"))
      hits.crossJoin(broadcast(relTot))
        .select(lit(t).as("query"), $"n_rel",
          coalesce($"frr0", lit(0L)).as("first_rel_rank"),
          expr("CASE WHEN frr0 IS NOT NULL THEN 1000000 div frr0 ELSE CAST(0 AS BIGINT) END")
            .as("mrr_ppm"),
          ($"h10" * lit(100000L)).as("p10_ppm"),
          expr("CASE WHEN n_rel > 0 THEN h20 * 1000000 div n_rel ELSE CAST(0 AS BIGINT) END")
            .as("recall20_ppm"))
    }.reduce(_.unionAll(_)).orderBy($"query")
  }

  /** q233's oracle: the q96/q197 BM25 chain per single query term, the
    * identical tf≥2 relevance set, and integer rank metrics.
    */
  private lazy val q233Sql: String = {
    val branches = Seq("merge", "spark", "vector").map { t =>
      s"""SELECT '$t' AS query, CAST(n_rel AS BIGINT) AS n_rel,
         | CAST(coalesce(frr0, 0) AS BIGINT) AS first_rel_rank,
         | CAST(CASE WHEN frr0 IS NOT NULL THEN 1000000 // frr0 ELSE 0 END AS BIGINT) AS mrr_ppm,
         | CAST(h10 * 100000 AS BIGINT) AS p10_ppm,
         | CAST(CASE WHEN n_rel > 0 THEN h20 * 1000000 // n_rel ELSE 0 END AS BIGINT) AS recall20_ppm
         |FROM (
         | WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') tk FROM documents),
         | stats AS (SELECT count(*) n, CAST(sum(len(tk)) AS BIGINT) sum_dl,
         |   sum(CASE WHEN list_contains(tk, '$t') THEN 1 ELSE 0 END) df0 FROM toks),
         | sb AS (SELECT doc_id, round(
         |   ln(1.0 + (n::DOUBLE - df0::DOUBLE + 0.5) / (df0::DOUBLE + 0.5))
         |    * (len(list_filter(tk, x -> x = '$t'))::DOUBLE * (1.2 + 1.0))
         |    / (len(list_filter(tk, x -> x = '$t'))::DOUBLE
         |       + 1.2 * (1.0 - 0.75 + 0.75 * len(tk)::DOUBLE / (sum_dl::DOUBLE / n::DOUBLE))), 6) score
         |  FROM toks, stats),
         | tb AS (SELECT doc_id, score FROM sb WHERE score > 0
         |        ORDER BY score DESC, doc_id LIMIT 20),
         | rk AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) r FROM tb),
         | rel AS (SELECT doc_id FROM toks WHERE len(list_filter(tk, x -> x = '$t')) >= 2),
         | h AS (SELECT min(r) frr0,
         |        coalesce(sum(CASE WHEN r <= 10 THEN 1 ELSE 0 END), 0) h10,
         |        count(*) h20
         |       FROM rk JOIN rel USING (doc_id)),
         | nr AS (SELECT count(*) n_rel FROM rel)
         | SELECT * FROM h, nr
         |) m""".stripMargin
    }
    branches.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) u ORDER BY query")
  }

  /** q197's oracle: both ranking chains (q64 TF-IDF, q96 BM25) re-ranked
    * within their top-20 intersection, Spearman via the integer closed
    * form. Built programmatically so the term list stays in one place.
    */
  private lazy val q197Sql: String = {
    val terms = Seq("spark", "shuffle", "dup")
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(tk, '$t') THEN 1 ELSE 0 END) df$i"
    }.mkString(",\n  ")
    val tfidf = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(tk, x -> x = '$t'))::DOUBLE * (ln((n + 1.0) / (df$i + 1.0)) + 1.0)"
    }.mkString("\n   + ")
    val bm25 = terms.zipWithIndex.map { case (t, i) =>
      s"""ln(1.0 + (n::DOUBLE - df$i::DOUBLE + 0.5) / (df$i::DOUBLE + 0.5))
         |    * (len(list_filter(tk, x -> x = '$t'))::DOUBLE * (1.2 + 1.0))
         |    / (len(list_filter(tk, x -> x = '$t'))::DOUBLE
         |       + 1.2 * (1.0 - 0.75 + 0.75 * len(tk)::DOUBLE / (sum_dl::DOUBLE / n::DOUBLE)))""".stripMargin
    }.mkString("\n   + ")
    s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') tk FROM documents),
       |stats AS (SELECT count(*) n, CAST(sum(len(tk)) AS BIGINT) sum_dl,
       |  $dfs
       | FROM toks),
       |sa AS (SELECT doc_id, round($tfidf, 6) score FROM toks, stats),
       |sb AS (SELECT doc_id, round($bm25, 6) score FROM toks, stats),
       |ta AS (SELECT doc_id, score FROM sa WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20),
       |tb AS (SELECT doc_id, score FROM sb WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20),
       |ra AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) r FROM ta),
       |rb AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) r FROM tb),
       |j AS (SELECT ra.doc_id, ra.r AS x, rb.r AS y FROM ra JOIN rb ON ra.doc_id = rb.doc_id),
       |rr AS (SELECT row_number() OVER (ORDER BY x) ra2, row_number() OVER (ORDER BY y) rb2 FROM j),
       |agg AS (SELECT count(*) m, coalesce(sum((ra2 - rb2) * (ra2 - rb2)), 0) sum_d2 FROM rr)
       |SELECT CAST(m AS BIGINT) AS m, CAST(sum_d2 AS BIGINT) AS sum_d2,
       | CAST(CASE WHEN m * (m * m - 1) - 6 * sum_d2 < 0
       |      THEN -((-(m * (m * m - 1) - 6 * sum_d2) * 1000) // greatest(m * (m * m - 1), 1))
       |      ELSE ((m * (m * m - 1) - 6 * sum_d2) * 1000) // greatest(m * (m * m - 1), 1)
       |      END AS BIGINT) AS rho_milli
       |FROM agg""".stripMargin
  }

  /** Oracle shared by the batch (q185) and streaming (q193) alerting
    * paths: the streaming sink must reproduce the batch hourly counts
    * exactly, so both derivations reduce to the same SQL.
    */
  private val alertOracleSql: String =
    """WITH h AS (
      | SELECT event_type, epoch_ms(ts) // 3600000 AS hr, count(*) AS n
      | FROM events GROUP BY 1, 2),
      |b AS (
      | SELECT *, lag(hr) OVER (PARTITION BY event_type ORDER BY hr) AS prev
      | FROM h WHERE n >= 4),
      |f AS (
      | SELECT *, CASE WHEN prev IS NULL OR hr - prev > 2 THEN 1 ELSE 0 END AS new_inc
      | FROM b),
      |i AS (
      | SELECT *, sum(new_inc) OVER (PARTITION BY event_type ORDER BY hr
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS inc
      | FROM f),
      |g AS (
      | SELECT event_type, inc, count(*) AS bh,
      |  max(hr) - min(hr) + 1 AS dur, max(n) AS peak
      | FROM i GROUP BY 1, 2 HAVING count(*) >= 2),
      |t AS (SELECT DISTINCT event_type FROM events)
      |SELECT t.event_type,
      | CAST(count(g.inc) AS BIGINT) AS n_incidents,
      | CAST(coalesce(max(g.dur), 0) AS BIGINT) AS max_dur_hours,
      | CAST(coalesce(sum(g.bh), 0) AS BIGINT) AS breach_hours,
      | CAST(coalesce(max(g.peak), 0) AS BIGINT) AS peak_hourly
      |FROM t LEFT JOIN g ON t.event_type = g.event_type
      |GROUP BY t.event_type ORDER BY t.event_type""".stripMargin

  /** DuckDB mirror of Similarity.srpSignature over `bits` planes x
    * dim 64 (same literal-hyperplane trick as q23's oracle).
    */
  private def sigTermsSqlFor(bits: Int): String => String = {
    val planes = graft.similarity.Similarity.hyperplanes(bits, 64)
      .map(p => "[" + p.map(_.toString).mkString(",") + "]")
    (v: String) => planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($v, $p) > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)"
    }.mkString(" + ")
  }

  private lazy val sigTermsSql: String => String = sigTermsSqlFor(12)

  /** q199's wider signature: 24 bits keeps hamming ≤ 3 selective —
    * P(random pair within the ball) = 2325/2^24 ≈ 1.4e-4, vs 7.3% at
    * the old 12 bits, where the SPEC'D candidate set itself was dense
    * enough to go quadratic (×38 on the 10× scale sweep).
    */
  private lazy val sigTermsSql24: String => String = sigTermsSqlFor(24)

  val oracle: Map[String, String] = Map(
    "q233_rank_eval" -> q233Sql,
    "q255_cuped" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |        CAST(floor(value * 100) AS BIGINT) AS cents
        |       FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |d0 AS (SELECT min(day) AS d0 FROM e),
        |per AS (SELECT user_id,
        |        coalesce(sum(CASE WHEN day < d0 + 15 THEN cents END), 0) AS x,
        |        coalesce(sum(CASE WHEN day >= d0 + 15 THEN cents END), 0) AS y,
        |        user_id % 2 = 1 AS armb
        |       FROM e, d0 GROUP BY user_id),
        |g AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |       CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |       sum(CAST(x AS HUGEINT) * y) AS sxy,
        |       sum(CAST(x AS HUGEINT) * x) AS sxx,
        |       CAST(sum(CASE WHEN NOT armb THEN 1 ELSE 0 END) AS HUGEINT) AS n_a,
        |       CAST(sum(CASE WHEN armb THEN 1 ELSE 0 END) AS HUGEINT) AS n_b,
        |       CAST(coalesce(sum(CASE WHEN NOT armb THEN x END), 0) AS HUGEINT) AS sx_a,
        |       CAST(coalesce(sum(CASE WHEN armb THEN x END), 0) AS HUGEINT) AS sx_b,
        |       CAST(coalesce(sum(CASE WHEN NOT armb THEN y END), 0) AS HUGEINT) AS sy_a,
        |       CAST(coalesce(sum(CASE WHEN armb THEN y END), 0) AS HUGEINT) AS sy_b
        |      FROM per),
        |t AS (SELECT *,
        |       n * sxy - sx * sy AS snum,
        |       n * sxx - sx * sx AS sden,
        |       sy_b * n_a - sy_a * n_b AS ydiff,
        |       sx_b * n_a - sx_a * n_b AS xdiff
        |      FROM g)
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | CAST(sy_a AS BIGINT) AS sy_a, CAST(sy_b AS BIGINT) AS sy_b,
        | CAST(CASE WHEN n_a * n_b = 0 THEN NULL
        |      WHEN (1000 * ydiff >= 0) = (n_a * n_b > 0)
        |      THEN abs(1000 * ydiff) // abs(n_a * n_b)
        |      ELSE -(abs(1000 * ydiff) // abs(n_a * n_b)) END AS BIGINT)
        |   AS raw_diff_milli,
        | CAST(CASE WHEN sden = 0 THEN NULL
        |      WHEN (1000 * snum >= 0) = (sden > 0)
        |      THEN abs(1000 * snum) // abs(sden)
        |      ELSE -(abs(1000 * snum) // abs(sden)) END AS BIGINT) AS theta_milli,
        | CAST(CASE WHEN n_a * n_b * sden = 0 THEN NULL
        |      WHEN (1000 * (ydiff * sden - snum * xdiff) >= 0) = (n_a * n_b * sden > 0)
        |      THEN abs(1000 * (ydiff * sden - snum * xdiff)) // abs(n_a * n_b * sden)
        |      ELSE -(abs(1000 * (ydiff * sden - snum * xdiff)) // abs(n_a * n_b * sden))
        |      END AS BIGINT) AS adj_diff_milli
        |FROM t""".stripMargin,
    "q252_feature_snapshot" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT) AS cents,
        | CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        | array_to_string(list(event_type ORDER BY ts DESC, event_id DESC)[1:3], '>')
        |   AS recent3
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q183_next_fit_pack" ->
      s"""WITH RECURSIVE d AS MATERIALIZED (
         | SELECT doc_id % 16 AS shard, doc_id,
         |  $tokSql AS sz,
         |  row_number() OVER (PARTITION BY doc_id % 16 ORDER BY doc_id) AS rk
         | FROM documents),
         |p AS (
         | SELECT shard, rk, CAST(sz AS BIGINT) AS sz,
         |  CAST(sz AS BIGINT) AS fill, CAST(0 AS BIGINT) AS bin
         | FROM d WHERE rk = 1
         | UNION ALL
         | SELECT d.shard, d.rk, CAST(d.sz AS BIGINT),
         |  CASE WHEN p.fill + d.sz > 512 THEN CAST(d.sz AS BIGINT)
         |       ELSE p.fill + d.sz END,
         |  CASE WHEN p.fill + d.sz > 512 THEN p.bin + 1 ELSE p.bin END
         | FROM p JOIN d ON d.shard = p.shard AND d.rk = p.rk + 1)
         |SELECT CAST(shard AS BIGINT) AS shard,
         | CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(max(bin) + 1 AS BIGINT) AS n_bins,
         | CAST(sum(sz) AS BIGINT) AS sum_tokens,
         | CAST(max(fill) AS BIGINT) AS max_fill,
         | CAST(sum(sz) * 1000000 // ((max(bin) + 1) * 512) AS BIGINT) AS util_ppm
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin,
    "q184_budget_select" ->
      s"""WITH base AS (
         | SELECT doc_id, source, text, $tokSql AS toks FROM documents),
         |scored AS (
         | SELECT doc_id, source, toks, $qualitySql AS q FROM base),
         |c AS (
         | SELECT *, sum(toks) OVER (ORDER BY q DESC, doc_id) AS cum,
         |  sum(toks) OVER () AS total
         | FROM scored)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(toks) AS BIGINT) AS sum_tokens,
         | CAST(sum(CASE WHEN cum * 2 <= total THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
         | CAST(coalesce(sum(CASE WHEN cum * 2 <= total THEN toks END), 0) AS BIGINT) AS sel_tokens
         |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q185_alert_incidents" -> alertOracleSql,
    "q193_stream_alerts" -> alertOracleSql,
    "q186_mixture_plan" ->
      s"""WITH s0 AS (
         | SELECT source, sum($tokSql) AS src_tokens
         | FROM documents GROUP BY source),
         |s AS (
         | SELECT source, CAST(src_tokens AS BIGINT) AS src_tokens,
         |  CAST(20000 + 60000 * (CAST(substr(source, 4) AS BIGINT) % 3) AS BIGINT) AS weight
         | FROM s0),
         |t AS (SELECT sum(weight) AS wsum FROM s)
         |SELECT source, src_tokens, weight,
         | CAST(10000000 * weight // wsum AS BIGINT) AS planned_tokens,
         | CAST((10000000 * weight // wsum) * 1000000 // src_tokens AS BIGINT) AS epochs_ppm,
         | (10000000 * weight // wsum) * 1000000 // src_tokens > 1000000 AS oversampled
         |FROM s, t ORDER BY source""".stripMargin,
    "q187_quality_sweep" ->
      s"""WITH base AS (
         | SELECT doc_id, text, $tokSql AS toks FROM documents),
         |scored AS (
         | SELECT doc_id, toks, $qualitySql AS q FROM base),
         |r AS (
         | SELECT *, row_number() OVER (ORDER BY q DESC, doc_id) AS rk,
         |  count(*) OVER () AS n, sum(toks) OVER () AS tot_toks
         | FROM scored),
         |g AS (
         | SELECT ((rk - 1) * 10) // n + 1 AS decile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS dec_tokens,
         |  max(tot_toks) AS tot
         | FROM r GROUP BY 1)
         |SELECT CAST(decile AS BIGINT) AS decile, n_docs, dec_tokens,
         | CAST(sum(n_docs) OVER (ORDER BY decile) AS BIGINT) AS cum_docs,
         | CAST(sum(dec_tokens) OVER (ORDER BY decile) AS BIGINT) AS cum_tokens,
         | CAST(sum(dec_tokens) OVER (ORDER BY decile) * 1000000 // tot AS BIGINT) AS retained_ppm
         |FROM g ORDER BY decile""".stripMargin,
    "q188_straggler_audit" ->
      """WITH t AS (
        | SELECT user_id % 10 AS stage, event_id % 997 + 1 AS dur
        | FROM events
        | WHERE user_id IS NOT NULL AND user_id >= 0 AND event_id IS NOT NULL),
        |c AS (SELECT stage, dur, count(*) AS cnt FROM t GROUP BY 1, 2),
        |k AS (
        | SELECT *, sum(cnt) OVER (PARTITION BY stage ORDER BY dur) AS hi,
        |  sum(cnt) OVER (PARTITION BY stage) AS n
        | FROM c),
        |m AS (
        | SELECT stage, max(n) AS n,
        |  max(CASE WHEN hi - cnt < (n - 1) // 2 + 1 AND (n - 1) // 2 + 1 <= hi
        |       THEN dur END) AS med,
        |  max(dur) AS max_dur
        | FROM k GROUP BY stage)
        |SELECT CAST(m.stage AS BIGINT) AS stage, CAST(m.n AS BIGINT) AS n_tasks,
        | CAST(m.med AS BIGINT) AS med_ms, CAST(m.max_dur AS BIGINT) AS max_ms,
        | CAST(coalesce(sum(CASE WHEN c.dur > 2 * m.med THEN c.cnt END), 0) AS BIGINT) AS n_stragglers,
        | CAST(m.max_dur * 1000000 // m.med AS BIGINT) AS skew_ppm
        |FROM m JOIN c ON c.stage = m.stage
        |GROUP BY m.stage, m.n, m.med, m.max_dur
        |ORDER BY stage""".stripMargin,
    "q189_vocab_curve" ->
      """WITH tk AS (
        | SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
        | FROM documents WHERE length(trim(text)) > 0),
        |c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
        |r AS (
        | SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rk,
        |  sum(cnt) OVER (ORDER BY cnt DESC, token
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(cnt) OVER () AS total, count(*) OVER () AS n_vocab
        | FROM c)
        |SELECT CAST(rk AS BIGINT) AS vocab_size,
        | CAST(cum AS BIGINT) AS covered_tokens,
        | CAST(total AS BIGINT) AS total, CAST(n_vocab AS BIGINT) AS n_vocab,
        | CAST(cum * 1000000 // total AS BIGINT) AS coverage_ppm
        |FROM r WHERE rk IN (5, 10, 20) ORDER BY vocab_size""".stripMargin,
    "q190_slo_burn" ->
      """WITH d AS (
        | SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS n,
        |  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
        | FROM events GROUP BY 1),
        |w AS (
        | SELECT *, sum(n) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING
        |    AND CURRENT ROW) AS n7,
        |  sum(n_err) OVER (ORDER BY day RANGE BETWEEN 6 PRECEDING
        |    AND CURRENT ROW) AS err7
        | FROM d)
        |SELECT day, CAST(n AS BIGINT) AS n, CAST(n_err AS BIGINT) AS n_err,
        | CAST(n_err * 1000000 // n AS BIGINT) AS rate_ppm,
        | CAST(err7 * 1000000 // n7 AS BIGINT) AS rate7_ppm,
        | CAST((n_err * 1000000 // n) * 1000000 // 250000 AS BIGINT) AS burn1_ppm,
        | CAST((err7 * 1000000 // n7) * 1000000 // 250000 AS BIGINT) AS burn7_ppm,
        | (n_err * 1000000 // n > 250000 AND err7 * 1000000 // n7 > 250000) AS alert
        |FROM w ORDER BY day""".stripMargin,
    "q191_classifier_eval" ->
      """WITH s AS (
        | SELECT vec_id, CAST(label AS BIGINT) AS gold,
        |  CASE WHEN vec_id % 7 = 0 THEN (CAST(label AS BIGINT) + 1 + vec_id % 9) % 10
        |       ELSE CAST(label AS BIGINT) END AS pred
        | FROM embeddings),
        |g AS (
        | SELECT gold AS label, count(*) AS n_gold,
        |  sum(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS tp
        | FROM s GROUP BY 1),
        |p AS (SELECT pred AS label, count(*) AS n_pred FROM s GROUP BY 1),
        |j AS (
        | SELECT g.label, g.n_gold, g.tp,
        |  coalesce(p.n_pred, 0) - g.tp AS fp, g.n_gold - g.tp AS fn
        | FROM g LEFT JOIN p ON g.label = p.label)
        |SELECT label, CAST(n_gold AS BIGINT) AS n_gold, CAST(tp AS BIGINT) AS tp,
        | CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
        | CAST(tp * 1000000 // greatest(tp + fp, 1) AS BIGINT) AS prec_ppm,
        | CAST(tp * 1000000 // greatest(tp + fn, 1) AS BIGINT) AS rec_ppm,
        | CAST(2 * tp * 1000000 // greatest(2 * tp + fp + fn, 1) AS BIGINT) AS f1_ppm
        |FROM j ORDER BY label""".stripMargin,
    "q192_ann_recall" -> {
      val cosExpr = (v: String, q: String) =>
        s"round(list_dot_product($v, $q) / (sqrt(list_dot_product($v, $v)) * sqrt(list_dot_product($q, $q))), 6)"
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
         |qset AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |exact AS (SELECT qid, vec_id FROM (
         | SELECT q.qid, e.vec_id,
         |  row_number() OVER (PARTITION BY q.qid
         |    ORDER BY ${cosExpr("e.v", "q.qv")} DESC, e.vec_id) AS rk
         | FROM e, qset q) t WHERE rk <= 10),
         |sig AS (SELECT vec_id, v, ${sigTermsSql("v")} AS s FROM e),
         |qsig AS (SELECT qid, qv, ${sigTermsSql("qv")} AS qs FROM qset),
         |cand AS (
         | SELECT q.qid, s.vec_id, ${cosExpr("s.v", "q.qv")} AS cos
         | FROM sig s, qsig q WHERE bit_count(xor(s.s, q.qs)) <= 3),
         |ann AS (SELECT qid, vec_id FROM (
         | SELECT qid, vec_id,
         |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk
         | FROM cand) t WHERE rk <= 10),
         |hits AS (
         | SELECT a.qid, count(*) AS n_hits
         | FROM ann a JOIN exact x ON a.qid = x.qid AND a.vec_id = x.vec_id
         | GROUP BY a.qid),
         |nc AS (SELECT qid, count(*) AS n_cands FROM cand GROUP BY qid)
         |SELECT nc.qid, CAST(nc.n_cands AS BIGINT) AS n_cands,
         | CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         | CAST(coalesce(h.n_hits, 0) * 1000000 // 10 AS BIGINT) AS recall_ppm
         |FROM nc LEFT JOIN hits h ON nc.qid = h.qid ORDER BY nc.qid""".stripMargin
    },
    "q194_audio_decode" ->
      """WITH ids AS (SELECT unnest(generate_series(1, 20)) AS id)
        |SELECT CAST(id AS BIGINT) AS media_id,
        | CAST(8000 * (1 + id % 3) AS BIGINT) AS sample_rate,
        | CAST(1 + id % 2 AS BIGINT) AS channels,
        | CAST(16 AS BIGINT) AS bits,
        | CAST(1000 + id * 37 AS BIGINT) AS n_frames,
        | CAST((1000 + id * 37) * 1000 // (8000 * (1 + id % 3)) AS BIGINT) AS duration_ms,
        | 'wav' AS format
        |FROM ids ORDER BY media_id""".stripMargin,
    "q195_rolling_anomaly" ->
      """WITH d AS (
        | SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |w AS (
        | SELECT *,
        |  count(n) OVER (PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING) AS k,
        |  coalesce(sum(n) OVER (PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS s,
        |  coalesce(sum(n * n) OVER (PARTITION BY event_type ORDER BY day
        |    RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS q
        | FROM d)
        |SELECT event_type, day, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
        | CAST(s AS BIGINT) AS s_prev,
        | (k = 7 AND
        |  CAST(n * k - s AS DECIMAL(38,0)) * CAST(n * k - s AS DECIMAL(38,0)) >
        |  (CAST(k AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))
        |   - CAST(s AS DECIMAL(38,0)) * CAST(s AS DECIMAL(38,0))) * 9) AS anomaly
        |FROM w ORDER BY event_type, day""".stripMargin,
    "q196_capacity_forecast" ->
      """WITH d AS (
        | SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS y
        | FROM events GROUP BY 1),
        |x AS (SELECT day - (SELECT min(day) FROM d) AS x, y FROM d),
        |st AS (
        | SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |  sum(x * y) AS sxy, sum(x * x) AS sxx
        | FROM x),
        |c AS (
        | SELECT n, sy, n * sxy - sx * sy AS nn, n * sxx - sx * sx AS dd, sx
        | FROM st)
        |SELECT CAST(n AS BIGINT) AS n_days, CAST(sy AS BIGINT) AS total_events,
        | CAST(CASE WHEN nn < 0 THEN -((-nn * 1000) // dd)
        |      ELSE (nn * 1000) // dd END AS BIGINT) AS slope_milli,
        | CAST(CASE WHEN sy * dd - nn * sx + n * nn * (n + 6) < 0
        |      THEN -((-(sy * dd - nn * sx + n * nn * (n + 6)) * 1000) // (n * dd))
        |      ELSE ((sy * dd - nn * sx + n * nn * (n + 6)) * 1000) // (n * dd)
        |      END AS BIGINT) AS pred7_milli
        |FROM c""".stripMargin,
    "q197_ranker_agreement" -> q197Sql,
    "q198_corrupt_audit" ->
      """SELECT 'broken' AS category, CAST(4 AS BIGINT) AS n
        |UNION ALL
        |SELECT 'good' AS category,
        | CAST((SELECT count(*) FROM events WHERE event_id IS NOT NULL) AS BIGINT) AS n
        |UNION ALL
        |SELECT 'missing_field' AS category,
        | CAST(3 + (SELECT count(*) FROM events WHERE event_id IS NULL) AS BIGINT) AS n
        |ORDER BY category""".stripMargin,
    "q199_hard_negatives" -> {
      val cosExpr = (v: String, q: String) =>
        s"round(list_dot_product($v, $q) / (sqrt(list_dot_product($v, $v)) * sqrt(list_dot_product($q, $q))), 6)"
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) lbl,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
         |sig AS (SELECT vec_id, lbl, v, ${sigTermsSql24("v")} s FROM e),
         |p AS (
         | SELECT a.vec_id ia, b.vec_id ib, ${cosExpr("a.v", "b.v")} cos
         | FROM sig a JOIN sig b ON a.vec_id < b.vec_id
         | WHERE bit_count(xor(a.s, b.s)) <= 3 AND a.lbl <> b.lbl),
         |d AS (SELECT ia anchor, ib neg, cos FROM p
         |      UNION ALL SELECT ib, ia, cos FROM p),
         |r AS (SELECT *, row_number() OVER (PARTITION BY anchor ORDER BY cos DESC, neg) rk,
         |       count(*) OVER (PARTITION BY anchor) nc FROM d)
         |SELECT anchor, neg, cos, CAST(nc AS BIGINT) AS n_cands
         |FROM r WHERE rk = 1 ORDER BY anchor""".stripMargin
    },
    "q200_data_card" ->
      s"""SELECT 'dup_ppm' AS metric,
         | CAST((SELECT sum(c - 1) FROM (
         |    SELECT count(*) c FROM documents GROUP BY md5(text)) g)
         |  * 1000000 // (SELECT count(*) FROM documents) AS BIGINT) AS value
         |UNION ALL
         |SELECT 'en_docs' AS metric,
         | CAST((SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) FROM documents) AS BIGINT) AS value
         |UNION ALL
         |SELECT 'n_chars' AS metric,
         | CAST((SELECT sum(length(text)) FROM documents) AS BIGINT) AS value
         |UNION ALL
         |SELECT 'n_docs' AS metric,
         | CAST((SELECT count(*) FROM documents) AS BIGINT) AS value
         |UNION ALL
         |SELECT 'n_langs' AS metric,
         | CAST((SELECT count(DISTINCT lang) FROM documents) AS BIGINT) AS value
         |UNION ALL
         |SELECT 'n_sources' AS metric,
         | CAST((SELECT count(DISTINCT source) FROM documents) AS BIGINT) AS value
         |UNION ALL
         |SELECT 'n_tokens' AS metric,
         | CAST((SELECT sum($tokSql) FROM documents) AS BIGINT) AS value
         |UNION ALL
         |SELECT 'pii_emails' AS metric,
         | CAST((SELECT sum(len(regexp_extract_all(text,
         |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) FROM documents) AS BIGINT) AS value
         |ORDER BY metric""".stripMargin,
    "q201_panel_specs" ->
      """SELECT * FROM (
        | SELECT 'p1_clicks_daily' AS panel,
        |  CAST(epoch_ms(ts) // 86400000 AS VARCHAR) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT) AS val
        | FROM events WHERE event_type = 'click' GROUP BY 2
        |UNION ALL
        |SELECT * FROM (
        | SELECT 'p2_power_user_terms' AS panel, event_type AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT) AS val
        | FROM events WHERE user_id >= 500 GROUP BY event_type
        | ORDER BY n DESC, bucket LIMIT 3) t2
        |UNION ALL
        |SELECT 'p3_purchase_stats' AS panel, 'all' AS bucket,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT) AS val
        | FROM events WHERE event_type = 'purchase' OR event_type = 'signup'
        |) u ORDER BY panel, bucket""".stripMargin,
    "q202_truncation_loss" ->
      s"""WITH t AS (SELECT $tokSql AS t FROM documents),
         |a AS (SELECT count(*) n_docs, sum(t) total FROM t),
         |caps AS (SELECT unnest([32, 64, 128]) AS capacity),
         |j AS (
         | SELECT c.capacity,
         |  (SELECT sum(CASE WHEN t > c.capacity THEN 1 ELSE 0 END) FROM t) AS n_truncated,
         |  (SELECT sum(CASE WHEN t > c.capacity THEN t - c.capacity ELSE 0 END) FROM t) AS tokens_lost
         | FROM caps c)
         |SELECT CAST(j.capacity AS BIGINT) AS capacity,
         | CAST(a.n_docs AS BIGINT) AS n_docs,
         | CAST(j.n_truncated AS BIGINT) AS n_truncated,
         | CAST(j.tokens_lost AS BIGINT) AS tokens_lost,
         | CAST(j.tokens_lost * 1000000 // a.total AS BIGINT) AS loss_ppm
         |FROM j, a ORDER BY capacity""".stripMargin,
    "q203_kuery_time_range" ->
      """SELECT 'k1_window' AS kuery, CAST(count(*) AS BIGINT) AS n,
        | CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT) AS cents
        | FROM events
        | WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-20'
        |UNION ALL
        |SELECT 'k2_typed_after' AS kuery, CAST(count(*) AS BIGINT) AS n,
        | CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT) AS cents
        | FROM events
        | WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-15 12:00:00'
        |UNION ALL
        |SELECT 'k3_props_not' AS kuery, CAST(count(*) AS BIGINT) AS n,
        | CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT) AS cents
        | FROM events
        | WHERE props LIKE '%9%' AND NOT (event_type = 'error')
        |ORDER BY kuery""".stripMargin,
    "q204_panel_pipelines" ->
      """SELECT * FROM (
        | SELECT 'p1_cum_purchases' AS panel,
        |  CAST(day AS VARCHAR) AS bucket, CAST(n AS BIGINT) AS n,
        |  CAST(sum(n) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS val
        | FROM (SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS n
        |       FROM events WHERE event_type = 'purchase' GROUP BY 1) h1
        |UNION ALL
        |SELECT 'p2_error_deriv' AS panel,
        |  CAST(day AS VARCHAR) AS bucket, CAST(n AS BIGINT) AS n,
        |  CAST(coalesce(n - lag(n) OVER (ORDER BY day), 0) AS BIGINT) AS val
        | FROM (SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS n
        |       FROM events WHERE event_type = 'error' GROUP BY 1) h2
        |) u ORDER BY panel, bucket""".stripMargin,
    "q205_fertility" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum($tokSql) AS BIGINT) AS n_tokens,
         | CAST(sum(len(regexp_extract_all(text,
         |   '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]'))) AS BIGINT) AS n_subwords,
         | CAST(sum(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]')))
         |  * 1000 // greatest(sum($tokSql), 1) AS BIGINT) AS fertility_milli
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q206_dedup_sensitivity" ->
      s"""WITH ${PipelineQueries.shingleSql},
         |p AS (SELECT len(list_intersect(a.sh, b.sh)) shared,
         |       len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) un
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
         |t AS (SELECT unnest([7, 8, 9]) AS thr)
         |SELECT CAST(t.thr * 100 AS BIGINT) AS threshold_pm,
         | CAST(coalesce(sum(CASE WHEN p.shared * 10 >= p.un * t.thr THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_pairs,
         | CAST(coalesce(sum(CASE WHEN p.shared * 10 >= p.un * t.thr THEN p.shared END), 0) AS BIGINT) AS sum_shared
         |FROM t LEFT JOIN p ON p.shared * 10 >= p.un * 7
         |GROUP BY t.thr ORDER BY threshold_pm""".stripMargin)
}
