package graft.queries

import java.time.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.operators.{DateHistogram, TopK}
import graft.similarity.Similarity
import graft.sources.Tables
import graft.text.TextAnalysis

/** Warehouse / data-ops query pack (split from PipelineQueries round
  * 10 — pure move-refactor, oracle hashes unchanged): SCD2 + CDC +
  * write-audit-publish maintenance, compaction/file-skipping/z-order
  * layout, schema evolution, profiling and quality gates, dedup
  * blocking + entity resolution, and the co-purchase graph family.
  * Shared helpers (tempDir, oracle SQL builders) remain in
  * [[PipelineQueries]].
  */
object WarehouseQueries {

  // Dedup-AWARE train/val/test split: the leakage-safe split key is
  // the near-duplicate CLUSTER (q61's transitive closure), not the
  // document — so near-copies can never straddle train/test even
  // when similarity is non-transitive; singletons key on their own
  // id. Composes the MinHash pipeline, connected components, and the
  // md5 hash split; the oracle replays all three.
  def q97ClusterSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.neardupPairs(Tables.documents(s, dir), "doc_id", "text",
      shingleK = 3, p = 64, bands = 16, threshold = 0.8)
    val clusters = graft.operators.ConnectedComponents.labels(pairs, "id_a", "id_b")
      .select($"node".as("doc_id"), $"cluster")
    val keyed = Tables.documents(s, dir).select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster", $"doc_id").as("cluster"))
    graft.operators.Datasplit.hashSplit(keyed, "cluster",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy($"doc_id")
  }

  // BM25 ranked search (the Lucene-default scorer): saturating tf +
  // document-length normalization over the same zero-explode stats
  // shape as q64 — one single-row aggregate (now also carrying Σ dl
  // for avgdl), broadcast back, row-local scoring, TakeOrdered.
  def q96Bm25(s: SparkSession, dir: String): DataFrame = {
    graft.text.Tfidf.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
      Seq("spark", "shuffle", "dup"), k = 20)
  }

  // Hybrid search: the q64 TF-IDF lexical ranking and a brute-force
  // cosine ranking (query vec 4) fused by reciprocal-rank fusion —
  // only ranks enter, so incomparable score scales don't matter, and
  // the fixed two-operand fusion sum lets the oracle replay both
  // rankings and the fusion exactly. (doc_id and vec_id share the
  // 0..N-1 id space in the driver corpus — documents ↔ embeddings.)
  def q95HybridSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byScore = org.apache.spark.sql.expressions.Window
      .orderBy($"score".desc, $"id")
    val text = graft.text.Tfidf.searchTopK(Tables.documents(s, dir),
        "doc_id", "text", Seq("spark", "shuffle", "dup"), k = 20)
      .select($"doc_id".as("id"), $"score")
      .withColumn("rank", row_number().over(byScore)) // 20-row frame
      .select($"id", $"rank")
    val emb = Tables.embeddings(s, dir)
    val vec = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        emb.filter($"vec_id" === 4).select($"embedding".as("qvec")), k = 20)
      .select($"vec_id".as("id"), $"cos".as("score"))
      .withColumn("rank", row_number().over(byScore)) // 20-row frame
      .select($"id", $"rank")
    graft.operators.RankFusion.rrf(Seq(text, vec), "id", "rank", k0 = 60, topK = 20)
  }

  // Exact-integer k-means over the embedding corpus: 4 clusters, 2
  // Lloyd iterations (init = 4 smallest vec_ids, integer squared-L2,
  // floor-div centroid means) — every step deterministic, so the
  // oracle unrolls both iterations in SQL and the ASSIGNMENTS compare
  // exactly, not approximately.
  def q94Kmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.similarity.KMeans.assign(
        Tables.embeddings(s, dir).select($"vec_id", $"embedding"),
        idCol = "vec_id", vecCol = "embedding", k = 4, iterations = 2)
      .orderBy($"vec_id")
  }

  // Schema-evolution union: three "generations" of the events table
  // (v1 without value, v2 with value, v3 with value + a props flag)
  // merged by column name with null-fill and provenance tags — then
  // audited per source. The oracle is the explicit UNION ALL with
  // NULL-padded columns.
  def q93SchemaMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.events(s, dir)
      .select($"event_id", $"event_type", floor($"value" * 1000).cast("long").as("vm"),
        get_json_object($"props", "$.k").cast("long").as("k"))
    val v1 = base.filter($"event_id" % 3 === 0).select($"event_id", $"event_type")
    val v2 = base.filter($"event_id" % 3 === 1).select($"event_id", $"event_type", $"vm")
    val v3 = base.filter($"event_id" % 3 === 2)
    graft.operators.SchemaMerge.unionEvolved(Seq("v1" -> v1, "v2" -> v2, "v3" -> v3))
      .groupBy($"__source", $"event_type")
      .agg(count(lit(1)).as("n"), sum($"vm").as("sum_vm"),
        count($"vm").as("n_vm"), count($"k").as("n_k"))
      .orderBy($"__source", $"event_type")
  }

  // Write-audit-publish end-to-end: the daily event rollup is staged,
  // audited (non-empty, no null keys, exact row-count reconciliation
  // against the source), and atomically swapped live; the QUERY reads
  // the PUBLISHED table, so the oracle (the same rollup straight from
  // the source) proves the staged→live swap preserved every row.
  def q92Wap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val live = PipelineQueries.tempDir("graft-q92").resolve("rollup").toString
    val src = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"), $"event_type",
        floor($"value" * 1000).cast("long").as("vm"))
    val rollup = src.groupBy($"day", $"event_type")
      .agg(count(lit(1)).as("n"), sum($"vm").as("sum_vm"))
    val expected = src.count()
    val rpt = graft.operators.Publish.writeAuditPublish(s, rollup, live, Seq(
      "non_empty" -> (d => d.count() > 0),
      "no_null_keys" -> (d => d.filter($"day".isNull || $"event_type".isNull).count() == 0),
      "reconciles" -> (d => d.agg(sum($"n")).as[Long].head() == expected)))
    require(rpt.published, s"audit failed: ${rpt.failed}")
    s.read.parquet(live).orderBy($"day", $"event_type")
  }

  // STREAMING SCD2 maintenance end-to-end: the event table arrives in
  // TWO deliveries (event_id parity) on one checkpoint; each
  // availableNow run lands its batch idempotently in the history spool
  // and rebuilds ONLY the touched key buckets of the dimension
  // (dynamic partition overwrite). The oracle is q72's batch SQL over
  // the whole table — the incrementally-maintained dim must equal the
  // full rebuild exactly.
  def q91StreamScd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_id", unix_millis($"ts").as("ms"), $"event_type")
    val tmp = PipelineQueries.tempDir("graft-q91")
    val src = tmp.resolve("src").toString
    val s2 = graft.ingest.Pipelines.streamingSession(s, "spark.sql.shuffle.partitions" -> "8")
    for (parity <- 0 to 1) {
      ev.filter($"event_id" % 2 === parity).write.mode("append").parquet(src)
      val stream = s2.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 100000).parquet(src)
      graft.operators.Scd2.maintainStream(stream,
        keyCol = "user_id", tsCol = "ms", valueCol = "event_type", tieCol = "event_id",
        spoolPath = tmp.resolve("spool").toString,
        dimPath = tmp.resolve("dim").toString,
        checkpoint = tmp.resolve("ckpt").toString).awaitTermination()
    }
    s.read.parquet(tmp.resolve("dim").toString)
      .select($"user_id", $"value", $"valid_from", $"valid_to", $"n_events",
        $"is_current".cast("long").as("is_current"))
      .orderBy($"user_id", $"valid_from", $"value")
  }

  // Chunk → reassemble round trip: documents sharded into 64-char
  // chunks (the context-window primitive), processed row-parallel,
  // then reassembled in chunk order; md5 of the reassembled text vs
  // md5 of the UNTOUCHED source is the identity proof — the oracle
  // never sees the chunking at all.
  def q90ChunkRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = graft.text.Chunker.chunk(
      Tables.documents(s, dir).select($"doc_id", $"text"), "doc_id", "text", chunkChars = 64)
    val stats = chunks.groupBy($"doc_id").agg(count(lit(1)).as("n_chunks"))
    graft.text.Chunker.reassemble(chunks, "doc_id", "chunk_ix", "chunk")
      .join(stats, "doc_id")
      .select($"doc_id", $"n_chunks", length($"text").cast("long").as("len"),
        md5($"text".cast("binary")).as("fp"))
      .orderBy($"doc_id")
  }

  // Interval union (coverage islands): every event projects a 30-min
  // activity span; overlapping/touching spans merge into maximal
  // covered islands per user — running-max-end gaps-and-islands on one
  // key partitioning. Output is per-user coverage stats, all integer.
  def q89IntervalMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val spans = Tables.events(s, dir)
      .select($"user_id", $"event_id", unix_millis($"ts").as("s_ms"),
        (unix_millis($"ts") + lit(1800000L)).as("e_ms"))
    graft.operators.Intervals.merge(spans, "user_id", "s_ms", "e_ms", "event_id")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum($"island_end" - $"island_start").as("covered_ms"),
        max($"island_end" - $"island_start").as("longest_ms"),
        sum($"n_merged").as("n_spans"))
      .orderBy($"user_id")
  }

  // Mergeable histogram-sketch table → range percentiles: per-day
  // fixed-width bin counts land in a parquet "sketch table" (q25
  // pattern), then a 16-day range is answered by MERGING parts —
  // never rescanning raw events. Unlike the HLL table (q70), bins and
  // estimates are pure integer math, so the oracle replays sketch,
  // merge, and estimate exactly; the ±width/2 value error is the
  // operator's stated contract, checked in HistogramSketchSpec.
  def q88RangeQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = PipelineQueries.tempDir("graft-q88").resolve("hist").toString
    val ev = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        floor($"value" * 1000).cast("long").as("vm"))
    graft.operators.HistogramSketch.parts(ev, "day", "vm", width = 1000L)
      .write.mode("overwrite").parquet(tmp)
    val parts = s.read.parquet(tmp)
      .filter($"day".between(19727L, 19742L)) // 2024-01-05 .. 2024-01-20
    graft.operators.HistogramSketch.quantiles(parts, width = 1000L, ps = Seq(50, 90, 99))
      .orderBy($"p")
  }

  // SLIDING-window rates (1h window, 15m slide): each event lands in
  // exactly 4 overlapping windows — the dashboard "rate over trailing
  // hour, refreshed every 15 min" series. Spark's window() emits the
  // epoch-aligned slide set; the oracle regenerates the same 4 window
  // starts per event with integer math.
  def q85SlidingWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"ts", $"event_type", floor($"value" * 1000).cast("long").as("vm"))
      .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"vm").as("sum_vm"))
      .select(unix_millis($"window.start").as("ws"), $"event_type", $"n", $"sum_vm")
      .orderBy($"ws", $"event_type")
  }

  // Order-2 sequence mining: counts of every length-3 event-type run
  // per user — the n-gram generalization of the q74 transition matrix
  // (one lead() chain in a single window stage, counts on the
  // |states|³ aggregate). Full matrix output; exact counts.
  def q86Trigrams(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Markov.sequenceCounts(
        Tables.events(s, dir)
          .select($"user_id", $"event_id", unix_millis($"ts").as("ms"), $"event_type"),
        keyCol = "user_id", tsCol = "ms", tieCol = "event_id",
        typeCol = "event_type", n = 3)
      .orderBy($"s1", $"s2", $"s3")
  }

  // Per-class example cap (corpus balancing): at most 40 docs per
  // language, selected by md5-of-id order — deterministic, append-
  // stable, attribute-independent. The oracle replays the identical
  // hash-ordered row_number cut.
  def q87ClassCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Datasplit.classCap(
        Tables.documents(s, dir).select($"doc_id", $"lang"),
        labelCol = "lang", idCol = "doc_id", k = 40)
      .orderBy($"doc_id")
  }

  // Skew-safe salted join: events (hot user keys) against a per-user
  // cohort dim on (user_id, salt) with ×8 dim replication — the
  // explicit planner-independent skew spread; SaltedJoinSpec proves
  // result ≡ plain join and actual salt spread. The oracle is the
  // unsalted join, so the compare IS the equivalence proof on real data.
  def q84SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", floor($"value" * 1000).cast("long").as("vm"))
    val dim = Tables.events(s, dir).select($"user_id", unix_millis($"ts").as("ms"))
      .groupBy($"user_id").agg(expr("min(ms) div 86400000").as("cohort_day"))
    graft.operators.SaltedJoin.inner(ev, dim, Seq("user_id"), replication = 8)
      .groupBy($"event_type", $"cohort_day")
      .agg(count(lit(1)).as("n"), sum($"vm").as("sum_vm"))
      .orderBy($"event_type", $"cohort_day")
  }

  // Golden-record survivorship per user: latest non-null value per
  // field — the metric is deliberately nulled on 'error' events, so
  // "latest value" and "latest GOOD value" genuinely differ and the
  // gaps-don't-erase rule is load-bearing. One algebraic struct-argmax
  // aggregate; the oracle replays it as first-non-null-in-DESC-order.
  def q83GoldenRecord(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_id", unix_millis($"ts").as("ms"), $"event_type",
        when($"event_type" =!= "error", floor($"value" * 1000).cast("long")).as("vm"))
    graft.operators.Survivorship.goldenRecord(
        ev, keyCol = "user_id", tsCol = "ms", tieCol = "event_id",
        fields = Seq("event_type", "vm"))
      .orderBy($"user_id")
  }

  // Snapshot diff between two derived versions of the events table
  // (deterministic edits: %5 deletions, %7 late arrivals, %3 value
  // bumps): per-status counts + key checksums. One full-outer hash
  // join; change detection is null-safe column compare on both engines.
  def q82SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.events(s, dir)
      .select($"event_id", $"event_type", floor($"value" * 1000).cast("long").as("vm"))
    val old = base.filter($"event_id" % 7 =!= 0)
    val neu = base.filter($"event_id" % 5 =!= 0)
      .withColumn("vm", when($"event_id" % 3 === 0, $"vm" + 1).otherwise($"vm"))
    graft.operators.SnapshotDiff.diff(old, neu, Seq("event_id"), Seq("event_type", "vm"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n"), sum($"event_id").as("id_sum"))
      .orderBy($"status")
  }

  // Pairwise Pearson correlation between the five event types' daily
  // metric totals: exact BIGINT sufficient statistics (the series are
  // integerized day aggregates), one fixed-shape double step at the
  // end — the oracle replays the identical formula.
  def q81Correlate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .select(date_format($"ts", "yyyy-MM-dd").as("day"), $"event_type",
        floor($"value").cast("long").as("v"))
      .groupBy($"day", $"event_type").agg(sum($"v").as("s"))
    graft.operators.Correlate.pairwisePearson(daily, "day", "event_type", "s")
      .orderBy($"series_a", $"series_b")
  }

  // Pivot: the day × event_type metric matrix, with the pivot value
  // list given EXPLICITLY — the scale-correct form (no collect-distinct
  // pre-job; one shuffle on the grouping key; absent cells stay null).
  // The oracle is the standard conditional-aggregation rewrite.
  def q80Pivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(date_format($"ts", "yyyy-MM-dd").as("day"), $"event_type",
        floor($"value" * 1000).cast("long").as("vm"))
      .groupBy($"day")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum($"vm"))
      .orderBy($"day")
  }

  // Z-order (Morton) keys over (user_id, metric): the two-dimensional
  // clustering key that gives files tight bounding boxes on BOTH
  // columns (ZOrderSpec proves the pruning). The key is pure integer
  // bit math, so the oracle replays the spread-bits ladder exactly;
  // `cell` is the coarse curve cell a layout would bucket by.
  def q79Zorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id",
        $"user_id".bitwiseAND(lit(65535L)).as("u16"),
        floor($"value" * 1000).cast("long").bitwiseAND(lit(65535L)).as("v16"))
      .select($"event_id", graft.operators.ZOrder.zValue2($"u16", $"v16").as("zkey"))
      .withColumn("cell", shiftright($"zkey", 20).cast("long"))
      .orderBy($"event_id")
  }

  // Small-file compaction end-to-end: the events table is deliberately
  // shattered into 64 tiny files (a micro-batch sink's debris), then
  // compacted to ~1 MiB targets via the shuffle-free coalesce path, and
  // the QUERY reads the compacted copy — so the oracle (the same agg on
  // the source table) proves the rewrite lost and duplicated nothing.
  def q78Compact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = PipelineQueries.tempDir("graft-q78")
    val frag = tmp.resolve("frag").toString
    val packed = tmp.resolve("packed").toString
    Tables.events(s, dir).select($"event_id", $"user_id", $"event_type", $"value")
      .repartition(64).write.mode("overwrite").parquet(frag)
    val rpt = graft.operators.Compaction.compact(s, frag, packed, targetBytes = 1L << 20)
    require(rpt.filesOut < rpt.filesIn,
      s"compaction must shrink the file count (${rpt.filesIn} -> ${rpt.filesOut})")
    graft.operators.Compaction.read(s, packed)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), countDistinct($"user_id").as("n_users"),
        sum(floor($"value" * 1000).cast("long")).as("sum_val_m"))
      .orderBy($"event_type")
  }

  // Global equi-depth binning of the event metric (feature bucketing):
  // 10 equal-population bins by exact global rank — computed with the
  // two-phase range-repartition prefix sum, never a one-partition
  // ntile window. Integerized metric; the oracle replays the identical
  // row_number()-based bin assignment.
  def q77EquiDepth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_id", floor($"value" * 1000).cast("long").as("vm"))
    graft.operators.EquiDepth.bins(ev, "vm", "event_id", k = 10)
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_rows"), min($"vm").as("min_v"),
        max($"vm").as("max_v"), sum($"vm").as("sum_v"))
      .orderBy($"bin")
  }

  // One-pass data profiling over lineitem: per-column row/null/exact
  // distinct counts + numeric min/max (string columns profile length).
  // One scan, one shuffle; the k count(distincts) ride Spark's Expand.
  def q76Profile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.ProfileStats.profile(
        Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_linestatus"))
      .orderBy($"col_name")
  }

  // EXACT shingle-set Jaccard self-join — the zero-recall-loss
  // counterpart of q18's MinHash-LSH banding, on the same
  // word-3-shingle sets at the same 0.8 threshold: prefix filtering
  // (rarest-df-first ordering) keeps the exact form subquadratic.
  // The oracle is the q18-style brute-force all-pairs jaccard with
  // all-integer output (shared/union counts), so the compare is exact.
  def q75SetSimJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // codegen'd hash shingles: set-of-hashes ≡ set-of-strings absent
    // xxhash64 collisions (the q157 convention; the string HOF was the
    // measured bottleneck of the whole join — 5.6 s of 13 s at sf0.1)
    val sets = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism) // spread shingle work
      .select($"doc_id", graft.plans.GraftFunctions.wordShingleHashes($"text", 3).as("sh"))
    graft.dedup.SetSimJoin.jaccardJoin(sets, "doc_id", "sh", tNum = 8, tDen = 10)
      .orderBy($"id_a", $"id_b")
  }

  // First-order Markov transition matrix over per-user event
  // sequences: exact step counts + row-normalized probabilities. The
  // normalizing window runs on the |states|²-row aggregate, never on
  // raw events; DuckDB replays the identical lead/count/row-normalize.
  def q74Transitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Markov.transitions(
        Tables.events(s, dir)
          .select($"user_id", $"event_id", unix_millis($"ts").as("ms"), $"event_type"),
        keyCol = "user_id", tsCol = "ms", tieCol = "event_id", typeCol = "event_type")
      .orderBy($"from_type", $"to_type")
  }

  // PageRank over the customer→supplier purchase graph (who buys from
  // whom): damped rank with uniform dangling-mass return, 3 fixed
  // iterations in exact BIGINT units so DuckDB replays the loop
  // bit-for-bit as unrolled CTEs. Customers get even node ids,
  // suppliers odd; the graph is bipartite so EVERY supplier dangles —
  // the dangling-return path is load-bearing here, not decorative.
  def q73PageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey".cast("long") * 2).as("src"),
        ($"l_suppkey".cast("long") * 2 + 1).as("dst"))
    graft.operators.PageRank.ranks(edges, "src", "dst", iterations = 3)
      .select($"node", $"rank".as("pr"))
      .orderBy($"node")
  }

  // SCD-type-2 dimension build over the event stream: per-user runs of
  // equal event_type collapsed into [valid_from, valid_to) validity
  // intervals (gaps-and-islands), the open-ended last interval flagged
  // current. One hash partitioning by user_id is reused across the
  // lag/island-sum/lead window steps. The oracle replays the identical
  // lag → island-id → lead SQL; is_current is cast to BIGINT on both
  // sides so the compare never depends on boolean rendering.
  def q72Scd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Scd2.build(
        Tables.events(s, dir)
          .select($"user_id", $"event_id", unix_millis($"ts").as("ms"), $"event_type"),
        keyCol = "user_id", tsCol = "ms", valueCol = "event_type", tieCol = "event_id")
      .withColumn("is_current", $"is_current".cast("long"))
      .orderBy($"user_id", $"valid_from", $"value")
  }

  // Rolling-hash (winnowing-style) document fingerprint: min of the
  // char-window polynomial hashes — robust to edits outside the
  // minimizing window, pure integer math (exact oracle).
  def q33RollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism) // char-level fold is CPU-heavy
      .select($"doc_id", TextAnalysis.rollingFingerprint($"text", 16).as("rfp"))
      .orderBy($"doc_id")
  }

  // CDC changelog application (MERGE INTO): snapshot = per-user latest
  // state over the first half of the event stream; changes = the second
  // half with op derived from the event type (error→delete,
  // signup→insert, else update), version order = (ms, event_id) made a
  // single total-order key. One argmax aggregation reduces the
  // changelog, one full-outer key join applies it — the oracle replays
  // winner selection and the merge in SQL.
  def q98MergeCdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select(
      $"user_id", $"event_type".as("typ"),
      floor($"value" * 1000).cast("long").as("vm"),
      (unix_millis($"ts") * 1000000L + $"event_id" % 1000000L).as("seq"),
      unix_millis($"ts").as("ms"))
    val mm = e.agg(min($"ms"), max($"ms")).head()
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2
    val snapshot = e.filter($"ms" < mid)
      .groupBy($"user_id")
      .agg(max_by(struct($"typ", $"vm"), $"seq").as("w"))
      .select($"user_id", $"w.typ".as("typ"), $"w.vm".as("vm"))
    val changes = e.filter($"ms" >= mid)
      .withColumn("op",
        when($"typ" === "error", "D").when($"typ" === "signup", "I").otherwise("U"))
    graft.operators.MergeApply(snapshot, changes, "user_id", "seq", "op",
        Seq("typ", "vm"))
      .orderBy($"user_id")
  }

  // File-level min/max data skipping: events written range-partitioned
  // on the metric into 16 files with a side stats index; a range query
  // reads ONLY the files whose [min,max] envelope intersects, plus the
  // row-level residual filter. The oracle runs the same predicate over
  // the source table — pruning must be invisible to results. Pruning
  // effectiveness (files actually skipped) is asserted in FileStatsSpec.
  def q99FileSkip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = PipelineQueries.tempDir("graft-q99").resolve("ev").toString
    val src = Tables.events(s, dir)
      .select($"event_id", $"event_type", floor($"value" * 1000).cast("long").as("vm"))
    graft.sources.FileStats.writeWithStats(src, path, "vm", numFiles = 16)
    val (pruned, nSel, nTot) = graft.sources.FileStats.prunedRead(s, path, 50000L, 150000L)
    require(nSel < nTot, s"expected file skipping, read $nSel of $nTot")
    pruned.filter($"vm" >= 50000L && $"vm" <= 150000L)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"), sum($"vm").as("sum_vm"))
      .orderBy($"event_type")
  }

  // Temperature-based corpus mixing over the skewed language mix
  // (alpha=0.5): big languages thinned toward uniform, rarest kept
  // whole, keep decisions replayable (md5 uniforms). Integer-only
  // output (kept counts + id checksum per language).
  def q100TemperatureMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Datasplit.temperatureMix(
        Tables.documents(s, dir).select($"doc_id", $"lang"),
        "doc_id", "lang", alpha = 0.5, salt = "tm")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("sum_ids"))
      .orderBy($"lang")
  }

  // C4-style corpus-wide segment dedup: 12-word segments, first
  // occurrence (by doc id, then position) wins globally, documents
  // rebuilt from surviving segments. Output is per-doc segment counts +
  // the md5 fingerprint of the rebuilt text, so the oracle pins BOTH
  // the drop decisions and the reassembly order.
  def q101SegmentDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.text.SegmentDedup.dedupSegments(
        Tables.documents(s, dir), "doc_id", "text", width = 12)
      .orderBy($"doc_id")
  }

  // Edit-distance-1 fuzzy self-join on supplier names via SymSpell
  // deletion-neighborhood blocking + exact levenshtein verify. The
  // oracle brute-forces all pairs — the engine never does.
  def q102FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.text.FuzzyJoin.editDistance1Pairs(
        Tables.supplier(s, dir), "s_suppkey", "s_name")
      .withColumn("dist", $"dist".cast("long"))
      .orderBy($"id_a", $"id_b")
  }

  // Star-schema revenue rollup: lineitem ⋈ orders ⋈ customer with the
  // nation/region dims broadcast — the canonical warehouse join tree
  // (fact-side shuffles on join keys only, dims never shuffle).
  // Revenue integerized at cents so the compare is exact.
  def q103StarJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", year($"o_orderdate").cast("long").as("o_year"))
      .agg(
        floor(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * lit(100.0))).cast("long").as("revenue_cents"),
        countDistinct($"o_orderkey").as("n_orders"))
      .orderBy($"r_name", $"o_year")
  }

  // Per-type winsorization of the event metric at exact [p05, p95]
  // rank bounds (deterministic tie order), then clamped totals — pure
  // integer order statistics, replayed bit-for-bit by the oracle.
  def q104Winsorize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", $"event_id", floor($"value" * 1000).cast("long").as("vm"))
    graft.operators.Winsorize.clamp(ev, "event_type", "vm", "event_id", 0.05, 0.95)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"), min($"clamped").as("lo_v"),
        max($"clamped").as("hi_v"), sum($"clamped").as("sum_clamped"))
      .orderBy($"event_type")
  }

  // Data-quality expectation gates: four named rules evaluated in one
  // scan, per-rule violation counts + ok/quarantine totals. Rules are
  // chosen so each bucket is non-trivially populated at every SF.
  private def q105Rules(s: SparkSession): Seq[(String, org.apache.spark.sql.Column)] = {
    import s.implicits._
    Seq(
      "value_in_range" -> ($"value".isNotNull && $"value" >= 0.0 && $"value" <= 250.0),
      "known_type" -> $"event_type".isin("view", "click", "purchase", "signup", "error"),
      "valid_user" -> ($"user_id".isNotNull && $"user_id" >= 0L),
      "props_k_low" -> {
        val k = regexp_extract($"props", "\"k\": (\\d+)", 1)
        (k =!= "") && k.cast("long").between(0L, 49L)
      })
  }

  def q105Expectations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Expectations.report(Tables.events(s, dir), q105Rules(s))
      .orderBy($"rule")
  }

  // Robust per-type location/scale: exact lower median + MAD of the
  // integerized metric, plus robust-z outlier counts at 5 MADs —
  // rank-based integers only, replayed bit-for-bit by the oracle.
  def q106RobustScale(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", $"event_id", floor($"value" * 1000).cast("long").as("vm"))
    graft.operators.RobustStats.medianMadOutliers(ev, "event_type", "vm", "event_id", zmax = 5L)
      .orderBy($"event_type")
  }

  // Exact triangle count over the co-purchase part graph (parts that
  // appear in the same order), via degree-ordered orientation — the
  // skew-capped wedge join. The oracle brute-forces the 3-way join on
  // canonical a<b<c edges; the engine never materializes unoriented
  // wedges.
  def q107Triangles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val edges = graft.operators.Edges.coOccurrence(li, "l_orderkey", "l_partkey",
      graft.operators.Edges.orderGroupCap)
      .select($"a".as("src"), $"b".as("dst"))
    graft.operators.Triangles.count(edges, "src", "dst")
  }

  // K-anonymity audit of a customer extract under the quasi-identifier
  // (nation, market segment, balance rounded to thousands): class
  // sizes, classes/rows below k=5 — the privacy gate a training
  // extract passes before release.
  def q108KAnonymity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qi = Tables.customer(s, dir).select(
      $"c_nationkey".cast("long").as("nat"),
      $"c_mktsegment".as("seg"),
      floor($"c_acctbal" / 1000.0).cast("long").as("bal_k"))
    graft.operators.KAnonymity.audit(qi, Seq("nat", "seg", "bal_k"), k = 5L)
  }

  // Arbitrary GROUPING SETS (not rollup/cube): per (type, day), per
  // type, and grand total in ONE pass over events — Spark's Expand
  // feeds all three grains into a single aggregation, the way a
  // dashboard requests exactly the grains it renders.
  def q109GroupingSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select(
      $"event_type", expr("unix_millis(ts) div 86400000").as("day"),
      floor($"value" * 1000).cast("long").as("vm"))
    ev.groupingSets(
        Seq(Seq($"event_type", $"day"), Seq($"event_type"), Seq.empty),
        $"event_type", $"day")
      .agg(count(lit(1)).as("n"), sum($"vm").as("sum_vm"),
        grouping_id().as("gid"))
      .select(coalesce($"event_type", lit("ALL")).as("event_type"),
        coalesce($"day", lit(-1L)).as("day"), $"n", $"sum_vm", $"gid")
      .orderBy($"gid", $"event_type", $"day")
  }

  // Entity resolution end-to-end: edit-distance-1 blocking+verify on
  // supplier names (q102's join) → connected-component closure → one
  // golden record per cluster (richest member's name, deterministic
  // ties). Composes three operator families the way a real MDM
  // pipeline chains them; the oracle replays pairs, closure (recursive
  // CTE) and survivorship in SQL.
  def q110EntityResolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sup = Tables.supplier(s, dir).select($"s_suppkey", $"s_name",
      floor($"s_acctbal" * 100).cast("long").as("bal_c"))
    val pairs = graft.text.FuzzyJoin.editDistance1Pairs(sup, "s_suppkey", "s_name")
    val labels = graft.operators.ConnectedComponents.labels(pairs, "id_a", "id_b")
      .withColumnRenamed("node", "s_suppkey").withColumnRenamed("cluster", "cl")
    sup.join(labels, Seq("s_suppkey"), "left")
      .withColumn("cluster", coalesce($"cl", $"s_suppkey"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_members"),
        max_by($"s_name", struct($"bal_c", -$"s_suppkey")).as("best_name"),
        max($"bal_c").as("max_bal_c"))
      .orderBy($"cluster")
  }

  // Incremental view maintenance: a per-(user, type) count/sum view
  // built from the first half of the events stream, then maintained
  // under the second half as a SIGNED changelog (errors retract) —
  // work is O(touched keys), never a history rescan. The oracle
  // recomputes the view from scratch with the same signs; maintained
  // must equal rebuilt exactly.
  def q111IncrementalView(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select(
      $"user_id", $"event_type".as("typ"),
      floor($"value" * 1000).cast("long").as("vm"),
      unix_millis($"ts").as("ms"))
    val mm = e.agg(min($"ms"), max($"ms")).head()
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2
    val view = graft.operators.IncrementalView.build(
      e.filter($"ms" < mid), Seq("user_id", "typ"), "vm", "n", "sum_vm")
    val delta = e.filter($"ms" >= mid)
      .withColumn("sign", when($"typ" === "error", -1L).otherwise(1L))
    graft.operators.IncrementalView.applyDelta(
        view, delta, Seq("user_id", "typ"), "n", "sum_vm", "sign", "vm")
      .orderBy($"user_id", $"typ")
  }

  // Sorted-neighborhood near-dup candidates: block on the first 32
  // chars, compare only rank-adjacent docs within a 5-wide window,
  // verify with edit distance over the 80-char prefix. w·n candidates
  // by construction (skew-immune), and the global ordering comes from
  // GlobalRank's distributed range sort — no single-partition window.
  // The oracle replays the same window definition with a row_number
  // self-join.
  def q112SortedNeighborhood(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir).select($"doc_id", $"text")
    graft.text.SortedNeighborhood.nearDupPairs(docs, "doc_id", "text",
        t => substring(t, 1, 32), w = 5, verifyPrefix = 80, maxDist = 16)
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
      .orderBy($"doc_a", $"doc_b")
  }

  // Daily resample of the per-type metric series with LOCF gap fill
  // onto the table's full [min,max] day range (the bounds probe is one
  // tiny min/max agg — metadata-scale, same convention as q16's span
  // probe). The oracle replays the calendar with generate_series and
  // an IGNORE NULLS running window.
  def q113GapFill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .select($"event_type".as("typ"),
        expr("unix_millis(ts) div 86400000").as("day"),
        floor($"value" * 1000).cast("long").as("vm"))
      .groupBy($"typ", $"day").agg(sum($"vm").as("sum_vm"))
    val mm = daily.agg(min($"day"), max($"day")).head()
    graft.operators.Resample.fillForward(
        daily, "typ", "day", "sum_vm", mm.getLong(0), mm.getLong(1))
      .orderBy($"typ", $"day")
  }

  // Pareto frontier of parts under (minimize price, maximize size) —
  // "the cheapest part at every size class". The engine's two-phase
  // sort-sweep never forms a dominance join; the oracle IS the O(n²)
  // NOT EXISTS dominance definition, so the sweep's tie handling is
  // pinned exactly.
  def q114Skyline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables.part(s, dir).select($"p_partkey",
      floor($"p_retailprice" * 100).cast("long").as("price_c"),
      $"p_size".cast("long").as("sz"))
    graft.operators.Skyline.pareto2d(p, "price_c", "sz")
      .orderBy($"price_c", $"sz", $"p_partkey")
  }

  // Per-(returnflag, linestatus) OLS fit of price-on-quantity via
  // exact integer sufficient stats — one algebraic agg, slope as an
  // exact integer num/den pair plus a floor-divided milli quotient
  // (the q88 floor correction). The oracle recomputes the same closed
  // form.
  def q115GroupRegression(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, dir).select(
      $"l_returnflag".as("rf"), $"l_linestatus".as("ls"),
      $"l_quantity".cast("long").as("x"),
      floor($"l_extendedprice").cast("long").as("y"))
    graft.operators.Regression.olsStats(l, Seq("rf", "ls"), "x", "y")
      .orderBy($"rf", $"ls")
  }

  // Distribution-drift gate between the first and second half of the
  // events stream: metric values binned at 20-unit width, per-bin
  // frequencies in exact ppm, drift flag at 0.5%. All integer
  // arithmetic — ppm stays bounded at any scale, unlike cross-
  // multiplied chi-square terms.
  def q116FrequencyDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select(
      expr("floor(value * 1000) div 20000").cast("long").as("bin"),
      unix_millis($"ts").as("ms"))
    val mm = e.agg(min($"ms"), max($"ms")).head()
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2
    graft.operators.Drift.frequencyDrift(
        e.filter($"ms" < mid), e.filter($"ms" >= mid), "bin",
        thresholdPpm = 5000L)
      .orderBy($"bin")
  }

  // Market-basket mining over orders: parts co-purchased in the same
  // order, Apriori item prune before the pair join, support/confidence/
  // lift as exact integers. The oracle replays the same counting.
  def q117AssociationRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey".as("tx"), $"l_partkey".as("item"))
    graft.operators.AssociationRules.frequentPairs(
        li, "tx", "item", minSupItem = 10L, minSupPair = 3L)
      .orderBy($"item_a", $"item_b")
  }

  // Record-linkage candidate scoring over customers: weighted agreement
  // on (segment, balance bucket, name suffix) with integer
  // log-odds-style weights, threshold at 70. The oracle replays the
  // blocked join and CASE-sum score. Blocking is (nation, bal_b), not
  // nation alone — EXACTLY result-preserving because the score
  // arithmetic forces it: without bal_b's 40 the ceiling is
  // seg+suffix = 60 < 70, so every qualifying pair shares bal_b. The
  // sf1 scale sweep measured the difference: nation is a FIXED 25-value
  // domain, so nation-only blocks grow linearly with SF and pair
  // candidates quadratically (×30 on a 10× scale-up); folding the
  // score-mandated bal_b into the block key multiplies block count by
  // the bucket cardinality and keeps the same output. The general rule
  // (RecordLinkage scaladoc): blocking cardinality must scale with the
  // corpus — derive block keys from score-mandated fields first.
  def q118RecordLinkage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, dir).select(
      $"c_custkey", $"c_nationkey".cast("long").as("nat"),
      $"c_mktsegment".as("seg"),
      floor($"c_acctbal" / 500.0).cast("long").as("bal_b"),
      substring($"c_name", -2, 2).as("suffix"))
    // union blocking (sf3 lesson): minScore 70 needs bal_b (40) plus
    // seg (30) OR suffix (30) — seg+suffix alone is 60. So candidates
    // = (nat, bal_b, seg)-pairs ∪ (nat, bal_b, suffix)-pairs, exactly
    // the qualifying set; the old single (nat, bal_b) blocking was a
    // fixed-cardinality key (25 × ~22 buckets) whose candidate volume
    // grew corpus-quadratically (sf3: candidates 1.9e8 → 4.6e7, warm
    // 103 → 70 s — the rest is the legitimately quadratic 45M-pair
    // output's own sort/dedup; see the scaladoc regime note).
    graft.operators.RecordLinkage.scorePairsUnionBlocked(c, "c_custkey",
        Seq(Seq("nat", "bal_b", "seg"), Seq("nat", "bal_b", "suffix")),
        Seq(("seg", 30L), ("bal_b", 40L), ("suffix", 30L)), minScore = 70L)
      .orderBy($"id_a", $"id_b")
  }

  // Per-user activity streaks: maximal runs of consecutive active days
  // via the rank-difference islands trick — one user-partitioned
  // window + one hash-agg. Oracle replays the identical trick.
  def q119ActivityIslands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select($"user_id",
      expr("unix_millis(ts) div 86400000").as("day"))
    graft.operators.Islands.detect(e, "user_id", "day")
      .orderBy($"user_id", $"island_start")
  }

  // 7-observation trailing sum/mean of the per-type daily metric —
  // the dashboard smoothing window — group-partitioned rows frame,
  // truncated integer mean. Oracle: identical window in DuckDB.
  def q120RollingMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .select($"event_type".as("typ"),
        expr("unix_millis(ts) div 86400000").as("day"),
        floor($"value" * 1000).cast("long").as("vm"))
      .groupBy($"typ", $"day").agg(sum($"vm").as("sum_vm"))
    graft.operators.RollingAgg.trailing(daily, "typ", "day", "sum_vm", k = 7)
      .orderBy($"typ", $"day")
  }

  // Inter-arrival gaps between consecutive events of the same user,
  // summarized per type (of the later event) with exact count/min/max/
  // lower-median milliseconds. Oracle replays the lag window and the
  // rank-selected median.
  def q121InterArrival(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select($"user_id",
      unix_millis($"ts").as("ms"), $"event_type".as("typ"), $"event_id")
    graft.operators.InterArrival.stats(e, "user_id", "ms", "typ", "event_id")
      .orderBy($"typ")
  }

  // Per-node clustering coefficient over the q107 co-purchase graph:
  // triangle credit from the oriented closing join exploded to all
  // three corners, coefficient as the exact pair (2·tri, deg·(deg−1)).
  // The oracle brute-forces the 3-way canonical-edge join and counts
  // corner appearances.
  def q122ClusteringCoefficient(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val edges = graft.operators.Edges.coOccurrence(li, "l_orderkey", "l_partkey",
      graft.operators.Edges.orderGroupCap)
      .select($"a".as("src"), $"b".as("dst"))
    graft.operators.Triangles.clusteringCoefficient(edges, "src", "dst")
      .orderBy($"node")
  }

  // Exact rolling 7-day distinct active users per day via credit
  // explosion — each (user, day) activity credits the 7 windows it
  // keeps the user active in; no per-day rescan, no window function.
  // The oracle recounts each day's trailing window with a range join.
  def q123RollingActiveUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select($"user_id",
      expr("unix_millis(ts) div 86400000").as("day"))
    graft.operators.RollingDistinct.trailingDistinct(e, "user_id", "day", k = 7)
      .orderBy($"day")
  }

  // Quantity-weighted lower-median price per return flag — the
  // volume-weighted typical price. Cross-multiplied half-mass test,
  // (value, tie) deterministic order; oracle replays the running-sum
  // window and the first-qualifying-row select.
  def q124WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val l = Tables.lineitem(s, dir).select(
      $"l_returnflag".as("rf"),
      floor($"l_extendedprice").cast("long").as("v"),
      $"l_quantity".cast("long").as("w"),
      ($"l_orderkey" * 10L + $"l_linenumber").as("tie"))
    graft.operators.WeightedMedian.weightedMedian(l, "rf", "v", "w", "tie")
      .orderBy($"rf")
  }

  // CUSUM change-point per event type over the daily metric series:
  // reference level = the series' own lower median, peak |CUSUM| day
  // reported with earliest-day ties. Oracle replays median select,
  // running CUSUM and peak pick.
  def q125ChangePoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .select($"event_type".as("typ"),
        expr("unix_millis(ts) div 86400000").as("day"),
        floor($"value" * 1000).cast("long").as("vm"))
      .groupBy($"typ", $"day").agg(sum($"vm").as("s"))
    graft.operators.ChangePoint.cusumPeak(daily, "typ", "day", "s")
      .orderBy($"typ")
  }

  // Which event types drove the metric's change between the two
  // halves of the stream: per-segment sums, delta, and signed ppm
  // share of the total delta. One conditional-sum agg + broadcast
  // total.
  def q126Contribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select($"event_type".as("seg"),
      floor($"value" * 1000).cast("long").as("vm"),
      unix_millis($"ts").as("ms"))
    val mm = e.agg(min($"ms"), max($"ms")).head()
    val mid = (mm.getLong(0) + mm.getLong(1)) / 2
    graft.operators.Contribution.deltaShares(
        e.withColumn("in_b", $"ms" >= mid), "seg", "vm", "in_b")
      .orderBy($"seg")
  }

  // Concurrent shipments of the same part: interval-overlap SELF-join
  // on bin-bucketed ship spans ([ship_day, ship_day + qty%28 + 3)),
  // each overlapping pair emitted exactly once in its responsibility
  // bin — an ordinary equi-join on (part, bin) Catalyst can shuffle
  // and AQE-split, never a nested-loop. The oracle brute-forces the
  // quadratic self-join; the engine never does.
  def q127OverlapShipments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.lineitem(s, dir).select(
        $"l_partkey",
        expr("datediff(cast(l_shipdate as date), date'1970-01-01')")
          .cast("long").as("sd"),
        ($"l_orderkey" * 10L + $"l_linenumber").as("lid"),
        ($"l_quantity".cast("long") % 28L + 3L).as("len"))
      .withColumn("ed", $"sd" + $"len")
    val lft = base.select($"l_partkey".as("pk_l"), $"sd".as("s_l"),
      $"ed".as("e_l"), $"lid".as("id_l"))
    val rgt = base.select($"l_partkey".as("pk_r"), $"sd".as("s_r"),
      $"ed".as("e_r"), $"lid".as("id_r"))
    graft.operators.RangeJoin.intervalOverlap(
        lft, rgt, "s_l", "e_l", "s_r", "e_r", binWidth = 32L,
        keys = Seq("pk_l" -> "pk_r"))
      .filter($"id_l" < $"id_r")
      .groupBy($"pk_l".as("partkey"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(least($"e_l", $"e_r") - greatest($"s_l", $"s_r")).as("overlap_days"))
      .orderBy($"partkey")
  }

  // Category-tree flatten over a derived part hierarchy (parent(k) =
  // max(k div 3, 1) — a ternary tree rooted at 1, depth ≈ log₃ N):
  // pointer doubling resolves every node's (root, depth) in
  // ⌈log₂ depth⌉ self-joins where a WITH-RECURSIVE walk (the oracle)
  // takes depth sequential ones.
  def q128HierarchyFlatten(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Tables.part(s, dir).select($"p_partkey".as("node"),
      greatest(expr("p_partkey div 3"), lit(1L)).as("parent"))
    graft.operators.Hierarchy.flatten(edges, "node", "parent")
      .orderBy($"node")
  }

  // Melt lineitem's four measure columns to long form (Expand —
  // map-side row fan-out, no shuffle, no UDF), then one generic
  // hash-agg over (flag, measure). Exact cents keep both engines
  // integer. The oracle melts with UNION ALL.
  def q129MeltMeasures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wide = Tables.lineitem(s, dir).select(
      $"l_returnflag".as("rf"),
      floor($"l_quantity" * 100).cast("long").as("quantity"),
      floor($"l_extendedprice" * 100).cast("long").as("extendedprice"),
      floor($"l_discount" * 100).cast("long").as("discount"),
      floor($"l_tax" * 100).cast("long").as("tax"))
    graft.operators.Reshape.melt(wide, Seq("rf"),
        Seq("quantity", "extendedprice", "discount", "tax"), "measure", "cents")
      .groupBy($"rf", $"measure")
      .agg(sum($"cents").as("total_cents"), count(lit(1)).as("n"))
      .orderBy($"rf", $"measure")
  }

  // Relational→nested training-example assembly: each order packs its
  // lines into a sorted array<struct> (one hash-agg + one
  // co-partitioned join, sort_array row-local). Compared via a
  // canonical string signature — struct hashing is engine-specific,
  // strings are not. Childless orders keep empty arrays ('' sig).
  def q130OrderDocuments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val items = Tables.lineitem(s, dir).select(
      $"l_orderkey",
      $"l_linenumber".cast("long").as("ln"),
      $"l_partkey".as("pk"),
      $"l_quantity".cast("long").as("qty"),
      floor($"l_extendedprice" * 100).cast("long").as("cents"))
    graft.operators.Nest.assemble(
        Tables.orders(s, dir).select($"o_orderkey", $"o_custkey"),
        items, "o_orderkey", "l_orderkey", Seq("ln", "pk", "qty", "cents"))
      .select($"o_orderkey".as("order_key"), $"o_custkey".as("cust_key"),
        size($"items").cast("long").as("n_items"),
        expr("aggregate(items, 0L, (a, x) -> a + x.cents)").as("total_cents"),
        expr("array_join(transform(items, x -> " +
          "concat(x.ln, ':', x.pk, ':', x.qty, ':', x.cents)), '|')")
          .as("items_sig"))
      .orderBy($"order_key")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q33_rolling_fingerprint" -> q33RollingFingerprint _,
    "q72_scd2" -> q72Scd2 _,
    "q73_pagerank" -> q73PageRank _,
    "q74_transitions" -> q74Transitions _,
    "q75_setsim_join" -> q75SetSimJoin _,
    "q76_profile" -> q76Profile _,
    "q77_equidepth" -> q77EquiDepth _,
    "q78_compact" -> q78Compact _,
    "q79_zorder" -> q79Zorder _,
    "q80_pivot" -> q80Pivot _,
    "q81_correlate" -> q81Correlate _,
    "q82_snapshot_diff" -> q82SnapshotDiff _,
    "q83_golden_record" -> q83GoldenRecord _,
    "q84_salted_join" -> q84SaltedJoin _,
    "q85_sliding_window" -> q85SlidingWindow _,
    "q86_trigrams" -> q86Trigrams _,
    "q87_class_cap" -> q87ClassCap _,
    "q88_range_quantiles" -> q88RangeQuantiles _,
    "q89_interval_merge" -> q89IntervalMerge _,
    "q90_chunk_roundtrip" -> q90ChunkRoundtrip _,
    "q91_stream_scd2" -> q91StreamScd2 _,
    "q92_wap" -> q92Wap _,
    "q93_schema_merge" -> q93SchemaMerge _,
    "q94_kmeans" -> q94Kmeans _,
    "q95_hybrid_search" -> q95HybridSearch _,
    "q96_bm25" -> q96Bm25 _,
    "q97_cluster_split" -> q97ClusterSplit _,
    "q98_merge_cdc" -> q98MergeCdc _,
    "q99_file_skip" -> q99FileSkip _,
    "q100_temperature_mix" -> q100TemperatureMix _,
    "q101_segment_dedup" -> q101SegmentDedup _,
    "q102_fuzzy_join" -> q102FuzzyJoin _,
    "q103_star_join" -> q103StarJoin _,
    "q104_winsorize" -> q104Winsorize _,
    "q105_expectations" -> q105Expectations _,
    "q106_robust_scale" -> q106RobustScale _,
    "q107_triangles" -> q107Triangles _,
    "q108_k_anonymity" -> q108KAnonymity _,
    "q109_grouping_sets" -> q109GroupingSets _,
    "q110_entity_resolution" -> q110EntityResolution _,
    "q111_incremental_view" -> q111IncrementalView _,
    "q112_sorted_neighborhood" -> q112SortedNeighborhood _,
    "q113_gap_fill" -> q113GapFill _,
    "q114_skyline" -> q114Skyline _,
    "q115_group_regression" -> q115GroupRegression _,
    "q116_frequency_drift" -> q116FrequencyDrift _,
    "q117_association_rules" -> q117AssociationRules _,
    "q118_record_linkage" -> q118RecordLinkage _,
    "q119_activity_islands" -> q119ActivityIslands _,
    "q120_rolling_metrics" -> q120RollingMetrics _,
    "q121_inter_arrival" -> q121InterArrival _,
    "q122_clustering_coefficient" -> q122ClusteringCoefficient _,
    "q123_rolling_active_users" -> q123RollingActiveUsers _,
    "q124_weighted_median" -> q124WeightedMedian _,
    "q125_change_point" -> q125ChangePoint _,
    "q126_contribution" -> q126Contribution _,
    "q127_overlap_shipments" -> q127OverlapShipments _,
    "q128_hierarchy_flatten" -> q128HierarchyFlatten _,
    "q129_melt_measures" -> q129MeltMeasures _,
    "q130_order_documents" -> q130OrderDocuments _,
  )

  val oracle: Map[String, String] = Map(
    "q127_overlap_shipments" ->
      """WITH b AS (
        | SELECT l_partkey pk, epoch_ms(l_shipdate) // 86400000 AS sd,
        |  epoch_ms(l_shipdate) // 86400000 + CAST(l_quantity AS BIGINT) % 28 + 3 AS ed,
        |  l_orderkey * 10 + l_linenumber AS lid
        | FROM lineitem)
        |SELECT x.pk AS partkey, count(*) AS n_pairs,
        | CAST(sum(least(x.ed, y.ed) - greatest(x.sd, y.sd)) AS BIGINT) AS overlap_days
        |FROM b x JOIN b y ON x.pk = y.pk AND x.lid < y.lid
        | AND x.sd < y.ed AND y.sd < x.ed
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q128_hierarchy_flatten" ->
      """WITH RECURSIVE e AS (
        | SELECT p_partkey AS node, greatest(p_partkey // 3, 1) AS parent FROM part),
        |h AS (
        | SELECT node, node AS root, CAST(0 AS BIGINT) AS depth FROM e WHERE parent = node
        | UNION ALL
        | SELECT e.node, h.root, h.depth + 1 FROM e JOIN h ON e.parent = h.node
        |  WHERE e.parent <> e.node)
        |SELECT node, root, depth FROM h ORDER BY node""".stripMargin,

    "q129_melt_measures" ->
      """WITH w AS (
        | SELECT l_returnflag rf,
        |  CAST(floor(l_quantity * 100) AS BIGINT) AS quantity,
        |  CAST(floor(l_extendedprice * 100) AS BIGINT) AS extendedprice,
        |  CAST(floor(l_discount * 100) AS BIGINT) AS discount,
        |  CAST(floor(l_tax * 100) AS BIGINT) AS tax
        | FROM lineitem),
        |m AS (
        | SELECT rf, 'quantity' AS measure, quantity AS cents FROM w
        | UNION ALL SELECT rf, 'extendedprice', extendedprice FROM w
        | UNION ALL SELECT rf, 'discount', discount FROM w
        | UNION ALL SELECT rf, 'tax', tax FROM w)
        |SELECT rf, measure, CAST(sum(cents) AS BIGINT) AS total_cents,
        | count(*) AS n
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q130_order_documents" ->
      """WITH i AS (
        | SELECT l_orderkey, CAST(l_linenumber AS BIGINT) ln, l_partkey pk,
        |  CAST(l_quantity AS BIGINT) qty,
        |  CAST(floor(l_extendedprice * 100) AS BIGINT) cents
        | FROM lineitem),
        |g AS (
        | SELECT l_orderkey, count(*) AS n_items,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  string_agg(ln || ':' || pk || ':' || qty || ':' || cents, '|'
        |   ORDER BY ln, pk, qty, cents) AS sig
        | FROM i GROUP BY 1)
        |SELECT o_orderkey AS order_key, o_custkey AS cust_key,
        | coalesce(g.n_items, 0) AS n_items,
        | coalesce(g.total_cents, 0) AS total_cents,
        | coalesce(g.sig, '') AS items_sig
        |FROM orders o LEFT JOIN g ON o.o_orderkey = g.l_orderkey
        |ORDER BY order_key""".stripMargin,

    "q125_change_point" ->
      """WITH d AS (
        | SELECT event_type typ, epoch_ms(ts) // 86400000 AS day,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) s
        | FROM events GROUP BY 1, 2),
        |r AS (
        | SELECT typ, day, s,
        |  row_number() OVER (PARTITION BY typ ORDER BY s, day) rn,
        |  count(*) OVER (PARTITION BY typ) n
        | FROM d),
        |med AS (SELECT typ, s med FROM r WHERE rn = (n - 1) // 2 + 1),
        |c AS (
        | SELECT d.typ, d.day, med.med,
        |  sum(d.s - med.med) OVER (PARTITION BY d.typ ORDER BY d.day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cusum
        | FROM d JOIN med USING (typ)),
        |p AS (
        | SELECT typ, med, day, cusum,
        |  row_number() OVER (PARTITION BY typ ORDER BY abs(cusum) DESC, day) rn
        | FROM c),
        |cnt AS (SELECT typ, count(*) n_buckets FROM d GROUP BY 1)
        |SELECT p.typ, p.med, p.day AS cp_bucket,
        | CAST(p.cusum AS BIGINT) AS cp_cusum, cnt.n_buckets
        |FROM p JOIN cnt USING (typ) WHERE p.rn = 1 ORDER BY p.typ""".stripMargin,

    "q126_contribution" ->
      """WITH e AS (
        | SELECT event_type seg, CAST(floor(value * 1000) AS BIGINT) vm,
        |  epoch_ms(ts) ms FROM events),
        |m AS (SELECT (min(ms) + max(ms)) // 2 AS mid FROM e),
        |a AS (
        | SELECT seg,
        |  CAST(sum(CASE WHEN ms < (SELECT mid FROM m) THEN vm ELSE 0 END) AS BIGINT) sum_a,
        |  CAST(sum(CASE WHEN ms >= (SELECT mid FROM m) THEN vm ELSE 0 END) AS BIGINT) sum_b
        | FROM e GROUP BY seg),
        |t AS (SELECT CAST(sum(sum_b - sum_a) AS BIGINT) tot FROM a)
        |SELECT seg, sum_a, sum_b, sum_b - sum_a AS delta,
        | CAST(CASE WHEN tot = 0 THEN NULL
        |  ELSE (CASE WHEN ((sum_b - sum_a) >= 0) = (tot >= 0)
        |        THEN 1 ELSE -1 END) *
        |       (abs(sum_b - sum_a) * 1000000 // abs(tot)) END AS BIGINT) AS share_ppm
        |FROM a, t ORDER BY seg""".stripMargin,

    "q123_rolling_active_users" ->
      """WITH a AS (
        | SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |b AS (SELECT min(day) lo, max(day) hi FROM a),
        |cal AS (
        | SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b))) AS day)
        |SELECT c.day, count(DISTINCT a.user_id) AS n_distinct
        |FROM cal c JOIN a ON a.day <= c.day AND a.day > c.day - 7
        |GROUP BY c.day ORDER BY c.day""".stripMargin,

    "q124_weighted_median" ->
      """WITH l AS (
        | SELECT l_returnflag rf, CAST(floor(l_extendedprice) AS BIGINT) v,
        |  CAST(l_quantity AS BIGINT) w,
        |  l_orderkey * 10 + l_linenumber AS tie
        | FROM lineitem),
        |r AS (
        | SELECT rf, v, w, tie,
        |  sum(w) OVER (PARTITION BY rf ORDER BY v, tie
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cumw,
        |  sum(w) OVER (PARTITION BY rf) totw
        | FROM l)
        |SELECT rf, min(v) AS w_median, CAST(max(totw) AS BIGINT) AS tot_w
        |FROM r WHERE 2 * cumw >= totw
        |GROUP BY rf ORDER BY rf""".stripMargin,

    "q122_clustering_coefficient" ->
      """WITH p AS (
        | SELECT x.l_partkey a, y.l_partkey b
        | FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
        | WHERE x.l_partkey < y.l_partkey),
        |e AS (SELECT DISTINCT a, b FROM p),
        |deg AS (
        | SELECT n AS node, count(*) AS deg
        | FROM (SELECT a n FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
        |t AS (
        | SELECT e1.a x, e1.b y, e2.b z
        | FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |corners AS (
        | SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t),
        |tc AS (SELECT node, count(*) n_tri FROM corners GROUP BY 1)
        |SELECT deg.node, deg.deg, CAST(coalesce(tc.n_tri, 0) AS BIGINT) AS n_tri,
        | CAST(2 * coalesce(tc.n_tri, 0) AS BIGINT) AS coef_num,
        | CAST(deg.deg * (deg.deg - 1) AS BIGINT) AS coef_den
        |FROM deg LEFT JOIN tc USING (node) ORDER BY node""".stripMargin,

    "q121_inter_arrival" ->
      """WITH e AS (
        | SELECT user_id, epoch_ms(ts) ms, event_type typ, event_id FROM events),
        |d AS (
        | SELECT typ, event_id,
        |  ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS delta
        | FROM e),
        |dd AS (SELECT * FROM d WHERE delta IS NOT NULL),
        |r AS (
        | SELECT typ, delta,
        |  row_number() OVER (PARTITION BY typ ORDER BY delta, event_id) rn,
        |  count(*) OVER (PARTITION BY typ) n
        | FROM dd),
        |med AS (SELECT typ, delta med_ms FROM r WHERE rn = (n - 1) // 2 + 1)
        |SELECT typ, count(*) AS n_deltas, min(delta) AS min_ms,
        | max(delta) AS max_ms, min(med_ms) AS med_ms
        |FROM dd JOIN med USING (typ)
        |GROUP BY typ ORDER BY typ""".stripMargin,

    "q120_rolling_metrics" ->
      """WITH d AS (
        | SELECT event_type typ, epoch_ms(ts) // 86400000 AS day,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) sum_vm
        | FROM events GROUP BY 1, 2)
        |SELECT typ, day, sum_vm,
        | CAST(sum(sum_vm) OVER w AS BIGINT) AS mov_sum,
        | CAST(count(*) OVER w AS BIGINT) AS mov_n,
        | CAST(sum(sum_vm) OVER w AS BIGINT) // CAST(count(*) OVER w AS BIGINT) AS mov_avg
        |FROM d
        |WINDOW w AS (PARTITION BY typ ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY typ, day""".stripMargin,

    "q119_activity_islands" ->
      """WITH d AS (
        | SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |r AS (
        | SELECT user_id, day,
        |  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        | FROM d)
        |SELECT user_id, min(day) AS island_start, max(day) AS island_end,
        | count(*) AS island_len
        |FROM r GROUP BY user_id, grp
        |ORDER BY user_id, island_start""".stripMargin,

    "q118_record_linkage" ->
      """WITH c AS (
        | SELECT c_custkey, CAST(c_nationkey AS BIGINT) nat, c_mktsegment seg,
        |  CAST(floor(c_acctbal / 500.0) AS BIGINT) bal_b,
        |  substr(c_name, length(c_name) - 1, 2) suffix
        | FROM customer),
        |p AS (
        | SELECT a.c_custkey id_a, b.c_custkey id_b,
        |  CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END ag_seg,
        |  CASE WHEN a.bal_b = b.bal_b THEN 1 ELSE 0 END ag_bal,
        |  CASE WHEN a.suffix = b.suffix THEN 1 ELSE 0 END ag_suf
        | FROM c a JOIN c b ON a.nat = b.nat AND a.c_custkey < b.c_custkey)
        |SELECT id_a, id_b, CAST(ag_seg AS BIGINT) AS agree_seg,
        | CAST(ag_bal AS BIGINT) AS agree_bal_b, CAST(ag_suf AS BIGINT) AS agree_suffix,
        | CAST(30 * ag_seg + 40 * ag_bal + 30 * ag_suf AS BIGINT) AS score
        |FROM p WHERE 30 * ag_seg + 40 * ag_bal + 30 * ag_suf >= 70
        |ORDER BY id_a, id_b""".stripMargin,

    "q117_association_rules" ->
      """WITH i AS (SELECT DISTINCT l_orderkey tx, l_partkey item FROM lineitem),
        |isup AS (SELECT item, count(*) sup FROM i GROUP BY item HAVING count(*) >= 10),
        |f AS (SELECT i.tx, i.item FROM i JOIN isup ON i.item = isup.item),
        |p AS (
        | SELECT a.item item_a, b.item item_b, count(*) sup_ab
        | FROM f a JOIN f b ON a.tx = b.tx AND a.item < b.item
        | GROUP BY 1, 2 HAVING count(*) >= 3),
        |t AS (SELECT count(DISTINCT tx) n_tx FROM i)
        |SELECT item_a, item_b, sup_ab, sa.sup AS sup_a, sb.sup AS sup_b, n_tx,
        | 100 * sup_ab // sa.sup AS conf_pct,
        | CAST(CASE WHEN sup_ab * n_tx > sa.sup * sb.sup THEN 1 ELSE 0 END AS BIGINT) AS lift_pos
        |FROM p JOIN isup sa ON p.item_a = sa.item
        | JOIN isup sb ON p.item_b = sb.item, t
        |ORDER BY item_a, item_b""".stripMargin,

    "q116_frequency_drift" ->
      """WITH e AS (
        | SELECT CAST(floor(value * 1000) AS BIGINT) // 20000 AS bin,
        |  epoch_ms(ts) ms FROM events),
        |m AS (SELECT (min(ms) + max(ms)) // 2 AS mid FROM e),
        |ca AS (SELECT bin, count(*) n_a FROM e WHERE ms < (SELECT mid FROM m) GROUP BY bin),
        |cb AS (SELECT bin, count(*) n_b FROM e WHERE ms >= (SELECT mid FROM m) GROUP BY bin),
        |bins AS (
        | SELECT coalesce(ca.bin, cb.bin) bin, coalesce(n_a, 0) n_a, coalesce(n_b, 0) n_b
        | FROM ca FULL OUTER JOIN cb ON ca.bin = cb.bin),
        |t AS (SELECT sum(n_a) ta, sum(n_b) tb FROM bins)
        |SELECT bin, CAST(n_a AS BIGINT) n_a, CAST(n_b AS BIGINT) n_b,
        | CAST(n_a * 1000000 // ta AS BIGINT) ppm_a,
        | CAST(n_b * 1000000 // tb AS BIGINT) ppm_b,
        | CAST(n_a * 1000000 // ta - n_b * 1000000 // tb AS BIGINT) d_ppm,
        | CAST(CASE WHEN abs(n_a * 1000000 // ta - n_b * 1000000 // tb) > 5000
        |  THEN 1 ELSE 0 END AS BIGINT) drifted
        |FROM bins, t ORDER BY bin""".stripMargin,

    "q115_group_regression" ->
      """WITH l AS (
        | SELECT l_returnflag AS rf, l_linestatus AS ls,
        |  CAST(l_quantity AS BIGINT) x,
        |  CAST(floor(l_extendedprice) AS BIGINT) y FROM lineitem),
        |a AS (
        | SELECT rf, ls, count(*) AS n, CAST(sum(x) AS BIGINT) sx,
        |  CAST(sum(y) AS BIGINT) sy, CAST(sum(x * y) AS BIGINT) sxy,
        |  CAST(sum(x * x) AS BIGINT) sxx
        | FROM l GROUP BY rf, ls)
        |SELECT rf, ls, n, sx, sy, sxy, sxx,
        | n * sxy - sx * sy AS slope_num,
        | n * sxx - sx * sx AS slope_den,
        | CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |  ELSE (1000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) END AS slope_milli
        |FROM a ORDER BY rf, ls""".stripMargin,

    "q114_skyline" ->
      """WITH p AS (
        | SELECT p_partkey, CAST(floor(p_retailprice * 100) AS BIGINT) price_c,
        |  CAST(p_size AS BIGINT) sz FROM part)
        |SELECT p_partkey, price_c, sz FROM p a
        |WHERE NOT EXISTS (
        | SELECT 1 FROM p b
        | WHERE b.price_c <= a.price_c AND b.sz >= a.sz
        |  AND (b.price_c < a.price_c OR b.sz > a.sz))
        |ORDER BY price_c, sz, p_partkey""".stripMargin,

    "q113_gap_fill" ->
      """WITH e AS (
        | SELECT event_type typ, epoch_ms(ts) // 86400000 AS day,
        |  CAST(floor(value * 1000) AS BIGINT) vm FROM events),
        |d AS (SELECT typ, day, CAST(sum(vm) AS BIGINT) s FROM e GROUP BY typ, day),
        |b AS (SELECT min(day) lo, max(day) hi FROM d),
        |cal AS (
        | SELECT t.typ, g.day
        | FROM (SELECT DISTINCT typ FROM d) t
        | CROSS JOIN (SELECT unnest(generate_series((SELECT lo FROM b), (SELECT hi FROM b))) AS day) g),
        |j AS (SELECT c.typ, c.day, d.s FROM cal c LEFT JOIN d ON c.typ = d.typ AND c.day = d.day)
        |SELECT typ, day,
        | coalesce(last_value(s IGNORE NULLS) OVER (
        |   PARTITION BY typ ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1) AS sum_vm,
        | CAST(CASE WHEN s IS NULL THEN 0 ELSE 1 END AS BIGINT) AS observed
        |FROM j ORDER BY typ, day""".stripMargin,

    "q112_sorted_neighborhood" ->
      """WITH r AS (
        | SELECT doc_id, text,
        |  row_number() OVER (ORDER BY substr(text, 1, 32), doc_id) rn
        | FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) AS BIGINT) AS dist
        |FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND 5
        |WHERE levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) <= 16
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q111_incremental_view" ->
      """WITH e AS (
        | SELECT user_id, event_type typ, CAST(floor(value * 1000) AS BIGINT) vm,
        |  epoch_ms(ts) ms FROM events),
        |m AS (SELECT (min(ms) + max(ms)) // 2 AS mid FROM e),
        |s AS (
        | SELECT user_id, typ, vm,
        |  CASE WHEN ms >= (SELECT mid FROM m) AND typ = 'error' THEN -1 ELSE 1 END AS sign
        | FROM e)
        |SELECT user_id, typ, CAST(sum(sign) AS BIGINT) AS n,
        | CAST(sum(sign * vm) AS BIGINT) AS sum_vm
        |FROM s GROUP BY user_id, typ HAVING sum(sign) > 0
        |ORDER BY user_id, typ""".stripMargin,

    "q106_robust_scale" ->
      """WITH e AS (
        | SELECT event_type, event_id, CAST(floor(value * 1000) AS BIGINT) vm FROM events),
        |r AS (
        | SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY vm, event_id) rn,
        |  count(*) OVER (PARTITION BY event_type) n FROM e),
        |med AS (SELECT event_type, vm AS med FROM r WHERE rn = (n - 1) // 2 + 1),
        |d AS (
        | SELECT e.event_type, e.vm, e.event_id, med, abs(e.vm - med) AS dev
        | FROM e JOIN med USING (event_type)),
        |r2 AS (
        | SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY dev, vm, event_id) rn,
        |  count(*) OVER (PARTITION BY event_type) n FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n - 1) // 2 + 1)
        |SELECT event_type, count(*) AS n, min(med) AS med, min(mad) AS mad,
        | CAST(sum(CASE WHEN dev > 5 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q107_triangles" ->
      """WITH p AS (
        | SELECT x.l_partkey a, y.l_partkey b
        | FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
        | WHERE x.l_partkey < y.l_partkey),
        |e AS (SELECT DISTINCT a, b FROM p),
        |v AS (SELECT a AS n FROM e UNION SELECT b FROM e)
        |SELECT (SELECT count(*) FROM v) AS n_nodes,
        | (SELECT count(*) FROM e) AS n_edges,
        | (SELECT count(*) FROM e e1
        |   JOIN e e2 ON e2.a = e1.b
        |   JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""".stripMargin,

    "q108_k_anonymity" ->
      """WITH q AS (
        | SELECT CAST(c_nationkey AS BIGINT) nat, c_mktsegment seg,
        |  CAST(floor(c_acctbal / 1000.0) AS BIGINT) bal_k
        | FROM customer),
        |c AS (SELECT nat, seg, bal_k, count(*) cs FROM q GROUP BY 1, 2, 3)
        |SELECT CAST(sum(cs) AS BIGINT) AS n_rows, count(*) AS n_classes,
        | CAST(sum(CASE WHEN cs < 5 THEN 1 ELSE 0 END) AS BIGINT) AS classes_at_risk,
        | CAST(sum(CASE WHEN cs < 5 THEN cs ELSE 0 END) AS BIGINT) AS rows_at_risk,
        | min(cs) AS min_class, max(cs) AS max_class
        |FROM c""".stripMargin,

    "q109_grouping_sets" ->
      """WITH e AS (
        | SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |  CAST(floor(value * 1000) AS BIGINT) vm
        | FROM events)
        |SELECT coalesce(event_type, 'ALL') AS event_type,
        | coalesce(day, -1) AS day, count(*) AS n, CAST(sum(vm) AS BIGINT) AS sum_vm,
        | CAST(GROUPING(event_type, day) AS BIGINT) AS gid
        |FROM e GROUP BY GROUPING SETS ((event_type, day), (event_type), ())
        |ORDER BY gid, event_type, day""".stripMargin,

    "q110_entity_resolution" ->
      """WITH RECURSIVE s AS (
        | SELECT s_suppkey, s_name, CAST(floor(s_acctbal * 100) AS BIGINT) bal_c
        | FROM supplier),
        |p AS (
        | SELECT a.s_suppkey u, b.s_suppkey v
        | FROM s a JOIN s b ON a.s_suppkey < b.s_suppkey
        | WHERE levenshtein(a.s_name, b.s_name) <= 1),
        |ed AS (SELECT u a, v b FROM p UNION SELECT v, u FROM p),
        |reach AS (
        | SELECT a AS node, a AS lbl FROM ed
        | UNION
        | SELECT e.b, r.lbl FROM ed e JOIN reach r ON e.a = r.node),
        |cl AS (SELECT node, min(lbl) cl FROM reach GROUP BY 1),
        |m AS (
        | SELECT coalesce(cl.cl, s.s_suppkey) AS cluster, s.s_suppkey, s.s_name, s.bal_c
        | FROM s LEFT JOIN cl ON s.s_suppkey = cl.node),
        |best AS (
        | SELECT cluster, s_name FROM (
        |  SELECT m.*, row_number() OVER (PARTITION BY cluster ORDER BY bal_c DESC, s_suppkey) rn
        |  FROM m) WHERE rn = 1)
        |SELECT m.cluster AS "cluster", count(*) AS n_members,
        | min(best.s_name) AS best_name, max(m.bal_c) AS max_bal_c
        |FROM m JOIN best ON m.cluster = best.cluster
        |GROUP BY m.cluster ORDER BY m.cluster""".stripMargin,

    "q98_merge_cdc" ->
      """WITH e AS (
        | SELECT user_id, event_type AS typ, CAST(floor(value * 1000) AS BIGINT) vm,
        |  epoch_ms(ts) * 1000000 + event_id % 1000000 AS seq, epoch_ms(ts) ms
        | FROM events),
        |m AS (SELECT (min(ms) + max(ms)) // 2 AS mid FROM e),
        |snap AS (
        | SELECT user_id, typ, vm FROM (
        |  SELECT e.*, row_number() OVER (PARTITION BY user_id ORDER BY seq DESC) rn
        |  FROM e, m WHERE ms < mid) WHERE rn = 1),
        |ch AS (
        | SELECT e.*, CASE WHEN typ = 'error' THEN 'D'
        |   WHEN typ = 'signup' THEN 'I' ELSE 'U' END AS op
        | FROM e, m WHERE ms >= mid),
        |win AS (
        | SELECT user_id, op, typ, vm FROM (
        |  SELECT ch.*, row_number() OVER (PARTITION BY user_id ORDER BY seq DESC, op DESC) rn
        |  FROM ch) WHERE rn = 1)
        |SELECT coalesce(s.user_id, c.user_id) AS user_id,
        | CASE WHEN c.user_id IS NOT NULL THEN c.typ ELSE s.typ END AS typ,
        | CASE WHEN c.user_id IS NOT NULL THEN c.vm ELSE s.vm END AS vm
        |FROM snap s FULL OUTER JOIN win c ON s.user_id = c.user_id
        |WHERE c.user_id IS NULL OR c.op <> 'D'
        |ORDER BY 1""".stripMargin,

    "q99_file_skip" ->
      """WITH e AS (
        | SELECT event_type, CAST(floor(value * 1000) AS BIGINT) vm FROM events)
        |SELECT event_type, count(*) AS n_rows, CAST(sum(vm) AS BIGINT) AS sum_vm
        |FROM e WHERE vm BETWEEN 50000 AND 150000
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q100_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) n FROM documents GROUP BY 1),
        |mn AS (SELECT min(n) nmin FROM c),
        |r AS (SELECT lang, pow(CAST(nmin AS DOUBLE) / n, 0.5) rate FROM c, mn),
        |k AS (
        | SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        | WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || 'tm'), 1, 8)) AS BIGINT)
        |   / 4294967296.0 < rate)
        |SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    "q101_segment_dedup" ->
      """WITH toks AS (
        | SELECT doc_id, string_split_regex(trim(text), '\s+') tk FROM documents),
        |segs AS (
        | SELECT doc_id, i - 1 AS idx,
        |  array_to_string(list_slice(tk, (i - 1) * 12 + 1, (i - 1) * 12 + 12), ' ') seg
        | FROM toks, unnest(range(1, CAST(ceil(len(tk) / 12.0) AS BIGINT) + 1)) t(i)),
        |rk AS (
        | SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) rn FROM segs)
        |SELECT doc_id, count(*) AS n_segs,
        | CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | md5(coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY idx), '')) AS fp
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q102_fuzzy_join" ->
      """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
        | a.s_name AS str_a, b.s_name AS str_b,
        | levenshtein(a.s_name, b.s_name) AS dist
        |FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
        |WHERE levenshtein(a.s_name, b.s_name) <= 1
        |ORDER BY 1, 2""".stripMargin,

    "q103_star_join" ->
      """SELECT r_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | CAST(floor(sum(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS revenue_cents,
        | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q104_winsorize" ->
      """WITH e AS (
        | SELECT event_type, event_id, CAST(floor(value * 1000) AS BIGINT) vm FROM events),
        |r AS (
        | SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY vm, event_id) rn,
        |  count(*) OVER (PARTITION BY event_type) n FROM e),
        |b AS (
        | SELECT event_type, min(vm) lo, max(vm) hi FROM r
        | WHERE rn = CAST(floor(0.05 * (n - 1)) AS BIGINT) + 1
        |    OR rn = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1
        | GROUP BY 1),
        |c AS (
        | SELECT e.event_type, greatest(least(vm, hi), lo) cl
        | FROM e JOIN b USING (event_type))
        |SELECT event_type, count(*) AS n_rows, min(cl) AS lo_v, max(cl) AS hi_v,
        | CAST(sum(cl) AS BIGINT) AS sum_clamped
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q105_expectations" ->
      """WITH e AS (
        | SELECT
        |  CASE WHEN value IS NOT NULL AND value >= 0 AND value <= 250.0 THEN 0 ELSE 1 END f1,
        |  CASE WHEN event_type IN ('view','click','purchase','signup','error') THEN 0 ELSE 1 END f2,
        |  CASE WHEN user_id IS NOT NULL AND user_id >= 0 THEN 0 ELSE 1 END f3,
        |  CASE WHEN coalesce(regexp_extract(props, '"k": (\d+)', 1), '') <> ''
        |    AND CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) BETWEEN 0 AND 49
        |   THEN 0 ELSE 1 END f4
        | FROM events),
        |t AS (
        | SELECT sum(f1) s1, sum(f2) s2, sum(f3) s3, sum(f4) s4, count(*) total,
        |  sum(CASE WHEN f1 + f2 + f3 + f4 = 0 THEN 1 ELSE 0 END) ok
        | FROM e)
        |SELECT rule, CAST(n_rows AS BIGINT) AS n_rows FROM (
        | SELECT 'value_in_range' AS rule, s1 AS n_rows FROM t UNION ALL
        | SELECT 'known_type', s2 FROM t UNION ALL
        | SELECT 'valid_user', s3 FROM t UNION ALL
        | SELECT 'props_k_low', s4 FROM t UNION ALL
        | SELECT '__total', total FROM t UNION ALL
        | SELECT '__ok', ok FROM t UNION ALL
        | SELECT '__quarantined', total - ok FROM t)
        |ORDER BY rule""".stripMargin,

    "q33_rolling_fingerprint" ->
      """WITH ch AS (SELECT doc_id, string_split(text, '') cs FROM documents)
        |SELECT doc_id,
        | list_min([list_reduce(list_prepend(0::BIGINT, list_transform(cs[i:i+15], x -> ascii(x))),
        |                       (a, c) -> (a * 31 + c) % 1000000007)
        |           FOR i IN range(1, greatest(len(cs) - 14, 2))]) AS rfp
        |FROM ch ORDER BY doc_id""".stripMargin,

    "q75_setsim_join" ->
      s"""WITH ${PipelineQueries.shingleSql},
         |p AS (SELECT a.doc_id ida, b.doc_id idb,
         |       len(list_intersect(a.sh, b.sh)) shared, len(a.sh) na, len(b.sh) nb
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT ida AS id_a, idb AS id_b, CAST(shared AS BIGINT) shared,
         | CAST(na + nb - shared AS BIGINT) un
         |FROM p WHERE 10 * shared >= 8 * (na + nb - shared)
         |ORDER BY id_a, id_b""".stripMargin,

    "q90_chunk_roundtrip" ->
      """SELECT doc_id,
        | greatest((length(text) + 63) // 64, 1) n_chunks,
        | length(text) len, md5(text) fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q89_interval_merge" ->
      """WITH sp AS (SELECT user_id, event_id, epoch_ms(ts) s_ms,
        |        epoch_ms(ts) + 1800000 e_ms FROM events),
        |o AS (SELECT *, max(e_ms) OVER (PARTITION BY user_id ORDER BY s_ms, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) pme FROM sp),
        |f AS (SELECT *, CASE WHEN pme IS NULL OR s_ms > pme THEN 1 ELSE 0 END op FROM o),
        |g AS (SELECT *, sum(op) OVER (PARTITION BY user_id ORDER BY s_ms, event_id
        |        ROWS UNBOUNDED PRECEDING) island FROM f),
        |i AS (SELECT user_id, island, min(s_ms) st, max(e_ms) en, count(*) nm
        |      FROM g GROUP BY 1, 2)
        |SELECT user_id, count(*) n_islands, CAST(sum(en - st) AS BIGINT) covered_ms,
        | CAST(max(en - st) AS BIGINT) longest_ms, CAST(sum(nm) AS BIGINT) n_spans
        |FROM i GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q88_range_quantiles" ->
      """WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |        CAST(floor(value * 1000) AS BIGINT) vm FROM events),
        |h AS (SELECT vm // 1000 bin, count(*) n FROM e
        |      WHERE day BETWEEN 19727 AND 19742 GROUP BY 1),
        |c AS (SELECT bin, sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) cum,
        |       (SELECT sum(n) FROM h) total FROM h)
        |SELECT p.p, CAST(min(bin) * 1000 + 500 AS BIGINT) est
        |FROM c, (SELECT unnest([50, 90, 99]) p) p
        |WHERE cum >= (p.p * total + 99) // 100
        |GROUP BY 1 ORDER BY p""".stripMargin,

    "q85_sliding_window" ->
      """WITH e AS (SELECT epoch_ms(ts) ms, event_type,
        |        CAST(floor(value * 1000) AS BIGINT) vm FROM events),
        |w AS (SELECT (ms // 900000) * 900000 - k.k * 900000 ws, event_type, vm
        |      FROM e, (SELECT unnest(range(0, 4)) k) k)
        |SELECT ws, event_type, count(*) n, CAST(sum(vm) AS BIGINT) sum_vm
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q86_trigrams" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) ms, event_type FROM events),
        |t AS (SELECT event_type s1,
        |        lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ms, event_id) s2,
        |        lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ms, event_id) s3
        |       FROM e)
        |SELECT s1, s2, s3, count(*) n FROM t WHERE s3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q87_class_cap" ->
      """WITH r AS (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(doc_id::VARCHAR), doc_id) rn
        |       FROM documents)
        |SELECT doc_id, lang FROM r WHERE rn <= 40 ORDER BY doc_id""".stripMargin,

    "q84_salted_join" ->
      """WITH d AS (SELECT user_id, min(epoch_ms(ts)) // 86400000 cohort_day
        |       FROM events GROUP BY 1),
        |e AS (SELECT user_id, event_type, CAST(floor(value * 1000) AS BIGINT) vm FROM events)
        |SELECT event_type, cohort_day, count(*) n, CAST(sum(vm) AS BIGINT) sum_vm
        |FROM e JOIN d USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q83_golden_record" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) ms, event_type,
        |        CASE WHEN event_type <> 'error'
        |             THEN CAST(floor(value * 1000) AS BIGINT) END vm
        |       FROM events)
        |SELECT user_id,
        | (list(event_type ORDER BY ms DESC, event_id DESC))[1] last_event_type,
        | (list_filter(list(vm ORDER BY ms DESC, event_id DESC), x -> x IS NOT NULL))[1] last_vm,
        | min(ms) first_seen, max(ms) last_seen, count(*) n_rows
        |FROM e GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q82_snapshot_diff" ->
      """WITH base AS (SELECT event_id, event_type,
        |        CAST(floor(value * 1000) AS BIGINT) vm FROM events),
        |o AS (SELECT * FROM base WHERE event_id % 7 <> 0),
        |nn AS (SELECT event_id, event_type,
        |        CASE WHEN event_id % 3 = 0 THEN vm + 1 ELSE vm END vm
        |       FROM base WHERE event_id % 5 <> 0),
        |d AS (SELECT COALESCE(o.event_id, nn.event_id) id,
        |       CASE WHEN o.event_id IS NULL THEN 'added'
        |            WHEN nn.event_id IS NULL THEN 'removed'
        |            WHEN o.event_type IS DISTINCT FROM nn.event_type
        |              OR o.vm IS DISTINCT FROM nn.vm THEN 'changed'
        |            ELSE 'unchanged' END status
        |      FROM o FULL JOIN nn ON o.event_id = nn.event_id)
        |SELECT status, count(*) n, CAST(sum(id) AS BIGINT) id_sum
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "q81_correlate" ->
      """WITH d AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type et,
        |        CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) s
        |       FROM events GROUP BY 1, 2),
        |p AS (SELECT a.et ta, b.et tb, count(*) n,
        |       CAST(sum(a.s) AS BIGINT) sx, CAST(sum(b.s) AS BIGINT) sy,
        |       CAST(sum(a.s * a.s) AS BIGINT) sxx, CAST(sum(b.s * b.s) AS BIGINT) syy,
        |       CAST(sum(a.s * b.s) AS BIGINT) sxy
        |      FROM d a JOIN d b ON a.day = b.day AND a.et < b.et GROUP BY 1, 2)
        |SELECT ta AS series_a, tb AS series_b, n,
        | CASE WHEN sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE) = 0
        |      THEN NULL
        |      ELSE round((n * sxy - sx * sy)::DOUBLE
        |        / (sqrt((n * sxx - sx * sx)::DOUBLE) * sqrt((n * syy - sy * sy)::DOUBLE)), 6)
        | END r
        |FROM p ORDER BY 1, 2""".stripMargin,

    "q80_pivot" ->
      """WITH b AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |        CAST(floor(value * 1000) AS BIGINT) vm FROM events)
        |SELECT day,
        | CAST(sum(CASE WHEN event_type = 'click' THEN vm END) AS BIGINT) click,
        | CAST(sum(CASE WHEN event_type = 'error' THEN vm END) AS BIGINT) error,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN vm END) AS BIGINT) purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN vm END) AS BIGINT) signup,
        | CAST(sum(CASE WHEN event_type = 'view' THEN vm END) AS BIGINT) AS "view"
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q79_zorder" ->
      """WITH b AS (SELECT event_id, user_id & 65535 u,
        |        (CAST(floor(value * 1000) AS BIGINT) & 65535) v FROM events),
        |s1 AS (SELECT event_id, (u | (u << 8)) & 16711935 u, (v | (v << 8)) & 16711935 v FROM b),
        |s2 AS (SELECT event_id, (u | (u << 4)) & 252645135 u, (v | (v << 4)) & 252645135 v FROM s1),
        |s3 AS (SELECT event_id, (u | (u << 2)) & 858993459 u, (v | (v << 2)) & 858993459 v FROM s2),
        |s4 AS (SELECT event_id, (u | (u << 1)) & 1431655765 u, (v | (v << 1)) & 1431655765 v FROM s3)
        |SELECT event_id, CAST(u | (v << 1) AS BIGINT) zkey,
        | CAST((u | (v << 1)) >> 20 AS BIGINT) cell
        |FROM s4 ORDER BY event_id""".stripMargin,

    "q78_compact" ->
      """SELECT event_type, count(*) n, count(DISTINCT user_id) n_users,
        | CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) sum_val_m
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q77_equidepth" ->
      """WITH b AS (SELECT event_id, CAST(floor(value * 1000) AS BIGINT) vm FROM events),
        |r AS (SELECT event_id, vm, row_number() OVER (ORDER BY vm, event_id) rk,
        |       (SELECT count(*) FROM b) n FROM b)
        |SELECT CAST(((rk - 1) * 10) // n AS INTEGER) AS bin, count(*) n_rows,
        | min(vm) min_v, max(vm) max_v, CAST(sum(vm) AS BIGINT) sum_v
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q76_profile" -> {
      def num(c: String) =
        s"""SELECT '$c' col_name, count(*) n,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_null,
           | count(DISTINCT $c) n_distinct,
           | CAST(min($c) AS DOUBLE) min_v, CAST(max($c) AS DOUBLE) max_v
           |FROM lineitem""".stripMargin
      def str(c: String) =
        s"""SELECT '$c' col_name, count(*) n,
           | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) n_null,
           | count(DISTINCT $c) n_distinct,
           | CAST(min(length($c)) AS DOUBLE) min_v, CAST(max(length($c)) AS DOUBLE) max_v
           |FROM lineitem""".stripMargin
      Seq(num("l_orderkey"), num("l_quantity"), num("l_extendedprice"),
        str("l_returnflag"), str("l_linestatus"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    "q74_transitions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) ms, event_type FROM events),
        |st AS (SELECT event_type ft,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) tt
        |       FROM e),
        |c AS (SELECT ft, tt, count(*) n FROM st WHERE tt IS NOT NULL GROUP BY 1, 2)
        |SELECT ft AS from_type, tt AS to_type, CAST(n AS BIGINT) n,
        | round(n::DOUBLE / (sum(n) OVER (PARTITION BY ft))::DOUBLE, 6) p
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "q73_pagerank" ->
      """WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS src,
        |         CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |pp AS (SELECT count(*) n, 1000000000000 // count(*) r0,
        |        (100 - 85) * (1000000000000 // count(*)) // 100 base FROM nd),
        |og AS (SELECT src, count(*) deg FROM e GROUP BY 1),
        |i0 AS (SELECT node, (SELECT r0 FROM pp) r FROM nd),
        |c1 AS (SELECT e.dst node, sum(r.r // og.deg) c FROM e
        |       JOIN i0 r ON r.node = e.src JOIN og ON og.src = e.src GROUP BY 1),
        |d1 AS (SELECT COALESCE(sum(r.r), 0) // (SELECT n FROM pp) ds FROM i0 r
        |       LEFT JOIN og ON og.src = r.node WHERE og.src IS NULL),
        |i1 AS (SELECT nd.node, (SELECT base FROM pp)
        |        + (85 * (COALESCE(c1.c, 0) + (SELECT ds FROM d1))) // 100 r
        |       FROM nd LEFT JOIN c1 ON c1.node = nd.node),
        |c2 AS (SELECT e.dst node, sum(r.r // og.deg) c FROM e
        |       JOIN i1 r ON r.node = e.src JOIN og ON og.src = e.src GROUP BY 1),
        |d2 AS (SELECT COALESCE(sum(r.r), 0) // (SELECT n FROM pp) ds FROM i1 r
        |       LEFT JOIN og ON og.src = r.node WHERE og.src IS NULL),
        |i2 AS (SELECT nd.node, (SELECT base FROM pp)
        |        + (85 * (COALESCE(c2.c, 0) + (SELECT ds FROM d2))) // 100 r
        |       FROM nd LEFT JOIN c2 ON c2.node = nd.node),
        |c3 AS (SELECT e.dst node, sum(r.r // og.deg) c FROM e
        |       JOIN i2 r ON r.node = e.src JOIN og ON og.src = e.src GROUP BY 1),
        |d3 AS (SELECT COALESCE(sum(r.r), 0) // (SELECT n FROM pp) ds FROM i2 r
        |       LEFT JOIN og ON og.src = r.node WHERE og.src IS NULL),
        |i3 AS (SELECT nd.node, (SELECT base FROM pp)
        |        + (85 * (COALESCE(c3.c, 0) + (SELECT ds FROM d3))) // 100 r
        |       FROM nd LEFT JOIN c3 ON c3.node = nd.node)
        |SELECT node, CAST(r AS BIGINT) AS pr FROM i3 ORDER BY node""".stripMargin,

    // BM25 shapes mirror the Column chain exactly; note (1.2 + 1.0),
    // NOT 2.2 — the folded sum differs from the literal by one ulp
    "q96_bm25" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') tk FROM documents),
        |stats AS (SELECT count(*) n, CAST(sum(len(tk)) AS BIGINT) sum_dl,
        |  sum(CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END) df0,
        |  sum(CASE WHEN list_contains(tk, 'shuffle') THEN 1 ELSE 0 END) df1,
        |  sum(CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END) df2
        | FROM toks),
        |scored AS (SELECT doc_id,
        |  round(
        |   ln(1.0 + (n::DOUBLE - df0::DOUBLE + 0.5) / (df0::DOUBLE + 0.5))
        |    * (len(list_filter(tk, x -> x = 'spark'))::DOUBLE * (1.2 + 1.0))
        |    / (len(list_filter(tk, x -> x = 'spark'))::DOUBLE
        |       + 1.2 * (1.0 - 0.75 + 0.75 * len(tk)::DOUBLE / (sum_dl::DOUBLE / n::DOUBLE)))
        |   + ln(1.0 + (n::DOUBLE - df1::DOUBLE + 0.5) / (df1::DOUBLE + 0.5))
        |    * (len(list_filter(tk, x -> x = 'shuffle'))::DOUBLE * (1.2 + 1.0))
        |    / (len(list_filter(tk, x -> x = 'shuffle'))::DOUBLE
        |       + 1.2 * (1.0 - 0.75 + 0.75 * len(tk)::DOUBLE / (sum_dl::DOUBLE / n::DOUBLE)))
        |   + ln(1.0 + (n::DOUBLE - df2::DOUBLE + 0.5) / (df2::DOUBLE + 0.5))
        |    * (len(list_filter(tk, x -> x = 'dup'))::DOUBLE * (1.2 + 1.0))
        |    / (len(list_filter(tk, x -> x = 'dup'))::DOUBLE
        |       + 1.2 * (1.0 - 0.75 + 0.75 * len(tk)::DOUBLE / (sum_dl::DOUBLE / n::DOUBLE))), 6) score
        | FROM toks, stats)
        |SELECT doc_id, score FROM scored WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q95_hybrid_search" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') tk FROM documents),
        |stats AS (SELECT count(*) n,
        |  sum(CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END) df0,
        |  sum(CASE WHEN list_contains(tk, 'shuffle') THEN 1 ELSE 0 END) df1,
        |  sum(CASE WHEN list_contains(tk, 'dup') THEN 1 ELSE 0 END) df2
        | FROM toks),
        |scored AS (SELECT doc_id,
        |  round(
        |   len(list_filter(tk, x -> x = 'spark'))::DOUBLE * (ln((n + 1.0) / (df0 + 1.0)) + 1.0)
        |   + len(list_filter(tk, x -> x = 'shuffle'))::DOUBLE * (ln((n + 1.0) / (df1 + 1.0)) + 1.0)
        |   + len(list_filter(tk, x -> x = 'dup'))::DOUBLE * (ln((n + 1.0) / (df2 + 1.0)) + 1.0), 6) score
        | FROM toks, stats),
        |tr AS (SELECT doc_id id, row_number() OVER (ORDER BY score DESC, doc_id) rnk
        |       FROM (SELECT * FROM scored WHERE score > 0 ORDER BY score DESC, doc_id LIMIT 20)),
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |q AS (SELECT v qv FROM e WHERE vec_id = 4),
        |cs AS (SELECT vec_id,
        |        round(list_dot_product(v, qv)
        |          / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) cos
        |       FROM e, q),
        |vr AS (SELECT vec_id id, row_number() OVER (ORDER BY cos DESC, vec_id) rnk
        |       FROM (SELECT * FROM cs ORDER BY cos DESC, vec_id LIMIT 20))
        |SELECT id, round(COALESCE(1.0 / (60 + tr.rnk), 0.0)
        |         + COALESCE(1.0 / (60 + vr.rnk), 0.0), 6) rrf,
        | CAST((CASE WHEN tr.rnk IS NOT NULL THEN 1 ELSE 0 END)
        |  + (CASE WHEN vr.rnk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) n_sources
        |FROM tr FULL JOIN vr USING (id)
        |ORDER BY rrf DESC, id LIMIT 20""".stripMargin,

    "q94_kmeans" ->
      """WITH iv AS (SELECT vec_id, unnest(embedding) e,
        |        generate_subscripts(embedding, 1) i FROM embeddings),
        |vm AS (SELECT vec_id, i, CAST(floor(e::DOUBLE * 10000000) AS BIGINT) x FROM iv),
        |c0 AS (SELECT vec_id AS cluster, i, x cx FROM vm WHERE vec_id < 4),
        |d1 AS (SELECT vm.vec_id, c0.cluster,
        |        CAST(sum((vm.x - c0.cx) * (vm.x - c0.cx)) AS BIGINT) dist
        |       FROM vm JOIN c0 USING (i) GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cluster FROM (
        |        SELECT vec_id, cluster,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) rn
        |        FROM d1) WHERE rn = 1),
        |s1 AS (SELECT a1.cluster, vm.i, CAST(sum(vm.x) AS BIGINT) s, count(*) n
        |       FROM a1 JOIN vm USING (vec_id) GROUP BY 1, 2),
        |cv1 AS (SELECT cluster, i, s // n cx FROM s1),
        |c1 AS (SELECT c0.cluster, c0.i, COALESCE(cv1.cx, c0.cx) cx
        |       FROM c0 LEFT JOIN cv1 ON cv1.cluster = c0.cluster AND cv1.i = c0.i),
        |d2 AS (SELECT vm.vec_id, c1.cluster,
        |        CAST(sum((vm.x - c1.cx) * (vm.x - c1.cx)) AS BIGINT) dist
        |       FROM vm JOIN c1 USING (i) GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, cluster FROM (
        |        SELECT vec_id, cluster,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) rn
        |        FROM d2) WHERE rn = 1)
        |SELECT vec_id, cluster FROM a2 ORDER BY vec_id""".stripMargin,

    "q93_schema_merge" ->
      """WITH b AS (SELECT event_id, event_type,
        |        CAST(floor(value * 1000) AS BIGINT) vm,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) k
        |       FROM events),
        |u AS (
        | SELECT 'v1' AS __source, event_type, CAST(NULL AS BIGINT) vm,
        |        CAST(NULL AS BIGINT) k FROM b WHERE event_id % 3 = 0
        | UNION ALL
        | SELECT 'v2', event_type, vm, CAST(NULL AS BIGINT) FROM b WHERE event_id % 3 = 1
        | UNION ALL
        | SELECT 'v3', event_type, vm, k FROM b WHERE event_id % 3 = 2)
        |SELECT __source, event_type, count(*) n,
        | CAST(sum(vm) AS BIGINT) sum_vm,
        | CAST(count(vm) AS BIGINT) n_vm, CAST(count(k) AS BIGINT) n_k
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q92_wap" ->
      """SELECT epoch_ms(ts) // 86400000 AS day, event_type,
        | count(*) n, CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) sum_vm
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q91's sink is the incrementally-maintained dimension; its oracle
    // is exactly the batch rebuild q72 proves
    "q91_stream_scd2" -> PipelineQueries.scd2OracleSql,

    "q72_scd2" -> PipelineQueries.scd2OracleSql,

    "q97_cluster_split" ->
      s"""WITH RECURSIVE ${PipelineQueries.shingleSql},
         |${PipelineQueries.clusterCtes},
         |cl AS (SELECT node AS doc_id, min(lbl) AS clid FROM reach GROUP BY 1),
         |ac AS (SELECT d.doc_id, COALESCE(cl.clid, d.doc_id) clid
         |       FROM documents d LEFT JOIN cl USING (doc_id)),
         |u AS (SELECT doc_id, clid,
         |       CAST(concat('0x', substring(md5(clid::VARCHAR), 1, 8)) AS BIGINT)
         |         / 4294967296.0 AS u
         |      FROM ac)
         |SELECT doc_id, clid AS "cluster",
         | CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
         |FROM u ORDER BY doc_id""".stripMargin,
  )
}
