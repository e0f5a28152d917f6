package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GlobalRank, PageRank}
import graft.sources.Tables

/** Corpus-assembly queries: the steps that turn a cleaned document pool
  * into an actual training corpus — seed-personalized trust propagation,
  * tokenizer-learning statistics, alternate ingest formats, and the
  * deterministic interleave that materializes a mixture as a global
  * training ORDER (the sequencing counterpart of q183's packing and
  * q186's mixture plan).
  */
object CorpusQueries {

  // ---------------------------------------------------------------- q213

  // Personalized PageRank over the customer→supplier purchase graph:
  // teleport + dangling mass return to a SEED set (every 10th customer)
  // instead of all nodes — "how much supplier trust flows from these
  // accounts". Exact BIGINT units, 3 iterations, DuckDB replays the
  // loop as unrolled CTEs (q73's convention with a seeded base).
  def q213PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey".cast("long") * 2).as("src"),
        ($"l_suppkey".cast("long") * 2 + 1).as("dst"))
    // seed SUPERSET from the cheap orders scan (never re-run the edge
    // join just to list seeds — the operator intersects with the node
    // set anyway, so extra candidates are harmless)
    val seeds = Tables.orders(s, dir)
      .select(($"o_custkey".cast("long") * 2).as("src"))
      .filter($"src" % 20 === 0)
    PageRank.ranks(edges, "src", "dst", iterations = 3, seeds = Some(seeds))
      .select($"node", $"rank".as("ppr"))
      .orderBy($"node")
  }

  // ---------------------------------------------------------------- q214

  // One BPE-learning step: corpus-wide adjacent-character-pair counts
  // inside whitespace words — the frequency table whose argmax is the
  // next merge a byte-pair tokenizer would learn. Row-local codegen'd
  // HOFs (sequence→substring→explode), one hash agg, top-20
  // TakeOrdered.
  def q214BpePairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(split(trim($"text"), "\\s+")).as("w"))
      .filter(length($"w") >= 2)
      .select(explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(20)
  }

  // ---------------------------------------------------------------- q215

  // CSV ingest roundtrip: events serialized to headered CSV (timestamps
  // as epoch millis, money as cents — the two encodings that survive
  // text transport exactly), read back through an EXPLICIT schema, and
  // aggregated; the oracle computes the same aggregate from the parquet
  // source, so the gate is sink ≡ source through the text format (the
  // q78 discipline for the CSV source plane). Temp dir self-cleans at
  // JVM exit.
  def q215CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = PipelineQueries.tempDir("graft-q215").resolve("ev").toString
    Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type",
        unix_millis($"ts").as("ts_ms"),
        floor($"value" * 100).cast("long").as("cents"))
      .write.mode("overwrite").option("header", "true").csv(path)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, event_type STRING, ts_ms BIGINT, cents BIGINT")
    s.read.option("header", "true").schema(schema).csv(path)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum($"cents").as("sum_cents"),
        min($"event_id").as("min_id"),
        max($"event_id").as("max_id"),
        min($"ts_ms").as("min_ts_ms"))
      .orderBy($"event_type")
  }

  // ---------------------------------------------------------------- q216

  // Deterministic curriculum interleave: materialize a source mixture
  // as a global training ORDER. Each doc's position key is
  // rank_within_lang · 1000 div weight(lang) — a weight-3 language
  // emits 3 docs for every 1 of a weight-1 language, deterministically,
  // with no sampling. Per-group ranks come from ONE distributed global
  // sort (GlobalRank) minus broadcast per-group start offsets — never a
  // window partitioned by the 5-value lang column (the q172 trap).
  def q216CurriculumInterleave(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranked = GlobalRank.rowNumber(
      Tables.documents(s, dir).select($"doc_id", $"lang"),
      Seq("lang", "doc_id"), "gr")
    val starts = ranked.groupBy($"lang").agg(min($"gr").as("__start"))
    val keyed = ranked.join(broadcast(starts), "lang")
      .withColumn("rk", $"gr" - $"__start" + 1L)
      .withColumn("pos_key",
        expr("rk * 1000 div (CASE WHEN lang = 'en' THEN 3 ELSE 1 END)"))
    // head of the curriculum: TakeOrdered 100, then a seq over the
    // bounded result — the only unpartitioned window runs on 100 rows
    keyed.orderBy($"pos_key", $"lang", $"doc_id").limit(100)
      .withColumn("seq", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy($"pos_key", $"lang", $"doc_id")).cast("long"))
      .select($"seq", $"doc_id", $"lang", $"rk", $"pos_key")
  }

  // ---------------------------------------------------------------- q217

  // REAL multi-frame decode through the frame-sample stage: 15 planted
  // animated GIFs (frame count and dimensions closed-form functions of
  // the id, bytes written by the JDK's own GIF sequence writer) run
  // through Multimodal.sampleRealFrames at stride 2; the oracle
  // regenerates every expected (frame_idx, width, height, n_frames)
  // row from the id alone, so a decoder that miscounts frames or
  // misreads one descriptor breaks the hash (q182's convention, one
  // level deeper than the single-image header).
  def q217GifFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = (1L to 15L).map { id =>
      val w = 32 + (id % 5).toInt * 16
      val h = 24 + (id % 4).toInt * 8
      val nf = 2 + (id % 4).toInt
      (id, graft.multimodal.Multimodal.syntheticGif(w, h, nf))
    }
    val media = planted.toDF("media_id", "content")
    graft.multimodal.Multimodal.sampleRealFrames(media, stride = 2)
      .orderBy($"media_id", $"frame_idx")
  }

  // ---------------------------------------------------------------- q219

  // Deterministic negative-edge sampling for contrastive graph
  // training: per node, 2 non-neighbors drawn by an explicit integer
  // hash over a dense node index — the standard link-prediction
  // negatives, with NO RNG (both engines replay the identical draw).
  // Shape: dense index from ONE GlobalRank, candidate generation is a
  // row-local explode (6 draws/node), membership + true-edge rejection
  // are uniform-key joins, and the keep-2 window sees ≤6 rows per node
  // (a per-node microgroup, not a low-cardinality partition).
  def q219NegativeEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val edges = graft.operators.Edges
      .coOccurrence(li, "l_orderkey", "l_partkey")
      .persist() // nodes + the rejection anti-join both read it
    val nodes = edges.select($"a".as("node")).union(edges.select($"b"))
      .distinct()
    // persisted: referenced three times (the N count + both sides of
    // the candidate join) — unpersisted, each reference re-runs the
    // node distinct + global sort
    val idx = GlobalRank.rowNumber(nodes, Seq("node"), "ix") // dense 1..N
      .persist()
    val n = idx.count() // one driver scalar, like PageRank's N
    val cands = idx.select($"node".as("u"),
        explode(expr("sequence(1, 6)")).as("i"))
      .withColumn("cix", expr(s"(u * 2654435761 + i * 97) % $n + 1"))
      .join(idx.select($"ix".as("cix"), $"node".as("v")), "cix")
      .filter($"u" =!= $"v")
    // true-edge rejection: broadcast the canonical edge set under the
    // graph budget (same envelope as the Triangles adjacency) so the
    // anti-join needs NO exchange or sort of either side — the SMJ
    // form exchanged+sorted both; above the budget it degrades back
    val rejected = cands
      .join(graft.operators.GraphLoop.broadcastUnder(edges, edges.count()),
        least($"u", $"v") === $"a" && greatest($"u", $"v") === $"b",
        "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"u").orderBy($"i")
    rejected.withColumn("slot", row_number().over(w).cast("long"))
      .filter($"slot" <= 2L)
      .select($"u", $"slot", $"v".as("v_neg"))
      .orderBy($"u", $"slot")
  }

  // ---------------------------------------------------------------- q225

  // T5-style span-corruption masking: tokens are grouped into aligned
  // 3-token spans, a deterministic hash of (doc_id, span_id) selects
  // ~20% of spans, and each selected span is replaced by ONE sentinel
  // token — the denoising-objective input transform. Entirely
  // row-local (zero shuffle, scales with the scan); masked output is
  // reported as an md5 so the driver compares the exact text without
  // shipping it.
  def q225SpanCorruption(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"text".isNotNull)
      .withColumn("toks", split(trim($"text"), "\\s+"))
      .withColumn("masked", expr(
        """filter(transform(sequence(0, size(toks) - 1), i ->
          |  CASE WHEN (doc_id * 31 + (i div 3)) % 5 = 0
          |       THEN (CASE WHEN i % 3 = 0 THEN '<X>' END)
          |       ELSE toks[i] END), x -> x IS NOT NULL)""".stripMargin))
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        expr("size(filter(sequence(0, size(toks) - 1), i -> " +
          "(doc_id * 31 + (i div 3)) % 5 = 0))").cast("long").as("n_masked"),
        expr("size(filter(sequence(0, size(toks) - 1), i -> " +
          "(doc_id * 31 + (i div 3)) % 5 = 0 AND i % 3 = 0))")
          .cast("long").as("n_spans"),
        md5(expr("array_join(masked, ' ')")).as("masked_md5"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- q238

  // Deterministic data augmentation (EDA-style, RNG-free): token
  // dropout — token i is dropped iff (doc_id·17 + i) % 10 == 0 — and
  // adjacent-pair swap — aligned pair (2j, 2j+1) swaps iff
  // (doc_id·23 + j) % 7 == 0, applied AFTER dropout on the survivor
  // sequence. Entirely row-local HOFs; the augmented text is compared
  // by md5, so both engines must replay the exact same edit sequence.
  def q238Augment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter($"text".isNotNull)
      .withColumn("toks", split(trim($"text"), "\\s+"))
      .withColumn("kept", expr(
        """filter(transform(sequence(0, size(toks) - 1), i ->
          |  CASE WHEN (doc_id * 17 + i) % 10 = 0 THEN NULL
          |       ELSE toks[i] END), x -> x IS NOT NULL)""".stripMargin))
      .withColumn("swapped", expr(
        """transform(sequence(0, size(kept) - 1), i ->
          |  CASE WHEN (doc_id * 23 + (i div 2)) % 7 = 0
          |       THEN (CASE WHEN i % 2 = 0
          |             THEN (CASE WHEN i + 1 < size(kept) THEN kept[i + 1]
          |                   ELSE kept[i] END)
          |             ELSE kept[i - 1] END)
          |       ELSE kept[i] END)""".stripMargin))
      .select($"doc_id",
        size($"toks").cast("long").as("n_tokens"),
        (size($"toks") - size($"kept")).cast("long").as("n_dropped"),
        expr("size(filter(sequence(0, size(kept) - 1), i -> " +
          "(doc_id * 23 + (i div 2)) % 7 = 0 AND i % 2 = 0 AND i + 1 < size(kept)))")
          .cast("long").as("n_swaps"),
        md5(expr("array_join(swapped, ' ')")).as("aug_md5"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- q239

  // BPE APPLY (the tokenize step that pairs with q214's learn step): a
  // fixed 3-rule merge table applied to space-separated character
  // sequences by sequential leftmost non-overlapping replace — both
  // engines' replace() shares that exact semantics, so symbol counts
  // match to the unit. Reports corpus-total symbols after each stage
  // (stage 0 = raw characters).
  def q239BpeApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val merges = Seq(("a", "t"), ("t", "h"), ("th", "e")) // at, th, the
    val words = Tables.documents(s, dir)
      .select(explode(split(trim($"text"), "\\s+")).as("w"))
      .filter(length($"w") > 0)
      .withColumn("s0", expr("trim(regexp_replace(w, '(.)', '$1 '))"))
    val staged = merges.zipWithIndex.foldLeft(words) {
      case (df, ((a, b), i)) =>
        df.withColumn(s"s${i + 1}",
          expr(s"replace(s$i, '$a $b', '$a$b')"))
    }
    val aggs = (0 to merges.size).map(i =>
      sum(size(split(col(s"s$i"), " ")).cast("long")).as(s"n$i"))
    val stacked = (0 to merges.size)
      .map(i => s"CAST($i AS BIGINT), n$i").mkString(", ")
    staged.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${merges.size + 1}, $stacked)")
        .as(Seq("stage", "total_symbols")))
      .orderBy($"stage")
  }

  // ---------------------------------------------------------------- q270

  // Edge-WEIGHTED PageRank over the customer→supplier purchase graph:
  // trust flows in proportion to how often a customer buys from a
  // supplier (order count as edge weight), not uniformly — q73's
  // recurrence with per-edge (r·w) div W(u) shares, still exact BIGINT
  // (see PageRank.ranks). 3 iterations, unrolled oracle.
  def q270WeightedPagerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy(($"o_custkey".cast("long") * 2).as("src"),
        ($"l_suppkey".cast("long") * 2 + 1).as("dst"))
      .agg(count(lit(1)).as("w"))
    PageRank.ranks(edges, "src", "dst", iterations = 3, weightCol = Some("w"))
      .select($"node", $"rank".as("wpr"))
      .orderBy($"node")
  }

  /** q270's oracle: q73's unrolled CTE ladder with weighted shares. */
  private lazy val q270Sql: String = {
    val head =
      """WITH e AS (SELECT CAST(o_custkey AS BIGINT) * 2 AS src,
        |         CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst, count(*) AS w
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |       GROUP BY 1, 2),
        |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |pp AS (SELECT count(*) n, 1000000000000 // count(*) r0,
        |        (100 - 85) * (1000000000000 // count(*)) // 100 base FROM nd),
        |og AS (SELECT src, sum(w) AS ws FROM e GROUP BY 1),
        |i0 AS (SELECT node, (SELECT r0 FROM pp) r FROM nd)""".stripMargin
    val rounds = (1 to 3).map { k =>
      s""",
         |c$k AS (SELECT e.dst node, sum((r.r * e.w) // og.ws) c FROM e
         |       JOIN i${k - 1} r ON r.node = e.src JOIN og ON og.src = e.src
         |       GROUP BY 1),
         |d$k AS (SELECT COALESCE(sum(r.r), 0) // (SELECT n FROM pp) ds
         |       FROM i${k - 1} r LEFT JOIN og ON og.src = r.node
         |       WHERE og.src IS NULL),
         |i$k AS (SELECT nd.node, (SELECT base FROM pp)
         |        + (85 * (COALESCE(c$k.c, 0) + (SELECT ds FROM d$k))) // 100 r
         |       FROM nd LEFT JOIN c$k ON c$k.node = nd.node)""".stripMargin
    }.mkString
    s"$head$rounds\nSELECT node, CAST(r AS BIGINT) AS wpr FROM i3 ORDER BY node"
  }

  // ---------------------------------------------------------------- q273

  // Weighted AND personalized trust propagation: rank flows from the
  // seed accounts (every 10th customer) in proportion to purchase
  // volume — q213's seeded teleport with q270's weighted shares, the
  // volume-weighted "how much of OUR trust reaches each supplier"
  // read-out. Same exact-BIGINT recurrence, unrolled oracle.
  def q273WeightedPpr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy(($"o_custkey".cast("long") * 2).as("src"),
        ($"l_suppkey".cast("long") * 2 + 1).as("dst"))
      .agg(count(lit(1)).as("w"))
    val seeds = Tables.orders(s, dir)
      .select(($"o_custkey".cast("long") * 2).as("src"))
      .filter($"src" % 20 === 0)
    PageRank.ranks(edges, "src", "dst", iterations = 3,
        weightCol = Some("w"), seeds = Some(seeds))
      .select($"node", $"rank".as("wppr"))
      .orderBy($"node")
  }

  /** q273's oracle: q213's seeded ladder with q270's weighted shares. */
  private lazy val q273Sql: String = {
    val head =
      """WITH e AS (SELECT CAST(o_custkey AS BIGINT) * 2 AS src,
        |         CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst, count(*) AS w
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |       GROUP BY 1, 2),
        |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |pp AS (SELECT count(*) ns, 1000000000000 // count(*) r0,
        |        (100 - 85) * (1000000000000 // count(*)) // 100 base
        |       FROM nd WHERE node % 20 = 0),
        |og AS (SELECT src, sum(w) AS ws FROM e GROUP BY 1),
        |i0 AS (SELECT node, CASE WHEN node % 20 = 0
        |        THEN (SELECT r0 FROM pp) ELSE 0 END r FROM nd)""".stripMargin
    val rounds = (1 to 3).map { k =>
      s""",
         |c$k AS (SELECT e.dst node, sum((r.r * e.w) // og.ws) c FROM e
         |       JOIN i${k - 1} r ON r.node = e.src JOIN og ON og.src = e.src
         |       GROUP BY 1),
         |d$k AS (SELECT COALESCE(sum(r.r), 0) // (SELECT ns FROM pp) ds
         |       FROM i${k - 1} r LEFT JOIN og ON og.src = r.node
         |       WHERE og.src IS NULL),
         |i$k AS (SELECT nd.node, (CASE WHEN nd.node % 20 = 0
         |         THEN (SELECT base FROM pp) ELSE 0 END)
         |        + (85 * (COALESCE(c$k.c, 0) + (CASE WHEN nd.node % 20 = 0
         |           THEN (SELECT ds FROM d$k) ELSE 0 END))) // 100 r
         |       FROM nd LEFT JOIN c$k ON c$k.node = nd.node)""".stripMargin
    }.mkString
    s"$head$rounds\nSELECT node, CAST(r AS BIGINT) AS wppr FROM i3 ORDER BY node"
  }

  // -------------------------------------------------------------- maps

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q270_weighted_pagerank" -> q270WeightedPagerank _,
    "q273_weighted_ppr" -> q273WeightedPpr _,
    "q238_augment" -> q238Augment _,
    "q239_bpe_apply" -> q239BpeApply _,
    "q219_negative_edges" -> q219NegativeEdges _,
    "q225_span_corruption" -> q225SpanCorruption _,
    "q213_personalized_pagerank" -> q213PersonalizedPagerank _,
    "q214_bpe_pairs" -> q214BpePairs _,
    "q215_csv_roundtrip" -> q215CsvRoundtrip _,
    "q216_curriculum_interleave" -> q216CurriculumInterleave _,
    "q217_gif_frames" -> q217GifFrames _)

  val oracle: Map[String, String] = Map(
    "q270_weighted_pagerank" -> q270Sql,
    "q273_weighted_ppr" -> q273Sql,
    "q238_augment" ->
      """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        |       FROM documents WHERE text IS NOT NULL),
        |k AS (SELECT doc_id, len(toks) AS n_tokens,
        |       [toks[i + 1] FOR i IN range(0, len(toks))
        |        IF (doc_id * 17 + i) % 10 <> 0] AS kept
        |      FROM t),
        |w AS (SELECT doc_id, n_tokens, len(kept) AS n_kept,
        |       [CASE WHEN (doc_id * 23 + (i // 2)) % 7 = 0
        |             THEN (CASE WHEN i % 2 = 0
        |                   THEN (CASE WHEN i + 1 < len(kept) THEN kept[i + 2]
        |                         ELSE kept[i + 1] END)
        |                   ELSE kept[i] END)
        |             ELSE kept[i + 1] END
        |        FOR i IN range(0, len(kept))] AS swapped,
        |       len([i FOR i IN range(0, len(kept))
        |            IF (doc_id * 23 + (i // 2)) % 7 = 0 AND i % 2 = 0
        |             AND i + 1 < len(kept)]) AS n_swaps
        |      FROM k)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        | CAST(n_tokens - n_kept AS BIGINT) AS n_dropped,
        | CAST(n_swaps AS BIGINT) AS n_swaps,
        | md5(array_to_string(swapped, ' ')) AS aug_md5
        |FROM w ORDER BY doc_id""".stripMargin,
    "q239_bpe_apply" ->
      """WITH wd AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |       FROM documents),
        |f AS (SELECT w FROM wd WHERE len(w) > 0),
        |s AS (SELECT trim(regexp_replace(w, '(.)', '\1 ', 'g')) AS s0 FROM f),
        |m AS (SELECT s0,
        |       replace(s0, 'a t', 'at') AS s1,
        |       replace(replace(s0, 'a t', 'at'), 't h', 'th') AS s2,
        |       replace(replace(replace(s0, 'a t', 'at'), 't h', 'th'),
        |               'th e', 'the') AS s3
        |      FROM s),
        |g AS (SELECT sum(len(string_split(s0, ' '))) AS n0,
        |       sum(len(string_split(s1, ' '))) AS n1,
        |       sum(len(string_split(s2, ' '))) AS n2,
        |       sum(len(string_split(s3, ' '))) AS n3
        |      FROM m)
        |SELECT * FROM (
        | SELECT CAST(0 AS BIGINT) AS stage, CAST(n0 AS BIGINT) AS total_symbols FROM g
        | UNION ALL SELECT 1, CAST(n1 AS BIGINT) FROM g
        | UNION ALL SELECT 2, CAST(n2 AS BIGINT) FROM g
        | UNION ALL SELECT 3, CAST(n3 AS BIGINT) FROM g
        |) u ORDER BY stage""".stripMargin,
    "q225_span_corruption" ->
      """WITH t AS (SELECT doc_id,
        |        string_split_regex(trim(text), '\s+') AS toks
        |       FROM documents WHERE text IS NOT NULL),
        |m AS (SELECT doc_id, len(toks) AS n_tokens,
        |       [CASE WHEN (doc_id * 31 + (i // 3)) % 5 = 0
        |             THEN (CASE WHEN i % 3 = 0 THEN '<X>' END)
        |             ELSE toks[i + 1] END
        |        FOR i IN range(0, len(toks))] AS outv,
        |       len([i FOR i IN range(0, len(toks))
        |            IF (doc_id * 31 + (i // 3)) % 5 = 0]) AS n_masked,
        |       len([i FOR i IN range(0, len(toks))
        |            IF (doc_id * 31 + (i // 3)) % 5 = 0 AND i % 3 = 0]) AS n_spans
        |      FROM t)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        | CAST(n_masked AS BIGINT) AS n_masked,
        | CAST(n_spans AS BIGINT) AS n_spans,
        | md5(array_to_string([x FOR x IN outv IF x IS NOT NULL], ' ')) AS masked_md5
        |FROM m ORDER BY doc_id""".stripMargin,
    "q219_negative_edges" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS a,
        |       CAST(y.l_partkey AS BIGINT) AS b
        |      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |       AND x.l_partkey < y.l_partkey),
        |nd AS (SELECT a AS node FROM e UNION SELECT b FROM e),
        |idx AS (SELECT node, CAST(row_number() OVER (ORDER BY node) AS BIGINT) AS ix
        |       FROM nd),
        |nn AS (SELECT count(*) AS n FROM nd),
        |g AS (SELECT unnest(generate_series(1, 6)) AS i),
        |c AS (SELECT idx.node AS u, g.i AS i,
        |       (idx.node * 2654435761 + g.i * 97) % (SELECT n FROM nn) + 1 AS cix
        |      FROM idx, g),
        |j AS (SELECT c.u, c.i, x2.node AS v
        |      FROM c JOIN idx x2 ON x2.ix = c.cix WHERE c.u <> x2.node),
        |r AS (SELECT u, i, v FROM j WHERE NOT EXISTS (
        |        SELECT 1 FROM e WHERE e.a = least(j.u, j.v)
        |         AND e.b = greatest(j.u, j.v))),
        |s AS (SELECT u, v, row_number() OVER (PARTITION BY u ORDER BY i) AS slot
        |      FROM r)
        |SELECT u, CAST(slot AS BIGINT) AS slot, v AS v_neg
        |FROM s WHERE slot <= 2 ORDER BY u, slot""".stripMargin,
    "q213_personalized_pagerank" ->
      """WITH e AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) * 2 AS src,
        |         CAST(l_suppkey AS BIGINT) * 2 + 1 AS dst
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |pp AS (SELECT count(*) ns, 1000000000000 // count(*) r0,
        |        (100 - 85) * (1000000000000 // count(*)) // 100 base
        |       FROM nd WHERE node % 20 = 0),
        |og AS (SELECT src, count(*) deg FROM e GROUP BY 1),
        |i0 AS (SELECT node, CASE WHEN node % 20 = 0
        |        THEN (SELECT r0 FROM pp) ELSE 0 END r FROM nd),
        |c1 AS (SELECT e.dst node, sum(r.r // og.deg) c FROM e
        |       JOIN i0 r ON r.node = e.src JOIN og ON og.src = e.src GROUP BY 1),
        |d1 AS (SELECT COALESCE(sum(r.r), 0) // (SELECT ns FROM pp) ds FROM i0 r
        |       LEFT JOIN og ON og.src = r.node WHERE og.src IS NULL),
        |i1 AS (SELECT nd.node, (CASE WHEN nd.node % 20 = 0
        |         THEN (SELECT base FROM pp) ELSE 0 END)
        |        + (85 * (COALESCE(c1.c, 0) + (CASE WHEN nd.node % 20 = 0
        |           THEN (SELECT ds FROM d1) ELSE 0 END))) // 100 r
        |       FROM nd LEFT JOIN c1 ON c1.node = nd.node),
        |c2 AS (SELECT e.dst node, sum(r.r // og.deg) c FROM e
        |       JOIN i1 r ON r.node = e.src JOIN og ON og.src = e.src GROUP BY 1),
        |d2 AS (SELECT COALESCE(sum(r.r), 0) // (SELECT ns FROM pp) ds FROM i1 r
        |       LEFT JOIN og ON og.src = r.node WHERE og.src IS NULL),
        |i2 AS (SELECT nd.node, (CASE WHEN nd.node % 20 = 0
        |         THEN (SELECT base FROM pp) ELSE 0 END)
        |        + (85 * (COALESCE(c2.c, 0) + (CASE WHEN nd.node % 20 = 0
        |           THEN (SELECT ds FROM d2) ELSE 0 END))) // 100 r
        |       FROM nd LEFT JOIN c2 ON c2.node = nd.node),
        |c3 AS (SELECT e.dst node, sum(r.r // og.deg) c FROM e
        |       JOIN i2 r ON r.node = e.src JOIN og ON og.src = e.src GROUP BY 1),
        |d3 AS (SELECT COALESCE(sum(r.r), 0) // (SELECT ns FROM pp) ds FROM i2 r
        |       LEFT JOIN og ON og.src = r.node WHERE og.src IS NULL),
        |i3 AS (SELECT nd.node, (CASE WHEN nd.node % 20 = 0
        |         THEN (SELECT base FROM pp) ELSE 0 END)
        |        + (85 * (COALESCE(c3.c, 0) + (CASE WHEN nd.node % 20 = 0
        |           THEN (SELECT ds FROM d3) ELSE 0 END))) // 100 r
        |       FROM nd LEFT JOIN c3 ON c3.node = nd.node)
        |SELECT node, CAST(r AS BIGINT) AS ppr FROM i3 ORDER BY node""".stripMargin,
    "q214_bpe_pairs" ->
      """WITH w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |       FROM documents),
        |p AS (SELECT unnest([substring(w, i, 2) FOR i IN range(1, len(w))]) AS pair
        |      FROM w WHERE len(w) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "q215_csv_roundtrip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        | CAST(min(event_id) AS BIGINT) AS min_id,
        | CAST(max(event_id) AS BIGINT) AS max_id,
        | CAST(min(epoch_ms(ts)) AS BIGINT) AS min_ts_ms
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q217_gif_frames" ->
      """WITH ids AS (SELECT unnest(generate_series(1, 15)) AS id),
        |f AS (SELECT id, unnest(range(0, 2 + id % 4, 2)) AS fi FROM ids)
        |SELECT CAST(id AS BIGINT) AS media_id, CAST(fi AS BIGINT) AS frame_idx,
        | CAST(32 + (id % 5) * 16 AS BIGINT) AS width,
        | CAST(24 + (id % 4) * 8 AS BIGINT) AS height,
        | CAST(2 + id % 4 AS BIGINT) AS n_frames
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    "q216_curriculum_interleave" ->
      """WITH r AS (SELECT doc_id, lang,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS rk
        |       FROM documents),
        |k AS (SELECT doc_id, lang, rk,
        |       CAST(rk * 1000 // (CASE WHEN lang = 'en' THEN 3 ELSE 1 END) AS BIGINT) AS pos_key
        |      FROM r)
        |SELECT CAST(row_number() OVER (ORDER BY pos_key, lang, doc_id) AS BIGINT) AS seq,
        | doc_id, lang, rk, pos_key
        |FROM k ORDER BY pos_key, lang, doc_id LIMIT 100""".stripMargin)
}
