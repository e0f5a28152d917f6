package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Round-4 operator surface: spatial grid join, community detection,
  * weighted shortest paths, seasonal decomposition, KS drift gate.
  * Same conventions as [[PipelineQueries]]: every query integer-exact
  * (or scaled-integer) end to end, DuckDB oracle per entry, column
  * names/types matched for the driver's hash compare.
  */
object ExtendedQueries {

  // Spatial near-pair search via grid-cell prefilter: users projected
  // onto a deterministic integer lattice (hash-free modular spread so
  // the oracle can recompute coordinates in SQL), all pairs within
  // radius 2000 milli-degrees found by the 3x3-cell equi join, NEVER
  // the n^2 cross join — that form exists only in the oracle. Output
  // aggregates per 30-degree latitude band to keep the row set stable.
  def q165GeoPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pts = Tables.events(s, dir)
      .filter($"user_id".isNotNull && $"user_id" >= 0)
      .select($"user_id").distinct()
      .select($"user_id".as("id"),
        ($"user_id" * 7919L % 180000L).as("x"),
        ($"user_id" * 104729L % 360000L).as("y"))
    // band recomputed from id_a (x is a pure function of id), keeping
    // the operator's output contract at (id_a, id_b, d2)
    graft.operators.GeoGrid.radiusPairs(pts, "id", "x", "y", radius = 2000L)
      .groupBy(expr("((id_a * 7919) % 180000) div 30000").as("band"))
      .agg(count(lit(1)).as("n_pairs"),
        min($"d2").as("min_d2"),
        sum($"d2").as("sum_d2"))
      .orderBy($"band")
  }

  // Majority label propagation on the co-purchase graph, 2 synchronous
  // rounds with deterministic smallest-label tie-break; communities
  // summarized as a size histogram. The oracle unrolls the identical
  // rounds (row_number argmax per node).
  def q166LabelCommunities(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val edges = graft.operators.Edges.coOccurrence(li, "l_orderkey", "l_partkey",
      graft.operators.Edges.orderGroupCap)
      .select($"a".as("src"), $"b".as("dst"))
    val labels = graft.operators.LabelProp.propagate(edges, "src", "dst",
      rounds = 2, distinctCanonicalEdges = true) // coOccurrence emits distinct a<b
    labels.groupBy($"label").agg(count(lit(1)).as("size"))
      .groupBy($"size")
      .agg(count(lit(1)).as("n_communities"), min($"label").as("min_label"))
      .orderBy($"size")
  }

  // Bounded Bellman-Ford from the seed part set over quantity-weighted
  // co-purchase edges: exact min path cost within 3 hops, integerized
  // via floor (quantities are integral; floor guards both engines'
  // decimal->int cast conventions, which differ on halves).
  def q167ShortestPath(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // row-local pair build (Edges.weightedPairs): one fact shuffle vs
    // the self-join's two + join — the q107-family lesson applied to the
    // weighted form (measured: q167 cold 11.5 s -> ~6 s at sf0.1).
    // Quantities are integral, so per-line floor ≡ floor of the sum.
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey",
        floor($"l_quantity").cast("long").as("q"))
    val edges = graft.operators.Edges.weightedPairs(
      li, "l_orderkey", "l_partkey", "q", graft.operators.Edges.orderGroupCap)
    val seeds = Tables.part(s, dir).filter($"p_partkey" <= 5)
    graft.operators.ShortestPath.boundedBellmanFord(
        edges, "src", "dst", "w", seeds, "p_partkey", rounds = 3)
      .orderBy($"node")
  }

  // Weekly seasonal decomposition of the daily event count, all scaled
  // integers (see Seasonal's scaling contract): centered 7-day RANGE
  // trend, full-window edge rule, per-weekday seasonal numerators.
  def q168Seasonal(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("n"))
    graft.operators.Seasonal.weekly(daily, "day", "n")
  }

  // Exact integer two-sample KS distance between the value
  // distributions of two event types — the distribution drift gate.
  def q169ValueDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_type", floor($"value" * 100).cast("long").as("cents"))
    graft.operators.KsTest.twoSample(e, "event_type", "cents", "view", "purchase")
  }

  // Greedy max-coverage corpus selection over 3-word shingles: which 3
  // documents cover the most distinct shingles (the subset-selection
  // curation primitive). Hash-element sets (q157 convention); the
  // oracle replays the 3 greedy rounds on string shingles.
  def q170CoverageSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val elems = Tables.documents(s, dir)
      .select($"doc_id",
        explode(array_distinct(
          graft.plans.GraftFunctions.wordShingleHashes($"text", 3))).as("el"))
    graft.operators.Coverage.greedySelect(elems, "doc_id", "el", rounds = 3)
      .withColumnRenamed("id", "doc_id")
      .orderBy($"round")
  }

  // Functional-dependency audit across four candidate FDs — the
  // profiling gate a curated extract passes before schema contracts
  // are trusted (n_nationkey→n_regionkey genuinely holds; the others
  // are deliberately violated dependencies with real violation mass).
  def q171FdAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.FdAudit.audit
    audit(Tables.customer(s, dir), "customer: nation->segment",
        "c_nationkey", "c_mktsegment")
      .union(audit(Tables.orders(s, dir), "orders: cust->priority",
        "o_custkey", "o_orderpriority"))
      .union(audit(Tables.lineitem(s, dir), "lineitem: order->returnflag",
        "l_orderkey", "l_returnflag"))
      .union(audit(Tables.nation(s, dir), "nation: nation->region",
        "n_nationkey", "n_regionkey"))
      .orderBy(col("fd"))
  }

  // Per-group exact percentile vector (p25/p50/p75/p95 of value cents
  // per event type), floor(p·(n−1))+1 lower-rank convention (q104).
  // Two-phase, value-domain compressed: one uniform (type, cents)
  // count shuffle over the events, then cumulative ranks on the
  // DISTINCT-cents frame only — a row-per-event window would sort
  // whole types on single partitions (|types| ≪ cores), the classic
  // low-cardinality-partition scale trap. A rank rp falls in a cents
  // run iff lo < rp ≤ hi, which is exactly the row the per-event
  // (cents, id)-ordered row_number pick selects.
  def q172GroupPercentiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val c = Tables.events(s, dir)
      .select($"event_type", floor($"value" * 100).cast("long").as("cents"))
      .groupBy($"event_type", $"cents")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"event_type").orderBy($"cents")
    val wT = Window.partitionBy($"event_type")
    def pick(p: Int) = {
      val rp = expr(s"($p * (n - 1)) div 100 + 1")
      max(when($"lo" < rp && rp <= $"hi", $"cents")).as(s"p$p")
    }
    c.withColumn("hi", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(wT))
      .withColumn("lo", $"hi" - $"cnt")
      .groupBy($"event_type", $"n")
      .agg(pick(25), pick(50), pick(75), pick(95))
      .orderBy($"event_type")
  }

  // Decile lift table (model-eval primitive): users ranked by total
  // spend into 10 ntile deciles (deterministic (spend desc, id) order),
  // per-decile share of all purchase conversions in exact ppm.
  def q173DecileLift(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val per = Tables.events(s, dir)
      .filter($"user_id".isNotNull)
      .groupBy($"user_id")
      .agg(sum(floor($"value" * 100).cast("long")).as("spend_cents"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("convs"))
    // ntile over the per-user AGGREGATE (3 orders smaller than events)
    val ranked = per.withColumn("decile",
      ntile(10).over(Window.orderBy($"spend_cents".desc, $"user_id")).cast("long"))
    val tot = ranked.agg(sum($"convs").as("tot_convs"))
    ranked.groupBy($"decile")
      .agg(count(lit(1)).as("n_users"), sum($"spend_cents").as("spend_cents"),
        sum($"convs").as("convs"))
      .crossJoin(broadcast(tot))
      .select($"decile", $"n_users", $"spend_cents", $"convs",
        expr("convs * 1000000 div tot_convs").as("conv_share_ppm"))
      .orderBy($"decile")
  }

  // Normalization-aware exact dedup (corpus cleaning): case-fold,
  // strip non-alphanumerics, collapse whitespace, then group by the
  // normalized fingerprint — catches trivial reformatting copies that
  // byte-exact dedup (q17) misses. Output: duplicate-group size
  // histogram with the deterministic min keeper id per size class.
  def q174NormalizedDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val norm = Tables.documents(s, dir)
      .select($"doc_id",
        md5(trim(regexp_replace(lower($"text"), "[^a-z0-9]+", " "))
          .cast("binary")).as("fp"))
    norm.groupBy($"fp")
      .agg(count(lit(1)).as("n_members"), min($"doc_id").as("keeper"))
      .filter($"n_members" > 1)
      .groupBy($"n_members")
      .agg(count(lit(1)).as("n_groups"), min($"keeper").as("min_keeper"))
      .orderBy($"n_members")
  }

  // Burstiness index: squared coefficient of variation of per-user
  // inter-arrival gaps (seconds), as exact integer ppm via DECIMAL
  // sufficient stats (the q134 convention) — cv²·10⁶ =
  // ⌊10⁶·(n·Σx²−(Σx)²)/(Σx)²⌋. Top-20 burstiest users.
  def q175Burstiness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gaps = Tables.events(s, dir)
      .filter($"user_id".isNotNull)
      .select($"user_id", unix_millis($"ts").as("ms"), $"event_id")
      .withColumn("gap_s", expr("(ms - lag(ms, 1) OVER " +
        "(PARTITION BY user_id ORDER BY ms, event_id)) div 1000"))
      .filter($"gap_s".isNotNull)
    gaps.groupBy($"user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum($"gap_s").as("sum_s"),
        sum($"gap_s" * $"gap_s").cast(
          org.apache.spark.sql.types.DecimalType(38, 0)).as("ss"))
      .filter($"n_gaps" >= 2 && $"sum_s" > 0)
      .select($"user_id", $"n_gaps", $"sum_s",
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * " +
          "(n_gaps * ss - CAST(sum_s AS DECIMAL(38,0)) * sum_s)) div " +
          "(CAST(sum_s AS DECIMAL(38,0)) * sum_s) AS BIGINT)").as("burst_ppm"))
      .orderBy($"burst_ppm".desc, $"user_id")
      .limit(20)
  }

  // Histogram-intersection overlap of two event types' value PMFs, the
  // companion of q169's CDF max-gap: Σ_v min(pa, pb) in exact ppm via
  // the common denominator n_a·n_b (DECIMAL against scale overflow).
  def q176HistOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = Tables.events(s, dir)
      .filter($"event_type".isin("view", "purchase"))
      .groupBy(floor($"value" * 100).cast("long").as("cents"))
      .agg(sum(when($"event_type" === "view", 1L).otherwise(0L)).as("ca"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("cb"))
    val tot = c.agg(sum($"ca").as("n_a"), sum($"cb").as("n_b"))
    c.crossJoin(broadcast(tot))
      .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"),
        // operands to DECIMAL(38,0) BEFORE the multiply — casting only
        // the sum would protect the total but not the int64 products
        sum(least(
          $"ca".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"n_b",
          $"cb".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"n_a"))
          .as("raw"))
      .select($"n_a", $"n_b",
        expr("CAST((raw * 1000000) div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("overlap_ppm"))
  }

  // Cross-source exact-duplicate matrix: md5 fingerprints shared by
  // document pairs from different sources — which corpus slices copy
  // from each other. Distinct-hash counts per unordered source pair.
  def q177CrossSourceDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = Tables.documents(s, dir)
      .select($"source", md5($"text".cast("binary")).as("fp")).distinct()
    fp.as("a").join(fp.as("b"),
        $"a.fp" === $"b.fp" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy($"source_a", $"source_b")
  }

  // Integer-exact HITS on the bipartite customer→supplier purchase
  // graph (who buys from whom), 2 unnormalized rounds (ranking ≡ the
  // normalized iteration, see Hits), top-20 authorities.
  def q178Hits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val edges = Tables.orders(s, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(s, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey".cast("long") * 2).as("src"),
        ($"l_suppkey".cast("long") * 2 + 1).as("dst"))
    graft.operators.Hits.scores(edges, "src", "dst", rounds = 2)
      .orderBy($"auth".desc, $"node")
      .limit(20)
  }

  // Reciprocal best co-purchase partner: mutual-nearest-neighbor pairs
  // on the count-weighted co-purchase graph — the high-precision seed
  // filter of entity-resolution pipelines.
  def q179BestMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // line-pair counts (multiplicity preserved) via the row-local
    // Edges.linePairs build — one fact shuffle vs self-join + join
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val edges = graft.operators.Edges.linePairs(li, "l_orderkey", "l_partkey",
        graft.operators.Edges.orderGroupCap)
      .groupBy($"a".as("src"), $"b".as("dst"))
      .agg(count(lit(1)).as("w"))
    graft.operators.BestMatch.reciprocal(edges, "src", "dst", "w")
      .orderBy($"id_a")
  }

  // Overlapping sliding-window chunking (64-char windows, stride 48 —
  // 16 chars of shared context, the RAG convention) + lossless
  // reassembly. The oracle never sees the chunking: it pins the chunk
  // count to the closed-form 1 + ceil(max(len-64,0)/48) and the
  // reassembled text to the untouched source's md5 (q90's trick).
  def q180SlidingChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = graft.text.Chunker.slidingChunk(
      Tables.documents(s, dir).select($"doc_id", $"text"),
      "doc_id", "text", size = 64, stride = 48)
    val stats = chunks.groupBy($"doc_id").agg(count(lit(1)).as("n_chunks"))
    graft.text.Chunker.reassembleOverlapping(
        chunks, "doc_id", "chunk_ix", "chunk", size = 64, stride = 48)
      .join(stats, "doc_id")
      .select($"doc_id", $"n_chunks", length($"text").cast("long").as("len"),
        md5($"text".cast("binary")).as("fp"))
      .orderBy($"doc_id")
  }

  // Kuery (KQL-subset) saved-search strings compiled to Catalyst
  // predicates (graft.search.Kuery) and run over the documents table —
  // the dashboard filter-bar path: every expression below arrives as a
  // QUERY STRING, not a hand-built Column. One aggregate per string,
  // unioned; the oracle replays each as a plain SQL WHERE clause.
  def q181KuerySearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val kueries = Seq(
      // analyzed-text contains + whole-value wildcard
      "k1_text_and" -> "lang.keyword: en and text: *slow*",
      // keyword value group
      "k2_group" -> "source.keyword: (src1 or src2)",
      // negation + typed numeric range
      "k3_not_range" -> "not lang.keyword: en and n_chars >= 400",
      // bare free-text phrase (merged words) over the default field
      "k4_phrase" -> "slow fast",
      // trailing wildcard on a keyword field (prefix match)
      "k5_wildcard" -> "source: src1*")
    kueries.map { case (label, kq) =>
      docs.filter(graft.search.Kuery.predicate(docs, kq, Seq("text")))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum($"n_chars"), lit(0L)).as("sum_chars"))
        .select(lit(label).as("kuery"), $"n_docs", $"sum_chars")
    }.reduce(_.unionAll(_)).orderBy($"kuery")
  }

  // REAL image decode through the multimodal plane: 20 planted
  // deterministic PNG/JPEG payloads (dimensions a closed-form function
  // of the id) run through Multimodal.decodeMeta's javax.imageio
  // header path; the oracle recomputes width/height/bands/format from
  // the id alone, so a decoder that misreads a single header — or
  // silently falls back to the stub — breaks the hash match. Payload
  // generation is driver-side (20 rows, metadata scale); the decode
  // itself runs distributed through the mapPartitions stage.
  def q182ImageDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = (1L to 20L).map { id =>
      val w = 64 + (id % 10).toInt * 8
      val h = 48 + (id % 7).toInt * 8
      val fmt = if (id % 3 == 0) "jpeg" else "png"
      (id, graft.multimodal.Multimodal.syntheticImage(w, h, fmt))
    }
    val media = planted.toDF("media_id", "content")
      .withColumn("modality", lit("image"))
    graft.multimodal.Multimodal.decodeMeta(media).toDF()
      .select($"mediaId".as("media_id"),
        $"width".cast("long").as("width"),
        $"height".cast("long").as("height"),
        $"channels".cast("long").as("channels"),
        $"format",
        ($"nBytes" > 0L).as("decoded_real_bytes"))
      .orderBy($"media_id")
  }

  // ---------------------------------------------------------------- q226

  // Bitmap-accelerated exact distinct users: per event type AND the
  // cross-type rollup, from ONE scan. The per-(type, bucket) partial
  // bitmaps are persisted and reused — the 'ALL' row is a bitmap_or
  // over partials, never a second pass over events (the segmented-
  // bitmap rollup pattern; see operators/BitmapDistinct). Oracle =
  // plain count(DISTINCT) per branch: the bitmap path must be exact.
  def q226BitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val parts = graft.operators.BitmapDistinct.partials(
      Tables.events(s, dir).filter($"user_id".isNotNull),
      Seq("event_type"), $"user_id")
      .persist() // read by the per-type counts AND the ALL rollup
    val perType = graft.operators.BitmapDistinct
      .countPartials(parts, Seq("event_type"), "n_users")
    val overall = graft.operators.BitmapDistinct
      .countPartials(graft.operators.BitmapDistinct.merge(parts, Seq.empty),
        Seq.empty, "n_users")
      .withColumn("event_type", lit("ALL"))
    perType.unionByName(overall.select($"event_type", $"n_users"))
      .orderBy($"event_type")
  }

  // ---------------------------------------------------------------- q227

  // k-truss cohesion peel (k=3) of the STRONG co-purchase graph —
  // part pairs co-ordered at least twice. The weight filter is pushed
  // into the first pair agg (the data-scale step); the peel loop then
  // runs on the strong-edge frame with per-round support joins and
  // bounded rounds (see operators/KTruss). Output: surviving edge
  // count after each peel round.
  def q227Ktruss(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val strong = graft.operators.Edges
      .coOccurrenceCounts(li, "l_orderkey", "l_partkey")
      .filter($"w" >= 2L)
      .select($"a", $"b")
    graft.operators.KTruss.peelCounts(strong, "a", "b", k = 3, rounds = 3)
      .orderBy($"round")
  }

  // ---------------------------------------------------------------- q228

  // Percolation: N STORED kuery queries matched against the corpus in
  // ONE scan (the ES percolate query, inverted retrieval). q181 runs
  // one scan per saved search; here every compiled predicate becomes a
  // conditional aggregate over a single pass — the shape that stays
  // one-pass no matter how many queries are registered. Emits per
  // stored query its match count and first matching doc id (−1 = none).
  def q228Percolate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val stored = Seq(
      "p1_en_spark" -> "lang.keyword: en and text: spark",
      "p2_src_group" -> "source.keyword: (src0 or src3)",
      "p3_not_short" -> "not n_chars < 200",
      "p4_phrase" -> "batch stream",
      "p5_wild" -> "text: *vector*",
      "p6_mixed" -> "lang.keyword: de or (source.keyword: src2 and text: window)")
    val aggs = stored.zipWithIndex.flatMap { case ((_, kq), i) =>
      val p = graft.search.Kuery.predicate(docs, kq, Seq("text"))
      Seq(sum(when(p, 1L).otherwise(0L)).as(s"n$i"),
        min(when(p, $"doc_id")).as(s"f$i"))
    }
    val stacked = stored.zipWithIndex.map { case ((label, _), i) =>
      s"'$label', n$i, coalesce(f$i, CAST(-1 AS BIGINT))"
    }.mkString(", ")
    docs.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${stored.size}, $stacked)")
        .as(Seq("query", "n_matches", "first_doc")))
      .orderBy($"query")
  }

  // ---------------------------------------------------------------- q229

  // Sequential pattern mining: the top-10 most frequent consecutive
  // 3-event-type sequences across user timelines (PrefixSpan's
  // bounded-length workhorse case). One shuffle groups each user's
  // bounded timeline; 3-gram generation is row-local HOFs over the
  // sorted (ts, event_id, type) structs; support = one hash agg.
  // Total order (ts, event_id) makes the grams engine-deterministic.
  def q229SequenceMining(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val grams = Tables.events(s, dir)
      .filter($"user_id".isNotNull)
      .groupBy($"user_id")
      .agg(array_sort(collect_list(
        struct($"ts", $"event_id", $"event_type"))).as("evs"))
      .select($"user_id", expr(
        """CASE WHEN size(evs) >= 3
          |     THEN transform(sequence(0, size(evs) - 3), i ->
          |       concat_ws('>', evs[i].event_type, evs[i+1].event_type,
          |                 evs[i+2].event_type))
          |     ELSE array() END""".stripMargin).as("grams"))
      .select($"user_id", explode($"grams").as("gram"))
    grams.groupBy($"gram")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"n_occ".desc, $"gram")
      .limit(10)
  }

  // ---------------------------------------------------------------- q234

  // Pixel-proven image feature extraction: 20 planted lossless PNGs
  // (gradient (x·7 + y·13) & 0xffffff) fully decoded pixel-by-pixel
  // through the mapPartitions stage — exact per-channel sums and a 2×
  // nearest-neighbor downsample. The oracle recomputes every sum
  // closed-form from the generator, so a decoder that misreads one
  // pixel anywhere breaks the hash match.
  def q234PixelStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = (1L to 20L).map { id =>
      val w = 32 + (id % 5).toInt * 8
      val h = 24 + (id % 3).toInt * 8
      (id, graft.multimodal.Multimodal.syntheticImage(w, h, "png"))
    }
    val media = planted.toDF("media_id", "content")
    graft.multimodal.Multimodal.decodePixelStats(media, stride = 2).toDF()
      .select($"mediaId".as("media_id"), $"width", $"height",
        $"sumR".as("sum_r"), $"sumG".as("sum_g"), $"sumB".as("sum_b"),
        $"dsSumR".as("ds_sum_r"), $"dsNPx".as("ds_n_px"))
      .orderBy($"media_id")
  }

  // ---------------------------------------------------------------- q240

  // Linear-interpolation resampling to a regular hourly grid (the
  // interpolate() counterpart of q113's LOCF fill): the sparse series
  // of high-value purchase counts per hour, densified over the
  // [min, max] observed-hour spine, interior gaps filled by exact
  // integer interpolation between bracketing observations. The spine
  // is generated from a 1-row broadcast bound — the data-scale scan
  // happens once; every window runs on the bounded hour frame.
  def q240Interpolate(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val obs = Tables.events(s, dir)
      .filter($"event_type" === "purchase" && $"value" >= 900.0)
      .groupBy(expr("unix_millis(ts) div 3600000").as("hr"))
      .agg(count(lit(1)).as("n"))
    val spine = obs.agg(min($"hr").as("mn"), max($"hr").as("mx"))
      .select(explode(expr("sequence(mn, mx)")).as("hr"))
    val asc = Window.orderBy($"hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val desc = Window.orderBy($"hr")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(obs, Seq("hr"), "left")
      .withColumn("prev_hr", max(when($"n".isNotNull, $"hr")).over(asc))
      .withColumn("prev_n", last($"n", ignoreNulls = true).over(asc))
      .withColumn("next_hr", min(when($"n".isNotNull, $"hr")).over(desc))
      .withColumn("next_n", first($"n", ignoreNulls = true).over(desc))
      .select($"hr",
        when($"n".isNotNull, 1L).otherwise(0L).as("observed"),
        expr("""CASE WHEN n IS NOT NULL THEN n
                |    ELSE prev_n + (next_n - prev_n) * (hr - prev_hr)
                |         div (next_hr - prev_hr) END""".stripMargin)
          .as("n_filled"))
      .orderBy($"hr")
  }

  // ---------------------------------------------------------------- q269

  // Item-item collaborative-filtering similarity: co-purchase pairs
  // scored by cosine² in exact ppm — w²·10⁶ div (deg_a·deg_b) — the
  // cross-multiplied form that keeps the CF ranking integer-exact
  // (monotone in cosine, no sqrt ever taken). Edge build is the
  // aggregate+explode shape (operators/Edges); degrees broadcast back
  // onto the pair frame; top-20 is a TakeOrdered.
  def q269ItemSimilarity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val w = graft.operators.Edges
      .coOccurrenceCounts(li, "l_orderkey", "l_partkey")
      .persist() // degrees + the scored pairs both read it
    // degrees materialized ONCE (localCheckpoint, the exchange-reuse
    // shape) and joined onto both endpoints alias-only — the renamed
    // node→a / node→b projections made the two build subtrees
    // canonically unequal, so the |V|-row aggregation ran twice per
    // run. The checkpointed frame has no size stats, so the broadcast
    // is explicit (budget-gated like the other graph operators); above
    // the budget the joins degrade to the shuffle form.
    val degChk = w.select($"a".as("node"), $"w")
      .unionAll(w.select($"b".as("node"), $"w"))
      .groupBy($"node").agg(sum($"w").as("deg"))
      .localCheckpoint(true)
    val deg = graft.operators.GraphLoop.broadcastUnder(degChk, degChk.count())
    w.join(deg.as("dA"), $"a" === col("dA.node"))
      .join(deg.as("dB"), $"b" === col("dB.node"))
      .select($"a", $"b", $"w",
        expr("w * w * 1000000 div (dA.deg * dB.deg)").as("cos2_ppm"))
      .orderBy($"cos2_ppm".desc, $"a", $"b")
      .limit(20)
  }

  // ---------------------------------------------------------------- q271

  // Recommender hit-rate eval: for every multi-item order, does the
  // top co-occurrence neighbor of its FIRST item (min partkey) appear
  // among the order's other items? The recommender is q269's weighted
  // co-purchase graph argmaxed per node (max-struct, q179's trick);
  // the eval is two uniform-key joins + one fold — hit-rate in exact
  // ppm. The model and the eval read the same persisted edge frame.
  def q271RecsysEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val w = graft.operators.Edges
      .coOccurrenceCounts(li, "l_orderkey", "l_partkey")
      .persist()
    // best neighbor per node over the symmetrized pairs: max (w, -nbr)
    val best = w.select($"a".as("node"), $"b".as("nbr"), $"w")
      .unionAll(w.select($"b".as("node"), $"a".as("nbr"), $"w"))
      .groupBy($"node")
      .agg(max(struct($"w", (-$"nbr").as("negn"))).as("m"))
      .select($"node", (-$"m.negn").as("predicted"))
    val items = li.distinct()
      .persist() // seeds agg + the membership semi-join both read it
    // materialized ONCE: the eval join and the n_orders scalar both
    // read the seeds frame — lazily each reference re-ran the groupBy
    // over the cached items
    val seeds = items.groupBy($"l_orderkey")
      .agg(min($"l_partkey").as("seed"), count(lit(1)).as("n_items"))
      .filter($"n_items" >= 2L)
      .localCheckpoint(true)
    seeds
      .join(best, $"seed" === $"node")
      .join(items.select($"l_orderkey", $"l_partkey".as("predicted")),
        Seq("l_orderkey", "predicted"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(seeds.agg(count(lit(1)).as("n_orders"))))
      .select($"n_orders", $"n_hits",
        expr("n_hits * 1000000 div n_orders").as("hit_rate_ppm"))
  }

  // ---------------------------------------------------------------- q272

  // Degree assortativity of the co-purchase graph — do hub parts pair
  // with hubs? Pearson over edge-endpoint degrees in integer
  // sufficient stats (q81's convention): the raw sums, the signed
  // covariance numerator, and corr² in exact ppm via DECIMAL(38,0)
  // cross-multiplication (num² ≲ 10³⁶ on this graph — the int128
  // envelope is documented, not assumed). Sign rides its own column so
  // no square root is ever taken.
  def q272Assortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val e = graft.operators.Edges.coOccurrence(li, "l_orderkey", "l_partkey",
      graft.operators.Edges.orderGroupCap)
      .persist() // degree agg + the stats pass
    // joined onto both endpoints: localCheckpoint (not persist) +
    // alias-only joins so the second endpoint join reuses the first
    // build instead of exchanging the cached frame again. Explicit
    // budget-gated broadcast — the checkpointed LogicalRDD has no size
    // stats, so without the hint the planner shuffle-joins the
    // edge-scale pairs union against the |V|-row degree frame.
    val degChk = e.select($"a".as("node")).unionAll(e.select($"b"))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val deg = graft.operators.GraphLoop.broadcastUnder(degChk, degChk.count())
    // symmetrize so the correlation is over unordered endpoint pairs
    val pairs = e.unionAll(e.select($"b".as("a"), $"a".as("b")))
      .join(deg.as("dX"), $"a" === col("dX.node"))
      .join(deg.as("dY"), $"b" === col("dY.node"))
      .select($"a", $"b", col("dX.deg").as("dx"), col("dY.deg").as("dy"))
    val dec = "DECIMAL(38,0)"
    pairs.agg(
        count(lit(1)).as("m"),
        sum($"dx").as("sx"), sum($"dy").as("sy"),
        sum(expr(s"CAST(dx AS $dec) * dy")).as("sxy"),
        sum(expr(s"CAST(dx AS $dec) * dx")).as("sxx"),
        sum(expr(s"CAST(dy AS $dec) * dy")).as("syy"))
      .withColumn("num", expr(s"CAST(m AS $dec) * sxy - CAST(sx AS $dec) * sy"))
      .withColumn("vx", expr(s"CAST(m AS $dec) * sxx - CAST(sx AS $dec) * sx"))
      .withColumn("vy", expr(s"CAST(m AS $dec) * syy - CAST(sy AS $dec) * sy"))
      .select($"m", $"sx".cast("long").as("sum_dx"),
        expr("CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS BIGINT)")
          .as("sign"),
        // denominator pre-scaled by 1e6 so num² (≲10³⁴ here) never
        // multiplies past DECIMAL(38,0). The pre-scale division CANNOT
        // use `div` — Spark's div casts its quotient to BIGINT and the
        // ~10²⁰ quotient wraps — so it is spelled as the exact
        // (x − x % 1e6) / 1e6 decimal form; only the final small
        // quotient goes through div. Oracle // is int128 throughout.
        expr("""CAST(CASE WHEN vx > 0 AND vy > 0 THEN
             |  (num * num) div CAST(
             |    (vx * vy - (vx * vy) % 1000000) / 1000000 AS DECIMAL(38, 0))
             |  ELSE NULL END AS BIGINT)""".stripMargin).as("corr2_ppm"))
  }

  // ---------------------------------------------------------------- q274

  // Modularity of the q166 communities — the partition-quality score:
  // Q·1e6 = Σ_c (4·m·e_c − d_c²) · 1e6 div (4·m²), entirely int64
  // (4·m·e_c and d_c² ≲ 6e12 on this graph) with a sign-explicit final
  // division. Labels come from the SAME 2-round deterministic LPA the
  // oracle unrolls; e_c and d_c are two uniform-key joins + one fold.
  def q274Modularity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val e = graft.operators.Edges.coOccurrence(li, "l_orderkey", "l_partkey",
      graft.operators.Edges.orderGroupCap)
      .persist() // LPA + m + e_c + degrees all read it
    // LabelProp already returns an eagerly-materialized (checkpointed)
    // frame — a persist() on top added nothing but a cache layer that
    // BLOCKS exchange reuse (TableCacheQueryStage). The label frame is
    // |V|-bounded, so under the graph broadcast budget it broadcasts
    // into both endpoint joins (alias-only disambiguation ⇒ the second
    // build is a ReusedExchange) and the persisted edge frame never
    // shuffles or sorts; above the budget the joins degrade to the old
    // shuffle form.
    val labels = graft.operators.LabelProp.propagate(
      e.select($"a".as("src"), $"b".as("dst")), "src", "dst", rounds = 2,
      distinctCanonicalEdges = true) // coOccurrence emits distinct a<b
    val m = e.count() // one driver scalar
    val lb = graft.operators.GraphLoop.broadcastUnder(labels, m)
    val ec = e
      .join(lb.as("l1"), $"a" === col("l1.node"))
      .join(lb.as("l2"), $"b" === col("l2.node"))
      .filter(col("l1.label") === col("l2.label"))
      .groupBy(col("l1.label").as("label")).agg(count(lit(1)).as("e_c"))
    val dc = e.select($"a".as("node")).unionAll(e.select($"b"))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
      .join(lb, Seq("node"))
      .groupBy($"label").agg(sum($"deg").as("d_c"))
    dc.join(ec, Seq("label"), "left")
      // term in DECIMAL(38,0) cross-multiplication (the q272 rule):
      // 4·m·e_c wraps int64 long before the old decimal-at-the-end
      // step at larger SFs — ≡ the oracle's HUGEINT fold
      .select(expr(
        s"""CAST(4 AS DECIMAL(38,0)) * ${m}L *
           | CAST(coalesce(e_c, 0L) AS DECIMAL(38,0)) -
           | CAST(d_c AS DECIMAL(38,0)) * CAST(d_c AS DECIMAL(38,0))"""
          .stripMargin).as("term"))
      .agg(count(lit(1)).as("n_communities"), sum($"term").as("numd"))
      .select($"n_communities", lit(m).as("m_edges"),
        // num itself is ppm-of-(4m²)-scale — int64-safe as an OUTPUT
        // even when the per-community products are not
        expr("CAST(numd AS BIGINT)").as("num"),
        // denominator stays decimal so 4·m² survives m > 1.5e9 edges
        expr(s"""CAST(CASE WHEN numd >= 0
             |  THEN (numd * 1000000)
             |       div (CAST(4 AS DECIMAL(38,0)) * ${m}L * ${m}L)
             |  ELSE -(((-numd) * 1000000)
             |       div (CAST(4 AS DECIMAL(38,0)) * ${m}L * ${m}L))
             |  END AS BIGINT)""".stripMargin).as("q_ppm"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q274_modularity" -> q274Modularity _,
    "q272_assortativity" -> q272Assortativity _,
    "q271_recsys_eval" -> q271RecsysEval _,
    "q269_item_similarity" -> q269ItemSimilarity _,
    "q240_interpolate" -> q240Interpolate _,
    "q226_bitmap_distinct" -> q226BitmapDistinct _,
    "q227_ktruss" -> q227Ktruss _,
    "q228_percolate" -> q228Percolate _,
    "q229_sequence_mining" -> q229SequenceMining _,
    "q234_pixel_stats" -> q234PixelStats _,
    "q165_geo_pairs" -> q165GeoPairs _,
    "q166_label_communities" -> q166LabelCommunities _,
    "q167_shortest_path" -> q167ShortestPath _,
    "q168_seasonal" -> q168Seasonal _,
    "q169_value_drift" -> q169ValueDrift _,
    "q170_coverage_select" -> q170CoverageSelect _,
    "q171_fd_audit" -> q171FdAudit _,
    "q172_group_percentiles" -> q172GroupPercentiles _,
    "q173_decile_lift" -> q173DecileLift _,
    "q174_normalized_dedup" -> q174NormalizedDedup _,
    "q175_burstiness" -> q175Burstiness _,
    "q176_hist_overlap" -> q176HistOverlap _,
    "q177_cross_source_dups" -> q177CrossSourceDups _,
    "q178_hits" -> q178Hits _,
    "q179_best_match" -> q179BestMatch _,
    "q180_sliding_chunks" -> q180SlidingChunks _,
    "q181_kuery_search" -> q181KuerySearch _,
    "q182_image_decode" -> q182ImageDecode _)

  val oracle: Map[String, String] = Map(
    "q274_modularity" ->
      """WITH e0 AS MATERIALIZED (
        | SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        | FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |adj AS MATERIALIZED (
        | SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
        |l0 AS (SELECT DISTINCT u AS node, u AS label FROM adj),
        |v1 AS (SELECT a.v AS node, l.label, count(*) AS n
        |       FROM adj a JOIN l0 l ON a.u = l.node GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT node, label FROM (
        |  SELECT node, label,
        |   row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn
        |  FROM v1) r1 WHERE rn = 1),
        |v2 AS (SELECT a.v AS node, l.label, count(*) AS n
        |       FROM adj a JOIN l1 l ON a.u = l.node GROUP BY 1, 2),
        |l2 AS MATERIALIZED (SELECT node, label FROM (
        |  SELECT node, label,
        |   row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn
        |  FROM v2) r2 WHERE rn = 1),
        |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e0),
        |ec AS (SELECT la.label, count(*) AS e_c FROM e0
        |       JOIN l2 la ON la.node = e0.a JOIN l2 lb ON lb.node = e0.b
        |       WHERE la.label = lb.label GROUP BY 1),
        |dcx AS (SELECT l2.label, CAST(sum(d.deg) AS HUGEINT) AS d_c FROM (
        |        SELECT node, count(*) AS deg FROM (
        |          SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0) u
        |        GROUP BY 1) d JOIN l2 ON l2.node = d.node GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
        |       sum(4 * (SELECT m FROM mm) * CAST(coalesce(e_c, 0) AS HUGEINT)
        |           - d_c * d_c) AS num
        |      FROM dcx LEFT JOIN ec ON ec.label = dcx.label)
        |SELECT n_communities, CAST((SELECT m FROM mm) AS BIGINT) AS m_edges,
        | CAST(num AS BIGINT) AS num,
        | CAST(CASE WHEN num >= 0
        |      THEN (num * 1000000) // (4 * (SELECT m FROM mm) * (SELECT m FROM mm))
        |      ELSE -((-num * 1000000) // (4 * (SELECT m FROM mm) * (SELECT m FROM mm)))
        |      END AS BIGINT) AS q_ppm
        |FROM t""".stripMargin,
    "q272_assortativity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT CAST(x.l_partkey AS BIGINT) AS a,
        |       CAST(y.l_partkey AS BIGINT) AS b
        |      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |       AND x.l_partkey < y.l_partkey GROUP BY 1, 2),
        |deg AS (SELECT node, count(*) AS deg FROM (
        |        SELECT a AS node FROM e UNION ALL SELECT b FROM e) u GROUP BY 1),
        |p AS (SELECT dx.deg AS dx, dy.deg AS dy FROM (
        |        SELECT a, b FROM e UNION ALL SELECT b, a FROM e) s
        |      JOIN deg dx ON dx.node = s.a JOIN deg dy ON dy.node = s.b),
        |g AS (SELECT CAST(count(*) AS HUGEINT) AS m,
        |       CAST(sum(dx) AS HUGEINT) AS sx, CAST(sum(dy) AS HUGEINT) AS sy,
        |       sum(CAST(dx AS HUGEINT) * dy) AS sxy,
        |       sum(CAST(dx AS HUGEINT) * dx) AS sxx,
        |       sum(CAST(dy AS HUGEINT) * dy) AS syy
        |      FROM p),
        |t AS (SELECT m, sx, m * sxy - sx * sy AS num,
        |       m * sxx - sx * sx AS vx, m * syy - sy * sy AS vy FROM g)
        |SELECT CAST(m AS BIGINT) AS m, CAST(sx AS BIGINT) AS sum_dx,
        | CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END AS BIGINT)
        |   AS sign,
        | CAST(CASE WHEN vx > 0 AND vy > 0 AND (vx * vy) // 1000000 > 0
        |      THEN (num * num) // ((vx * vy) // 1000000)
        |      ELSE NULL END AS BIGINT) AS corr2_ppm
        |FROM t""".stripMargin,
    "q271_recsys_eval" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |w AS (SELECT CAST(x.l_partkey AS BIGINT) AS a,
        |       CAST(y.l_partkey AS BIGINT) AS b, count(*) AS w
        |      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |       AND x.l_partkey < y.l_partkey GROUP BY 1, 2),
        |sym AS (SELECT a AS node, b AS nbr, w FROM w
        |        UNION ALL SELECT b, a, w FROM w),
        |best AS (SELECT node, nbr AS predicted FROM (
        |         SELECT node, nbr, row_number() OVER (PARTITION BY node
        |          ORDER BY w DESC, nbr) AS rn FROM sym) r WHERE rn = 1),
        |seeds AS (SELECT l_orderkey, CAST(min(l_partkey) AS BIGINT) AS seed
        |         FROM li GROUP BY 1 HAVING count(*) >= 2),
        |hits AS (SELECT s.l_orderkey FROM seeds s
        |         JOIN best b ON b.node = s.seed
        |         WHERE EXISTS (SELECT 1 FROM li
        |           WHERE li.l_orderkey = s.l_orderkey
        |            AND li.l_partkey = b.predicted))
        |SELECT CAST((SELECT count(*) FROM seeds) AS BIGINT) AS n_orders,
        | CAST((SELECT count(*) FROM hits) AS BIGINT) AS n_hits,
        | CAST((SELECT count(*) FROM hits) * 1000000
        |   // (SELECT count(*) FROM seeds) AS BIGINT) AS hit_rate_ppm""".stripMargin,
    "q269_item_similarity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |w AS (SELECT CAST(x.l_partkey AS BIGINT) AS a,
        |       CAST(y.l_partkey AS BIGINT) AS b, count(*) AS w
        |      FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |       AND x.l_partkey < y.l_partkey GROUP BY 1, 2),
        |deg AS (SELECT node, sum(w) AS deg FROM (
        |        SELECT a AS node, w FROM w UNION ALL SELECT b, w FROM w) u
        |       GROUP BY 1)
        |SELECT a, b, CAST(w.w AS BIGINT) AS w,
        | CAST(w.w * w.w * 1000000 // (da.deg * db.deg) AS BIGINT) AS cos2_ppm
        |FROM w JOIN deg da ON da.node = w.a JOIN deg db ON db.node = w.b
        |ORDER BY cos2_ppm DESC, a, b LIMIT 20""".stripMargin,
    "q240_interpolate" ->
      """WITH p AS (SELECT epoch_ms(ts) // 3600000 AS hr, count(*) AS n
        |       FROM events WHERE event_type = 'purchase' AND value >= 900.0
        |       GROUP BY 1),
        |b AS (SELECT min(hr) AS mn, max(hr) AS mx FROM p),
        |spine AS (SELECT unnest(generate_series(mn, mx)) AS hr FROM b),
        |j AS (SELECT spine.hr, p.n FROM spine LEFT JOIN p ON p.hr = spine.hr),
        |w AS (SELECT hr, n,
        |       max(CASE WHEN n IS NOT NULL THEN hr END) OVER
        |        (ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_hr,
        |       last_value(n IGNORE NULLS) OVER
        |        (ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_n,
        |       min(CASE WHEN n IS NOT NULL THEN hr END) OVER
        |        (ORDER BY hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_hr,
        |       first_value(n IGNORE NULLS) OVER
        |        (ORDER BY hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_n
        |      FROM j)
        |SELECT CAST(hr AS BIGINT) AS hr,
        | CAST(CASE WHEN n IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed,
        | CAST(CASE WHEN n IS NOT NULL THEN n
        |      ELSE prev_n + (next_n - prev_n) * (hr - prev_hr)
        |           // (next_hr - prev_hr) END AS BIGINT) AS n_filled
        |FROM w ORDER BY hr""".stripMargin,
    "q234_pixel_stats" ->
      """WITH ids AS (SELECT unnest(range(1, 21)) AS id),
        |dims AS (SELECT id, 32 + (id % 5) * 8 AS w, 24 + (id % 3) * 8 AS h FROM ids),
        |xs AS (SELECT unnest(range(0, 64)) AS x),
        |ys AS (SELECT unnest(range(0, 40)) AS y),
        |px AS (SELECT d.id, d.w, d.h, xs.x, ys.y,
        |        ((xs.x * 7 + ys.y * 13) % 16777216) AS v
        |       FROM dims d JOIN xs ON xs.x < d.w JOIN ys ON ys.y < d.h)
        |SELECT CAST(id AS BIGINT) AS media_id,
        | CAST(max(w) AS BIGINT) AS width, CAST(max(h) AS BIGINT) AS height,
        | CAST(sum(v // 65536) AS BIGINT) AS sum_r,
        | CAST(sum((v // 256) % 256) AS BIGINT) AS sum_g,
        | CAST(sum(v % 256) AS BIGINT) AS sum_b,
        | CAST(sum(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN v // 65536 END) AS BIGINT) AS ds_sum_r,
        | CAST(sum(CASE WHEN x % 2 = 0 AND y % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ds_n_px
        |FROM px GROUP BY id ORDER BY media_id""".stripMargin,
    "q228_percolate" ->
      """WITH g AS (SELECT
        | sum(CASE WHEN lang = 'en' AND contains(text, 'spark') THEN 1 ELSE 0 END) AS n1,
        | min(CASE WHEN lang = 'en' AND contains(text, 'spark') THEN doc_id END) AS f1,
        | sum(CASE WHEN source = 'src0' OR source = 'src3' THEN 1 ELSE 0 END) AS n2,
        | min(CASE WHEN source = 'src0' OR source = 'src3' THEN doc_id END) AS f2,
        | sum(CASE WHEN NOT (n_chars < 200) THEN 1 ELSE 0 END) AS n3,
        | min(CASE WHEN NOT (n_chars < 200) THEN doc_id END) AS f3,
        | sum(CASE WHEN contains(text, 'batch stream') THEN 1 ELSE 0 END) AS n4,
        | min(CASE WHEN contains(text, 'batch stream') THEN doc_id END) AS f4,
        | sum(CASE WHEN contains(text, 'vector') THEN 1 ELSE 0 END) AS n5,
        | min(CASE WHEN contains(text, 'vector') THEN doc_id END) AS f5,
        | sum(CASE WHEN lang = 'de' OR (source = 'src2' AND contains(text, 'window'))
        |     THEN 1 ELSE 0 END) AS n6,
        | min(CASE WHEN lang = 'de' OR (source = 'src2' AND contains(text, 'window'))
        |     THEN doc_id END) AS f6
        |FROM documents)
        |SELECT * FROM (
        | SELECT 'p1_en_spark' AS query, CAST(n1 AS BIGINT) AS n_matches,
        |  CAST(coalesce(f1, -1) AS BIGINT) AS first_doc FROM g
        | UNION ALL SELECT 'p2_src_group', CAST(n2 AS BIGINT), CAST(coalesce(f2, -1) AS BIGINT) FROM g
        | UNION ALL SELECT 'p3_not_short', CAST(n3 AS BIGINT), CAST(coalesce(f3, -1) AS BIGINT) FROM g
        | UNION ALL SELECT 'p4_phrase', CAST(n4 AS BIGINT), CAST(coalesce(f4, -1) AS BIGINT) FROM g
        | UNION ALL SELECT 'p5_wild', CAST(n5 AS BIGINT), CAST(coalesce(f5, -1) AS BIGINT) FROM g
        | UNION ALL SELECT 'p6_mixed', CAST(n6 AS BIGINT), CAST(coalesce(f6, -1) AS BIGINT) FROM g
        |) u ORDER BY query""".stripMargin,
    "q229_sequence_mining" ->
      """WITH s AS (SELECT user_id,
        |        list(event_type ORDER BY ts, event_id) AS types
        |       FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |g AS (SELECT user_id,
        |       unnest([types[i+1] || '>' || types[i+2] || '>' || types[i+3]
        |               FOR i IN range(0, len(types) - 2)]) AS gram
        |      FROM s)
        |SELECT gram, CAST(count(*) AS BIGINT) AS n_occ,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM g GROUP BY 1
        |ORDER BY n_occ DESC, gram LIMIT 10""".stripMargin,
    "q226_bitmap_distinct" ->
      """SELECT * FROM (
        | SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        | FROM events WHERE user_id IS NOT NULL GROUP BY 1
        | UNION ALL
        | SELECT 'ALL' AS event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        | FROM events WHERE user_id IS NOT NULL
        |) u ORDER BY event_type""".stripMargin,
    "q227_ktruss" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT CAST(x.l_partkey AS BIGINT) AS a, CAST(y.l_partkey AS BIGINT) AS b
        |  FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
        |   AND x.l_partkey < y.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |n0 AS MATERIALIZED (SELECT a AS n, b AS m FROM e0
        |  UNION ALL SELECT b, a FROM e0),
        |s1 AS (SELECT e.a, e.b, count(*) AS sup FROM e0 e
        |  JOIN n0 x ON x.n = e.a JOIN n0 y ON y.n = e.b AND y.m = x.m
        |  WHERE x.m <> e.b GROUP BY 1, 2),
        |e1 AS MATERIALIZED (SELECT e.a, e.b FROM e0 e
        |  JOIN s1 ON s1.a = e.a AND s1.b = e.b AND s1.sup >= 1),
        |n1 AS MATERIALIZED (SELECT a AS n, b AS m FROM e1
        |  UNION ALL SELECT b, a FROM e1),
        |s2 AS (SELECT e.a, e.b, count(*) AS sup FROM e1 e
        |  JOIN n1 x ON x.n = e.a JOIN n1 y ON y.n = e.b AND y.m = x.m
        |  WHERE x.m <> e.b GROUP BY 1, 2),
        |e2 AS MATERIALIZED (SELECT e.a, e.b FROM e1 e
        |  JOIN s2 ON s2.a = e.a AND s2.b = e.b AND s2.sup >= 1),
        |n2 AS MATERIALIZED (SELECT a AS n, b AS m FROM e2
        |  UNION ALL SELECT b, a FROM e2),
        |s3 AS (SELECT e.a, e.b, count(*) AS sup FROM e2 e
        |  JOIN n2 x ON x.n = e.a JOIN n2 y ON y.n = e.b AND y.m = x.m
        |  WHERE x.m <> e.b GROUP BY 1, 2),
        |e3 AS MATERIALIZED (SELECT e.a, e.b FROM e2 e
        |  JOIN s3 ON s3.a = e.a AND s3.b = e.b AND s3.sup >= 1)
        |SELECT * FROM (
        | SELECT CAST(0 AS BIGINT) AS round, CAST(count(*) AS BIGINT) AS n_edges FROM e0
        | UNION ALL SELECT 1, count(*) FROM e1
        | UNION ALL SELECT 2, count(*) FROM e2
        | UNION ALL SELECT 3, count(*) FROM e3
        |) u ORDER BY round""".stripMargin,
    "q182_image_decode" ->
      """WITH ids AS (SELECT unnest(generate_series(1, 20)) AS id)
        |SELECT CAST(id AS BIGINT) AS media_id,
        | CAST(64 + (id % 10) * 8 AS BIGINT) AS width,
        | CAST(48 + (id % 7) * 8 AS BIGINT) AS height,
        | CAST(3 AS BIGINT) AS channels,
        | CASE WHEN id % 3 = 0 THEN 'jpeg' ELSE 'png' END AS format,
        | TRUE AS decoded_real_bytes
        |FROM ids ORDER BY media_id""".stripMargin,
    "q181_kuery_search" ->
      """SELECT 'k1_text_and' AS kuery, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars
        | FROM documents WHERE lang = 'en' AND text LIKE '%slow%'
        |UNION ALL
        |SELECT 'k2_group' AS kuery, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars
        | FROM documents WHERE source = 'src1' OR source = 'src2'
        |UNION ALL
        |SELECT 'k3_not_range' AS kuery, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars
        | FROM documents WHERE NOT (lang = 'en') AND n_chars >= 400
        |UNION ALL
        |SELECT 'k4_phrase' AS kuery, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars
        | FROM documents WHERE contains(text, 'slow fast')
        |UNION ALL
        |SELECT 'k5_wildcard' AS kuery, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars
        | FROM documents WHERE source LIKE 'src1%'
        |ORDER BY kuery""".stripMargin,
    "q165_geo_pairs" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events
        |           WHERE user_id IS NOT NULL AND user_id >= 0),
        |p AS (SELECT user_id AS id, (user_id * 7919) % 180000 AS x,
        |             (user_id * 104729) % 360000 AS y FROM u),
        |pr AS (SELECT a.x AS xa,
        |        (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
        |       FROM p a JOIN p b ON a.id < b.id
        |       WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 4000000)
        |SELECT xa // 30000 AS band, count(*) AS n_pairs,
        | min(d2) AS min_d2, CAST(sum(d2) AS BIGINT) AS sum_d2
        |FROM pr GROUP BY 1 ORDER BY 1""".stripMargin,
    "q166_label_communities" ->
      """WITH e0 AS MATERIALIZED (
        | SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        | FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |adj AS MATERIALIZED (
        | SELECT a AS u, b AS v FROM e0 UNION SELECT b, a FROM e0),
        |l0 AS (SELECT DISTINCT u AS node, u AS label FROM adj),
        |v1 AS (SELECT a.v AS node, l.label, count(*) AS n
        |       FROM adj a JOIN l0 l ON a.u = l.node GROUP BY 1, 2),
        |l1 AS MATERIALIZED (SELECT node, label FROM (
        |  SELECT node, label,
        |   row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn
        |  FROM v1) WHERE rn = 1),
        |v2 AS (SELECT a.v AS node, l.label, count(*) AS n
        |       FROM adj a JOIN l1 l ON a.u = l.node GROUP BY 1, 2),
        |l2 AS (SELECT node, label FROM (
        |  SELECT node, label,
        |   row_number() OVER (PARTITION BY node ORDER BY n DESC, label) AS rn
        |  FROM v2) WHERE rn = 1),
        |c AS (SELECT label, count(*) AS size FROM l2 GROUP BY 1)
        |SELECT size, count(*) AS n_communities, min(label) AS min_label
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q167_shortest_path" ->
      """WITH e0 AS MATERIALIZED (
        | SELECT x.l_partkey AS u, y.l_partkey AS v,
        |  CAST(min(floor(x.l_quantity + y.l_quantity)) AS BIGINT) AS w
        | FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        | GROUP BY 1, 2),
        |adj AS MATERIALIZED (
        | SELECT u, v, w FROM e0 UNION ALL SELECT v, u, w FROM e0),
        |d0 AS (SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist
        |       FROM part WHERE p_partkey <= 5),
        |d1 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d0 UNION ALL
        |  SELECT a.v, d.dist + a.w FROM adj a JOIN d0 d ON a.u = d.node)
        | GROUP BY 1),
        |d2 AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d1 UNION ALL
        |  SELECT a.v, d.dist + a.w FROM adj a JOIN d1 d ON a.u = d.node)
        | GROUP BY 1),
        |d3 AS (SELECT node, min(dist) AS dist FROM (
        |  SELECT node, dist FROM d2 UNION ALL
        |  SELECT a.v, d.dist + a.w FROM adj a JOIN d2 d ON a.u = d.node)
        | GROUP BY 1)
        |SELECT node, dist FROM d3 ORDER BY node""".stripMargin,
    "q168_seasonal" ->
      """WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS n
        |           FROM events GROUP BY 1),
        |t AS (SELECT day, n, CAST(sum(n) OVER w AS BIGINT) AS trend_sum7,
        |        count(*) OVER w AS days_in
        |      FROM d
        |      WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING
        |                   AND 3 FOLLOWING)),
        |f AS (SELECT day, n, trend_sum7, 7 * n - trend_sum7 AS dev7,
        |        day % 7 AS weekday
        |      FROM t WHERE days_in = 7),
        |s AS (SELECT weekday, CAST(sum(dev7) AS BIGINT) AS seas_num,
        |        count(*) AS seas_cnt FROM f GROUP BY 1)
        |SELECT f.day, f.n, f.trend_sum7, f.dev7, f.weekday,
        | s.seas_num, s.seas_cnt,
        | f.dev7 * s.seas_cnt - s.seas_num AS resid_num
        |FROM f JOIN s USING (weekday) ORDER BY day""".stripMargin,
    "q169_value_drift" ->
      """WITH e AS (SELECT event_type AS g,
        |        CAST(floor(value * 100) AS BIGINT) AS v FROM events
        |       WHERE event_type IN ('view', 'purchase')),
        |c AS (SELECT v,
        |        sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS na_v,
        |        sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS nb_v
        |      FROM e GROUP BY 1),
        |cu AS (SELECT v, CAST(sum(na_v) OVER (ORDER BY v) AS BIGINT) AS ca,
        |         CAST(sum(nb_v) OVER (ORDER BY v) AS BIGINT) AS cb FROM c),
        |t AS (SELECT max(ca) AS n_a, max(cb) AS n_b FROM cu),
        |g AS (SELECT cu.v, abs(cu.ca * t.n_b - cu.cb * t.n_a) AS gap,
        |        t.n_a, t.n_b FROM cu, t)
        |SELECT n_a, n_b, gap AS d_num, v AS at_value,
        | CAST((gap * 1000000) // (n_a * n_b) AS BIGINT) AS ks_ppm
        |FROM g ORDER BY gap DESC, v LIMIT 1""".stripMargin,
    "q170_coverage_select" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') tk
        |              FROM documents),
        |el AS MATERIALIZED (
        | SELECT DISTINCT doc_id,
        |  unnest(list_distinct([array_to_string(list_slice(tk, i, i + 2), ' ')
        |                        FOR i IN range(1, greatest(len(tk) - 1, 2))]))
        |    AS el
        | FROM toks),
        |g1 AS (SELECT doc_id, count(*) AS g FROM el GROUP BY 1),
        |s1 AS MATERIALIZED (SELECT doc_id, g FROM g1
        |                    ORDER BY g DESC, doc_id LIMIT 1),
        |c1 AS MATERIALIZED (SELECT DISTINCT el FROM el
        |                    JOIN s1 USING (doc_id)),
        |g2 AS (SELECT e.doc_id, count(*) AS g FROM el e
        |       ANTI JOIN c1 ON e.el = c1.el
        |       WHERE e.doc_id NOT IN (SELECT doc_id FROM s1) GROUP BY 1),
        |s2 AS MATERIALIZED (SELECT doc_id, g FROM g2
        |                    ORDER BY g DESC, doc_id LIMIT 1),
        |c2 AS MATERIALIZED (SELECT el FROM c1 UNION
        |                    SELECT e.el FROM el e JOIN s2 USING (doc_id)),
        |g3 AS (SELECT e.doc_id, count(*) AS g FROM el e
        |       ANTI JOIN c2 ON e.el = c2.el
        |       WHERE e.doc_id NOT IN (SELECT doc_id FROM s1
        |                              UNION SELECT doc_id FROM s2)
        |       GROUP BY 1),
        |s3 AS (SELECT doc_id, g FROM g3 ORDER BY g DESC, doc_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS round, s1.doc_id, s1.g AS gain,
        | s1.g AS covered_total FROM s1
        |UNION ALL SELECT 2, s2.doc_id, s2.g, s1.g + s2.g FROM s1, s2
        |UNION ALL SELECT 3, s3.doc_id, s3.g, s1.g + s2.g + s3.g
        | FROM s1, s2, s3
        |ORDER BY round""".stripMargin,
    "q171_fd_audit" ->
      """WITH a AS (SELECT c_nationkey AS l, c_mktsegment AS r,
        |            'customer: nation->segment' AS fd FROM customer),
        |b AS (SELECT o_custkey, o_orderpriority,
        |       'orders: cust->priority' FROM orders),
        |c AS (SELECT l_orderkey, l_returnflag,
        |       'lineitem: order->returnflag' FROM lineitem),
        |d AS (SELECT n_nationkey, n_regionkey,
        |       'nation: nation->region' FROM nation),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b
        |      UNION ALL SELECT * FROM c UNION ALL SELECT * FROM d),
        |g AS (SELECT fd, l, count(*) AS n, count(DISTINCT r) AS nd
        |      FROM u GROUP BY 1, 2)
        |SELECT fd, count(*) AS n_lhs,
        | CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_violating_lhs,
        | max(nd) AS max_rhs,
        | CAST(sum(CASE WHEN nd > 1 THEN n ELSE 0 END) * 1000000
        |      // sum(n) AS BIGINT) AS viol_ppm
        |FROM g GROUP BY 1 ORDER BY fd""".stripMargin,
    "q172_group_percentiles" ->
      """WITH e AS (SELECT event_type,
        |        CAST(floor(value * 100) AS BIGINT) AS cents, event_id
        |       FROM events),
        |r AS (SELECT event_type, cents,
        |       row_number() OVER (PARTITION BY event_type
        |                          ORDER BY cents, event_id) AS rn,
        |       count(*) OVER (PARTITION BY event_type) AS n
        |      FROM e)
        |SELECT event_type, n,
        | max(CASE WHEN rn = (25 * (n - 1)) // 100 + 1 THEN cents END) AS p25,
        | max(CASE WHEN rn = (50 * (n - 1)) // 100 + 1 THEN cents END) AS p50,
        | max(CASE WHEN rn = (75 * (n - 1)) // 100 + 1 THEN cents END) AS p75,
        | max(CASE WHEN rn = (95 * (n - 1)) // 100 + 1 THEN cents END) AS p95
        |FROM r GROUP BY 1, 2 ORDER BY event_type""".stripMargin,
    "q173_decile_lift" ->
      """WITH per AS (SELECT user_id,
        |        CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |          AS spend_cents,
        |        CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |          AS BIGINT) AS convs
        |       FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (SELECT *, CAST(ntile(10) OVER (ORDER BY spend_cents DESC,
        |        user_id) AS BIGINT) AS decile FROM per),
        |t AS (SELECT CAST(sum(convs) AS BIGINT) AS tot_convs FROM r)
        |SELECT decile, count(*) AS n_users,
        | CAST(sum(spend_cents) AS BIGINT) AS spend_cents,
        | CAST(sum(convs) AS BIGINT) AS convs,
        | CAST(CAST(sum(convs) AS BIGINT) * 1000000 // t.tot_convs AS BIGINT)
        |   AS conv_share_ppm
        |FROM r, t GROUP BY decile, t.tot_convs ORDER BY decile""".stripMargin,
    "q174_normalized_dedup" ->
      """WITH n AS (SELECT doc_id,
        |        md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |          AS fp
        |       FROM documents),
        |g AS (SELECT fp, count(*) AS n_members, min(doc_id) AS keeper
        |      FROM n GROUP BY 1 HAVING count(*) > 1)
        |SELECT n_members, count(*) AS n_groups, min(keeper) AS min_keeper
        |FROM g GROUP BY 1 ORDER BY n_members""".stripMargin,
    "q175_burstiness" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms, event_id FROM events
        |           WHERE user_id IS NOT NULL),
        |l AS (SELECT user_id,
        |       (ms - lag(ms) OVER (PARTITION BY user_id
        |                           ORDER BY ms, event_id)) // 1000 AS gap_s
        |      FROM e),
        |a AS (SELECT user_id, count(*) AS n_gaps,
        |       CAST(sum(gap_s) AS BIGINT) AS sum_s,
        |       CAST(sum(gap_s * gap_s) AS HUGEINT) AS ss
        |      FROM l WHERE gap_s IS NOT NULL GROUP BY 1
        |      HAVING count(*) >= 2 AND sum(gap_s) > 0)
        |SELECT user_id, n_gaps, sum_s,
        | CAST((1000000 * (n_gaps * ss - CAST(sum_s AS HUGEINT) * sum_s)) //
        |      (CAST(sum_s AS HUGEINT) * sum_s) AS BIGINT) AS burst_ppm
        |FROM a ORDER BY burst_ppm DESC, user_id LIMIT 20""".stripMargin,
    "q176_hist_overlap" ->
      """WITH c AS (SELECT CAST(floor(value * 100) AS BIGINT) AS cents,
        |        sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca,
        |        sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
        |       FROM events WHERE event_type IN ('view', 'purchase')
        |       GROUP BY 1),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |        CAST(sum(cb) AS BIGINT) AS n_b FROM c)
        |SELECT t.n_a, t.n_b,
        | CAST(CAST(sum(least(c.ca * t.n_b, c.cb * t.n_a)) AS HUGEINT)
        |      * 1000000 // (CAST(t.n_a AS HUGEINT) * t.n_b) AS BIGINT)
        |   AS overlap_ppm
        |FROM c, t GROUP BY t.n_a, t.n_b""".stripMargin,
    "q177_cross_source_dups" ->
      """WITH fp AS (SELECT DISTINCT source, md5(text) AS fp FROM documents)
        |SELECT a.source AS source_a, b.source AS source_b,
        | count(*) AS n_shared
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    "q178_hits" ->
      """WITH e AS MATERIALIZED (
        | SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |n AS MATERIALIZED (SELECT u AS node FROM e UNION SELECT v FROM e),
        |h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM n),
        |a1 AS MATERIALIZED (SELECT n.node, coalesce(s.a, 0) AS a FROM n
        | LEFT JOIN (SELECT e.v AS node, CAST(sum(h0.h) AS BIGINT) AS a
        |            FROM e JOIN h0 ON e.u = h0.node GROUP BY 1) s
        | USING (node)),
        |h1 AS MATERIALIZED (SELECT n.node, coalesce(s.h, 0) AS h FROM n
        | LEFT JOIN (SELECT e.u AS node, CAST(sum(a1.a) AS BIGINT) AS h
        |            FROM e JOIN a1 ON e.v = a1.node GROUP BY 1) s
        | USING (node)),
        |a2 AS MATERIALIZED (SELECT n.node, coalesce(s.a, 0) AS a FROM n
        | LEFT JOIN (SELECT e.v AS node, CAST(sum(h1.h) AS BIGINT) AS a
        |            FROM e JOIN h1 ON e.u = h1.node GROUP BY 1) s
        | USING (node)),
        |h2 AS (SELECT n.node, coalesce(s.h, 0) AS h FROM n
        | LEFT JOIN (SELECT e.u AS node, CAST(sum(a2.a) AS BIGINT) AS h
        |            FROM e JOIN a2 ON e.v = a2.node GROUP BY 1) s
        | USING (node))
        |SELECT h2.node, h2.h AS hub, a2.a AS auth
        |FROM h2 JOIN a2 USING (node)
        |ORDER BY auth DESC, node LIMIT 20""".stripMargin,
    "q179_best_match" ->
      """WITH e0 AS MATERIALIZED (
        | SELECT x.l_partkey AS u, y.l_partkey AS v, count(*) AS w
        | FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        | GROUP BY 1, 2),
        |sym AS (SELECT u, v, w FROM e0 UNION ALL SELECT v, u, w FROM e0),
        |best AS (SELECT u, v, w FROM (
        |  SELECT u, v, w,
        |   row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
        |  FROM sym) WHERE rn = 1)
        |SELECT x.u AS id_a, x.v AS id_b, CAST(x.w AS BIGINT) AS w
        |FROM best x JOIN best y
        | ON x.u = y.v AND x.v = y.u AND x.u < y.u
        |ORDER BY id_a""".stripMargin,
    "q180_sliding_chunks" ->
      """SELECT doc_id,
        | CAST(1 + (greatest(length(text) - 64, 0) + 47) // 48 AS BIGINT)
        |   AS n_chunks,
        | CAST(length(text) AS BIGINT) AS len,
        | md5(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)
}
