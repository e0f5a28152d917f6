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

/** Training-data-pipeline + remaining dashboard queries (q15-q24), each
  * with an exact DuckDB oracle. Covers SURVEY §2.2 B11's nested terms,
  * the auto date-histogram, and the LLM-pipeline operator families:
  * dedup (exact / MinHash-LSH / SimHash), text analysis, similarity
  * search (brute-force + SRP-LSH ANN), multimodal metadata.
  *
  * Oracle-determinism notes:
  *  - all hash-bearing queries use md5 (DuckDB-identical); xxhash64
  *    stays the production default where no oracle is needed;
  *  - doubles only flow through expressions with IDENTICAL operation
  *    order on both engines (sequential left folds == list_dot_product,
  *    verified), then round(6);
  *  - integer outputs are cast to LongType (DuckDB BIGINT).
  */
object PipelineQueries {

  // B11: nested 3-level terms top-k — top-2 regions by max supplier
  // balance, top-3 nations within those, top-2 suppliers within those.
  // One leaf aggregation shuffles; everything after is broadcast-sized.
  def q15NestedTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .select($"r_name", $"n_name", $"s_name", $"s_acctbal")
    TopK.nested(base, Seq(("r_name", 2), ("n_name", 3), ("s_name", 2)), "s_acctbal")
      .select($"r_name", $"n_name", $"s_name", $"m1", $"m2", $"m3", $"rk1", $"rk2", $"rk3")
      .orderBy($"rk1", $"rk2", $"rk3")
  }

  // B13 auto-interval variant: pick the histogram rung from the data's
  // time span (OpenSearch auto date-histogram), then bucket. The span
  // probe is one tiny min/max agg job.
  def q16AutoHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val mm = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
    val spanSec = (mm.getLong(1) - mm.getLong(0)) / 1000L
    val step = DateHistogram.autoIntervalSeconds(Duration.ofSeconds(spanSec), 100)
    ev.groupBy(
        date_format(DateHistogram.bucket($"ts", step), "yyyy-MM-dd HH:mm:ss")
          .as("bucket_start"))
      .agg(count(lit(1)).as("n_events"), countDistinct($"user_id").as("n_users"))
      .orderBy($"bucket_start")
  }

  // Exact dedup: one surviving (lowest) id per key group + copy count.
  def q17ExactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.exact(Tables.documents(s, dir), Seq("lang", "source"), "doc_id")
      .orderBy($"lang", $"source")
  }

  // MinHash-LSH near-dup pairs, jaccard-verified. The oracle brute-forces
  // all pairs (fine at sf0.01); the engine only verifies band-bucket
  // collisions — same result here because the planted pairs sit well
  // above the (p=64, bands=16, rows=4) S-curve boundary (miss ≈ 2.2e-4
  // at exactly j=0.8, <1e-6 for j ≳ 0.87; precision is exact either
  // way), verified empirically against the oracle at every SF.
  def q18NeardupPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.neardupPairs(Tables.documents(s, dir), "doc_id", "text",
        shingleK = 3, p = 64, bands = 16, threshold = 0.8)
      .select($"id_a", $"id_b", round($"jac", 6).as("jac"))
      .orderBy($"id_a", $"id_b")
  }

  // n-gram-Jaccard dedup family: character-5-gram jaccard pairs through
  // the same banded MinHash+LSH machinery (sub-word granularity — robust
  // to whitespace/tokenization edits where word shingles are not). The
  // planted near-dups sit at char-5-gram jaccard 0.93-0.99 with nothing
  // else above 0.35, so the 0.8 threshold is deep inside the S-curve's
  // safe zone; the oracle brute-forces all pairs.
  def q41CharNgramPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.neardupPairs(Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.8,
        // Banding is STEEPER than the word-shingle default (rows=6 vs 4):
        // char-gram corpora have a much higher baseline similarity
        // (~0.35 here vs ≤0.3 for word shingles), and at rows=4 roughly
        // a fifth of ALL pairs band-collide — millions of candidate
        // memberships that exist only to be killed by the est-prefilter.
        // At (p=60, bands=10, rows=6) the baseline candidate rate drops
        // ~13× while the planted pairs (char-5-gram jaccard 0.93-0.99)
        // keep miss probability ≤ (1-0.93^6)^10 ≈ 3e-5 — verified
        // empirically against the brute-force oracle at every SF per the
        // repo convention.
        p = 60, bands = 10,
        // gram IDENTITIES are 64-bit byte-level hashes end-to-end: the
        // verify sets are distinct gram hashes (array<long> intersects,
        // no gram string is ever materialized) and the signature hashes
        // the same grams natively. Hash-set jaccard equals the oracle's
        // string-set jaccard whenever no within-pair xxhash64 collision
        // exists (P ≈ grams²/2^64 ≈ 1e-13 — and the cross-engine hash
        // compare would catch one).
        shingleFn = Some(c => array_distinct(graft.plans.GraftFunctions.ngramHashes(c, 5))),
        hashesFn = Some(graft.plans.GraftFunctions.ngramHashes(_, 5)))
      .select($"id_a", $"id_b", round($"jac", 6).as("jac"))
      .orderBy($"id_a", $"id_b")
  }

  // SimHash near-dup pairs over 3-shingles (md5-based 60-bit hash so the
  // oracle can recompute signatures exactly); Manku-style banded search
  // with guaranteed recall at maxHamming=10 (11 bands).
  def q19SimhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigged = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism) // parallelize sig compute (1-file input)
      .select($"doc_id",
        Dedup.simhashOf(Dedup.shingles($"text", 3), Dedup.md5Hash60, 60).as("sig"))
      // materialized once (localCheckpoint: both sides of the band join
      // consume it, and exchange reuse — which collapses the two band
      // explodes to one — only fires over checkpointed sources)
      .localCheckpoint(true)
    // intactBands derived from the ACTUAL corpus size (sf10 lesson —
    // the static r = 2 that fixed sf3 went 7.7× on 3.33× data at sf10,
    // exactly the C(bands,r)·2^(−r·bits/bands)·C(N,2) quadratic term at
    // fixed r): autoIntactBands picks r = 1 at sf0.01 (500 docs), 3 at
    // sf3/sf10 (150k/500k) — output identical at every r (pigeonhole
    // recall is r-independent, verify popcount exact), so the choice is
    // purely a cost decision; the count() rides the persisted sig frame
    Dedup.simhashNearDupPairsAuto(sigged, "doc_id", "sig", maxHamming = 10,
        bits = 60)
      .orderBy($"id_a", $"id_b")
  }

  // Text analysis: token/subword/char-class counts + normalization
  // fingerprint. All row-local codegen'd Column expressions.
  def q20TextStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id",
      TextAnalysis.tokenCount($"text").as("n_tokens"),
      TextAnalysis.subwordCount($"text").as("n_subwords"),
      TextAnalysis.alphaCount($"text").as("n_alpha"),
      TextAnalysis.digitCount($"text").as("n_digit"),
      TextAnalysis.punctCount($"text").as("n_punct"),
      TextAnalysis.fingerprint($"text").as("fingerprint"))
      .orderBy($"doc_id")
  }

  // Language-ID heuristic + quality score per document.
  def q21LangQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id",
      $"lang",
      TextAnalysis.langId($"text").as("lang_id"),
      TextAnalysis.qualityScore($"text").as("quality"))
      .orderBy($"doc_id")
  }

  // Repetition-based quality filters (Gopher-style): distinct-token
  // ratio, top-token share, duplicate 2/3-gram fractions and a
  // composite keep flag — every metric row-local (the top-token share
  // folds a sorted run-length max instead of exploding tokens into a
  // corpus-wide shuffle).
  def q62RepetitionFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir).select(
      $"doc_id",
      TextAnalysis.tokenCount($"text").as("n_tokens"),
      TextAnalysis.uniqueTokenRatio($"text").as("uniq_ratio"),
      TextAnalysis.topTokenShare($"text").as("top_share"),
      TextAnalysis.dupNgramFrac($"text", 2).as("dup2"),
      TextAnalysis.dupNgramFrac($"text", 3).as("dup3"))
      .withColumn("repetitive",
        $"top_share" > 0.12 || $"dup2" > 0.06 || $"uniq_ratio" < 0.33)
      .orderBy($"doc_id")
  }

  // PII redaction over documents: emails/phones/IPv4s planted
  // deterministically from doc_id (the base corpus has none — both
  // engines plant the identical strings), then scrubbed by the shared
  // Java-regex/RE2-compatible patterns. The redacted text itself is
  // part of the compared output, so match boundaries are pinned exactly.
  def q63PiiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = Tables.documents(s, dir).withColumn("text2",
      when($"doc_id" % 3 === 0,
        concat($"text",
          lit(" contact u"), $"doc_id".cast("string"), lit("@ex-"),
          ($"doc_id" % 7).cast("string"), lit(".org"),
          lit(" call "), format_string("%03d-%03d-%04d",
            $"doc_id" % 1000, ($"doc_id" * 3) % 1000, $"doc_id" % 10000),
          lit(" from "), ($"doc_id" % 223 + 1).cast("string"), lit("."),
          ($"doc_id" % 256).cast("string"), lit("."),
          (($"doc_id" * 7) % 256).cast("string"), lit("."),
          ($"doc_id" % 100 + 1).cast("string")))
        .otherwise($"text"))
    planted.select(
      $"doc_id",
      TextAnalysis.piiEmailCount($"text2").as("n_email"),
      TextAnalysis.piiPhoneCount($"text2").as("n_phone"),
      TextAnalysis.piiIpv4Count($"text2").as("n_ip"),
      TextAnalysis.redactPii($"text2").as("redacted"))
      .orderBy($"doc_id")
  }

  // Bloom-pruned semi-join: lineitem ⋉ high-value orders with the dim's
  // bloom probed AT THE SCAN (fact rows failing it never reach the join
  // exchange — the shuffle saver when the dim is too big to broadcast
  // exactly). The trailing exact semi-join removes false positives, so
  // the oracle is the plain IN-subquery aggregate.
  def q71BloomSemiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Tables.orders(s, dir)
      .filter($"o_totalprice" > 150000).select($"o_orderkey")
    val n = math.max(dim.count(), 1L)
    graft.operators.BloomJoin.semiJoin(
        Tables.lineitem(s, dir), "l_orderkey", dim, "o_orderkey", n)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        round(sum($"l_quantity".cast("decimal(18,2)")), 2).cast("double").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  // Per-label embedding cohesion: integerized centroid numerators
  // (exact integer sums — no float-order nondeterminism), broadcast
  // back for a row-local cosine, floor-scaled cohesion mean. The one
  // real shuffle is the (label, pos) component explode.
  def q69EmbeddingCohesion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.similarity.VectorAgg.intraCosine(
      Tables.embeddings(s, dir), "label", "embedding")
      .orderBy($"label")
  }

  // Stream-stream attribution join, end-to-end: views ⋈ purchases of
  // the same user within 1h, as a REAL checkpointed stream — two
  // watermarked branches of one spool source, time-range inner join
  // (state expires by watermark + range), append sink, two availableNow
  // runs on one checkpoint. Sentinels (user -1) ride BOTH branches to
  // advance the watermark and can never self-join (bts = vts fails the
  // strict > bound; the two sentinels sit 1 day apart, outside the 1h
  // window) so no output filter is needed beyond user >= 0. Oracle =
  // the same join as plain SQL on the source table.
  def q68StreamAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventStreamGate(s, dir, "graft-q68") { ev =>
      val views = ev.filter(col("event_type") === "view" || col("user_id") < 0)
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("vts"))
        .withWatermark("vts", "1 minute")
      val buys = ev.filter(col("event_type") === "purchase" || col("user_id") < 0)
        .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
          col("ts").as("bts"))
        .withWatermark("bts", "1 minute")
      views.join(buys, expr(
          "user_id = b_user AND bts > vts AND bts <= vts + interval 1 hour"))
        .select(col("user_id"), col("view_id"), col("buy_id"),
          unix_millis(col("vts")).as("v_ms"), unix_millis(col("bts")).as("b_ms"))
    }
      .filter($"user_id" >= 0)
      .orderBy($"view_id", $"buy_id")
  }

  // Cohort retention matrix: users bucketed by epoch-DAY of first
  // event (the 30-day test window gives a real triangular matrix;
  // weekly is the production default), distinct-counted at every day
  // offset they return. Pure integer math — the oracle replays it with
  // `//` floor division.
  def q66RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Retention.matrix(
      Tables.events(s, dir).select($"user_id", unix_millis($"ts").as("ms")),
      "user_id", "ms", periodMs = graft.operators.Retention.DayMs)
      .orderBy($"cohort_week", $"week_offset")
  }

  // Per-event-type z-score outliers: exact integer sums/sums-of-squares
  // then a fixed-shape double expression — deterministic across engines
  // where avg/stddev partial-sum order is not.
  def q67AnomalyZscore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Anomaly.zOutliers(
      Tables.events(s, dir).select($"event_id", $"event_type", $"value"),
      Seq("event_type"), "event_id", "value")
      .orderBy($"event_type", $"event_id")
  }

  // Inverted-index conjunctive search: build the token-partitioned
  // posting table (the one offline shuffle), then probe two terms with
  // bucket PartitionFilters — file-listing pruning, the full-text
  // analog of q34's LSH index probe. Oracle recomputes tf containment
  // directly on the corpus.
  def q65InvertedSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = tempDir("graft-q65").resolve("inv_index").toString
    graft.text.InvertedIndex.writeIndex(
      Tables.documents(s, dir), "doc_id", "text", idx)
    graft.text.InvertedIndex.searchAnd(s, idx, "doc_id", Seq("spark", "dup"))
      .orderBy($"doc_id")
  }

  // TF-IDF ranked search for a 3-term query: dfs for ONLY the query
  // terms via one single-row aggregate broadcast back over the scan —
  // the corpus is never token-exploded; top-k is TakeOrdered. The
  // oracle mirrors the identical smoothed-idf formula and the same
  // left-to-right FP addition order.
  def q64TfidfSearch(s: SparkSession, dir: String): DataFrame = {
    graft.text.Tfidf.searchTopK(Tables.documents(s, dir), "doc_id", "text",
      Seq("spark", "shuffle", "dup"), k = 20)
  }

  // Brute-force cosine top-k against one query vector: single scan, zero
  // shuffles (broadcast 1-row query + TakeOrderedAndProject).
  def q22CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val query = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    Similarity.bruteForceTopK(emb, "vec_id", "embedding", query, 10)
  }

  // SRP-LSH ANN top-k: signature prefilter (bit_count ≤ 3 of 12 bits ⇒
  // ~7% of rows reach the exact cosine), dim inferred from the data.
  def q23AnnTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val query = emb.filter(col("vec_id") === 1).select(col("embedding").as("qvec"))
    Similarity.lshTopK(emb, "vec_id", "embedding", query, k = 10,
      bits = annBits, maxHamming = annMaxHamming)
  }

  // Multimodal metadata: binary payload + mapPartitions decode (stub
  // codec, real batch shape) + row-local digest.
  def q24MultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMediaTable(
      Tables.documents(s, dir), "doc_id", "text", "image")
    val meta = Multimodal.decodeMeta(media).toDF()
    val digest = media.select(col("media_id"), md5(col("content")).as("digest"))
    meta.select(
        col("mediaId").as("media_id"),
        col("modality"),
        col("nBytes").as("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"))
      .join(digest, Seq("media_id"))
      .orderBy(col("media_id"))
  }

  // A13/A14 end-to-end: replay the events table through a REAL
  // checkpointed Structured Streaming write (file source → routed
  // partitioned parquet sink, exactly-once), then aggregate the sink.
  // The oracle aggregates the source directly — any lost/duplicated row
  // in the streaming path breaks the hash match.
  def q25StreamIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = Tables.eventsFileSchema(s, dir)
    // self-cleaning scratch dir (each invocation writes a full
    // events-table copy; repeated runs would fill the scratch medium)
    val tmp = tempDir("graft-q25")
    // the streaming file source wants a drop DIRECTORY (like a real
    // ingest spool) — link the source file into one
    val spool = java.nio.file.Files.createDirectories(tmp.resolve("spool"))
    java.nio.file.Files.createSymbolicLink(
      spool.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val conf = graft.ingest.Pipelines.Config(
      sourceDir = spool.toString,
      sinkRoot = s"$tmp/tables",
      checkpointRoot = s"$tmp/ckpt",
      availableNow = true)
    graft.ingest.Pipelines
      .ingestPartitioned(s, spool.toString, schema, "event_type", conf)
      .awaitTermination()
    s.read.parquet(conf.tablePath("ingested"))
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        max($"value").as("max_value"))
      .orderBy($"event_type")
  }

  // A8, serialize direction: struct → JSON payload (the reference
  // Gson-serializes each record at flush; from_json is q13). Long/string
  // fields only — float textual formats differ across engines.
  def q28JsonSerialize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select($"event_id",
        to_json(struct($"event_id", $"user_id", $"event_type")).as("payload"))
      .orderBy($"event_id")
      .limit(1000)
  }

  // Batched k-NN similarity join: top-3 neighbors for each of 5 query
  // vectors in one pass (broadcast queries, one window shuffle).
  def q29KnnJoin(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Similarity.knnJoin(emb, "vec_id", "embedding", queries, 3)
      .orderBy(col("qid"), col("rk"))
  }

  // Multimodal frame sampling: stride-sampled binary slices per payload
  // (ASCII docs only — the oracle's VARCHAR substring is char-indexed,
  // Spark's BINARY substring is byte-indexed; they coincide on ASCII).
  def q30FrameSample(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMediaTable(
      Tables.documents(s, dir).filter(col("lang") === "en"), "doc_id", "text", "video")
    Multimodal.sampleFrames(media, 3)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        // hex-encode: raw binary is opaque to the driver's row hasher
        lower(hex(col("frame_bytes"))).as("frame_hex"))
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Scratch root for the streaming harnesses' per-run spool/
    * checkpoint/sink artifacts. Micro-batch latency at these data
    * sizes is commit-path small-file I/O (state-store delta files,
    * offset/commit logs, sink `_spark_metadata` renames), not data —
    * so scratch belongs on the fastest local medium available, the
    * same reasoning that puts `spark.local.dir` on local NVMe/tmpfs in
    * production clusters (optimization guide §6: small files hurt
    * twice). `SPARK_GRAFT_SCRATCH` overrides; the default prefers
    * /dev/shm (Linux tmpfs) when writable, else java.io.tmpdir.
    * Scratch only ever holds artifacts created AND consumed within a
    * single timed query run — nothing persists or is reused across
    * runs, and the shutdown hook in [[tempDir]] reaps every tree.
    */
  private[queries] lazy val scratchRoot: java.nio.file.Path = {
    import java.nio.file.{Files => F, Path, Paths}
    val pick: Path = sys.env.get("SPARK_GRAFT_SCRATCH").map(Paths.get(_))
      .orElse {
        val shm = Paths.get("/dev/shm")
        if (F.isDirectory(shm) && F.isWritable(shm)) Some(shm) else None
      }
      .getOrElse(Paths.get(sys.props("java.io.tmpdir")))
    F.createDirectories(pick)
  }

  /** Self-cleaning temp dir under [[scratchRoot]] (q25 pattern: hook
    * reaps the tree at JVM exit so repeated bench/verify invocations
    * don't fill the scratch medium).
    */

  private[queries] def tempDir(prefix: String): java.nio.file.Path = {
    val tmp = java.nio.file.Files.createTempDirectory(scratchRoot, prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files => F}
      import scala.jdk.CollectionConverters._
      try F.walk(tmp).iterator().asScala.toSeq.reverse.foreach(p => F.deleteIfExists(p))
      catch { case _: Throwable => () }
    }))
    tmp
  }

  /** Driver-side fetch of one query vector (float→double, same cast as
    * toDoubleVec) — a 1-row probe job, like q16's span probe.
    */

  private def fetchVec(emb: DataFrame, id: Long): Array[Double] =
    emb.filter(col("vec_id") === id).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble).toArray

  // THE 100 TB ANN shape, oracle-gated: build the SRP-partitioned index
  // (signature = physical partition key), then probe it — the read
  // prunes to the Hamming-ball partitions at file listing
  // (PartitionFilters asserted in SimilaritySpec). The oracle recomputes
  // signatures from the same plane literals and applies the equivalent
  // hamming predicate to ALL rows — identical result set because
  // "sig_bucket IN ball(qsig, r)" ⇔ "hamming(sig, qsig) ≤ r".
  def q34AnnLshIndex(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val idx = tempDir("graft-q34").resolve("lsh_index").toString
    Similarity.writeLshIndex(emb, "vec_id", "embedding", idx, bits = idxBits)
    Similarity.queryLshIndex(s, idx, "vec_id", "embedding",
      fetchVec(emb, 2L), k = 10, bits = idxBits, maxHamming = idxMaxHamming)
  }

  // IVF variant of the same story: coarse-quantizer cell = partition
  // key; probe the nProbe nearest cells (driver-side centroid ranking),
  // exact cosine re-rank inside them. The oracle assigns every vector
  // to its argmax-dot cell from the same centroid literals and ranks
  // cells for the query identically (desc dot, tie → lower cell).
  def q35AnnIvfIndex(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val idx = tempDir("graft-q35").resolve("ivf_index").toString
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", idx, nCentroids = ivfCells)
    Similarity.queryIvfIndex(s, idx, "vec_id", "embedding",
      fetchVec(emb, 3L), k = 10, nCentroids = ivfCells, nProbe = ivfProbe)
  }

  // Full MinHash dedup SURVIVOR set — the non-transitive keep-lowest-id
  // drop policy is exactly the subtle part worth pinning: the oracle
  // brute-forces all ≥0.8-jaccard pairs and drops every id_b, which is
  // the documented per-pair (not connected-component) semantics.
  def q36MinhashDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.minhashDedup(Tables.documents(s, dir), "doc_id", "text")
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  // Embedding-cosine near-dup pairs over a PLANTED derivation: the
  // driver embeddings have no ≥0.8-cosine pairs (max ~0.5), so the
  // query derives one deterministic near-copy per vec_id<10 — a 95/5
  // mix of the vector with its own reversal (cos ≥ 0.9986 to the
  // original by construction, while cross-vector cosines move ≤ ~6°,
  // keeping every non-planted pair far below threshold). The oracle
  // replays the identical derivation and brute-forces all pairs; the
  // engine goes through SRP signatures + Manku banding and must find
  // exactly the planted pairs.
  def q37CosineNearDup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
    val planted = base.filter(col("vec_id") < 10)
      .select((col("vec_id") + lit(1000000L)).as("vec_id"),
        transform(col("v"), (x, i) =>
          x * lit(0.95) + element_at(col("v"), size(col("v")) - i) * lit(0.05)).as("v"))
    val derived = base.unionByName(planted)
    // recallCosine 0.99: the planted pairs sit at cos ≥ 0.9986 — the
    // 64/6 ball covers them (E[h] ≈ 2.9) while 0.8 stays the loose
    // verification floor; the banding/threshold consistency check
    // would (correctly) reject guaranteeing recall at 0.8 itself
    Similarity.cosineNearDupPairs(derived, "vec_id", "v", 0.8,
      recallCosine = 0.99)
      .orderBy(col("id_a"), col("id_b"))
  }

  // Reference-parity deep log ingest, end-to-end: derive full Log4j2
  // JSON events (nested level/instant structs, MDC map, a
  // thrownProxy→causeProxy chain with typed stack frames) from the
  // events table, replay them through a REAL checkpointed streaming
  // ingest (rawLogSchemaDeep → projectLogRecordsDeep → parquet sink),
  // then slice the SINK by level.name and cause-chain depth. The oracle
  // recomputes the same slices from the source directly — a lost field,
  // broken MDC parse, or flattened cause chain breaks the hash.
  def q38DeepLogIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val levelName = when($"event_type" === "click", "INFO")
      .when($"event_type" === "view", "DEBUG")
      .when($"event_type" === "signup", "TRACE")
      .when($"event_type" === "purchase", "WARN")
      .otherwise("ERROR")
    val intLevel = when($"event_type" === "click", 400L)
      .when($"event_type" === "view", 500L)
      .when($"event_type" === "signup", 600L)
      .when($"event_type" === "purchase", 300L)
      .otherwise(200L)
    def frame(line: org.apache.spark.sql.Column) = struct(
      struct(
        lit("app").as("classLoaderName"),
        lit("graft.Job").as("declaringClass"),
        lit("Job.scala").as("fileName"),
        line.as("lineNumber"),
        lit("run").as("methodName"),
        lit("graft.core").as("moduleName"),
        lit("1.0").as("moduleVersion")).as("stackTraceElement"),
      struct(lit(true).as("exact"), lit("graft.jar").as("location"),
        lit("1.0").as("version")).as("extraClassInfo"))
    val cause = struct(
      lit("java.io.IOException").as("name"),
      concat(lit("io-"), $"user_id").as("message"),
      concat(lit("io-"), $"user_id").as("localizedMessage"),
      lit(1L).as("commonElementCount"),
      array(frame($"user_id" % 200)).as("extendedStackTrace"))
    val thrown = struct(
      lit("java.lang.RuntimeException").as("name"),
      concat(lit("boom-"), $"event_id" % 13).as("message"),
      concat(lit("boom-"), $"event_id" % 13).as("localizedMessage"),
      lit(0L).as("commonElementCount"),
      array(frame($"event_id" % 500)).as("extendedStackTrace"),
      when($"event_id" % 3 === 0, cause).as("causeProxy"))
    val line = to_json(struct(
      lit("graft-app").as("appName"), lit("app-001").as("appId"),
      lit("driver").as("executorId"),
      unix_millis($"ts").as("logTime"),
      struct((unix_millis($"ts") / lit(1000)).cast("long").as("epochSecond"),
        lit(0L).as("nanoOfSecond")).as("instant"),
      lit("graft.app").as("loggerName"),
      concat(lit("worker-"), $"event_id" % 4).as("threadName"),
      ($"event_id" % 4).as("threadId"), lit(5L).as("threadPriority"),
      struct(intLevel.as("intLevel"), levelName.as("name"),
        levelName.as("standardLevel")).as("level"),
      struct(concat(lit("processed "), $"event_type", lit(" event "), $"event_id")
        .as("message")).as("message"),
      map(lit("taskName"),
        concat(lit("task "), $"event_id" % 7, lit(".0 in stage "),
          $"user_id" % 5, lit(".0 (TID "), $"event_id", lit(")"))).as("contextData"),
      when($"event_type" === "error", thrown).as("thrownProxy")))
    val tmp = tempDir("graft-q38")
    val spool = tmp.resolve("spool").toString
    ev.select(line.as("value")).write.mode("overwrite").text(spool)
    val conf = graft.ingest.Pipelines.Config(
      sourceDir = spool,
      sinkRoot = s"$tmp/tables",
      checkpointRoot = s"$tmp/ckpt",
      availableNow = true)
    graft.ingest.Pipelines.startLogsDeep(s, conf).awaitTermination()
    s.read.parquet(conf.tablePath(graft.model.Schemas.LogsTable + "_deep"))
      .groupBy($"levelName", $"causeDepth")
      .agg(
        count(lit(1)).as("n_logs"),
        countDistinct($"stageId").as("n_stages"),
        max($"errLine").as("max_line"))
      .select($"levelName".as("level_name"), $"causeDepth".as("cause_depth"),
        $"n_logs", $"n_stages", $"max_line")
      .orderBy($"level_name", $"cause_depth")
  }

  // The flatMapGroupsWithState stage aggregation, end-to-end and
  // oracle-gated: derive deterministic task-metric JSON from the events
  // table, replay it through startMetricsStateful (real checkpointed
  // stream, custom state, event-time timeouts), and read the SINK. The
  // watermark a batch runs with comes from the PREVIOUS batch, so state
  // flush needs two sentinel deliveries — done here as two availableNow
  // runs against ONE checkpoint (also proving checkpoint recovery): run
  // 1 drains events + a +1h sentinel and persists its watermark; run 2
  // delivers a +2h sentinel, runs with the recovered (+1h-lag) watermark
  // that is past every real stage's inactivity timeout, and emits them
  // all. The oracle recomputes the per-stage aggregation from the
  // source: any state-loss, double-count, or premature/missed timeout
  // emission breaks the hash.
  /** Shared harness for the stage-agg delivery gates (q39/q42/q43):
    * derive deterministic task-metric JSON from the events table into a
    * spool dir, return (pipeline config, max event-time ms, sentinel
    * writer). The oracle mirror of the derivation lives in
    * `stageAggOracleSql`.
    */

  private def taskMetricSpool(
      s: SparkSession, dir: String, prefix: String): (graft.ingest.Pipelines.Config, Long, Long => Unit) = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val line = to_json(struct(
      lit("taskMetrics").as("metricsType"),
      lit("graft-app").as("appName"),
      concat(lit("app-"), $"user_id" % 3).as("appId"),
      ($"user_id" % 4).cast("string").as("jobId"),
      ($"user_id" % 10).cast("int").as("stageId"),
      floor($"value" * 1000).cast("long").as("inputBytesRead"),
      ($"event_id" % 997).as("shuffleBytesRead"),
      unix_millis($"ts").as("metricTime")))
    val tmp = tempDir(prefix)
    val spool = tmp.resolve("spool").toString
    // parallel JSON spool write (a coalesce(1) here would serialize the
    // whole to_json derivation onto one core)
    ev.select(line.as("value")).write.mode("overwrite").text(spool)
    val maxMs = ev.agg(max(unix_millis($"ts"))).head().getLong(0)
    val sentinel = (offsetMs: Long) => {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(spool).resolve(s"sentinel-$offsetMs.json"),
        s"""{"metricsType":"taskMetrics","appName":"graft-app","appId":"sentinel",""" +
          s""""jobId":"s","stageId":999,"inputBytesRead":1,"shuffleBytesRead":0,""" +
          s""""metricTime":${maxMs + offsetMs}}""")
      ()
    }
    val conf = graft.ingest.Pipelines.Config(
      sourceDir = spool,
      sinkRoot = s"$tmp/tables",
      checkpointRoot = s"$tmp/ckpt",
      maxFilesPerTrigger = 100000,
      availableNow = true,
      watermarkDelay = "1 minute",
      // state shards sized to the harness's ~120 live stage keys (see
      // Pipelines.sessionFor) — every micro-batch commits every shard,
      // so inheriting the session's 32 triples empty-batch latency
      streamShufflePartitions = Some(8))
    (conf, maxMs, sentinel)
  }

  /** Shared harness of the event-stream gates (q54/q68): the events
    * table symlinked into a parquet spool and read as a stream on a
    * `Pipelines.streamingSession` clone with 8 state shards (sized to
    * ~user cardinality, see Pipelines.sessionFor). `query`'s output goes
    * to a parquet sink in two AvailableNow runs on ONE checkpoint, each
    * after a sentinel event (user -1) lands one, then two days past the
    * last event: the second run's watermark flushes the first run's
    * state. Returns the sink table, sentinels included.
    */
  private def eventStreamGate(s: SparkSession, dir: String, prefix: String)(
      query: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    val schema = Tables.eventsFileSchema(s, dir)
    val tmp = tempDir(prefix)
    val spool = Files.createDirectories(tmp.resolve("spool"))
    Files.createSymbolicLink(spool.resolve("events.parquet"), Paths.get(s"$dir/events.parquet"))
    val maxMs = Tables.events(s, dir).agg(max(unix_millis(col("ts")))).head().getLong(0)
    val s2 = graft.ingest.Pipelines.streamingSession(s, "spark.sql.shuffle.partitions" -> "8")
    for (offMs <- Seq(86400000L, 2L * 86400000L)) {
      val part = tmp.resolve(s"sentinel-$offMs")
      Tables.eventSentinel(s, schema, maxMs + offMs).coalesce(1).write.parquet(part.toString)
      val listing = Files.list(part)
      try listing.filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(p => { Files.copy(p, spool.resolve(s"sentinel-$offMs.parquet")); () })
      finally listing.close()
      query(Tables.normalizeEventTs(s2.readStream.schema(schema)
          .option("maxFilesPerTrigger", 100000).parquet(spool.toString)))
        .writeStream.format("parquet")
        .option("path", s"$tmp/tables/sink")
        .option("checkpointLocation", s"$tmp/ckpt/sink")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    s.read.parquet(s"$tmp/tables/sink")
  }

  /** Common output shape of the stage-agg gates (sans sentinels);
    * `keepWindow` adds the window start for the windowed delivery.
    */

  private def stageAggOutput(sink: DataFrame, keepWindow: Boolean = false): DataFrame = {
    import org.apache.spark.sql.Column
    def c(n: String): Column = sink(n)
    val base = Seq(
      c("appId").as("app_id"), c("jobId").as("job_id"),
      c("stageId").cast("long").as("stage_id"),
      round(c("inputBytesReadSkewness"), 6).as("in_skew"),
      c("maxInputBytesRead").as("max_in"),
      round(c("shuffleBytesReadSkewness"), 6).as("sh_skew"),
      c("maxShuffleBytesRead").as("max_sh"),
      unix_millis(c("metricTime")).as("last_ms"))
    val cols = if (keepWindow) base :+ unix_millis(c("windowStart")).as("win_ms") else base
    sink.filter(c("appId") =!= "sentinel").select(cols: _*)
  }

  def q39StatefulStageAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (conf, _, sentinel) = taskMetricSpool(s, dir, "graft-q39")
    sentinel(3600000L)
    graft.ingest.Pipelines.startMetricsStateful(s, conf).awaitTermination()
    sentinel(7200000L)
    graft.ingest.Pipelines.startMetricsStateful(s, conf).awaitTermination()
    stageAggOutput(s.read.parquet(conf.tablePath(
        graft.model.Schemas.StageAggMetricsTable + "_stateful")))
      .orderBy($"app_id", $"job_id", $"stage_id")
  }

  // The transformWithState delivery (Spark 4 arbitrary-state API,
  // RocksDB-backed state + explicit per-stage event-time timers),
  // end-to-end through the same two-run/one-checkpoint harness as q39.
  // Emission semantics are identical to the flatMapGroupsWithState
  // variant, so the oracle is the same batch recompute of the raw
  // fixture — a divergence in timer re-arming, state encoding, or the
  // RocksDB provider breaks the hash.
  def q45TwsStageAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (conf, _, sentinel) = taskMetricSpool(s, dir, "graft-q45")
    sentinel(3600000L)
    graft.ingest.Pipelines.startMetricsTws(s, conf).awaitTermination()
    sentinel(7200000L)
    graft.ingest.Pipelines.startMetricsTws(s, conf).awaitTermination()
    stageAggOutput(s.read.parquet(conf.tablePath(
        graft.model.Schemas.StageAggMetricsTable + "_tws")))
      .orderBy($"app_id", $"job_id", $"stage_id")
  }

  // Leakage-safe deterministic train/val/test split: the split label is
  // a pure function of the SOURCE key, so all docs of a source land in
  // one split (near-dups sharing provenance can't straddle train/test).
  // Aggregated per split+lang to pin both the assignment function and
  // its composition. Row-local scan + one small agg shuffle.
  def q46HashSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Datasplit.hashSplit(
        Tables.documents(s, dir), "source",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy($"split", $"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        sum(TextAnalysis.tokenCount($"text")).as("sum_tokens"))
      .orderBy($"split", $"lang")
  }

  // Token-budget sharding via the distributed two-phase prefix sum
  // (Datasplit.tokenShards — NOT a single-partition global window): docs
  // in doc_id order are cut every 2000 tokens; a doc belongs to the
  // shard where it starts. The oracle computes the same running sum with
  // a plain global window (fine at oracle scale).
  def q47TokenShards(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", TextAnalysis.tokenCount($"text").as("n_tokens"))
    graft.operators.Datasplit.tokenShards(docs, "doc_id", "n_tokens", capacity = 2000L)
      .select($"doc_id", $"n_tokens", $"cum_tokens", $"shard")
      .orderBy($"doc_id")
  }

  // Deterministic stratified corpus mixing: per-lang keep rates (e.g.
  // upweight en, downsample the tail), survival a pure function of
  // (doc_id, lang). Stable under appends/re-runs; the oracle replays the
  // identical md5-threshold rule.
  def q48StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Datasplit.stratifiedSample(
        Tables.documents(s, dir), "doc_id", "lang",
        rates = Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1)
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  // Sessionization: gap-based session windows per user (session_window —
  // the same operator sessionizes a live stream with watermark state
  // eviction). A session merges events whose gap is < 6h; windows are
  // half-open, so a gap of EXACTLY 6h starts a new session — mirrored in
  // the oracle's `>=` gaps-and-islands flag. One shuffle on user_id;
  // session assembly is partition-local.
  def q49Sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(session_window($"ts", "6 hours"), $"user_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_millis($"ts")).as("start_ms"),
        max(unix_millis($"ts")).as("end_ms"),
        countDistinct($"event_type").as("n_types"))
      .select($"user_id", $"n_events", $"start_ms", $"end_ms", $"n_types")
      .orderBy($"user_id", $"start_ms")
  }

  // AS-OF temporal enrichment: every event carries the user's most
  // recent purchase value at-or-before its timestamp (the logs↔metrics
  // correlation pattern as a real join). Union+window formulation: ONE
  // shuffle on user_id, partition-local sort, no range probe — the
  // oracle uses DuckDB's native ASOF LEFT JOIN, so both the match
  // predicate (>=, inclusive) and the carried payload are pinned.
  def q50AsofEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    // right side must be unique per (key, time): collapse same-ms
    // purchases to their max value (both engines, identically)
    val purchases = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id", $"ts")
      .agg(round(max($"value"), 6).as("last_purchase"))
    graft.operators.AsofJoin.asofJoin(
        ev.select($"event_id", $"user_id", $"ts", $"event_type"),
        purchases, Seq("user_id"), "ts", "ts")
      .select($"event_id", $"user_id", unix_millis($"ts").as("ms"),
        $"event_type", $"last_purchase")
      .orderBy($"event_id")
  }

  // The foreachBatch recompute-upsert delivery, end-to-end: same derived
  // stream, but the sink is maintained by idempotent dynamic-partition
  // overwrites per micro-batch (no watermark dependency — the recompute
  // is exact at every batch, so no sentinels are needed). The oracle is
  // the same per-stage aggregation over the source.
  def q42UpsertStageAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (conf, _, _) = taskMetricSpool(s, dir, "graft-q42")
    graft.ingest.Pipelines.startMetricsUpsert(s, conf).awaitTermination()
    stageAggOutput(
        s.read.parquet(conf.tablePath(
          graft.model.Schemas.StageAggMetricsTable + "_upsert"))
          .drop("appIdPart"))
      .orderBy($"app_id", $"job_id", $"stage_id")
  }

  // The event-time windowed append-mode delivery, end-to-end: rows emit
  // only when the watermark closes their window (q39's two-run sentinel
  // scheme advances it), and the output carries the WINDOW START — one
  // stage active across k windows lands k rows (~5 windows per stage at
  // the 7-day width; the derived metrics span 30 days). Window width is
  // the state/output knob and the per-window semantics are identical at
  // any width — the replay harness compresses the whole history into one
  // batch, so live state is (windows × stages) until the sentinel. The
  // oracle buckets the source on floor(ms/604800000).
  def q43WindowedStageAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (base, _, sentinel) = taskMetricSpool(s, dir, "graft-q43")
    val conf = base.copy(stageWindow = "7 days")
    // the LAST window's end can sit up to a full window width past the
    // newest event, so the sentinels must clear windowEnd + watermark —
    // offsets scale with the window width (8/9 days), unlike q39's
    // inactivity-timeout gate where +1h/+2h suffice
    sentinel(8L * 24 * 3600 * 1000)
    graft.ingest.Pipelines.startMetricsWindowed(s, conf).awaitTermination()
    sentinel(9L * 24 * 3600 * 1000)
    graft.ingest.Pipelines.startMetricsWindowed(s, conf).awaitTermination()
    val sink = s.read.parquet(conf.tablePath(
      graft.model.Schemas.StageAggMetricsTable + "_windowed"))
    stageAggOutput(sink, keepWindow = true)
      .orderBy($"app_id", $"job_id", $"stage_id", $"win_ms")
  }

  // B13 calendar branch: span/targetBuckets lands past the fixed 7d rung
  // (orders span 6.6 years) → calendar quarter via date_trunc. The auto
  // choice is recomputed from the data; the oracle pins the rung the
  // ladder provably picks for this span at every SF.
  def q31CalendarHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, dir)
    // o_orderdate is TIMESTAMP_NTZ; session is UTC so the cast is exact
    val mm = orders.agg(
      min(unix_millis($"o_orderdate".cast("timestamp"))),
      max(unix_millis($"o_orderdate".cast("timestamp")))).head()
    val span = Duration.ofSeconds((mm.getLong(1) - mm.getLong(0)) / 1000L)
    orders
      .groupBy(date_format(
        DateHistogram.autoBucket($"o_orderdate", span, 50), "yyyy-MM").as("bucket"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy($"bucket")
  }

  // B13/B14 pipeline aggregations over a date histogram — the
  // dashboard staples layered ON TOP of time buckets: cumulative sum,
  // derivative (delta vs previous bucket), and trailing 3-bucket moving
  // average. The scale story: the data-sized aggregation shuffles
  // normally; the window functions run over the AGGREGATED frame
  // (bucket count ≈ tens of rows regardless of input scale), so the
  // unpartitioned window is bounded by construction.
  def q44PipelineAggs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val h = Tables.events(s, dir)
      .groupBy(date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.orderBy($"day")
    h.select(
        $"day", $"n_events",
        sum($"n_events").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long").as("cum_events"),
        ($"n_events" - lag($"n_events", 1).over(w)).cast("long").as("delta"),
        round(avg($"n_events").over(w.rowsBetween(-2, 0)), 6).as("ma3"))
      .orderBy($"day")
  }

  // Hierarchy rollup — subtotals over region → nation (the idiomatic
  // cube extension of the dashboards' app→job→stage drilldown).
  def q32Rollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(
        round(sum($"l_extendedprice".cast("decimal(18,2)")), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .select(
        coalesce($"r_name", lit("ALL")).as("r_name"),
        coalesce($"n_name", lit("ALL")).as("n_name"),
        $"revenue", $"n_items")
      .orderBy($"r_name", $"n_name")
  }

  // Full cube over the app→job drilldown (completes q32's rollup:
  // every subtotal combination incl. job-only, which rollup omits).
  // grouping_id() disambiguates real NULLs from subtotal rows; Spark
  // and DuckDB bit-order GROUPING() identically (left arg = MSB).
  def q51Cube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(
        concat(lit("app-"), $"user_id" % 3).as("app_id"),
        ($"user_id" % 4).cast("string").as("job_id"),
        floor($"value" * 1000).cast("long").as("in_b"))
      .cube($"app_id", $"job_id")
      .agg(
        sum($"in_b").as("sum_in"),
        max($"in_b").as("max_in"),
        count(lit(1)).as("n_tasks"),
        grouping_id().cast("long").as("gid"))
      .select(
        coalesce($"app_id", lit("ALL")).as("app_id"),
        coalesce($"job_id", lit("ALL")).as("job_id"),
        $"sum_in", $"max_in", $"n_tasks", $"gid")
      .orderBy($"gid", $"app_id", $"job_id")
  }

  // Symmetric int8 embedding quantization: per-vector scale, integer
  // codes, and the reconstruction-error bound — the storage-compression
  // stage of a vector pipeline, verified value-exactly (codes sum +
  // checksum are integer math; the error max is elementwise, no FP
  // accumulation order for the oracle to diverge on).
  def q52QuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val scale = graft.similarity.Quantize.int8Scale($"embedding")
    val withScale = emb.withColumn("__scale", scale)
    val codes = graft.similarity.Quantize.int8Codes($"embedding", $"__scale")
    withScale
      .withColumn("__codes", codes)
      .select(
        $"vec_id",
        size($"embedding").cast("long").as("n_dims"),
        round($"__scale", 6).as("scale"),
        aggregate($"__codes", lit(0L), (acc, x) => acc + x).as("sum_q"),
        aggregate($"__codes", lit(0L), (acc, x) => acc + abs(x)).as("l1_q"),
        round(graft.similarity.Quantize.maxReconError(
          $"embedding", $"__codes", $"__scale") * $"__scale", 6).as("max_err_scaled"))
      .orderBy($"vec_id")
  }

  // B12 inverse: percentile_ranks — the CDF (in percent) of fixed
  // thresholds per group, the other half of OpenSearch's percentile agg
  // pair. Pure integer counts scaled once (exact cross-engine doubles).
  def q53PercentileRanks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def pr(v: Double) = round(
      sum(when($"l_quantity" <= v, 1L).otherwise(0L)) * 100.0 / count(lit(1)), 6)
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(pr(10).as("pr_10"), pr(25).as("pr_25"), pr(40).as("pr_40"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  // Streaming sessionization, end-to-end: the q49 session operator run
  // as a REAL checkpointed stream (parquet spool source → watermarked
  // session_window agg → append parquet sink; sessions merge across
  // batches in the state store and emit when the watermark passes the
  // session end). Two availableNow runs on one checkpoint per the
  // stateful-gate convention; sentinels (user -1) advance the watermark
  // and are filtered from the output. Oracle = q49's gaps-and-islands
  // recompute on the source.
  def q54StreamSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    eventStreamGate(s, dir, "graft-q54") { ev =>
      ev.withWatermark("ts", "1 minute")
        .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_millis(col("ts"))).as("start_ms"),
          max(unix_millis(col("ts"))).as("end_ms"))
        .select(col("user_id"), col("n_events"), col("start_ms"), col("end_ms"))
    }
      .filter($"user_id" >= 0)
      .orderBy($"user_id", $"start_ms")
  }

  // A14 delivery dedup, oracle-gated: the whole events table is
  // delivered TWICE (two spool files — an at-least-once upstream
  // redelivering a batch), streamed through watermark-bounded
  // dropDuplicatesWithinWatermark on the unique event key, and the sink
  // must equal the single-copy source exactly (q25's oracle). Dedup
  // state is evicted once the watermark passes eventTime + delay — at
  // 100 TB the state holds only the watermark-deep tail, not history.
  def q55DedupDelivery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = Tables.eventsFileSchema(s, dir)
    val tmp = tempDir("graft-q55")
    val spool = java.nio.file.Files.createDirectories(tmp.resolve("spool"))
    for (copy <- Seq("a", "b")) // duplicate delivery of the full table
      java.nio.file.Files.createSymbolicLink(
        spool.resolve(s"events-$copy.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
    val s2 = graft.ingest.Pipelines.streamingSession(s, "spark.sql.shuffle.partitions" -> "8")
    val raw = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", 100000).parquet(spool.toString)
    Tables.normalizeEventTs(raw)
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("parquet")
      .option("path", s"$tmp/tables/deduped")
      .option("checkpointLocation", s"$tmp/ckpt/deduped")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    s.read.parquet(s"$tmp/tables/deduped")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        max($"value").as("max_value"))
      .orderBy($"event_type")
  }

  // Range (point-in-interval) join via bin bucketing: campaign windows
  // (2h after every purchase by a user_id%10 cohort) gather ALL events
  // falling inside them — no key equality, pure containment. The bin
  // width equals the interval length, so each interval explodes to ≤2
  // bin rows and the join is an ordinary equi hash join; the oracle is
  // DuckDB's native inequality join (IEJoin). Integer value sums keep
  // the compare exact.
  def q56RangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_id", unix_millis($"ts").as("ms"), $"user_id", $"value")
    val iv = Tables.events(s, dir)
      .filter($"event_type" === "purchase" && $"user_id" % 10 === 0)
      .select($"event_id".as("iv_id"), unix_millis($"ts").as("s_ms"),
        (unix_millis($"ts") + lit(7200000L)).as("e_ms"))
    graft.operators.RangeJoin.pointInInterval(
        ev, iv, "ms", "s_ms", "e_ms", binWidthMs = 7200000L)
      .groupBy($"iv_id")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        sum(floor($"value" * 1000).cast("long")).as("sum_val_m"))
      .orderBy($"iv_id")
  }

  // Token-weighted corpus sampling (A-ES reservoir): draw 25 documents
  // with inclusion odds ∝ token count — the "sample text mass, not doc
  // count" primitive corpus mixing needs. Selection is a pure function
  // of (doc_id, weight), so DuckDB replays the identical u^(1/w) draw;
  // output re-sorted by doc_id so only SELECTION is compared (the key
  // itself stays internal).
  def q57WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
      .select($"doc_id", $"lang", TextAnalysis.tokenCount($"text").as("n_tokens"))
    graft.operators.Datasplit.weightedSample(docs, "doc_id", "n_tokens", k = 25, salt = "ws")
      .orderBy($"doc_id")
  }

  // Streaming LSH index maintenance, end-to-end: the embeddings table
  // arrives in TWO deliveries (vec_id parity) on one checkpoint; each
  // availableNow run appends its rows into the partitioned index layout
  // through the exactly-once file sink. After both deliveries the index
  // holds every vector exactly once and the same Hamming-ball probe as
  // q34 runs against it — the oracle recomputes signatures over the
  // whole table in SQL (srpOracleSql, query vec_id=4), so it proves the
  // incrementally-built index ≡ the batch-built one.
  def q59StreamLshIndex(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val dim = Similarity.dimOf(emb, "embedding")
    val tmp = tempDir("graft-q59")
    val spool = tmp.resolve("spool").toString
    val idx = tmp.resolve("lsh_index").toString
    val ckpt = tmp.resolve("ckpt").toString
    val s2 = graft.ingest.Pipelines.streamingSession(s, "spark.sql.shuffle.partitions" -> "8")
    for (parity <- 0 to 1) {
      emb.filter(col("vec_id") % 2 === parity)
        .write.mode("append").parquet(spool)
      val stream = s2.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 100000).parquet(spool)
      Similarity.appendLshIndexStream(stream, "embedding", idx, ckpt, dim,
        bits = idxBits).awaitTermination()
    }
    Similarity.queryLshIndex(s, idx, "vec_id", "embedding",
      fetchVec(emb, 4L), k = 10, bits = idxBits, maxHamming = idxMaxHamming)
  }

  // Conversion funnel over the event stream: first-touch strict
  // sequence view → click → purchase with a 24h per-step window. The
  // oracle replays the same chained first-qualifying-event aggregation;
  // counts are null-ignoring so drop-outs propagate identically.
  def q60Funnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Funnel.counts(
      Tables.events(s, dir)
        .select($"user_id", unix_millis($"ts").as("ms"), $"event_type"),
      "user_id", "ms", "event_type",
      Seq("view", "click", "purchase"), windowMs = 86400000L)
  }

  // Near-duplicate CLUSTERS: the q18 MinHash pair stream closed under
  // transitivity by alternating large-star/small-star — "keep one per
  // cluster" semantics even where jaccard is not transitive. The oracle
  // runs a recursive CTE over the brute-forced pair set (sound at
  // sf0.01 scale; the engine never materializes the closure that way).
  def q61DedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.neardupPairs(Tables.documents(s, dir), "doc_id", "text",
      shingleK = 3, p = 64, bands = 16, threshold = 0.8)
    graft.operators.ConnectedComponents.labels(pairs, "id_a", "id_b")
      .select($"node".as("doc_id"), $"cluster")
      .orderBy($"doc_id")
  }

  // Train/eval decontamination (the pre-training containment check):
  // docs with doc_id%20==7 act as the held-out eval set; the report
  // flags corpus docs sharing rare word-8-grams with it. The df cap is
  // part of the semantics (both engines apply it), so the gram join is
  // never quadratic on boilerplate grams.
  def q58Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    graft.dedup.Decontaminate.contaminationReport(
        docs.filter($"doc_id" % 20 =!= 7),
        docs.filter($"doc_id" % 20 === 7), "doc_id", "text")
      .select($"corpus_id".as("doc_id"), $"n_eval_docs", $"max_shared", $"total_shared")
      .orderBy($"doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q15_nested_topk" -> q15NestedTopK _,
    "q25_stream_ingest" -> q25StreamIngest _,
    "q28_json_serialize" -> q28JsonSerialize _,
    "q29_knn_join" -> q29KnnJoin _,
    "q30_frame_sample" -> q30FrameSample _,
    "q31_calendar_histogram" -> q31CalendarHistogram _,
    "q32_rollup" -> q32Rollup _,
    "q16_auto_histogram" -> q16AutoHistogram _,
    "q17_exact_dedup" -> q17ExactDedup _,
    "q18_neardup_pairs" -> q18NeardupPairs _,
    "q19_simhash_pairs" -> q19SimhashPairs _,
    "q20_text_stats" -> q20TextStats _,
    "q21_lang_quality" -> q21LangQuality _,
    "q22_cosine_topk" -> q22CosineTopK _,
    "q23_ann_topk" -> q23AnnTopK _,
    "q24_multimodal_meta" -> q24MultimodalMeta _,
    "q34_ann_lsh_index" -> q34AnnLshIndex _,
    "q35_ann_ivf_index" -> q35AnnIvfIndex _,
    "q36_minhash_dedup" -> q36MinhashDedup _,
    "q37_cosine_neardup" -> q37CosineNearDup _,
    "q38_deep_log_ingest" -> q38DeepLogIngest _,
    "q39_stateful_stage_agg" -> q39StatefulStageAgg _,
    "q45_tws_stage_agg" -> q45TwsStageAgg _,
    "q46_hash_split" -> q46HashSplit _,
    "q47_token_shards" -> q47TokenShards _,
    "q48_stratified_sample" -> q48StratifiedSample _,
    "q49_sessionize" -> q49Sessionize _,
    "q50_asof_enrich" -> q50AsofEnrich _,
    "q51_cube" -> q51Cube _,
    "q52_quantize_int8" -> q52QuantizeInt8 _,
    "q53_percentile_ranks" -> q53PercentileRanks _,
    "q54_stream_sessions" -> q54StreamSessions _,
    "q55_dedup_delivery" -> q55DedupDelivery _,
    "q56_range_join" -> q56RangeJoin _,
    "q57_weighted_sample" -> q57WeightedSample _,
    "q58_decontaminate" -> q58Decontaminate _,
    "q59_stream_lsh_index" -> q59StreamLshIndex _,
    "q60_funnel" -> q60Funnel _,
    "q61_dedup_clusters" -> q61DedupClusters _,
    "q62_repetition_filter" -> q62RepetitionFilter _,
    "q63_pii_redact" -> q63PiiRedact _,
    "q64_tfidf_search" -> q64TfidfSearch _,
    "q65_inverted_search" -> q65InvertedSearch _,
    "q66_retention_cohorts" -> q66RetentionCohorts _,
    "q67_anomaly_zscore" -> q67AnomalyZscore _,
    "q68_stream_attribution" -> q68StreamAttribution _,
    "q69_embedding_cohesion" -> q69EmbeddingCohesion _,
    "q71_bloom_semijoin" -> q71BloomSemiJoin _,
    "q41_char_ngram_pairs" -> q41CharNgramPairs _,
    "q42_upsert_stage_agg" -> q42UpsertStageAgg _,
    "q43_windowed_stage_agg" -> q43WindowedStageAgg _,
    "q44_pipeline_aggs" -> q44PipelineAggs _,
  )


  private val annBits = 12
  private val annMaxHamming = 3
  // indexed-ANN parameters: 6 signature bits bound the physical layout
  // at 64 partitions (bucket count should track data size — at test SF
  // more buckets just means more empty files); the hamming-1 probe ball
  // reads 7 of the 64
  private val idxBits = 6
  private val idxMaxHamming = 1
  private val ivfCells = 16
  private val ivfProbe = 3

  /** DuckDB word-3-shingle expression over `text` (mirrors
    * Dedup.shingles: slice-of-3 concat, distinct, clamped at the end).
    */
  /** Batch SCD2 gaps-and-islands — shared by q72 (batch build) and q91
    * (streaming maintenance: the maintained dim must equal this).
    */
  private[queries] val scd2OracleSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) ms, event_type FROM events),
      |l AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) prev FROM e),
      |r AS (SELECT *, sum(CASE WHEN prev IS DISTINCT FROM event_type THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) run FROM l),
      |g AS (SELECT user_id, run, min(event_type) AS value, min(ms) valid_from,
      |        count(*) n_events FROM r GROUP BY 1, 2),
      |v AS (SELECT user_id, value, valid_from,
      |        lead(valid_from) OVER (PARTITION BY user_id ORDER BY run) valid_to, n_events FROM g)
      |SELECT user_id, value, valid_from, valid_to,
      | CAST(n_events AS BIGINT) n_events,
      | CAST(valid_to IS NULL AS BIGINT) is_current
      |FROM v ORDER BY user_id, valid_from, value""".stripMargin

  /** Brute-force 0.8-jaccard pairs closed transitively (recursive CTE)
    * — shared by q61 (cluster labels) and q97 (cluster-keyed split).
    * Requires `shingleSql` and a WITH RECURSIVE context.
    */
  private[queries] val clusterCtes: String =
    """pairs AS (
      | SELECT a.doc_id id_a, b.doc_id id_b
      | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |   / (len(a.sh) + len(b.sh) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.8),
      |ed AS (SELECT id_a a, id_b b FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      | SELECT a AS node, a AS lbl FROM ed
      | UNION
      | SELECT e.b, r.lbl FROM ed e JOIN reach r ON e.a = r.node)""".stripMargin

  private[queries] val shingleSql: String =
    """toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') tk FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct([array_to_string(list_slice(tk, i, i + 2), ' ')
      |                 FOR i IN range(1, greatest(len(tk) - 1, 2))]) sh
      | FROM toks)""".stripMargin

  /** DuckDB mirror of TextAnalysis.langScore for one profile. */
  private def langScoreSql(words: Seq[String]): String =
    words.map(w => s"len(regexp_extract_all(text, '\\b$w\\b'))").mkString(" + ")

  /** q148's oracle: the q21 langId replication feeding a confusion
    * matrix with integer ppm shares per true class.
    */
  private[queries] lazy val q148Sql: String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, words) =>
      s"${langScoreSql(words)} AS s_$lang"
    }.mkString(",\n  ")
    val langs = TextAnalysis.langProfiles.map(_._1)
    val anyVote = langs.map(l => s"s_$l").mkString(" + ") + " > 0"
    val chain = langs.map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n      ")
    s"""WITH scored AS (SELECT lang, text, $scores FROM documents),
       |p AS (SELECT lang,
       |       CASE WHEN NOT ($anyVote) THEN 'und'
       |       $chain
       |       ELSE 'und' END AS lang_id FROM scored),
       |c AS (SELECT lang, lang_id, count(*) AS n FROM p GROUP BY 1, 2),
       |t AS (SELECT *, CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS row_total FROM c)
       |SELECT lang, lang_id, n, row_total,
       | CAST((n * 1000000) // row_total AS BIGINT) AS share_ppm
       |FROM t ORDER BY lang, lang_id""".stripMargin
  }

  private lazy val q21Sql: String = {
    val scores = TextAnalysis.langProfiles.map { case (lang, words) =>
      s"${langScoreSql(words)} AS s_$lang"
    }.mkString(",\n  ")
    val langs = TextAnalysis.langProfiles.map(_._1)
    val anyVote = langs.map(l => s"s_$l").mkString(" + ") + " > 0"
    val chain = langs.map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n      ")
    // qualityScore mirror: identical operation order (see TextAnalysis).
    s"""WITH scored AS (
       | SELECT doc_id, lang, text,
       |  $scores,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_toks,
       |  length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha
       | FROM documents)
       |SELECT doc_id, lang,
       | CASE WHEN NOT ($anyVote) THEN 'und'
       |      $chain
       |      ELSE 'und' END AS lang_id,
       | round(n_alpha / CAST(greatest(length(text), 1) AS DOUBLE) * 0.4
       |     + least(s_en * 5.0 / CAST(greatest(n_toks, 1) AS DOUBLE), 1.0) * 0.3
       |     + least(CAST(greatest(n_toks, 1) AS DOUBLE) / 100.0, 1.0) * 0.3, 6) AS quality
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Oracle for the stage-agg delivery gates: re-derive the task metrics
    * from events exactly as [[taskMetricSpool]] does, aggregate per
    * stage (optionally per 1-minute event-time window), and compute the
    * same max-relative-distance skew with the range-0 guard.
    */
  private def stageAggOracleSql(windowed: Boolean, winMs: Long = 60000L): String = {
    val winCol = if (windowed) s", (ms // $winMs) * $winMs AS win_ms" else ""
    val winKey = if (windowed) ", 4" else ""
    val winOut = if (windowed) ", win_ms" else ""
    s"""WITH t AS (
       | SELECT 'app-' || CAST(user_id % 3 AS VARCHAR) AS app_id,
       |  CAST(user_id % 4 AS VARCHAR) AS job_id,
       |  user_id % 10 AS stage_id,
       |  CAST(floor(value * 1000) AS BIGINT) AS in_b,
       |  event_id % 997 AS sh_b,
       |  epoch_ms(ts) AS ms
       | FROM events),
       |g AS (
       | SELECT app_id, job_id, stage_id$winCol, count(*) n,
       |  sum(in_b) sum_in, min(in_b) min_in, max(in_b) max_in,
       |  sum(sh_b) sum_sh, min(sh_b) min_sh, max(sh_b) max_sh,
       |  max(ms) last_ms
       | FROM t GROUP BY 1, 2, 3$winKey)
       |SELECT app_id, job_id, CAST(stage_id AS BIGINT) AS stage_id,
       | round(greatest(max_in - CAST(sum_in AS DOUBLE) / n, CAST(sum_in AS DOUBLE) / n - min_in)
       |   / (CASE WHEN max_in = min_in THEN 1 ELSE max_in - min_in END), 6) AS in_skew,
       | max_in AS max_in,
       | round(greatest(max_sh - CAST(sum_sh AS DOUBLE) / n, CAST(sum_sh AS DOUBLE) / n - min_sh)
       |   / (CASE WHEN max_sh = min_sh THEN 1 ELSE max_sh - min_sh END), 6) AS sh_skew,
       | max_sh AS max_sh, last_ms$winOut
       |FROM g ORDER BY 1, 2, 3${if (windowed) ", win_ms" else ""}""".stripMargin
  }

  /** SRP-LSH oracle: embed the engine's deterministic hyperplanes as SQL
    * literals so DuckDB recomputes the identical signatures. Shared by
    * the scan-filter form (q23) and the partition-pruned index form
    * (q34) — "sig_bucket IN hammingBall(qsig, r)" is exactly
    * "bit_count(xor(s, qsig)) <= r" over all rows.
    */
  private def srpOracleSql(bits: Int, queryVecId: Int, maxHamming: Int): String = {
    val planes = Similarity.hyperplanes(bits, 64)
      .map(p => "[" + p.map(_.toString).mkString(",") + "]")
    def sigTerms(v: String) = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($v, $p) > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)"
    }.mkString(" + ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |q AS (SELECT v qv FROM e WHERE vec_id = $queryVecId),
       |sig AS (SELECT vec_id, v, ${sigTerms("v")} AS s FROM e),
       |qs AS (SELECT qv, ${sigTerms("qv")} AS qsig FROM q)
       |SELECT vec_id,
       | round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
       |FROM sig, qs
       |WHERE bit_count(xor(s, qsig)) <= $maxHamming
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
  }

  private lazy val q23Sql: String = srpOracleSql(annBits, 1, annMaxHamming)
  private lazy val q34Sql: String = srpOracleSql(idxBits, 2, idxMaxHamming)
  private lazy val q59Sql: String = srpOracleSql(idxBits, 4, idxMaxHamming)

  /** IVF oracle: assign every vector to its argmax-dot cell from the
    * engine's centroid literals (ties → first index, matching
    * array_position), rank cells for the query the same way the engine's
    * driver-side probe does (desc dot, tie → lower cell), keep nProbe.
    */
  private lazy val q35Sql: String = {
    val csLit = "[" + Similarity.ivfCentroids(ivfCells, 64)
      .map(c => "[" + c.map(_.toString).mkString(",") + "]").mkString(",") + "]"
    s"""WITH cs AS (SELECT $csLit AS cs),
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |q AS (SELECT v qv FROM e WHERE vec_id = 3),
       |ad AS (SELECT vec_id, v, [list_dot_product(v, c) FOR c IN cs.cs] dots FROM e, cs),
       |assigned AS (SELECT vec_id, v, list_position(dots, list_max(dots)) - 1 AS cell FROM ad),
       |cd AS (SELECT r.i AS cell, list_dot_product(q.qv, cs.cs[CAST(r.i AS INT) + 1]) d
       |       FROM q, cs, range(0, $ivfCells) r(i)),
       |probes AS (SELECT cell FROM (
       |  SELECT cell, row_number() OVER (ORDER BY d DESC, cell) rk FROM cd) t
       |  WHERE rk <= $ivfProbe)
       |SELECT a.vec_id,
       | round(list_dot_product(a.v, q.qv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
       |FROM assigned a, probes p, q WHERE a.cell = p.cell
       |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q31_calendar_histogram" ->
      """SELECT strftime(date_trunc('quarter', o_orderdate), '%Y-%m') AS bucket,
        | count(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q32_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS r_name, coalesce(n_name, 'ALL') AS n_name,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name) ORDER BY 1, 2""".stripMargin,

    "q29_knn_join" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 5),
        |c AS (SELECT qid, vec_id,
        |  round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) cos
        | FROM e, q),
        |r AS (SELECT qid, vec_id, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) rk FROM c)
        |SELECT qid, vec_id, cos, rk FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    "q30_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, text,
        |  greatest(octet_length(encode(text)) // 3, 1) AS step
        | FROM documents WHERE lang = 'en')
        |SELECT media_id, CAST(i AS BIGINT) AS frame_idx,
        | lower(hex(encode(substring(text, CAST(i * step + 1 AS BIGINT), 16)))) AS frame_hex
        |FROM m, range(0, 3) r(i) ORDER BY media_id, frame_idx""".stripMargin,

    "q28_json_serialize" ->
      """SELECT event_id,
        | to_json(struct_pack(event_id := event_id, user_id := user_id,
        |                     event_type := event_type))::VARCHAR AS payload
        |FROM events ORDER BY event_id LIMIT 1000""".stripMargin,

    "q25_stream_ingest" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users, max(value) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15_nested_topk" ->
      """WITH base AS (
        | SELECT r_name, n_name, s_name, s_acctbal FROM supplier
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey),
        |leaf AS (SELECT r_name, n_name, s_name, max(s_acctbal) m FROM base GROUP BY 1,2,3),
        |l1 AS (SELECT r_name, max(m) m1 FROM leaf GROUP BY 1),
        |r1 AS (SELECT r_name, m1, row_number() OVER (ORDER BY m1 DESC, r_name) rk1 FROM l1),
        |s1 AS (SELECT * FROM r1 WHERE rk1 <= 2),
        |l2 AS (SELECT r_name, n_name, max(m) m2 FROM leaf GROUP BY 1,2),
        |r2 AS (SELECT r_name, n_name, m2, row_number() OVER (PARTITION BY r_name ORDER BY m2 DESC, n_name) rk2 FROM l2),
        |s2 AS (SELECT r2.r_name, r2.n_name, r2.m2, r2.rk2, s1.m1, s1.rk1 FROM r2 JOIN s1 USING (r_name) WHERE rk2 <= 3),
        |l3 AS (SELECT r_name, n_name, s_name, max(m) m3 FROM leaf GROUP BY 1,2,3),
        |r3 AS (SELECT r_name, n_name, s_name, m3, row_number() OVER (PARTITION BY r_name, n_name ORDER BY m3 DESC, s_name) rk3 FROM l3)
        |SELECT s2.r_name, s2.n_name, r3.s_name, s2.m1, s2.m2, r3.m3, s2.rk1, s2.rk2, r3.rk3
        |FROM r3 JOIN s2 ON r3.r_name = s2.r_name AND r3.n_name = s2.n_name
        |WHERE rk3 <= 2 ORDER BY rk1, rk2, rk3""".stripMargin,

    "q16_auto_histogram" ->
      """WITH mm AS (SELECT (epoch_ms(max(ts)) - epoch_ms(min(ts))) // 1000 AS span FROM events),
        |need AS (SELECT greatest(1, span // 100) AS n FROM mm),
        |rung AS (SELECT coalesce(min(v), 604800) AS r
        |         FROM (VALUES (1),(5),(30),(60),(300),(1800),(3600),(10800),(43200),(86400),(604800)) t(v), need
        |         WHERE v >= n)
        |SELECT strftime(epoch_ms((epoch_ms(ts) // (r * 1000)) * (r * 1000)), '%Y-%m-%d %H:%M:%S') AS bucket_start,
        | count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events, rung GROUP BY 1 ORDER BY 1""".stripMargin,

    "q17_exact_dedup" ->
      """SELECT lang, source, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1,2 ORDER BY 1,2""".stripMargin,

    "q18_neardup_pairs" ->
      s"""WITH $shingleSql,
         |pairs AS (
         | SELECT a.doc_id id_a, b.doc_id id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) jac
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(jac, 6) AS jac
         |FROM pairs WHERE jac >= 0.8 ORDER BY 1, 2""".stripMargin,

    "q41_char_ngram_pairs" ->
      """WITH csh AS (SELECT doc_id,
        |  list_distinct([substring(text, i, 5)
        |                 FOR i IN range(1, greatest(length(text) - 3, 2))]) s
        | FROM documents),
        |pairs AS (
        | SELECT a.doc_id id_a, b.doc_id id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |    / (len(a.s) + len(b.s) - CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)) jac
        | FROM csh a JOIN csh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(jac, 6) AS jac
        |FROM pairs WHERE jac >= 0.8 ORDER BY 1, 2""".stripMargin,

    "q19_simhash_pairs" ->
      s"""WITH $shingleSql,
         |tokh AS (SELECT doc_id, CAST(concat('0x', substring(md5(unnest(sh)), 1, 15)) AS BIGINT) hv FROM sh),
         |bits AS (SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) vote
         |         FROM tokh, range(0, 60) r(b) GROUP BY 1, 2),
         |sig AS (SELECT doc_id, sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) s FROM bits GROUP BY 1)
         |SELECT a.doc_id id_a, b.doc_id id_b, CAST(bit_count(xor(a.s, b.s)) AS BIGINT) hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.s, b.s)) <= 10 ORDER BY 1, 2""".stripMargin,

    "q20_text_stats" ->
      """SELECT doc_id,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')) AS n_subwords,
        | length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha,
        | length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
        | length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS n_punct,
        | md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q21_lang_quality" -> q21Sql,

    "q38_deep_log_ingest" ->
      """WITH lv AS (
        | SELECT
        |  CASE event_type WHEN 'click' THEN 'INFO' WHEN 'view' THEN 'DEBUG'
        |       WHEN 'signup' THEN 'TRACE' WHEN 'purchase' THEN 'WARN'
        |       ELSE 'ERROR' END AS level_name,
        |  CASE WHEN event_type = 'error'
        |       THEN (CASE WHEN event_id % 3 = 0 THEN 2 ELSE 1 END)
        |       ELSE 0 END AS cause_depth,
        |  CASE WHEN event_type = 'error' THEN event_id % 500 ELSE NULL END AS err_line,
        |  CAST(user_id % 5 AS VARCHAR) || '.0' AS stage_id
        | FROM events)
        |SELECT level_name, CAST(cause_depth AS BIGINT) AS cause_depth,
        | count(*) AS n_logs, count(DISTINCT stage_id) AS n_stages,
        | max(err_line) AS max_line
        |FROM lv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q44_pipeline_aggs" ->
      """WITH h AS (
        | SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  count(*) AS n_events
        | FROM events GROUP BY 1)
        |SELECT day, n_events,
        | CAST(sum(n_events) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_events,
        | CAST(n_events - lag(n_events) OVER (ORDER BY day) AS BIGINT) AS delta,
        | round(avg(n_events) OVER (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3
        |FROM h ORDER BY day""".stripMargin,

    "q39_stateful_stage_agg" -> stageAggOracleSql(windowed = false),

    "q45_tws_stage_agg" -> stageAggOracleSql(windowed = false),

    "q55_dedup_delivery" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users, max(value) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q53_percentile_ranks" ->
      """SELECT l_returnflag,
        | round(sum(CASE WHEN l_quantity <= 10 THEN 1 ELSE 0 END) * 100.0 / count(*), 6) AS pr_10,
        | round(sum(CASE WHEN l_quantity <= 25 THEN 1 ELSE 0 END) * 100.0 / count(*), 6) AS pr_25,
        | round(sum(CASE WHEN l_quantity <= 40 THEN 1 ELSE 0 END) * 100.0 / count(*), 6) AS pr_40,
        | count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q54_stream_sessions" ->
      """WITH e AS (
        | SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |x AS (
        | SELECT user_id, ms,
        |  CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |    OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 21600000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM e),
        |y AS (
        | SELECT user_id, ms,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid
        | FROM x)
        |SELECT user_id, count(*) AS n_events, min(ms) AS start_ms, max(ms) AS end_ms
        |FROM y GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin,

    "q52_quantize_int8" ->
      """WITH e AS (
        | SELECT vec_id, embedding AS v,
        |  CASE WHEN list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) = 0 THEN 1.0
        |   ELSE 127.0 / list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) END AS s
        | FROM embeddings),
        |q AS (
        | SELECT vec_id, v, s,
        |  [CAST(round(CAST(x AS DOUBLE) * s) AS BIGINT) FOR x IN v] AS c
        | FROM e)
        |SELECT vec_id, CAST(len(v) AS BIGINT) AS n_dims, round(s, 6) AS scale,
        | CAST(list_sum(c) AS BIGINT) AS sum_q,
        | CAST(list_sum([abs(x) FOR x IN c]) AS BIGINT) AS l1_q,
        | round(list_max([abs(CAST(v[i] AS DOUBLE) - c[i] / s)
        |   FOR i IN range(1, len(v) + 1)]) * s, 6) AS max_err_scaled
        |FROM q ORDER BY vec_id""".stripMargin,

    "q51_cube" ->
      """WITH t AS (
        | SELECT 'app-' || CAST(user_id % 3 AS VARCHAR) AS app_id,
        |  CAST(user_id % 4 AS VARCHAR) AS job_id,
        |  CAST(floor(value * 1000) AS BIGINT) AS in_b
        | FROM events)
        |SELECT coalesce(app_id, 'ALL') AS app_id, coalesce(job_id, 'ALL') AS job_id,
        | CAST(sum(in_b) AS BIGINT) AS sum_in, max(in_b) AS max_in, count(*) AS n_tasks,
        | CAST(GROUPING(app_id, job_id) AS BIGINT) AS gid
        |FROM t GROUP BY CUBE (app_id, job_id)
        |ORDER BY gid, app_id, job_id""".stripMargin,

    "q50_asof_enrich" ->
      """WITH p AS (
        | SELECT user_id, ts, round(max(value), 6) AS last_purchase
        | FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS ms, e.event_type, p.last_purchase
        |FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,

    "q56_range_join" ->
      """WITH iv AS (
        | SELECT event_id AS iv_id, epoch_ms(ts) AS s_ms, epoch_ms(ts) + 7200000 AS e_ms
        | FROM events WHERE event_type = 'purchase' AND user_id % 10 = 0),
        |j AS (
        | SELECT iv.iv_id, e.user_id, CAST(floor(e.value * 1000) AS BIGINT) AS val_m
        | FROM events e JOIN iv
        |   ON epoch_ms(e.ts) >= iv.s_ms AND epoch_ms(e.ts) < iv.e_ms)
        |SELECT iv_id, count(*) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(sum(val_m) AS BIGINT) AS sum_val_m
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q60_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |t1 AS (SELECT user_id, min(ms) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        | SELECT t1.user_id, min(e.ms) AS t2
        | FROM t1 LEFT JOIN e ON e.user_id = t1.user_id AND e.event_type = 'click'
        |   AND e.ms > t1.t1 AND e.ms <= t1.t1 + 86400000
        | GROUP BY 1),
        |t3 AS (
        | SELECT t2.user_id, min(e.ms) AS t3
        | FROM t2 LEFT JOIN e ON e.user_id = t2.user_id AND e.event_type = 'purchase'
        |   AND e.ms > t2.t2 AND e.ms <= t2.t2 + 86400000
        | GROUP BY 1)
        |SELECT CAST(count(t1.t1) AS BIGINT) AS n_view,
        | CAST(count(t2.t2) AS BIGINT) AS n_click,
        | CAST(count(t3.t3) AS BIGINT) AS n_purchase
        |FROM t1 JOIN t2 USING (user_id) JOIN t3 USING (user_id)""".stripMargin,

    "q71_bloom_semijoin" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) n_items,
        | CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q69_embedding_cohesion" ->
      """WITH ex AS (
        | SELECT label, i, CAST(floor(e::DOUBLE * 10000000) AS BIGINT) vm
        | FROM (SELECT label, unnest(embedding) e,
        |        generate_subscripts(embedding, 1) i FROM embeddings)),
        |cent AS (SELECT label, i, CAST(sum(vm) AS BIGINT) s FROM ex GROUP BY 1, 2),
        |clist AS (SELECT label, list_transform(list(s ORDER BY i), x -> x::DOUBLE) cs FROM cent GROUP BY 1),
        |n AS (SELECT label, count(*) n_vecs FROM embeddings GROUP BY 1),
        |rc AS (
        | SELECT e.label,
        |  list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)), c.cs) dot,
        |  sqrt(list_dot_product(list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
        |                        list_transform(e.embedding, x -> CAST(x AS DOUBLE)))) nv,
        |  sqrt(list_dot_product(c.cs, c.cs)) nc
        | FROM embeddings e JOIN clist c USING (label)),
        |cm AS (SELECT label,
        |  CAST(floor(CASE WHEN nv = 0 OR nc = 0 THEN 0.0 ELSE dot / (nv * nc) END * 1000000) AS BIGINT) cos_m
        | FROM rc)
        |SELECT cm.label, CAST(n.n_vecs AS BIGINT) n_vecs,
        | round(sum(cos_m)::DOUBLE / n.n_vecs / 1000000.0, 6) cohesion
        |FROM cm JOIN n USING (label) GROUP BY cm.label, n.n_vecs ORDER BY label""".stripMargin,

    "q68_stream_attribution" ->
      """WITH v AS (SELECT user_id, event_id view_id, epoch_ms(ts) v_ms
        |  FROM events WHERE event_type = 'view'),
        |b AS (SELECT user_id, event_id buy_id, epoch_ms(ts) b_ms
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id, view_id, buy_id, v_ms, b_ms
        |FROM v JOIN b ON v.user_id = b.user_id
        |  AND b_ms > v_ms AND b_ms <= v_ms + 3600000
        |ORDER BY view_id, buy_id""".stripMargin,

    "q66_retention_cohorts" ->
      """WITH e AS (SELECT user_id u, epoch_ms(ts) ms FROM events),
        |f AS (SELECT u, min(ms) fm FROM e GROUP BY 1)
        |SELECT fm // 86400000 AS cohort_week,
        | (ms - fm) // 86400000 AS week_offset,
        | CAST(count(DISTINCT e.u) AS BIGINT) n_users
        |FROM e JOIN f USING (u) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q67_anomaly_zscore" ->
      """WITH b AS (
        | SELECT event_id, event_type, CAST(floor(value * 1000) AS BIGINT) val_m FROM events),
        |st AS (
        | SELECT event_type, count(*) n, CAST(sum(val_m) AS BIGINT) s,
        |  CAST(sum(val_m * val_m) AS BIGINT) sq
        | FROM b GROUP BY 1),
        |z AS (
        | SELECT b.event_type, b.event_id, b.val_m,
        |  (b.val_m::DOUBLE - st.s::DOUBLE / st.n::DOUBLE)
        |    / sqrt((st.sq::DOUBLE - st.s::DOUBLE * st.s::DOUBLE / st.n::DOUBLE) / (st.n::DOUBLE - 1.0)) zz
        | FROM b JOIN st USING (event_type))
        |SELECT event_type, event_id, val_m, round(zz, 6) AS z
        |FROM z WHERE abs(zz) > 3.0 ORDER BY event_type, event_id""".stripMargin,

    "q65_inverted_search" ->
      """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') tk FROM documents),
        |f AS (SELECT doc_id,
        |  len(list_filter(tk, x -> x = 'spark')) tf1,
        |  len(list_filter(tk, x -> x = 'dup')) tf2 FROM toks)
        |SELECT doc_id, CAST(tf1 + tf2 AS BIGINT) tf_sum
        |FROM f WHERE tf1 > 0 AND tf2 > 0 ORDER BY doc_id""".stripMargin,

    "q64_tfidf_search" ->
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
        | FROM toks, stats)
        |SELECT doc_id, score FROM scored WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q63_pii_redact" ->
      """WITH planted AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN
        |   text || ' contact u' || doc_id || '@ex-' || (doc_id % 7) || '.org'
        |   || ' call ' || printf('%03d-%03d-%04d', doc_id % 1000, (doc_id * 3) % 1000, doc_id % 10000)
        |   || ' from ' || (doc_id % 223 + 1) || '.' || (doc_id % 256) || '.'
        |   || ((doc_id * 7) % 256) || '.' || (doc_id % 100 + 1)
        |  ELSE text END text2
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) n_email,
        | CAST(len(regexp_extract_all(text2, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) n_phone,
        | CAST(len(regexp_extract_all(text2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) n_ip,
        | regexp_replace(
        |  regexp_replace(
        |   regexp_replace(text2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |  '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') redacted
        |FROM planted ORDER BY doc_id""".stripMargin,

    "q62_repetition_filter" ->
      """WITH toks AS (
        | SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
        |   ELSE string_split_regex(trim(text), '\s+') END tk FROM documents),
        |ex AS (SELECT doc_id, unnest(tk) tok FROM toks),
        |cnt AS (SELECT doc_id, tok, count(*) c FROM ex GROUP BY 1, 2),
        |mx AS (SELECT doc_id, max(c) mc FROM cnt GROUP BY 1),
        |m AS (
        | SELECT t.doc_id, len(tk) n, len(list_distinct(tk)) nd,
        |  [array_to_string(list_slice(tk, i, i + 1), ' ')
        |   FOR i IN range(1, greatest(len(tk), 2))] g2,
        |  [array_to_string(list_slice(tk, i, i + 2), ' ')
        |   FOR i IN range(1, greatest(len(tk) - 1, 2))] g3,
        |  coalesce(mx.mc, 0) mc
        | FROM toks t LEFT JOIN mx USING (doc_id)),
        |f AS (
        | SELECT doc_id, CAST(n AS BIGINT) n_tokens,
        |  CASE WHEN n = 0 THEN 0.0 ELSE round(nd::DOUBLE / n, 6) END uniq_ratio,
        |  CASE WHEN n = 0 THEN 0.0 ELSE round(mc::DOUBLE / n, 6) END top_share,
        |  CASE WHEN n = 0 THEN 0.0 ELSE round(1 - len(list_distinct(g2))::DOUBLE / len(g2), 6) END dup2,
        |  CASE WHEN n = 0 THEN 0.0 ELSE round(1 - len(list_distinct(g3))::DOUBLE / len(g3), 6) END dup3
        | FROM m)
        |SELECT *, (top_share > 0.12 OR dup2 > 0.06 OR uniq_ratio < 0.33) repetitive
        |FROM f ORDER BY doc_id""".stripMargin,

    "q61_dedup_clusters" ->
      s"""WITH RECURSIVE $shingleSql,
         |$clusterCtes
         |SELECT node AS doc_id, min(lbl) AS cluster
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    "q58_decontaminate" ->
      """WITH toks AS (
        | SELECT doc_id, string_split_regex(trim(text), '\s+') tk FROM documents),
        |g AS (
        | SELECT doc_id, list_distinct([array_to_string(list_slice(tk, i, i + 7), ' ')
        |   FOR i IN range(1, greatest(len(tk) - 6, 2))]) gs
        | FROM toks),
        |x AS (SELECT doc_id, unnest(gs) AS gram FROM g),
        |c AS (SELECT * FROM x WHERE doc_id % 20 <> 7),
        |e AS (SELECT * FROM x WHERE doc_id % 20 = 7),
        |rare AS (SELECT gram FROM c GROUP BY gram HAVING count(*) <= 50),
        |j AS (
        | SELECT c.doc_id AS cid, e.doc_id AS eid, count(*) AS shared
        | FROM c JOIN rare USING (gram) JOIN e USING (gram)
        | GROUP BY 1, 2 HAVING count(*) >= 1)
        |SELECT cid AS doc_id, count(*) AS n_eval_docs,
        | CAST(max(shared) AS BIGINT) AS max_shared,
        | CAST(sum(shared) AS BIGINT) AS total_shared
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q57_weighted_sample" ->
      """WITH t AS (
        | SELECT doc_id, lang,
        |  CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || 'ws'), 1, 8)) AS BIGINT)
        |    / 4294967296.0 AS u,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        | FROM documents)
        |SELECT doc_id, lang, n_tokens FROM (
        | SELECT * FROM t WHERE n_tokens > 0
        | ORDER BY pow(u, 1.0 / n_tokens) DESC, doc_id LIMIT 25)
        |ORDER BY doc_id""".stripMargin,

    "q49_sessionize" ->
      """WITH e AS (
        | SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |x AS (
        | SELECT user_id, event_type, ms,
        |  CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
        |    OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) >= 21600000
        |   THEN 1 ELSE 0 END AS new_s
        | FROM e),
        |y AS (
        | SELECT user_id, event_type, ms,
        |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid
        | FROM x)
        |SELECT user_id, count(*) AS n_events, min(ms) AS start_ms, max(ms) AS end_ms,
        | CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        |FROM y GROUP BY user_id, sid ORDER BY user_id, start_ms""".stripMargin,

    "q46_hash_split" ->
      """WITH d AS (
        | SELECT *, CAST(concat('0x', substring(md5(source), 1, 8)) AS BIGINT)
        |   / 4294967296.0 AS u
        | FROM documents),
        |s AS (
        | SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
        |   ELSE 'test' END AS split, lang, source, text FROM d)
        |SELECT split, lang, count(*) AS n_docs,
        | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        | CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE len(string_split_regex(trim(text), '\s+')) END) AS BIGINT) AS sum_tokens
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q47_token_shards" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        | FROM documents)
        |SELECT doc_id, n_tokens,
        | CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        | CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)
        |   // 2000 AS BIGINT) AS shard
        |FROM t ORDER BY doc_id""".stripMargin,

    "q48_stratified_sample" ->
      """SELECT doc_id, lang, source FROM (
        | SELECT *, CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |   / 4294967296.0 AS u FROM documents)
        |WHERE u < (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'de' THEN 0.25 ELSE 0.1 END)
        |ORDER BY doc_id""".stripMargin,

    "q42_upsert_stage_agg" -> stageAggOracleSql(windowed = false),

    "q43_windowed_stage_agg" -> stageAggOracleSql(windowed = true, winMs = 604800000L),

    "q34_ann_lsh_index" -> q34Sql,

    "q35_ann_ivf_index" -> q35Sql,

    "q59_stream_lsh_index" -> q59Sql,

    "q36_minhash_dedup" ->
      s"""WITH $shingleSql,
         |drops AS (
         | SELECT DISTINCT b.doc_id AS id_b
         | FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |   / (len(a.sh) + len(b.sh) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)) >= 0.8)
         |SELECT d.doc_id, d.lang, d.source FROM documents d
         |WHERE d.doc_id NOT IN (SELECT id_b FROM drops)
         |ORDER BY d.doc_id""".stripMargin,

    "q37_cosine_neardup" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |planted AS (
        | SELECT vec_id + 1000000 AS vec_id,
        |  [v[i] * 0.95::DOUBLE + v[len(v) + 1 - i] * 0.05::DOUBLE
        |   FOR i IN range(1, len(v) + 1)] AS v
        | FROM e WHERE vec_id < 10),
        |allv AS (SELECT * FROM e UNION ALL SELECT * FROM planted),
        |pairs AS (
        | SELECT a.vec_id id_a, b.vec_id id_b,
        |  list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) cos
        | FROM allv a JOIN allv b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cos, 6) AS cos
        |FROM pairs WHERE cos >= 0.8 ORDER BY 1, 2""".stripMargin,

    "q22_cosine_topk" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
        |q AS (SELECT v qv FROM e WHERE vec_id = 0)
        |SELECT vec_id,
        | round(list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cos
        |FROM e, q ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "q23_ann_topk" -> q23Sql,

    "q24_multimodal_meta" ->
      """SELECT doc_id AS media_id, 'image' AS modality,
        | octet_length(encode(text)) AS n_bytes,
        | CAST(160 + (octet_length(encode(text)) * 40503) % 1920 AS BIGINT) AS width,
        | CAST(120 + (octet_length(encode(text)) * 2654435761) % 1080 AS BIGINT) AS height,
        | CAST(3 AS BIGINT) AS channels,
        | md5(text) AS digest
        |FROM documents ORDER BY 1""".stripMargin,
  )
}
