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

/** Analytics / insight query pack (split from PipelineQueries round
  * 10 — pure move-refactor, oracle hashes unchanged): BI metrics
  * (cohorts, churn, concentration, SLA), time-series diagnostics,
  * search-shaped aggs, format roundtrips, typed/SQL interfaces,
  * MMR/filtered ANN rerankers, and the pipeline-YAML routing gate
  * (q281). Shared helpers remain in [[PipelineQueries]].
  */
object InsightQueries {

  // Phrase mining: top bigram collocations by exact integer PMI lift
  // (DECIMAL(38,0) ≡ DuckDB HUGEINT — no log(), no doubles). The
  // oracle recounts unigrams/bigrams and replays the ppm division.
  def q131Collocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.text.Collocations.pmiBigrams(
      Tables.documents(s, dir), "text", minCount = 5L, k = 50)
  }

  // Tokenizer vocab of the top-30 tokens (GlobalRank ids — no
  // single-partition window) + per-doc OOV audit; id_sum pins the id
  // ASSIGNMENT, not just vocabulary membership.
  def q132VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val vocab = graft.text.Vocab.build(docs, "text", vocabSize = 30)
    graft.text.Vocab.coverage(docs, vocab, "text", "doc_id")
      .orderBy($"doc_id")
  }

  // Quantile-normalize the event metric per type onto the global
  // distribution (exact integer rank mapping), then per-type summary.
  // The oracle replays both row_number ladders and the position join.
  def q133QuantileNorm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select($"event_type".as("typ"),
      floor($"value" * 1000).cast("long").as("vm"), $"event_id")
    graft.operators.QuantileNorm.normalize(e, "typ", "vm", "event_id")
      .groupBy($"typ")
      .agg(count(lit(1)).as("n"), sum($"norm").as("sum_norm"),
        min($"norm").as("min_norm"), max($"norm").as("max_norm"))
      .orderBy($"typ")
  }

  // Deterministic integer Welch A/B readout per event type (arm =
  // user-id parity): one conditional-sum hash-agg; variances in
  // DECIMAL(38,0) ≡ HUGEINT; the 2σ gate is exact integer arithmetic
  // both engines replay bit-identically — no float, no order drift.
  def q134AbTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir).select($"event_type".as("typ"),
      floor($"value" * 1000).cast("long").as("vm"),
      ($"user_id" % 2 === 1).as("arm_b"))
    graft.operators.AbTest.welchGate(e, "typ", "arm_b", "vm").orderBy($"typ")
  }

  // k-core (k=80) of the co-purchase graph: monotone peeling to a
  // fixpoint (degree agg + two id joins per round, lineage truncated).
  // The oracle unrolls 10 peeling rounds — rounds past the fixpoint
  // are no-ops, which is what makes a non-recursive replay sound.
  // Nonempty core at sf0.01, empty at sf0.001 — both gated.
  def q135KCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val edges = graft.operators.Edges.coOccurrence(li, "l_orderkey", "l_partkey",
      graft.operators.Edges.orderGroupCap)
      .select($"a".as("src"), $"b".as("dst"))
    graft.operators.KCore.core(edges, "src", "dst", k = 80).orderBy($"node")
  }

  // Missing-run detection over the delivered-order id sequence
  // (present = totalprice not ≡ 0 mod 5): GlobalRank + rank(r)↔(r+1)
  // equi-join — never a single-partition lead() window (that's the
  // oracle's job).
  def q136SequenceGaps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val present = Tables.orders(s, dir)
      .filter(expr("CAST(floor(o_totalprice) AS BIGINT) % 5 != 0"))
      .select($"o_orderkey")
    graft.operators.SequenceGaps.gaps(present, "o_orderkey")
      .orderBy($"gap_start")
  }

  // Referential-integrity audit over 5 declared relationships, one of
  // them a conformance rule with real violations (orders must point at
  // ACTIVE customers — negative balances orphan ~8% of orders). One
  // left join + conditional count per rule.
  def q137IntegrityAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Integrity.RefRule
    val cust = Tables.customer(s, dir)
    graft.operators.Integrity.audit(Seq(
      RefRule("lineitem.orderkey->orders", Tables.lineitem(s, dir),
        "l_orderkey", Tables.orders(s, dir), "o_orderkey"),
      RefRule("lineitem.suppkey->supplier", Tables.lineitem(s, dir),
        "l_suppkey", Tables.supplier(s, dir), "s_suppkey"),
      RefRule("orders.custkey->customer", Tables.orders(s, dir),
        "o_custkey", cust, "c_custkey"),
      RefRule("orders.custkey->active_customer", Tables.orders(s, dir),
        "o_custkey", cust.filter($"c_acctbal" >= 0), "c_custkey"),
      RefRule("events.user_id->customer", Tables.events(s, dir),
        "user_id", cust, "c_custkey")))
  }

  /** q135's oracle: `rounds` unrolled peel rounds — sound because
    * peeling is monotone and idempotent past its fixpoint (verified ≤6
    * rounds at both gated SFs; 10 leaves margin).
    */

  private def kcoreOracle(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH e0 AS MATERIALIZED (
        | SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
        | FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)""".stripMargin)
    for (i <- 0 until rounds) {
      sb.append(s""",
        |d${i + 1} AS MATERIALIZED (SELECT node, count(*) deg FROM
        |  (SELECT src AS node FROM e$i UNION ALL SELECT dst FROM e$i) GROUP BY 1),
        |e${i + 1} AS MATERIALIZED (SELECT e$i.src, e$i.dst FROM e$i
        |  JOIN d${i + 1} a ON e$i.src = a.node
        |  JOIN d${i + 1} b ON e$i.dst = b.node
        |  WHERE a.deg >= $k AND b.deg >= $k)""".stripMargin)
    }
    sb.append(s"""
      |SELECT node, CAST(count(*) AS BIGINT) AS core_deg FROM
      | (SELECT src AS node FROM e$rounds UNION ALL SELECT dst FROM e$rounds)
      |GROUP BY 1 ORDER BY node""".stripMargin)
    sb.toString
  }

  // Trending event types under a 7-day half-life: dyadic step decay in
  // exact 2^-16 integer units (one map-combinable hash-agg; no float
  // sum → summation-order-independent, hash-exact oracle). Value
  // stream integerized to cents with floor (round() ties differ across
  // engines; floor doesn't).
  def q138DecayedTrends(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val ref = ev.agg(max(to_date($"ts")).as("__ref"))
    val base = ev.crossJoin(broadcast(ref))
      .select($"event_type",
        datediff($"__ref", to_date($"ts")).as("age"),
        floor($"value" * 100).cast("long").as("vc"))
    graft.operators.Decay.decayedCounts(base, "event_type", "age", "vc",
        halfLife = 7L, maxK = 16)
      .orderBy($"event_type")
  }

  // lang × source contingency audit: exact cell/marginal counts, with
  // expected-under-independence and lift derived per cell by a fixed
  // two-op float expression (no cross-cell float sum — a summed chi²
  // would depend on summation order). Marginal windows run on the
  // cell frame (r×c rows), never on the documents.
  def q139LangSourceIndependence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Independence.crosstab(
        Tables.documents(s, dir), "lang", "source")
      .orderBy($"lang", $"source")
  }

  // Benford leading-digit audit of order totals: exact integer ppm
  // math against hard-coded log10(1+1/d) ppm literals (libm log()
  // differs in the last ulp across engines; literals don't).
  def q140BenfordAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Benford.firstDigit(Tables.orders(s, dir), "o_totalprice")
      .orderBy($"digit")
  }

  // Asymmetric containment near-dup pairs on the q75 word-3-shingle
  // sets: |A∩B| ≥ 0.8·min(|A|,|B|) — catches excerpt/quote containment
  // that Jaccard misses (C ≥ J always, so this is a superset of q75's
  // pairs at the same threshold). Prefix-probe against a full inverted
  // index keeps the exact form subquadratic; the oracle brute-forces.
  def q141ContainmentPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // hash-element sets for the same reason as q75 (q157 convention)
    val sets = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism) // spread shingle work
      .select($"doc_id", graft.plans.GraftFunctions.wordShingleHashes($"text", 3).as("sh"))
    graft.dedup.SetSimJoin.containmentJoin(sets, "doc_id", "sh",
        tNum = 8, tDen = 10)
      .orderBy($"id_a", $"id_b")
  }

  // Blast radius: min hop distance within 2 undirected hops of seed
  // parts (p_partkey ≤ 5) over the co-purchase graph — frontier-join
  // BFS whose fixed hop budget the oracle unrolls as two CTE rounds
  // (same unroll-soundness argument as q135's peeling).
  def q142KhopReach(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir).select($"l_orderkey", $"l_partkey")
    val edges = graft.operators.Edges.coOccurrence(li, "l_orderkey", "l_partkey",
      graft.operators.Edges.orderGroupCap)
      .select($"a".as("src"), $"b".as("dst"))
    val seeds = Tables.part(s, dir).filter($"p_partkey" <= 5)
    graft.operators.Bfs.hops(edges, "src", "dst", seeds, "p_partkey",
        maxHops = 2,
        distinctCanonicalEdges = true) // coOccurrence emits distinct a<b
      .orderBy($"node")
  }

  // Peak concurrent 5-minute sessions per epoch day: sweep-line as
  // relational algebra — ±1 minute deltas pre-aggregated (map-side) to
  // ≤1440 rows/day, running-sum window only on that bounded frame. All
  // integer minute indexes; DuckDB replays the identical windows.
  def q143PeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val iv = Tables.events(s, dir)
      .select(unix_millis($"ts").as("sms"),
        (unix_millis($"ts") + 300000L).as("ems"))
    graft.operators.Concurrency.dailyPeak(iv, "sms", "ems")
      .orderBy($"day")
  }

  // Top 20 opening 3-event paths per user-day: one entity-day hash-agg
  // builds the ordered prefix row-locally (sorted-struct collect, never
  // a raw-row window); the path count frame is ≤|types|³.
  def q144TopPaths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", expr("unix_millis(ts) div 86400000L").as("day"),
        unix_millis($"ts").as("ms"), $"event_id", $"event_type")
    graft.operators.SessionPaths.topPaths(ev, "user_id", "day",
      "ms", "event_id", "event_type", k = 3, topK = 20)
  }

  // Floored running balance per customer (credits floored at zero):
  // order totals as deposits, every third order key a withdrawal. The
  // sequential-looking clamp recurrence runs as two key-partitioned
  // prefix windows via b_i = cum_i − min(0, runmin_i).
  def q145FlooredBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.orders(s, dir)
      .select($"o_custkey".as("custkey"), $"o_orderdate", $"o_orderkey",
        (floor($"o_totalprice" * 100).cast("long") *
          when($"o_orderkey" % 3 === 0, -1L).otherwise(1L)).as("delta"))
    graft.operators.RunningBalance.floored(d, "custkey",
        Seq("o_orderdate", "o_orderkey"), "delta")
      .orderBy($"custkey")
  }

  // Gini concentration of document length per language — "how unequal
  // is the char mass across docs". Exact integer rank form (decimal
  // intermediates, q134 convention), one group sort + one hash-agg.
  def q146GiniConcentration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Gini.concentration(
        Tables.documents(s, dir).select($"lang", $"n_chars", $"doc_id"),
        "lang", "n_chars", "doc_id")
      .orderBy($"lang")
  }

  // Embedding-column quality gate per label: dimensionality, finite-
  // ness, and integerized-squared-norm degeneracy checks, one scan.
  def q147EmbeddingAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.similarity.EmbeddingAudit.audit(
        Tables.embeddings(s, dir).withColumn("label", $"label".cast("long")),
        "label", "embedding", expectedDim = 64, minSqNorm = 100000L)
      .orderBy($"label")
  }

  // Language-ID confusion matrix: predicted langId vs labeled lang,
  // with exact integer per-true-class ppm shares. One scan + one cell
  // hash-agg; the row-total window runs on the |langs|² cell frame.
  def q148LangConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables.documents(s, dir)
      .select($"lang", graft.text.TextAnalysis.langId($"text").as("lang_id"))
      .groupBy($"lang", $"lang_id").agg(count(lit(1)).as("n"))
    val byTrue = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
    cells.withColumn("row_total", sum($"n").over(byTrue))
      .withColumn("share_ppm", expr("(n * 1000000L) div row_total"))
      .orderBy($"lang", $"lang_id")
  }

  // Lag-1/lag-7 autocorrelation of daily per-type event value: exact
  // BIGINT sufficient stats over the lag self-join of the AGGREGATED
  // series; only the final Pearson r is float (IEEE sqrt reproduces).
  def q149Autocorrelation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, dir)
      .groupBy($"event_type",
        expr("unix_millis(ts) div 86400000L").as("day"))
      // whole-unit (not milli) quantization keeps n·Σx² inside int64
      // at bench scale — the Correlate caller-scaling convention
      .agg(sum(floor($"value").cast("long")).as("vm"))
    graft.operators.Autocorr.lagK(daily, "event_type", "day", "vm",
        lags = Seq(1L, 7L))
      .orderBy($"event_type", $"lag")
  }

  // Cohort LTV curves: users cohorted by first event day; per age the
  // active count, value collected (cents), and running cohort total.
  def q150CohortValue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", expr("unix_millis(ts) div 86400000L").as("day"),
        floor($"value" * 100).cast("long").as("vc"))
    graft.operators.CohortValue.curves(ev, "user_id", "day", "vc")
      .orderBy($"cohort_day", $"age")
  }

  // Revenue concentration per nation: HHI + CR-4 of customer order
  // totals in exact truncating ppm — the dominance audit next to
  // q146's Gini. Holder totals pre-aggregate; windows on the holder
  // frame only.
  def q151RevenueConcentration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        $"o_custkey" === $"c_custkey")
      .select($"c_nationkey".as("nationkey"), $"o_custkey".as("custkey"),
        floor($"o_totalprice" * 100).cast("long").as("cents"))
    graft.operators.Concentration.hhi(rev, "nationkey", "custkey",
        "cents", k = 4)
      .orderBy($"nationkey")
  }

  // Hierarchical share-of-parent: nation revenue as ppm of its region,
  // region as ppm of the grand total — percent-of-parent at every
  // drill level. Fact side shuffles once on the customer key; nation/
  // region broadcast; all windows on the 25-row nation frame. (ppm
  // numerators bound totals to ~9e12 value-units per int64 — cents at
  // planetary revenue want a coarser unit, the q126 convention.)
  def q152ShareOfParent(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(sum(floor($"o_totalprice" * 100).cast("long")).as("cents"))
    val byRegion = org.apache.spark.sql.expressions.Window.partitionBy($"r_name")
    val overall = org.apache.spark.sql.expressions.Window.partitionBy()
    rev
      .withColumn("region_cents", sum($"cents").over(byRegion))
      .withColumn("total_cents", sum($"cents").over(overall))
      .withColumn("nation_share_ppm", expr("(cents * 1000000L) div region_cents"))
      .withColumn("region_share_ppm", expr("(region_cents * 1000000L) div total_cents"))
      .orderBy($"r_name", $"n_name")
  }

  // New-vs-returning daily split: one user-keyed min-agg + join back
  // (co-partitioned), then a day agg with a conditional distinct.
  def q153NewVsReturning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"user_id", expr("unix_millis(ts) div 86400000L").as("day"))
    val first = e.groupBy($"user_id").agg(min($"day").as("fd"))
    e.join(first, "user_id")
      .groupBy($"day")
      .agg(countDistinct($"user_id").as("n_users"),
        countDistinct(when($"day" === $"fd", $"user_id")).as("n_new"))
      .withColumn("n_returning", $"n_users" - $"n_new")
      .orderBy($"day")
  }

  // Recency/churn buckets: last-activity distance from the corpus max
  // day, CASE-bucketed — one user max-agg, broadcast reference, tiny
  // bucket agg.
  def q154RecencyChurn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"user_id", expr("unix_millis(ts) div 86400000L").as("day"))
    val last = e.groupBy($"user_id").agg(max($"day").as("ld"))
    val ref = e.agg(max($"day").as("__ref"))
    last.crossJoin(broadcast(ref))
      .withColumn("rec", $"__ref" - $"ld")
      .withColumn("bucket_id",
        when($"rec" < 7, 0L).when($"rec" < 14, 1L)
          .when($"rec" < 30, 2L).otherwise(3L))
      .withColumn("bucket",
        when($"rec" < 7, "active").when($"rec" < 14, "cooling")
          .when($"rec" < 30, "at_risk").otherwise("churned"))
      .groupBy($"bucket_id", $"bucket")
      .agg(count(lit(1)).as("n_users"),
        min($"rec").as("min_recency"), max($"rec").as("max_recency"))
      .orderBy($"bucket_id")
  }

  // Ship-SLA attainment per order priority: order→ship lag in days
  // (date arithmetic, never epoch millis on NTZ dates), exact ppm.
  def q155SlaAttainment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val j = Tables.lineitem(s, dir).select($"l_orderkey", $"l_shipdate")
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_orderdate",
        $"o_orderpriority"), $"l_orderkey" === $"o_orderkey")
      .select($"o_orderpriority".as("priority"),
        datediff($"l_shipdate", $"o_orderdate").cast("long").as("d"))
    j.groupBy($"priority")
      .agg(count(lit(1)).as("n_lines"),
        sum(when($"d" <= 7, 1L).otherwise(0L)).as("n_within_7d"),
        max($"d").as("max_delay_days"))
      .withColumn("attain_ppm", expr("(n_within_7d * 1000000L) div n_lines"))
      .orderBy($"priority")
  }

  // Pareto point per nation: how many top customers carry 80% of
  // revenue — exact integer threshold on holder-frame running mass.
  def q156ParetoK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = Tables.orders(s, dir)
      .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
      .select($"c_nationkey".as("nationkey"), $"o_custkey".as("custkey"),
        floor($"o_totalprice" * 100).cast("long").as("cents"))
    graft.operators.Concentration.paretoK(rev, "nationkey", "custkey",
        "cents", tNum = 8, tDen = 10)
      .orderBy($"nationkey")
  }

  // Corpus novelty per ingestion batch (50 docs each, doc_id order):
  // the fraction of a batch's distinct word 3-shingles whose corpus-
  // wide FIRST occurrence is that batch — the "are we still finding
  // new text" curve. First-occurrence-by-min keeps the cumulative
  // semantics order-free: one gram-keyed shuffle, no stateful scan.
  def q157NgramNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // codegen'd one-pass shingle hashing (the q18 lesson: the
    // interpreted HOF shingle build was the whole query's cost — 3.6 s
    // vs 0.4 s at sf0.1). Distinct-on-hash ≡ distinct-on-string absent
    // xxhash64 collisions (~n²/2⁶⁵: ~2e-9 at the bench corpus), the
    // same contract q18's banded candidates rest on; the exchange
    // carries 8-byte longs instead of shingle strings.
    val d = Tables.documents(s, dir)
      .select(expr("doc_id div 50").as("batch"),
        graft.plans.GraftFunctions.wordShingleHashes($"text", 3).as("sh"))
    graft.operators.Novelty.ngramNovelty(d, "batch", $"sh")
      .orderBy($"batch")
  }

  // Join-key health audit over the keys the pipeline's joins depend
  // on: null ppm, duplicate ppm, worst multiplicity — each audit is
  // the key-partitioned count the real join would shuffle anyway.
  def q158KeyHealth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.KeyHealth.KeySpec
    graft.operators.KeyHealth.keyHealth(s, Seq(
        KeySpec(Tables.customer(s, dir), "customer", "c_custkey"),
        KeySpec(Tables.orders(s, dir), "orders", "o_custkey"),
        KeySpec(Tables.lineitem(s, dir), "lineitem", "l_orderkey"),
        KeySpec(Tables.lineitem(s, dir), "lineitem", "l_partkey"),
        KeySpec(Tables.events(s, dir), "events", "user_id")))
      .orderBy($"table_name", $"key_name")
  }

  // Join-fanout explosion detector on the events self-join key: the
  // 20 user_ids whose n² pair count would dominate a sessionization
  // self-join — counts shuffle, rows never do.
  def q159JoinFanout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
    graft.operators.KeyHealth.joinFanout(e, "user_id", e, "user_id", 20)
      .orderBy($"fanout".desc, $"key")
  }

  // Near-time duplicate rate per event type: same (user, type) within
  // one hour = delivery replay / client retry. One shuffle on the
  // entity-type composite; the lag frame is per-entity, never global.
  def q160EventDedupWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.WindowDedup.dupStats(
        Tables.events(s, dir)
          .select($"user_id", $"event_type", unix_millis($"ts").as("ms"),
            $"event_id"),
        entityCol = "user_id", typeCol = "event_type", tsMsCol = "ms",
        tieCol = "event_id", windowMs = 3600000L)
      .orderBy($"event_type")
  }

  // Keyset ("search_after") pagination — the deep-page shape that
  // stays O(page) at any offset: the cursor row (rank 100 in the
  // (ms, event_id) DESC sort) is a 1-row broadcast; the page is a
  // keyset-predicate filter + TakeOrdered(50). An OFFSET plan would
  // sort/skip the whole prefix on one node; this never materializes
  // more than topK rows per partition.
  def q161SearchAfter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", unix_millis($"ts").as("ms"))
    val cursor = e.orderBy($"ms".desc, $"event_id".desc).limit(100)
      .orderBy($"ms".asc, $"event_id".asc).limit(1)
      .select($"ms".as("cms"), $"event_id".as("cid"))
    e.crossJoin(broadcast(cursor))
      .filter($"ms" < $"cms" || ($"ms" === $"cms" && $"event_id" < $"cid"))
      .select($"event_id", $"user_id", $"event_type", $"ms")
      .orderBy($"ms".desc, $"event_id".desc)
      .limit(50)
  }

  // Trailing 7-day exact p95 of event value per day — the dashboard
  // latency line, rank-exact (no interpolation). ×7 bounded
  // replication against a broadcast day spine; sketch path = q88.
  def q162RollingP95(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
      .select(expr("unix_millis(ts) div 86400000L").as("day"),
        floor($"value" * 100).cast("long").as("cents"), $"event_id")
    graft.operators.RollingPercentile.trailingExact(e, "day", "cents",
        "event_id", window = 7, pNum = 95)
      .orderBy($"day")
  }

  // Signup→purchase conversion-lag histogram: per user the first
  // signup and first subsequent purchase — two user-keyed min-aggs
  // that co-partition, then a tiny day-bucket rollup.
  def q163TimeToConvert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", $"event_type", unix_millis($"ts").as("ms"))
    val su = ev.filter($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ms").as("sms"))
    val conv = ev.filter($"event_type" === "purchase")
      .join(su, "user_id").filter($"ms" >= $"sms")
      .groupBy($"user_id").agg(min($"ms").as("pms"), min($"sms").as("s0"))
    conv.select(expr("(pms - s0) div 86400000L").as("days_to_convert"))
      .groupBy($"days_to_convert").agg(count(lit(1)).as("n_users"))
      .orderBy($"days_to_convert")
  }

  // Cross-source corpus overlap: pairwise shingle-set jaccard between
  // sources — contamination/redundancy structure. Hashed grams (the
  // q157 contract); the only quadratic object is the per-gram source
  // set, bounded by |sources|².
  def q164SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.documents(s, dir)
      .select($"source",
        graft.plans.GraftFunctions.wordShingleHashes($"text", 3).as("sh"))
    graft.operators.SetOverlap.pairwise(d, "source", $"sh")
      .orderBy($"source_a", $"source_b")
  }

  // Free audit metrics via the Observation API: the ingest write runs
  // ONCE, and row counts / null rates / value totals / day bounds ride
  // the same pass as named observe() metrics (Spark's
  // CollectMetricsExec) — zero additional scans, the mechanism a
  // write-audit-publish gate should use instead of re-reading its own
  // sink (contrast q92, which audits by querying the published table).
  // The metric values ARE the query result; the oracle recomputes them
  // from the source, so a metric dropped or double-counted by the
  // piggyback path breaks the hash match.
  def q230ObservedIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation("q230_metrics")
    val tmp = PipelineQueries.tempDir("graft-q230")
    Tables.events(s, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when($"user_id".isNull, 1L).otherwise(0L)).as("null_users"),
        coalesce(sum(floor($"value" * 100).cast("long")), lit(0L)).as("sum_cents"),
        min(expr("unix_millis(ts) div 86400000")).as("min_day"),
        max(expr("unix_millis(ts) div 86400000")).as("max_day"))
      .write.mode("overwrite").parquet(s"$tmp/tables/events_copy")
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("null_users").asInstanceOf[Long],
      m("sum_cents").asInstanceOf[Long], m("min_day").asInstanceOf[Long],
      m("max_day").asInstanceOf[Long]))
      .toDF("n_rows", "null_users", "sum_cents", "min_day", "max_day")
  }

  // Stream-STATIC broadcast enrichment (the third join mode next to
  // q68's stream-stream and the batch q11): the events stream joins
  // the static customer dimension per micro-batch with a broadcast
  // hash join — no stream state, no watermark, the dimension is simply
  // re-read/broadcast each trigger, which is exactly the 100 TB shape
  // for fact-stream × small-dim enrichment. Sink totals per segment
  // must equal the batch join (oracle).
  def q235StreamEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schema = Tables.eventsFileSchema(s, dir)
    val tmp = PipelineQueries.tempDir("graft-q235")
    val spool = java.nio.file.Files.createDirectories(tmp.resolve("spool"))
    java.nio.file.Files.createSymbolicLink(
      spool.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val s2 = graft.ingest.Pipelines.streamingSession(s, "spark.sql.shuffle.partitions" -> "8")
    val raw = s2.readStream.schema(schema)
      .option("maxFilesPerTrigger", 100000).parquet(spool.toString)
    val dim = Tables.customer(s2, dir)
      .select($"c_custkey", $"c_mktsegment")
    Tables.normalizeEventTs(raw)
      .join(broadcast(dim), $"user_id" === $"c_custkey")
      .writeStream.format("parquet")
      .option("path", s"$tmp/tables/enriched")
      .option("checkpointLocation", s"$tmp/ckpt/enriched")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    s.read.parquet(s"$tmp/tables/enriched")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        countDistinct($"user_id").as("n_users"),
        coalesce(sum(floor($"value" * 100).cast("long")), lit(0L)).as("cents"))
      .orderBy($"c_mktsegment")
  }

  // ORC format roundtrip (the third on-disk format next to parquet and
  // q215's CSV): the integerized lineitem slice written as ORC, read
  // back, and aggregated — the readback aggregate must equal the
  // parquet-source recompute (sink ≡ source, q78's discipline). ORC
  // is columnar+typed so values roundtrip exactly; the oracle never
  // touches the ORC file (DuckDB reads only the original parquet).
  def q250OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = PipelineQueries.tempDir("graft-q250")
    Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey",
        $"l_quantity".cast("long").as("qty"),
        floor($"l_extendedprice" * 100.0).cast("long").as("cents"),
        $"l_returnflag")
      .write.mode("overwrite").orc(s"$tmp/tables/li_orc")
    s.read.orc(s"$tmp/tables/li_orc")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"qty").as("sum_qty"),
        sum($"cents").as("sum_cents"),
        countDistinct($"l_partkey").as("n_parts"))
      .orderBy($"l_returnflag")
  }

  // The plain-SQL interface: temp views + spark.sql(...) running a
  // multi-CTE windowed statement — proof that a SQL-only user drives
  // this engine without touching the DataFrame API (Catalyst plans it
  // identically). Monthly revenue share of the running year total, all
  // integer cents.
  def q256SqlInterface(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_v")
    s.sql(
      """WITH m AS (
        |  SELECT date_format(date_trunc('month', l_shipdate), 'yyyy-MM') AS month,
        |         CAST(date_format(l_shipdate, 'yyyy') AS BIGINT) AS yr,
        |         sum(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS cents
        |  FROM li_v GROUP BY 1, 2),
        |w AS (
        |  SELECT month, yr, cents,
        |         sum(cents) OVER (PARTITION BY yr ORDER BY month
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ytd_cents
        |  FROM m)
        |SELECT month, cents, ytd_cents,
        |       cents * 1000000 div ytd_cents AS share_of_ytd_ppm
        |FROM w ORDER BY month""".stripMargin)
  }

  // The TYPED Dataset path: case-class Encoders, groupByKey/mapGroups —
  // where compile-time row types matter more than codegen (the brief's
  // Dataset[T] surface). Verified against the same untyped aggregate
  // the oracle computes, so the typed path must agree exactly.
  def q257TypedPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // keys are (type, day) — 30× the type cardinality, so group state
    // stays bounded and the shuffle keys aren't a 5-value column
    val ds = Tables.events(s, dir)
      .select($"event_type", expr("unix_millis(ts) div 86400000").as("day"),
        coalesce($"user_id", lit(-1L)).as("user_id"),
        coalesce(floor($"value" * 100).cast("long"), lit(0L)).as("cents"))
      .as[(String, Long, Long, Long)]
    ds.groupByKey(r => (r._1, r._2))
      .mapGroups { (key: (String, Long), rows: Iterator[(String, Long, Long, Long)]) =>
        val (typ, day) = key
        var n = 0L; var total = 0L; var maxC = Long.MinValue
        val users = scala.collection.mutable.Set[Long]()
        rows.foreach { case (_, _, u, c) =>
          n += 1; total += c; if (c > maxC) maxC = c
          if (u >= 0) users += u
        }
        (typ, day, n, total, maxC, users.size.toLong)
      }
      .toDF("event_type", "day", "n", "total_cents", "max_cents", "n_users")
      .orderBy($"event_type", $"day")
  }

  // Federated multi-format read: the same fact slice served from
  // parquet, CSV and ORC at once, unioned by name and aggregated — the
  // lakehouse reality where one logical table spans formats. Counts
  // and sums must triple; the per-type distinct id set must NOT
  // (identity survives every format roundtrip).
  def q258FederatedFormats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = PipelineQueries.tempDir("graft-q258")
    val base = Tables.events(s, dir)
      .select($"event_id", $"event_type",
        coalesce(floor($"value" * 100).cast("long"), lit(0L)).as("cents"))
    base.write.mode("overwrite").option("header", "true")
      .csv(s"$tmp/tables/ev_csv")
    base.write.mode("overwrite").orc(s"$tmp/tables/ev_orc")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, event_type STRING, cents BIGINT")
    val csv = s.read.option("header", "true").schema(schema)
      .csv(s"$tmp/tables/ev_csv")
    val orc = s.read.orc(s"$tmp/tables/ev_orc")
    base.unionByName(csv).unionByName(orc)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum($"cents").as("sum_cents"),
        countDistinct($"event_id").as("n_ids"))
      .orderBy($"event_type")
  }

  // Daily latency-percentile bands (p50/p95/p99 of the value metric
  // per day) — THE operational time-series chart. q172's two-phase
  // value-domain shape keyed by day: one (day × distinct-cents) count
  // shuffle, cumulative ranks on the compressed frame only.
  def q259DailyPercentiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val c = Tables.events(s, dir)
      .filter($"value".isNotNull)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        floor($"value" * 100).cast("long").as("cents"))
      .groupBy($"day", $"cents")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"day").orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wT = Window.partitionBy($"day")
    def pick(p: Int) = {
      val rp = expr(s"($p * (n - 1)) div 100 + 1")
      max(when($"lo" < rp && rp <= $"hi", $"cents")).as(s"p$p")
    }
    c.withColumn("hi", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(wT))
      .withColumn("lo", $"hi" - $"cnt")
      .groupBy($"day", $"n")
      .agg(pick(50), pick(95), pick(99))
      .orderBy($"day")
  }

  // Apdex score per day: satisfied (value ≤ 250) + tolerating/2
  // (≤ 1000) over total, in exact ppm — the one-number SLA digest.
  // One conditional-agg scan; the half weight is cross-multiplied
  // (2·sat + tol over 2·n) so no fraction ever materializes.
  def q260Apdex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .filter($"value".isNotNull)
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when($"value" <= 250.0, 1L).otherwise(0L)).as("satisfied"),
        sum(when($"value" > 250.0 && $"value" <= 1000.0, 1L).otherwise(0L))
          .as("tolerating"))
      .withColumn("apdex_ppm",
        expr("(2 * satisfied + tolerating) * 1000000 div (2 * n)"))
      .orderBy($"day")
  }

  // Ledger reconciliation: order header totals vs the sum of their
  // lines — the cross-table consistency audit every financial pipeline
  // runs. Discrepancies bucketed by magnitude with net and absolute
  // exposure per bucket; headers with no lines are their own bucket
  // (left join, never dropped). One join on the order key + one agg.
  def q261Reconciliation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(sum(floor($"l_extendedprice" * 100.0).cast("long")).as("lc"))
    Tables.orders(s, dir)
      .select($"o_orderkey", floor($"o_totalprice" * 100.0).cast("long").as("oc"))
      .join(lines, $"o_orderkey" === $"l_orderkey", "left")
      .withColumn("d", $"oc" - $"lc")
      .withColumn("bucket", expr(
        """CASE WHEN lc IS NULL THEN 'a_no_lines'
          |     WHEN abs(d) < 1000000 THEN 'b_under_10k'
          |     WHEN abs(d) < 10000000 THEN 'c_under_100k'
          |     ELSE 'd_over_100k' END""".stripMargin))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_orders"),
        coalesce(sum($"d"), lit(0L)).as("net_cents"),
        coalesce(sum(abs($"d")), lit(0L)).as("abs_cents"))
      .orderBy($"bucket")
  }

  // Top-k WITH ties (the rank()-cutoff semantics dashboards need when
  // "3rd place" is shared): top-3 revenue days at hundred-dollar
  // granularity, ties included — rank(), not row_number(), so the
  // result can exceed 3 rows. The window runs on the bounded daily
  // bucket frame.
  def q262TopWithTies(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    Tables.events(s, dir)
      .filter($"event_type" === "purchase" && $"value".isNotNull)
      .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
      .agg(expr("sum(CAST(floor(value * 100) AS BIGINT)) div 100000")
        .as("rev_hundreds"))
      .withColumn("rk", rank().over(Window.orderBy($"rev_hundreds".desc))
        .cast("long"))
      .filter($"rk" <= 3L)
      .orderBy($"rk", $"day")
  }

  // Join-skew salt planner: turn the q159 fanout diagnostic into an
  // executable mitigation — per hot key, the salt factor that caps its
  // build-side partition at ~50k rows (ceil division, clamped to 32 =
  // the executor-thread budget), and the post-salt residual fanout.
  // Keys needing no salt report 1 — the whole top-10 plan a skew-aware
  // join wrapper (q84's SaltedAgg) would consume.
  def q263SaltPlanner(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables.events(s, dir)
    graft.operators.KeyHealth.joinFanout(e, "user_id", e, "user_id", 10)
      .withColumn("salt", expr(
        "greatest(CAST(1 AS BIGINT), least(CAST(32 AS BIGINT), " +
          "(n_right + 49999) div 50000))"))
      .withColumn("rows_per_task", expr("n_right div salt"))
      .select($"key", $"n_left", $"n_right", $"fanout", $"salt",
        $"rows_per_task")
      .orderBy($"fanout".desc, $"key")
  }

  // Filtered vector search — the metadata-predicate ANN problem: exact
  // top-10 among vectors of a DIFFERENT label than the query (the
  // correct pre-filter semantics) side by side with the naive
  // post-filter of an unfiltered top-50, tagged so the result exposes
  // any recall the post-filter loses. Both paths broadcast + TakeOrdered
  // (zero shuffle); the query label is one bounded driver literal.
  def q264FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val qv = emb.filter($"vec_id" === 2).select($"embedding".as("qvec"))
    val qlabel = emb.filter($"vec_id" === 2)
      .select($"label").as[Int].head() // 1-row driver literal
    val exact = Similarity.bruteForceTopK(
        emb.filter($"label" =!= qlabel), "vec_id", "embedding", qv, 10)
      .withColumn("method", lit("a_prefilter_exact"))
    val post = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qv, 50)
    val postFiltered = emb.select($"vec_id", $"label")
      .join(broadcast(post), Seq("vec_id"))
      .filter($"label" =!= qlabel)
      .orderBy($"cos".desc, $"vec_id").limit(10)
      .select($"vec_id", $"cos")
      .withColumn("method", lit("b_postfilter_50"))
    exact.unionByName(postFiltered)
      .select($"method", $"vec_id", $"cos")
      .orderBy($"method", $"cos".desc, $"vec_id")
  }

  /** q265's oracle: the identical integer-µ greedy unrolled as 5 CTE
    * rounds (selected set grows by UNION each round).
    */

  private lazy val q265Sql: String = {
    val head =
      """WITH e AS (SELECT vec_id,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |       FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 5),
        |sc0 AS (SELECT vec_id, v,
        |        round(list_dot_product(v, qv) /
        |          (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
        |          6) AS cosr
        |       FROM e, q WHERE vec_id <> 5),
        |c AS MATERIALIZED (SELECT vec_id, v,
        |       CAST(round(cosr * 1000000, 0) AS BIGINT) AS rel
        |      FROM sc0 ORDER BY cosr DESC, vec_id LIMIT 20),
        |sims AS MATERIALIZED (SELECT a.vec_id AS u, b.vec_id AS vv,
        |       CAST(round(list_dot_product(a.v, b.v) /
        |         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        |         * 1000000, 0) AS BIGINT) AS sim
        |      FROM c a JOIN c b ON a.vec_id <> b.vec_id),
        |p1 AS MATERIALIZED (SELECT vec_id, rel, rel * 7 AS score
        |      FROM c ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin
    val rounds = (2 to 5).map { r =>
      val sel = (1 until r).map(i => s"SELECT vec_id FROM p$i")
        .mkString(" UNION ")
      s""",
         |p$r AS MATERIALIZED (SELECT c.vec_id, c.rel,
         |      c.rel * 7 - m.mx * 3 AS score
         |     FROM c JOIN (SELECT u, max(sim) AS mx FROM sims
         |       WHERE vv IN ($sel) GROUP BY 1) m ON m.u = c.vec_id
         |     WHERE c.vec_id NOT IN ($sel)
         |     ORDER BY score DESC, c.vec_id LIMIT 1)""".stripMargin
    }.mkString
    val out = (1 to 5).map(r =>
      s"SELECT CAST($r AS BIGINT) AS rank, vec_id, rel AS rel_mu, " +
        s"CAST(score AS BIGINT) AS score_mu FROM p$r")
      .mkString("\nUNION ALL ")
    s"$head$rounds\nSELECT * FROM (\n$out\n) u ORDER BY rank"
  }

  // Maximal-marginal-relevance re-ranking: the top-20 cosine
  // candidates re-ordered for DIVERSITY — each round picks
  // argmax(7·rel − 3·max_sim_to_selected) in exact micro-units
  // (λ=0.7 ×10, similarities quantized at 1e-6 on both engines, so
  // the greedy trajectory is bit-deterministic). The data-scale work
  // is the one top-20 scan; pairwise sims and all 5 greedy rounds run
  // on the bounded 20-row candidate frame (1-row argmax collects, the
  // Coverage precedent).
  def q265MmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, dir)
    val qv = emb.filter($"vec_id" === 5).select($"embedding".as("qvec"))
    val cand = emb.select($"vec_id", $"embedding")
      .join(broadcast(Similarity.bruteForceTopK(
          emb.filter($"vec_id" =!= 5), "vec_id", "embedding", qv, 20)),
        Seq("vec_id"))
      .withColumn("rel", expr("CAST(round(cos * 1000000, 0) AS BIGINT)"))
      .persist() // 20 rows: pairwise sims + every greedy round
    val sims = cand.as("a").crossJoin(broadcast(cand.as("b")))
      .filter($"a.vec_id" =!= $"b.vec_id")
      .select($"a.vec_id".as("u"), $"b.vec_id".as("v"),
        round(Similarity.cosine(
          Similarity.toDoubleVec($"a.embedding"),
          Similarity.toDoubleVec($"b.embedding")) * 1000000.0, 0)
          .cast("long").as("sim"))
      .persist()
    var picks = List.empty[(Long, Long, Long, Long)] // rank, id, rel, score
    for (r <- 1 to 5) {
      val sel = picks.map(_._2)
      val pool = cand.select($"vec_id", $"rel")
        .filter(!$"vec_id".isin(sel: _*))
      val scored =
        if (sel.isEmpty) pool.withColumn("score", $"rel" * 7L)
        else pool.join(
            sims.filter($"v".isin(sel: _*))
              .groupBy($"u").agg(max($"sim").as("mx")),
            $"vec_id" === $"u")
          .select($"vec_id", $"rel", ($"rel" * 7L - $"mx" * 3L).as("score"))
      val row = scored.orderBy($"score".desc, $"vec_id")
        .limit(1).select($"vec_id", $"rel", $"score")
        .as[(Long, Long, Long)].head()
      picks = picks :+ ((r.toLong, row._1, row._2, row._3))
    }
    cand.unpersist(); sims.unpersist()
    picks.toDF("rank", "vec_id", "rel_mu", "score_mu").orderBy($"rank")
  }

  // Day × value-decile heatmap (the dashboard density matrix): global
  // type-1 decile boundaries computed once on the compressed
  // (distinct-cents × count) frame, broadcast back as ten literals in
  // a single CASE ladder, then one (day, decile) hash agg. Value-based
  // bucketing — equal values land in one decile on both engines.
  def q266DecileHeatmap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val ev = Tables.events(s, dir).filter($"value".isNotNull)
      .select(expr("unix_millis(ts) div 86400000").as("day"),
        floor($"value" * 100).cast("long").as("cents"))
    val vc = ev.groupBy($"cents").agg(count(lit(1)).as("cnt"))
      .persist() // the total and the cumulative bounds both read it
    val wc = Window.orderBy($"cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = vc.agg(sum($"cnt").as("n"))
    val bAggs = (1 to 10).map(d =>
      min(when($"cum" >= expr(s"($d * n + 9) div 10"), $"cents")).as(s"b$d"))
    val bounds = vc.withColumn("cum", sum($"cnt").over(wc))
      .crossJoin(broadcast(tot))
      .agg(bAggs.head, bAggs.tail: _*)
    val caseLadder = (1 to 9).map(d =>
      s"WHEN cents <= b$d THEN CAST($d AS BIGINT)").mkString(" ")
    ev.crossJoin(broadcast(bounds))
      .withColumn("decile",
        expr(s"CASE $caseLadder ELSE CAST(10 AS BIGINT) END"))
      .groupBy($"day", $"decile")
      .agg(count(lit(1)).as("n"))
      .orderBy($"day", $"decile")
  }

  // Arrival-disorder audit: how often event time runs BACKWARD along
  // the arrival sequence (adjacent-pair inversions per type) — the
  // out-of-orderness measure that sizes streaming watermarks. Adjacent
  // pairs come from ONE distributed GlobalRank over (type, id) and a
  // rank↔rank+1 equi-join (q136's shape) — never a type-partitioned
  // window over raw rows; cross-type boundary pairs drop in the
  // same-type filter.
  def q267DisorderRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_type", $"event_id", unix_millis($"ts").as("ms"))
    val ranked = graft.operators.GlobalRank.rowNumber(
      ev, Seq("event_type", "event_id"), "gr")
    val cur = ranked.select($"event_type".as("t1"), $"gr", $"ms".as("ms1"))
    val nxt = ranked.select($"event_type".as("t2"), ($"gr" - 1L).as("gr"),
      $"ms".as("ms2"))
    cur.join(nxt, Seq("gr"))
      .filter($"t1" === $"t2")
      .groupBy($"t1")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when($"ms2" < $"ms1", 1L).otherwise(0L)).as("n_inversions"))
      .withColumn("inversion_ppm",
        expr("n_inversions * 1000000 div n_pairs"))
      .withColumnRenamed("t1", "event_type")
      .orderBy($"event_type")
  }

  // Right-to-erasure rewrite: the subject set (every 97th user) is
  // anti-joined out, the surviving table is REWRITTEN to a real sink
  // and read back, and the result audits the rewritten copy — per-type
  // survivor counts plus the erased-rows-remaining counter the
  // compliance gate requires to be zero. Sink ≡ filtered source
  // (q78's discipline); the erase predicate pushes to the scan.
  def q268ErasureRewrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tmp = PipelineQueries.tempDir("graft-q268")
    Tables.events(s, dir)
      .filter($"user_id".isNull || $"user_id" % 97 =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/tables/events_clean")
    val back = s.read.parquet(s"$tmp/tables/events_clean")
    back.groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct($"user_id").as("n_users"),
        sum(when($"user_id".isNotNull && $"user_id" % 97 === 0, 1L)
          .otherwise(0L)).as("erased_remaining"))
      .orderBy($"event_type")
  }

  // ---------------------------------------------------------------- q281

  // Ingestion-pipeline YAML as CONFIG: parse a Data Prepper pipeline
  // document (the reference's metrics-pipeline.yaml shape — named
  // JSON-pointer route conditions + routed/unrouted opensearch sinks)
  // with ingest.PipelineConfig and execute the declared routing over
  // the events table. Each sink is ONE predicate-pushed filter of the
  // shared frame (OR across its routes; an unrouted sink receives
  // everything; routes are non-exclusive — one record can land in
  // several sinks, Data Prepper semantics; != is null-safe like Data
  // Prepper's missing-key match). The oracle replays each sink's WHERE
  // clause; the config-driven "purchase-or-click" routing ≡ what the
  // hard-coded Transforms.route plane does with the same discriminator.
  def q281PipelineYaml(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val cfg = graft.ingest.PipelineConfig.parse(
      """version: "2"
        |pipeline:
        |  source:
        |    http:
        |      path: "/ingest"
        |  route:
        |    - purchases: '/event_type == "purchase"'
        |    - clicks: '/event_type == "click"'
        |    - non-purchase: '/event_type != "purchase"'
        |  sink:
        |    - opensearch:
        |        index: "purchase-or-click"
        |        routes:
        |          - purchases
        |          - clicks
        |    - opensearch:
        |        index: "non-purchase"
        |        routes:
        |          - non-purchase
        |    - opensearch:
        |        index: "all-events"
        |""".stripMargin)
    cfg.routedFrames(ev).map { case (idx, df) =>
      df.agg(count(lit(1)).as("n"),
          coalesce(sum(expr("CAST(floor(value * 100) AS BIGINT)")), lit(0L))
            .as("total_cents"))
        .select(lit(idx).as("sink_index"), $"n", $"total_cents")
    }.reduce(_.unionAll(_)).orderBy($"sink_index")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q281_pipeline_yaml" -> q281PipelineYaml _,
    "q268_erasure_rewrite" -> q268ErasureRewrite _,
    "q267_disorder_rate" -> q267DisorderRate _,
    "q266_decile_heatmap" -> q266DecileHeatmap _,
    "q265_mmr_rerank" -> q265MmrRerank _,
    "q264_filtered_ann" -> q264FilteredAnn _,
    "q263_salt_planner" -> q263SaltPlanner _,
    "q261_reconciliation" -> q261Reconciliation _,
    "q262_top_with_ties" -> q262TopWithTies _,
    "q230_observed_ingest" -> q230ObservedIngest _,
    "q235_stream_enrich" -> q235StreamEnrich _,
    "q250_orc_roundtrip" -> q250OrcRoundtrip _,
    "q256_sql_interface" -> q256SqlInterface _,
    "q257_typed_pipeline" -> q257TypedPipeline _,
    "q258_federated_formats" -> q258FederatedFormats _,
    "q259_daily_percentiles" -> q259DailyPercentiles _,
    "q260_apdex" -> q260Apdex _,
    "q131_collocations" -> q131Collocations _,
    "q132_vocab_coverage" -> q132VocabCoverage _,
    "q133_quantile_norm" -> q133QuantileNorm _,
    "q134_ab_test" -> q134AbTest _,
    "q135_kcore" -> q135KCore _,
    "q136_sequence_gaps" -> q136SequenceGaps _,
    "q137_integrity_audit" -> q137IntegrityAudit _,
    "q138_decayed_trends" -> q138DecayedTrends _,
    "q139_lang_source_independence" -> q139LangSourceIndependence _,
    "q140_benford_audit" -> q140BenfordAudit _,
    "q141_containment_pairs" -> q141ContainmentPairs _,
    "q142_khop_reach" -> q142KhopReach _,
    "q143_peak_concurrency" -> q143PeakConcurrency _,
    "q144_top_paths" -> q144TopPaths _,
    "q145_floored_balance" -> q145FlooredBalance _,
    "q146_gini_concentration" -> q146GiniConcentration _,
    "q147_embedding_audit" -> q147EmbeddingAudit _,
    "q148_lang_confusion" -> q148LangConfusion _,
    "q149_autocorrelation" -> q149Autocorrelation _,
    "q150_cohort_value" -> q150CohortValue _,
    "q151_revenue_concentration" -> q151RevenueConcentration _,
    "q152_share_of_parent" -> q152ShareOfParent _,
    "q153_new_vs_returning" -> q153NewVsReturning _,
    "q154_recency_churn" -> q154RecencyChurn _,
    "q155_sla_attainment" -> q155SlaAttainment _,
    "q156_pareto_k" -> q156ParetoK _,
    "q157_ngram_novelty" -> q157NgramNovelty _,
    "q158_key_health" -> q158KeyHealth _,
    "q159_join_fanout" -> q159JoinFanout _,
    "q160_event_dedup_window" -> q160EventDedupWindow _,
    "q161_search_after" -> q161SearchAfter _,
    "q162_rolling_p95" -> q162RollingP95 _,
    "q163_time_to_convert" -> q163TimeToConvert _,
    "q164_source_overlap" -> q164SourceOverlap _,
  )

  val oracle: Map[String, String] = Map(
    "q281_pipeline_yaml" ->
      """SELECT * FROM (
        | SELECT 'all-events' AS sink_index, CAST(count(*) AS BIGINT) AS n,
        |  CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0)
        |    AS BIGINT) AS total_cents
        | FROM events
        |UNION ALL
        | SELECT 'non-purchase', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT)
        | FROM events WHERE event_type IS DISTINCT FROM 'purchase'
        |UNION ALL
        | SELECT 'purchase-or-click', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT)
        | FROM events WHERE event_type = 'purchase' OR event_type = 'click'
        |) u ORDER BY sink_index""".stripMargin,

    "q268_erasure_rewrite" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(0 AS BIGINT) AS erased_remaining
        |FROM events WHERE user_id IS NULL OR user_id % 97 <> 0
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q267_disorder_rate" ->
      """WITH e AS (SELECT event_type, event_id, epoch_ms(ts) AS ms FROM events),
        |r AS (SELECT *, lag(ms) OVER (PARTITION BY event_type
        |       ORDER BY event_id) AS pms FROM e)
        |SELECT event_type,
        | CAST(sum(CASE WHEN pms IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        | CAST(sum(CASE WHEN pms IS NOT NULL AND ms < pms THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_inversions,
        | CAST(sum(CASE WHEN pms IS NOT NULL AND ms < pms THEN 1 ELSE 0 END)
        |   * 1000000 // sum(CASE WHEN pms IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS inversion_ppm
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q266_decile_heatmap" ->
      ("""WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |        CAST(floor(value * 100) AS BIGINT) AS cents
        |       FROM events WHERE value IS NOT NULL),
        |vc AS (SELECT cents, count(*) AS cnt FROM e GROUP BY 1),
        |r AS (SELECT *, sum(cnt) OVER (ORDER BY cents
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |       sum(cnt) OVER () AS n FROM vc),
        |b AS (SELECT """ +
        (1 to 10).map(d =>
          s"min(CASE WHEN cum >= ($d * n + 9) // 10 THEN cents END) AS b$d")
          .mkString(",\n        ") +
        """ FROM r)
        |SELECT day, CASE """ +
        (1 to 9).map(d => s"WHEN cents <= b$d THEN CAST($d AS BIGINT)")
          .mkString(" ") +
        """ ELSE CAST(10 AS BIGINT) END AS decile,
        | CAST(count(*) AS BIGINT) AS n
        |FROM e, b GROUP BY 1, 2 ORDER BY day, decile""").stripMargin,

    "q265_mmr_rerank" -> q265Sql,

    "q264_filtered_ann" ->
      """WITH e AS (SELECT vec_id, label,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |       FROM embeddings),
        |q AS (SELECT v AS qv, label AS ql FROM e WHERE vec_id = 2),
        |sc AS (SELECT vec_id, label,
        |        round(list_dot_product(v, qv) /
        |          (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
        |          6) AS cos, ql
        |       FROM e, q),
        |ex AS (SELECT 'a_prefilter_exact' AS method, vec_id, cos
        |       FROM sc WHERE label <> ql ORDER BY cos DESC, vec_id LIMIT 10),
        |t50 AS (SELECT * FROM sc ORDER BY cos DESC, vec_id LIMIT 50),
        |pf AS (SELECT 'b_postfilter_50' AS method, vec_id, cos
        |       FROM t50 WHERE label <> ql ORDER BY cos DESC, vec_id LIMIT 10)
        |SELECT * FROM (SELECT * FROM ex UNION ALL SELECT * FROM pf) u
        |ORDER BY method, cos DESC, vec_id""".stripMargin,

    "q263_salt_planner" ->
      """WITH k AS (SELECT user_id AS key, count(*) AS n
        |       FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |f AS (SELECT key, n AS n_left, n AS n_right, n * n AS fanout FROM k
        |      ORDER BY fanout DESC, key LIMIT 10)
        |SELECT key, CAST(n_left AS BIGINT) AS n_left,
        | CAST(n_right AS BIGINT) AS n_right, CAST(fanout AS BIGINT) AS fanout,
        | CAST(greatest(1, least(32, (n_right + 49999) // 50000)) AS BIGINT) AS salt,
        | CAST(n_right // greatest(1, least(32, (n_right + 49999) // 50000))
        |   AS BIGINT) AS rows_per_task
        |FROM f ORDER BY fanout DESC, key""".stripMargin,

    "q261_reconciliation" ->
      """WITH l AS (SELECT l_orderkey,
        |        sum(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS lc
        |       FROM lineitem GROUP BY 1),
        |j AS (SELECT CAST(floor(o_totalprice * 100.0) AS BIGINT) - lc AS d, lc
        |      FROM orders LEFT JOIN l ON o_orderkey = l_orderkey),
        |b AS (SELECT CASE WHEN lc IS NULL THEN 'a_no_lines'
        |             WHEN abs(d) < 1000000 THEN 'b_under_10k'
        |             WHEN abs(d) < 10000000 THEN 'c_under_100k'
        |             ELSE 'd_over_100k' END AS bucket, d FROM j)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(coalesce(sum(d), 0) AS BIGINT) AS net_cents,
        | CAST(coalesce(sum(abs(d)), 0) AS BIGINT) AS abs_cents
        |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q262_top_with_ties" ->
      """WITH d AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |        sum(CAST(floor(value * 100) AS BIGINT)) // 100000 AS rev_hundreds
        |       FROM events
        |       WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1),
        |r AS (SELECT *, rank() OVER (ORDER BY rev_hundreds DESC) AS rk FROM d)
        |SELECT CAST(day AS BIGINT) AS day, CAST(rev_hundreds AS BIGINT) AS rev_hundreds,
        | CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY rk, day""".stripMargin,

    "q258_federated_formats" ->
      """SELECT event_type,
        | CAST(3 * count(*) AS BIGINT) AS n_rows,
        | CAST(3 * sum(coalesce(CAST(floor(value * 100) AS BIGINT), 0)) AS BIGINT)
        |   AS sum_cents,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q259_daily_percentiles" ->
      """WITH c AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |        CAST(floor(value * 100) AS BIGINT) AS cents, count(*) AS cnt
        |       FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT *, sum(cnt) OVER (PARTITION BY day ORDER BY cents
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
        |       sum(cnt) OVER (PARTITION BY day) AS n
        |      FROM c)
        |SELECT CAST(day AS BIGINT) AS day, CAST(max(n) AS BIGINT) AS n,
        | max(CASE WHEN hi - cnt < (50 * (n - 1)) // 100 + 1
        |      AND (50 * (n - 1)) // 100 + 1 <= hi THEN cents END) AS p50,
        | max(CASE WHEN hi - cnt < (95 * (n - 1)) // 100 + 1
        |      AND (95 * (n - 1)) // 100 + 1 <= hi THEN cents END) AS p95,
        | max(CASE WHEN hi - cnt < (99 * (n - 1)) // 100 + 1
        |      AND (99 * (n - 1)) // 100 + 1 <= hi THEN cents END) AS p99
        |FROM r GROUP BY day ORDER BY day""".stripMargin,

    "q260_apdex" ->
      """SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CASE WHEN value <= 250.0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS satisfied,
        | CAST(sum(CASE WHEN value > 250.0 AND value <= 1000.0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS tolerating,
        | CAST((2 * sum(CASE WHEN value <= 250.0 THEN 1 ELSE 0 END)
        |   + sum(CASE WHEN value > 250.0 AND value <= 1000.0 THEN 1 ELSE 0 END))
        |   * 1000000 // (2 * count(*)) AS BIGINT) AS apdex_ppm
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY day""".stripMargin,

    "q256_sql_interface" ->
      """WITH m AS (
        |  SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
        |         date_part('year', l_shipdate) AS yr,
        |         sum(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS cents
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (
        |  SELECT month, cents,
        |         sum(cents) OVER (PARTITION BY yr ORDER BY month
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ytd_cents
        |  FROM m)
        |SELECT month, CAST(cents AS BIGINT) AS cents,
        | CAST(ytd_cents AS BIGINT) AS ytd_cents,
        | CAST(cents * 1000000 // ytd_cents AS BIGINT) AS share_of_ytd_ppm
        |FROM w ORDER BY month""".stripMargin,

    "q257_typed_pipeline" ->
      """SELECT event_type, CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(coalesce(CAST(floor(value * 100) AS BIGINT), 0)) AS BIGINT)
        |   AS total_cents,
        | CAST(max(coalesce(CAST(floor(value * 100) AS BIGINT), 0)) AS BIGINT)
        |   AS max_cents,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin,

    "q250_orc_roundtrip" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        | CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        | CAST(sum(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
        | CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "q235_stream_enrich" ->
      """SELECT c_mktsegment,
        | CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        | CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT) AS cents
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    "q230_observed_ingest" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_users,
        | CAST(coalesce(sum(CAST(floor(value * 100) AS BIGINT)), 0) AS BIGINT) AS sum_cents,
        | CAST(min(epoch_ms(ts) // 86400000) AS BIGINT) AS min_day,
        | CAST(max(epoch_ms(ts) // 86400000) AS BIGINT) AS max_day
        |FROM events""".stripMargin,

    "q131_collocations" ->
      """WITH toks AS (
        | SELECT string_split_regex(trim(text), '\s+') tk FROM documents),
        |uni AS (SELECT unnest(tk) w FROM toks),
        |uc AS (SELECT w, count(*) c FROM uni GROUP BY 1),
        |nu AS (SELECT count(*) n FROM uni),
        |bi AS (
        | SELECT unnest([struct_pack(w1 := tk[i], w2 := tk[i + 1])
        |  FOR i IN range(1, len(tk))]) AS b FROM toks),
        |bc AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) c_ab FROM bi GROUP BY 1, 2),
        |nb AS (SELECT count(*) n FROM bi)
        |SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
        | CAST(CAST(c_ab AS HUGEINT) * nu.n * nu.n * 1000000 //
        |  (CAST(nb.n AS HUGEINT) * a.c * b.c) AS BIGINT) AS lift_ppm
        |FROM bc JOIN uc a ON bc.w1 = a.w JOIN uc b ON bc.w2 = b.w, nu, nb
        |WHERE c_ab >= 5
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 50""".stripMargin,

    "q132_vocab_coverage" ->
      """WITH toks AS (
        | SELECT doc_id, string_split_regex(trim(text), '\s+') tk FROM documents),
        |u AS (SELECT doc_id, unnest(tk) w FROM toks),
        |c AS (SELECT w, count(*) c FROM u GROUP BY 1),
        |v AS (SELECT w, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) id
        |      FROM c QUALIFY id <= 30),
        |j AS (SELECT u.doc_id, v.id FROM u LEFT JOIN v ON u.w = v.w)
        |SELECT doc_id, count(*) AS n_tokens,
        | CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        | CAST(sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) * 1000000
        |  // count(*) AS BIGINT) AS oov_ppm,
        | CAST(coalesce(sum(id), 0) AS BIGINT) AS id_sum
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q133_quantile_norm" ->
      """WITH e AS (
        | SELECT event_type typ, CAST(floor(value * 1000) AS BIGINT) vm, event_id
        | FROM events),
        |nn AS (SELECT count(*) n FROM e),
        |g AS (SELECT vm, CAST(row_number() OVER (ORDER BY vm, event_id) AS BIGINT) gr
        |      FROM e),
        |r AS (SELECT typ, vm, event_id,
        |  CAST(row_number() OVER (PARTITION BY typ ORDER BY vm, event_id) AS BIGINT) r,
        |  count(*) OVER (PARTITION BY typ) cnt FROM e),
        |x AS (SELECT typ,
        |  CASE WHEN cnt = 1 THEN ((SELECT n FROM nn) + 1) // 2
        |   ELSE (r - 1) * ((SELECT n FROM nn) - 1) // (cnt - 1) + 1 END AS idx
        | FROM r),
        |m AS (SELECT x.typ, g.vm AS norm FROM x JOIN g ON g.gr = x.idx)
        |SELECT typ, count(*) AS n, CAST(sum(norm) AS BIGINT) AS sum_norm,
        | min(norm) AS min_norm, max(norm) AS max_norm
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q134_ab_test" ->
      """WITH e AS (
        | SELECT event_type typ, CAST(floor(value * 1000) AS BIGINT) vm,
        |  user_id % 2 = 1 AS b FROM events),
        |a AS (SELECT typ,
        | CAST(sum(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) n_a,
        | CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) n_b,
        | CAST(sum(CASE WHEN NOT b THEN vm ELSE 0 END) AS BIGINT) sum_a,
        | CAST(sum(CASE WHEN b THEN vm ELSE 0 END) AS BIGINT) sum_b,
        | CAST(sum(CASE WHEN NOT b THEN vm * vm ELSE 0 END) AS BIGINT) ss_a,
        | CAST(sum(CASE WHEN b THEN vm * vm ELSE 0 END) AS BIGINT) ss_b
        | FROM e GROUP BY 1),
        |m AS (SELECT typ, n_a, n_b,
        | sum_a // nullif(n_a, 0) AS mean_a, sum_b // nullif(n_b, 0) AS mean_b,
        | CAST((CAST(n_a AS HUGEINT) * ss_a - CAST(sum_a AS HUGEINT) * sum_a) //
        |  (CAST(n_a AS HUGEINT) * nullif(n_a, 0)) AS BIGINT) AS var_a,
        | CAST((CAST(n_b AS HUGEINT) * ss_b - CAST(sum_b AS HUGEINT) * sum_b) //
        |  (CAST(n_b AS HUGEINT) * nullif(n_b, 0)) AS BIGINT) AS var_b
        | FROM a)
        |SELECT typ, n_a, n_b, mean_a, mean_b, var_a, var_b,
        | mean_b - mean_a AS diff,
        | CAST(CASE WHEN (mean_b - mean_a) * (mean_b - mean_a) >
        |  4 * (var_a // nullif(n_a, 0) + var_b // nullif(n_b, 0))
        |  THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM m ORDER BY typ""".stripMargin,

    "q135_kcore" -> kcoreOracle(k = 80, rounds = 10),

    "q136_sequence_gaps" ->
      """WITH p AS (
        | SELECT o_orderkey k FROM orders
        | WHERE CAST(floor(o_totalprice) AS BIGINT) % 5 != 0),
        |g AS (SELECT k, lead(k) OVER (ORDER BY k) nk FROM p)
        |SELECT k + 1 AS gap_start, nk - 1 AS gap_end, nk - k - 1 AS missing
        |FROM g WHERE nk > k + 1 ORDER BY gap_start""".stripMargin,

    "q137_integrity_audit" ->
      """WITH r1 AS (
        | SELECT 'lineitem.orderkey->orders' AS relationship,
        |  count(*) AS child_rows,
        |  CAST(sum(CASE WHEN c.l_orderkey IS NOT NULL AND p.__pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_rows,
        |  count(DISTINCT CASE WHEN c.l_orderkey IS NOT NULL AND p.__pk IS NULL THEN c.l_orderkey END) AS orphan_keys
        | FROM lineitem c LEFT JOIN (SELECT DISTINCT o_orderkey AS __pk FROM orders) p
        |  ON c.l_orderkey = p.__pk),
        |r2 AS (
        | SELECT 'lineitem.suppkey->supplier', count(*),
        |  CAST(sum(CASE WHEN c.l_suppkey IS NOT NULL AND p.__pk IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT CASE WHEN c.l_suppkey IS NOT NULL AND p.__pk IS NULL THEN c.l_suppkey END)
        | FROM lineitem c LEFT JOIN (SELECT DISTINCT s_suppkey AS __pk FROM supplier) p
        |  ON c.l_suppkey = p.__pk),
        |r3 AS (
        | SELECT 'orders.custkey->customer', count(*),
        |  CAST(sum(CASE WHEN c.o_custkey IS NOT NULL AND p.__pk IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT CASE WHEN c.o_custkey IS NOT NULL AND p.__pk IS NULL THEN c.o_custkey END)
        | FROM orders c LEFT JOIN (SELECT DISTINCT c_custkey AS __pk FROM customer) p
        |  ON c.o_custkey = p.__pk),
        |r4 AS (
        | SELECT 'orders.custkey->active_customer', count(*),
        |  CAST(sum(CASE WHEN c.o_custkey IS NOT NULL AND p.__pk IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT CASE WHEN c.o_custkey IS NOT NULL AND p.__pk IS NULL THEN c.o_custkey END)
        | FROM orders c LEFT JOIN
        |  (SELECT DISTINCT c_custkey AS __pk FROM customer WHERE c_acctbal >= 0) p
        |  ON c.o_custkey = p.__pk),
        |r5 AS (
        | SELECT 'events.user_id->customer', count(*),
        |  CAST(sum(CASE WHEN c.user_id IS NOT NULL AND p.__pk IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  count(DISTINCT CASE WHEN c.user_id IS NOT NULL AND p.__pk IS NULL THEN c.user_id END)
        | FROM events c LEFT JOIN (SELECT DISTINCT c_custkey AS __pk FROM customer) p
        |  ON c.user_id = p.__pk)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
        |UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5""".stripMargin,

    "q138_decayed_trends" ->
      """WITH b AS (
        | SELECT event_type,
        |  date_diff('day', CAST(ts AS DATE), (SELECT max(CAST(ts AS DATE)) FROM events)) AS age,
        |  CAST(floor(value * 100) AS BIGINT) AS vc
        | FROM events),
        |w AS (SELECT event_type, vc,
        |       (1::BIGINT << CAST(16 - least(age // 7, 16) AS INT)) AS wu FROM b)
        |SELECT event_type, count(*) AS n,
        | CAST(sum(wu) AS BIGINT) AS decayed_units,
        | CAST(sum(vc * wu) AS BIGINT) AS dec_value_units,
        | CAST(CAST(sum(wu) AS BIGINT) AS DOUBLE) / 65536.0 AS decayed
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    "q139_lang_source_independence" ->
      """WITH cells AS (SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2),
        |t AS (SELECT lang, source, obs,
        |       CAST(sum(obs) OVER (PARTITION BY lang) AS BIGINT) AS row_total,
        |       CAST(sum(obs) OVER (PARTITION BY source) AS BIGINT) AS col_total,
        |       CAST(sum(obs) OVER () AS BIGINT) AS grand_total
        |      FROM cells),
        |e AS (SELECT *, CAST(row_total AS DOUBLE) * col_total / grand_total AS expected FROM t)
        |SELECT lang, source, obs, row_total, col_total, grand_total, expected,
        | CAST(obs AS DOUBLE) / expected AS lift
        |FROM e ORDER BY lang, source""".stripMargin,

    "q140_benford_audit" ->
      """WITH d AS (
        | SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        | FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT c.*, (SELECT CAST(sum(n) AS BIGINT) FROM c) AS tot FROM c),
        |o AS (SELECT digit, n, (n * 1000000) // tot AS obs_ppm,
        |       CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
        |        WHEN 3 THEN 124939 WHEN 4 THEN 96910 WHEN 5 THEN 79181
        |        WHEN 6 THEN 66947 WHEN 7 THEN 57992 WHEN 8 THEN 51153
        |        ELSE 45757 END AS BIGINT) AS expected_ppm FROM t)
        |SELECT digit, n, CAST(obs_ppm AS BIGINT) AS obs_ppm, expected_ppm,
        | CAST(obs_ppm - expected_ppm AS BIGINT) AS dev_ppm
        |FROM o ORDER BY digit""".stripMargin,

    "q141_containment_pairs" ->
      s"""WITH ${PipelineQueries.shingleSql},
         |p AS (SELECT a.doc_id ida, b.doc_id idb,
         |       len(list_intersect(a.sh, b.sh)) shared, len(a.sh) na, len(b.sh) nb
         |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
         |SELECT ida AS id_a, idb AS id_b, CAST(shared AS BIGINT) AS shared,
         | CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
         |FROM p WHERE least(na, nb) > 0 AND 10 * shared >= 8 * least(na, nb)
         |ORDER BY id_a, id_b""".stripMargin,

    "q143_peak_concurrency" ->
      """WITH iv AS (SELECT epoch_ms(ts) AS sms, epoch_ms(ts) + 300000 AS ems FROM events),
        |sp AS (SELECT (sms // 60000) // 1440 AS day, sms // 60000 AS s,
        |        least((ems + 59999) // 60000, ((sms // 60000) // 1440 + 1) * 1440) AS e
        |       FROM iv),
        |dl AS (SELECT day, s AS minute, 1 AS d FROM sp
        |       UNION ALL SELECT day, e, -1 FROM sp),
        |ag AS (SELECT day, minute, CAST(sum(d) AS BIGINT) AS delta FROM dl GROUP BY 1, 2),
        |rn AS (SELECT day, minute,
        |        sum(delta) OVER (PARTITION BY day ORDER BY minute ROWS UNBOUNDED PRECEDING) AS conc
        |       FROM ag),
        |pk AS (SELECT day, max(conc) AS peak FROM rn GROUP BY 1)
        |SELECT CAST(rn.day AS BIGINT) AS day, CAST(pk.peak AS BIGINT) AS peak,
        | CAST(min(rn.minute) % 1440 AS BIGINT) AS peak_minute
        |FROM rn JOIN pk ON rn.day = pk.day AND rn.conc = pk.peak
        |GROUP BY rn.day, pk.peak ORDER BY day""".stripMargin,

    "q144_top_paths" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |        epoch_ms(ts) AS ms, event_id, event_type FROM events),
        |g AS (SELECT user_id, day,
        |       array_to_string((list(event_type ORDER BY ms, event_id))[1:3], '>') AS path
        |      FROM e GROUP BY 1, 2),
        |c AS (SELECT path, count(*) AS n FROM g GROUP BY 1)
        |SELECT path, n FROM c ORDER BY n DESC, path LIMIT 20""".stripMargin,

    "q145_floored_balance" ->
      """WITH d AS (SELECT o_custkey AS k, o_orderdate AS dt, o_orderkey AS id,
        |        CAST(floor(o_totalprice * 100) AS BIGINT) *
        |         (CASE WHEN o_orderkey % 3 = 0 THEN -1 ELSE 1 END) AS delta
        |       FROM orders),
        |w1 AS (SELECT *, sum(delta) OVER
        |        (PARTITION BY k ORDER BY dt ASC NULLS FIRST, id ASC NULLS FIRST
        |         ROWS UNBOUNDED PRECEDING) AS cum
        |       FROM d),
        |w2 AS (SELECT *, cum - least(min(cum) OVER
        |        (PARTITION BY k ORDER BY dt ASC NULLS FIRST, id ASC NULLS FIRST
        |         ROWS UNBOUNDED PRECEDING), 0) AS bal,
        |       CASE WHEN cum < least(coalesce(min(cum) OVER
        |        (PARTITION BY k ORDER BY dt ASC NULLS FIRST, id ASC NULLS FIRST
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), 0)
        |        THEN 1 ELSE 0 END AS hit
        |       FROM w1),
        |f AS (SELECT k, bal, row_number() OVER
        |       (PARTITION BY k ORDER BY dt DESC NULLS LAST, id DESC NULLS LAST) AS rn
        |      FROM w2),
        |a AS (SELECT k, max(bal) AS mx,
        |       CAST(sum(hit) AS BIGINT) AS fh
        |      FROM w2 GROUP BY k)
        |SELECT a.k AS custkey, CAST(f.bal AS BIGINT) AS final_balance,
        | CAST(a.mx AS BIGINT) AS max_balance,
        | a.fh AS floor_hits
        |FROM a JOIN f ON a.k = f.k AND f.rn = 1 ORDER BY custkey""".stripMargin,

    "q146_gini_concentration" ->
      """WITH r AS (SELECT lang, CAST(n_chars AS BIGINT) AS v,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS r
        |       FROM documents),
        |a AS (SELECT lang, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v,
        |       sum(CAST(r AS HUGEINT) * v) AS rw FROM r GROUP BY 1),
        |g AS (SELECT lang, n, sum_v,
        |       2 * rw - (CAST(n AS HUGEINT) + 1) * sum_v AS num,
        |       CAST(n AS HUGEINT) * sum_v AS den FROM a)
        |SELECT lang, n, sum_v,
        | CAST(num AS BIGINT) AS gini_num, CAST(den AS BIGINT) AS gini_den,
        | CASE WHEN den != 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS gini
        |FROM g ORDER BY lang""".stripMargin,

    "q147_embedding_audit" ->
      """WITH b AS (
        | SELECT CAST(label AS BIGINT) AS label,
        |  len(embedding) != 64 AS bad,
        |  len(list_filter(embedding, x -> isnan(x) OR NOT isfinite(x))) > 0 AS nf,
        |  list_sum(list_transform(embedding, x ->
        |   CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT) *
        |   CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS sq
        | FROM embeddings),
        |c AS (SELECT label, bad, nf,
        |       CASE WHEN NOT bad AND NOT nf THEN sq END AS csq FROM b)
        |SELECT label, count(*) AS n_vecs,
        | CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
        | CAST(sum(CASE WHEN nf THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
        | CAST(sum(CASE WHEN csq < 100000 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_zero,
        | CAST(min(csq) AS BIGINT) AS min_sq_norm,
        | CAST(max(csq) AS BIGINT) AS max_sq_norm
        |FROM c GROUP BY 1 ORDER BY label""".stripMargin,

    "q148_lang_confusion" -> PipelineQueries.q148Sql,

    "q149_autocorrelation" ->
      """WITH d AS (SELECT event_type AS et, epoch_ms(ts) // 86400000 AS day,
        |        CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS vm
        |       FROM events GROUP BY 1, 2),
        |l AS (SELECT k AS lag FROM (VALUES (1), (7)) t(k)),
        |p AS (SELECT a.et, l.lag, a.vm AS x, b.vm AS y
        |      FROM d a JOIN l ON true
        |      JOIN d b ON a.et = b.et AND b.day = a.day + l.lag),
        |s AS (SELECT et, lag, count(*) AS n,
        |       CAST(sum(x) AS BIGINT) sx, CAST(sum(y) AS BIGINT) sy,
        |       CAST(sum(x * x) AS BIGINT) sxx, CAST(sum(y * y) AS BIGINT) syy,
        |       CAST(sum(x * y) AS BIGINT) sxy
        |      FROM p GROUP BY 1, 2)
        |SELECT et AS event_type, CAST(lag AS BIGINT) AS lag, n,
        | CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n * syy - sy * sy AS DOUBLE)) = 0 THEN NULL
        |  ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |   (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |    sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) END AS r
        |FROM s ORDER BY event_type, lag""".stripMargin,

    "q150_cohort_value" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |        CAST(floor(value * 100) AS BIGINT) AS vc FROM events),
        |c AS (SELECT user_id, min(day) AS cd FROM e GROUP BY 1),
        |j AS (SELECT e.user_id, c.cd, e.day - c.cd AS age, e.vc
        |      FROM e JOIN c USING (user_id)),
        |g AS (SELECT cd, age, count(DISTINCT user_id) AS n_active,
        |       CAST(sum(vc) AS BIGINT) AS value_units FROM j GROUP BY 1, 2)
        |SELECT CAST(cd AS BIGINT) AS cohort_day, CAST(age AS BIGINT) AS age,
        | n_active, value_units,
        | CAST(sum(value_units) OVER (PARTITION BY cd ORDER BY age
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_value
        |FROM g ORDER BY cohort_day, age""".stripMargin,

    "q151_revenue_concentration" ->
      """WITH rev AS (SELECT c.c_nationkey AS nationkey, o.o_custkey AS custkey,
        |        CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
        |       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |h AS (SELECT nationkey, custkey, CAST(sum(cents) AS BIGINT) AS v
        |      FROM rev GROUP BY 1, 2),
        |t AS (SELECT nationkey, CAST(sum(v) AS BIGINT) AS tot,
        |       count(*) AS n_holders FROM h GROUP BY 1),
        |s AS (SELECT h.nationkey, h.v, t.tot, t.n_holders,
        |       (h.v * 1000000) // t.tot AS ppm,
        |       row_number() OVER (PARTITION BY h.nationkey
        |         ORDER BY h.v DESC, h.custkey) AS rk
        |      FROM h JOIN t ON h.nationkey = t.nationkey WHERE t.tot > 0)
        |SELECT nationkey, n_holders, tot AS total,
        | CAST(sum(ppm * ppm) AS BIGINT) AS hhi_ppm2,
        | CAST(sum(CASE WHEN rk <= 4 THEN ppm ELSE 0 END) AS BIGINT) AS crk_ppm
        |FROM s GROUP BY 1, 2, 3 ORDER BY nationkey""".stripMargin,

    "q152_share_of_parent" ->
      """WITH rev AS (SELECT r.r_name, n.n_name,
        |        CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
        |       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |       JOIN nation n ON c.c_nationkey = n.n_nationkey
        |       JOIN region r ON n.n_regionkey = r.r_regionkey),
        |g AS (SELECT r_name, n_name, CAST(sum(cents) AS BIGINT) AS cents
        |      FROM rev GROUP BY 1, 2),
        |w AS (SELECT *,
        |       CAST(sum(cents) OVER (PARTITION BY r_name) AS BIGINT) AS region_cents,
        |       CAST(sum(cents) OVER () AS BIGINT) AS total_cents FROM g)
        |SELECT r_name, n_name, cents, region_cents, total_cents,
        | CAST((cents * 1000000) // region_cents AS BIGINT) AS nation_share_ppm,
        | CAST((region_cents * 1000000) // total_cents AS BIGINT) AS region_share_ppm
        |FROM w ORDER BY r_name, n_name""".stripMargin,

    "q153_new_vs_returning" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS fd FROM e GROUP BY 1),
        |j AS (SELECT e.user_id, e.day, f.fd FROM e JOIN f USING (user_id))
        |SELECT CAST(day AS BIGINT) AS day,
        | count(DISTINCT user_id) AS n_users,
        | count(DISTINCT CASE WHEN day = fd THEN user_id END) AS n_new,
        | count(DISTINCT user_id) -
        |  count(DISTINCT CASE WHEN day = fd THEN user_id END) AS n_returning
        |FROM j GROUP BY day ORDER BY day""".stripMargin,

    "q154_recency_churn" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |l AS (SELECT user_id, max(day) AS ld FROM e GROUP BY 1),
        |r AS (SELECT user_id, (SELECT max(day) FROM e) - ld AS rec FROM l),
        |b AS (SELECT rec,
        |       CASE WHEN rec < 7 THEN 0 WHEN rec < 14 THEN 1
        |            WHEN rec < 30 THEN 2 ELSE 3 END AS bucket_id,
        |       CASE WHEN rec < 7 THEN 'active' WHEN rec < 14 THEN 'cooling'
        |            WHEN rec < 30 THEN 'at_risk' ELSE 'churned' END AS bucket
        |      FROM r)
        |SELECT CAST(bucket_id AS BIGINT) AS bucket_id, bucket,
        | count(*) AS n_users, CAST(min(rec) AS BIGINT) AS min_recency,
        | CAST(max(rec) AS BIGINT) AS max_recency
        |FROM b GROUP BY 1, 2 ORDER BY bucket_id""".stripMargin,

    "q155_sla_attainment" ->
      """WITH j AS (SELECT o.o_orderpriority AS priority,
        |        date_diff('day', o.o_orderdate, l.l_shipdate) AS d
        |       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT priority, count(*) AS n_lines,
        | CAST(sum(CASE WHEN d <= 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_7d,
        | CAST(max(d) AS BIGINT) AS max_delay_days,
        | CAST((sum(CASE WHEN d <= 7 THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS attain_ppm
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q156_pareto_k" ->
      """WITH rev AS (SELECT c.c_nationkey AS nationkey, o.o_custkey AS custkey,
        |        CAST(floor(o.o_totalprice * 100) AS BIGINT) AS cents
        |       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |h AS (SELECT nationkey, custkey, CAST(sum(cents) AS BIGINT) AS v
        |      FROM rev GROUP BY 1, 2),
        |t AS (SELECT nationkey, CAST(sum(v) AS BIGINT) AS tot,
        |       count(*) AS n_holders FROM h GROUP BY 1),
        |s AS (SELECT h.nationkey, t.tot, t.n_holders,
        |       CAST(row_number() OVER (PARTITION BY h.nationkey
        |         ORDER BY h.v DESC, h.custkey) AS BIGINT) AS rk,
        |       CAST(sum(h.v) OVER (PARTITION BY h.nationkey
        |         ORDER BY h.v DESC, h.custkey ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
        |      FROM h JOIN t USING (nationkey) WHERE t.tot > 0)
        |SELECT nationkey, n_holders, tot AS total,
        | CAST(min(rk) AS BIGINT) AS pareto_k
        |FROM s WHERE 10 * run >= 8 * tot GROUP BY 1, 2, 3
        |ORDER BY nationkey""".stripMargin,

    "q157_ngram_novelty" ->
      """WITH toks AS (SELECT doc_id // 50 AS batch,
        |        string_split_regex(trim(text), '\s+') tk FROM documents),
        |sh AS (SELECT batch,
        |  list_distinct([array_to_string(list_slice(tk, i, i + 2), ' ')
        |                 FOR i IN range(1, greatest(len(tk) - 1, 2))]) sh
        | FROM toks),
        |e AS (SELECT DISTINCT batch, unnest(sh) AS g FROM sh),
        |f AS (SELECT g, min(batch) AS fb FROM e GROUP BY 1)
        |SELECT CAST(e.batch AS BIGINT) AS batch, count(*) AS n_grams,
        | CAST(sum(CASE WHEN e.batch = f.fb THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        | CAST((sum(CASE WHEN e.batch = f.fb THEN 1 ELSE 0 END) * 1000000)
        |   // count(*) AS BIGINT) AS novelty_ppm
        |FROM e JOIN f USING (g) GROUP BY 1 ORDER BY 1""".stripMargin,

    "q158_key_health" ->
      """WITH
        |a1 AS (SELECT 'customer' AS table_name, 'c_custkey' AS key_name,
        |        (SELECT count(*) FROM customer) AS n_rows,
        |        (SELECT count(*) FROM customer WHERE c_custkey IS NULL) AS n_null,
        |        count(*) AS n_distinct, coalesce(max(n), 0) AS max_mult,
        |        coalesce(sum(n - 1), 0) AS n_extra
        |       FROM (SELECT c_custkey k, count(*) n FROM customer
        |             WHERE c_custkey IS NOT NULL GROUP BY 1)),
        |a2 AS (SELECT 'orders', 'o_custkey', (SELECT count(*) FROM orders),
        |        (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
        |        count(*), coalesce(max(n), 0), coalesce(sum(n - 1), 0)
        |       FROM (SELECT o_custkey k, count(*) n FROM orders
        |             WHERE o_custkey IS NOT NULL GROUP BY 1)),
        |a3 AS (SELECT 'lineitem', 'l_orderkey', (SELECT count(*) FROM lineitem),
        |        (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL),
        |        count(*), coalesce(max(n), 0), coalesce(sum(n - 1), 0)
        |       FROM (SELECT l_orderkey k, count(*) n FROM lineitem
        |             WHERE l_orderkey IS NOT NULL GROUP BY 1)),
        |a4 AS (SELECT 'lineitem', 'l_partkey', (SELECT count(*) FROM lineitem),
        |        (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL),
        |        count(*), coalesce(max(n), 0), coalesce(sum(n - 1), 0)
        |       FROM (SELECT l_partkey k, count(*) n FROM lineitem
        |             WHERE l_partkey IS NOT NULL GROUP BY 1)),
        |a5 AS (SELECT 'events', 'user_id', (SELECT count(*) FROM events),
        |        (SELECT count(*) FROM events WHERE user_id IS NULL),
        |        count(*), coalesce(max(n), 0), coalesce(sum(n - 1), 0)
        |       FROM (SELECT user_id k, count(*) n FROM events
        |             WHERE user_id IS NOT NULL GROUP BY 1)),
        |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL
        |      SELECT * FROM a3 UNION ALL SELECT * FROM a4 UNION ALL
        |      SELECT * FROM a5)
        |SELECT table_name, key_name, n_rows, CAST(n_null AS BIGINT) AS n_null,
        | n_distinct, CAST(max_mult AS BIGINT) AS max_mult,
        | CAST(CASE WHEN n_rows - n_null > 0
        |   THEN (n_extra * 1000000) // (n_rows - n_null) ELSE 0 END AS BIGINT) AS dup_ppm
        |FROM u ORDER BY table_name, key_name""".stripMargin,

    "q159_join_fanout" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS n FROM events
        |           WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT key, n AS n_left, n AS n_right, CAST(n * n AS BIGINT) AS fanout
        |FROM c ORDER BY fanout DESC, key LIMIT 20""".stripMargin,

    "q160_event_dedup_window" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms, event_id
        |           FROM events),
        |l AS (SELECT event_type, ms - lag(ms) OVER (PARTITION BY user_id,
        |        event_type ORDER BY ms, event_id) AS gap FROM e)
        |SELECT event_type, count(*) AS n_events,
        | CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 3600000
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
        | CAST((sum(CASE WHEN gap IS NOT NULL AND gap <= 3600000
        |   THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS dup_ppm
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,

    "q161_search_after" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms
        |           FROM events),
        |r AS (SELECT *, row_number() OVER (ORDER BY ms DESC, event_id DESC) rn
        |      FROM e),
        |cur AS (SELECT ms AS cms, event_id AS cid FROM r WHERE rn = 100)
        |SELECT e.event_id, e.user_id, e.event_type, e.ms
        |FROM e, cur WHERE e.ms < cur.cms OR (e.ms = cur.cms AND e.event_id < cur.cid)
        |ORDER BY e.ms DESC, e.event_id DESC LIMIT 50""".stripMargin,

    "q162_rolling_p95" ->
      """WITH e AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |        CAST(floor(value * 100) AS BIGINT) AS cents, event_id FROM events),
        |d AS (SELECT DISTINCT day AS d FROM e),
        |j AS (SELECT d.d, e.cents, e.event_id FROM e
        |      JOIN d ON e.day BETWEEN d.d - 6 AND d.d),
        |r AS (SELECT d, cents,
        |       row_number() OVER (PARTITION BY d ORDER BY cents, event_id) AS rn,
        |       count(*) OVER (PARTITION BY d) AS n FROM j)
        |SELECT CAST(d AS BIGINT) AS day, n AS n_events, cents AS p95_cents
        |FROM r WHERE rn = (95 * (n - 1)) // 100 + 1 ORDER BY day""".stripMargin,

    "q163_time_to_convert" ->
      """WITH s AS (SELECT user_id, min(epoch_ms(ts)) AS ms FROM events
        |           WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS pms FROM events e
        |      JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= s.ms
        |      GROUP BY 1)
        |SELECT CAST((p.pms - s.ms) // 86400000 AS BIGINT) AS days_to_convert,
        | count(*) AS n_users
        |FROM s JOIN p USING (user_id) GROUP BY 1 ORDER BY 1""".stripMargin,

    "q164_source_overlap" ->
      """WITH toks AS (SELECT source, string_split_regex(trim(text), '\s+') tk
        |              FROM documents),
        |sh AS (SELECT source,
        |  list_distinct([array_to_string(list_slice(tk, i, i + 2), ' ')
        |                 FOR i IN range(1, greatest(len(tk) - 1, 2))]) sh
        | FROM toks),
        |e AS (SELECT DISTINCT source, unnest(sh) AS g FROM sh),
        |na AS (SELECT source, count(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |       count(*) AS n_shared
        |      FROM e a JOIN e b ON a.g = b.g AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT p.source_a, p.source_b, p.n_shared, x.n AS n_a, y.n AS n_b,
        | CAST((p.n_shared * 1000000) // (x.n + y.n - p.n_shared) AS BIGINT)
        |   AS jaccard_ppm
        |FROM p JOIN na x ON p.source_a = x.source
        |JOIN na y ON p.source_b = y.source
        |ORDER BY source_a, source_b""".stripMargin,

    "q142_khop_reach" ->
      """WITH e0 AS MATERIALIZED (
        | SELECT DISTINCT x.l_partkey AS src, y.l_partkey AS dst
        | FROM lineitem x JOIN lineitem y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |adj AS MATERIALIZED (
        | SELECT src AS u, dst AS v FROM e0 UNION SELECT dst, src FROM e0),
        |h0 AS (SELECT p_partkey AS node FROM part WHERE p_partkey <= 5),
        |h1 AS MATERIALIZED (
        | SELECT DISTINCT v AS node FROM adj JOIN h0 ON adj.u = h0.node
        | WHERE v NOT IN (SELECT node FROM h0)),
        |h2 AS (
        | SELECT DISTINCT v AS node FROM adj JOIN h1 ON adj.u = h1.node
        | WHERE v NOT IN (SELECT node FROM h0) AND v NOT IN (SELECT node FROM h1))
        |SELECT node, CAST(0 AS BIGINT) AS hop FROM h0
        |UNION ALL SELECT node, CAST(1 AS BIGINT) FROM h1
        |UNION ALL SELECT node, CAST(2 AS BIGINT) FROM h2
        |ORDER BY node""".stripMargin,
  )
}
