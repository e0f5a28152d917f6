package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis
import org.slf4j.LoggerFactory

/** Deduplication operators for training-data pipelines: exact,
  * normalization-fingerprint, MinHash+LSH near-dup, SimHash.
  *
  * Scale design: signatures (minhash arrays, simhash longs) are computed
  * ROW-LOCALLY with higher-order array functions — no shuffle, no UDF —
  * so the only shuffles are (a) the band-bucket exchange, whose keys are
  * uniformly-distributed hashes (no skew), and (b) the final anti-join.
  * Candidate verification touches only bucket-colliding pairs, never the
  * n² cross product. Oversized buckets (degenerate content) are dropped
  * by `maxBucketSize` — the standard LSH skew guard at 100 TB.
  */
object Dedup {

  private val log = LoggerFactory.getLogger(getClass)

  /** Exact dedup: one row per distinct key, keeping the lowest id.
    * Plain hash-aggregate: one shuffle on the key (map-side partials).
    * For very wide keys (full documents) dedup on md5(key) instead.
    */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Word k-shingles of a text column (distinct, order-preserving input). */
  def shingles(c: Column, k: Int): Column = {
    val toks = split(trim(c), "\\s+")
    array_distinct(
      transform(
        sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** Character n-grams of a text column (distinct) — the sub-word
    * granularity of the n-gram-Jaccard dedup family: robust to
    * tokenization differences and whitespace edits where word shingles
    * are not. Same end-clamp convention as [[shingles]] (short texts
    * contribute their full remainder).
    */
  def charShingles(c: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
        i => c.substr(i, lit(n))))

  /** MinHash signature: p pseudo-permutations; signature[i] = min over
    * shingles of xxhash64(i, xxhash64(s)) — ONE string hash per shingle,
    * then p cheap fixed-width integer mixes, run as a native codegen'd
    * primitive loop ([[graft.plans.MinHashSignature]]); only the
    * per-shingle string hash remains a Column transform.
    */
  def minhashSignature(shinglesCol: Column, p: Int): Column =
    graft.plans.GraftFunctions.minhash(transform(shinglesCol, s => xxhash64(s)), p)

  /** Interpreted higher-order-function twin of [[minhashSignature]] —
    * kept as the bit-equality cross-check for the native expression's
    * spec.
    *
    * Expression SHAPE was the round-2 performance model: higher-order
    * functions evaluate interpreted (no codegen, no common-subexpression
    * elimination), and any column referenced from p places gets INLINED
    * p times — so the only safe HOF shape is a SINGLE fold that
    * traverses the shingle array once, carrying a p-slot running-min
    * array. The naive `p × array_min(transform(...))` form re-evaluates
    * the whole shingle pipeline per permutation and measured 35× slower
    * end-to-end. The native expression removes the remaining
    * O(shingles × p) interpreted-frame cost.
    */
  def minhashSignatureHof(shinglesCol: Column, p: Int): Column =
    aggregate(
      transform(shinglesCol, s => xxhash64(s)),
      array_repeat(lit(Long.MaxValue), p),
      (acc, h) => zip_with(
        acc,
        transform(sequence(lit(0), lit(p - 1)), i => xxhash64(i, h)),
        (a, x) => least(a, x)))

  /** LSH band keys: split the signature into `bands` bands of `rows`
    * hashes; band key = hash of the band slice (+ band index so buckets
    * from different bands never merge).
    */
  def lshBandKeys(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), concat_ws(",", transform(slice(sig, b * rows + 1, rows), _.cast("string"))))
    }: _*)

  /** Candidate near-dup pairs from band-bucket collisions.
    * Input must carry `idCol` and `sigCol` (minhash signature).
    * Returns distinct (id_a, id_b) with id_a < id_b.
    *
    * `maxBucketSize` drops degenerate buckets (boilerplate/empty docs
    * that would explode quadratically) — at scale this is what keeps the
    * self-join bounded. The drop is NOT silent: an observed guard metric
    * ([[graft.operators.GuardMetrics]]) rides the action and logs a
    * warning whenever memberships were dropped, so recall loss on
    * degenerate content is visible without an extra job.
    */
  def lshCandidatePairs(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      bands: Int,
      rows: Int,
      maxBucketSize: Int = 1000): DataFrame = {
    val keyed = df
      .select(col(idCol).as("id"), lshBandKeys(col(sigCol), bands, rows).as("bk"))
      .select(col("id"), posexplode(col("bk")).as(Seq("band", "bucket")))
    val sizedRaw = keyed.withColumn("bsz", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bucket"))))
    def survivors(pre: DataFrame): DataFrame =
      pre.filter(col("bsz") <= maxBucketSize).drop("bsz")
    // the guard metric rides ONE side of the self-join only: a metric
    // node shared by both branches ends up inside the reused exchange
    // subtree and is silently dropped from the collected metrics — and
    // single-sided placement also counts each membership exactly once
    val a = survivors(
        graft.operators.GuardMetrics.observeLshDrops(sizedRaw, maxBucketSize))
      .select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = survivors(sizedRaw)
      .select(col("band"), col("bucket"), col("id").as("id_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact Jaccard similarity between two (distinct-element) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

  /** Estimated Jaccard from two minhash signatures: the fraction of
    * agreeing slots (unbiased estimator, stderr ≈ 1/√p). ~10× cheaper
    * than exact set intersection — used as a verification prefilter,
    * which runs ONCE PER CANDIDATE PAIR, so it is a native codegen'd
    * expression ([[graft.plans.ArraySigAgreement]]); at char-n-gram
    * granularity (high baseline similarity → millions of candidates)
    * the interpreted form dominated the whole pipeline.
    */
  def signatureAgreement(a: Column, b: Column): Column =
    graft.plans.ArraySigAgreement.sigAgreement(a, b)

  /** Interpreted HOF twin of [[signatureAgreement]] — bit-equality
    * cross-check for the native expression's spec.
    */
  def signatureAgreementHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), _ + _).cast("double") / size(a)

  /** Jaccard-verified near-duplicate pairs: MinHash-LSH candidates, then
    * exact shingle-jaccard on candidate pairs only. Returns
    * (id_a, id_b, jac) with id_a < id_b and jac ≥ threshold.
    *
    * Recall is governed by the (bands, rows) S-curve
    * `P(candidate) = 1-(1-j^rows)^bands`; the defaults (p=64, bands=16,
    * rows=4) put the curve's knee near j≈0.5. The boundary is NOT free:
    * at exactly j=0.8 the miss probability is (1-0.8^4)^16 ≈ 2.2e-4
    * (it drops below 1e-6 only for j ≳ 0.87), while j < 0.3 pairs
    * rarely reach verification. The actual recall gate is therefore
    * EMPIRICAL per dataset (the repo convention: verify against the
    * brute-force oracle at every SF — the planted near-dup pairs sit
    * well above the boundary). Precision is exact (jaccard is
    * recomputed).
    */
  def neardupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      p: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      maxBucketSize: Int = 1000,
      shingleFn: Option[Column => Column] = None,
      hashesFn: Option[Column => Column] = None): DataFrame = {
    require(p % bands == 0, "p must divide into bands evenly")
    // a custom hash source only makes sense against a matching custom
    // verify granularity — hashesFn alone would band on one gram space
    // and verify jaccard on another, silently collapsing recall
    require(hashesFn.isEmpty || shingleFn.isDefined,
      "hashesFn requires a matching shingleFn (same gram identities)")
    val rows = p / bands
    // shingle granularity is pluggable: word k-shingles by default,
    // charShingles(_, n) for the character-n-gram Jaccard family
    val mkShingles = shingleFn.getOrElse((c: Column) => shingles(c, shingleK))
    // default hash source: the native one-byte-pass word-shingle hasher
    // (bit-identical values to xxhash64 of the HOF shingle strings,
    // WordShingleHashSpec; multiset not set — MinHash's per-slot min is
    // duplicate-insensitive). The HOF fallback only runs for custom
    // shingleFns without a matching hashesFn.
    val defaultHashes: Column => Column =
      if (shingleFn.isEmpty) c => graft.plans.GraftFunctions.wordShingleHashes(c, shingleK)
      else c => transform(mkShingles(c), s => xxhash64(s))
    // signature hash source: a caller-supplied native hasher (e.g.
    // graft_ngram_hashes) must hash the same gram identities as its
    // shingleFn; duplicates are fine, the per-slot min is
    // multiset-insensitive
    val mkHashes = hashesFn.getOrElse(defaultHashes)
    // Spread the signature computation: a small source file arrives as
    // ONE input partition, which would serialize the (CPU-heavy) shingle
    // hashing on a single core. One cheap round-robin exchange of the
    // raw docs buys full-width parallelism — at cluster scale the input
    // already has many splits and this is a near-no-op rebalance.
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    // MATERIALIZE the (id, text, signature) table: it is consumed from
    // three plan branches (band explode + both verify sides), and
    // without a hard barrier Catalyst re-inlines the whole hash pipeline
    // into each (HOFs get no codegen/CSE — recompute measured ~7× the
    // cost). Verify SHINGLES are deliberately NOT materialized here:
    // only candidate rows ever need them (computed inline at verify
    // time), so the cached artifact stays narrow — at char-n-gram
    // granularity the full shingle arrays are ~the corpus size again.
    // localCheckpoint, not persist: same eager materialization, but the
    // downstream consumers exchange this table several times with
    // canonically-equal subtrees, and AQE only deduplicates exchanges
    // over checkpointed (LogicalRDD) sources — a persisted source wraps
    // each in TableCacheQueryStage, which defeats reuse (probed; see
    // Triangles).
    val withSig = spread
      .withColumn("__sig", graft.plans.GraftFunctions.minhash(mkHashes(col(textCol)), p))
      .select(col(idCol), col(textCol), col("__sig"))
      .localCheckpoint(true)
    val cands = lshCandidatePairs(withSig, idCol, "__sig", bands, rows, maxBucketSize)
    val side = withSig.select(col(idCol).as("__jid"), col(textCol).as("__jtxt"), col("__sig"))
    // Verification staging: the signature-agreement estimate (p long
    // compares) kills ~all false band collisions BEFORE the exact
    // set-intersection jaccard runs — the `&&` short-circuits row-wise.
    // Estimator sd at p=64 is √(j(1−j)/p) ≈ 0.05, so the 0.3 margin is a
    // 6σ cut: P(false kill of a true ≥threshold pair) ≈ 1e-9 per pair,
    // while j<0.3 noise (≥6σ below the floor) still ~never reaches the
    // exact verify. Precision stays exact (jaccard is recomputed).
    val estFloor = math.max(0.0, threshold - 0.3)
    val shA = mkShingles(col("sa.__jtxt"))
    val shB = mkShingles(col("sb.__jtxt"))
    // both verify sides join the IDENTICAL projection of the signature
    // table (alias-only disambiguation, renames deferred to the final
    // select): the old per-side renamed projections exchanged the
    // signature table twice; with canonically-equal subtrees the second
    // exchange/build is reused.
    cands
      .join(side.as("sa"), cands("id_a") === col("sa.__jid"))
      .join(side.as("sb"), cands("id_b") === col("sb.__jid"))
      .filter(signatureAgreement(col("sa.__sig"), col("sb.__sig")) >= estFloor &&
        jaccard(shA, shB) >= threshold)
      // shingles + jaccard intentionally computed HERE, for est-passing
      // candidates and survivors only (a handful of rows): hoisting them
      // into withColumns would evaluate them for every candidate,
      // defeating the short-circuiting est-prefilter above.
      .select(col("id_a"), col("id_b"), jaccard(shA, shB).as("jac"))
  }

  /** Full MinHash near-dup dedup: returns the surviving rows of `df`.
    * A doc is dropped iff it has jaccard ≥ threshold with ANY lower-id
    * doc — a deterministic keep-lowest-id policy. NOTE this is
    * per-pair, not connected-component: if A~B and B~C but A≁C, both B
    * and C are dropped (C for matching the already-dropped B). That is
    * the documented semantics (it matches the DuckDB oracle's
    * "drop id_b of every qualifying pair" exactly and needs no
    * iterative connectivity pass at scale).
    */
  def minhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      p: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val verified = neardupPairs(df, idCol, textCol, shingleK, p, bands, threshold)
    val drops = verified.select(col("id_b").as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Oracle-replicable 60-bit hash: top 15 hex digits of md5, parsed to
    * long (always positive, < 2^60). DuckDB computes the identical value
    * via `CAST(concat('0x', substring(md5(x),1,15)) AS BIGINT)`, so
    * simhash results built on it can be verified exactly. xxhash64 stays
    * the default production hash (cheaper, full 64 bits).
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** SimHash over an element array: each element's `bits`-bit hash votes
    * ±1 per bit position; the sign of the vote sum sets the output bit.
    * Row-local, no shuffle, no UDF. The vote fold runs as a native
    * codegen'd expression ([[graft.plans.SimHashVotes]]) — the HOF form
    * ([[simhashOfHof]]) carries O(elements × bits) interpreted lambda
    * frames and measured ~5× slower at bench scale; only the per-element
    * hash (`hashFn`) remains a composable Column transform.
    */
  def simhashOf(elems: Column, hashFn: Column => Column, bits: Int): Column =
    graft.plans.GraftFunctions.simhash(transform(elems, hashFn), bits)

  /** Interpreted higher-order-function twin of [[simhashOf]] — kept as
    * the bit-equality cross-check for the native expression's spec.
    */
  def simhashOfHof(elems: Column, hashFn: Column => Column, bits: Int): Column = {
    val votes = aggregate(
      elems,
      array_repeat(lit(0L), bits),
      (acc, t) => {
        val h = hashFn(t)
        zip_with(
          acc,
          transform(sequence(lit(0), lit(bits - 1)),
            i => when(call_function("shiftright", h, i).bitwiseAND(1) === 1, lit(1L))
              .otherwise(lit(-1L))),
          (a, v) => a + v)
      })
    aggregate(
      zip_with(votes, sequence(lit(0), lit(bits - 1)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L),
      (acc, x) => acc.bitwiseOR(x))
  }

  /** Default 64-bit SimHash of a text column over its distinct
    * whitespace tokens (xxhash64 element hash).
    */
  def simhash(c: Column): Column =
    simhashOf(array_distinct(split(trim(c), "\\s+")), xxhash64(_), 64)

  /** Hamming distance between two simhash values. */
  def hammingDist(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b)).cast("long")

  /** Split a `bits`-bit simhash into `bands` contiguous chunks (first
    * `bits % bands` bands get the extra bit). Returns an array of band
    * keys; join on (band index, key) via posexplode.
    */
  def simhashBandKeys(sig: Column, bands: Int, bits: Int): Column = {
    require(bands >= 1 && bands <= bits,
      s"bands ($bands) must be in [1, bits=$bits] — zero-width bands collide everything")
    val base = bits / bands
    val rem = bits % bands
    val sizes = Seq.tabulate(bands)(i => if (i < rem) base + 1 else base)
    val offsets = sizes.scanLeft(0)(_ + _)
    array(Seq.tabulate(bands) { i =>
      // (1L << 64) wraps to 1 — a full-width band must mask to all ones
      val mask = if (sizes(i) >= 64) -1L else (1L << sizes(i)) - 1L
      shiftright(sig, offsets(i)).bitwiseAND(lit(mask))
    }: _*)
  }

  /** Per-band bit widths for a `bits`-bit signature split into `bands`
    * contiguous chunks (the [[simhashBandKeys]] layout: first
    * `bits % bands` bands carry the extra bit).
    */
  private def bandSizes(bits: Int, bands: Int): Seq[Int] = {
    val base = bits / bands
    val rem = bits % bands
    Seq.tabulate(bands)(i => if (i < rem) base + 1 else base)
  }

  /** Union-bound predicted candidate-pair volume of the generalized-
    * pigeonhole banding over `n` uniformly-distributed `bits`-bit
    * signatures: sum over the C(bands, r) intact-band combinations of
    * `2^(−combo width) · C(n,2)`. An upper bound (a pair colliding on
    * several combos is counted once per combo, and real corpora are
    * denser than uniform near their duplicates), but it is exactly the
    * quantity that went quadratic at sf3 (q19: predicted 3.1e9 at r=1 /
    * 7.2e8 at r=2 vs measured 3.06e9 / 7.6e8 — the uniform model is
    * tight here because band keys are md5/xxhash bits).
    */
  def simhashCandidateVolume(n: Long, bits: Int, maxHamming: Int, intactBands: Int): Double = {
    val bands = maxHamming + intactBands
    require(intactBands >= 1 && bands <= bits,
      s"invalid banding: maxHamming=$maxHamming intactBands=$intactBands bits=$bits")
    val sizes = bandSizes(bits, bands)
    val pairs = n.toDouble * (n - 1).toDouble / 2.0
    val selectivity = (0 until bands).combinations(intactBands)
      .map(c => math.pow(2.0, -c.map(sizes).sum.toDouble)).sum
    math.min(selectivity, 1.0) * pairs
  }

  /** Number of combo keys each row explodes into at a given banding:
    * C(maxHamming + intactBands, intactBands).
    */
  def simhashComboCount(maxHamming: Int, intactBands: Int): Long =
    (0 until (maxHamming + intactBands)).combinations(intactBands).size.toLong

  /** Pick the cost-minimizing `intactBands` for a corpus of `n`
    * signatures — the volume-side twin of [[graft.similarity.Similarity]]'s
    * recall-side check, added after two consecutive scale sweeps
    * (sf1: cosine r-defaults, sf10: q19's static r = 2) found static
    * banding parameters meeting a bigger N.
    *
    * Cost model: `n · C(bands, r) · rowCost` (exploding, shuffling and
    * hashing each row's combo keys on both sides of the self-join) plus
    * [[simhashCandidateVolume]] (each candidate = one hash-join probe +
    * popcount verify). `rowCost` ≈ 10 candidate-equivalents per exploded
    * row, from the sf3/sf10 measurements (candidates stream at ~40M
    * pairs/s; the keyed exchange at ~4M rows/s/core wall-clock including
    * both sides and the distinct) — the optimum is flat within ~2×, so
    * the constant's precision barely moves the choice. Raising r trades
    * linear exploded-row cost for a geometric candidate cut, so the
    * chosen r grows with n: ~500 rows → 1, 150k → 3, 500k (sf10) → 3.
    * `maxCombos` bounds the explosion fan-out (C(bands, r) keys/row).
    */
  def autoIntactBands(
      n: Long,
      bits: Int,
      maxHamming: Int,
      rowCost: Double = 10.0,
      maxCombos: Int = 4096): Int = {
    val feasible = Iterator.from(1)
      .takeWhile(r => maxHamming + r <= bits && simhashComboCount(maxHamming, r) <= maxCombos)
      .toSeq
    require(feasible.nonEmpty,
      s"no feasible banding: maxHamming=$maxHamming leaves no room under bits=$bits")
    if (n <= 1) return feasible.head
    feasible.minBy { r =>
      n.toDouble * simhashComboCount(maxHamming, r) * rowCost +
        simhashCandidateVolume(n, bits, maxHamming, r)
    }
  }

  /** SimHash near-dup pairs (Manku et al.'s banded search, generalized
    * pigeonhole): with `bands = maxHamming + intactBands`, any pair
    * within `maxHamming` bit flips touches at most `maxHamming` bands,
    * leaving at least `intactBands` untouched — so keying each row by
    * every `intactBands`-combination of its band buckets gives FULL
    * recall (some all-intact combination collides), and the verify step
    * (exact popcount on two longs) makes precision exact. The only
    * shuffle is the combo-key exchange on uniformly-hashed keys.
    *
    * `intactBands` is the selectivity knob: candidate volume ≈
    * C(bands, r) · 2^(−r·bits/bands) · C(N,2) for r = intactBands.
    * The default r = 1 is classic Manku banding. Raise r when the ball
    * is wide relative to the signature — e.g. 60 bits at hamming ≤ 10:
    * r = 1 gives 11 bands of 5-6 bits (selectivity ≈ 0.5 — HALF of all
    * pairs collide somewhere, quadratic with a useless constant); r = 2
    * gives 12 bands keyed by C(12,2) = 66 ten-to-eleven-bit pairs
    * (selectivity ≈ 6%), at the price of 6× more exploded key rows —
    * rows scale linearly, candidates quadratically, so the trade wins
    * asymptotically. Measured on q19 at the sf3 point (150k docs):
    * candidates 3.06e9 → 7.6e8 (the skew-free kind — top bucket 389
    * rows), warm 39.5 → 26.4 s with the hashed key; the remainder is
    * signature compute (linear, ~7 s) plus candidate streaming at
    * ~40M pairs/s, i.e. the operator's documented quadratic-with-
    * tunable-constant scan nature — at loose thresholds and large N
    * prefer the segment/minhash or indexed paths.
    *
    * A STATIC r is a scale trap (the sf10 sweep caught r = 2 going 7.7×
    * on 3.33× the sf3 data — the volume formula's quadratic term at
    * fixed parameters): prefer [[simhashNearDupPairsAuto]], which
    * derives r from the actual corpus size, or pass `estimatedRows` to
    * fail fast when the predicted volume exceeds `budgetPerRow`
    * candidates per input row.
    *
    * Calling this without `estimatedRows` skips BOTH protections that
    * depend on the corpus size: the scale-adaptive partition sizing of
    * the pinned shuffled-hash join (at most ~128k build rows per
    * partition; without it the unspillable build stays at the session's
    * shuffle.partitions and can fail with "Can't acquire … bytes to
    * build hash relation" once the corpus grows) and the volume
    * fail-fast above. Every caller in `src/main` goes through
    * [[simhashNearDupPairsAuto]], which passes `estimatedRows`.
    *
    * Returns (id_a, id_b, hamming), id_a < id_b, hamming ≤ maxHamming —
    * IDENTICAL output for every valid (r, budget) choice; the knobs only
    * move cost.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      bits: Int = 64,
      intactBands: Int = 1,
      estimatedRows: Option[Long] = None,
      budgetPerRow: Double = 5e4): DataFrame = {
    require(intactBands >= 1, "intactBands must be >= 1")
    val bands = maxHamming + intactBands
    require(bands <= bits,
      s"maxHamming + intactBands ($bands) exceeds bits ($bits) — " +
        "zero-width bands collide everything")
    // volume-side fail-fast (sf10 lesson, the twin of the cosine
    // recall-side check): a static banding that was fine at test scale
    // goes quadratic when N grows — when the caller knows the corpus
    // size, reject a banding whose PREDICTED candidate volume exceeds
    // budgetPerRow candidates per input row (at ~40M verified pairs/s,
    // the 5e4 default ≈ 1.25 ms/row — past that the scan path is the
    // wrong tool vs the segment/minhash or partitioned-index paths)
    estimatedRows.filter(_ > 1).foreach { n =>
      val vol = simhashCandidateVolume(n, bits, maxHamming, intactBands)
      require(vol <= budgetPerRow * n,
        f"simhash banding too loose for corpus size: predicted candidate volume " +
          f"$vol%.3g = C($bands,$intactBands)·2^(−comboWidth)·C($n,2) exceeds " +
          f"budget ${budgetPerRow * n}%.3g ($budgetPerRow%.0f candidates/row at n=$n). " +
          f"Raise intactBands (autoIntactBands(n, bits, maxHamming) = " +
          f"${autoIntactBands(n, bits, maxHamming)}), raise bits, or use " +
          "simhashNearDupPairsAuto")
    }
    // the combo key is HASHED to one long (xxhash64 over comboIdx +
    // the r band buckets) instead of carried as a struct: a struct join
    // key costs ~3-4× in the join hot path (measured 21 vs 77M pairs/s
    // at sf3), and a 64-bit hash collision can only ADD a candidate
    // pair — the exact popcount verify removes it, so recall and
    // output stay exact
    val combos = (0 until bands).combinations(intactBands).toSeq
    val comboKeys = array(combos.zipWithIndex.map { case (c, ci) =>
      xxhash64((lit(ci) +: c.map(bandIdx =>
        element_at(col("bk"), bandIdx + 1))): _*)
    }: _*)
    val keyedBase = df
      .select(col(idCol).as("id"), col(sigCol).as("sig"),
        simhashBandKeys(col(sigCol), bands, bits).as("bk"))
      .select(col("id"), col("sig"), explode(comboKeys).as("bucket"))
    // SCALE-ADAPTIVE partitioning for the pinned shuffled-hash join: a
    // shuffled-hash build side cannot spill, and the exploded frame is
    // n·C(bands,r) rows — at the session's fixed shuffle.partitions a
    // build partition grows linearly with the corpus until the hashed
    // relation no longer fits a task's execution-memory share (q19 at
    // the sf10 point, 33M exploded rows over 32 partitions, died with
    // "Can't acquire 134217728 bytes to build hash relation"). When the
    // caller supplies the corpus size, repartition the exploded frame
    // by bucket so each build stays ~128k rows (~16 MB hashed): both
    // self-join sides are the identical subtree, so this is still ONE
    // exchange (reused), now sized to the data instead of the machine.
    val buildRowsPerPartition = 131072L
    val keyed = estimatedRows.filter(_ > 1) match {
      case Some(n) =>
        val exploded = n * combos.size
        val sessionParts = df.sparkSession.conf
          .get("spark.sql.shuffle.partitions").toInt
        val parts = math.max(sessionParts.toLong,
          (exploded + buildRowsPerPartition - 1) / buildRowsPerPartition)
        if (parts > sessionParts)
          keyedBase.repartition(parts.toInt, col("bucket"))
        else keyedBase
      case None => keyedBase
    }
    // PIN the join strategy: the exploded sides inherit the signature
    // frame's sizeInBytes (Generate doesn't inflate stats), so once the
    // input is a materialized cache — which simhashNearDupPairsAuto's
    // count() guarantees — the planner sees "8 MB" where n·C(bands,r)
    // rows actually flow and broadcasts the whole exploded side to the
    // driver (observed at sf10: 33M rows, 1 GB collect, maxResultSize
    // abort). Shuffled-hash on uniformly-hashed bucket keys is the
    // right plan at every N; never let stats pick broadcast here.
    // Alias-only self-join (renames deferred to the select): both sides
    // are the IDENTICAL exploded subtree, so the combo-key exchange is
    // computed once and reused by the probe side — the old renamed
    // projections (id_a/sig_a vs id_b/sig_b) ran the explode+exchange
    // twice (over a checkpointed signature frame; a persisted one
    // blocks the reuse entirely, see the neardupPairs note).
    keyed.as("ka").hint("shuffle_hash")
      .join(keyed.as("kb"), col("ka.bucket") === col("kb.bucket"))
      .filter(col("ka.id") < col("kb.id"))
      .select(col("ka.id").as("id_a"), col("kb.id").as("id_b"),
        hammingDist(col("ka.sig"), col("kb.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** [[simhashNearDupPairs]] with `intactBands` derived from the actual
    * corpus size ([[autoIntactBands]]) — the default entry point: static
    * banding parameters are what went quadratic at the sf1 (cosine
    * defaults) and sf10 (q19's r = 2) scale sweeps, because candidate
    * volume is `C(bands,r)·2^(−r·bits/bands)·C(N,2)` — quadratic in N at
    * FIXED r, while the optimal r grows with N. Recall is full at every
    * valid r (the pigeonhole guarantee is r-independent) and the verify
    * popcount keeps precision exact, so the output is IDENTICAL for any
    * choice — auto-tuning is purely a cost decision and oracle-safe.
    *
    * Costs one `count()` of `df` — persist the signature frame first
    * (every call site materializes it for the two-sided band join
    * anyway), which makes the count a metadata-cheap cached pass.
    */
  def simhashNearDupPairsAuto(
      df: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      bits: Int = 64): DataFrame = {
    val n = df.count()
    val r = autoIntactBands(n, bits, maxHamming)
    val vol = if (n > 1) simhashCandidateVolume(n, bits, maxHamming, r) else 0.0
    log.info(
      f"simhashNearDupPairsAuto: n=$n bits=$bits maxHamming=$maxHamming → " +
        f"intactBands=$r (${simhashComboCount(maxHamming, r)} combo keys/row, " +
        f"predicted candidates $vol%.3g)")
    // budget check intentionally re-applied: if even the OPTIMAL banding
    // exceeds the per-row budget the corpus has outgrown the scan path —
    // fail with the full formula rather than run for hours
    simhashNearDupPairs(df, idCol, sigCol, maxHamming, bits, r,
      estimatedRows = Some(n))
  }
}
