package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over a directed edge list, in EXACT integer arithmetic.
  *
  * Rank mass is carried as BIGINT units of `scale` (default 1e12), and
  * every redistribution step is integer division (`div`), so partial
  * sums are order-independent and a cross-engine oracle can replay the
  * iterations bit-for-bit — the same integerize-the-math convention the
  * q67 z-scores and q69 centroids use. One recurrence covers the four
  * variants (plain, personalized, weighted, weighted-personalized).
  * With a seed set S (every node when no seeds are given) and edge
  * weights w (1 on every edge when unweighted), per iteration:
  *
  *   share(u→v) = (r(u) · w(u→v)) div W(u),  W(u) = Σ out-weights
  *   dangShare  = (Σ r(u) over nodes with no out-edge) div |S|
  *   r'(v)      = base(v) + (dampNum · (Σ share(u→v)
  *                  + [v ∈ S] · dangShare)) div dampDen
  *   r0(v)      = scale div |S| if v ∈ S else 0
  *   base(v)    = ((dampDen − dampNum) · r0(v)) div dampDen
  *
  * i.e. damped PageRank whose teleport and dangling mass return
  * uniformly to the seeds, truncated (never rounded) at each division.
  * With unit weights `(r · 1) div W(u)` is `r div outdeg(u)`, and with
  * every node a seed `|S| = N`: the plain recurrence. Total mass drifts
  * below `scale` only by the truncation remainders — bounded by N + E
  * units per iteration, checked in the spec.
  *
  * Scale shape: a fixed number of iterations, each = one join of the
  * weighted edge set with the rank frame on the source key plus one
  * aggregation on the destination key — the Pregel contribution-
  * exchange shape. Edges are prepared, repartitioned on src ONCE and
  * joined to their source's weight total before the loop, so every
  * iteration's probe join hashes against the same layout; ranks (≤ one
  * row per node) are the only thing re-exchanged. The dangling sum is
  * a 1-row aggregate broadcast back via crossJoin — no per-iteration
  * driver round-trip beyond the lineage-truncation barrier itself. No
  * diameter dependence, no driver-side graph state; rounds =
  * `iterations`, known up front.
  */
object PageRank {

  /** Iterations between hard truncations of the rank frame's lineage.
    * Its plan grows ~3× per iteration; per-iteration eager checkpoints
    * made the whole run 5× slower at 3 iterations, while pure laziness
    * lets Catalyst reuse the per-iteration exchanges inside one job.
    */
  private val TruncateEvery = 4

  /** (node, rank) with rank in integer `scale` units. Nodes appearing
    * only as destinations are ranked too (they dangle).
    *
    * Unweighted (`weightCol = None`): duplicate edges collapse
    * (simple-graph semantics) and self-loops count as ordinary
    * out-edges. Weighted: parallel edges merge by weight sum, edges
    * with weight ≤ 0 are dropped, and the weight envelope is enforced —
    * `r` is bounded by `scale`, so the int64 product `r * w` requires
    * max(merged w) ≤ Long.Max / scale (about 9.2e6 at the default
    * scale). A one-row check on the persisted edge frame fails loudly
    * instead of letting the product wrap; heavier graphs should pass a
    * smaller `scale`.
    *
    * `seeds` is a frame with one id column: teleport and dangling mass
    * go to its ids that are graph nodes (trust/relevance propagation
    * from a trusted subset). The seed flag rides the node frame, no
    * extra exchanges. Without seeds every node is one.
    *
    * Static frames (edges, weight totals, nodes) persist through a
    * [[GraphLoop.Scope]], released however the call ends; the output
    * is materialized before they are, so it holds no cache behind it.
    */
  def ranks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int,
      weightCol: Option[String] = None,
      seeds: Option[DataFrame] = None,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampNum >= 0 && dampNum <= dampDen, "damping must be in [0, 1]")
    require(seeds.forall(_.columns.length == 1), "seeds must have exactly one id column")
    val ends = Seq(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
    GraphLoop.scoped { scope =>
      val e = scope.persist(weightCol match {
        case None =>
          edges.select(ends: _*).repartition(col("src")).distinct().withColumn("w", lit(1L))
        case Some(w) =>
          edges.select(ends :+ col(w).cast("long").as("w"): _*)
            .filter(col("w") > 0L)
            .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
            .repartition(col("src"))
      })
      if (weightCol.isDefined) {
        // one bounded 1-row scalar off the persisted edge frame; a wrap in
        // r * w would otherwise corrupt every downstream rank silently
        val maxW = e.agg(coalesce(max(col("w")), lit(0L))).head.getLong(0)
        require(maxW <= Long.MaxValue / scale,
          s"max merged edge weight $maxW overflows int64 shares at scale=" +
            s"$scale (limit ${Long.MaxValue / scale}); pass a smaller scale")
      }
      val outw = scope.persist(e.groupBy("src").agg(sum(col("w")).as("ws")))
      val ew = scope.persist(e.join(outw, "src"))
      val nodes = e.select(col("src").as("node")).union(e.select(col("dst"))).distinct()
      val marked = scope.persist(seeds match {
        case None => nodes
        case Some(s) =>
          nodes.join(s.select(col(s.columns.head).cast("long").as("node"))
              .distinct().withColumn("__s", lit(1L)), Seq("node"), "left")
            .select(col("node"), coalesce(col("__s"), lit(0L)).as("seed"))
      })
      // without seeds the flag is the literal `true`, which the optimizer
      // folds away: no seed column, no CASE in the plain plans
      val seedSql = if (seeds.isEmpty) "true" else "seed = 1"
      val seeded = expr(seedSql)

      // |S| and the two literals derived from it are scalars fixed for the
      // whole run — the one driver-side value this operator ever sees
      val nS = marked.filter(seeded).count()
      require(nS >= 1,
        if (seeds.isEmpty) "graph has no nodes: no edges" +
          weightCol.fold("")(_ => " with weight > 0")
        else "seed set must intersect the graph's node set")
      val r0 = scale / nS
      val base = (dampDen - dampNum) * r0 / dampDen

      var ranks = marked.withColumn("r", when(seeded, lit(r0)).otherwise(lit(0L)))
      for (it <- 1 to iterations) {
        val contrib = ew.join(ranks, ew("src") === ranks("node"))
          .select(col("dst").as("cnode"), expr("(r * w) div ws").as("sh"))
          .groupBy(col("cnode")).agg(sum(col("sh")).as("contrib"))
        // nodes with no out-edge: their whole mass returns to the seeds
        val dangling = ranks.join(outw, ranks("node") === outw("src"), "left_anti")
          .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
        // the output base is the STATIC persisted node frame — the node
        // set never changes across iterations, and basing the join on
        // ranks.select("node") re-ran the whole growing rank lineage a
        // third time per iteration (measured: 40 jobs / 46 s task time
        // against 27 / 16.5 s)
        ranks = marked
          .join(contrib, col("node") === col("cnode"), "left")
          .crossJoin(broadcast(dangling))
          .select(marked.columns.map(col) :+
            (when(seeded, lit(base)).otherwise(lit(0L)) + expr(
              s"($dampNum * (coalesce(contrib, 0L) + " +
                s"(CASE WHEN $seedSql THEN dang div $nS ELSE 0 END))) div $dampDen"))
              .as("r"): _*)
        if (it % TruncateEvery == 0 && it < iterations) ranks = GraphLoop.advance(ranks, ranks)
      }
      // the node-sized output, materialized before the scope releases
      // the static frames it reads
      GraphLoop.checkpoint(ranks.select(col("node"), col("r").as("rank")))
    }
  }
}
