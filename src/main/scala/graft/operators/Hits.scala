package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import GraphLoop.{advance, checkpoint, probe}

/** HITS hubs & authorities (Kleinberg) on a directed graph, kept in
  * exact integers: no per-round normalization — scores after k rounds
  * are the raw path-count sums (h₀ = 1; a ← Σ_in h; h ← Σ_out a),
  * which is the same ranking the normalized iteration produces (L¹
  * normalization is a positive scalar per round) but bit-exact on any
  * engine and unrollable as a SQL oracle. Growth is bounded by
  * (max degree)^(2k) — k=2 on integer-64 is safe for any graph whose
  * squared-degree sum fits, which a 100 TB bipartite purchase graph
  * does after the usual key-space projection; beyond that, swap to
  * DECIMAL(38,0) sums (the q134 convention).
  *
  * Per half-round: one equi-join of the edge list against the current
  * score frame (the |V|-bounded score side is the [[GraphLoop.probe]]
  * side) + one sum aggregation on uniform node keys. Like
  * [[PageRank]], rounds are a constant; the hub frame's lineage is
  * truncated every other round.
  */
object Hits {

  /** (node, hub, auth) after `rounds` full h→a→h updates. Nodes with
    * no outgoing edges have hub 0; no incoming, auth 0 (both appear if
    * they touch any edge).
    */
  def scores(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // the edge set is cached TWICE, hash-partitioned on each half-
    // round's join key (u for the hub→auth pass, v for auth→hub): every
    // half-round join then satisfies its distribution from the cache
    // and only the node-scale score frame moves. The dedup runs
    // partition-local on the by-`u` layout; the by-`v` copy re-reads
    // the first cache, not the source.
    GraphLoop.scoped { scope =>
      val eU = scope.persist(edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .repartition(col("u")).distinct())
      val eV = scope.persist(eU.repartition(col("v")))
      // Intermediate frames are NOT zero-filled against the node set: a
      // node missing from a score frame contributes exactly the 0 the
      // zero-filled row would — only the final output needs the fill.
      // Round 1's authority pass is algebraic (h0 = 1 everywhere makes
      // a1 = in-degree: one aggregation, no join — and exchange-free on
      // the by-`v` layout). Together with every-other-round truncation
      // this is the LabelProp constant-factor lesson applied to HITS.
      var auths = eV.groupBy(col("v").as("node")).agg(count(lit(1)).as("a"))
      var hubs = eV.join(probe(auths.withColumnRenamed("node", "v")), "v")
        .groupBy(col("u").as("node")).agg(sum(col("a")).as("h"))
      for (r <- 2 to rounds) {
        // the stale `auths` still naming the superseded hubs is
        // replaced below
        if (r % 2 == 0) hubs = advance(hubs, hubs)
        auths = eU.join(probe(hubs.withColumnRenamed("node", "u")), "u")
          .groupBy(col("v").as("node")).agg(sum(col("h")).as("a"))
        hubs = eV.join(probe(auths.withColumnRenamed("node", "v")), "v")
          .groupBy(col("u").as("node")).agg(sum(col("a")).as("h"))
      }
      val nodes = eU.select(col("u").as("node"))
        .union(eU.select(col("v"))).distinct()
      // the node-sized output, materialized before the scope releases
      // the edge caches it reads
      checkpoint(nodes
        .join(probe(hubs), Seq("node"), "left")
        .join(probe(auths), Seq("node"), "left")
        .select(col("node"), coalesce(col("h"), lit(0L)).as("hub"),
          coalesce(col("a"), lit(0L)).as("auth")))
    }
  }
}
