package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
import GraphLoop.{advance, checkpoint}

/** k-core decomposition membership: iteratively peel nodes of degree
  * < k until the remaining subgraph is stable — the standard
  * "dense cohesive subgraph" extractor (spam/bot rings, co-purchase
  * cores, collaboration cliques) and the graph-robustness complement
  * of [[Triangles]]' local view.
  *
  * Peeling is a monotone fixpoint: each round recomputes degrees (one
  * union + hash-agg on node ids) and keeps edges whose BOTH endpoints
  * meet the bar (two joins on node ids). Rounds beyond the fixpoint
  * are no-ops, so "run until stable" and "run R ≥ fixpoint rounds"
  * agree — which is what lets a non-recursive SQL oracle unroll a
  * fixed R and still match. Round count is bounded by the peeling
  * depth (typically ≪ 10 on heavy-tailed graphs; `maxRounds` guards
  * pathological chains). Each round is an eager, serialized
  * [[GraphLoop.advance]] — the survivor frame is edge-scale, and an
  * untruncated plan grows geometrically.
  */
object KCore {

  /** (node, core_deg) for every node of the k-core (its degree WITHIN
    * the core, ≥ k by construction). Direction/duplicate edges are
    * ignored; self-loops dropped. Empty result when no core survives.
    */
  def core(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxRounds: Int = 40): DataFrame = {
    require(k >= 1, "k must be >= 1")
    var e = checkpoint(GraphLoop.canonical(edges, srcCol, dstCol), MEMORY_AND_DISK_SER)

    def degrees(cur: DataFrame): DataFrame =
      cur.select(col("a").as("node")).union(cur.select(col("b")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))

    var prev = -1L
    var cur = e.count()
    var round = 0
    while (cur != prev && round < maxRounds) {
      // the surviving-degree frame is |V|-bounded and SHRINKS as rounds
      // peel; under the edge budget it is broadcast to both endpoint
      // filters so the edge frame never shuffles inside the loop.
      val d = GraphLoop.broadcastUnder(degrees(e).filter(col("deg") >= k), cur)
      // both endpoint filters join the IDENTICAL surviving-node subplan
      // (alias-only disambiguation): the renamed projections (node→a /
      // node→b) of the round-10 shape made the two broadcast children
      // canonically unequal, so every round aggregated, built and
      // broadcast the degree frame TWICE; ReuseExchange now collapses
      // the second build per round.
      val dn = d.select(col("node"))
      val joined = e
        .join(dn.as("d1"), col("a") === col("d1.node"))
        .join(dn.as("d2"), col("b") === col("d2.node"))
        .select(col("a"), col("b"))
      // eager-truncate EVERY round (revised from the round-8 alternate
      // persist scheme): exchange reuse only fires over checkpointed
      // (LogicalRDD) sources — a persisted off-round wraps the next
      // round's degree subtree in TableCacheQueryStage, which AQE will
      // not deduplicate, re-running the degree aggregation twice. One
      // checkpoint job per round (degree agg + one broadcast + the
      // filter joins) plus a block-local count is the round floor.
      e = advance(e, joined, MEMORY_AND_DISK_SER)
      prev = cur
      cur = e.count()
      round += 1
    }
    require(cur == prev, s"k-core did not stabilize in $maxRounds rounds")
    degrees(e).select(col("node"), col("deg").as("core_deg"))
  }
}
