package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import GraphLoop.{advance, checkpoint, probe}

/** Bounded-hop single-source-set weighted shortest paths (distributed
  * Bellman-Ford): `rounds` synchronous relaxations of integer edge
  * weights from a seed set. After round k every node holds the exact
  * minimum-weight path cost over paths of ≤ k edges — deterministic,
  * integer-exact, and unrollable as a SQL oracle round for round.
  *
  * Each relaxation is one equi-join of the current distance frame
  * against the symmetric weighted adjacency (uniform node keys) plus a
  * min-aggregation — O(|E|) per round like [[Bfs]], with the same
  * lineage-truncation discipline. Unlike BFS's frontier optimization,
  * Bellman-Ford must re-relax every labeled node each round (a longer
  * path found later may still be cheaper), so the join carries the
  * full distance frame; the hop bound keeps that cost deterministic.
  *
  * The weighted adjacency is laid out once on the probe key and the
  * distance frame is the probe side ([[GraphLoop]]).
  */
object ShortestPath {

  /** (node, dist) minimum path weight from any seed within `rounds`
    * edges; unreachable-within-budget nodes are absent. Edges are
    * undirected with per-edge integer weight `wCol` (parallel edges
    * collapse to their minimum weight).
    */
  def boundedBellmanFord(edges: DataFrame, srcCol: String, dstCol: String,
      wCol: String, seeds: DataFrame, seedCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    // symmetrize, then repartition on the probe key and collapse
    // parallel edges partition-locally: HashPartitioning(u) satisfies
    // the (u, v) min-groupBy's clustering, so the build is ONE 2|E|
    // exchange (min over both directions ≡ the canonical min mirrored)
    val fwd = edges.select(col(srcCol).as("u"), col(dstCol).as("v"),
        col(wCol).cast("long").as("w"))
      .filter(col("u") =!= col("v"))
    GraphLoop.scoped { scope =>
      val adj = scope.persist(fwd
        .union(fwd.select(col("v").as("u"), col("u").as("v"), col("w")))
        .repartition(col("u"))
        .groupBy(col("u"), col("v")).agg(min(col("w")).as("w")))
      var dist = checkpoint(seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("dist", lit(0L)))
      for (_ <- 1 to rounds) {
        val relaxed = probe(dist.withColumnRenamed("node", "u"))
          .join(adj, "u")
          .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
        dist = advance(dist, dist.union(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist")))
      }
      dist
    }
  }
}
