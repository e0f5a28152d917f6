package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  * The adjacency is hash-partitioned on the probe key `u` once and
  * cached in that layout, so no round re-exchanges the edge set; the
  * node-scale distance frame carries a SHUFFLE_HASH hint (stats-less
  * checkpointed plans otherwise sort-merge, re-sorting the cached
  * adjacency every round). No per-round counts or broadcasts — see
  * [[Bfs]] for why the round-11 broadcast machinery was removed.
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
    // canonicalize BEFORE the min-groupBy: grouping (least, greatest)
    // halves the aggregation shuffle vs symmetrize-then-group, and the
    // mirror union after the agg is exchange-free. Identical adjacency:
    // min over both directions either way.
    // symmetrize FIRST, then repartition on the probe key and collapse
    // parallel edges partition-locally: HashPartitioning(u) satisfies
    // the (u, v) min-groupBy's clustering, so the whole adjacency build
    // is ONE 2|E| exchange and the cached layout is the per-round probe
    // layout (min over both directions ≡ the canonical min mirrored)
    val fwd = edges.select(col(srcCol).as("u"), col(dstCol).as("v"),
        col(wCol).cast("long").as("w"))
      .filter(col("u") =!= col("v"))
    val adj = fwd
      .union(fwd.select(col("v").as("u"), col("u").as("v"), col("w")))
      .repartition(col("u"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      // the distance frame is node-scale and stats-less (checkpointed
      // LogicalRDD); hint SHUFFLE_HASH so the relax join hash-builds
      // the small side per partition against the cached by-`u`
      // adjacency layout instead of sort-merging (which re-sorted the
      // FULL edge set every round), and nothing is driver-collected
      val relaxed = dist.withColumnRenamed("node", "u").hint("shuffle_hash")
        .join(adj, "u")
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
      val next = dist.union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      val prevDist = dist
      dist = next.localCheckpoint(true)
      // free the superseded round's checkpoint blocks (see Lineage)
      Lineage.releaseSuperseded(prevDist, dist)
    }
    adj.unpersist()
    dist
  }
}
