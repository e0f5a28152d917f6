package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import GraphLoop.{advance, checkpoint, probe}

/** Bounded-hop BFS: minimum hop distance from a seed set to every
  * node reachable within `maxHops` undirected hops — blast-radius /
  * neighborhood-expansion queries (which parts co-occur within 2
  * purchases of a recalled part; which users sit within 3 edges of a
  * banned ring). The bounded form is the scalable one: unbounded
  * reachability is [[ConnectedComponents]]; a fixed hop budget keeps
  * the frontier-join count deterministic, which also lets a
  * non-recursive SQL oracle unroll the exact same `maxHops` rounds.
  *
  * Classic frontier expansion: visited holds min-hop labels, the
  * frontier is only the NEWLY reached nodes (so each round's join
  * touches the growing wave, never the full visited set), and each
  * round is one equi-join frontier⋈edges + an anti-join against
  * visited + a min-dedup. Per-round lineage truncation keeps the plan
  * flat, same discipline as [[KCore]]/[[ConnectedComponents]]. A
  * frontier that goes empty short-circuits the remaining rounds.
  *
  * Every round joins the node-scale frontier against the adjacency
  * laid out once on its probe key ([[GraphLoop]]), so only the
  * emptiness probe is a per-round driver action.
  */
object Bfs {

  /** (node, hop) for every node within `maxHops` of `seeds` (hop 0 =
    * seed itself; seeds absent from the edge set still appear at hop
    * 0). Edges are undirected; duplicates/self-loops ignored.
    *
    * `distinctCanonicalEdges = true` asserts the input is already a
    * DISTINCT canonical (a < b) edge set — see
    * [[GraphLoop.Scope.adjacency]]. Do NOT pass it for raw edge frames.
    */
  def hops(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int,
      distinctCanonicalEdges: Boolean = false): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    GraphLoop.scoped { scope =>
      val adj = scope.adjacency(edges, srcCol, dstCol, distinctCanonicalEdges)
      var visited = checkpoint(seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("hop", lit(0L)))
      var frontier = visited
      var hop = 0L
      while (hop < maxHops && !frontier.isEmpty) {
        hop += 1
        val next = probe(frontier.select(col("node").as("u")))
          .join(adj, "u").select(col("v").as("node")).distinct()
          .join(probe(visited.select("node")), Seq("node"), "left_anti")
          .withColumn("hop", lit(hop))
        val reached = checkpoint(next)
        // the union names both frames this round supersedes
        visited = advance(visited.union(frontier), visited.union(reached))
        frontier = reached
      }
      visited
    }
  }
}
