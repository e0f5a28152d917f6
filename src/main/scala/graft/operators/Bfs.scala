package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  * Per-round exchanges: the adjacency is hash-partitioned on the probe
  * key ONCE (repartition before persist), so every round's frontier
  * join reuses the cached layout and only the node-scale frontier is
  * (at most) exchanged — the checkpointed probe frames carry their own
  * hash partitioning, so in the common case a round is exchange-free
  * up to the dedup aggregation. The probe sides carry SHUFFLE_HASH
  * hints: the frames are stats-less checkpointed LogicalRDDs, and
  * unhinted the planner sort-merges, re-sorting the full cached
  * adjacency every hop. No per-round driver action is involved beyond
  * the emptiness probe — the round-11 count-gated explicit broadcasts
  * built one driver-collected hash relation per round, which are only
  * freed by ContextCleaner GC and anti-scaled with core count on the
  * contract host (see OPTIMIZATION_r12.md).
  */
object Bfs {

  /** (node, hop) for every node within `maxHops` of `seeds` (hop 0 =
    * seed itself; seeds absent from the edge set still appear at hop
    * 0). Edges are undirected; duplicates/self-loops ignored.
    *
    * `distinctCanonicalEdges = true` asserts the input is already a
    * DISTINCT canonical (a < b) edge set — what [[Edges.coOccurrence]]
    * emits — so the symmetrized union is distinct by construction and
    * the 2|E|-row dedup exchange is skipped (same contract as
    * [[LabelProp.propagate]]'s flag). Do NOT pass it for raw edge
    * frames.
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
    // symmetric adjacency once, hash-partitioned on the probe key `u`
    // and cached in that layout: every round's frontier join then
    // satisfies its distribution requirement from the cache, and only
    // the node-scale probe side can ever need an exchange
    val fwd = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    val sym = fwd.union(fwd.select(col("v").as("u"), col("u").as("v")))
    // repartition FIRST, dedup after: HashPartitioning(u) satisfies the
    // distinct's (u, v) clustering, so the dedup runs partition-local on
    // the already-final layout — one 2|E| exchange total instead of a
    // dedup exchange plus a repartition exchange
    val adj = (if (distinctCanonicalEdges) sym.repartition(col("u"))
               else sym.filter(col("u") =!= col("v"))
                 .repartition(col("u")).distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)

    var visited = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("hop", lit(0L)).localCheckpoint(true)
    var frontier = visited
    var hop = 0L
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      // SHUFFLE_HASH on the node-scale sides: no per-round sort of the
      // cached adjacency (stats-less probe plans otherwise plan SMJ),
      // no driver-built broadcast relation — the per-partition hash map
      // is execution memory, freed with the task
      val next = frontier.select(col("node").as("u")).hint("shuffle_hash")
        .join(adj, "u").select(col("v").as("node")).distinct()
        .join(visited.select("node").hint("shuffle_hash"), Seq("node"), "left_anti")
        .withColumn("hop", lit(hop))
      val prevFrontier = frontier
      val prevVisited = visited
      frontier = next.localCheckpoint(true)
      visited = visited.union(frontier).localCheckpoint(true)
      // free superseded checkpoint blocks (localCheckpoint persists
      // each round's frame until explicitly released — see Lineage)
      Lineage.releaseSuperseded(prevVisited, visited)
      if (prevFrontier ne prevVisited) Lineage.releaseSuperseded(prevFrontier, visited)
    }
    adj.unpersist()
    visited
  }
}
