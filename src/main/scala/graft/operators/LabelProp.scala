package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous majority label propagation (community detection): every
  * node starts labeled with its own id; each round it adopts the most
  * frequent label among its NEIGHBORS (ties broken toward the smallest
  * label, so every round is a deterministic function of the previous
  * labeling — no run-to-run drift, and a SQL oracle can unroll the
  * exact same rounds). Bounded rounds, not convergence: like
  * [[Bfs]]/[[KCore]], the fixed budget keeps the join count
  * deterministic and the lineage flat.
  *
  * Per round: one equi-join of the symmetric adjacency against the
  * current labeling (uniform node keys) + one (node, label) count
  * aggregation + one argmax-by-(count, −label) aggregation. Nothing is
  * quadratic in degree — a celebrity node costs its degree in count
  * rows, not degree² — so the per-round cost is O(|E|) shuffled on
  * uniform keys at any scale.
  */
object LabelProp {

  /** Final (node, label) after `rounds` synchronous majority updates
    * on the undirected graph (direction/duplicates/self-loops
    * ignored). Nodes are the edge endpoints; a node keeps its previous
    * label only through the neighbor vote (neighbors always exist
    * here, every node having at least one edge).
    *
    * Round 1 is computed algebraically, not iteratively: with identity
    * initial labels every neighbor vote has count 1, so the majority
    * argmax degenerates to min(neighbor) — one aggregation over the
    * persisted adjacency, no join and no materialized initial
    * labeling. Lineage is truncated only every OTHER round and never
    * after the last (bounded rounds keep the DAG shallow; the eager
    * per-round checkpoints were pure constant-factor cost — measured
    * 2× on the sf0.1 co-purchase graph).
    *
    * `distinctCanonicalEdges = true` is a caller PROMISE that `edges`
    * is already distinct with src < dst (what `Edges.coOccurrence`
    * emits) — it skips the symmetrize dedup, saving one full-edge
    * exchange per call. Passing it for a frame with duplicate edges or
    * self-loops silently inflates vote counts; leave it false unless
    * the producer guarantees the shape.
    */
  def propagate(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int,
      distinctCanonicalEdges: Boolean = false): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val fwd = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
    // distinctCanonicalEdges = caller PROMISES the input is already
    // DISTINCT a < b edges (what
    // Edges.coOccurrence emits): the mirrored union is then already the
    // exact symmetric adjacency, and the dedup pass below would be one
    // redundant full-edge exchange per call.
    // The adjacency is hash-partitioned on the vote-join key `u` ONCE
    // and cached in that layout (dedup, when needed, runs partition-
    // local on it — HashPartitioning(u) satisfies the (u, v)
    // clustering), so no round re-exchanges the edge set; only the
    // node-scale label frame moves per round. No per-round broadcasts
    // or count gates — see [[Bfs]] for why the round-11 broadcast
    // machinery was removed.
    val sym = fwd.union(fwd.select(col("v").as("u"), col("u").as("v")))
    val adj = (if (distinctCanonicalEdges) sym.repartition(col("u"))
               else sym.filter(col("u") =!= col("v"))
                 .repartition(col("u")).distinct())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // round 1: identity labels ⇒ all vote counts are 1 ⇒ the
    // (count, −label) argmax is exactly the smallest neighbor id
    var labels = adj.groupBy(col("v").as("node")).agg(min(col("u")).as("label"))
    for (r <- 2 to rounds) {
      // the label frame is node-scale and stats-less (agg estimate /
      // checkpointed LogicalRDD): hint SHUFFLE_HASH so the vote join
      // hash-builds it per partition against the cached by-`u`
      // adjacency layout instead of sort-merging (which re-sorted the
      // FULL cached adjacency every round)
      val lSide = labels.withColumnRenamed("node", "u").hint("shuffle_hash")
      val votes = adj
        .join(lSide, "u")
        .groupBy(col("v").as("node"), col("label"))
        .agg(count(lit(1)).as("n"))
      // argmax by (n, −label): max count wins, smallest label on ties
      val next = votes
        .groupBy(col("node"))
        .agg(max(struct(col("n"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
      labels = if (r % 2 == 0 && r < rounds) {
        val prevLabels = labels
        val t = next.localCheckpoint(true)
        // free the superseded checkpoint blocks (see Lineage); a lazy
        // in-between round's plan still references the prior
        // checkpoint and is left alone by the ancestry guard
        Lineage.releaseSuperseded(prevLabels, t)
        t
      } else next
    }
    // materialize the final (node, label) frame — it is node-sized, tiny
    // next to the edge work — so the adjacency cache can be released
    // without downstream consumers rebuilding the un-cached self-join
    // once per round reference (the Triangles phantom-cost lesson)
    val out = labels.localCheckpoint(true)
    adj.unpersist()
    out
  }
}
