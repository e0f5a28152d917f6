package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import GraphLoop.{advance, checkpoint, probe}

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
    * emits) — see [[GraphLoop.Scope.adjacency]]; leave it false unless
    * the producer guarantees the shape.
    */
  def propagate(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int,
      distinctCanonicalEdges: Boolean = false): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    GraphLoop.scoped { scope =>
      val adj = scope.adjacency(edges, srcCol, dstCol, distinctCanonicalEdges)
      // round 1: identity labels ⇒ all vote counts are 1 ⇒ the
      // (count, −label) argmax is exactly the smallest neighbor id
      var labels = adj.groupBy(col("v").as("node")).agg(min(col("u")).as("label"))
      for (r <- 2 to rounds) {
        val next = adj
          .join(probe(labels.withColumnRenamed("node", "u")), "u")
          .groupBy(col("v").as("node"), col("label"))
          .agg(count(lit(1)).as("n"))
          // argmax by (n, −label): max count wins, smallest label on ties
          .groupBy(col("node"))
          .agg(max(struct(col("n"), (-col("label")).as("nl"))).as("m"))
          .select(col("node"), (-col("m.nl")).as("label"))
        labels = if (r % 2 == 0 && r < rounds) advance(labels, next) else next
      }
      // the node-sized output, materialized before the scope releases
      // the adjacency it reads
      checkpoint(labels)
    }
  }
}
