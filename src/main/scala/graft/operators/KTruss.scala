package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss decomposition by bounded support peeling: the subgraph in
  * which every edge participates in ≥ k−2 triangles. Where k-core
  * ([[KCore]]) peels weak NODES, k-truss peels weak EDGES — the
  * stricter cohesion notion used for community cores and spam-ring
  * detection over co-occurrence graphs.
  *
  * Shape per round: per-edge support is the neighbor-pair join
  * e(a,b) ⋈ adj(a,z) ⋈ adj(b,z) — two shuffle joins on uniform node
  * keys and one hash agg, O(Σ_e deg(a)+deg(b)) probe rows. Rounds are
  * explicitly bounded (`rounds`), each round's survivor frame is
  * persisted and the previous one released ([[GraphLoop.Scope]]), so
  * lineage never grows. At 100 TB the joins hash-
  * partition on node id; no step ever materializes per-node degree²
  * rows or collects edges to the driver (round sizes are the only
  * driver scalars, one per round, like PageRank's N).
  */
object KTruss {

  /** Peel to the k-truss for `rounds` rounds and report the edge count
    * after each round (round 0 = the deduplicated input). Convergence
    * inside the budget shows as a constant tail. Output:
    * (round, n_edges), both BIGINT.
    */
  def peelCounts(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val spark = edges.sparkSession
    import spark.implicits._
    val minSup = (k - 2).toLong
    val counts = scala.collection.mutable.ListBuffer[(Long, Long)]()
    GraphLoop.scoped { scope =>
      var e = scope.persist(GraphLoop.canonical(edges, srcCol, dstCol, _.cast("long")))
      counts += ((0L, e.count()))
      var r = 1
      var converged = false
      while (r <= rounds && !converged) {
        val nb = e.select($"a".as("n"), $"b".as("m"))
          .unionAll(e.select($"b".as("n"), $"a".as("m")))
        // z adjacent to a (z ≠ b), then require the (b, z) edge: each
        // common neighbor closes one triangle on this edge exactly once
        val sup = e
          .join(nb.select($"n".as("a"), $"m".as("z")), Seq("a"))
          .filter($"z" =!= $"b")
          .join(nb.select($"n".as("b"), $"m".as("z")), Seq("b", "z"))
          .groupBy($"a", $"b").agg(count(lit(1)).as("sup"))
        val kept = scope.persist(e.join(sup, Seq("a", "b"), "left")
          .filter(coalesce($"sup", lit(0L)) >= minSup)
          .select($"a", $"b"))
        val n = kept.count()
        counts += ((r.toLong, n))
        // peeling is monotone: an unchanged edge set is the fixpoint, so
        // every later round provably returns the same set — emit the
        // remaining rounds without executing them
        converged = n == counts(r - 1)._2
        scope.release(e)
        e = kept
        r += 1
      }
    }
    while (counts.size <= rounds) counts += ((counts.size.toLong, counts.last._2))
    counts.toSeq.toDF("round", "n_edges")
  }
}
