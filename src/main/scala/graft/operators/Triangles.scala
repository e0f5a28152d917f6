package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
import GraphLoop.checkpoint

/** Exact distributed triangle counting with degree-ordered edge
  * orientation + adjacency-array intersection (the compact-forward /
  * edge-iterator scheme): orient every undirected edge from its
  * lower-(degree, id) endpoint to the higher one, build each node's
  * out-neighbor array, and for every oriented edge (a→b) intersect
  * N⁺(a) with N⁺(b) — each common out-neighbor z closes the triangle
  * (a, b, z) exactly once, at its two lowest-order corners.
  *
  * Why orientation matters at 100 TB: it bounds every out-degree by
  * O(sqrt(|E|)) on any graph, so a celebrity node costs its capped
  * out-array, never degree². Why intersection beats the wedge join:
  * the wedge form materializes Σ C(outdeg, 2) rows (41M on the sf0.1
  * co-purchase graph) through a join, while the intersection probes
  * per-edge arrays inside codegen — measured 8× on the same graph
  * (22.7 s → 3.1 s for the closing phase).
  *
  * Shuffles: one degree aggregation, one adjacency aggregation, and —
  * when the edge set fits the broadcast budget — ZERO exchanges on the
  * closing path (adjacency broadcast to both probe sides); above the
  * budget it degrades to two uniform-key shuffle joins. The |V|-row
  * order-key frame is always broadcast, and the degree frame is
  * persisted so the two broadcast builds don't recompute it (that
  * recompute was a measured 25 s of phantom cost).
  */
object Triangles {

  /** Count triangles in the undirected graph given by (srcCol, dstCol)
    * pairs (direction/duplicates/self-loops ignored). Returns one row:
    * (n_nodes, n_edges, n_triangles).
    */
  def count(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val (nNodes, nEdges, nTri) = GraphLoop.scoped { scope =>
      val (e, deg, closed) = closedTriangles(scope, edges, srcCol, dstCol)
      val nTri = closed.count()
      (deg.count(), e.count(), nTri)
    }
    edges.sparkSession.createDataFrame(Seq((nNodes, nEdges, nTri)))
      .toDF("n_nodes", "n_edges", "n_triangles")
  }

  /** Per-node triangle participation and clustering coefficient as the
    * exact integer pair (coef_num, coef_den) = (2·tri, deg·(deg−1)) —
    * the coefficient itself is their ratio; keeping the pieces integral
    * keeps the output engine-exact. Every node of the graph appears,
    * zero-triangle nodes included. Output: node, deg, n_tri, coef_num,
    * coef_den.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    GraphLoop.scoped { scope =>
      val (_, deg, closed) = closedTriangles(scope, edges, srcCol, dstCol)
      // credit each triangle to all three corners
      val corners = closed.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
        .groupBy(col("node"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_tri"))
      checkpoint(deg.withColumnRenamed("v", "node").withColumnRenamed("d", "deg")
        .join(corners, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"))
        .withColumn("coef_num", lit(2L) * col("n_tri"))
        .withColumn("coef_den", col("deg") * (col("deg") - 1L)))
    }
  }

  /** Shared core: canonical edge set, degrees, and the closed-triangle
    * triples (u, x, y) — one row per triangle, u the lowest-order
    * corner, y the highest. The frames it caches live in `scope`.
    */
  private def closedTriangles(scope: GraphLoop.Scope, edges: DataFrame,
      srcCol: String, dstCol: String): (DataFrame, DataFrame, DataFrame) = {
    val e = scope.persist(GraphLoop.canonical(edges, srcCol, dstCol))
    // persisted: BOTH broadcast builds below and the caller's
    // deg-joins read it — without the persist each broadcast job
    // re-runs the explode+aggregate from scratch
    val deg = scope.persist(e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("d")))
    // total order key: (degree, id) packed into one long — ids and
    // degrees are bounded by |V| ≤ 2^31 here; at larger scale keep the
    // pair as a struct key instead
    // ord is |V| rows (node -> order key), broadcast to both enrichment
    // joins so the edge frame never shuffles on its way to orientation.
    // MATERIALIZED (localCheckpoint) so the two broadcast builds
    // collapse to one: exchange reuse needs canonically-equal build
    // subtrees, which (a) renamed projections (the old ka/kb columns)
    // and (b) TableCacheQueryStage wrappers around persisted sources
    // both defeat — a checkpointed LogicalRDD + alias-only
    // disambiguation is the shape AQE actually reuses (probed on this
    // Spark: persisted source ⇒ 2 independent BroadcastQueryStages,
    // checkpointed ⇒ ReusedExchange).
    val ord = checkpoint(deg.select(col("v"), (col("d") * lit(4294967296L) + col("v")).as("k")),
      MEMORY_AND_DISK_SER)
    val dir = scope.persist(e
      .join(broadcast(ord).as("o1"), col("a") === col("o1.v"))
      .join(broadcast(ord).as("o2"), col("b") === col("o2.v"))
      .select(
        when(col("o1.k") < col("o2.k"), col("a")).otherwise(col("b")).as("u"),
        when(col("o1.k") < col("o2.k"), col("b")).otherwise(col("a")).as("v")))
    // out-neighbor arrays (order-capped by orientation); element order
    // is irrelevant to the hashed intersection. localCheckpoint (not
    // persist) for the same reuse reason as `ord`: the arrays are
    // aggregated once here, and the closing joins below then share ONE
    // broadcast build of the materialized frame — the round-10 shape
    // (persist + renamed projections) built and broadcast this largest
    // frame twice per run, a measured ~40% of q107/q122 task time.
    // Serialized storage: this is the operator's largest frame.
    val adj = GraphLoop.broadcastUnder(
      checkpoint(dir.groupBy(col("u")).agg(collect_list(col("v")).as("nbrs")),
        MEMORY_AND_DISK_SER),
      e.count())
    // both probe sides join the IDENTICAL adjacency subplan (alias-only
    // disambiguation, no renamed projections) so the second hash build
    // becomes a ReusedExchange instead of a second build+broadcast (and
    // on the over-budget shuffle path, a reused shuffle instead of a
    // second adjacency exchange).
    val closed = dir.select(col("u").as("a"), col("v").as("b"))
      .join(adj.as("n1"), col("a") === col("n1.u"))
      .join(adj.as("n2"), col("b") === col("n2.u"))
      .select(col("a").as("u"), col("b").as("x"),
        explode(array_intersect(col("n1.nbrs"), col("n2.nbrs"))).as("y"))
    (e, deg, closed)
  }
}
