package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hierarchy flattening: resolve a parent-pointer table (adjacency
  * form — `(node, parent)`, roots self-parented) into the denormalized
  * `(node, root, depth)` view every org-chart / category-tree /
  * thread-ancestry query wants. The relational-recursion gap in Spark:
  * there is no `WITH RECURSIVE`, and the naive per-level loop takes
  * DEPTH joins — a 10⁶-deep reply chain would mean 10⁶ shuffles.
  *
  * POINTER JUMPING (path doubling) instead: each round replaces every
  * node's known ancestor with that ancestor's own known ancestor,
  * doubling the resolved distance, so convergence takes ⌈log₂ depth⌉
  * self-joins (20 rounds covers depth 10⁶). Each round is one
  * hash-partitioned equi-join of the state table with itself on the
  * ancestor id — uniform keys, AQE-splittable, no windows, no
  * driver-side graph state beyond a one-row convergence probe.
  * Lineage is truncated every round ([[GraphLoop.advance]]).
  */
object Hierarchy {

  /** `(node, root, depth)` for every node. Roots are rows with
    * `parent == node` (or null parent); depth 0 at the root. Cycles or
    * dangling parents (pointing at a missing node) fail the
    * convergence guard rather than looping forever.
    */
  def flatten(
      edges: DataFrame,
      nodeCol: String,
      parentCol: String,
      maxRounds: Int = 40): DataFrame = {
    // state(node, anc, depth, done): anc is an ancestor at exact
    // distance `depth`; done ⇔ anc is a root. Null parent ≡ root.
    var state = GraphLoop.checkpoint(edges
      .select(col(nodeCol).as("node"),
        coalesce(col(parentCol), col(nodeCol)).as("anc"))
      .withColumn("root_self", col("anc") === col("node"))
      .select(col("node"),
        when(col("root_self"), col("node")).otherwise(col("anc")).as("anc"),
        when(col("root_self"), 0L).otherwise(1L).as("depth"),
        col("root_self").as("done")))

    val n = state.count()
    var round = 0
    var remaining = state.filter(!col("done")).limit(1).count()
    while (remaining > 0 && round < maxRounds) {
      val jump = state.select(col("node").as("j_node"), col("anc").as("j_anc"),
        col("depth").as("j_depth"), col("done").as("j_done"))
      // inner join: every unresolved anc must itself appear as a node —
      // a dangling pointer silently drops its row here, which the
      // row-count guard below converts into a loud failure
      state = GraphLoop.advance(state, state.filter(col("done")).union(
        state.filter(!col("done"))
          .join(jump, col("anc") === col("j_node"))
          .select(col("node"), col("j_anc").as("anc"),
            (col("depth") + col("j_depth")).as("depth"),
            col("j_done").as("done"))))
      remaining = state.filter(!col("done")).limit(1).count()
      round += 1
    }
    require(remaining == 0,
      s"hierarchy did not resolve in $maxRounds doubling rounds " +
        "(cycle or depth > 2^maxRounds)")
    require(state.count() == n,
      "hierarchy input has dangling parent pointers (parent ids with no node row)")
    state.select(col("node"), col("anc").as("root"), col("depth"))
  }
}
