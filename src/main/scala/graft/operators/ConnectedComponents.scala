package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the transitive
  * closure that turns near-duplicate PAIRS (MinHash/SimHash/cosine
  * banding output) into duplicate CLUSTERS, so "keep one doc per
  * cluster" dedup is well-defined even when similarity is not
  * transitive (a~b, b~c, a≁c still collapses to one cluster).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14 — a public
  * algorithm; no reference-engine analog exists, the reference has no
  * graph surface at all). Each round is two hash-partitioned
  * aggregations + joins on node ids; convergence is O(log²(n)) rounds
  * independent of component diameter, which is what makes it safe at
  * 100 TB where a label-propagation loop would need diameter rounds
  * (a 10⁶-long near-dup chain = 10⁶ shuffles vs ~40 here).
  *
  * Scale shape per round: every operation keys on a node id (uniform
  * after hashing), no windows, no driver-side graph state; the only
  * driver values are the per-round (count, checksum) convergence
  * probes. Lineage is truncated every round with an eager, serialized
  * `localCheckpoint`.
  */
object ConnectedComponents {

  /** (node, cluster) labels, cluster = min node id reachable. Edge
    * direction and duplicates are ignored; self-loops dropped. Nodes
    * that appear in no edge are absent (join the source table with a
    * coalesce for singleton semantics).
    */
  def labels(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxRounds: Int = 50): DataFrame = {
    // serialized checkpoint storage for the same reason as [[KCore]]:
    // early star rounds hold edge-scale frames, and deserialized
    // unroll copies are the 8 GB-heap OOM path at 30× scale
    def truncate(df: DataFrame): DataFrame =
      df.localCheckpoint(true, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    // canonical undirected form: a < b, one row per edge. Truncated
    // BEFORE the loop: each star round references the edge set several
    // times, and an expensive upstream (a whole MinHash-LSH pipeline)
    // must be paid once, not once per reference per round.
    var e = truncate(edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())

    // Fixed point: both stars leave the edge set unchanged exactly when
    // the graph is a disjoint union of min-rooted stars. (count, hash
    // checksum) equality is a sound stability probe for a DISTINCT set.
    //
    // `truncate` fires EVERY round: one star round references `e` six
    // times, so without per-round lineage truncation the logical plan
    // grows ~6× per round and Catalyst ANALYSIS goes exponential long
    // before the data does — caching shrinks execution, not the plan.
    // The probe is then a tiny second job over the materialized blocks.
    var prev: (Long, Option[java.math.BigDecimal]) = (-1L, None)
    // the star rounds join node-scale min frames against the 2|E|
    // neighbor frame; everything derives from a checkpointed LogicalRDD
    // with no size stats, so unhinted the planner sort-merges — two
    // exchanges + two SORTS of edge-scale data per star. The min frames
    // carry SHUFFLE_HASH hints instead: they are the per-partition hash
    // build side (already hash-partitioned by their groupBy), the
    // edge-scale side is exchanged but never sorted, and no per-round
    // driver-built broadcast relation accumulates in the heap (the
    // round-11 budget-gated broadcasts anti-scaled with core count on
    // the contract host — see OPTIMIZATION_r12.md).
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val prevE = e
      e = truncate(smallStar(largeStar(e)))
      // free the superseded round's checkpoint blocks (Lineage): the
      // early star rounds hold edge-scale frames, and localCheckpoint
      // persists each one until explicitly released
      Lineage.releaseSuperseded(prevE, e)
      // decimal sum: a Long sum of 64-bit hashes would overflow ANSI math
      val probe = e.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head()
      val cur = (probe.getLong(0), Option(probe.getDecimal(1)))
      done = cur == prev
      prev = cur
      round += 1
    }
    require(done, s"connected components did not converge in $maxRounds rounds")
    // star form: every edge is (componentMin, member) in the canonical
    // a < b orientation; centers label themselves
    e.select(col("b").as("node"), col("a").as("cluster"))
      .union(e.select(col("a"), col("a")))
      .distinct()
  }

  /** Large-star: every node connects its strictly-LARGER neighbors to
    * the minimum of its closed neighborhood. Keeps (a < b) orientation
    * because the new endpoint is a neighborhood minimum.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.union(e.select(col("b"), col("a")))
      .toDF("u", "v")
    val mins = nbrs.groupBy("u")
      .agg(least(min(col("v")), col("u")).as("m"))
    nbrs.join(mins.hint("shuffle_hash"), "u")
      .filter(col("v") > col("u") && col("v") =!= col("m"))
      .select(col("m").as("a"), col("v").as("b"))
      .distinct()
  }

  /** Small-star: every node connects its SMALLER neighbors (and itself)
    * to the minimum among them.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    // canonical (a < b) ⇒ smaller-neighbor list of b is exactly the a's
    val mins = e.groupBy(col("b").as("u")).agg(min(col("a")).as("m"))
    e.join(mins.hint("shuffle_hash"), e("b") === mins("u"))
      .select(col("m").as("a"), col("a").as("b"))
      .filter(col("a") =!= col("b"))
      .union(mins.select(col("m").as("a"), col("u").as("b")))
      .distinct()
  }
}
