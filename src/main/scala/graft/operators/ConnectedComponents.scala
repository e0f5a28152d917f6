package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
import GraphLoop.{advance, checkpoint}

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
  * checkpoint ([[GraphLoop.advance]]): early star rounds hold
  * edge-scale frames.
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
    // canonical undirected form: a < b, one row per edge. Truncated
    // BEFORE the loop: each star round references the edge set several
    // times, and an expensive upstream (a whole MinHash-LSH pipeline)
    // must be paid once, not once per reference per round.
    var e = checkpoint(GraphLoop.canonical(edges, srcCol, dstCol), MEMORY_AND_DISK_SER)

    // Fixed point: both stars leave the edge set unchanged exactly when
    // the graph is a disjoint union of min-rooted stars. (count, hash
    // checksum) equality is a sound stability probe for a DISTINCT set.
    //
    // The truncation fires EVERY round: one star round references `e`
    // six times, so the logical plan would grow ~6× per round. The
    // probe is then a tiny second job over the materialized blocks.
    var prev: (Long, Option[java.math.BigDecimal]) = (-1L, None)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      e = advance(e, smallStar(largeStar(e)), MEMORY_AND_DISK_SER)
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
    nbrs.join(GraphLoop.probe(mins), "u")
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
    e.join(GraphLoop.probe(mins), e("b") === mins("u"))
      .select(col("m").as("a"), col("a").as("b"))
      .filter(col("a") =!= col("b"))
      .union(mins.select(col("m").as("a"), col("u").as("b")))
      .distinct()
  }
}
