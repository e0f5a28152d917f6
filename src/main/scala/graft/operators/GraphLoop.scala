package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The scaffold every iterative graph operator shares ([[Bfs]],
  * [[ShortestPath]], [[LabelProp]], [[Hits]], [[ConnectedComponents]],
  * [[KCore]], [[Triangles]], [[KTruss]], [[PageRank]], [[Hierarchy]],
  * and the graph query packs' broadcast gates). Each decision of that
  * scaffold is made here, once:
  *
  *  - Edge shapes. [[canonical]] is an undirected edge set as distinct
  *    (least, greatest) pairs with self-loops dropped.
  *    [[Scope.adjacency]] is the symmetric (u, v) frame, hash-
  *    partitioned on the probe key `u` once and cached in that layout:
  *    every round's join satisfies its distribution from the cache, and
  *    only the node-scale side can ever need an exchange. It
  *    repartitions first and dedups after — HashPartitioning(u)
  *    satisfies the (u, v) distinct's clustering, so the build is one
  *    2|E| exchange, not a dedup exchange plus a repartition.
  *  - Build side. A round's node-scale join side goes through
  *    [[probe]]. Round frames derive from checkpoints, which carry no
  *    size statistics, so unhinted the planner sort-merges and re-sorts
  *    the cached edge frame every round. Nothing is driver-built per
  *    round: the round-11 count-gated broadcasts built one hash
  *    relation per round, freed only by ContextCleaner GC, and
  *    anti-scaled with core count (OPTIMIZATION_r12.md).
  *  - Truncation. A loop whose plan grows per round cuts it with an
  *    eager [[checkpoint]] (or [[advance]]); otherwise Catalyst analysis
  *    goes exponential long before the data does. Rounds that hold
  *    edge-scale frames pass serialized storage: deserialized unroll
  *    copies of a 45M-row round blew an 8 GB heap at 30× scale, while
  *    serialized batches account tightly and spill cleanly.
  *  - Release. `localCheckpoint` persists a round's rows until they are
  *    explicitly released (the ContextCleaner frees them only at driver
  *    GC, which let q135's peel loop OOM an 8 GB heap at 30× scale), so
  *    [[advance]] frees the blocks of the frame a round supersedes.
  *  - Cache lifetime. Static frames (edge layouts, weight totals, node
  *    sets) never grow, so they persist through a [[Scope]] instead of
  *    paying a checkpoint job each; [[scoped]] releases them when the
  *    operator returns or throws. An output that reads one is
  *    materialized with [[checkpoint]] before the scope closes.
  *  - Broadcast budget. A checkpoint-for-reuse is broadcast only
  *    explicitly, through [[broadcastUnder]], the one reader of
  *    `spark.graft.graph.broadcastMaxEdges` (default 5M edges: node
  *    and adjacency payloads are ~16 B/entry, so ~100 MB). Above the
  *    budget the join degrades to shuffles on uniform node keys. Set it
  *    per session: raise it on high-memory executors, or 0 to force
  *    the shuffle path.
  */
object GraphLoop {

  val BroadcastMaxEdgesKey = "spark.graft.graph.broadcastMaxEdges"

  /** Distinct (a, b) = (least, greatest) endpoint pairs, self-loops
    * dropped; `id` wraps each endpoint after the least/greatest.
    */
  def canonical(edges: DataFrame, srcCol: String, dstCol: String,
      id: Column => Column = c => c): DataFrame =
    edges.select(id(least(col(srcCol), col(dstCol))).as("a"),
        id(greatest(col(srcCol), col(dstCol))).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** The node-scale build side of a round's join. */
  def probe(df: DataFrame): DataFrame = df.hint("shuffle_hash")

  /** `df` materialized now, its lineage cut. */
  def checkpoint(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    df.localCheckpoint(true, level)

  /** `next` checkpointed, then the blocks of every checkpoint in
    * `prev`'s plan released, except the new one. `prev` may be a lazy
    * round; a checkpoint in its plan that the caller still reads (a
    * checkpointed operator input) is released too.
    */
  def advance(prev: DataFrame, next: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val cur = checkpoint(next, level)
    val live = checkpoints(cur).map(_.id).toSet
    checkpoints(prev).filterNot(r => live(r.id)).foreach(_.unpersist(blocking = false))
    cur
  }

  private def checkpoints(df: DataFrame) =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }.distinct

  /** `frame` with a broadcast hint when `rows` is within the budget. */
  def broadcastUnder(frame: DataFrame, rows: Long): DataFrame =
    if (rows <= frame.sparkSession.conf.get(BroadcastMaxEdgesKey, "5000000").toLong)
      broadcast(frame)
    else frame

  /** `body` with a cache scope whose frames are released however it ends. */
  def scoped[A](body: Scope => A): A = {
    val scope = new Scope
    try body(scope) finally scope.held.foreach(_.unpersist())
  }

  final class Scope private[GraphLoop] () {
    private[GraphLoop] val held = ArrayBuffer.empty[DataFrame]

    def persist(df: DataFrame): DataFrame = {
      held += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }

    /** Release `df` before the scope closes (a superseded round). */
    def release(df: DataFrame): Unit = {
      held -= df
      df.unpersist()
    }

    /** Symmetric (u, v) adjacency of an undirected edge list, laid out
      * on `u`. `distinctCanonical` is the caller's promise that `edges`
      * is already distinct with src < dst (what [[Edges.coOccurrence]]
      * emits): the mirrored union is then exact, and the dedup — one
      * full-edge exchange — is skipped. Passed for a frame with
      * duplicates or self-loops, it silently double-counts them.
      */
    def adjacency(edges: DataFrame, srcCol: String, dstCol: String,
        distinctCanonical: Boolean): DataFrame = {
      val fwd = edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
      val sym = fwd.union(fwd.select(col("v").as("u"), col("u").as("v")))
      persist(if (distinctCanonical) sym.repartition(col("u"))
        else sym.filter(col("u") =!= col("v")).repartition(col("u")).distinct())
    }
  }
}
