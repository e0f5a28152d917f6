package graft.operators

import scala.util.Random

import graft.SparkTestBase

/** Randomized differentials for the graph operators that previously
  * had only fixed-fixture specs: small random graphs, each compared
  * against a direct in-memory reference implementation of the
  * documented semantics (KTruss's bounded peel with converged-tail
  * padding, Bfs's min-hop frontier, PageRank's exact-integer
  * truncating recurrence with weighted shares and seeded teleport and
  * dangling return).
  */
class GraphRandomSpec extends SparkTestBase {
  import spark.implicits._

  private val rnd = new Random(8281L)

  private def randomEdges(nodes: Int, p: Double): Seq[(Long, Long)] =
    (for {
      a <- 0 until nodes; b <- 0 until nodes
      if a != b && rnd.nextDouble() < p
    } yield (a.toLong, b.toLong)).toSeq

  // ------------------------------------------------------------ k-truss

  private def trussRef(edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Seq[(Long, Long)] = {
    var e = edges.map { case (a, b) => (a min b, a max b) }
      .filter(p => p._1 != p._2).distinct.toSet
    val counts = scala.collection.mutable.ListBuffer[(Long, Long)]((0L, e.size.toLong))
    var r = 1
    var converged = false
    while (r <= rounds && !converged) {
      val adj = (e.toSeq ++ e.toSeq.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val kept = e.filter { case (a, b) =>
        (adj(a) - b).count(z => e.contains((b min z, b max z))) >= k - 2
      }
      counts += ((r.toLong, kept.size.toLong))
      converged = kept.size == e.size
      e = kept
      r += 1
    }
    while (r <= rounds) { counts += ((r.toLong, counts.last._2)); r += 1 }
    counts.toSeq
  }

  test("KTruss.peelCounts == in-memory peel on 10 random graphs, k in {3,4}") {
    (1 to 10).foreach { trial =>
      val edges = randomEdges(10, 0.35)
      val k = 3 + rnd.nextInt(2)
      if (edges.nonEmpty) {
        val got = KTruss.peelCounts(edges.toDF("s", "d"), "s", "d", k, rounds = 6)
          .as[(Long, Long)].collect().sortBy(_._1).toSeq
        assert(got == trussRef(edges, k, 6), s"trial $trial k=$k edges=$edges")
      }
    }
  }

  // ---------------------------------------------------------------- bfs

  private def bfsRef(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxHops: Int): Set[(Long, Long)] = {
    val adj = (edges ++ edges.map(_.swap)).filter(p => p._1 != p._2)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var visited = seeds.distinct.map(_ -> 0L).toMap
    var frontier = seeds.distinct.toSet
    var hop = 0L
    while (hop < maxHops && frontier.nonEmpty) {
      hop += 1
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- visited.keySet
      visited = visited ++ next.map(_ -> hop)
      frontier = next
    }
    visited.toSet.map((kv: (Long, Long)) => (kv._1, kv._2))
  }

  test("Bfs.hops == in-memory BFS on 12 random graphs with random seeds") {
    (1 to 12).foreach { trial =>
      val edges = randomEdges(12, 0.18)
      val seeds = Seq.fill(1 + rnd.nextInt(3))(rnd.nextLong(14)).distinct
      val maxHops = rnd.nextInt(4)
      val got =
        if (edges.isEmpty) Set.empty[(Long, Long)]
        else Bfs.hops(edges.toDF("s", "d"), "s", "d",
            seeds.toDF("n"), "n", maxHops)
          .as[(Long, Long)].collect().toSet
      if (edges.nonEmpty)
        assert(got == bfsRef(edges, seeds, maxHops),
          s"trial $trial seeds=$seeds maxHops=$maxHops edges=$edges")
    }
  }

  // ----------------------------------------------------------- pagerank

  /** Serial twin of the full PageRank recurrence. Unweighted: distinct
    * (src, dst) pairs, each of weight 1. Weighted: edges with w <= 0
    * dropped, parallel edges merged by weight sum. Unseeded: every node
    * is a seed. Per iteration, each edge carries (r(u) * w) div W(u);
    * seeds get the base and (dangling mass) div |S|.
    */
  private def prRef(edges: Seq[(Long, Long, Long)], iterations: Int,
      weighted: Boolean = false, seeds: Option[Seq[Long]] = None,
      dampNum: Long = 85L, dampDen: Long = 100L,
      scale: Long = 1000000000000L): Map[Long, Long] = {
    val e: Map[(Long, Long), Long] =
      if (weighted) edges.filter(_._3 > 0L).groupMapReduce(t => (t._1, t._2))(_._3)(_ + _)
      else edges.map(t => (t._1, t._2) -> 1L).toMap
    val nodes = e.keys.toSeq.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val seed: Long => Boolean = seeds.fold((_: Long) => true)(s => s.toSet)
    val nS = nodes.count(seed).toLong
    val outW = e.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
    val r0 = scale / nS
    val base = (dampDen - dampNum) * r0 / dampDen
    var r = nodes.map(v => v -> (if (seed(v)) r0 else 0L)).toMap
    (1 to iterations).foreach { _ =>
      val contrib = e.toSeq.groupMapReduce(_._1._2) { case ((u, _), w) =>
        r(u) * w / outW(u)
      }(_ + _)
      val dang = nodes.filterNot(outW.contains).map(r).sum
      r = nodes.map { v =>
        val back = if (seed(v)) dang / nS else 0L
        v -> ((if (seed(v)) base else 0L) +
          dampNum * (contrib.getOrElse(v, 0L) + back) / dampDen)
      }.toMap
    }
    r
  }

  // ---------------------------------------------------- label propagation

  private def lpaRef(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(_.swap)).filter(p => p._1 != p._2)
      .distinct.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = adj.keySet.map(v => v -> v).toMap
    (1 to rounds).foreach { _ =>
      labels = adj.keySet.map { v =>
        // majority of neighbor labels, smallest label on ties
        val votes = adj(v).groupBy(labels).view.mapValues(_.size)
        v -> votes.toSeq.maxBy { case (l, n) => (n, -l) }._1
      }.toMap
    }
    labels
  }

  test("LabelProp.propagate == serial majority vote; both edge-input modes agree") {
    (1 to 10).foreach { trial =>
      // messy input: duplicates, self-loops, both directions
      val base = randomEdges(10, 0.25)
      val messy = base ++ base.take(3) ++ base.take(2).map(_.swap) ++
        Seq((4L, 4L))
      val rounds = 1 + rnd.nextInt(3)
      if (base.nonEmpty) {
        val got = LabelProp.propagate(messy.toDF("s", "d"), "s", "d", rounds)
          .as[(Long, Long)].collect().toMap
        assert(got == lpaRef(messy, rounds), s"trial $trial rounds=$rounds")
        // the canonical fast path (caller-promised DISTINCT a<b edges)
        // must produce the same labels as the messy-input slow path
        val canonical = messy.map { case (a, b) => (a min b, a max b) }
          .filter(p => p._1 != p._2).distinct
        val fast = LabelProp.propagate(canonical.toDF("s", "d"), "s", "d",
            rounds, distinctCanonicalEdges = true)
          .as[(Long, Long)].collect().toMap
        assert(fast == got, s"trial $trial canonical-path divergence")
      }
    }
  }

  test("PageRank.ranks == in-memory integer recurrence on 8 random digraphs") {
    (1 to 8).foreach { trial =>
      val edges = randomEdges(9, 0.22)
      if (edges.nonEmpty) {
        val iters = 1 + rnd.nextInt(4)
        val got = PageRank.ranks(edges.toDF("s", "d"), "s", "d", iters)
          .as[(Long, Long)].collect().toMap
        assert(got == prRef(edges.map(p => (p._1, p._2, 1L)), iters),
          s"trial $trial iters=$iters edges=$edges")
      }
    }
  }

  test("PageRank.ranks == serial twin in all four modes on messy random digraphs") {
    (1 to 6).foreach { trial =>
      // nodes 0..7 carry out-edges; 8 and 9 are reached only as
      // destinations, so they dangle. Duplicates, self-loops and
      // weights in [-2, 5] ride along; (0, 8) always has weight 3, so
      // the weighted graph is never empty and seed 0 is in it.
      val base = (0 until 8).flatMap { a =>
        (0 until 10).filter(_ => rnd.nextDouble() < 0.25).map(b => (a.toLong, b.toLong))
      } :+ ((0L, 8L))
      val noisy = (base ++ base.take(4) ++ Seq((3L, 3L), (5L, 5L)))
        .zipWithIndex.map { case ((a, b), i) =>
          (a, b, if (i == base.size - 1) 3L else rnd.nextInt(8).toLong - 2L)
        }
      // seeds: one surely-present node, some random ones, and two ids
      // absent from every graph
      val seeds = (Seq(0L, 40L, 41L) ++ Seq.fill(2)(rnd.nextInt(10).toLong)).distinct
      // 5..9 iterations: the rank frame is truncated at iteration 4 (and 8)
      val iters = 5 + rnd.nextInt(5)
      for (weighted <- Seq(false, true); seeded <- Seq(None, Some(seeds))) {
        val got = PageRank.ranks(noisy.toDF("s", "d", "w"), "s", "d", iters,
            weightCol = Option.when(weighted)("w"), seeds = seeded.map(_.toDF("n")))
          .as[(Long, Long)].collect().toMap
        assert(got == prRef(noisy, iters, weighted, seeded),
          s"trial $trial weighted=$weighted seeds=$seeded iters=$iters edges=$noisy")
      }
    }
  }
}
