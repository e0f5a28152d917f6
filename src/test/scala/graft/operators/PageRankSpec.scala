package graft.operators

import graft.SparkTestBase

class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  private val Scale = 1000000000000L

  /** Serial twin of PageRank.ranks' exact integer iteration. */
  private def serial(edges: Seq[(Long, Long)], it: Int): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size.toLong
    val out = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val r0 = Scale / n
    val base = 15L * r0 / 100L
    var r = nodes.map(_ -> r0).toMap
    for (_ <- 1 to it) {
      val contrib = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => r(s) / out(s) }.sum
      }
      val dang = nodes.filterNot(out.contains).map(r).sum
      r = nodes.map(v =>
        v -> (base + 85L * (contrib.getOrElse(v, 0L) + dang / n) / 100L)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], it: Int): Map[Long, Long] =
    PageRank.ranks(edges.toDF("s", "d"), "s", "d", iterations = it)
      .as[(Long, Long)].collect().toMap

  // two triangles bridged, a dangling sink, and a popular hub
  private val g = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 4L),
    (2L, 7L), (5L, 7L), (1L, 7L))

  test("matches the serial integer-exact reference, 1 and 4 iterations") {
    assert(run(g, 1) == serial(g, 1))
    assert(run(g, 4) == serial(g, 4))
  }

  test("periodic lineage truncation (9 iterations crosses it twice) stays exact") {
    assert(run(g, 9) == serial(g, 9))
  }

  test("dangling mass returns uniformly — sink-heavy graph keeps total mass") {
    // star into a sink: without dangling redistribution the sink would
    // absorb everything and total mass would decay by ~85% per round
    val star = Seq((1L, 9L), (2L, 9L), (3L, 9L), (4L, 9L))
    val out = run(star, 5)
    assert(out == serial(star, 5))
    val total = out.values.sum
    // truncation-only drift: far less than 0.01% of scale
    assert(total <= Scale && total > Scale - Scale / 10000)
  }

  test("duplicate and self-loop edges get simple-graph semantics") {
    val noisy = g ++ g ++ Seq((7L, 7L))
    assert(run(noisy, 2) == serial(g.distinct ++ Seq((7L, 7L)), 2))
  }

  test("deterministic across input partitioning") {
    val df1 = g.toDF("s", "d").repartition(1)
    val df8 = g.toDF("s", "d").repartition(8)
    val a = PageRank.ranks(df1, "s", "d", 3).as[(Long, Long)].collect().toMap
    val b = PageRank.ranks(df8, "s", "d", 3).as[(Long, Long)].collect().toMap
    assert(a == b)
    assert(a == serial(g, 3))
  }

  test("ranking order matches the serial reference") {
    val out = run(g, 4)
    val ref = serial(g, 4)
    assert(out.toSeq.sortBy(r => (r._2, r._1)) == ref.toSeq.sortBy(r => (r._2, r._1)))
    // in-cycle node 4 (fed by 3 and 6) retains mass; dangling 7 does not
    assert(out(4L) > out(7L))
  }

  test("an empty graph fails naming the cause, not with / by zero") {
    // each failing call also releases every frame it cached before the
    // failure: nothing it made persistent survives it
    def message(f: => Any): String = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val msg = intercept[IllegalArgumentException](f).getMessage
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty, s"a failing PageRank.ranks left ${leaked.size} RDDs persisted")
      msg
    }
    val none = Seq.empty[(Long, Long, Long)].toDF("s", "d", "w")
    assert(message(PageRank.ranks(none, "s", "d", 1)).contains("graph has no nodes"))
    // every weight <= 0: the weighted edge set is empty after the filter
    val nonPositive = Seq((1L, 2L, 0L), (2L, 3L, -4L)).toDF("s", "d", "w")
    assert(message(PageRank.ranks(nonPositive, "s", "d", 1, weightCol = Some("w")))
      .contains("graph has no nodes"))
    // with seeds, the seed-side message stands
    assert(message(PageRank.ranks(none, "s", "d", 1, seeds = Some(Seq(1L).toDF("n"))))
      .contains("seed set must intersect the graph's node set"))
  }
}
