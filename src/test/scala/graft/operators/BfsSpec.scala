package graft.operators

import graft.SparkTestBase

class BfsSpec extends SparkTestBase {
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], seeds: Seq[Long], k: Int) =
    Bfs.hops(edges.toDF("s", "d"), "s", "d",
        seeds.toDF("n"), "n", maxHops = k)
      .as[(Long, Long)].collect().toMap

  test("chain graph: hop = distance, truncated at maxHops") {
    val chain = (1L to 5L).sliding(2).map(p => (p(0), p(1))).toSeq
    assert(run(chain, Seq(1L), 2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(run(chain, Seq(1L), 10) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("edges are undirected and min-hop wins over longer paths") {
    // 1-2-3-4 plus shortcut 1-4: node 4 is 1 hop away, not 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(run(edges, Seq(1L), 3) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("multiple seeds expand together; nearest seed sets the hop") {
    val chain = (1L to 7L).sliding(2).map(p => (p(0), p(1))).toSeq
    assert(run(chain, Seq(1L, 7L), 1) ==
      Map(1L -> 0L, 2L -> 1L, 6L -> 1L, 7L -> 0L))
  }

  test("disconnected components stay unreached; isolated seeds stay hop 0") {
    val edges = Seq((1L, 2L), (10L, 11L))
    assert(run(edges, Seq(1L, 99L), 5) ==
      Map(1L -> 0L, 2L -> 1L, 99L -> 0L))
  }

  test("self-loops and duplicate edges are ignored") {
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L))
    assert(run(edges, Seq(1L), 2) == Map(1L -> 0L, 2L -> 1L))
  }

  test("maxHops = 0 returns exactly the seed set") {
    assert(run(Seq((1L, 2L)), Seq(1L), 0) == Map(1L -> 0L))
  }

  test("distinctCanonicalEdges flag is result-identical on canonical input") {
    val rnd = new scala.util.Random(421)
    for (_ <- 1 to 5) {
      val n = 2 + rnd.nextInt(12)
      val raw = Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // canonical distinct a<b — the Edges.coOccurrence output contract
      val canon = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter { case (a, b) => a != b }.distinct
      val seeds = Seq.fill(1 + rnd.nextInt(3))(rnd.nextInt(n).toLong).distinct
      val base = Bfs.hops(canon.toDF("s", "d"), "s", "d",
        seeds.toDF("n"), "n", maxHops = 3).as[(Long, Long)].collect().toMap
      val flagged = Bfs.hops(canon.toDF("s", "d"), "s", "d",
        seeds.toDF("n"), "n", maxHops = 3, distinctCanonicalEdges = true)
        .as[(Long, Long)].collect().toMap
      assert(flagged == base)
    }
  }

  test("loop builds no broadcast relations and hash-joins the adjacency") {
    // heap-discipline anchor: the round-11 per-round broadcast()/count()
    // machinery accumulated driver-built hash relations (freed only by
    // ContextCleaner GC) and anti-scaled with core count on the contract
    // host — the loop must stay broadcast-free, with the frontier joins
    // planned as ShuffledHashJoin against the cached by-`u` adjacency
    // only executions carrying this test's job tag count: suites running
    // in parallel share the session but not the tag
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val tag = s"bfs-spec-${java.util.UUID.randomUUID()}"
    // (the bus delivers an execution's start before its adaptive updates)
    val tagged = scala.collection.mutable.Set.empty[Long]
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        plans.synchronized {
          e match {
            case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
              tagged += s.executionId
              plans += s.physicalPlanDescription
            case u: SparkListenerSQLAdaptiveExecutionUpdate if tagged(u.executionId) =>
              plans += u.physicalPlanDescription
            case _ =>
          }
        }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.addJobTag(tag)
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L))
      assert(run(edges, Seq(1L), 2) ==
        Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L))
      graft.operators.GuardMetrics.drainListenerBus(spark, 10000)
      val all = plans.synchronized(plans.mkString("\n"))
      assert(!all.contains("BroadcastExchange"),
        s"BFS loop must not build broadcast relations:\n$all")
      assert(all.contains("ShuffledHashJoin"),
        s"expected ShuffledHashJoin frontier probes:\n$all")
    } finally {
      spark.sparkContext.removeJobTag(tag)
      spark.sparkContext.removeSparkListener(l)
    }
  }
}
