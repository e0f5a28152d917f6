package graft.operators

import graft.SparkTestBase
import graft.queries.{CorpusQueries, ExtendedQueries}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}

/** The shuffled fallback path of the broadcast-budgeted graph
  * operators and queries: with the budget forced to 0 every gated join
  * runs as a shuffle join, and results must be identical to the
  * broadcast path. Each budget is set on its own session, so the shared
  * test session's conf never changes.
  */
class GraphConfSpec extends SparkTestBase {

  // two triangles sharing node 3, plus a pendant chain
  private val pairs = Seq(
    (1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (3L, 5L),
    (5L, 6L), (6L, 7L))

  private def edges(s: SparkSession): DataFrame =
    s.createDataFrame(pairs).toDF("s", "d")

  private def withBudget(edgeBudget: Long): SparkSession = {
    val s = spark.newSession()
    s.conf.set(GraphLoop.BroadcastMaxEdgesKey, edgeBudget.toString)
    s
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def broadcastHinted(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
    }.isDefined

  test("default budget reads 5M and the conf key overrides it") {
    val e = edges(spark)
    assert(broadcastHinted(GraphLoop.broadcastUnder(e, 5000000L)))
    assert(!broadcastHinted(GraphLoop.broadcastUnder(e, 5000001L)))
    val small = edges(withBudget(123L))
    assert(broadcastHinted(GraphLoop.broadcastUnder(small, 123L)))
    assert(!broadcastHinted(GraphLoop.broadcastUnder(small, 124L)))
    assert(spark.conf.getOption(GraphLoop.BroadcastMaxEdgesKey).isEmpty)
  }

  test("KCore shuffled fallback (budget 0) matches the broadcast path") {
    def run(s: SparkSession) = rows(KCore.core(edges(s), "s", "d", k = 2).orderBy("node"))
    val bc = run(spark)
    assert(bc == run(withBudget(0L)))
    // sanity: the 2-core is the two fused triangles
    assert(bc.map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("Triangles shuffled fallback (budget 0) matches the broadcast path") {
    def tri(s: SparkSession) = rows(Triangles.count(edges(s), "s", "d"))
    def coef(s: SparkSession) =
      rows(Triangles.clusteringCoefficient(edges(s), "s", "d").orderBy("node"))
    val shuffled = withBudget(0L)
    assert(tri(spark) == tri(shuffled))
    assert(coef(spark) == coef(shuffled))
    assert(tri(spark) == Seq(Row(7L, 8L, 2L))) // 7 nodes, 8 edges, 2 triangles
  }

  private val gatedQueries = Map(
    "q219_negative_edges" -> CorpusQueries.all("q219_negative_edges"),
    "q269_item_similarity" -> ExtendedQueries.all("q269_item_similarity"),
    "q272_assortativity" -> ExtendedQueries.all("q272_assortativity"),
    "q274_modularity" -> ExtendedQueries.all("q274_modularity"))

  for ((name, query) <- gatedQueries.toSeq.sortBy(_._1)) {
    test(s"$name shuffled fallback (budget 0) matches the broadcast path") {
      // the queries leave their shared frames cached: clear them after
      // each run, as Verify and Bench do
      def run(s: SparkSession) = try rows(query(s, sfSmoke)) finally s.catalog.clearCache()
      val bc = run(spark)
      assert(bc.nonEmpty)
      assert(run(withBudget(0L)) == bc)
    }
  }
}
