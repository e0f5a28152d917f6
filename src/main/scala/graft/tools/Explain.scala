package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dump the formatted physical plan of every query to PLANS.md — the
  * audit artifact behind the scale claims (pushdown, broadcast, partial
  * aggregation, TakeOrdered, partition pruning).
  *
  *   sbt "runMain graft.tools.Explain /root/testdata/sf0.001 PLANS.md"
  *
  * With a third+ argument (query names), dumps ONE FILE PER QUERY
  * instead — `<out>/<name><suffix>.txt` with the formatted plan
  * (suffix from SPARK_GRAFT_PLAN_SUFFIX, e.g. "_after") — the
  * per-round optimization evidence format (plans/rNN/).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.length > 2) perQuery(spark, sfDir, out, args.drop(2).toSeq)
    else allQueries(spark, sfDir, out)
    spark.stop()
  }

  private def allQueries(spark: SparkSession, sfDir: String, out: String): Unit = {
    val sb = new StringBuilder
    sb.append("# Physical plans (explain formatted, sf0.001)\n\n")
    sb.append("Generated by `graft.tools.Explain` — regenerate after plan-affecting changes.\n")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      } catch {
        case e: Throwable => sb.append(s"\n## $name\n\nEXPLAIN FAILED: ${e.getMessage}\n")
      }
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[explain] wrote $out")
  }

  private def perQuery(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan =
        try graft.SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: ${e.getMessage}" }
      Files.writeString(Paths.get(outDir, s"$name$suffix.txt"), plan)
      println(s"[explain] wrote $outDir/$name$suffix.txt")
      spark.catalog.clearCache()
    }
  }
}
