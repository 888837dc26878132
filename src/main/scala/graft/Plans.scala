package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Writes PLANS.md: the formatted physical plans of the headline
  * queries at sf0.001 — the reviewable artifact behind PlanSpec's
  * assertions (pushdown, pruning, broadcast, partial agg, top-k).
  */
object Plans {
  /** The session both plan tools ([[Plans]], [[PlanDump]]) run in. */
  private[graft] def planSession(): SparkSession = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // fresh warehouse per run: q53 writes bucketed tables, and a
      // leftover ./spark-warehouse location fails the CREATE
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-plans-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Query `q`'s formatted physical plan at sf0.001. A query whose
    * CONSTRUCTION needs an unavailable side effect still gets a text,
    * so gaps are visible, never silent. */
  private[graft] def planText(spark: SparkSession, q: String): String =
    try SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(FormattedMode).trim
    catch { case e: Throwable =>
      s"(plan unavailable: ${e.getClass.getSimpleName}: ${e.getMessage})"
    }
    finally spark.catalog.clearCache() // fork-point persists per query

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    val spark = planSession()
    // the ENTIRE declared surface, in query order (r10 VERDICT: the
    // curated subset had gone stale against the newest queries)
    val queries = SparkEntry.queries.keys.toSeq
      .sortBy(q => (q.drop(1).takeWhile(_.isDigit).toInt, q))
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans (sf0.001)\n\n")
    sb.append("Generated by `sbt \"runMain graft.Plans\"`. Covers every\n")
    sb.append("`SparkEntry.queries` entry. The scale-critical properties are\n")
    sb.append("asserted in `PlanSpec`; this file is the human-readable\n")
    sb.append("evidence. Plans whose work happens outside one Spark job\n")
    sb.append("(driver-looped rounds, fixture-building stages) show the\n")
    sb.append("RESULT-frame plan — the per-stage plans are pinned by their\n")
    sb.append("operator specs.\n")
    queries.foreach { q =>
      sb.append(s"\n## $q\n\n```\n")
      sb.append(planText(spark, q))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    spark.stop()
    println(s"wrote $out")
  }
}
