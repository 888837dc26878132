package graft.llm

import graft.{SparkEntry, SparkSpec}
import graft.functions.CrawlLangScores
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** The curation gate stage ([[Curation.v14Gates]]): the domain
  * blocklist's label-boundary semantics, and the executed-plan cost
  * of the gate filter — it must run inside whole-stage codegen and
  * call the LangId kernel at most twice per row (one call per field
  * it reads). A scores array read through an `aggregate` once put
  * 120 kernel calls in that filter, outside codegen. */
class CurationGateSpec extends SparkSpec {
  import spark.implicits._

  private val block = Seq("bad.example", "spam.test")

  private def enTxt(i: Int): String =
    s"the quick brown fox number $i jumps over the lazy dog and " +
      "keeps running through the quiet morning field without a pause."

  /** v14Gates' input schema, one html page per url. */
  private def pages(urls: Seq[String]) =
    urls.zipWithIndex.map { case (u, i) =>
      (i.toLong, 0, u, "html", enTxt(i), Option.empty[String], 0L, 0L,
        Option.empty[String])
    }.toDF("media_id", "record_idx", "url", "carrier", "text", "x_robots",
      "type0_codes", "type0_unmapped", "canonical")

  /** Every node of an executed plan — through AQE stages and cached
    * relations — with whether a WholeStageCodegenExec runs it. */
  private def nodes(p: SparkPlan, inCodegen: Boolean = false)
      : Seq[(SparkPlan, Boolean)] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, inCodegen)
    case s: QueryStageExec => nodes(s.plan)
    case m: InMemoryTableScanExec => (m, inCodegen) +: nodes(m.relation.cachedPlan)
    case w: WholeStageCodegenExec => nodes(w.child, inCodegen = true)
    case i: InputAdapter => nodes(i.child)
    case other => (other, inCodegen) +: other.children.flatMap(nodes(_, inCodegen))
  }

  private def filters(p: SparkPlan): Seq[(FilterExec, Boolean)] =
    nodes(p).collect { case (f: FilterExec, inCodegen) => (f, inCodegen) }

  private def kernelCalls(f: FilterExec): Int =
    f.condition.collect { case k: CrawlLangScores => k }.size

  private def usesKernel(p: SparkPlan): Boolean = nodes(p).exists { case (n, _) =>
    n.expressions.exists(_.exists(_.isInstanceOf[CrawlLangScores])) }

  test("v14Gates blocklist: exact, subdomain and mixed-case hosts are " +
       "blocked; look-alike, scheme-less and null URLs are not confused") {
    val urls = Seq(
      "http://bad.example/a", // 0: exact match
      "https://sub.bad.example/x", // 1: subdomain
      "HTTP://Sub.BAD.example/x", // 2: mixed case (ADVICE r17)
      "http://spam.test:8080/p", // 3: exact match behind a port
      "http://notbad.example/y", // 4: label boundary, kept
      "http://bad.example.evil.com/z", // 5: blocked name as a prefix, kept
      "bad.example/no-scheme", // 6: no scheme -> empty host, kept
      null) // 7: null URL -> the url gates drop it
    val kept = Curation.v14Gates(pages(urls), block)
      .select("media_id").as[Long].collect().toSet
    assert(kept == Set(4L, 5L, 6L), kept.toString)
    // no blocklist at all: only the null URL drops
    val all = Curation.v14Gates(pages(urls), Nil)
      .select("media_id").as[Long].collect().toSet
    assert(all == (0L to 6L).toSet, all.toString)
  }

  test("v14Gates over parquet: the gate filter runs inside whole-stage " +
       "codegen with at most 2 LangId kernel calls") {
    val dir = java.nio.file.Files.createTempDirectory("gate-plan").toString
    pages((0 until 40).map(i =>
      if (i % 5 == 0) s"http://x$i.bad.example/p" else s"http://ok$i.site/p")
    ).write.mode("overwrite").parquet(dir)
    val df = Curation.v14Gates(spark.read.parquet(dir), block)
    assert(df.collect().length == 32)
    val plan = df.queryExecution.executedPlan
    val gates = filters(plan).filter { case (f, _) => kernelCalls(f) > 0 }
    assert(gates.nonEmpty, s"no filter calls the LangId kernel:\n$plan")
    gates.foreach { case (f, inCodegen) =>
      assert(inCodegen, s"gate filter outside whole-stage codegen:\n$plan")
      assert(kernelCalls(f) <= 2,
        s"gate filter calls the LangId kernel ${kernelCalls(f)} times:\n$plan")
    }
  }

  test("curation entries: no executed filter calls the LangId kernel " +
       "more than twice (q288 and the v11-v17 capstones, sf0.01)") {
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath
    for (q <- Seq("q288_crawl_lang_id", "q315_curation_v11",
        "q320_curation_v12", "q326_curation_v13", "q337_curation_v14",
        "q344_curation_v15", "q353_curation_v16", "q356_redirect_farm_cap",
        "q359_curation_v17")) {
      val df = SparkEntry.queries(q)(spark, sf01)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(usesKernel(plan), s"$q: LangId kernel missing:\n$plan")
      filters(plan).foreach { case (f, _) =>
        assert(kernelCalls(f) <= 2,
          s"$q: a filter calls the LangId kernel ${kernelCalls(f)} times:\n$f")
      }
      spark.catalog.clearCache()
    }
  }
}
