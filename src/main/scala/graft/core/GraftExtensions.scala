package graft.core

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.functions.{CosineSimilarity, MinHashSignature, RepetitionStats, RollingWinnow, ShingleHashes, SimHash64}

/** SQL surface for the engine's native expressions: registers
  * `cosine_similarity`, `simhash64`, `shingle_hashes` (and a
  * default-family `minhash_signature`) so `spark.sql` users get the
  * same codegen'd kernels as the DataFrame API.
  *
  * Two registration paths:
  *  - `withExtensions(new GraftExtensions)` at session build time
  *    (the `SparkSessionExtensions` route — survives `newSession()`);
  *  - [[GraftExtensions.register]] on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.definitions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "scala_udf")

  // SQL users hand in array<float> (the embeddings fixture's type) or
  // array<double>; normalize to double so the kernel's getDouble reads
  // are always valid.
  private def asDoubles(e: Expression): Expression =
    Cast(e, ArrayType(DoubleType))

  // the int knobs of these functions are baked into the expression at
  // plan time (they size per-row JVM buffers), so they must be
  // literals; a column reference would otherwise surface as an opaque
  // internal eval() failure — name the parameter instead
  private def intLiteral(fn: String, param: String, e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$fn: argument '$param' must be a literal integer, got non-foldable " +
          s"expression ${e.sql}")
    e.eval() match {
      case n: Number => n.intValue
      case null => throw new IllegalArgumentException(
        s"$fn: argument '$param' must be a literal integer, got NULL")
      case _ => throw new IllegalArgumentException(
        s"$fn: argument '$param' must be a literal integer, got ${e.sql}")
    }
  }

  val definitions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity",
      info("cosine_similarity", "cosine_similarity(a, b) - cosine of two numeric arrays"),
      (es: Seq[Expression]) => CosineSimilarity(asDoubles(es(0)), asDoubles(es(1)))),
    ("simhash64",
      info("simhash64", "simhash64(tokens) - 64-bit simhash of a string array"),
      (es: Seq[Expression]) => SimHash64(es.head)),
    ("shingle_hashes",
      info("shingle_hashes", "shingle_hashes(text, n) - distinct 31-bit word n-gram hashes"),
      (es: Seq[Expression]) => ShingleHashes(es.head,
        intLiteral("shingle_hashes", "n", es(1)))),
    ("minhash_signature",
      info("minhash_signature", "minhash_signature(hashes) - 64-wide minhash signature (engine hash family)"),
      (es: Seq[Expression]) => MinHashSignature(es.head,
        graft.llm.Dedup.hashFamilyA, graft.llm.Dedup.hashFamilyB)),
    ("repetition_stats",
      info("repetition_stats",
        "repetition_stats(text, topN, dupN) - struct of dup-line/n-gram repetition counts"),
      (es: Seq[Expression]) => RepetitionStats(es.head,
        intLiteral("repetition_stats", "topN", es(1)),
        intLiteral("repetition_stats", "dupN", es(2)))),
    ("rolling_winnow",
      info("rolling_winnow",
        "rolling_winnow(text, k, w) - sorted distinct winnowing fingerprints (base-263 rolling hash)"),
      (es: Seq[Expression]) => RollingWinnow(es.head,
        intLiteral("rolling_winnow", "k", es(1)),
        intLiteral("rolling_winnow", "w", es(2)))),
    ("cdc_cuts",
      info("cdc_cuts",
        "cdc_cuts(text, k, mod) - content-defined chunk end positions (k-char rolling hash ≡ 0 mod `mod`)"),
      (es: Seq[Expression]) => graft.functions.CdcCuts(es.head,
        intLiteral("cdc_cuts", "k", es(1)),
        intLiteral("cdc_cuts", "mod", es(2)))),
    ("jaro_winkler",
      info("jaro_winkler",
        "jaro_winkler(a, b) - Jaro-Winkler similarity (p=0.1, prefix<=4, boost threshold 0.7)"),
      (es: Seq[Expression]) => graft.functions.JaroWinkler(es.head, es(1))),
    ("fold_text",
      info("fold_text",
        "fold_text(s) - Unicode fold: NFC + strip diacritic marks + root-locale lower"),
      (es: Seq[Expression]) => graft.functions.FoldText(es.head)),
    ("html_to_text",
      info("html_to_text",
        "html_to_text(s) - HTML extraction: tags/script/style/comments drop, entities decode, block tags break lines"),
      (es: Seq[Expression]) => graft.functions.HtmlToText(es.head)),
    ("robots_allowed",
      info("robots_allowed",
        "robots_allowed(rules, agent, path) - RFC 9309 decision: group selection, longest-pattern match, * wildcard and $ anchor, tie -> allow"),
      (es: Seq[Expression]) => graft.functions.RobotsAllowed(es(0), es(1), es(2))),
    ("html_blocks",
      info("html_blocks",
        "html_blocks(s) - array<struct<text, link_chars>>: block-level segments with anchor-text accounting (main-content extraction input)"),
      (es: Seq[Expression]) => graft.functions.HtmlBlocks(es.head)),
    ("canonical_url",
      info("canonical_url",
        "canonical_url(s) - RFC 3986 normalization: case, default ports, dot-segments, percent-encoding; fragment dropped"),
      (es: Seq[Expression]) => graft.functions.CanonicalUrl(es.head)),
    ("html_meta",
      info("html_meta",
        "html_meta(s) - struct<title, description, canonical, lang, og array<struct<property,content>>, jsonld array<string>>: page-level metadata (first-wins scalars, OpenGraph/Twitter pairs in order, raw JSON-LD blocks)"),
      (es: Seq[Expression]) => graft.functions.HtmlMeta(es.head)),
    ("registered_domain",
      info("registered_domain",
        "registered_domain(host) - eTLD+1 via the public-suffix-list algorithm (full bundled snapshot); null when the host IS a public suffix or invalid"),
      (es: Seq[Expression]) => graft.functions.RegisteredDomain(es.head)),
    ("public_suffix",
      info("public_suffix",
        "public_suffix(host) - the public suffix a host registers under (same PSL walk as registered_domain); null only for invalid hosts"),
      (es: Seq[Expression]) => graft.functions.PublicSuffixOf(es.head)),
    ("meta_refresh_url",
      info("meta_refresh_url",
        "meta_refresh_url(html) - the first meta http-equiv=refresh redirect target (WHATWG content rule, url= optional, quotes tolerated); null when the page has none or it reloads self"),
      (es: Seq[Expression]) => graft.functions.MetaRefreshUrl(es.head)),
    ("strip_tracking_params",
      info("strip_tracking_params",
        "strip_tracking_params(url) - drop utm_* and well-known click/campaign ids (fbclid, gclid, mc_cid, ...) from the query; surviving params keep their order; compose with canonical_url for the dedup key"),
      (es: Seq[Expression]) => graft.functions.StripTrackingParams(es.head)))

  /** Register the functions an already-built session lacks. A session
    * built `withExtensions(new GraftExtensions)` has them all, so this
    * registers nothing there — replacing them would log one "replaced
    * a previously registered function" WARN per name. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    definitions.foreach { case (name, info, builder) =>
      val id = FunctionIdentifier(name)
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}
