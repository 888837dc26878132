package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The whole crawl-language scorer of [[graft.llm.LangId.withCrawlLang]]
  * in ONE expression (`crawl_lang_scores`): one char walk counts every
  * distinct script range, one tokenize+probe pass over the lowered
  * text counts every language's function-word hits, and the per-
  * language scores (hits + Σ range count × weight) reduce to
  * struct<lang_score, pred_lang, lang_total, lang_conf_bp>:
  *   - `lang_score` the winning score, `pred_lang` its language — the
  *     argmax over `langs` in the given (sorted) order, first maximum
  *     wins, so ties and the all-zero row go to the alphabetically
  *     first language;
  *   - `lang_total` the sum of all scores;
  *   - `lang_conf_bp` = lang_score·10000 DIV lang_total, NULL when
  *     lang_total = 0.
  * Tokens are `split(lower(text), "\\s+")` (Java-regex `\s`, case-
  * folded with the root locale); a word counts with multiplicity, and
  * a word in several profiles counts for each. Script ranges are
  * inclusive BMP char ranges, so UTF-16 unit counting equals codepoint
  * counting. Null in → null out; total, never throws.
  *
  * Why the scores stay inside one expression: Catalyst substitutes a
  * projected alias into a filter once PER REFERENCE, `FilterExec`
  * does no common-subexpression elimination, and any higher-order
  * function in a condition takes the whole filter out of whole-stage
  * codegen. A filter on two of these fields therefore costs two kernel
  * calls per row; a filter on a column-level 31-score array summed by
  * an `aggregate` cost one call per score reference and ran outside
  * codegen. Real codegen via [[UnaryKernelCodegen]]; differential-
  * pinned against that array/`aggregate`/`DIV` scorer in LangIdSpec. */
case class CrawlLangScores(child: Expression, langs: Seq[String],
                           words: Seq[Seq[String]],
                           scripts: Seq[Seq[(Int, Int, Int)]])
    extends UnaryExpression with UnaryKernelCodegen {

  require(langs.nonEmpty && words.length == langs.length &&
    scripts.length == langs.length,
    "crawl_lang_scores: one word list and one script list per language")

  override def dataType: DataType = CrawlLangScores.resultType
  override def prettyName: String = "crawl_lang_scores"

  @transient private lazy val ranges: Array[(Int, Int)] =
    scripts.flatten.map(s => (s._1, s._2)).distinct.toArray
  @transient private lazy val los: Array[Int] = ranges.map(_._1)
  @transient private lazy val his: Array[Int] = ranges.map(_._2)
  @transient private lazy val minLo: Int =
    if (los.isEmpty) Int.MaxValue else los.min
  // per language: indexes into `ranges` and their weights
  @transient private lazy val langRanges: Array[Array[Int]] =
    scripts.map(_.map(s => ranges.indexOf((s._1, s._2))).toArray).toArray
  @transient private lazy val langWeights: Array[Array[Long]] =
    scripts.map(_.map(_._3.toLong).toArray).toArray
  @transient private lazy val langNames: Array[UTF8String] =
    langs.map(UTF8String.fromString).toArray

  // word -> the language indexes it counts for
  @transient private lazy val table: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    words.zipWithIndex.foreach { case (ws, k) =>
      ws.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.foreach { w =>
        val prev = m.get(w)
        m.put(w, if (prev == null) Array(k) else prev :+ k)
      }
    }
    m
  }

  // exactly the Java-regex \s class of the `split(…, "\\s+")` tokenizer
  // — NOT Character.isWhitespace, whose wider Unicode set differs
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
      c == '\f' || c == '\r'

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val counts = new Array[Long](los.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i).toInt
      if (c >= minLo) {
        var k = 0
        while (k < los.length) {
          if (c >= los(k) && c <= his(k)) counts(k) += 1
          k += 1
        }
      }
      i += 1
    }
    val scores = new Array[Long](langNames.length)
    val low = s.toLowerCase(java.util.Locale.ROOT)
    val n = low.length
    i = 0
    while (i < n) {
      while (i < n && isWs(low.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(low.charAt(i))) i += 1
      if (i > start) {
        val hit = table.get(low.substring(start, i))
        if (hit != null) {
          var k = 0
          while (k < hit.length) { scores(hit(k)) += 1; k += 1 }
        }
      }
    }
    var best = 0; var total = 0L
    var l = 0
    while (l < scores.length) {
      val rs = langRanges(l); val ws = langWeights(l)
      var r = 0
      while (r < rs.length) { scores(l) += counts(rs(r)) * ws(r); r += 1 }
      if (scores(l) > scores(best)) best = l
      total += scores(l)
      l += 1
    }
    val score = scores(best)
    new GenericInternalRow(Array[Any](score, langNames(best), total,
      if (total > 0) score * 10000 / total else null))
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object CrawlLangScores {
  val resultType: StructType = StructType(Seq(
    StructField("lang_score", LongType, nullable = false),
    StructField("pred_lang", StringType, nullable = false),
    StructField("lang_total", LongType, nullable = false),
    StructField("lang_conf_bp", LongType, nullable = true)))

  def apply(text: Column, langs: Seq[String], words: Seq[Seq[String]],
            scripts: Seq[Seq[(Int, Int, Int)]]): Column =
    ColumnBridge.column(CrawlLangScores(ColumnBridge.expression(text),
      langs, words, scripts))
}
