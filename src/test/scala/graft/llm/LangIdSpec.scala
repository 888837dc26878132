package graft.llm

import graft.SparkSpec

/** The discriminating fixture the synthetic corpus can't provide:
  * real function-word text per language must be identified correctly,
  * and ties must break to the alphabetically first profile. */
class LangIdSpec extends SparkSpec {
  import spark.implicits._

  test("function-word text identifies its language") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog is in a box"),
      (2L, "der Hund ist nicht in das Haus und die Katze"),
      (3L, "le chat est dans la maison et les chiens des villes"),
      (4L, "el perro que y los gatos de una casa por las calles"),
      (5L, "我 是 他 的 朋友 了 在 家 有 不 少 书")).toDF("doc_id", "text")
    val got = LangId.predict(docs, "doc_id", "text")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "zh"), got.toString)
  }

  test("all-zero scores tie-break to the alphabetically first profile") {
    val docs = Seq((1L, "xyzzy plugh")).toDF("doc_id", "text")
    val row = LangId.predict(docs, "doc_id", "text").collect().head
    assert(row.getString(1) == "de" && row.getLong(2) == 0L, row.toString)
  }

  test("multiplicity counts: repeated stopwords are repeated evidence") {
    // 'de' appears in the es profile; 'des' in fr — craft a doc where
    // the raw fr hits outnumber es only through repetition
    val docs = Seq((1L, "des des des de")).toDF("doc_id", "text")
    val row = LangId.predict(docs, "doc_id", "text")
      .select("pred_lang", "s_fr", "s_es").as[(String, Long, Long)].collect().head
    assert(row == (("fr", 3L, 1L)), row.toString)
  }

  test("single-profile edge works and custom profiles apply") {
    val docs = Seq((1L, "foo bar foo")).toDF("doc_id", "text")
    val row = LangId.predict(docs, "doc_id", "text", Map("xx" -> Seq("foo")))
      .collect().head
    assert(row.getString(1) == "xx" && row.getLong(2) == 2L)
  }

  test("crawl tier: every language's sample identifies as itself, with confidence") {
    // the discriminative check across all ~30 profiles: each sample
    // must out-score every OTHER profile (shared-script siblings and
    // stopword collisions included), and score a positive confidence
    val docs = LangId.CrawlSamples.toSeq.sortBy(_._1).zipWithIndex
      .map { case ((lang, sample), i) => (i.toLong, lang, sample) }
      .toDF("doc_id", "lang", "text")
    val got = LangId.predictCrawl(docs, "doc_id", "text")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select("lang", "pred_lang", "score", "total", "conf_bp")
      .as[(String, String, Long, Long, Long)].collect()
    got.foreach { case (lang, pred, score, total, conf) =>
      assert(pred == lang, s"$lang predicted as $pred")
      assert(score > 0 && total >= score, s"$lang score=$score total=$total")
      assert(conf == score * 10000 / total && conf > 0, s"$lang conf=$conf")
    }
    assert(got.length == LangId.CrawlProfiles.size && got.length >= 30)
  }

  test("crawl tier: script discrimination — kana beats Han for Japanese, " +
       "Cyrillic siblings split on function words") {
    val docs = Seq(
      (1L, "吾輩は猫である名前はまだ無い"), // ja: Han + kana mixed
      (2L, "软件工程需要大量的测试"), // zh: Han only
      (3L, "это не так как в прошлом году но что же"), // ru
      (4L, "це не так як у минулому році що й до того"), // uk
      (5L, "mixed latin text with the and of plus ไทยนิดหน่อย")) // en words dominate
      .toDF("doc_id", "text")
    val got = LangId.predictCrawl(docs, "doc_id", "text")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got(1L) == "ja", got.toString) // は/で/あ kana ×3 outweighs Han
    assert(got(2L) == "zh", got.toString)
    assert(got(3L) == "ru" && got(4L) == "uk", got.toString)
    // doc 5: 4 English function words (the/and/of/with) vs 11 Thai
    // chars — Thai script wins on raw chars; pin whichever the rule
    // says so drift is loud: th = 11 > en = 4
    assert(got(5L) == "th", got.toString)
  }

  /** The original 31-score crawl scorer, before any fused kernel: one
    * `regexp_replace` length diff per script range, one higher-order
    * `filter`/`array_contains` over the `\s+` tokens per worded
    * language, the scores in ONE array, `array_max` + `array_position`
    * for the alphabetical-first argmax, an `aggregate` sum and `DIV`
    * basis points, appended as lang_score, pred_lang, lang_total,
    * lang_conf_bp — the reference the fused kernel is pinned to. */
  private def originalCrawlScorer(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val langs = LangId.CrawlProfiles.keys.toSeq.sorted
    val toks = split(lower(col("text")), "\\s+")
    def scriptCount(f: Char, t: Char) =
      (length(col("text")) -
        length(regexp_replace(col("text"), s"[$f-$t]", ""))).cast("long")
    val scores = array(langs.map { l =>
      val p = LangId.CrawlProfiles(l)
      val words = array(p.words.map(lit): _*)
      val wordPart =
        if (p.words.isEmpty) lit(0L)
        else size(filter(toks, t => array_contains(words, t))).cast("long")
      p.scripts.foldLeft(wordPart) { case (acc, (f, t, wt)) =>
        acc + scriptCount(f, t) * wt }
    }: _*)
    val argmax = array_position(col("__scores"), array_max(col("__scores")))
      .cast("int")
    df.withColumn("__scores", scores)
      .withColumn("lang_score", array_max(col("__scores")))
      // guarded: under ANSI, element_at over a null-free array declares
      // a non-null result even for a null index, and the null-text row
      // then fails the projection instead of yielding NULL
      .withColumn("pred_lang", when(argmax.isNotNull,
        element_at(array(langs.map(lit): _*), argmax)))
      .withColumn("lang_total", aggregate(col("__scores"), lit(0L),
        (acc, v) => acc + v))
      .withColumn("lang_conf_bp", expr(
        "CASE WHEN lang_total > 0 THEN lang_score * 10000 DIV lang_total END"))
  }

  private def langById(scored: org.apache.spark.sql.DataFrame)
      : Map[Long, (Any, Any, Any, Any)] =
    scored.select("id", "lang_score", "pred_lang", "lang_total", "lang_conf_bp")
      .collect().map(r => r.getLong(0) -> ((r.get(1), r.get(2), r.get(3), r.get(4))))
      .toMap

  /** Rows every differential below adds to its own inputs: null text,
    * empty text, an all-zero score (→ the first language, conf NULL)
    * and ties — a stopword four profiles share, and Cyrillic script
    * with no function word (ru/uk/bg score equal). */
  private val edgeTexts: Seq[String] =
    Seq(null, "", "xyzzy plugh", "que", "привет мир")

  private def assertFusedMatchesOriginal(texts: Seq[String]): Unit = {
    val all = texts ++ edgeTexts
    val df = all.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val fused = langById(LangId.withCrawlLang(df, "text"))
    val original = langById(originalCrawlScorer(df))
    all.indices.foreach { i =>
      assert(fused(i.toLong) == original(i.toLong),
        s"text $i: ${all(i)}: fused ${fused(i.toLong)} vs original " +
          s"${original(i.toLong)}")
    }
    val base = texts.length
    assert(fused(base.toLong) == ((null, null, null, null)), "null in, null out")
    assert(fused(base + 2L) == ((0L, "ar", 0L, null)), "all-zero row")
    assert(fused(base + 3L) == ((1L, "ca", 4L, 2500L)), "ca/es/fr/pt tie")
    assert(fused(base + 4L) == ((9L, "bg", 27L, 3333L)), "bg/ru/uk tie")
  }

  test("single-pass CrawlLangScores agrees with the original regexp_replace " +
       "scorer on every profile range (differential)") {
    assertFusedMatchesOriginal(LangId.CrawlSamples.values.toSeq ++ Seq(
      "plain ascii only",
      "mixed это ไทย 한국어 かな 中文 ωμέγα עברית مرحبا हिन्दी",
      "", "😀 emoji outside every block 🎉",
      "edge chars: Ѐӿ฀๿぀ゟ"))
  }

  test("single-pass CrawlLangScores agrees with the original filter/" +
       "array_contains scorer on every profile (differential)") {
    assertFusedMatchesOriginal(LangId.CrawlSamples.values.toSeq ++ Seq(
      "the the THE tHe of and", // multiplicity + case folding
      "  leading and trailing  ", // \s+ split's empty-token edge
      "de het een the der die el que", // words shared across profiles
      "tabs\tand\nnewlines the of", "", "no stopwords here xyzzy"))
  }
}
