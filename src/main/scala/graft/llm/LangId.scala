package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stopword-profile language identification — the classic n-gram/
  * function-word heuristic (Cavnar & Trenkle's rank-profile idea
  * reduced to its robust core): score each document against a small
  * per-language profile of high-frequency function words and predict
  * the argmax. Function words are the strongest single language
  * signal (they top every language's frequency table and rarely
  * cross languages), and a membership count needs no model file —
  * the profiles are literal constants, so the prediction is
  * deterministic and replayable in plain SQL on any engine.
  *
  * Scale shape: map-only — one pass, no shuffle, no UDF (the scorer
  * is a `filter` higher-order function over the token array); widen
  * upstream if the input is few large files. Ties break to the
  * alphabetically FIRST language (fold in sorted order with >=), so
  * the all-zero score row predicts the first profile language rather
  * than flapping.
  */
object LangId {

  /** Top function words per language — literal, tiny, and stable.
    * Swap in corpus-derived profiles for production use; the
    * prediction logic is profile-agnostic. */
  val DefaultProfiles: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "de", "que", "y", "los", "una", "las", "por"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "他", "不"))

  /** (idCol, pred_lang, score) + one `s_<lang>` column per profile.
    * `score` is the winning profile's matched-token COUNT (with
    * multiplicity — repeated function words are repeated evidence). */
  def predict(df: DataFrame, idCol: String, textCol: String,
              profiles: Map[String, Seq[String]] = DefaultProfiles): DataFrame = {
    require(profiles.nonEmpty, "LangId.predict: need at least one profile")
    val langs = profiles.keys.toSeq.sorted
    val toks = split(lower(col(textCol)), "\\s+")
    val scored = df.select(
      (col(idCol) +: langs.map { l =>
        val words = array(profiles(l).map(lit): _*)
        size(filter(toks, t => array_contains(words, t))).cast("long").as(s"s_$l")
      }): _*)
    // first-in-sorted-order wins ties: the CASE chain tests langs in
    // alphabetical order with >= against all others — the same chain
    // the SQL oracle writes, so tie behavior is engine-identical
    val pred = langs.foldRight(lit(null).cast("string")) { (l, rest) =>
      val geAll = langs.filter(_ != l)
        .map(o => col(s"s_$l") >= col(s"s_$o"))
        .reduceOption(_ && _).getOrElse(lit(true))
      when(geAll, lit(l)).otherwise(rest)
    }
    val best: Column =
      if (langs.size == 1) col(s"s_${langs.head}")
      else greatest(langs.map(l => col(s"s_$l")): _*)
    scored.select(
      (col(idCol) +: pred.as("pred_lang") +: best.as("score") +:
        langs.map(l => col(s"s_$l"))): _*)
  }

  // ---------------------------------------------------------------
  // Crawl-breadth tier (round 14): ~30 languages with confidences
  // ---------------------------------------------------------------

  /** One crawl-language profile: function words (for space-tokenized
    * scripts) plus weighted script-block character ranges — the
    * signal for languages without word boundaries (Thai, CJK) and
    * the Latin-vs-everything discriminator. Languages SHARING a
    * script (ru/uk/bg Cyrillic, ar/fa Arabic) carry the same range
    * at the same weight, so the script term cancels between them and
    * their function words decide. */
  final case class CrawlProfile(words: Seq[String],
                                scripts: Seq[(Char, Char, Int)] = Nil)

  /** The top crawl languages (CommonCrawl's head, fastText lid.176's
    * densest classes): 20 Latin-script, 3 Cyrillic, Greek, 2 Arabic-
    * script, Hebrew, Devanagari, Thai, Hangul, kana+Han. Function
    * words are each language's highest-frequency tokens; kana weighs
    * 3× because it is unique to Japanese while Han is shared with
    * Chinese. Literal constants → the prediction replays in SQL. */
  val CrawlProfiles: Map[String, CrawlProfile] = {
    def w(ws: String*) = CrawlProfile(ws)
    val cyr = Seq(('Ѐ', 'ӿ', 1))
    val arab = Seq(('؀', 'ۿ', 1))
    Map(
      "en" -> w("the", "of", "and", "to", "in", "is", "that", "it", "was", "for"),
      "de" -> w("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit", "sich"),
      "es" -> w("el", "que", "los", "una", "las", "por", "con", "para", "su", "es"),
      "fr" -> w("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"),
      "pt" -> w("o", "que", "do", "da", "em", "um", "para", "com", "não", "uma"),
      "it" -> w("di", "che", "il", "la", "per", "non", "con", "una", "sono", "del"),
      "nl" -> w("de", "het", "een", "van", "en", "dat", "is", "op", "te", "niet"),
      "pl" -> w("nie", "się", "jest", "na", "do", "że", "z", "po", "jak", "co"),
      "cs" -> w("je", "se", "na", "že", "s", "z", "do", "k", "o", "ale"),
      "sv" -> w("och", "att", "det", "som", "en", "på", "är", "av", "för", "med"),
      "da" -> w("og", "det", "at", "en", "den", "til", "er", "som", "på", "de"),
      "no" -> w("og", "det", "som", "en", "på", "er", "av", "til", "ikke", "jeg"),
      "fi" -> w("ja", "on", "ei", "että", "se", "hän", "oli", "mutta", "niin", "kun"),
      "hu" -> w("a", "az", "és", "hogy", "nem", "is", "egy", "ez", "van", "meg"),
      "ro" -> w("și", "de", "la", "cu", "în", "care", "este", "pentru", "nu", "mai"),
      "tr" -> w("bir", "ve", "bu", "için", "de", "da", "ne", "gibi", "çok", "daha"),
      "vi" -> w("của", "và", "là", "có", "không", "được", "cho", "một", "người", "này"),
      "id" -> w("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari", "akan"),
      "ca" -> w("i", "el", "de", "la", "que", "a", "en", "és", "per", "amb"),
      "ru" -> CrawlProfile(Seq("и", "в", "не", "на", "что", "с", "это", "как", "по", "но"), cyr),
      "uk" -> CrawlProfile(Seq("і", "в", "не", "на", "що", "з", "це", "як", "до", "та"), cyr),
      "bg" -> CrawlProfile(Seq("и", "в", "не", "на", "че", "се", "да", "е", "за", "но"), cyr),
      "el" -> CrawlProfile(
        Seq("και", "το", "να", "του", "η", "με", "την", "είναι", "για", "από"),
        Seq(('Ͱ', 'Ͽ', 1))),
      "ar" -> CrawlProfile(
        Seq("في", "من", "على", "أن", "إلى", "عن", "هذا", "مع", "كان", "لا"), arab),
      "fa" -> CrawlProfile(
        Seq("در", "به", "از", "که", "را", "با", "این", "است", "برای", "آن"), arab),
      "he" -> CrawlProfile(
        Seq("של", "את", "על", "לא", "זה", "עם", "הוא", "כל", "גם", "או"),
        Seq(('֐', '׿', 1))),
      "hi" -> CrawlProfile(
        Seq("के", "में", "की", "है", "को", "से", "का", "और", "पर", "नहीं"),
        Seq(('ऀ', 'ॿ', 1))),
      "th" -> CrawlProfile(Nil, Seq(('฀', '๿', 1))),
      "ko" -> CrawlProfile(Nil, Seq(('가', '힣', 1))),
      // ja scores KANA ONLY (×3): kana is unique to Japanese, while a
      // Han term would tie every pure-Chinese text into the ja/zh
      // alphabetical tie-break; typical Japanese runs ≥25% kana, so
      // 3×kana still outweighs its own Han share
      "ja" -> CrawlProfile(Nil,
        Seq(('぀', 'ゟ', 3), ('゠', 'ヿ', 3))),
      "zh" -> CrawlProfile(Nil, Seq(('一', '鿿', 1))))
  }

  /** One deterministic lowercase sample sentence per language — the
    * q288 fixture text and a living document of what each profile
    * keys on. Word-language samples are the profile words themselves
    * (maximal own-score); script languages get a natural phrase. */
  val CrawlSamples: Map[String, String] =
    CrawlProfiles.map { case (l, p) =>
      l -> (l match {
        case "th" => "ประเทศไทยมีภาษาไทยเป็นภาษาราชการ"
        case "ko" => "한국어는 한글로 표기한다"
        case "ja" => "これは日本語のテキストです"
        case "zh" => "这是一段中文文本没有空格"
        case _ => p.words.mkString(" ")
      })
    }

  /** Crawl-breadth prediction with confidence: argmax over the
    * [[CrawlProfiles]] scores (function-word hits + weighted script
    * chars), alphabetical-first tie rule as [[predict]]. Output:
    * (id, pred_lang, score, total, conf_bp) — conf_bp is the
    * winner's share in integer basis points (score·10000 div total,
    * NULL when nothing scored), integer end-to-end so the oracle
    * replays it without ROUND semantics. Map-only, no shuffle. */
  def predictCrawl(df: DataFrame, idCol: String, textCol: String,
                   profiles: Map[String, CrawlProfile] = CrawlProfiles): DataFrame =
    withCrawlLang(df.select(col(idCol), col(textCol)), textCol, profiles)
      .select(col(idCol), col("pred_lang"), col("lang_score").as("score"),
        col("lang_total").as("total"), col("lang_conf_bp").as("conf_bp"))

  /** The composable form of [[predictCrawl]]: appends `lang_score`,
    * `pred_lang`, `lang_total`, `lang_conf_bp` while PRESERVING every
    * existing column — the shape a curation chain needs to gate rows
    * keyed by more than one column without a join. The four columns
    * are the fields of ONE [[graft.functions.CrawlLangScores]] call
    * (one char walk, one tokenize+probe pass); map-only, no shuffle.
    *
    * Cost rule for callers: a filter on these columns inlines the
    * kernel call once per column it references (Catalyst substitutes
    * a projected alias per reference, and `FilterExec` does no
    * common-subexpression elimination), and a higher-order function
    * anywhere in the same condition takes the filter out of whole-
    * stage codegen. Gate on as few of the columns as possible, and
    * keep `transform`/`aggregate`/`filter` lambdas out of the gate. */
  def withCrawlLang(df: DataFrame, textCol: String,
                    profiles: Map[String, CrawlProfile] = CrawlProfiles): DataFrame = {
    require(profiles.nonEmpty, "LangId.withCrawlLang: need at least one profile")
    val langs = profiles.keys.toSeq.sorted
    val scores = graft.functions.CrawlLangScores(col(textCol), langs,
      langs.map(profiles(_).words),
      langs.map(profiles(_).scripts.map { case (from, to, wt) =>
        (from.toInt, to.toInt, wt) }))
    graft.functions.CrawlLangScores.resultType.fieldNames
      .foldLeft(df.withColumn("__lang", scores))((d, f) =>
        d.withColumn(f, col(s"__lang.$f"))).drop("__lang")
  }
}
