package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Office / eBook container → training text: docx (OOXML
  * WordprocessingML) and epub (OCF + OPF + XHTML) are both "ZIP of
  * XML" formats, so this tier is a thin composition of machinery the
  * engine already trusts — [[Archives.zipMembers]] for the container
  * walk (the same central-directory kernel q268/q269 pin) and
  * [[graft.functions.HtmlToText]] for the XHTML chapters — plus a
  * ~100-line WordprocessingML text walk written from the public
  * ECMA-376 part 1 spec (w:p paragraphs, w:t text runs, w:tab / w:br
  * inline whitespace). Reference analogue: the role
  * StreamXmlRecordReader plays for XML record extraction
  * (`hadoop-tools/hadoop-streaming/src/main/java/org/apache/hadoop/
  * streaming/StreamXmlRecordReader.java:1`), applied to the two
  * document containers a real crawl actually carries.
  *
  * Scale posture: map-only flatMap kernels — container bytes never
  * shuffle; per-payload work is fenced by the ZIP extractor's
  * maxBytes/maxEntries and the text caps here; hostile or truncated
  * containers yield nulls, never a thrown exception. */
object OfficeText {

  // ---------------------------------------------------------------
  // Minimal XML scanning (shared by the docx and epub walks)
  // ---------------------------------------------------------------

  /** Decodes the five XML entities + numeric character references —
    * all a conformant OOXML/OPF emitter produces in text content. */
  private[sources] def xmlUnescape(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val end = s.indexOf(';', i + 1)
        if (end > i && end - i <= 12) {
          val ent = s.substring(i + 1, end)
          val rep = ent match {
            case "amp" => "&"
            case "lt" => "<"
            case "gt" => ">"
            case "quot" => "\""
            case "apos" => "'"
            case _ if ent.startsWith("#x") || ent.startsWith("#X") =>
              try new String(Character.toChars(Integer.parseInt(ent.substring(2), 16)))
              catch { case _: RuntimeException => null }
            case _ if ent.startsWith("#") =>
              try new String(Character.toChars(Integer.parseInt(ent.substring(1))))
              catch { case _: RuntimeException => null }
            case _ => null
          }
          if (rep != null) { sb.append(rep); i = end + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Pulls one attribute value out of a raw tag string (the text
    * between `<` and `>`), namespace-blind on the ATTRIBUTE name the
    * caller passes (pass the exact prefixed form where it matters). */
  private[sources] def attr(tag: String, name: String): Option[String] = {
    val pat = name + "="
    var i = tag.indexOf(pat)
    while (i >= 0) {
      // must start an attribute token (preceded by whitespace)
      if (i > 0 && Character.isWhitespace(tag.charAt(i - 1))) {
        val q = tag.charAt(i + pat.length)
        if (q == '"' || q == '\'') {
          val end = tag.indexOf(q, i + pat.length + 1)
          if (end > 0)
            return Some(xmlUnescape(tag.substring(i + pat.length + 1, end)))
        }
      }
      i = tag.indexOf(pat, i + 1)
    }
    None
  }

  // ---------------------------------------------------------------
  // docx: WordprocessingML → text
  // ---------------------------------------------------------------

  /** word/document.xml → text: one line per `<w:p>` paragraph; inside
    * a paragraph, `<w:t>` run content concatenates (entities decoded,
    * `xml:space="preserve"` runs kept verbatim — leading/trailing
    * space in a non-preserve run is trimmed per ECMA-376 §17.3.3.31),
    * `<w:tab/>` is a tab and `<w:br/>` an in-paragraph newline.
    * Everything else (run properties, fields, drawings) is skipped by
    * tag structure, never regexed out of text. */
  private[sources] def wordMlText(xml: String, maxChars: Int): String = {
    val out = new StringBuilder
    var i = 0
    var inT = false
    var preserve = false
    var emittedPara = false
    def cap = out.length >= maxChars
    while (i < xml.length && !cap) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) { i = xml.length }
      else {
        if (inT && lt > i) {
          val raw = xmlUnescape(xml.substring(i, lt))
          val t = if (preserve) raw else raw.trim
          if (t.nonEmpty || preserve) out.append(t)
        }
        val gt = xml.indexOf('>', lt + 1)
        if (gt < 0) { i = xml.length }
        else {
          val tag = xml.substring(lt + 1, gt)
          // keep a leading '/' (close tag) but stop at the self-close '/'
          val close = tag.startsWith("/")
          val core = (if (close) tag.substring(1) else tag)
            .takeWhile(c => !Character.isWhitespace(c) && c != '/')
          val name = if (close) "/" + core else core
          name match {
            case "w:p" =>
              if (emittedPara) out.append('\n')
              emittedPara = true
            case "w:t" =>
              inT = true
              preserve = attr(tag, "xml:space").contains("preserve")
            case "/w:t" => inT = false
            case "w:tab" => if (!inT) out.append('\t')
            case "w:br" => if (!inT) out.append('\n')
            case _ =>
          }
          i = gt + 1
        }
      }
    }
    if (out.length > maxChars) out.setLength(maxChars)
    out.toString
  }

  /** Full docx decode: ZIP walk → word/document.xml → WordprocessingML
    * text. None when the payload isn't a ZIP or has no document part. */
  def docxText(bytes: Array[Byte], maxChars: Int = 1 << 22): Option[String] =
    try {
      val members = Archives.zipMembers(bytes)
      members.collectFirst {
        case (_, "word/document.xml", body) =>
          wordMlText(new String(body, "UTF-8"), maxChars)
      }
    } catch { case _: Throwable => None }

  // ---------------------------------------------------------------
  // pptx: PresentationML slides → text
  // ---------------------------------------------------------------

  /** One slide's DrawingML → text: `<a:p>` paragraphs become lines,
    * `<a:t>` run content concatenates verbatim (DrawingML text is
    * always space-preserving), `<a:br/>` is an in-paragraph newline.
    * The [[wordMlText]] walk with the a: vocabulary. */
  private[sources] def drawingMlText(xml: String, maxChars: Int): String = {
    val out = new StringBuilder
    var i = 0
    var inT = false
    var emittedPara = false
    def cap = out.length >= maxChars
    while (i < xml.length && !cap) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) { i = xml.length }
      else {
        if (inT && lt > i) out.append(xmlUnescape(xml.substring(i, lt)))
        val gt = xml.indexOf('>', lt + 1)
        if (gt < 0) { i = xml.length }
        else {
          val tag = xml.substring(lt + 1, gt)
          val close = tag.startsWith("/")
          val core = (if (close) tag.substring(1) else tag)
            .takeWhile(c => !Character.isWhitespace(c) && c != '/')
          val name = if (close) "/" + core else core
          name match {
            case "a:p" =>
              if (emittedPara) out.append('\n')
              emittedPara = true
            case "a:t" => inT = true
            case "/a:t" => inT = false
            case "a:br" => if (!inT) out.append('\n')
            case _ =>
          }
          i = gt + 1
        }
      }
    }
    if (out.length > maxChars) out.setLength(maxChars)
    out.toString
  }

  private val SlidePath = "ppt/slides/slide(\\d+)\\.xml".r

  /** Full pptx decode: ZIP walk → ppt/slides/slideN.xml in slide
    * order → DrawingML text per slide; slides join with one `\n`. */
  def pptxText(bytes: Array[Byte], maxChars: Int = 1 << 22): Option[String] =
    try {
      val members = Archives.zipMembers(bytes)
      val slides = members.flatMap { case (_, n, b) =>
        n match {
          case SlidePath(num) => Some((num.toInt, b))
          case _ => None
        }
      }.sortBy(_._1)
      if (slides.isEmpty) return None
      val out = new StringBuilder
      slides.foreach { case (_, b) =>
        if (out.length < maxChars) {
          val t = drawingMlText(new String(b, "UTF-8"), maxChars)
          if (out.nonEmpty) out.append('\n')
          out.append(t)
        }
      }
      if (out.length > maxChars) out.setLength(maxChars)
      Some(out.toString)
    } catch { case _: Throwable => None }

  // ---------------------------------------------------------------
  // xlsx: SpreadsheetML sheets + sharedStrings → text
  // ---------------------------------------------------------------

  /** xl/sharedStrings.xml → the string table: one entry per `<si>`,
    * concatenating every `<t>` inside it (plain and rich-run forms). */
  private[sources] def sharedStringTable(xml: String): IndexedSeq[String] = {
    val out = scala.collection.immutable.IndexedSeq.newBuilder[String]
    var i = 0
    var cur: StringBuilder = null
    var inT = false
    while (i < xml.length) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) { i = xml.length }
      else {
        if (inT && cur != null && lt > i)
          cur.append(xmlUnescape(xml.substring(i, lt)))
        val gt = xml.indexOf('>', lt + 1)
        if (gt < 0) { i = xml.length }
        else {
          val tag = xml.substring(lt + 1, gt)
          val close = tag.startsWith("/")
          val core = (if (close) tag.substring(1) else tag)
            .takeWhile(c => !Character.isWhitespace(c) && c != '/')
          val name = if (close) "/" + core else core
          name match {
            case "si" => cur = new StringBuilder
            case "/si" => if (cur != null) { out += cur.toString; cur = null }
            case "t" => inT = true
            case "/t" => inT = false
            case _ =>
          }
          i = gt + 1
        }
      }
    }
    out.result()
  }

  /** One worksheet's SpreadsheetML → text: `<row>` elements become
    * lines; within a row, cells WITH a value join with one tab in
    * document order (grid position is not reconstructed — a text
    * corpus wants the values, not the layout). Cell types: `t="s"`
    * resolves through the shared-string table, `t="inlineStr"` reads
    * its `<is><t>`, everything else (numbers, `t="str"` formula
    * results, booleans) emits the `<v>` text verbatim. */
  private[sources] def sheetMlText(xml: String, shared: IndexedSeq[String],
                                   maxChars: Int): String = {
    val out = new StringBuilder
    var i = 0
    var cellType: String = null
    var inV = false
    var inIsT = false
    var rowHasCells = false
    var emittedRow = false
    val cell = new StringBuilder
    def cap = out.length >= maxChars
    def flushCell(): Unit = {
      val v =
        if (cellType == "s")
          cell.toString.trim.toIntOption
            .flatMap(k => shared.lift(k)).getOrElse("")
        else cell.toString
      if (v.nonEmpty) {
        if (rowHasCells) out.append('\t')
        out.append(v)
        rowHasCells = true
      }
      cell.setLength(0)
    }
    while (i < xml.length && !cap) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) { i = xml.length }
      else {
        if ((inV || inIsT) && lt > i)
          cell.append(xmlUnescape(xml.substring(i, lt)))
        val gt = xml.indexOf('>', lt + 1)
        if (gt < 0) { i = xml.length }
        else {
          val tag = xml.substring(lt + 1, gt)
          val close = tag.startsWith("/")
          val core = (if (close) tag.substring(1) else tag)
            .takeWhile(c => !Character.isWhitespace(c) && c != '/')
          val name = if (close) "/" + core else core
          name match {
            case "row" =>
              if (emittedRow) out.append('\n')
              emittedRow = true
              rowHasCells = false
            case "c" =>
              cellType = attr(tag, "t").orNull
              cell.setLength(0)
            case "/c" => flushCell()
            case "v" => inV = true
            case "/v" => inV = false
            case "t" => if (cellType == "inlineStr") inIsT = true
            case "/t" => inIsT = false
            case _ =>
          }
          i = gt + 1
        }
      }
    }
    if (out.length > maxChars) out.setLength(maxChars)
    out.toString
  }

  private val SheetPath = "xl/worksheets/sheet(\\d+)\\.xml".r

  /** Full xlsx decode: ZIP walk → sharedStrings table → sheets in
    * sheet-number order → [[sheetMlText]]; sheets join with `\n`. */
  def xlsxText(bytes: Array[Byte], maxChars: Int = 1 << 22): Option[String] =
    try {
      val members = Archives.zipMembers(bytes)
      val shared = members.collectFirst {
        case (_, "xl/sharedStrings.xml", b) =>
          sharedStringTable(new String(b, "UTF-8"))
      }.getOrElse(IndexedSeq.empty)
      val sheets = members.flatMap { case (_, n, b) =>
        n match {
          case SheetPath(num) => Some((num.toInt, b))
          case _ => None
        }
      }.sortBy(_._1)
      if (sheets.isEmpty) return None
      val out = new StringBuilder
      sheets.foreach { case (_, b) =>
        if (out.length < maxChars) {
          val t = sheetMlText(new String(b, "UTF-8"), shared, maxChars)
          if (out.nonEmpty) out.append('\n')
          out.append(t)
        }
      }
      if (out.length > maxChars) out.setLength(maxChars)
      Some(out.toString)
    } catch { case _: Throwable => None }

  // ---------------------------------------------------------------
  // odt: OpenDocument text → text
  // ---------------------------------------------------------------

  /** content.xml → text (ODF 1.2 §5): `<text:p>` and `<text:h>`
    * become lines; character data inside them concatenates (spans
    * and other inline wrappers contribute their text, their tags
    * drop); `<text:tab/>` is a tab, `<text:line-break/>` an
    * in-paragraph newline, `<text:s text:c="n"/>` n spaces
    * (default 1). */
  private[sources] def odfText(xml: String, maxChars: Int): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0 // inside a text:p/text:h when > 0
    var emittedPara = false
    def cap = out.length >= maxChars
    while (i < xml.length && !cap) {
      val lt = xml.indexOf('<', i)
      if (lt < 0) { i = xml.length }
      else {
        if (depth > 0 && lt > i) out.append(xmlUnescape(xml.substring(i, lt)))
        val gt = xml.indexOf('>', lt + 1)
        if (gt < 0) { i = xml.length }
        else {
          val tag = xml.substring(lt + 1, gt)
          val close = tag.startsWith("/")
          val selfClose = tag.endsWith("/")
          val core = (if (close) tag.substring(1) else tag)
            .takeWhile(c => !Character.isWhitespace(c) && c != '/')
          val name = if (close) "/" + core else core
          name match {
            case "text:p" | "text:h" =>
              if (!selfClose) {
                if (depth == 0) {
                  if (emittedPara) out.append('\n')
                  emittedPara = true
                }
                depth += 1
              } else if (depth == 0) {
                // empty self-closed paragraph: still a line boundary
                if (emittedPara) out.append('\n')
                emittedPara = true
              }
            case "/text:p" | "/text:h" => if (depth > 0) depth -= 1
            case "text:tab" => if (depth > 0) out.append('\t')
            case "text:line-break" => if (depth > 0) out.append('\n')
            case "text:s" =>
              if (depth > 0) {
                val nSp = attr(tag, "text:c")
                  .flatMap(_.toIntOption).getOrElse(1)
                var k = 0
                while (k < math.min(nSp, 1 << 12) && !cap) {
                  out.append(' '); k += 1
                }
              }
            case _ =>
          }
          i = gt + 1
        }
      }
    }
    if (out.length > maxChars) out.setLength(maxChars)
    out.toString
  }

  /** Full odt decode: ZIP walk → content.xml → [[odfText]]. */
  def odtText(bytes: Array[Byte], maxChars: Int = 1 << 22): Option[String] =
    try {
      val members = Archives.zipMembers(bytes)
      members.collectFirst {
        case (_, "content.xml", body) =>
          odfText(new String(body, "UTF-8"), maxChars)
      }
    } catch { case _: Throwable => None }

  // ---------------------------------------------------------------
  // epub: OCF container → OPF spine → XHTML chapters → text
  // ---------------------------------------------------------------

  /** Full epub decode, the OCF resolution chain the spec mandates:
    * META-INF/container.xml names the OPF rootfile; the OPF manifest
    * maps ids to hrefs (relative to the OPF's directory); the spine's
    * itemrefs give reading order; each spine document goes through
    * the SAME html_to_text kernel the crawl tier uses. Chapters join
    * with a single newline. */
  def epubText(bytes: Array[Byte], maxChars: Int = 1 << 22): Option[String] =
    try {
      val members = Archives.zipMembers(bytes)
      if (members.isEmpty) return None
      val byName = members.map { case (_, n, b) => n -> b }.toMap
      val container = byName.get("META-INF/container.xml")
        .map(new String(_, "UTF-8")).getOrElse(return None)
      // exact-name open-tag scan: "<item" must not match "<itemref",
      // "<rootfile" must not match "<rootfiles"
      def tags(xml: String, name: String): Seq[String] = {
        val out = Seq.newBuilder[String]
        val pat = "<" + name
        var i = xml.indexOf(pat)
        while (i >= 0) {
          val after = i + pat.length
          val boundary = after < xml.length && {
            val c = xml.charAt(after)
            Character.isWhitespace(c) || c == '/' || c == '>'
          }
          val gt = xml.indexOf('>', i)
          if (gt < 0) return out.result()
          if (boundary) out += xml.substring(i + 1, gt)
          i = xml.indexOf(pat, gt + 1)
        }
        out.result()
      }
      // <rootfile full-path="OEBPS/content.opf" …/>
      val opfPath = tags(container, "rootfile")
        .flatMap(attr(_, "full-path")).headOption.getOrElse(return None)
      val opf = byName.get(opfPath).map(new String(_, "UTF-8")).getOrElse(return None)
      val opfDir = opfPath.lastIndexOf('/') match {
        case -1 => ""
        case k => opfPath.substring(0, k + 1)
      }
      // manifest: <item id=".." href=".." …/> ; spine: <itemref idref=".."/>
      val hrefById: Map[String, String] = tags(opf, "item").flatMap { t =>
        for (id <- attr(t, "id"); href <- attr(t, "href")) yield id -> href
      }.toMap
      val spineHrefs: Seq[String] = tags(opf, "itemref")
        .flatMap(attr(_, "idref")).flatMap(hrefById.get)
      if (spineHrefs.isEmpty) return None
      // chapter text is BODY text: drop the <head> section (its
      // <title> would otherwise duplicate the chapter's <h1>)
      def stripHead(s: String): String = {
        val lo = s.toLowerCase(java.util.Locale.ROOT)
        val h0 = lo.indexOf("<head")
        if (h0 < 0) s
        else {
          val h1 = lo.indexOf("</head>", h0)
          if (h1 < 0) s else s.substring(0, h0) + s.substring(h1 + 7)
        }
      }
      val out = new StringBuilder
      spineHrefs.foreach { href =>
        if (out.length < maxChars) {
          byName.get(opfDir + href).foreach { body =>
            val text = graft.functions.HtmlToText.clean(
              stripHead(new String(body, "UTF-8")))
            if (text != null && text.nonEmpty) {
              if (out.nonEmpty) out.append('\n')
              out.append(text)
            }
          }
        }
      }
      if (out.length > maxChars) out.setLength(maxChars)
      Some(out.toString)
    } catch { case _: Throwable => None }

  // ---------------------------------------------------------------
  // DataFrame kernel + fixture writers
  // ---------------------------------------------------------------

  /** Sniff-and-route over the canonical media frame: ZIP payloads
    * with a word/document.xml part decode as docx, ones with an OCF
    * container as epub; anything else yields nulls. Output: format,
    * total non-directory member count (container-structure pin),
    * extracted text and its length. Map-only, no shuffle. */
  def describeOfficeText(media: DataFrame, maxChars: Int = 1 << 22): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        val members = try Archives.zipMembers(p) catch { case _: Throwable => Nil }
        val names = members.map(_._2).toSet
        val (fmt, text) =
          if (names.contains("word/document.xml"))
            ("docx", docxText(p, maxChars))
          else if (names.exists(_.startsWith("ppt/slides/")))
            ("pptx", pptxText(p, maxChars))
          else if (names.contains("xl/workbook.xml"))
            ("xlsx", xlsxText(p, maxChars))
          else if (names.contains("META-INF/container.xml"))
            ("epub", epubText(p, maxChars))
          else if (names.contains("content.xml") &&
              names.contains("META-INF/manifest.xml"))
            ("odt", odtText(p, maxChars))
          else (null, None)
        (id, Option(fmt).filter(_ => text.isDefined),
          if (text.isDefined) Some(members.length) else None,
          text.map(_.length.toLong), text)
      }
      .toDF("media_id", "format", "n_members", "n_chars", "text")
  }

  /** Deterministic docx writer for the synthesize-and-replay oracle
    * (q286): [Content_Types].xml + _rels/.rels + word/document.xml
    * with one w:p/w:r/w:t per paragraph, entities escaped. Extracted
    * text is exactly `paragraphs.mkString("\n")`. */
  def buildDocx(paragraphs: Seq[String]): Array[Byte] = {
    val doc = new StringBuilder
    doc.append("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\n")
    doc.append("<w:document xmlns:w=\"http://schemas.openxmlformats.org/" +
      "wordprocessingml/2006/main\"><w:body>")
    paragraphs.foreach { p =>
      doc.append("<w:p><w:r><w:t xml:space=\"preserve\">")
        .append(xmlEscape(p)).append("</w:t></w:r></w:p>")
    }
    doc.append("<w:sectPr/></w:body></w:document>")
    zip(Seq(
      "[Content_Types].xml" ->
        ("<?xml version=\"1.0\"?><Types xmlns=\"http://schemas." +
          "openxmlformats.org/package/2006/content-types\">" +
          "<Default Extension=\"xml\" ContentType=\"application/xml\"/>" +
          "<Override PartName=\"/word/document.xml\" ContentType=" +
          "\"application/vnd.openxmlformats-officedocument." +
          "wordprocessingml.document.main+xml\"/></Types>"),
      "_rels/.rels" ->
        ("<?xml version=\"1.0\"?><Relationships xmlns=\"http://schemas." +
          "openxmlformats.org/package/2006/relationships\">" +
          "<Relationship Id=\"rId1\" Type=\"http://schemas.openxmlformats" +
          ".org/officeDocument/2006/relationships/officeDocument\" " +
          "Target=\"word/document.xml\"/></Relationships>"),
      "word/document.xml" -> doc.toString))
  }

  /** Deterministic odt writer (q303): stored `mimetype` first (the
    * ODF package rule, same as OCF), META-INF/manifest.xml, and
    * content.xml with one text:p per paragraph. Extracted text is
    * exactly `paragraphs.mkString("\n")`. */
  def buildOdt(paragraphs: Seq[String]): Array[Byte] = {
    val content =
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>" +
        "<office:document-content xmlns:office=\"urn:oasis:names:tc:" +
        "opendocument:xmlns:office:1.0\" xmlns:text=\"urn:oasis:names:" +
        "tc:opendocument:xmlns:text:1.0\"><office:body><office:text>" +
        paragraphs.map(p =>
          "<text:p>" + xmlEscape(p) + "</text:p>").mkString +
        "</office:text></office:body></office:document-content>"
    zipWithStoredFirst(
      "mimetype" -> "application/vnd.oasis.opendocument.text",
      Seq(
        "META-INF/manifest.xml" ->
          ("<?xml version=\"1.0\"?><manifest:manifest xmlns:manifest=" +
            "\"urn:oasis:names:tc:opendocument:xmlns:manifest:1.0\">" +
            "<manifest:file-entry manifest:full-path=\"/\" manifest:" +
            "media-type=\"application/vnd.oasis.opendocument.text\"/>" +
            "<manifest:file-entry manifest:full-path=\"content.xml\" " +
            "manifest:media-type=\"text/xml\"/></manifest:manifest>"),
        "content.xml" -> content))
  }

  /** Deterministic pptx writer (q299): [Content_Types].xml +
    * ppt/presentation.xml + one slide part per slide, each paragraph
    * a p:sp/p:txBody/a:p/a:r/a:t chain. Extracted text is exactly
    * `slides.map(_.mkString("\n")).mkString("\n")`. */
  def buildPptx(slides: Seq[Seq[String]]): Array[Byte] = {
    val slideFiles = slides.zipWithIndex.map { case (paras, i) =>
      s"ppt/slides/slide${i + 1}.xml" ->
        ("<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>" +
          "<p:sld xmlns:a=\"http://schemas.openxmlformats.org/drawingml/" +
          "2006/main\" xmlns:p=\"http://schemas.openxmlformats.org/" +
          "presentationml/2006/main\"><p:cSld><p:spTree>" +
          paras.map(p => "<p:sp><p:txBody><a:p><a:r><a:t>" +
            xmlEscape(p) + "</a:t></a:r></a:p></p:txBody></p:sp>").mkString +
          "</p:spTree></p:cSld></p:sld>")
    }
    zip(Seq(
      "[Content_Types].xml" ->
        ("<?xml version=\"1.0\"?><Types xmlns=\"http://schemas." +
          "openxmlformats.org/package/2006/content-types\">" +
          "<Default Extension=\"xml\" ContentType=\"application/xml\"/>" +
          "<Override PartName=\"/ppt/presentation.xml\" ContentType=" +
          "\"application/vnd.openxmlformats-officedocument." +
          "presentationml.presentation.main+xml\"/></Types>"),
      "ppt/presentation.xml" ->
        ("<?xml version=\"1.0\"?><p:presentation xmlns:p=\"http://" +
          "schemas.openxmlformats.org/presentationml/2006/main\"/>"))
      ++ slideFiles)
  }

  /** Deterministic xlsx writer (q299): one sheet; all-digit cells
    * write as native NUMBER cells (`<v>` verbatim), everything else
    * through the shared-string table — so both resolution paths are
    * exercised by construction. Extracted text is exactly
    * `rows.map(_.mkString("\t")).mkString("\n")`. */
  def buildXlsx(rows: Seq[Seq[String]]): Array[Byte] = {
    def colName(c: Int): String = {
      var n = c; val sb = new StringBuilder
      while ({ sb.insert(0, ('A' + n % 26).toChar); n = n / 26 - 1; n >= 0 }) ()
      sb.toString
    }
    val strings = rows.flatten.filterNot(_.forall(_.isDigit)).distinct
    val idx = strings.zipWithIndex.toMap
    val ss = "<?xml version=\"1.0\"?><sst xmlns=\"http://schemas." +
      "openxmlformats.org/spreadsheetml/2006/main\" count=\"" +
      strings.length + "\" uniqueCount=\"" + strings.length + "\">" +
      strings.map(s => "<si><t>" + xmlEscape(s) + "</t></si>").mkString +
      "</sst>"
    val sheet = "<?xml version=\"1.0\"?><worksheet xmlns=\"http://schemas." +
      "openxmlformats.org/spreadsheetml/2006/main\"><sheetData>" +
      rows.zipWithIndex.map { case (r, ri) =>
        s"""<row r="${ri + 1}">""" + r.zipWithIndex.map { case (v, ci) =>
          val ref = colName(ci) + (ri + 1)
          if (v.nonEmpty && v.forall(_.isDigit))
            s"""<c r="$ref"><v>$v</v></c>"""
          else
            s"""<c r="$ref" t="s"><v>${idx(v)}</v></c>"""
        }.mkString + "</row>"
      }.mkString + "</sheetData></worksheet>"
    zip(Seq(
      "[Content_Types].xml" ->
        ("<?xml version=\"1.0\"?><Types xmlns=\"http://schemas." +
          "openxmlformats.org/package/2006/content-types\">" +
          "<Default Extension=\"xml\" ContentType=\"application/xml\"/>" +
          "<Override PartName=\"/xl/workbook.xml\" ContentType=" +
          "\"application/vnd.openxmlformats-officedocument." +
          "spreadsheetml.sheet.main+xml\"/></Types>"),
      "xl/workbook.xml" ->
        ("<?xml version=\"1.0\"?><workbook xmlns=\"http://schemas." +
          "openxmlformats.org/spreadsheetml/2006/main\"><sheets>" +
          "<sheet name=\"Sheet1\" sheetId=\"1\"/></sheets></workbook>"),
      "xl/sharedStrings.xml" -> ss,
      "xl/worksheets/sheet1.xml" -> sheet))
  }

  /** Deterministic epub writer (q286): stored `mimetype` first (the
    * OCF rule), META-INF/container.xml → OEBPS/content.opf →
    * chapter XHTML files in spine order. Each chapter extracts as
    * `title\npara…`; chapters join with newlines. */
  def buildEpub(chapters: Seq[(String, Seq[String])]): Array[Byte] = {
    val manifest = chapters.indices.map(i =>
      s"""<item id="c$i" href="chap$i.xhtml" """ +
        "media-type=\"application/xhtml+xml\"/>").mkString
    val spine = chapters.indices.map(i =>
      s"""<itemref idref="c$i"/>""").mkString
    val opf =
      "<?xml version=\"1.0\"?><package xmlns=\"http://www.idpf.org/2007/opf\"" +
        " version=\"3.0\" unique-identifier=\"uid\"><metadata/>" +
        s"<manifest>$manifest</manifest><spine>$spine</spine></package>"
    val chapterFiles = chapters.zipWithIndex.map { case ((title, paras), i) =>
      s"OEBPS/chap$i.xhtml" ->
        ("<?xml version=\"1.0\"?><html xmlns=\"http://www.w3.org/1999/xhtml\">" +
          s"<head><title>${xmlEscape(title)}</title></head><body>" +
          s"<h1>${xmlEscape(title)}</h1>" +
          paras.map(p => s"<p>${xmlEscape(p)}</p>").mkString +
          "</body></html>")
    }
    zipWithStoredFirst(
      "mimetype" -> "application/epub+zip",
      Seq(
        "META-INF/container.xml" ->
          ("<?xml version=\"1.0\"?><container version=\"1.0\" xmlns=\"urn:" +
            "oasis:names:tc:opendocument:xmlns:container\"><rootfiles>" +
            "<rootfile full-path=\"OEBPS/content.opf\" media-type=" +
            "\"application/oebps-package+xml\"/></rootfiles></container>"),
        "OEBPS/content.opf" -> opf) ++ chapterFiles)
  }

  private def xmlEscape(s: String): String =
    s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c => c.toString
    }

  /** A ZIP entry stamped with one fixed local time: the JDK would
    * stamp the write time, and a fixture's bytes must be a pure
    * function of its inputs. setTimeLocal, not setTime(long): the
    * latter converts through the default time zone. */
  private[graft] def zipEntry(name: String): java.util.zip.ZipEntry = {
    val e = new java.util.zip.ZipEntry(name)
    e.setTimeLocal(java.time.LocalDateTime.of(2020, 1, 1, 0, 0))
    e
  }

  private def zip(entries: Seq[(String, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      z.putNextEntry(zipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  /** ZIP with the first entry STORED (uncompressed) — the OCF rule
    * that `mimetype` must be readable by magic-number sniffers. */
  private def zipWithStoredFirst(first: (String, String),
                                 rest: Seq[(String, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    val (name, content) = first
    val bytes = content.getBytes("UTF-8")
    val e = zipEntry(name)
    e.setMethod(java.util.zip.ZipEntry.STORED)
    e.setSize(bytes.length)
    val crc = new java.util.zip.CRC32(); crc.update(bytes)
    e.setCrc(crc.getValue)
    z.putNextEntry(e); z.write(bytes); z.closeEntry()
    rest.foreach { case (n, c) =>
      z.putNextEntry(zipEntry(n))
      z.write(c.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }
}
