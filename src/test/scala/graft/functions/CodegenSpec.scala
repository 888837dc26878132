package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Pins the crawl-capstone expressions as REAL codegen (r16 verdict
  * item 2): each generates compilable Java through
  * GenerateUnsafeProjection — which THROWS on bad generated code,
  * where a full query would silently fall back to interpreted — and
  * the generated path agrees with the interpreted eval byte for
  * byte. No SparkSession needed: this is the expression layer. */
class CodegenSpec extends AnyFunSuite {

  private val html =
    """<html lang="en"><head><title>T &amp; U</title>
      |<link rel="canonical" href="http://ex.com/c">
      |<meta property="og:type" content="article"></head>
      |<body><h1>Head</h1><p>body <a href="/x">link</a> text</p>
      |<script>drop()</script></body></html>""".stripMargin

  private def genEval(e: org.apache.spark.sql.catalyst.expressions.Expression,
                      input: String): InternalRow = {
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    proj(InternalRow(if (input == null) null else UTF8String.fromString(input)))
      .copy()
  }

  private val in = BoundReference(0, StringType, nullable = true)

  test("html_to_text: generated == interpreted, not CodegenFallback") {
    val e = HtmlToText(in)
    assert(!e.isInstanceOf[CodegenFallback])
    val gen = genEval(e, html).getUTF8String(0)
    assert(gen == e.nullSafeEval(UTF8String.fromString(html)))
    assert(genEval(e, null).isNullAt(0))
  }

  test("html_blocks: generated == interpreted, not CodegenFallback") {
    val e = HtmlBlocks(in)
    assert(!e.isInstanceOf[CodegenFallback])
    val gen = genEval(e, html).getArray(0)
    val int0 = e.nullSafeEval(UTF8String.fromString(html))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(gen.numElements() == int0.numElements())
    (0 until gen.numElements()).foreach { i =>
      val g = gen.getStruct(i, 2); val w = int0.getStruct(i, 2)
      assert(g.getUTF8String(0) == w.getUTF8String(0) && g.getInt(1) == w.getInt(1))
    }
  }

  test("html_meta: generated == interpreted, not CodegenFallback") {
    val e = HtmlMeta(in)
    assert(!e.isInstanceOf[CodegenFallback])
    val gen = genEval(e, html).getStruct(0, 7)
    assert(gen.getUTF8String(0).toString == "T & U")
    assert(gen.getUTF8String(2).toString == "http://ex.com/c")
    assert(gen.getUTF8String(3).toString == "en")
    assert(genEval(e, null).isNullAt(0))
  }

  test("canonical_url: generated == interpreted incl. IDN fold") {
    val e = CanonicalUrl(in)
    assert(!e.isInstanceOf[CodegenFallback])
    for (u <- Seq("HTTP://Ex.COM:80/a/../b#x", "http://bücher.example/p",
        "not a url")) {
      val gen = genEval(e, u).getUTF8String(0)
      assert(gen == e.nullSafeEval(UTF8String.fromString(u)), u)
    }
  }

  test("registered_domain: generated == interpreted incl. null-out") {
    val e = RegisteredDomain(in)
    assert(!e.isInstanceOf[CodegenFallback])
    val gen = genEval(e, "a.example.co.uk").getUTF8String(0)
    assert(gen.toString == "example.co.uk")
    // a public suffix has no registrable domain: generated null path
    assert(genEval(e, "co.uk").isNullAt(0))
    assert(genEval(e, null).isNullAt(0))
  }

  test("crawl_lang_scores: generated == interpreted incl. NULL conf, not CodegenFallback") {
    val e = CrawlLangScores(BoundReference(0, StringType, nullable = true),
      Seq("aa", "bb", "cc"), Seq(Seq("x", "y"), Seq("y"), Nil),
      Seq(Nil, Nil, Seq((0x400, 0x4FF, 2))))
    assert(!e.isInstanceOf[CodegenFallback])
    def interp(t: String): InternalRow = e.eval(InternalRow(
      if (t == null) null else UTF8String.fromString(t))).asInstanceOf[InternalRow]
    for ((t, want) <- Seq(
        "X y x" -> ((3L, "aa", 4L, Some(7500L))), // case-folded word hits
        "y z" -> ((1L, "aa", 2L, Some(5000L))), // aa/bb tie: first wins
        "мир y" -> ((6L, "cc", 8L, Some(7500L))), // script chars × weight
        "" -> ((0L, "aa", 0L, None)))) { // all zero: NULL confidence
      val g = genEval(e, t).getStruct(0, 4)
      val i = interp(t)
      val got = (g.getLong(0), g.getUTF8String(1).toString, g.getLong(2),
        if (g.isNullAt(3)) None else Some(g.getLong(3)))
      assert(got == want, t)
      assert(got == ((i.getLong(0), i.getUTF8String(1).toString, i.getLong(2),
        if (i.isNullAt(3)) None else Some(i.getLong(3)))), t)
    }
    assert(genEval(e, null).isNullAt(0) && interp(null) == null)
  }

  test("kernel-codegen sweep: every converted expression generates and agrees") {
    // the r17 fallback retirement (KernelCodegen traits): for each
    // expression, generate an UnsafeProjection — which THROWS on bad
    // generated Java — and compare against the interpreted eval on a
    // representative input. Covers string-, array-, binary- and
    // struct-free scalar shapes plus the null-result path.
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    def row(vs: Any*): InternalRow = InternalRow(vs: _*)
    def gen(e: Expression, input: InternalRow): InternalRow =
      GenerateUnsafeProjection.generate(Seq(e))(input).copy()
    def interp(e: Expression, input: InternalRow): Any = e.eval(input)
    val sIn = BoundReference(0, StringType, nullable = true)
    val aLongIn = BoundReference(0, ArrayType(LongType, containsNull = false),
      nullable = true)
    val aStrIn = BoundReference(0, ArrayType(StringType, containsNull = true),
      nullable = true)
    val binL = BoundReference(0, BinaryType, nullable = true)
    val binR = BoundReference(1, BinaryType, nullable = true)
    def s(v: String) = UTF8String.fromString(v)
    val hashes = new GenericArrayData(Array[Any](3L, 9L, 1L, 7L))
    val toks = new GenericArrayData(Array[Any](s("a"), s("b"), s("a")))
    val packed = Array[Byte](1,0,0,0,0,0,0,0, 2,0,0,0,0,0,0,0)
    val packed2 = Array[Byte](2,0,0,0,0,0,0,0, 3,0,0,0,0,0,0,0)
    val cases: Seq[(String, Expression, InternalRow)] = Seq(
      ("fold_text", FoldText(sIn), row(s("Café NAÏVE"))),
      ("markdown_to_text", MarkdownToText(sIn), row(s("# H\n\nbody [l](u)"))),
      ("latex_to_text", LatexToText(sIn), row(s("\\section{X} body"))),
      ("rtf_to_text", RtfToText(sIn), row(s("{\\rtf1 hello}"))),
      ("repetition_stats", RepetitionStats(sIn, 2, 3), row(s("a b a b a b"))),
      ("cdc_cuts", CdcCuts(sIn, 4, 16), row(s("abcdefghabcdefgh"))),
      ("rolling_winnow", RollingWinnow(sIn, 3, 4), row(s("sliding window text"))),
      ("unigram_segment", UnigramSegment(sIn, Seq("ab" -> 5L, "a" -> 1L, "b" -> 1L)),
        row(s("abab"))),
      ("bpe_segment", BpeSegment(sIn, Seq(("a", "b"))), row(s("abab"))),
      ("shingle_hashes", ShingleHashes(sIn, 2), row(s("a b c d"))),
      ("minhash_signature", MinHashSignature(aLongIn, Seq(3L, 5L), Seq(7L, 11L)),
        row(hashes)),
      ("simhash64", SimHash64(aStrIn), row(toks)),
      ("pack_longs", PackLongs(aLongIn), row(hashes)),
      ("band_keys", BandKeys(binL, 1, 2), row(packed, null)),
      ("sig_agree", SigAgreeCount(binL, binR), row(packed, packed2)),
      ("packed_intersect", PackedIntersectCount(binL, binR), row(packed, packed2)),
      ("z_value", ZValue(aLongIn, 5), row(new GenericArrayData(Array[Any](3L, 9L)))),
      ("jaro_winkler", JaroWinkler(BoundReference(0, StringType, true),
        BoundReference(1, StringType, true)), row(s("martha"), s("marhta"))),
      ("quantize_int8", QuantizeInt8(BoundReference(0,
        ArrayType(DoubleType, containsNull = false), nullable = true)),
        row(new GenericArrayData(Array[Any](1.0, -2.0, 0.5)))),
      ("robots_allowed", RobotsAllowed(BoundReference(0, StringType, true),
        BoundReference(1, StringType, true), BoundReference(2, StringType, true)),
        row(s("User-agent: *\nDisallow: /x\n"), s("bot"), s("/x/y"))),
      ("robots_sitemaps", RobotsSitemaps(sIn),
        row(s("Sitemap: http://e/s.xml\n"))))
    cases.foreach { case (name, e, input) =>
      assert(!e.isInstanceOf[CodegenFallback], name)
      val g = gen(e, input)
      val w = interp(e, input)
      (w: @unchecked) match {
        case null => assert(g.isNullAt(0), name)
        case _: UTF8String => assert(g.getUTF8String(0) == w, name)
        case l: Long => assert(g.getLong(0) == l, name)
        case i: Int => assert(g.getInt(0) == i, name)
        case b: Boolean => assert(g.getBoolean(0) == b, name)
        case bs: Array[Byte] => assert(g.getBinary(0).sameElements(bs), name)
        case a: ArrayData =>
          val ga = g.getArray(0)
          assert(ga.numElements() == a.numElements(), name)
        case other => // struct-typed kernels are covered by their own tests
          assert(other != null, name)
      }
    }
    // the null-result path through the binary bridge: no declared
    // crawl-delay must come back NULL, not an unboxing NPE
    val rcd = RobotsCrawlDelay(BoundReference(0, StringType, true),
      BoundReference(1, StringType, true))
    assert(gen(rcd, row(s("User-agent: *\nDisallow: /\n"), s("bot"))).isNullAt(0))
    assert(gen(rcd, row(s("User-agent: *\nCrawl-delay: 4\n"), s("bot")))
      .getLong(0) == 4L)
  }
}
