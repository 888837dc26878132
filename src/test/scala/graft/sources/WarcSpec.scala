package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Pins [[Warc]] — the crawl container walk — on hand-built WARC
  * bytes (plain, gzip whole-file AND Common-Crawl member-per-record
  * gzip), HTTP payload parsing, and the hostile posture. */
class WarcSpec extends SparkSpec {
  import spark.implicits._
  import Warc._

  private def record(wtype: String, uri: String, payload: Array[Byte],
                     extra: String = ""): Array[Byte] = {
    val hdr = (s"WARC/1.0\r\nWARC-Type: $wtype\r\n" +
      (if (uri != null) s"WARC-Target-URI: $uri\r\n" else "") + extra +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1")
    hdr ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
  }

  private def httpResponse(status: Int, ctype: String, body: String): Array[Byte] =
    (s"HTTP/1.1 $status OK\r\nContent-Type: $ctype\r\n" +
      s"Content-Length: ${body.getBytes("UTF-8").length}\r\n\r\n").getBytes("ISO-8859-1") ++
      body.getBytes("UTF-8")

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  test("parseWarcRecords walks records; response records parse HTTP status/type/body") {
    val warc =
      record("warcinfo", null, "software: test\r\n".getBytes) ++
      record("request", "http://ex.com/a",
        "GET /a HTTP/1.1\r\nHost: ex.com\r\n\r\n".getBytes) ++
      record("response", "http://ex.com/a",
        httpResponse(200, "text/html; charset=utf-8", "<p>hello</p>")) ++
      record("response", "http://ex.com/b",
        httpResponse(404, "text/html", "<p>nope</p>"))
    val rs = parseWarcRecords(warc).get
    assert(rs.map(_.warcType) == Seq("warcinfo", "request", "response", "response"))
    assert(rs(2).targetUri == "http://ex.com/a")
    assert(rs(2).httpStatus == Some(200))
    assert(rs(2).contentType == Some("text/html; charset=utf-8"))
    assert(new String(rs(2).body, "UTF-8") == "<p>hello</p>")
    assert(rs(3).httpStatus == Some(404))
    // non-response records carry no HTTP fields
    assert(rs(0).httpStatus.isEmpty && rs(1).httpStatus.isEmpty)
    // gzip whole-file and member-per-record both decode to the same walk
    assert(parseWarcRecords(gzip(warc)).get.map(_.warcType) ==
      rs.map(_.warcType))
    val perRecord =
      gzip(record("warcinfo", null, "software: cc\r\n".getBytes)) ++
      gzip(record("response", "http://ex.com/c",
        httpResponse(200, "text/html", "<p>cc</p>")))
    val cc = parseWarcRecords(perRecord).get
    assert(cc.size == 2 && new String(cc(1).body, "UTF-8") == "<p>cc</p>")
  }

  test("refusals, truncation clamp, hostile bytes") {
    assert(parseWarcRecords(null).isEmpty)
    assert(parseWarcRecords("not a warc".getBytes).isEmpty)
    val warc = record("response", "http://x/",
      httpResponse(200, "text/html", "<p>t</p>")) ++
      record("metadata", "http://x/", "k: v\r\n".getBytes)
    // truncation keeps whole records before the cut, never throws
    (1 until warc.length by 7).foreach(n => parseWarcRecords(warc.take(n)))
    assert(parseWarcRecords(warc.take(warc.length - 10)).get.size >= 1)
    val rnd = new scala.util.Random(64)
    (1 to 300).foreach { k =>
      val c = warc.clone()
      (0 to k % 4).foreach(_ => c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte)
      parseWarcRecords(c)
    }
    // a lying Content-Length (beyond EOF) clamps, no throw
    val lying = ("WARC/1.0\r\nWARC-Type: metadata\r\n" +
      "Content-Length: 99999\r\n\r\nshort").getBytes
    assert(parseWarcRecords(lying).get.head.contentLength == 99999L)
  }

  test("describeWarc lists; warcHtmlText extracts only 2xx text/html") {
    val warc =
      record("response", "http://ex.com/good",
        httpResponse(200, "text/html", "<h1>Title</h1><p>body &amp; text</p>")) ++
      record("response", "http://ex.com/miss",
        httpResponse(404, "text/html", "<p>gone</p>")) ++
      record("response", "http://ex.com/img",
        httpResponse(200, "image/png", "fakepng")) ++
      record("request", "http://ex.com/good", "GET / HTTP/1.1\r\n\r\n".getBytes)
    val media = Multimodal.asMedia(
      Seq((1L, warc), (2L, "junk".getBytes)).toDF("id", "bytes"),
      "id", "bytes", "warc")
    val listing = Warc.describeWarc(media).orderBy("media_id", "record_idx")
      .as[(Long, Int, String, Option[String], Long, Option[Int], Option[String])]
      .collect().toSeq
    assert(listing.size == 4 && listing.map(_._3) ==
      Seq("response", "response", "response", "request"))
    val text = Warc.warcHtmlText(media)
      .as[(Long, Int, Option[String], String, String)].collect().toSeq
    assert(text == Seq((1L, 0, Some("http://ex.com/good"), "utf-8",
      "Title\nbody & text")))
  }

  test("parseWarcOutcome names why every walk ends — fences are loud") {
    val good = record("response", "http://x/",
      httpResponse(200, "text/html", "<p>t</p>")) ++
      record("metadata", "http://x/", "k: v\r\n".getBytes)
    assert(parseWarcOutcome(good).endReason == "ok")
    assert(parseWarcOutcome(good).records.size == 2)
    assert(parseWarcOutcome(null).endReason == "empty")
    assert(parseWarcOutcome("not a warc at all".getBytes).endReason == "not_warc")
    // record cap: stopped WITH data remaining -> record_cap, not ok
    val capped = parseWarcOutcome(good, maxRecords = 1)
    assert(capped.records.size == 1 && capped.endReason == "record_cap")
    // lying Content-Length -> truncated (record kept, walk named)
    val lying = ("WARC/1.0\r\nWARC-Type: metadata\r\n" +
      "Content-Length: 99999\r\n\r\nshort").getBytes
    assert(parseWarcOutcome(lying).endReason == "truncated")
    assert(parseWarcOutcome(lying).records.size == 1)
    // per-record body fence -> bodyTruncated flag + count
    val cut = parseWarcOutcome(good, maxBody = 4)
    assert(cut.records.head.bodyTruncated && cut.truncatedBodies == 1)
    assert(cut.endReason == "ok")
    // a cell that inflates past 64 MB streams record by record like
    // any other: no whole-container inflate, so no cell fence. 70 MB
    // of zeros gzips tiny.
    val big = record("metadata", "http://big/", new Array[Byte](70 << 20))
    val bigGz = gzip(big)
    assert(bigGz.length < (1 << 20))
    assert(parseWarcOutcome(bigGz).endReason == "ok")
    assert(parseWarcOutcome(bigGz).records.map(_.contentLength) == Seq(70L << 20))
  }

  test("over-fence gzip WARC increments a named counter instead of vanishing") {
    val good = record("response", "http://ex.com/a",
      httpResponse(200, "text/html", "<p>ok</p>"))
    val bigGz = gzip(record("metadata", "http://big/", new Array[Byte](70 << 20)))
    val media = Multimodal.asMedia(
      Seq((1L, good), (2L, bigGz), (3L, "junk".getBytes))
        .toDF("id", "bytes"), "id", "bytes", "warc")
    val (df, obs) = Warc.warcHtmlTextObserved(media)
    val rows = df.collect()
    assert(rows.length == 1) // only the good page
    val m = obs.get
    assert(m("containers") == 3L)
    assert(m("containers_dropped") == 1L) // the junk; the big gzip streams
    assert(m("rows_out") == 1L)
    assert(m("bodies_truncated") == 0L)
    // body fence cuts are counted too
    val (df2, obs2) = Warc.warcHtmlTextObserved(media, maxBody = 4)
    assert(df2.collect().length == 0)
    assert(obs2.get("bodies_truncated") == 1L)
  }

  test("charset-aware decode: HTTP header, meta sniff, fallback") {
    // ISO-8859-1 declared in the HTTP header: 0xE9 is é
    val latin = record("response", "http://x/latin",
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=ISO-8859-1\r\n\r\n")
        .getBytes("ISO-8859-1") ++ Array(0xE9.toByte) ++ "<p>fin</p>".getBytes)
    // windows-1251 declared only in a <meta charset>: 0xFF is я
    val metaBody = "<meta charset=\"windows-1251\"><p>".getBytes("ISO-8859-1") ++
      Array(0xFF.toByte) ++ "</p>".getBytes
    val meta = record("response", "http://x/meta",
      "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n".getBytes("ISO-8859-1") ++
        metaBody)
    // bogus charset name: falls back to utf-8, never throws
    val bogus = record("response", "http://x/bogus",
      ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=no-such-cs\r\n\r\n" +
        "<p>ok</p>").getBytes("ISO-8859-1"))
    val media = Multimodal.asMedia(
      Seq((1L, latin), (2L, meta), (3L, bogus)).toDF("id", "bytes"),
      "id", "bytes", "warc")
    val out = Warc.warcHtmlText(media).orderBy("media_id")
      .as[(Long, Int, Option[String], String, String)].collect().toSeq
    assert(out(0)._4 == "iso-8859-1" && out(0)._5 == "é\nfin")
    assert(out(1)._4 == "windows-1251" && out(1)._5 == "я")
    assert(out(2)._4 == "utf-8" && out(2)._5 == "ok")
  }

  test("streaming path reader: record parity with the cell path, no total-size fence") {
    val dir = java.nio.file.Files.createTempDirectory("warcspec").toFile
    try {
      val warc =
        record("warcinfo", null, "software: test\r\n".getBytes) ++
        record("request", "http://ex.com/a", "GET /a HTTP/1.1\r\n\r\n".getBytes) ++
        record("response", "http://ex.com/a",
          httpResponse(200, "text/html; charset=utf-8", "<p>hello</p>")) ++
        record("response", "http://ex.com/b",
          httpResponse(404, "text/html", "<p>nope</p>"))
      // member-per-record gzip, the Common Crawl form
      val f1 = new java.io.File(dir, "a.warc.gz")
      val memberGz = gzip(record("warcinfo", null, "software: cc\r\n".getBytes)) ++
        gzip(record("response", "http://ex.com/c",
          httpResponse(200, "text/html", "<p>cc &amp; co</p>")))
      java.nio.file.Files.write(f1.toPath, memberGz)
      val f2 = new java.io.File(dir, "b.warc")
      java.nio.file.Files.write(f2.toPath, warc)
      val f3 = new java.io.File(dir, "c.txt")
      java.nio.file.Files.write(f3.toPath, "not a warc".getBytes)
      val paths = Seq(f1, f2, f3).map(_.getAbsolutePath)
      val listed = Warc.describeWarcPaths(spark, paths)
        .orderBy("path", "record_idx")
        .select("record_idx", "warc_type", "target_uri", "http_status")
        .as[(Int, String, Option[String], Option[Int])].collect().toSeq
      assert(listed == Seq(
        (0, "warcinfo", None, None),
        (1, "response", Some("http://ex.com/c"), Some(200)),
        (0, "warcinfo", None, None),
        (1, "request", Some("http://ex.com/a"), None),
        (2, "response", Some("http://ex.com/a"), Some(200)),
        (3, "response", Some("http://ex.com/b"), Some(404))))
      val text = Warc.warcPathsHtmlText(spark, paths)
        .orderBy("path", "record_idx")
        .select("record_idx", "url", "charset", "text")
        .as[(Int, Option[String], String, String)].collect().toSeq
      assert(text == Seq(
        (1, Some("http://ex.com/c"), "utf-8", "cc & co"),
        (2, Some("http://ex.com/a"), "utf-8", "hello")))
      // the cell fence does NOT apply: a container inflating past
      // 64 MB streams fully (memory stays bounded per record — only
      // min(clen, max(maxBody, 8K)) payload bytes are ever resident)
      val f4 = new java.io.File(dir, "big.warc.gz")
      val bigGz = gzip(record("metadata", "http://big/",
        new Array[Byte](70 << 20)) ++
        record("response", "http://ex.com/after",
          httpResponse(200, "text/html", "<p>after the big one</p>")))
      java.nio.file.Files.write(f4.toPath, bigGz)
      val bigListing = Warc.describeWarcPaths(spark, Seq(f4.getAbsolutePath))
        .orderBy("record_idx")
        .select("record_idx", "warc_type", "content_length")
        .as[(Int, String, Long)].collect().toSeq
      assert(bigListing == Seq(
        (0, "metadata", (70L << 20)),
        (1, "response", 44L + 4 + 16 + "<p>after the big one</p>".length)))
      val bigText = Warc.warcPathsHtmlText(spark, Seq(f4.getAbsolutePath))
        .select("text").as[String].collect().toSeq
      assert(bigText == Seq("after the big one"))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("zstd door: .warc.zst streams through the same walk — whole-file " +
       "AND concatenated frame-per-record forms") {
    val dir = java.nio.file.Files.createTempDirectory("warczst").toFile
    try {
      def zst(b: Array[Byte]): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        val z = new com.github.luben.zstd.ZstdOutputStream(bos)
        z.write(b); z.close(); bos.toByteArray
      }
      val r1 = record("warcinfo", null, "software: zs\r\n".getBytes)
      val r2 = record("response", "http://ex.com/z",
        httpResponse(200, "text/html; charset=utf-8", "<p>zstd page</p>"))
      val fWhole = new java.io.File(dir, "a.warc.zst")
      java.nio.file.Files.write(fWhole.toPath, zst(r1 ++ r2))
      // frame-per-record — the zstd analog of Common Crawl's
      // member-per-record gzip
      val fFrames = new java.io.File(dir, "b.warc.zst")
      java.nio.file.Files.write(fFrames.toPath, zst(r1) ++ zst(r2))
      val text = Warc.warcPathsHtmlText(spark,
          Seq(fWhole, fFrames).map(_.getAbsolutePath))
        .orderBy("path", "record_idx")
        .select("record_idx", "url", "text")
        .as[(Int, Option[String], String)].collect().toSeq
      assert(text == Seq(
        (1, Some("http://ex.com/z"), "zstd page"),
        (1, Some("http://ex.com/z"), "zstd page")))
      // a truncated zstd frame is a LOUD outcome, not a hang or a
      // silent drop
      val whole = zst(r1 ++ r2)
      val fCut = new java.io.File(dir, "c.warc.zst")
      java.nio.file.Files.write(fCut.toPath, whole.take(whole.length / 2))
      val (cutDf, obs) = Warc.warcPathsHtmlTextObserved(spark,
        Seq(fCut.getAbsolutePath))
      cutDf.collect() // force the walk; must not throw or hang
      val m = obs.get
      assert(m("containers") == 1L)
      val loud = m("containers_dropped").asInstanceOf[Long] +
        m("containers_truncated").asInstanceOf[Long]
      assert(loud == 1L)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("bzip2 door: .warc.bz2 streams through the same walk, " +
       "concatenated members included") {
    val dir = java.nio.file.Files.createTempDirectory("warcbz2").toFile
    try {
      def bz2(b: Array[Byte]): Array[Byte] = {
        val bos = new java.io.ByteArrayOutputStream()
        val z = new org.apache.commons.compress.compressors.bzip2
          .BZip2CompressorOutputStream(bos)
        z.write(b); z.close(); bos.toByteArray
      }
      val r1 = record("warcinfo", null, "software: bz\r\n".getBytes)
      val r2 = record("response", "http://ex.com/b",
        httpResponse(200, "text/html; charset=utf-8", "<p>bzip2 page</p>"))
      val fWhole = new java.io.File(dir, "a.warc.bz2")
      java.nio.file.Files.write(fWhole.toPath, bz2(r1 ++ r2))
      val fMembers = new java.io.File(dir, "b.warc.bz2")
      java.nio.file.Files.write(fMembers.toPath, bz2(r1) ++ bz2(r2))
      val text = Warc.warcPathsHtmlText(spark,
          Seq(fWhole, fMembers).map(_.getAbsolutePath))
        .orderBy("path", "record_idx")
        .select("record_idx", "url", "text")
        .as[(Int, Option[String], String)].collect().toSeq
      assert(text == Seq(
        (1, Some("http://ex.com/b"), "bzip2 page"),
        (1, Some("http://ex.com/b"), "bzip2 page")))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("xz door: .warc.xz streams through the same walk") {
    val dir = java.nio.file.Files.createTempDirectory("warcxz").toFile
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new org.apache.commons.compress.compressors.xz
        .XZCompressorOutputStream(bos)
      z.write(record("response", "http://ex.com/x",
        httpResponse(200, "text/html", "<p>xz page</p>")))
      z.close()
      val f = new java.io.File(dir, "a.warc.xz")
      java.nio.file.Files.write(f.toPath, bos.toByteArray)
      val text = Warc.warcPathsHtmlText(spark, Seq(f.getAbsolutePath))
        .select("text").as[String].collect().toSeq
      assert(text == Seq("xz page"))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("streaming reader: a zero-record FILE increments the paths counters") {
    val dir = java.nio.file.Files.createTempDirectory("warcspec3").toFile
    try {
      val good = record("response", "http://ex.com/a",
        httpResponse(200, "text/html", "<p>ok</p>"))
      val fg = new java.io.File(dir, "good.warc")
      java.nio.file.Files.write(fg.toPath, good)
      val fj = new java.io.File(dir, "junk.warc")
      java.nio.file.Files.write(fj.toPath, "definitely not a warc".getBytes)
      val (df, obs) = Warc.warcPathsHtmlTextObserved(spark,
        Seq(fg, fj).map(_.getAbsolutePath))
      assert(df.collect().length == 1)
      val m = obs.get
      assert(m("containers") == 2L && m("containers_dropped") == 1L &&
        m("rows_out") == 1L)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("streaming reader: per-record body fence and record cap are loud, not silent") {
    val dir = java.nio.file.Files.createTempDirectory("warcspec2").toFile
    try {
      val warc =
        record("response", "http://ex.com/big",
          httpResponse(200, "text/html", "x" * 10000)) ++
        record("response", "http://ex.com/small",
          httpResponse(200, "text/html", "<p>small</p>"))
      val f = new java.io.File(dir, "t.warc")
      java.nio.file.Files.write(f.toPath, warc)
      // body fence: the big page is dropped from text (its body never
      // buffers), the small one survives
      val cut = Warc.warcPathsHtmlText(spark, Seq(f.getAbsolutePath), maxBody = 256)
        .select("url", "text").as[(Option[String], String)].collect().toSeq
      assert(cut == Seq((Some("http://ex.com/small"), "small")))
      // record cap stops the walk at N records
      val capped = Warc.describeWarcPaths(spark, Seq(f.getAbsolutePath), maxRecords = 1)
        .select("record_idx").as[Int].collect().toSeq
      assert(capped == Seq(0))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("mid-stream I/O death is io_error_partial (truncated), not a silent drop") {
    val rec = record("response", "http://x/",
      httpResponse(200, "text/html", "<p>alpha</p>"))
    val bytes = rec ++ rec
    // serves the first record plus a sliver of the second, then dies
    def failingAfter(n: Int): java.io.InputStream = new java.io.InputStream {
      private var i = 0
      override def read(): Int =
        if (i < n) { val b = bytes(i); i += 1; b & 0xff }
        else throw new java.io.IOException("disk died")
    }
    val ws = new WarcStream(failingAfter(rec.length + 10), 1 << 20)
    assert(ws.next() != null) // record 0 emitted before the death
    assert(ws.next() == null)
    assert(ws.endReason == "io_error_partial")
    // a stream dead INSIDE its first record stays a zero-row drop
    // (a death during the constructor's compression sniff is the same
    // io_error: the walk never throws)
    val ws0 = new WarcStream(failingAfter(10), 1 << 20)
    assert(ws0.next() == null)
    assert(ws0.endReason == "io_error")
  }

  test("warcCaptures: revisit rows carry refers-to + digest; a " +
       "revisit without refers-to still rows (null pointer); " +
       "responses carry routed text + digest") {
    import spark.implicits._
    def rec(uri: String, wtype: String, extra: String,
            payload: Array[Byte]): Array[Byte] = {
      val hdr = (s"WARC/1.0\r\nWARC-Type: $wtype\r\n" +
        s"WARC-Target-URI: $uri\r\n" + extra +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1")
      hdr ++ payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
    }
    val body = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
      "<p>stored body text here</p>").getBytes("UTF-8")
    val w = rec("http://e/a", "response",
        "WARC-Payload-Digest: sha1:AAA\r\n", body) ++
      rec("http://e/b", "revisit",
        "WARC-Refers-To-Target-URI: http://e/a\r\n" +
          "WARC-Payload-Digest: sha1:AAA\r\n",
        "HTTP/1.1 200 OK\r\n\r\n".getBytes("ISO-8859-1")) ++
      rec("http://e/c", "revisit", "",
        "HTTP/1.1 200 OK\r\n\r\n".getBytes("ISO-8859-1"))
    val df = Seq((1L, w)).toDF("media_id", "payload")
    val rows = Warc.warcCaptures(
        Multimodal.asMedia(df, "media_id", "payload", "warc"))
      .orderBy("record_idx").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[String]("kind") == "response" &&
      rows(0).getAs[String]("digest") == "sha1:AAA" &&
      rows(0).getAs[String]("text") == "stored body text here")
    assert(rows(1).getAs[String]("kind") == "revisit" &&
      rows(1).getAs[String]("refers_to") == "http://e/a")
    assert(rows(2).getAs[String]("kind") == "revisit" &&
      rows(2).isNullAt(rows(2).fieldIndex("refers_to")))
  }

  test("warcRedirects: 3xx + Location rows with resolved targets; others silent") {
    def resp(uri: String, status: Int, extra: String,
             body: String = ""): Array[Byte] =
      record("response", uri,
        (s"HTTP/1.1 $status X\r\nContent-Type: text/html\r\n$extra\r\n")
          .getBytes("ISO-8859-1") ++ body.getBytes("UTF-8"))
    val warc =
      resp("http://ex.com/a", 301, "Location: /new/a\r\n") ++
      resp("http://ex.com/b", 302, "Location: http://other.site/b2\r\n") ++
      resp("http://ex.com/dir/c", 307, "Location: sib\r\n") ++
      resp("http://ex.com/ok", 200, "", "<p>fine</p>") ++ // 2xx: no row
      resp("http://ex.com/nl", 301, "") ++                // no Location
      record("request", "http://ex.com/a", "GET / HTTP/1.1\r\n\r\n".getBytes)
    val media = Multimodal.asMedia(
      Seq((1L, warc)).toDF("id", "bytes"), "id", "bytes", "warc")
    val rows = Warc.warcRedirects(media)
      .select("url", "status", "target").as[(String, Int, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      ("http://ex.com/a", 301, "http://ex.com/new/a"),
      ("http://ex.com/b", 302, "http://other.site/b2"),
      ("http://ex.com/dir/c", 307, "http://ex.com/dir/sib")))
  }

  test("warcRedirects: HTTP Refresh response headers join the edge set") {
    def resp(uri: String, status: Int, extra: String,
             body: String = ""): Array[Byte] =
      record("response", uri,
        (s"HTTP/1.1 $status X\r\nContent-Type: text/html\r\n$extra\r\n")
          .getBytes("ISO-8859-1") ++ body.getBytes("UTF-8"))
    val warc =
      // 200 interstitial with an absolute Refresh target
      resp("http://go.ex/r1", 200,
        "Refresh: 0; url=http://dest.ex/d1\r\n", "<p>moving</p>") ++
      // root-relative, spaced `URL =` form, case-insensitive
      resp("http://go.ex/r2", 200,
        "Refresh: 5; URL = /d2\r\n", "<p>moving</p>") ++
      // URL-less self-reload: NO edge
      resp("http://go.ex/r3", 200, "Refresh: 30\r\n", "<p>stay</p>") ++
      // non-http scheme: NO edge, and NEVER a path-relative mangle
      resp("http://go.ex/r4", 200,
        "Refresh: 0; url=mailto:x@y.ex\r\n", "<p>mail</p>") ++
      // a 3xx with BOTH: Location is authoritative (one edge)
      resp("http://go.ex/r5", 301,
        "Location: /moved\r\nRefresh: 0; url=/wrong\r\n")
    val media = Multimodal.asMedia(
      Seq((1L, warc)).toDF("id", "bytes"), "id", "bytes", "warc")
    val rows = Warc.warcRedirects(media)
      .select("url", "status", "target").as[(String, Int, String)]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq(
      ("http://go.ex/r1", 200, "http://dest.ex/d1"),
      ("http://go.ex/r2", 200, "http://go.ex/d2"),
      ("http://go.ex/r5", 301, "http://go.ex/moved")))
  }

  test("undeclared Cyrillic sniff: KOI8-R vs windows-1251 case banding; Latin stays cp1252") {
    import Warc.{htmlCharset, sniffCyrillic}
    val ru = "Это русский текст статьи продолжение материала здесь"
    assert(sniffCyrillic(ru.getBytes("KOI8-R")) == "koi8-r")
    assert(sniffCyrillic(ru.getBytes("windows-1251")) == "windows-1251")
    // htmlCharset routes undeclared non-UTF-8 Cyrillic through the
    // sniff, and the full decode restores the original characters
    for (cs <- Seq("KOI8-R", "windows-1251")) {
      val body = s"<p>$ru</p>".getBytes(cs)
      val want = cs.toLowerCase(java.util.Locale.ROOT)
      assert(htmlCharset(None, body) == want, s"$cs not sniffed")
      val (txt, dcs) = Warc.decodeHtml(body, None)
      assert(dcs == want && txt.contains("русский"), s"$cs decode: $txt")
    }
    // accented Latin: isolated high bytes never reach the
    // runs-of-3 floor — the cp1252 fallback is preserved
    val latin = ("l'été café année passée déjà vu née et aussi protégé " +
      "qualité société réalité idée musée").getBytes("windows-1252")
    assert(sniffCyrillic(latin) == null)
    assert(htmlCharset(None, latin) == "windows-1252")
    // CJK text must keep sniffing CJK (the tier order holds)
    val ja = "これは日本語のテキストです。記事の本文が続きます。"
    assert(htmlCharset(None, ja.getBytes("shift_jis")) == "shift_jis")
    // hostile: junk bytes never throw
    sniffCyrillic(Array.tabulate[Byte](64)(i => (0x80 + i).toByte))
  }

  test("undeclared UTF-16: BOM or alternating-NUL structure, before the UTF-8 tier") {
    import Warc.{htmlCharset, sniffUtf16}
    val s = "<p>утф text body here page 7</p>"
    assert(sniffUtf16(s.getBytes("UTF-16LE")) == "utf-16le")
    assert(sniffUtf16(s.getBytes("UTF-16BE")) == "utf-16be")
    assert(sniffUtf16(s.getBytes("UTF-16")) == "utf-16") // BOM'd
    // ASCII-heavy UTF-16LE is byte-wise VALID UTF-8 — the UTF-16
    // tier must catch it first or NULs thread through the text
    assert(Warc.looksUtf8(s.getBytes("UTF-16LE")))
    for (cs <- Seq("UTF-16LE", "UTF-16BE", "UTF-16")) {
      val body = s.getBytes(cs)
      assert(htmlCharset(None, body) == cs.toLowerCase(java.util.Locale.ROOT))
      val (txt, _) = Warc.decodeHtml(body, None)
      assert(txt.contains("утф text body here"), s"$cs decode: $txt")
    }
    // single-byte text has no NULs: never sniffs UTF-16
    assert(sniffUtf16("plain ascii text with no nulls at all here ok"
      .getBytes("US-ASCII")) == null)
    assert(sniffUtf16("café page".getBytes("windows-1252")) == null)
    // too short to trust the structure (under 16 units)
    assert(sniffUtf16("hi there".getBytes("UTF-16LE")) == null)
    // hostile: odd lengths / empty never throw
    assert(sniffUtf16(Array[Byte](0x41)) == null)
    assert(sniffUtf16(Array.emptyByteArray) == null)
  }

  test("undeclared charset: UTF-8 validation falls back to windows-1252") {
    import Warc.{htmlCharset, looksUtf8}
    // looksUtf8 structural pins
    assert(looksUtf8("plain ascii".getBytes("US-ASCII")))
    assert(looksUtf8("café ünïcode — em".getBytes("UTF-8")))
    assert(!looksUtf8("café".getBytes("windows-1252"))) // bare 0xE9
    assert(!looksUtf8(Array(0xC0.toByte, 0xAF.toByte))) // overlong lead
    assert(!looksUtf8(Array(0xF5.toByte, 0x80.toByte))) // >U+10FFFF lead
    assert(!looksUtf8(Array(0x80.toByte))) // bare continuation
    // a multi-byte sequence cut at the validation bound is tolerated
    val cut = ("a" * 4095).getBytes("US-ASCII") ++ "é".getBytes("UTF-8")
    assert(looksUtf8(cut, limit = 4096))
    // htmlCharset: undeclared + invalid-UTF-8 → windows-1252;
    // undeclared + valid → utf-8; any DECLARATION still wins
    assert(htmlCharset(None, "café".getBytes("windows-1252")) == "windows-1252")
    assert(htmlCharset(None, "café".getBytes("UTF-8")) == "utf-8")
    assert(htmlCharset(Some("text/html; charset=iso-8859-1"),
      "café".getBytes("windows-1252")) == "iso-8859-1")
    assert(htmlCharset(None,
      "<meta charset=gbk><p>x</p>".getBytes("US-ASCII")) == "gbk")
  }

  test("undeclared CJK sniff: Shift_JIS / EUC-JP / EUC-KR / GBK / Big5 detect; Latin stays cp1252") {
    import Warc.{htmlCharset, sniffCjk}
    val ja = "これは日本語のテキストです。記事の本文が続きます。"
    val ko = "한국어는 한글로 표기한다 기사 본문이 이어진다"
    val zh = "这是一段中文文本没有空格 新闻正文在此继续展开"
    val zhT = "這是一段繁體中文網頁沒有空格 新聞內容在這裡繼續"
    // each sample round-trips through its undeclared legacy encoding
    assert(sniffCjk(ja.getBytes("shift_jis")) == "shift_jis")
    assert(sniffCjk(ja.getBytes("euc-jp")) == "euc-jp")
    assert(sniffCjk(ko.getBytes("euc-kr")) == "euc-kr")
    assert(sniffCjk(zh.getBytes("gbk")) == "gbk")
    assert(sniffCjk(zhT.getBytes("big5")) == "big5")
    // htmlCharset routes undeclared non-UTF-8 CJK through the sniff…
    for ((s, cs) <- Seq((ja, "shift_jis"), (ja, "euc-jp"),
        (ko, "euc-kr"), (zh, "gbk"), (zhT, "big5"))) {
      val body = s"<p>$s</p>".getBytes(cs)
      assert(htmlCharset(None, body) == cs, s"$cs not sniffed")
      // and the full decode restores the original characters
      val (txt, dcs) = Warc.decodeHtml(body, None)
      assert(dcs == cs && txt.contains(s.take(6)), s"$cs decode: $txt")
    }
    // …while accented-Latin cp1252 keeps the r17 fallback (few high
    // bytes, and word-final accents break every CJK pair structure)
    assert(sniffCjk("café page with a ’smart’ quote".getBytes("windows-1252")) == null)
    val latin = ("l'été café année passée déjà vu née et aussi protégé " +
      "qualité société réalité idée musée").getBytes("windows-1252")
    assert(sniffCjk(latin) == null)
    assert(htmlCharset(None, latin) == "windows-1252")
    // a DECLARED charset always wins over the sniff
    assert(htmlCharset(Some("text/html; charset=utf-8"),
      ja.getBytes("shift_jis")) == "utf-8")
    // hostile: random high bytes don't crash and don't force a sniff
    val junk = Array.tabulate[Byte](64)(i => (0x80 + (i * 37) % 0x7f).toByte)
    sniffCjk(junk) // any answer is fine; must not throw
  }

  // ==== HTTP wire-form payload decoding (r16 verdict item 1) ========

  private def chunkize(b: Array[Byte]): Array[Byte] = {
    val cut = math.max(1, b.length / 3)
    val o = new java.io.ByteArrayOutputStream()
    def wr(t: String): Unit = o.write(t.getBytes("ISO-8859-1"))
    wr(Integer.toHexString(cut) + ";ext=v\r\n"); o.write(b, 0, cut); wr("\r\n")
    wr(Integer.toHexString(b.length - cut) + "\r\n")
    o.write(b, cut, b.length - cut); wr("\r\n")
    wr("0\r\nx-trailer: t\r\n\r\n")
    o.toByteArray
  }

  private def zlibDeflate(b: Array[Byte], nowrap: Boolean = false): Array[Byte] = {
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, nowrap)
    d.setInput(b); d.finish()
    val o = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](1024)
    while (!d.finished()) o.write(buf, 0, d.deflate(buf))
    d.end(); o.toByteArray
  }

  test("decodeHttpPayload: chunked, gzip, deflate (zlib AND raw), chains, failures") {
    val entity = "<p>the true page bytes</p>".getBytes("UTF-8")
    val max = 1 << 20
    // identity: no headers → untouched
    val (i1, l1) = decodeHttpPayload(entity, None, None, max)
    assert(i1.sameElements(entity) && l1 == "identity")
    // chunked framing strips exactly
    val (c1, cl1) = decodeHttpPayload(chunkize(entity), Some("chunked"), None, max)
    assert(c1.sameElements(entity) && cl1 == "chunked")
    // gzip / x-gzip / deflate-zlib / deflate-raw / zstd
    val (g1, gl1) = decodeHttpPayload(gzip(entity), None, Some("gzip"), max)
    assert(g1.sameElements(entity) && gl1 == "gzip")
    val (g2, gl2) = decodeHttpPayload(gzip(entity), None, Some("x-gzip"), max)
    assert(g2.sameElements(entity) && gl2 == "gzip")
    val (d1, dl1) = decodeHttpPayload(zlibDeflate(entity), None, Some("deflate"), max)
    assert(d1.sameElements(entity) && dl1 == "deflate")
    val (d2, dl2) = decodeHttpPayload(zlibDeflate(entity, nowrap = true),
      None, Some("deflate"), max)
    assert(d2.sameElements(entity) && dl2 == "deflate")
    // chunked + gzip: wire order is chunk(gzip(body)) → undo chunked first
    val (cg, cgl) = decodeHttpPayload(chunkize(gzip(entity)),
      Some("chunked"), Some("gzip"), max)
    assert(cg.sameElements(entity) && cgl == "chunked+gzip")
    // multi-coding list undoes in reverse header order
    val (m1, ml1) = decodeHttpPayload(gzip(zlibDeflate(entity)),
      None, Some("deflate, gzip"), max)
    assert(m1.sameElements(entity) && ml1 == "gzip+deflate")
    // brotli decodes (r18: the pure-JVM RFC 7932 decoder) — both the
    // uncompressed-metablock form and inside a coding chain
    val (b1, bl1) = decodeHttpPayload(
      Brotli.encodeUncompressed(entity), None, Some("br"), max)
    assert(b1.sameElements(entity) && bl1 == "br")
    val (b2, bl2) = decodeHttpPayload(
      Brotli.encodeUncompressed(gzip(entity)), None, Some("gzip, br"), max)
    assert(b2.sameElements(entity) && bl2 == "br+gzip")
    // a TRUNCATED br stream is deterministically corrupt: loud label,
    // wire bytes kept
    val cutBr = Brotli.encodeUncompressed(entity).dropRight(6)
    val (b3, bl3) = decodeHttpPayload(cutBr, None, Some("br"), max)
    assert(b3.sameElements(cutBr) && bl3 == "br!failed")
    // a genuinely unknown token still stops with !undecoded
    val (b4, bl4) = decodeHttpPayload(entity, None, Some("sdch"), max)
    assert(b4.sameElements(entity) && bl4 == "sdch!undecoded")
    // malformed chunk framing: loud label, raw bytes kept
    val (f1, fl1) = decodeHttpPayload("ZZZ not chunked".getBytes,
      Some("chunked"), None, max)
    assert(new String(f1) == "ZZZ not chunked" && fl1 == "chunked!failed")
    // gzip claim over non-gzip bytes: loud label, raw kept
    val (f2, fl2) = decodeHttpPayload(entity, None, Some("gzip"), max)
    assert(f2.sameElements(entity) && fl2 == "gzip!failed")
    // fence: inflating past maxOut is the DISTINCT !over_fence label
    // (ADVICE r17 — it used to surface as gzip!failed,
    // indistinguishable from corrupt data), and the body BLANKS:
    // the step positively established the content is compressed
    // beyond the fence, so forwarding compressed bytes to the
    // carriers could only mojibake
    val big = gzip(Array.fill[Byte](1 << 16)('a'))
    val (f3, fl3) = decodeHttpPayload(big, None, Some("gzip"), 1 << 10)
    assert(f3.isEmpty && fl3 == "gzip!over_fence")
    // ... while CORRUPT data keeps its wire bytes under !failed (the
    // two outcomes must stay distinguishable both ways)
    val cut = gzip(Array.fill[Byte](1 << 16)('a')).take(40)
    val (f4, fl4) = decodeHttpPayload(cut, None, Some("gzip"), 1 << 10)
    assert(f4.sameElements(cut) && fl4 == "gzip!failed")
    // the chunked and deflate/zstd fences speak the same label
    val bigChunked = chunkize(Array.fill[Byte](1 << 16)('a'))
    val (f5, fl5) = decodeHttpPayload(bigChunked, Some("chunked"), None, 1 << 10)
    assert(f5.isEmpty && fl5 == "chunked!over_fence")
    val bigDeflate = zlibDeflate(Array.fill[Byte](1 << 16)('a'))
    val (f6, fl6) = decodeHttpPayload(bigDeflate, None, Some("deflate"), 1 << 10)
    assert(f6.isEmpty && fl6 == "deflate!over_fence")
  }

  test("wire-form bodies decode identically through BOTH doors; fences loud") {
    val html = "<h1>T</h1><p>wire decode parity.</p>"
    val entity = html.getBytes("UTF-8")
    def resp(uri: String, wire: String, body: Array[Byte]): Array[Byte] = {
      val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        wire + "\r\n").getBytes("ISO-8859-1") ++ body
      record("response", uri, http)
    }
    val warc =
      resp("http://e/id", "", entity) ++
      resp("http://e/ch", "Transfer-Encoding: chunked\r\n", chunkize(entity)) ++
      resp("http://e/gz", "Content-Encoding: gzip\r\n", gzip(entity)) ++
      resp("http://e/cg",
        "Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
        chunkize(gzip(entity))) ++
      resp("http://e/br", "Content-Encoding: br\r\n",
        Brotli.encodeUncompressed(entity)) ++
      resp("http://e/bad", "Content-Encoding: gzip\r\n", entity) // lying claim
    // cell door
    val df = Seq((1L, warc)).toDF("media_id", "payload")
    val (cell, cellObs) = Warc.warcDocTextObserved(
      Multimodal.asMedia(df, "media_id", "payload", "warc"))
    // local sort, not orderBy: a range-shuffle's sampling pass would
    // evaluate the observed plan twice and double the counters
    val cellRows = cell.select("record_idx", "url", "encoding", "text")
      .collect().sortBy(_.getInt(0)).map(r => Row(r.get(1), r.get(2), r.get(3)))
    // streaming door over the same bytes on disk
    val dir = java.nio.file.Files.createTempDirectory("warc-wire").toFile
    val f = new java.io.File(dir, "w.warc")
    java.nio.file.Files.write(f.toPath, warc)
    val (path, pathObs) = Warc.warcPathsDocTextObserved(spark, Seq(f.getPath))
    val pathRows = path.select("record_idx", "url", "encoding", "text")
      .collect().sortBy(_.getInt(0)).map(r => Row(r.get(1), r.get(2), r.get(3)))
    val want = Seq(
      ("http://e/id", "identity"), ("http://e/ch", "chunked"),
      ("http://e/gz", "gzip"), ("http://e/cg", "chunked+gzip"),
      ("http://e/br", "br"),
      ("http://e/bad", "gzip!failed"))
    for (rows <- Seq(cellRows, pathRows)) {
      assert(rows.length == 6)
      rows.zip(want).foreach { case (r, (u, enc)) =>
        assert(r.getString(0) == u && r.getString(1) == enc)
      }
      // every decodable variant reproduces the identity text EXACTLY
      rows.take(5).foreach(r => assert(r.getString(2) == "T\nwire decode parity."))
    }
    // the lying-gzip body's fence counter fired once on each door
    assert(cellObs.get("bodies_undecodable") == 1L)
    assert(pathObs.get("bodies_undecodable") == 1L)
  }

  // ==== one walk, both doors ===========================================

  test("a gzip cell cut 5 bytes short keeps its records and counts as truncated") {
    val whole = graft.SparkEntry.diskFixtures("warc_stream_v1")._2(1L)
    assert(whole.length == 278 && (whole(0) & 0xff) == 0x1f) // id 1: gzipped
    assert(parseWarcOutcome(whole).records.size == 7)
    val cut = whole.dropRight(5) // the deflate data whole, the trailer cut
    val p = parseWarcOutcome(cut)
    assert(p.records.map(_.recordIdx) == (0 until 7))
    assert(p.endReason == "io_error_partial")
    val media = Multimodal.asMedia(Seq((1L, cut)).toDF("id", "bytes"),
      "id", "bytes", "warc")
    val (df, obs) = Warc.warcHtmlTextObserved(media)
    assert(df.collect().length == 2) // the two 200 text/html pages
    val m = obs.get
    assert(m("containers_truncated") == 1L && m("containers_dropped") == 0L)
  }

  test("a revisit record read through a .warc path carries refers-to and digest") {
    val w = record("revisit", "http://e/b", "HTTP/1.1 200 OK\r\n\r\n".getBytes,
      "WARC-Refers-To-Target-URI: http://e/a\r\nWARC-Payload-Digest: sha1:AAA\r\n")
    val f = java.nio.file.Files.createTempFile("revisit", ".warc")
    try {
      java.nio.file.Files.write(f, w)
      val in = java.nio.file.Files.newInputStream(f)
      val r = try new WarcStream(in, 1 << 20).next() finally in.close()
      assert(r.warcType == "revisit")
      assert(r.refersTo == Some("http://e/a") && r.payloadDigest == Some("sha1:AAA"))
    } finally java.nio.file.Files.delete(f)
  }

  test("a decoder that fails on its own header is an io_error sentinel on both doors") {
    val bad = Seq(
      "BZh9".getBytes("ISO-8859-1") ++ Array[Byte](1, 2, 3), // bzip2, cut
      Array(0x28, 0xb5, 0x2f, 0xfd).map(_.toByte), // a lone zstd magic
      Array(0xfd, '7', 'z', 'X', 'Z', 0x00).map(_.toByte)) // a lone xz magic
    bad.foreach(b => assert(parseWarcOutcome(b) == WarcParse(Nil, "io_error")))
    // cell door
    val media = Multimodal.asMedia(
      bad.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "bytes"),
      "id", "bytes", "warc")
    val (df, obs) = Warc.warcHtmlTextObserved(media)
    assert(df.collect().isEmpty)
    assert(obs.get("containers") == 3L && obs.get("containers_dropped") == 3L)
    // path door
    val dir = java.nio.file.Files.createTempDirectory("warc-badcodec").toFile
    try {
      val paths = bad.zip(Seq("a.warc.bz2", "b.warc.zst", "c.warc.xz")).map {
        case (b, name) =>
          val f = new java.io.File(dir, name)
          java.nio.file.Files.write(f.toPath, b)
          f.getAbsolutePath
      }
      val (pdf, pobs) = Warc.describeWarcPathsObserved(spark, paths)
      assert(pdf.collect().isEmpty)
      assert(pobs.get("containers") == 3L && pobs.get("containers_dropped") == 3L)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("zstd, bzip2 and xz cells decode through the cell door") {
    def enc(os: java.io.OutputStream => java.io.OutputStream, b: Array[Byte]) = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = os(bos); z.write(b); z.close(); bos.toByteArray
    }
    val page = record("response", "http://ex.com/z",
      httpResponse(200, "text/html", "<p>codec page</p>"))
    val cells = Seq(
      enc(new com.github.luben.zstd.ZstdOutputStream(_), page),
      enc(new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorOutputStream(_), page),
      enc(new org.apache.commons.compress.compressors.xz
        .XZCompressorOutputStream(_), page))
    val media = Multimodal.asMedia(
      cells.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "bytes"),
      "id", "bytes", "warc")
    val text = Warc.warcHtmlText(media).orderBy("media_id")
      .select("text").as[String].collect().toSeq
    assert(text == Seq.fill(3)("codec page"))
  }
}
