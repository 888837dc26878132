package graftbench

import java.io.{ByteArrayOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.llm.Curation
import graft.sources.Warc
import Util._

/** Seeded WARC files on local disk, half gzip member-per-record and
  * half zstd, through the streaming WARC router, curation v15 and a
  * parquet sink. Every response is built to pass or to fail the
  * curation gates by construction: charset variants, non-2xx
  * responses, junk and undecodable records, canonical-URL aliases,
  * duplicate bodies, blocked domains and one dominant domain that
  * the per-domain cap trims. Decode and the per-record kernels
  * dominate; the exchange is small. */
object CrawlCurate extends Workload {
  val name = "crawl_curate"

  private val Files = 8
  private val Records = 1200
  private val DomainCap = 100
  private val Blocked = Seq("blocked-one.test", "spamhub.test")

  private def exp(dir: File, t: String) = new File(dir, s"expected/$t")
  private def inDir(dir: File) = new File(dir, "in/warc")

  private val nouns = Array("river", "market", "garden", "teacher", "window", "engine", "harbor",
    "village", "letter", "bridge", "season", "forest", "library", "station", "kitchen", "island")
  private val verbs = Array("opened", "carried", "followed", "painted", "measured", "visited",
    "changed", "answered", "gathered", "repaired", "watched", "counted")
  private val accented = Array("café", "naïve", "résumé", "façade", "rosé", "crème")
  private val german = Array("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit", "sich")

  /** Ground truth of one WARC record that the router turns into a page. */
  private final case class Page(media: Int, idx: Int, pass: Boolean, canon: String,
                                html: String, domain: String)

  def setup(spark: SparkSession, dir: File, seed: Long, scale: Double): Unit = {
    val r = new java.util.Random(seed)
    val words = vocabulary(5000, r)
    def pick[T](xs: Array[T]): T = xs(r.nextInt(xs.length))
    def prose(sentences: Int, accents: Boolean): String =
      (0 until sentences).map { _ =>
        Seq("the", pick(nouns), "of", "the", pick(words), "was", pick(verbs), "and", "it", "is",
          if (accents && r.nextInt(3) == 0) pick(accented) else pick(words),
          "to", "the", pick(nouns), "in", "a", pick(words), "for", "that", pick(nouns))
          .mkString(" ") + "."
      }.mkString(" ")
    def html(title: String, text: String, canonical: Option[String]): String =
      s"<html><head><title>$title</title>" +
        canonical.map(c => s"""<link rel="canonical" href="$c">""").getOrElse("") +
        s"</head><body><p>$text</p></body></html>"

    val total = math.max(Files * 20, (Records * scale).toInt)
    val perFile = total / Files
    val pages = mutable.ArrayBuffer.empty[Page]
    val good = mutable.ArrayBuffer.empty[(String, String, Boolean)] // (url, html, accented)
    var routed = 0L; var undecodable = 0L
    var uid = 0
    val files = (0 until Files).map { f =>
      val recs = mutable.ArrayBuffer.empty[Array[Byte]]
      recs += record("warcinfo", None, "software: perfbench\r\n".getBytes(UTF_8))
      while (recs.size < perFile) {
        val idx = recs.size
        uid += 1
        val host = s"${pick(Array("www", "news", "shop"))}.site${r.nextInt(400)}.com"
        val url = s"https://$host/p/$uid"
        def page(u: String, body: String, pass: Boolean, canonical: Option[String] = None,
                 headers: Seq[String] = Nil, charset: java.nio.charset.Charset = UTF_8): Unit = {
          recs += response(u, 200, s"text/html; charset=${charset.name.toLowerCase}",
            headers, body.getBytes(charset))
          routed += 1
          val canon = canonical.getOrElse(u)
          // identical markup extracts to identical text; unique prose never collides
          pages += Page(f, idx, pass, canon, body, domainOf(canon))
        }
        r.nextInt(100) match {
          case k if k < 55 => // clean unique prose, sometimes with accents
            val acc = r.nextInt(4) == 0
            val h = html(s"page $uid", prose(10 + r.nextInt(20), acc), None)
            page(url, h, pass = true)
            good += ((url, h, acc))
          case k if k < 67 => // the dominant domain, trimmed by the cap
            val u = s"https://${pick(Array("www", "blog"))}.bigsite.com/a/$uid"
            page(u, html(s"big $uid", prose(10 + r.nextInt(20), accents = false), None), pass = true)
          case k if k < 71 && good.nonEmpty => // alias: canonical link to an earlier page
            val target = good(r.nextInt(good.size))._1
            page(url, html(s"alias $uid", prose(8 + r.nextInt(8), accents = false), Some(target)),
              pass = true, canonical = Some(target))
          case k if k < 75 && good.nonEmpty => // duplicate body at another URL
            page(url, good(r.nextInt(good.size))._2, pass = true)
          case k if k < 78 && good.exists(_._3) => // Latin-1 copy of an accented page
            val cands = good.filter(_._3)
            page(url, cands(r.nextInt(cands.size))._2, pass = true, charset = ISO_8859_1)
          case k if k < 81 => // blocked domain
            val u = s"https://${pick(Array("x", "ads"))}.${pick(Blocked.toArray)}/p/$uid"
            page(u, html("blocked", prose(10, accents = false), None), pass = false)
          case k if k < 83 => // spam URL
            page(s"https://$host/casino/$uid", html("spam", prose(10, accents = false), None), pass = false)
          case k if k < 85 => // X-Robots-Tag noindex
            page(url, html("noindex", prose(10, accents = false), None), pass = false,
              headers = Seq("X-Robots-Tag: noindex"))
          case k if k < 87 => // too short
            page(url, "<html><body><p>ok then</p></body></html>", pass = false)
          case k if k < 90 => // confidently foreign
            val t = (0 until 60).map(i => if (i % 2 == 0) pick(german) else pick(words)).mkString(" ")
            page(url, html("seite", t, None), pass = false)
          case k if k < 92 => // low quality: punctuation, no stopwords
            page(url, html("q", "#### @@@@ $$$$ %%%% !!!! ???? **** ++++ ==== ~~~~", None), pass = false)
          case k if k < 93 => // claims gzip, is not: undecodable, and too short
            recs += response(url, 200, "text/html", Seq("Content-Encoding: gzip"),
              "not gzip at all".getBytes(UTF_8))
            routed += 1; undecodable += 1
            pages += Page(f, idx, pass = false, url, "not gzip at all", domainOf(url))
          case k if k < 96 => // non-2xx: never routed
            if (r.nextBoolean()) recs += response(url, 404, "text/html", Nil,
              html("missing", prose(3, accents = false), None).getBytes(UTF_8))
            else recs += response(url, 301, "text/html", Seq(s"Location: https://$host/"),
              Array.emptyByteArray)
          case _ => // junk: request, metadata and unroutable responses
            r.nextInt(3) match {
              case 0 => recs += record("request", Some(url), s"GET /p/$uid HTTP/1.1\r\nHost: $host\r\n\r\n".getBytes(UTF_8))
              case 1 => recs += record("metadata", Some(url), s"fetchTimeMs: ${r.nextInt(999)}\r\n".getBytes(UTF_8))
              case _ => recs += response(url, 200, "image/png", Nil, Array.fill(64)(r.nextInt(256).toByte))
            }
        }
      }
      recs
    }

    // serialize in parallel: even files gzip member-per-record, odd zstd
    val warc = inDir(dir); warc.mkdirs()
    val inflated = files.map(_.map(_.length.toLong).sum).sum
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      files.zipWithIndex.map { case (recs, f) =>
        pool.submit(new Runnable { def run(): Unit = writeWarc(new File(warc,
          if (f % 2 == 0) f"w$f%03d.warc.gz" else f"w$f%03d.warc.zst"), recs.toSeq, f % 2 == 0) })
      }.foreach(_.get())
    } finally pool.shutdown()

    // the curation outcome, simulated on the ground truth: gates, then
    // keep-first by canonical URL, then by text, then the domain cap
    val ordered = pages.sortBy(p => (p.media, p.idx))
    val gated = ordered.filter(_.pass)
    val seenCanon = mutable.HashSet.empty[String]
    val seenText = mutable.HashSet.empty[String]
    val perDomain = mutable.HashMap.empty[String, Int]
    val kept = gated.filter(p => seenCanon.add(p.canon)).filter(p => seenText.add(p.html))
      .filter { p => perDomain(p.domain) = perDomain.getOrElse(p.domain, 0) + 1; perDomain(p.domain) <= DomainCap }
    writeLines(exp(dir, "kept.tsv"), kept.map(p => s"${p.media}\t${p.idx}"))
    writeProps(exp(dir, "expected.properties"), Seq(
      "containers" -> Files, "routed" -> routed, "undecodable" -> undecodable,
      "gated" -> gated.size, "kept" -> kept.size, "inflated_mb" -> inflated / 1048576.0))
  }

  private def domainOf(url: String): String = {
    val host = url.split("/")(2)
    host.split("\\.").takeRight(2).mkString(".")
  }

  private def record(kind: String, uri: Option[String], payload: Array[Byte]): Array[Byte] = {
    val head = "WARC/1.0\r\n" + s"WARC-Type: $kind\r\n" +
      uri.map(u => s"WARC-Target-URI: $u\r\n").getOrElse("") +
      "WARC-Date: 2024-05-01T00:00:00Z\r\n" +
      (if (kind == "response") "Content-Type: application/http; msgtype=response\r\n" else "") +
      s"Content-Length: ${payload.length}\r\n\r\n"
    head.getBytes(UTF_8) ++ payload ++ "\r\n\r\n".getBytes(UTF_8)
  }

  private def response(url: String, status: Int, ctype: String, headers: Seq[String],
                       body: Array[Byte]): Array[Byte] = {
    val http = s"HTTP/1.1 $status X\r\nContent-Type: $ctype\r\n" +
      headers.map(_ + "\r\n").mkString + s"Content-Length: ${body.length}\r\n\r\n"
    record("response", Some(url), http.getBytes(UTF_8) ++ body)
  }

  private def writeWarc(f: File, recs: Seq[Array[Byte]], gzip: Boolean): Unit = {
    val out = new FileOutputStream(f)
    try {
      if (gzip) recs.foreach { rec =>
        val buf = new ByteArrayOutputStream(rec.length / 2 + 64)
        val gz = new java.util.zip.GZIPOutputStream(buf)
        gz.write(rec); gz.close()
        buf.writeTo(out)
      } else {
        val z = new com.github.luben.zstd.ZstdOutputStream(out)
        recs.foreach(z.write)
        z.close()
      }
    } finally out.close()
  }

  def pass(spark: SparkSession, dir: File, spans: Spans, checks: Checks): Unit = {
    import spark.implicits._
    val e = readProps(exp(dir, "expected.properties"))
    val expected = readLines(exp(dir, "kept.tsv")).map { l =>
      val Array(m, i) = l.split("\t"); (m.toLong, i.toInt)
    }
    val paths = inDir(dir).listFiles.map(_.getPath).sorted.toSeq
    val out = new File(dir, "out/curated").getPath

    checks.job("curation") {
      val (raw, obs) = Warc.warcPathsDocTextObserved(spark, paths)
      val pages = raw.withColumn("media_id",
        regexp_extract(col("path"), "w(\\d+)\\.warc", 1).cast("long"))
      val kept =
        if (!spans.enabled) Curation.v15Batch(pages, Blocked, DomainCap)
        else {
          // materialize each layer's output so its span holds its own work
          val decoded = pages.persist(StorageLevel.MEMORY_AND_DISK)
          val t0 = System.nanoTime()
          val n = spans("sources.warc") { decoded.count() }
          val decodeS = (System.nanoTime() - t0) / 1e9
          spans.put("sources.warc", "rows_out", n.toDouble)
          spans.put("sources.warc", "mb_per_s", e("inflated_mb").toDouble / decodeS)
          val g = spans("llm.curation.gates") { Curation.v14Gates(decoded, Blocked).count() }
          spans.put("llm.curation.gates", "rows_out", g.toDouble)
          spans.put("llm.curation.gates", "pass_ratio", g.toDouble / math.max(1L, n))
          val k = Curation.v15Batch(decoded, Blocked, DomainCap).persist(StorageLevel.MEMORY_AND_DISK)
          val kn = spans("llm.curation.keepfirst") { k.count() }
          spans.put("llm.curation.keepfirst", "rows_out", kn.toDouble)
          spans.put("llm.curation.keepfirst", "pass_ratio", kn.toDouble / math.max(1L, g))
          k
        }
      spans("sink.parquet") { kept.write.mode("overwrite").parquet(out) }
      spans.put("sink.parquet", "write_mb", sizeMb(new File(out)))
      val fences = obs.get
      def fence(k: String) = fences(k).asInstanceOf[Long]
      spans.put("sources.warc", "records_in", fence("rows_out").toDouble)
      spans.put("sources.warc", "undecodable", fence("bodies_undecodable").toDouble)
      val got = spans("bench.check") {
        spark.read.parquet(out).select(col("media_id"), col("record_idx"))
          .as[(Long, Int)].collect().toVector.sorted
      }
      spans.put("sink.parquet", "rows_out", got.size.toDouble)
      got == expected &&
        fence("containers") == e("containers").toLong &&
        fence("containers_dropped") == 0L &&
        fence("rows_out") == e("routed").toLong &&
        fence("bodies_undecodable") == e("undecodable").toLong
    }
  }
}
