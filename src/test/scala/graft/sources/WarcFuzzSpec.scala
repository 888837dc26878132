package graft.sources

import graft.SparkSpec

/** Fuzzes the one WARC record walk ([[Warc.WarcStream]]) through the
  * cell door: seeded random bytes (bare, behind a WARC header and
  * behind each compression magic), plus truncations and byte flips
  * of every WARC fixture ([[graft.SparkEntry.diskFixtures]] — plain,
  * gzip, zstd, bzip2 and brotli bodies), at maxBody {16 MiB, 4, 0}
  * and maxRecords {4096, 1}. Every input is built here, all small.
  *
  * Per input and setting the walk must not throw, must end with a
  * reason from the [[Warc.WarcParse]] vocabulary, number its records
  * 0..n-1, keep every body within maxBody and count exactly the
  * records it flags. The Spark cell door over the same inputs must
  * count the same containers and body cuts. */
class WarcFuzzSpec extends SparkSpec {
  import spark.implicits._

  private val vocabulary = Set("ok", "record_cap", "truncated", "corrupt",
    "not_warc", "io_error", "io_error_partial", "empty")
  private val settings = for (maxBody <- Seq(1 << 24, 4, 0);
                              maxRecords <- Seq(1 << 12, 1)) yield (maxBody, maxRecords)

  private lazy val inputs: Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(20261019L)
    def noise(n: Int) = Array.fill(n)(rnd.nextInt(256).toByte)
    val magics = Seq(Array(0x1f, 0x8b), Array(0x28, 0xb5, 0x2f, 0xfd), // gzip, zstd
      Array(0x42, 0x5a, 0x68, 0x39), Array(0xfd, 0x37, 0x7a, 0x58, 0x5a, 0)) // BZh9, xz
      .map(_.map(_.toByte))
    val head = ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 40\r\n\r\n" +
      "HTTP/1.1 200 OK\r\n").getBytes("ISO-8859-1")
    val random = (0 until 200).map(i => noise(i * 3)) ++
      (0 until 100).map(i => head ++ noise(i)) ++
      magics.flatMap(m => (0 until 25).map(i => m ++ noise(i * 4)))
    val fixtures = graft.SparkEntry.diskFixtures.toSeq.sortBy(_._1)
      .collect { case (tag, (_, mk)) if tag.startsWith("warc_") => mk }
      .flatMap(mk => (1L to 4L).map(mk))
    val cut = fixtures.flatMap { f =>
      ((0 until f.length by math.max(1, f.length / 64)) ++
        (math.max(0, f.length - 12) until f.length))
        .map(n => f.take(n))
    }
    val flipped = fixtures.flatMap { f =>
      (0 until 40).map { k =>
        val c = f.clone()
        (0 to k % 4).foreach(_ => c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte)
        c
      }
    }
    random ++ cut ++ flipped
  }

  /** The walk's records, end reason and body counts for one input. */
  private def walk(b: Array[Byte], maxBody: Int, maxRecords: Int) = {
    val ws = new Warc.WarcStream(new java.io.ByteArrayInputStream(b), maxBody, maxRecords)
    val recs = ws.records.toList
    (recs, ws.endReason, ws.truncatedBodies, ws.undecodableBodies)
  }

  test("the walk never throws and keeps its invariants on hostile bytes") {
    assert(inputs.size > 4000)
    for ((maxBody, maxRecords) <- settings; (b, i) <- inputs.zipWithIndex) {
      val ctx = s"input $i at maxBody $maxBody, maxRecords $maxRecords"
      val (recs, reason, truncated, undecodable) =
        try walk(b, maxBody, maxRecords)
        catch { case e: Throwable => fail(s"$ctx threw $e", e) }
      assert(vocabulary(reason), ctx)
      assert(recs.map(_.recordIdx) == recs.indices, ctx)
      assert(recs.size <= maxRecords, ctx)
      assert(recs.forall(_.body.length <= maxBody), ctx)
      assert(truncated == recs.count(_.bodyTruncated), ctx)
      assert(undecodable == recs.count(_.encoding.contains('!')), ctx)
    }
  }

  test("the Spark cell door counts the same containers and body cuts") {
    val media = Multimodal.asMedia(
      inputs.zipWithIndex.map { case (b, i) => (i.toLong, b) }.toDF("id", "bytes"),
      "id", "bytes", "warc")
    for ((maxBody, maxRecords) <- settings) {
      val direct = inputs.map(b => walk(b, maxBody, maxRecords))
      val (df, obs) = Warc.warcHtmlTextObserved(media, maxRecords, maxBody)
      df.collect()
      val m = obs.get
      val ctx = s"maxBody $maxBody, maxRecords $maxRecords"
      assert(m("containers") == inputs.size.toLong, ctx)
      assert(m("bodies_truncated") == direct.map(_._3.toLong).sum, ctx)
      assert(m("bodies_undecodable") == direct.map(_._4.toLong).sum, ctx)
      assert(m("containers_dropped") == direct.count(d =>
        Set("not_warc", "empty", "io_error")(d._2)).toLong, ctx)
    }
  }
}
