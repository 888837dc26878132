package graft

import java.nio.{ByteBuffer, ByteOrder}

/** Byte pins for the on-disk fixtures ([[SparkEntry.diskFixtures]]).
  * Their files are cached under java.io.tmpdir by existence only, so
  * a changed byte would be served stale from a warm tmp and show only
  * on a cold run; these digests catch it at test time instead.
  *
  * Each digest is SHA-256 over ids 0–299 (every id % 50/5/4/3/2
  * case), per id an 8-byte big-endian length and then the file bytes,
  * taken from the files the fixtures wrote before their writers were
  * folded onto one record framer. Changing a fixture means bumping its
  * `_vN` dir tag and re-pinning its digest here. */
class FixtureBytesSpec extends SparkSpec {

  private val pinned = Map(
    "avi_v6_v1" -> "1ae6604ab37bbd488e4edfc259fa41c6a94e85d7bd59375ec4006352758efbdf",
    "tar_stream_v1" -> "6dbc73e924b7afff883679178200b9c1dccb49a67b3018db097e177d3e45e5af",
    "tar_xz_v1" -> "9b099503a0e91f9e56989587eb8d55c48cfe6cbc4939f1539645f4cab277849f",
    "tar_zst_v1" -> "d762851d1262562e0d5a0f7f8922485f5c34171bf5617843c041a7e626ffcc1f",
    "warc_br_v1" -> "e1741bf525fab5d8fa4440f9adff3680e1b2536accf3a9eae80b8979d0f73245",
    "warc_bz2_v1" -> "48ac4c9b0b8e631338663bb7d83dacf7cb9c1f7a2d5014d231201c4cf3666bfc",
    "warc_docs_v1" -> "69afc801a2d6f14af7304fbcb730e6614e94ba3099458332e174608965f99d8b",
    "warc_stream_v1" -> "0d40825950af8755eaddd5b43688162ad92f0ce3fb71a6c247f09556a96f9087",
    "warc_v10_v1" -> "a89df85aecd0dfbd8b2728a59ed1a7aaffa7744aa746995b948e0968bae13ed4",
    "warc_v11_v1" -> "a32b142da46cbf9a0cdff5fd3aba368adb8ab3822fd97056b67598056225c5d1",
    "warc_v12_v1" -> "05760903015b3a531377014239324d65d6828f7b2fbdf1e9d06131eb0f3866af",
    "warc_v13_v1" -> "7b69f37e961e38356b78d81ca271d3e949abdec79b8201019a9b94c7183fdf60",
    "warc_v14_v1" -> "9d647d59e6c5c7bc11d2b25949ba9fd961172524664d0f6c6e81295f1164b4d9",
    "warc_v15_v1" -> "51dc359d4392569643d44af36915137f8d9d42b0dde7964cff995b3f7316a04a",
    "warc_zst_v1" -> "add49bacbfaed515314d5a77ab19e6130e440e34e5eee681f2b4b1cbed30c3ea",
    "zip_stream_v1" -> "d3c33b7a0093502f455f74597ac2e65a0ccd810c2642e05f9c2cbcfc5330e65f")

  /** The JDK stamps every ZIP entry with its write time, so the DOS
    * time/date fields (local header +10, central directory +12, four
    * bytes each) are zeroed before hashing; every other byte is
    * pinned. Non-ZIP bytes (the junk ids) pass through. */
  private def maskZipTimes(b: Array[Byte]): Array[Byte] =
    if (b.length < 22 || b(0) != 'P' || b(1) != 'K') b
    else {
      val out = b.clone()
      val bb = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
      val eocd = (out.length - 22 to 0 by -1)
        .find(i => bb.getInt(i) == 0x06054b50).get
      var p = bb.getInt(eocd + 16)
      (0 until (bb.getShort(eocd + 10) & 0xffff)).foreach { _ =>
        assert(bb.getInt(p) == 0x02014b50, s"no central header at $p")
        val local = bb.getInt(p + 42)
        assert(bb.getInt(local) == 0x04034b50, s"no local header at $local")
        bb.putInt(p + 12, 0)
        bb.putInt(local + 10, 0)
        p += 46 + (bb.getShort(p + 28) & 0xffff) +
          (bb.getShort(p + 30) & 0xffff) + (bb.getShort(p + 32) & 0xffff)
      }
      out
    }

  private def digest(bytes: Long => Array[Byte]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0L until 300L).foreach { id =>
      val b = bytes(id)
      md.update(ByteBuffer.allocate(8).putLong(b.length.toLong).array())
      md.update(b)
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  test("every on-disk fixture has a pinned digest") {
    assert(SparkEntry.diskFixtures.keySet == pinned.keySet)
  }

  SparkEntry.diskFixtures.toSeq.sortBy(_._1).foreach {
    case (tag, (_, mk)) =>
      test(s"$tag: bytes of ids 0-299 match the pinned digest") {
        val bytes: Long => Array[Byte] =
          if (tag.startsWith("zip")) id => maskZipTimes(mk(id)) else mk
        assert(digest(bytes) == pinned(tag))
      }
  }

  test("ZIP time mask touches only the entry time fields") {
    val (_, mk) = SparkEntry.diskFixtures("zip_stream_v1")
    val a = mk(1L)
    val b = maskZipTimes(a)
    val diff = a.indices.filter(i => a(i) != b(i))
    // id 1: stored lead + 2 BMPs + dir + note = 5 entries, 2 headers
    // each, 4 bytes per header at most
    assert(diff.nonEmpty && diff.size <= 5 * 2 * 4)
  }

  test("fixtureFiles caches by existence and regenerates a deleted file") {
    import spark.implicits._
    val sfDir = java.nio.file.Files.createTempDirectory("graft-fx-spec")
    (0L until 20L).toDF("doc_id")
      .write.parquet(sfDir.resolve("documents.parquet").toString)
    val d = sfDir.toString
    val (_, mk) = SparkEntry.diskFixtures("warc_v15_v1")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_spec_writer_v1_${Integer.toHexString(d.hashCode)}")
    def write() = SparkEntry.fixtureFiles(spark, d, "spec_writer_v1",
      "w%08d.warc")(mk)
    def bytesOf(p: String) = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p))
    try {
      val first = write()
      assert(first == first.sorted && first.size == 20)
      assert(first.map(p => new java.io.File(p).getParentFile) ==
        Seq.fill(20)(dir.getAbsoluteFile))
      first.zipWithIndex.foreach { case (p, id) =>
        assert(new java.io.File(p).getName == f"w$id%08d.warc")
        assert(bytesOf(p).sameElements(mk(id.toLong)), p)
      }
      // back-date every file: a rewrite would move its mtime
      val old = 1000000000000L
      first.foreach(p => assert(new java.io.File(p).setLastModified(old)))
      assert(write() == first)
      assert(first.forall(p => new java.io.File(p).lastModified == old))
      val gone = new java.io.File(first(7))
      assert(gone.delete())
      assert(write() == first)
      assert(bytesOf(first(7)).sameElements(mk(7L)))
      assert(first.filterNot(_ == first(7))
        .forall(p => new java.io.File(p).lastModified == old))
      assert(dir.list().forall(_.endsWith(".warc")), "a .part file leaked")
    } finally {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
      }
      del(dir); del(sfDir.toFile)
    }
  }
}
