package graft.sources

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Pins what [[Warc.parseWarcOutcome]] yields on the plain and gzip
  * WARC fixtures, so the walk behind it can change only on purpose.
  *
  * Each digest covers ids 0–299 of one [[graft.SparkEntry.fixtures]]
  * tag at one fence setting. Per id it takes the record count, every
  * field of every record and the end reason, each as an 8-byte
  * big-endian length (-1 for null/None) and then its UTF-8 bytes (the
  * length-prefixed SHA-256 of FixtureBytesSpec). The digests were taken
  * from the in-memory cell walk that [[Warc.WarcStream]] replaced.
  *
  * Left out: the end reason of the every-50th junk ids (the 8 bytes
  * `warc? no`). The old walk called any cell under 9 bytes `empty`;
  * the streaming walk reads those bytes and calls them `not_warc`.
  * Both count under containers_dropped. Their record count (0) is
  * still digested. */
class WarcWalkPinSpec extends AnyFunSuite {

  private val settings = Map( // name -> (maxRecords, maxBody)
    "body16m" -> ((1 << 12, 1 << 24)), "body4" -> ((1 << 12, 4)),
    "body0" -> ((1 << 12, 0)), "rec1" -> ((1, 1 << 24)))

  private val pinned = Map(
    ("warc_stream_v1", "body16m") -> "e1ca078a8bb8274e57c67a6c6ebe905c83adebe13ce72300297fb8c1b8158e8c",
    ("warc_stream_v1", "body4") -> "e17a23c1e8e45a7e66a043e9d759557bb957784286ca4f3c997ecc3231579417",
    ("warc_stream_v1", "body0") -> "0442d8cdabdd66487ab6d5f896732c21a110da821e287dcbc5720f9936775139",
    ("warc_stream_v1", "rec1") -> "b8106c6a8df0efe22a02c5541e7072fa80a263519c4fcba136949d2bce88b88f",
    ("warc_docs_v1", "body16m") -> "a80c7042c013508c6ee471a4da470d5cddced4f5ac2df3afcf86dde0399e451e",
    ("warc_docs_v1", "body4") -> "a0bf68eb7b6362d8d153ac6021bcc3cade4b3fda3f693061df78274d358b717f",
    ("warc_docs_v1", "body0") -> "a0010cba499e85739189655358e972983ddeff060a2a9c74c7dafc42ba852c50",
    ("warc_docs_v1", "rec1") -> "b8106c6a8df0efe22a02c5541e7072fa80a263519c4fcba136949d2bce88b88f",
    ("warc_br_v1", "body16m") -> "a4ca7f916209d56126df98950805a04d2cdf9e334625cd1c742440a7afe2882d",
    ("warc_br_v1", "body4") -> "8881f65662407eec8845bbb32994740696c890e0d2ac88af71007cab30294575",
    ("warc_br_v1", "body0") -> "6570d44eba87438b646d57e956da89d24ba28f369b9098a1e02ac8135cf7caf7",
    ("warc_br_v1", "rec1") -> "e0af7ecca42f1e893692783921538767e4c43ed851954e98c5297ecec6444a59",
    ("warc_v10_v1", "body16m") -> "29c8fd9f9aa1b7d39c61d7307076449dad141672e4ba47883bd99f34f87e4545",
    ("warc_v10_v1", "body4") -> "7abcaafc1044efecf0fd536e1659453783762c2acb42a60752fdd2f5c66c1f8d",
    ("warc_v10_v1", "body0") -> "e3d532da5b187eb2a37c2bbd8d01eff7493230d4beb7b2a72a696ce1ebfb6fd5",
    ("warc_v10_v1", "rec1") -> "b8106c6a8df0efe22a02c5541e7072fa80a263519c4fcba136949d2bce88b88f",
    ("warc_v11_v1", "body16m") -> "3753740025220a9b18186ed0cdc1a5ada483b36d284975e304ef31371e986451",
    ("warc_v11_v1", "body4") -> "2f07b338fd4ba823e615691465c64bf67a460fa404cc94b04b8b3eaada17f997",
    ("warc_v11_v1", "body0") -> "a999408aa89aaba44840c5fa599f771ff5a74f18cfac24b12b65f1e72add5989",
    ("warc_v11_v1", "rec1") -> "b8106c6a8df0efe22a02c5541e7072fa80a263519c4fcba136949d2bce88b88f",
    ("warc_v12_v1", "body16m") -> "9d49d6e2b3873578c9b7611a65c924d88b5277ee5baaa97ce3e54fa1a1d089fc",
    ("warc_v12_v1", "body4") -> "ff28d949f26169000925f65aa96a54ed27f4371f77300739049f04be51f59fa3",
    ("warc_v12_v1", "body0") -> "77c5d995f49cdddc5835f0c79902b612bfec6a3a1a7df633054ab661c1925e74",
    ("warc_v12_v1", "rec1") -> "b8106c6a8df0efe22a02c5541e7072fa80a263519c4fcba136949d2bce88b88f",
    ("warc_v13_v1", "body16m") -> "a9b4e6e3e9dc809b62443c1c39e0e0640d4616c9ad7b902ed8bb5488b2701c44",
    ("warc_v13_v1", "body4") -> "d6b6f6211dd68b0b6a2acae8800c5805a6796acc71f3a87d82c51232b0f419da",
    ("warc_v13_v1", "body0") -> "f4c1496ac519b09a4fd7334c55acf46c69d1810fccf73ca5dcf67cdfbdb1e761",
    ("warc_v13_v1", "rec1") -> "b8106c6a8df0efe22a02c5541e7072fa80a263519c4fcba136949d2bce88b88f",
    ("warc_v14_v1", "body16m") -> "fb3e52ae07c2843b060d9052a920f4283dc749e8dcaa7bb1fbb929d087acf137",
    ("warc_v14_v1", "body4") -> "20076000e13a1c4f1e871d50400aacbb99a5f424a27d4a464bc672dc1f13ecab",
    ("warc_v14_v1", "body0") -> "3bc30b0b45ed97392e4e590069fc37efb0111e437710617fd013bcc4c0d65558",
    ("warc_v14_v1", "rec1") -> "b8106c6a8df0efe22a02c5541e7072fa80a263519c4fcba136949d2bce88b88f",
    ("warc_v15_v1", "body16m") -> "9505fbf761f939f03bafa38526f5890a291de1229339a175af8f4bee5509da0a",
    ("warc_v15_v1", "body4") -> "391b381335bf51b91573cb0de0a5c8c8c6ec03a816952c027bd1308b230dcbc4",
    ("warc_v15_v1", "body0") -> "8655fdea03248f326e27eceb4742c3e544d1625553617e76a5f5087702b813fd",
    ("warc_v15_v1", "rec1") -> "b8106c6a8df0efe22a02c5541e7072fa80a263519c4fcba136949d2bce88b88f")

  private def digest(mk: Long => Array[Byte], maxRecords: Int, maxBody: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit =
      if (s == null) md.update(ByteBuffer.allocate(8).putLong(-1L).array())
      else putBytes(s.getBytes(UTF_8))
    def putBytes(b: Array[Byte]): Unit = {
      md.update(ByteBuffer.allocate(8).putLong(b.length.toLong).array())
      md.update(b)
    }
    (0L until 300L).foreach { id =>
      val p = Warc.parseWarcOutcome(mk(id), maxRecords, maxBody)
      put(p.records.size.toString)
      p.records.foreach { r =>
        put(r.recordIdx.toString); put(r.warcType); put(r.targetUri)
        put(r.contentLength.toString); put(r.httpStatus.map(_.toString).orNull)
        put(r.contentType.orNull); putBytes(r.body); put(r.bodyTruncated.toString)
        put(r.xRobotsTag.orNull); put(r.refersTo.orNull); put(r.payloadDigest.orNull)
        put(r.encoding); put(r.location.orNull); put(r.refresh.orNull)
      }
      if (id % 50 != 0) put(p.endReason)
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  pinned.keys.map(_._1).toSeq.distinct.sorted.foreach { tag =>
    test(s"$tag: records and end reasons of ids 0-299 match the pinned digests") {
      val mk = graft.SparkEntry.fixtures(tag)
      settings.toSeq.sortBy(_._1).foreach { case (name, (maxRecords, maxBody)) =>
        assert(digest(mk, maxRecords, maxBody) == pinned((tag, name)), s"$tag $name")
      }
    }
  }

  test("the junk ids read as not_warc: dropped, no records") {
    val mk = graft.SparkEntry.fixtures("warc_v15_v1")
    assert(Warc.parseWarcOutcome(mk(50L)) == Warc.WarcParse(Nil, "not_warc"))
  }
}
