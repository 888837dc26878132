package graft.sources

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Archive containers — ZIP, ustar TAR, GZIP — as byte-walk kernels:
  * a crawled corpus carries attachments and bundles, and a curation
  * pipeline needs to LIST them (what's inside, how big) and EXTRACT
  * their members into the same media pipeline every other payload
  * rides ([[Multimodal.inspectMedia]]). Same hostile posture as the
  * media kernels: bounds-checked walks, entry-count and byte fences,
  * truncated/hostile bytes return None or clamp, never a throw.
  *
  * Format scope, from the public specifications (PKWARE APPNOTE for
  * ZIP, POSIX ustar for TAR, RFC 1952 for GZIP):
  * - ZIP: the END-of-central-directory record is located by scanning
  *   backwards (it floats behind a variable comment), then the
  *   central directory is walked — the authoritative listing (local
  *   headers lie under zip-spoofing; the CD is what extractors obey).
  * - TAR: 512-byte headers, octal sizes, checksum-validated; content
  *   blocks skipped by size. GNU long-name entries ('L') are applied
  *   to the following member.
  * - GZIP: fixed header + optional FEXTRA/FNAME/FCOMMENT/FHCRC
  *   fields; ISIZE (uncompressed length mod 2³²) from the trailer.
  *
  * Reference anchor: the reference ships HadoopArchives (HAR) — see
  * `ops/Har.scala` — but no ZIP/TAR/GZIP member listing; this extends
  * the same "archive as a table" idea to the formats a crawl carries. */
object Archives {

  final case class ArchiveEntry(entryIdx: Int, name: String, nBytes: Long,
                                method: String, isDir: Boolean)

  /** The central-directory walk shared by [[parseZipEntries]] and
    * [[zipMembers]] (one copy of the EOCD back-scan and CD field
    * offsets): calls `f(idx, name, method, cSize, unSize, localOff)`
    * per record. Returns -1 when there is no EOCD at all, 0 when the
    * whole directory walked cleanly, 1 when it stopped at a malformed
    * record (entries already delivered stand). */
  private def zipCdWalk(bytes: Array[Byte], maxEntries: Int)
      (f: (Int, String, Int, Long, Long, Long) => Unit): Int = {
    if (bytes == null || bytes.length < 22) return -1
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
        (u8(i + 3).toLong << 24)
    // EOCD scan: last 64 KiB + 22, backwards (it floats behind the
    // variable-length archive comment)
    var eocd = -1
    var i = bytes.length - 22
    val stop = math.max(0, bytes.length - (1 << 16) - 22)
    while (eocd < 0 && i >= stop) {
      if (u8(i) == 0x50 && u8(i + 1) == 0x4b && u8(i + 2) == 0x05 &&
          u8(i + 3) == 0x06) eocd = i
      i -= 1
    }
    if (eocd < 0) return -1
    val count = le16(eocd + 10)
    var p = le32(eocd + 16)
    if (p >= bytes.length) return -1
    var k = 0
    while (k < count && k < maxEntries) {
      if (p + 46 > bytes.length || le32(p.toInt) != 0x02014b50L) return 1
      val pi = p.toInt
      val nameLen = le16(pi + 28); val extraLen = le16(pi + 30)
      val commentLen = le16(pi + 32)
      if (pi + 46 + nameLen > bytes.length) return 1
      val name = new String(bytes, pi + 46, nameLen,
        java.nio.charset.StandardCharsets.UTF_8)
      f(k, name, le16(pi + 10), le32(pi + 20), le32(pi + 24), le32(pi + 42))
      p += 46 + nameLen + extraLen + commentLen
      k += 1
    }
    0
  }

  /** ZIP central-directory listing. `method` is "stored"/"deflate"/
    * "other-N"; `nBytes` is the UNCOMPRESSED size. A malformed
    * central directory rejects the whole listing (the strict read —
    * a lying CD is zip-spoofing, not a partial file). */
  def parseZipEntries(bytes: Array[Byte],
                      maxEntries: Int = 1 << 16): Option[Seq[ArchiveEntry]] = {
    val out = Seq.newBuilder[ArchiveEntry]
    zipCdWalk(bytes, maxEntries) { (k, name, method, _, unSize, _) =>
      val m = method match {
        case 0 => "stored"
        case 8 => "deflate"
        case v => s"other-$v"
      }
      out += ArchiveEntry(k, name, unSize, m, name.endsWith("/"))
    } match {
      case 0 => Some(out.result())
      case _ => None
    }
  }

  /** ustar TAR listing: checksum-validated headers, sizes from octal,
    * GNU 'L' long names applied to the next member. Truncation clamps
    * (entries before the cut are kept). */
  def parseTarEntries(bytes: Array[Byte],
                      maxEntries: Int = 1 << 16): Option[Seq[ArchiveEntry]] = {
    if (bytes == null || bytes.length < 512) return None
    def octal(off: Int, len: Int): Long = {
      var v = 0L; var i = off; val end = off + len
      var seen = false
      while (i < end) {
        val c = bytes(i) & 0xff
        if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); seen = true }
        else if (seen) i = end // stop at first non-digit after digits
        i += 1
      }
      if (seen) v else -1L
    }
    def str(off: Int, len: Int): String = {
      var end = off
      while (end < off + len && bytes(end) != 0) end += 1
      new String(bytes, off, end - off, java.nio.charset.StandardCharsets.UTF_8)
    }
    def checksumOk(base: Int): Boolean = {
      val stored = octal(base + 148, 8)
      if (stored < 0) return false
      var sum = 0L
      var i = 0
      while (i < 512) {
        sum += (if (i >= 148 && i < 156) 32 else bytes(base + i) & 0xff)
        i += 1
      }
      sum == stored
    }
    val out = Seq.newBuilder[ArchiveEntry]
    var p = 0L
    var k = 0
    var sawAny = false
    var pendingLongName: String = null
    while (k < maxEntries && p + 512 <= bytes.length) {
      val base = p.toInt
      if (bytes(base) == 0) { p = bytes.length.toLong } // end blocks
      else if (!checksumOk(base)) return if (sawAny) Some(out.result()) else None
      else {
        sawAny = true
        val size = math.max(0L, octal(base + 124, 12))
        val tf = bytes(base + 156) & 0xff
        val contentBlocks = (size + 511) / 512
        if (tf == 'L') {
          // GNU long name: content is the next member's name
          val avail = math.min(size, math.max(0L, bytes.length - (p + 512)))
          pendingLongName = new String(bytes, base + 512, avail.toInt,
            java.nio.charset.StandardCharsets.UTF_8).takeWhile(_ != 0)
        } else {
          val rawName = str(base, 100)
          val prefix = str(base + 345, 155)
          val name =
            if (pendingLongName != null) pendingLongName
            else if (prefix.nonEmpty) prefix + "/" + rawName
            else rawName
          pendingLongName = null
          val isDir = tf == '5' || name.endsWith("/")
          out += ArchiveEntry(k, name, if (isDir) 0L else size,
            if (isDir) "dir" else "tar", isDir)
          k += 1
        }
        p += 512 + contentBlocks * 512
      }
    }
    if (sawAny) Some(out.result()) else None
  }

  /** GZIP member facts: (name from FNAME or null, ISIZE). The final 4
    * bytes are the LAST member's trailer — the whole-stream inflated
    * size ONLY for single-member files. Multi-member streams (Common
    * Crawl's .warc.gz is member-per-record) make that value
    * meaningless for the file as a whole: [[describeArchives]] pairs
    * this with [[gzipLooksMultiMember]] and reports n_bytes as NULL
    * for such streams instead of a wrong number. */
  def parseGzipMeta(bytes: Array[Byte]): Option[(String, Long)] = {
    if (bytes == null || bytes.length < 18) return None
    def u8(i: Int) = bytes(i) & 0xff
    if (u8(0) != 0x1f || u8(1) != 0x8b || u8(2) != 8) return None
    val flg = u8(3)
    var i = 10
    if ((flg & 4) != 0) { // FEXTRA
      if (i + 2 > bytes.length) return None
      val xlen = u8(i) | (u8(i + 1) << 8)
      i += 2 + xlen
      if (i > bytes.length) return None
    }
    var name: String = null
    if ((flg & 8) != 0) { // FNAME, zero-terminated latin-1
      val start = i
      while (i < bytes.length && bytes(i) != 0) i += 1
      if (i >= bytes.length) return None
      name = new String(bytes, start, i - start,
        java.nio.charset.StandardCharsets.ISO_8859_1)
      i += 1
    }
    val n = bytes.length
    val isize = (u8(n - 4).toLong) | (u8(n - 3).toLong << 8) |
      (u8(n - 2).toLong << 16) | (u8(n - 1).toLong << 24)
    Some((name, isize))
  }

  /** Does a gzip stream look multi-member? Header-only heuristic (the
    * exact answer needs a full inflate): scan past the first member's
    * fixed header for a byte run that passes ALL of a gzip member
    * header's checks — magic `1f 8b`, method 8, no reserved FLG bits,
    * XFL ∈ {0, 2, 4}, a defined OS byte. Compressed payloads can
    * contain `1f 8b 08` by chance (~len/2²⁴ candidates), but the
    * extra field checks push a false positive below ~10⁻⁹ per MB —
    * and a false positive only NULLs a size, never invents one. */
  private[sources] def gzipLooksMultiMember(bytes: Array[Byte]): Boolean = {
    if (bytes == null || bytes.length < 30) return false
    def u8(i: Int) = bytes(i) & 0xff
    var i = 10 // past the first member's fixed header
    val n = bytes.length
    while (i + 10 <= n) {
      if (u8(i) == 0x1f && u8(i + 1) == 0x8b && u8(i + 2) == 8 &&
          (u8(i + 3) & 0xe0) == 0 &&
          (u8(i + 8) == 0 || u8(i + 8) == 2 || u8(i + 8) == 4) &&
          (u8(i + 9) <= 13 || u8(i + 9) == 255)) return true
      i += 1
    }
    false
  }

  /** One row per archive member across a mixed payload column —
    * sniffs ZIP (PK), TAR (checksum at 257 "ustar" or valid header),
    * GZIP (1f 8b); anything else contributes no rows. flatMap
    * kernel, payloads never shuffle. */
  def describeArchives(media: DataFrame,
                       maxEntries: Int = 1 << 16): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        if (p == null || p.length < 4) Nil
        else if ((p(0) & 0xff) == 0x50 && (p(1) & 0xff) == 0x4b)
          parseZipEntries(p, maxEntries).getOrElse(Nil).map(e =>
            (id, "zip", e.entryIdx, e.name, Option(e.nBytes), e.method, e.isDir))
        else if ((p(0) & 0xff) == 0x1f && (p(1) & 0xff) == 0x8b)
          parseGzipMeta(p).toSeq.map { case (nm, isize) =>
            // a multi-member stream's trailer ISIZE covers only the
            // LAST member: report NULL, never a wrong size
            val sz = if (gzipLooksMultiMember(p)) None else Some(isize)
            (id, "gzip", 0, nm, sz, "deflate", false)
          }
        else
          parseTarEntries(p, maxEntries).getOrElse(Nil).map(e =>
            (id, "tar", e.entryIdx, e.name, Option(e.nBytes), e.method, e.isDir))
      }
      .toDF("media_id", "format", "entry_idx", "name", "n_bytes",
        "method", "is_dir")
  }

  /** 7z cell door: members of an in-memory .7z through the classpath
    * SevenZFile (LZMA2 and friends via commons-compress + xz) — the
    * zip-cell pattern: a row cell IS seekable for free, which is why
    * 7z lives on the CELL door only (its end-of-file header makes a
    * one-pass streaming door impossible by format design — documented
    * boundary, not a gap). Per-member rows carry an outcome:
    * "ok" (body extracted), "too_big" (fence-skipped ON THE WIRE —
    * SevenZFile seeks past unread entries, null body). A walk that
    * dies (truncated tail kills the END header, so a cut .7z loses
    * everything; bit flips throw mid-stream) keeps the members read
    * so far and appends ONE loud sentinel row (entry_idx -1, outcome
    * "corrupt"). Never throws. */
  def sevenZMembers(bytes: Array[Byte], maxBytes: Int = 1 << 24,
                    maxEntries: Int = 1 << 12):
      Seq[(Int, String, Option[Array[Byte]], String)] = {
    val out =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, Option[Array[Byte]], String)]
    if (bytes == null || bytes.length < 32 ||
        (bytes(0) & 0xff) != 0x37 || (bytes(1) & 0xff) != 0x7a ||
        (bytes(2) & 0xff) != 0xbc || (bytes(3) & 0xff) != 0xaf ||
        (bytes(4) & 0xff) != 0x27 || (bytes(5) & 0xff) != 0x1c) return Nil
    try {
      val ch = new org.apache.commons.compress.utils
        .SeekableInMemoryByteChannel(bytes)
      val sz = org.apache.commons.compress.archivers.sevenz.SevenZFile
        .builder().setSeekableByteChannel(ch).get()
      try {
        var e = sz.getNextEntry
        var n = 0
        while (e != null && n < maxEntries) {
          if (!e.isDirectory) {
            val size = e.getSize
            if (size >= 0 && size <= maxBytes) {
              val buf = new Array[Byte](size.toInt)
              var off = 0
              while (off < buf.length) {
                val m = sz.read(buf, off, buf.length - off)
                if (m < 0) throw new java.io.IOException("short member")
                off += m
              }
              out += ((n, e.getName, Some(buf), "ok"))
            } else {
              // not read: getNextEntry seeks past the unread body
              out += ((n, e.getName, None, "too_big"))
            }
            n += 1
          }
          e = sz.getNextEntry
        }
      } finally sz.close()
      out.toSeq
    } catch {
      case _: Throwable =>
        (out += ((-1, null, None, "corrupt"))).toSeq
    }
  }

  /** Frame surface of [[sevenZMembers]]: (media_id, entry_idx, name,
    * outcome, payload). flatMap kernel; payloads never shuffle. */
  def extractSevenZEntries(media: DataFrame, maxBytes: Int = 1 << 24,
                           maxEntries: Int = 1 << 12): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        sevenZMembers(p, maxBytes, maxEntries).map {
          case (idx, name, body, outcome) =>
            (id, idx, Option(name), outcome, body)
        }
      }
      .toDF("media_id", "entry_idx", "name", "outcome", "payload")
  }

  /** Deterministic .7z writer (LZMA2) for fixtures/oracles — the
    * classpath encoder, so the reader faces a true third-party
    * compressor, like the JDK-ZIP fixtures. */
  /** `lzma2 = false` writes COPY-method members — same container
    * geometry at a fraction of the encode cost (the LZMA2 encoder
    * allocates per archive; q316's per-row fixtures only need a
    * sample of real LZMA2 streams to pin the decode path). */
  def sevenZFixture(members: Seq[(String, Array[Byte])],
                    lzma2: Boolean = true): Array[Byte] = {
    val ch = new org.apache.commons.compress.utils.SeekableInMemoryByteChannel()
    val out = new org.apache.commons.compress.archivers.sevenz
      .SevenZOutputFile(ch)
    if (!lzma2) out.setContentCompression(
      org.apache.commons.compress.archivers.sevenz.SevenZMethod.COPY)
    else {
      // real LZMA2 streams with a SMALL dictionary: the default
      // preset's 8 MiB dict makes the encoder allocate ~75 MB per
      // archive (~150 ms), which dominated q316's per-row fixture
      // synthesis (optimization r19 — 18 s of its 18.3 s Verify wall).
      // Fixture members are tens of bytes; a 64 KiB dict exercises the
      // identical decode path and the reader sizes its dict from the
      // stream header, so decode allocations shrink too. Decoded
      // member bytes — the oracle surface — are unchanged.
      val opts = new org.tukaani.xz.LZMA2Options()
      opts.setDictSize(1 << 16)
      out.setContentMethods(java.util.Collections.singletonList(
        new org.apache.commons.compress.archivers.sevenz
          .SevenZMethodConfiguration(
            org.apache.commons.compress.archivers.sevenz.SevenZMethod.LZMA2,
            opts)))
    }
    members.foreach { case (name, body) =>
      val e = new org.apache.commons.compress.archivers.sevenz
        .SevenZArchiveEntry()
      e.setName(name)
      e.setDirectory(name.endsWith("/"))
      out.putArchiveEntry(e)
      if (!name.endsWith("/")) out.write(body)
      out.closeArchiveEntry()
    }
    out.finish()
    out.close()
    java.util.Arrays.copyOf(ch.array(), ch.size().toInt)
  }

  /** EXTRACT zip members into payload rows — the bridge that feeds
    * bundled files into the media pipeline: one (media_id, entry_idx,
    * name, payload) row per non-directory member, stored copied out,
    * deflate inflated (raw, nowrap), each member fenced to `maxBytes`
    * (oversized or corrupt members are skipped, the walk continues).
    * Uses the LOCAL headers for data offsets via the central
    * directory's pointer — the extraction rule extractors follow. */
  def extractZipEntries(media: DataFrame, maxBytes: Int = 1 << 24,
                        maxEntries: Int = 1 << 12): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) => zipMembers(p, maxBytes, maxEntries).map {
        case (idx, name, body) => (id, idx, name, body) } }
      .toDF("media_id", "entry_idx", "name", "payload")
  }

  /** The extraction kernel behind [[extractZipEntries]] — the SAME
    * [[zipCdWalk]] as the listing (extraction and listing can never
    * disagree on the directory), plus the local-header hop to each
    * member's data and the stored/deflate decode. A malformed tail
    * keeps the members already extracted (partial archives are still
    * worth their intact members — the listing's strictness guards
    * spoofing, extraction is per-member-fenced anyway). */
  def zipMembers(bytes: Array[Byte], maxBytes: Int = 1 << 24,
                 maxEntries: Int = 1 << 12): Seq[(Int, String, Array[Byte])] = {
    if (bytes == null || bytes.length < 4 ||
        (bytes(0) & 0xff) != 0x50 || (bytes(1) & 0xff) != 0x4b) return Nil
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
        (u8(i + 3).toLong << 24)
    val out = Seq.newBuilder[(Int, String, Array[Byte])]
    var emitted = 0
    zipCdWalk(bytes, maxEntries) { (_, name, method, cSize, unSize, localOff) =>
      if (!name.endsWith("/") && unSize <= maxBytes &&
          localOff + 30 <= bytes.length && le32(localOff.toInt) == 0x04034b50L) {
        val li = localOff.toInt
        val dataOff = localOff + 30 + le16(li + 26) + le16(li + 28)
        if (dataOff + cSize <= bytes.length) {
          val comp = java.util.Arrays.copyOfRange(
            bytes, dataOff.toInt, (dataOff + cSize).toInt)
          val body: Array[Byte] =
            if (method == 0) comp
            else if (method == 8) {
              val inf = new java.util.zip.Inflater(true)
              inf.setInput(comp)
              val buf = new Array[Byte](unSize.toInt)
              try {
                var off = 0
                var ok = true
                while (ok && off < buf.length && !inf.finished()) {
                  val m = inf.inflate(buf, off, buf.length - off)
                  if (m == 0) ok = false else off += m
                }
                if (ok && off == buf.length) buf else null
              } catch {
                case _: java.util.zip.DataFormatException => null
              } finally inf.end()
            } else null
          if (body != null) { out += ((emitted, name, body)); emitted += 1 }
        }
      }
    }
    out.result()
  }

  // ==== split-streaming TAR over file paths ==========================
  //
  // The archive tier's analog of Warc.describeWarcPaths: a multi-GB
  // .tar(.gz) cannot be a row cell (the whole-container bound SCALE.md
  // documents), so these take FILE PATHS and stream members one at a
  // time — per member, at most the 512-byte header plus min(size,
  // maxBytes) payload bytes are resident; oversized members skip on
  // the wire with a LOUD per-row truncated flag, and files that yield
  // zero members are counted, never silently absent.

  /** One streamed TAR member row (sentinel rows carry entryIdx -1 and
    * the walk's end reason — the loudness channel). Qualified-private,
    * NOT `private`: a Java-private nested class makes the Dataset
    * encoder's generated accessors uncompilable (Janino lives outside
    * this class), silently demoting every tar row to the interpreted
    * encoder — a per-row boxing tax on the whole archive walk. */
  private[sources] final case class TarRow(path: String, entryIdx: Int, name: String,
                                  nBytes: Long, isDir: Boolean,
                                  truncated: Boolean, payload: Array[Byte],
                                  endReason: String)

  /** Wraps a raw stream with the decompressor its magic names —
    * gzip (1F 8B), zstd (28 B5 2F FD, RFC 8878 — the compression
    * Common Crawl distributes alongside gzip, read through the
    * zstd-jni already on Spark's classpath), bzip2 (`BZh` — the
    * Wikipedia-dump compression, via commons-compress), or xz
    * (FD `7zXZ` 00, via the xz library Spark ships for Avro) — else
    * passes the bytes through untouched. Every decoder reads
    * concatenated members/frames as one stream, and a truncated
    * member throws IOException into the walks' never-throw catch
    * (a LOUD io_error outcome). A bzip2 or xz decoder reads its
    * header here, so this call can throw too. An in-memory cell
    * (a ByteArrayInputStream) is sniffed and decoded in place, with
    * no 64 KiB read-ahead; the walks buffer their own input
    * ([[WalkInput]]). Shared by the TAR and WARC streaming walks. */
  private[sources] def sniffDecompress(
      raw: java.io.InputStream): java.io.InputStream = {
    val cell = raw.isInstanceOf[java.io.ByteArrayInputStream]
    val in = if (cell) raw else new java.io.BufferedInputStream(raw, 1 << 16)
    val inflateBuf = if (cell) math.max(512, math.min(raw.available(), 1 << 16))
      else 1 << 16
    in.mark(6)
    val b = Array.fill(6)(in.read()) // -1 past the end never matches
    in.reset()
    if (b(0) == 0x1f && b(1) == 0x8b)
      new java.util.zip.GZIPInputStream(in, inflateBuf)
    else if (b(0) == 0x28 && b(1) == 0xb5 && b(2) == 0x2f && b(3) == 0xfd)
      new com.github.luben.zstd.ZstdInputStream(in)
    else if (b(0) == 'B' && b(1) == 'Z' && b(2) == 'h')
      new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorInputStream(in, true)
    else if (b(0) == 0xfd && b(1) == '7' && b(2) == 'z' && b(3) == 'X' &&
        b(4) == 'Z' && b(5) == 0x00)
      new org.apache.commons.compress.compressors.xz
        .XZCompressorInputStream(in, true)
    else in
  }

  /** The read side of the streaming walks (TAR, ZIP, WARC): one
    * unsynchronized buffer per stream, and `readFully` / `skipFully`
    * that drain it before touching the stream. A skip reads through
    * the same buffer, so it allocates nothing; a read at least as
    * large as the buffer goes straight into its destination. Walks
    * that parse a header in place scan `buf` between `pos` and `lim`
    * and call [[fill]] for more. */
  private[sources] final class WalkInput(in: java.io.InputStream, size: Int) {
    var buf = new Array[Byte](size)
    var pos = 0
    var lim = 0

    /** Keeps the unread bytes, moved to the front, and reads more
      * behind them, doubling the buffer when it holds nothing else;
      * false at end of stream. */
    def fill(): Boolean = {
      if (pos > 0) {
        System.arraycopy(buf, pos, buf, 0, lim - pos)
        lim -= pos; pos = 0
      }
      if (lim == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      val r = in.read(buf, lim, buf.length - lim)
      if (r > 0) lim += r
      r > 0
    }

    /** Fill exactly n bytes unless EOF; returns bytes read. */
    def readFully(dst: Array[Byte], n: Int): Int = readFully(dst, 0, n)

    /** Fill exactly n bytes of dst from `at` unless EOF; returns bytes
      * read. */
    def readFully(dst: Array[Byte], at: Int, n: Int): Int = {
      var off = 0
      while (off < n) {
        if (pos < lim) {
          val k = math.min(n - off, lim - pos)
          System.arraycopy(buf, pos, dst, at + off, k)
          pos += k; off += k
        } else if (n - off >= buf.length) {
          val r = in.read(dst, at + off, n - off)
          if (r <= 0) return off
          off += r
        } else if (!fill()) return off
      }
      n
    }

    /** Up to n bytes, fewer only at EOF. The array grows as bytes
      * arrive, so a length field that lies about what follows never
      * sizes an allocation. */
    def readUpTo(n: Int): Array[Byte] = {
      var out = new Array[Byte](math.min(n, 1 << 16))
      var got = readFully(out, 0, out.length)
      while (got == out.length && got < n) {
        out = java.util.Arrays.copyOf(out, math.min(n.toLong, 2L * got).toInt)
        got += readFully(out, got, out.length - got)
      }
      if (got < out.length) java.util.Arrays.copyOf(out, got) else out
    }

    /** Skip n bytes unless EOF; returns bytes skipped. */
    def skipFully(n: Long): Long = {
      var left = n
      while (left > 0) {
        if (pos == lim && !fill()) return n - left
        val k = math.min(left, (lim - pos).toLong).toInt
        pos += k; left -= k
      }
      n
    }
  }

  /** Bounded streaming member walk over one (possibly gzipped or
    * zstd-compressed) TAR stream. `next()` returns null at end;
    * `endReason` then says why:
    * ok | empty | not_tar | corrupt | entry_cap | io_error. */
  private final class TarStream(raw: java.io.InputStream, maxBytes: Int,
                                maxEntries: Int) {
    var endReason: String = null
    private var idx = 0
    private var pendingLongName: String = null
    private val hdr = new Array[Byte](512)
    private val in = new WalkInput(sniffDecompress(raw), 1 << 16)
    import in.{readFully, skipFully}
    private def octal(off: Int, len: Int): Long = {
      var v = 0L; var i = off; val end = off + len
      var seen = false
      while (i < end) {
        val c = hdr(i) & 0xff
        if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); seen = true }
        else if (seen) i = end
        i += 1
      }
      if (seen) v else -1L
    }
    private def str(off: Int, len: Int): String = {
      var end = off
      while (end < off + len && hdr(end) != 0) end += 1
      new String(hdr, off, end - off, java.nio.charset.StandardCharsets.UTF_8)
    }
    private def checksumOk(): Boolean = {
      val stored = octal(148, 8)
      if (stored < 0) return false
      var sum = 0L
      var i = 0
      while (i < 512) {
        sum += (if (i >= 148 && i < 156) 32 else hdr(i) & 0xff)
        i += 1
      }
      sum == stored
    }

    /** (name, trueSize, isDir, truncated, payload) or null at end. */
    def next(): (String, Long, Boolean, Boolean, Array[Byte]) = {
      if (endReason != null) return null
      try nextInner()
      catch { case _: java.io.IOException => endReason = "io_error"; null }
    }
    @scala.annotation.tailrec
    private def nextInner(): (String, Long, Boolean, Boolean, Array[Byte]) = {
      if (idx >= maxEntries) { endReason = "entry_cap"; return null }
      val got = readFully(hdr, 512)
      if (got == 0) { endReason = if (idx == 0) "empty" else "ok"; return null }
      if (got < 512) {
        endReason = if (idx == 0) "not_tar" else "corrupt"; return null
      }
      if (hdr(0) == 0) { endReason = if (idx == 0) "empty" else "ok"; return null }
      if (!checksumOk()) {
        endReason = if (idx == 0) "not_tar" else "corrupt"; return null
      }
      val size = math.max(0L, octal(124, 12))
      val tf = hdr(156) & 0xff
      val pad = (512 - size % 512) % 512
      if (tf == 'L') {
        // GNU long name: bounded read, then the member it names
        val keep = math.min(size, 4096L).toInt
        val nameBuf = new Array[Byte](keep)
        val n = readFully(nameBuf, keep)
        if (skipFully(size - n + pad) < size - n + pad) {
          endReason = "corrupt"; return null
        }
        pendingLongName = new String(nameBuf, 0, n,
          java.nio.charset.StandardCharsets.UTF_8).takeWhile(_ != 0.toChar)
        nextInner()
      } else {
        val rawName = str(0, 100)
        val prefix = str(345, 155)
        val name =
          if (pendingLongName != null) pendingLongName
          else if (prefix.nonEmpty) prefix + "/" + rawName
          else rawName
        pendingLongName = null
        val isDir = tf == '5' || name.endsWith("/")
        val truncated = !isDir && size > maxBytes
        // oversized members never buffer: content skips on the wire
        val keep = if (isDir || truncated) 0 else size.toInt
        val payload = new Array[Byte](keep)
        val n = readFully(payload, keep)
        val rest = size - n + pad
        val short = n < keep || skipFully(rest) < rest
        idx += 1
        if (short) endReason = "corrupt" // emit this member, then stop
        (name, size, isDir, truncated, payload)
      }
    }
  }

  /** Streaming member extraction over TAR FILES (plain or .tar.gz) —
    * one task per path, per-member bounded memory. Schema: (path,
    * entry_idx, name, n_bytes, is_dir, truncated, payload). A member
    * larger than `maxBytes` keeps its ROW — true n_bytes, LOUD
    * truncated flag, empty payload, content skipped on the wire —
    * so an oversized member is a visible fact, never a silent
    * absence. Fence drops are counted: [[tarPathMembersObserved]]. */
  def tarPathMembers(spark: SparkSession, paths: Seq[String],
                     maxBytes: Int = 1 << 24,
                     maxEntries: Int = 1 << 16): DataFrame =
    tarPathMembersObserved(spark, paths, maxBytes, maxEntries)._1

  /** [[tarPathMembers]] plus the fence counters (`tar_paths_fences`:
    * files, members_out, files_dropped, files_corrupt, entry_capped,
    * members_truncated). */
  def tarPathMembersObserved(spark: SparkSession, paths: Seq[String],
                             maxBytes: Int = 1 << 24,
                             maxEntries: Int = 1 << 16): (DataFrame, Observation) = {
    import spark.implicits._
    val n = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
    val raw = spark.createDataset(paths).repartition(n)
      .flatMap { path =>
        var stream: java.io.InputStream = null
        val ts =
          try {
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(graft.core.Engine.executorHadoopConf)
            stream = fs.open(p)
            new TarStream(stream, maxBytes, maxEntries)
          } catch {
            case _: Exception =>
              if (stream != null) { try stream.close() catch { case _: Exception => () } }
              null
          }
        if (ts == null)
          Iterator.single(TarRow(path, -1, null, -1L, isDir = false,
            truncated = false, Array.emptyByteArray, "io_error"))
        else new Iterator[TarRow] {
          private var idx = 0
          private var pending: Option[TarRow] = None
          private var sentinelSent = false
          private val st = stream
          private def advance(): Unit = {
            while (pending.isEmpty && !sentinelSent) {
              val m = ts.next()
              if (m == null) {
                try st.close() catch { case _: Exception => () }
                pending = Some(TarRow(path, -1, null, -1L, isDir = false,
                  truncated = false, Array.emptyByteArray, ts.endReason))
                sentinelSent = true
              } else {
                val (name, size, isDir, trunc, payload) = m
                pending = Some(TarRow(path, idx, name, size, isDir, trunc,
                  payload, null))
                idx += 1
              }
            }
          }
          def hasNext: Boolean = { advance(); pending.nonEmpty }
          def next(): TarRow = { advance(); val v = pending.get; pending = None; v }
        }
      }
      .toDF("path", "entry_idx", "name", "n_bytes", "is_dir", "truncated",
        "payload", "__end_reason")
    val (observed, obs) = graft.core.Counters.observed(
      raw.withColumn("__is_sentinel", col("entry_idx") < 0),
      "tar_paths_fences",
      "files" -> sum(when(col("__is_sentinel"), 1L).otherwise(0L)),
      "members_out" -> sum(when(!col("__is_sentinel"), 1L).otherwise(0L)),
      "files_dropped" -> sum(when(col("__is_sentinel") &&
        col("__end_reason").isin("not_tar", "empty", "io_error"), 1L).otherwise(0L)),
      "files_corrupt" -> sum(when(col("__is_sentinel") &&
        (col("__end_reason") === "corrupt"), 1L).otherwise(0L)),
      "entry_capped" -> sum(when(col("__is_sentinel") &&
        (col("__end_reason") === "entry_cap"), 1L).otherwise(0L)),
      "members_truncated" -> sum(when(!col("__is_sentinel") &&
        col("truncated"), 1L).otherwise(0L)))
    (observed.where(col("entry_idx") >= 0)
      .drop("__end_reason", "__is_sentinel"), obs)
  }

  // ==== split-streaming ZIP over file paths ==========================
  //
  // The ZIP sibling of [[tarPathMembers]]: a multi-GB .zip cannot be a
  // row cell, so this walks the LOCAL file headers sequentially over
  // FileSystem.open — the streaming rule real extractors follow when
  // they cannot seek to the central directory first. Per member, at
  // most the 30-byte header + name + min(usize, maxBytes) inflated
  // bytes are resident; data-descriptor members (GP bit 3 — what
  // java.util.zip.ZipOutputStream itself writes) stream through the
  // Inflater until the deflate stream self-terminates, with the
  // over-read tail pushed back for the next header. Oversized members
  // skip on the wire with a LOUD truncated flag; zero-member files
  // are counted, never silently absent.

  /** One streamed ZIP member row (sentinels carry entryIdx -1). */
  // qualified-private, not `private`: see TarRow (encoder codegen)
  private[sources] final case class ZipRow(path: String, entryIdx: Int,
                                           name: String, nBytes: Long,
                                           isDir: Boolean, truncated: Boolean,
                                           payload: Array[Byte],
                                           endReason: String)

  /** Bounded streaming local-header walk over one ZIP stream.
    * `next()` returns null at end; `endReason` then says why:
    * ok | empty | not_zip | corrupt | entry_cap | io_error. */
  private final class ZipStream(raw: java.io.InputStream, maxBytes: Int,
                                maxEntries: Int) {
    var endReason: String = null
    private var idx = 0
    private val in = new WalkInput(raw, 1 << 16)
    import in.{readFully, skipFully}
    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private def le32(b: Array[Byte], i: Int): Long =
      (b(i) & 0xff).toLong | ((b(i + 1) & 0xff).toLong << 8) |
        ((b(i + 2) & 0xff).toLong << 16) | ((b(i + 3) & 0xff).toLong << 24)

    def next(): (String, Long, Boolean, Boolean, Array[Byte]) = {
      if (endReason != null) return null
      try nextInner()
      catch { case _: java.io.IOException => endReason = "io_error"; null }
    }
    private def nextInner(): (String, Long, Boolean, Boolean, Array[Byte]) = {
      if (idx >= maxEntries) { endReason = "entry_cap"; return null }
      val sig = new Array[Byte](4)
      val got = readFully(sig, 4)
      if (got == 0) { endReason = if (idx == 0) "empty" else "ok"; return null }
      if (got < 4) {
        endReason = if (idx == 0) "not_zip" else "corrupt"; return null
      }
      le32(sig, 0) match {
        case 0x04034b50L => // local file header
        case 0x02014b50L | 0x06054b50L | 0x06064b50L | 0x08064b50L =>
          // central directory / EOCD / zip64 EOCD / archive-extra:
          // the member stream is over (an empty zip STARTS with EOCD)
          endReason = if (idx == 0) "empty" else "ok"; return null
        case _ =>
          endReason = if (idx == 0) "not_zip" else "corrupt"; return null
      }
      val h = new Array[Byte](26)
      if (readFully(h, 26) < 26) { endReason = "corrupt"; return null }
      val flags = le16(h, 2)
      val method = le16(h, 4)
      val csize = le32(h, 14)
      val usize = le32(h, 18)
      val nameLen = le16(h, 22)
      val extraLen = le16(h, 24)
      if (nameLen > 4096) { endReason = "corrupt"; return null }
      val nameBuf = new Array[Byte](nameLen)
      if (readFully(nameBuf, nameLen) < nameLen ||
          skipFully(extraLen) < extraLen) {
        endReason = "corrupt"; return null
      }
      val name = new String(nameBuf, java.nio.charset.StandardCharsets.UTF_8)
      val isDir = name.endsWith("/")
      val descriptor = (flags & 0x8) != 0
      // Directory entries carry no payload; like the tar walk, never
      // allocate from a directory header's declared sizes (a hostile
      // header flagged '/' with usize >= 2^31 would otherwise reach a
      // negative-length allocation). Skip any declared csize on the
      // wire and emit the row with an empty payload; descriptor-mode
      // directories fall through to the self-terminating stream walk,
      // which is already bounded.
      if (isDir && !descriptor) {
        if (skipFully(csize) < csize) { endReason = "corrupt"; return null }
        idx += 1
        return (name, 0L, true, false, Array.emptyByteArray)
      }
      // zip64 markers / lying headers: a csize past the member fence
      // (plus deflate-overhead slack) must never size a buffer — a
      // 0xFFFFFFFF marker would wrap to a negative array length and
      // throw through the never-throw walk. Oversize-csize members
      // with an in-fence usize are treated as corrupt (the pair is
      // self-contradictory); the honest-oversize case (usize >
      // maxBytes) skips on the wire below.
      if (!descriptor && usize <= maxBytes &&
          csize > maxBytes.toLong + (1 << 16)) {
        endReason = "corrupt"; return null
      }

      if (!descriptor) {
        // sizes known up front — the seekable-writer layout
        // (directories returned above, so every row here is a file)
        val truncated = usize > maxBytes
        if (method == 0) {
          if (truncated) {
            if (skipFully(csize) < csize) { endReason = "corrupt"; return null }
            idx += 1
            (name, usize, isDir, truncated, Array.emptyByteArray)
          } else {
            val payload = new Array[Byte](usize.toInt)
            if (readFully(payload, usize.toInt) < usize) {
              endReason = "corrupt"; return null
            }
            idx += 1
            (name, usize, isDir, false, payload)
          }
        } else if (method == 8) {
          if (truncated) {
            if (skipFully(csize) < csize) { endReason = "corrupt"; return null }
            idx += 1
            (name, usize, isDir, truncated, Array.emptyByteArray)
          } else {
            val comp = new Array[Byte](csize.toInt)
            if (readFully(comp, csize.toInt) < csize) {
              endReason = "corrupt"; return null
            }
            val out = new Array[Byte](usize.toInt)
            val inf = new java.util.zip.Inflater(true)
            inf.setInput(comp)
            try {
              var off = 0
              while (off < out.length && !inf.finished()) {
                val m = inf.inflate(out, off, out.length - off)
                if (m == 0 && !inf.finished()) {
                  endReason = "corrupt"; return null
                }
                off += m
              }
              if (off < out.length) { endReason = "corrupt"; return null }
            } catch {
              case _: java.util.zip.DataFormatException =>
                endReason = "corrupt"; return null
            } finally inf.end()
            idx += 1
            (name, usize, isDir, false, out)
          }
        } else {
          // unsupported compression method, but csize is known: skip
          // the member on the wire and keep walking — one odd member
          // must not drop the rest of the archive. The row is emitted
          // with a LOUD truncated flag and an empty payload (counted
          // in members_truncated), mirroring the oversize path.
          if (skipFully(csize) < csize) { endReason = "corrupt"; return null }
          idx += 1
          (name, usize, isDir, true, Array.emptyByteArray)
        }
      } else if (method == 8) {
        // GP bit 3: sizes live in a trailing data descriptor — stream
        // through the Inflater until the deflate stream self-ends,
        // counting output; discard (but keep counting) past maxBytes.
        // The Inflater reads the walk buffer in place.
        val inf = new java.util.zip.Inflater(true)
        val outBuf = new java.io.ByteArrayOutputStream(1 << 12)
        val scratch = new Array[Byte](1 << 13)
        var total = 0L
        try {
          while (!inf.finished()) {
            if (inf.needsInput()) {
              if (in.pos == in.lim && !in.fill()) { endReason = "corrupt"; return null }
              inf.setInput(in.buf, in.pos, in.lim - in.pos)
              in.pos = in.lim
            }
            val m = inf.inflate(scratch, 0, scratch.length)
            if (m > 0) {
              if (total < maxBytes)
                outBuf.write(scratch, 0,
                  math.min(m.toLong, maxBytes - total).toInt)
              total += m
            } else if (!inf.finished() && inf.needsDictionary()) {
              endReason = "corrupt"; return null
            }
          }
          // the bytes the Inflater did not consume start the next
          // header: they are the last `rem` of its input window
          in.pos -= inf.getRemaining
        } catch {
          case _: java.util.zip.DataFormatException =>
            endReason = "corrupt"; return null
        } finally inf.end()
        // data descriptor: optional signature, then crc/csize/usize
        val dd = new Array[Byte](4)
        if (readFully(dd, 4) < 4) { endReason = "corrupt"; return null }
        val rest = if (le32(dd, 0) == 0x08074b50L) 12 else 8
        if (skipFully(rest) < rest) { endReason = "corrupt"; return null }
        val truncated = !isDir && total > maxBytes
        idx += 1
        (name, total, isDir, truncated,
          if (truncated || isDir) Array.emptyByteArray else outBuf.toByteArray)
      } else { endReason = "corrupt"; null }
    }
  }

  /** Streaming member extraction over ZIP FILES — one task per path,
    * per-member bounded memory; the schema and loudness contract of
    * [[tarPathMembers]]: (path, entry_idx, name, n_bytes, is_dir,
    * truncated, payload); oversized members keep their row with a
    * LOUD truncated flag and an empty payload. Fence drops are
    * counted: [[zipPathEntriesObserved]]. */
  def zipPathEntries(spark: SparkSession, paths: Seq[String],
                     maxBytes: Int = 1 << 24,
                     maxEntries: Int = 1 << 16): DataFrame =
    zipPathEntriesObserved(spark, paths, maxBytes, maxEntries)._1

  /** [[zipPathEntries]] plus the fence counters (`zip_paths_fences`:
    * files, members_out, files_dropped, files_corrupt, entry_capped,
    * members_truncated — the [[tarPathMembersObserved]] contract). */
  def zipPathEntriesObserved(spark: SparkSession, paths: Seq[String],
                             maxBytes: Int = 1 << 24,
                             maxEntries: Int = 1 << 16): (DataFrame, Observation) = {
    import spark.implicits._
    val n = math.max(1, math.min(paths.size, spark.sparkContext.defaultParallelism))
    val raw = spark.createDataset(paths).repartition(n)
      .flatMap { path =>
        var stream: java.io.InputStream = null
        val zs =
          try {
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(graft.core.Engine.executorHadoopConf)
            stream = fs.open(p)
            new ZipStream(stream, maxBytes, maxEntries)
          } catch {
            case _: Exception =>
              if (stream != null) { try stream.close() catch { case _: Exception => () } }
              null
          }
        if (zs == null)
          Iterator.single(ZipRow(path, -1, null, -1L, isDir = false,
            truncated = false, Array.emptyByteArray, "io_error"))
        else new Iterator[ZipRow] {
          private var idx = 0
          private var pending: Option[ZipRow] = None
          private var sentinelSent = false
          private val st = stream
          private def advance(): Unit = {
            while (pending.isEmpty && !sentinelSent) {
              val m = zs.next()
              if (m == null) {
                try st.close() catch { case _: Exception => () }
                pending = Some(ZipRow(path, -1, null, -1L, isDir = false,
                  truncated = false, Array.emptyByteArray, zs.endReason))
                sentinelSent = true
              } else {
                val (name, size, isDir, trunc, payload) = m
                pending = Some(ZipRow(path, idx, name, size, isDir, trunc,
                  payload, null))
                idx += 1
              }
            }
          }
          def hasNext: Boolean = { advance(); pending.nonEmpty }
          def next(): ZipRow = { advance(); val v = pending.get; pending = None; v }
        }
      }
      .toDF("path", "entry_idx", "name", "n_bytes", "is_dir", "truncated",
        "payload", "__end_reason")
    val (observed, obs) = graft.core.Counters.observed(
      raw.withColumn("__is_sentinel", col("entry_idx") < 0),
      "zip_paths_fences",
      "files" -> sum(when(col("__is_sentinel"), 1L).otherwise(0L)),
      "members_out" -> sum(when(!col("__is_sentinel"), 1L).otherwise(0L)),
      "files_dropped" -> sum(when(col("__is_sentinel") &&
        col("__end_reason").isin("not_zip", "empty", "io_error"), 1L).otherwise(0L)),
      "files_corrupt" -> sum(when(col("__is_sentinel") &&
        (col("__end_reason") === "corrupt"), 1L).otherwise(0L)),
      "entry_capped" -> sum(when(col("__is_sentinel") &&
        (col("__end_reason") === "entry_cap"), 1L).otherwise(0L)),
      "members_truncated" -> sum(when(!col("__is_sentinel") &&
        col("truncated"), 1L).otherwise(0L)))
    (observed.where(col("entry_idx") >= 0)
      .drop("__end_reason", "__is_sentinel"), obs)
  }
}
