package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.ValueAggregators
import graft.core.Tables
import graft.functions.TextFunctions
import graft.llm.{Dedup, Similarity}
import graft.ops.{ComposeJoin, FieldSelection, Pipe, Sampling}

/** Driver contract — the engine's declared conformance surface
  * (SURVEY.md §2.12, Q1–Q20) plus the LLM-pipeline extension queries
  * (q21+). EVERY entry has an `oracleSql` twin hash-checked against
  * DuckDB on the same parquet tables — including the sketch/pipe
  * queries, whose oracles recompute the seeded algorithms in SQL.
  */
object SparkEntry {

  /** Run-scoped scratch root for the round-trip queries (q44, q45,
    * q48, q51, q52, q57, q58, q59, q61): ONE temp tree per JVM, one
    * subdir per query WIPED on every request — not all writers below
    * have an overwrite mode (q45's saveAsSequenceFile and q61's HAR
    * publish both fail on an existing destination), so a clean slate
    * per invocation is what makes reruns safe — and a shutdown hook
    * deletes the whole tree, so repeated bench/verify iterations in
    * one process don't leak a fresh temp-dir per invocation. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-scratch")
    sys.addShutdownHook {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
      }
      del(p.toFile)
    }
    p
  }

  /** `wipe = false` is for q58 only: embedded Derby keeps booted
    * databases registered by path for the JVM's life, so deleting its
    * files between invocations would corrupt the still-booted engine —
    * and its writer already runs SaveMode.Overwrite against the reused
    * database. */
  private def scratch(name: String, wipe: Boolean = true): String = {
    val d = scratchRoot.resolve(name)
    if (wipe) {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
      }
      del(d.toFile) // clean slate per invocation (see scratchRoot note)
    }
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_tpch_q1")(spark, "/root/testdata/sf0.001")

  // Shorthand loaders
  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def supp(s: SparkSession, d: String) = Tables.supplier(s, d)
  private def nat(s: SparkSession, d: String) = Tables.nation(s, d)
  private def ev(s: SparkSession, d: String) = Tables.events(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** doc_id source for the in-plan fixture synthesizers, WIDENED to
    * the session's parallelism (optimization r19, guide §2.5 input
    * skew): documents.parquet is one scan split at bench scale, so
    * every `.map`/`.flatMap` fixture synthesis — and the whole decode
    * kernel chain fused behind it — otherwise runs as ONE task while
    * the other cores idle. Repartitioning the BARE ids is a ~40 KB
    * shuffle; the target derives from the runtime (defaultParallelism
    * — executor cores on a cluster), not a local constant. Results
    * are unchanged: synthesis is a pure function of the id and every
    * declared query ends in a total ORDER BY. */
  private def docIds(s: SparkSession, d: String)
      : org.apache.spark.sql.Dataset[Long] = {
    import s.implicits._
    docs(s, d).select(col("doc_id"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
  }
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** q266's per-id AVI bytes (junk every 50th id) — a pure function
    * of the id, written once by the on-disk fixture (`avi_v6_v1` in
    * [[diskFixtures]]). Building ~4,900 AVIs per run in-plan was
    * ~half the entry's cpu_sec (fixture apparatus, not engine work —
    * optimization r20 §3, following the q344 on-disk pattern). */
  private[graft] def q266AviBytes(id: Long): Array[Byte] =
    if (id % 50 == 0) "video? hardly".getBytes("UTF-8")
    else {
      val g = id / 6; val m = (id % 6).toInt
      val nf = (6 + (g % 2) * 3).toInt
      val frames = (0 until nf).map { f =>
        val sc = f / 3
        dibFrameFixture(18, 16, (x, r) => {
          val y = 15 - r
          val bump = if (x == m * 2 && y == 3) 40 else 0
          (math.min(255, ((g * 11 + sc * 97 + x * 17 + y * 23) % 200) + bump).toInt,
            ((g * 13 + sc * 89 + x * 5 + y * 19) % 256).toInt,
            ((g * 17 + sc * 83 + x * 7 + y * 3) % 256).toInt)
        })
      }
      aviFixture(mjpeg = false, 18, 16, frames, audioFirst = false)
    }

  // PNG fixture plumbing shared by q242/q244/q249 (executor-side:
  // static object methods serialize as calls, not captured state)
  private val pngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
  /** Chunk framing: length + type + payload + CRC32 over type+payload. */
  private def pngChunk(typ: String, payload: Array[Byte]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(12 + payload.length)
    out.putInt(payload.length).put(typ.getBytes("US-ASCII")).put(payload)
    val crc = new java.util.zip.CRC32()
    crc.update(typ.getBytes("US-ASCII")); crc.update(payload)
    out.putInt(crc.getValue.toInt).array()
  }
  private def pngIhdr(w: Int, h: Int, depth: Int, colorType: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(depth.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
  /** Full zlib deflate (loops until drained — no single-call cap). */
  private def deflateFully(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    d.end()
    out.toByteArray
  }
  /** Filter-0 truecolor PNG over formula pixels (q242/q249/q250). */
  private def pngRgbFixture(w: Int, h: Int,
                            rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val stride = 3 * w
    val raw = new Array[Byte](h * (1 + stride))
    (0 until h).foreach { y =>
      val base = y * (1 + stride)
      (0 until w).foreach { x =>
        val (r, g, b) = rgb(x, y)
        raw(base + 1 + x * 3) = r.toByte
        raw(base + 2 + x * 3) = g.toByte
        raw(base + 3 + x * 3) = b.toByte
      }
    }
    pngSig ++ pngChunk("IHDR", pngIhdr(w, h, 8, 2)) ++
      pngChunk("IDAT", deflateFully(raw)) ++
      pngChunk("IEND", Array.emptyByteArray)
  }
  /** Flat-tile gray JPEG via javax.imageio at quality 1.0 — the
    * lossless-by-construction fixture (q243/q246/q250). */
  private def jpegFlatTileFixture(tw: Int, th: Int, g: (Int, Int) => Int,
                                  progressive: Boolean): Array[Byte] = {
    val w = 16 * tw; val h = 16 * th
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = g(x / 16, y / 16)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = wr.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    if (progressive)
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    wr.setOutput(ios)
    wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    wr.dispose()
    ios.close() // never rely on writer-internal flushing (TIFF lesson)
    bos.toByteArray
  }
  /** Clear-per-pixel GIF over a formula index grid with the formula
    * palette (i*41, i*73, i*101) (q245/q250). */
  private def gifFixture(palK: Int, w: Int, h: Int,
                         idx: (Int, Int) => Int): Array[Byte] = {
    val palSize = 1 << palK
    val minCode = math.max(2, palK)
    val clear = 1 << minCode; val eoi = clear + 1
    val bb = new java.io.ByteArrayOutputStream()
    def b(x: Int): Unit = bb.write(x & 0xff)
    "GIF89a".getBytes("US-ASCII").foreach(bb.write(_))
    b(w); b(w >> 8); b(h); b(h >> 8)
    b(0x80 | (minCode - 1)); b(0); b(0)
    (0 until (1 << minCode)).foreach { i =>
      if (i < palSize) { b((i * 41) % 256); b((i * 73) % 256); b((i * 101) % 256) }
      else { b(0); b(0); b(0) }
    }
    b(0x2c); b(0); b(0); b(0); b(0); b(w); b(w >> 8); b(h); b(h >> 8); b(0)
    b(minCode)
    val codes = (0 until h).flatMap(y => (0 until w).flatMap { x =>
      Seq(clear, idx(x, y))
    }) :+ eoi
    var acc = 0L; var nb = 0
    val payload = new java.io.ByteArrayOutputStream()
    codes.foreach { c =>
      acc |= c.toLong << nb; nb += minCode + 1
      while (nb >= 8) { payload.write((acc & 0xff).toInt); acc >>= 8; nb -= 8 }
    }
    if (nb > 0) payload.write((acc & 0xff).toInt)
    payload.toByteArray.grouped(255).foreach { chunk =>
      b(chunk.length); bb.write(chunk)
    }
    b(0); b(0x3b)
    bb.toByteArray
  }
  /** Little-endian RGB strip TIFF, uncompressed or naive PackBits
    * (q247/q250). */
  private def tiffRgbFixture(w: Int, h: Int, packBits: Boolean,
                             rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val samples = new Array[Byte](w * h * 3)
    (0 until h).foreach { y => (0 until w).foreach { x =>
      val o = (y * w + x) * 3
      val (r, g, b) = rgb(x, y)
      samples(o) = r.toByte; samples(o + 1) = g.toByte; samples(o + 2) = b.toByte
    } }
    val data =
      if (!packBits) samples
      else {
        val out = new java.io.ByteArrayOutputStream()
        samples.grouped(128).foreach { chunk =>
          out.write(chunk.length - 1); out.write(chunk, 0, chunk.length)
        }
        out.toByteArray
      }
    val bb = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bb.write(v & 0xff); bb.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = {
      w16((v & 0xffff).toInt); w16(((v >> 16) & 0xffff).toInt)
    }
    bb.write('I'); bb.write('I'); w16(42)
    val nTags = 10
    val dataOff = 8L + 2 + 12 * nTags + 4
    w32(8); w16(nTags)
    def tag(t: Int, typ: Int, cnt: Long, v: Long): Unit = {
      w16(t); w16(typ); w32(cnt); w32(v)
    }
    tag(256, 3, 1, w); tag(257, 3, 1, h); tag(258, 3, 1, 8)
    tag(259, 3, 1, if (packBits) 32773 else 1)
    tag(262, 3, 1, 2); tag(273, 4, 1, dataOff); tag(277, 3, 1, 3)
    tag(278, 3, 1, h); tag(279, 4, 1, data.length); tag(284, 3, 1, 1)
    w32(0)
    bb.write(data)
    bb.toByteArray
  }
  /** One-entry 32bpp-DIB ICO, bottom-up with empty AND mask
    * (q249/q250). `rgba` returns packed 0xAARRGGBB. */
  private def icoDib32Fixture(w: Int, h: Int,
                              rgba: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = w * 4
    val maskRow = ((w + 31) / 32) * 4
    val imgSize = 40 + rowBytes * h + maskRow * h
    val bb = java.nio.ByteBuffer.allocate(6 + 16 + imgSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putShort(0).putShort(1).putShort(1)
    bb.put(w.toByte).put(h.toByte).put(0.toByte).put(0.toByte)
      .putShort(1).putShort(32).putInt(imgSize).putInt(6 + 16)
    bb.putInt(40).putInt(w).putInt(2 * h).putShort(1).putShort(32)
      .putInt(0).putInt(0).putInt(0).putInt(0).putInt(0).putInt(0)
    (0 until h).foreach { rowFromBottom =>
      val y = h - 1 - rowFromBottom
      (0 until w).foreach { x =>
        val v = rgba(x, y)
        bb.put((v & 0xff).toByte).put(((v >> 8) & 0xff).toByte)
          .put(((v >> 16) & 0xff).toByte).put(((v >>> 24) & 0xff).toByte)
      }
    }
    (0 until h).foreach(_ => bb.put(new Array[Byte](maskRow)))
    bb.array()
  }
  /** Mono AU at 8 kHz: G.711 (enc 1 μ-law / 27 A-law, byte samples)
    * or big-endian PCM16 (enc 3, short samples) (q248/q250). */
  private def auFixture(enc: Int, n: Int, sample: Int => Int): Array[Byte] = {
    val bytesPer = if (enc == 3) 2 else 1
    val bos = new java.io.ByteArrayOutputStream()
    val dd = new java.io.DataOutputStream(bos)
    dd.writeBytes(".snd"); dd.writeInt(24); dd.writeInt(n * bytesPer)
    dd.writeInt(enc); dd.writeInt(8000); dd.writeInt(1)
    (0 until n).foreach { i =>
      if (enc == 3) dd.writeShort(sample(i)) else dd.writeByte(sample(i))
    }
    bos.toByteArray
  }
  /** Mono PCM16 AIFF with an 80-bit extended-float integer rate
    * (q248/q250). */
  private def aiffFixture(n: Int, rate: Int, sample: Int => Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dd = new java.io.DataOutputStream(bos)
    val dataLen = 8 + 2 * n
    dd.writeBytes("FORM"); dd.writeInt(4 + 8 + 18 + 8 + dataLen)
    dd.writeBytes("AIFF")
    dd.writeBytes("COMM"); dd.writeInt(18)
    dd.writeShort(1); dd.writeInt(n); dd.writeShort(16)
    val bitlen = 31 - Integer.numberOfLeadingZeros(rate)
    dd.writeShort(16383 + bitlen)
    dd.writeLong(rate.toLong << (63 - bitlen))
    dd.writeBytes("SSND"); dd.writeInt(dataLen); dd.writeInt(0); dd.writeInt(0)
    (0 until n).foreach(i => dd.writeShort(sample(i)))
    bos.toByteArray
  }
  /** ISO-BMFF box: u32 size + fourcc + concatenated content parts
    * (q254). */
  private def mp4Box(name: String, parts: Array[Byte]*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dd = new java.io.DataOutputStream(bos)
    dd.writeInt(8 + parts.map(_.length).sum); dd.writeBytes(name)
    parts.foreach(dd.write)
    bos.toByteArray
  }
  /** Minimal-but-well-formed MP4: ftyp + moov{mvhd, trak*} with one
    * trak per tuple (trackId, handler, codec, w, h, nSamples,
    * mdhd timescale, mdhd duration); tkhd/mdhd are v0 with identity
    * matrix and 16.16 dims (q254). */
  private def mp4Fixture(tracks: Seq[(Int, String, String, Int, Int, Int, Int, Int)]): Array[Byte] = {
    def i32(vs: Int*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val dd = new java.io.DataOutputStream(bos)
      vs.foreach(dd.writeInt); bos.toByteArray
    }
    def cc(s: String) = s.getBytes("US-ASCII")
    val matrix = i32(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    val ftyp = mp4Box("ftyp", cc("isom"), i32(0))
    val mvhd = mp4Box("mvhd", i32(0, 0, 0, 1000, 0, 0x10000), i32(0, 0, 0),
      matrix, i32(0, 0, 0, 0, 0, 0), i32(99))
    val traks = tracks.map { case (tid, handler, codec, w, h, ns, ts, dur) =>
      val tkhd = mp4Box("tkhd", i32(0, 0, 0, tid, 0, 0), i32(0, 0),
        i32(0, 0), matrix, i32(w << 16, h << 16))
      val mdhd = mp4Box("mdhd", i32(0, 0, 0, ts, dur), i32(0))
      val hdlr = mp4Box("hdlr", i32(0, 0), cc(handler), i32(0, 0, 0),
        Array(0.toByte))
      val stsd = mp4Box("stsd", i32(0, 1), i32(16), cc(codec), i32(0, 0))
      val stsz = mp4Box("stsz", i32(0, 0, ns))
      mp4Box("trak", tkhd,
        mp4Box("mdia", mdhd, hdlr,
          mp4Box("minf", mp4Box("stbl", stsd, stsz))))
    }
    ftyp ++ mp4Box("moov", (mvhd +: traks): _*)
  }
  /** Playable MP4: ftyp + mdat (the JPEG samples back to back) +
    * moov{mvhd, one vide trak with REAL sample tables} — stsd `jpeg`
    * (QuickTime photo-JPEG), stsz per-sample sizes, stsc/stco
    * chunking (one chunk, or 2-sample chunks when `multiChunk` — the
    * sample-to-chunk run logic needs both shapes exercised). The
    * sample-table sibling of aviFixture for q274. */
  private def mp4MjpegFixture(w: Int, h: Int, frames: Seq[Array[Byte]],
                              multiChunk: Boolean): Array[Byte] = {
    def i32(vs: Int*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val dd = new java.io.DataOutputStream(bos)
      vs.foreach(dd.writeInt); bos.toByteArray
    }
    def cc(s: String) = s.getBytes("US-ASCII")
    val matrix = i32(0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    val ftyp = mp4Box("ftyp", cc("isom"), i32(0))
    val mdat = mp4Box("mdat", frames.flatMap(_.toSeq).toArray)
    val mdatStart = ftyp.length + 8
    val sizes = frames.map(_.length)
    val sampleOffs = sizes.scanLeft(mdatStart)(_ + _).init
    // chunk layout: all samples in one chunk, or runs of 2
    val chunkSizes: Seq[Int] =
      if (!multiChunk) Seq(frames.size)
      else Seq.fill(frames.size / 2)(2) ++
        (if (frames.size % 2 == 1) Seq(1) else Nil)
    val chunkFirstSample = chunkSizes.scanLeft(0)(_ + _).init
    val chunkOffs = chunkFirstSample.map(sampleOffs)
    // stsc runs: (first_chunk, samples_per_chunk, desc 1), 1-based,
    // one entry per change of samples_per_chunk
    val stscRuns = chunkSizes.zipWithIndex
      .filter { case (n, i) => i == 0 || chunkSizes(i - 1) != n }
      .map { case (n, i) => (i + 1, n) }
    val mvhd = mp4Box("mvhd", i32(0, 0, 0, 1000, 0, 0x10000), i32(0, 0, 0),
      matrix, i32(0, 0, 0, 0, 0, 0), i32(99))
    val tkhd = mp4Box("tkhd", i32(0, 0, 0, 1, 0, 0), i32(0, 0),
      i32(0, 0), matrix, i32(w << 16, h << 16))
    val mdhd = mp4Box("mdhd", i32(0, 0, 0, 1000, 100 * frames.size), i32(0))
    val hdlr = mp4Box("hdlr", i32(0, 0), cc("vide"), i32(0, 0, 0),
      Array(0.toByte))
    val stsd = mp4Box("stsd", i32(0, 1), i32(16), cc("jpeg"), i32(0, 0))
    val stsz = mp4Box("stsz", i32(0, 0, frames.size), i32(sizes: _*))
    val stsc = mp4Box("stsc", i32(0, stscRuns.size),
      i32(stscRuns.flatMap { case (fc, n) => Seq(fc, n, 1) }: _*))
    val stco = mp4Box("stco", i32(0, chunkOffs.size), i32(chunkOffs: _*))
    ftyp ++ mdat ++ mp4Box("moov", mvhd,
      mp4Box("trak", tkhd,
        mp4Box("mdia", mdhd, hdlr,
          mp4Box("minf", mp4Box("stbl", stsd, stsz, stsc, stco)))))
  }
  /** Little-endian EXIF TIFF stream: IFD0 {Orientation, Make, Model,
    * DateTime, ExifIFD ptr} + Exif IFD {PixelXDimension,
    * PixelYDimension}; ASCII values in a data area past both IFDs
    * (q256). */
  private def exifTiff(orientation: Int, make: String, model: String,
                       dateTime: String, px: Int, py: Int): Array[Byte] = {
    val mk = make + "\u0000"; val md = model + "\u0000"; val dt = dateTime + "\u0000"
    val ifd0At = 8; val exifAt = ifd0At + 2 + 5 * 12 + 4
    val dataAt = exifAt + 2 + 2 * 12 + 4
    val mkAt = dataAt; val mdAt = mkAt + mk.length; val dtAt = mdAt + md.length
    val bb = java.nio.ByteBuffer.allocate(dtAt + dt.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifd0At)
    def entry(tag: Int, typ: Int, cnt: Int, v: Int): Unit =
      { bb.putShort(tag.toShort).putShort(typ.toShort).putInt(cnt).putInt(v) }
    bb.putShort(5)
    entry(271, 2, mk.length, mkAt)          // Make (ASCII, offset)
    entry(272, 2, md.length, mdAt)          // Model
    entry(274, 3, 1, orientation)           // Orientation (SHORT inline)
    entry(306, 2, dt.length, dtAt)          // DateTime
    entry(0x8769, 4, 1, exifAt)             // Exif IFD pointer
    bb.putInt(0)
    bb.putShort(2)
    entry(0xa002, 4, 1, px)                 // PixelXDimension
    entry(0xa003, 4, 1, py)                 // PixelYDimension
    bb.putInt(0)
    bb.put(mk.getBytes("US-ASCII")).put(md.getBytes("US-ASCII"))
      .put(dt.getBytes("US-ASCII"))
    bb.array()
  }
  /** APP1-wrapped EXIF inserted right after a real ImageIO JPEG's SOI
    * (q256). */
  private def jpegWithExif(tiff: Array[Byte]): Array[Byte] = {
    val base = jpegFlatTileFixture(1, 1, (_, _) => 128, progressive = false)
    val app1 = java.nio.ByteBuffer.allocate(4 + 6 + tiff.length)
    app1.putShort(0xffe1.toShort).putShort((2 + 6 + tiff.length).toShort)
      .put("Exif".getBytes("US-ASCII")).put(0.toByte).put(0.toByte).put(tiff)
    base.take(2) ++ app1.array() ++ base.drop(2)
  }
  /** CBR MPEG-1 Layer III stream at 32 kHz (exact integer frame
    * lengths: 4.5·kbps bytes), optional ID3v2 prefix with a syncsafe
    * size (q257). */
  private def mp3Fixture(kbps: Int, mono: Boolean, nFrames: Int,
                         id3Len: Int): Array[Byte] = {
    val brIdx = kbps match { case 64 => 5; case 128 => 9; case _ => 10 }
    val frameLen = 144 * kbps * 1000 / 32000
    val bos = new java.io.ByteArrayOutputStream()
    if (id3Len > 0) {
      bos.write('I'); bos.write('D'); bos.write('3')
      bos.write(3); bos.write(0); bos.write(0)
      bos.write(0); bos.write(0)
      bos.write((id3Len >> 7) & 0x7f); bos.write(id3Len & 0x7f)
      (0 until id3Len).foreach(k => bos.write(k % 251))
    }
    (0 until nFrames).foreach { f =>
      bos.write(0xff); bos.write(0xfb)       // MPEG1 Layer III, no CRC
      bos.write((brIdx << 4) | 8)            // bitrate idx, 32 kHz, no pad
      bos.write(if (mono) 0xc0 else 0)
      (4 until frameLen).foreach(k => bos.write((f * 31 + k) % 256))
    }
    bos.toByteArray
  }
  /** Minimal AVI for the frame-decode tier (q258): RIFF `AVI ` with
    * `hdrl{avih, [auds strl,] vids strl{strh,strf}}` and a `movi`
    * list of per-frame chunks. `audioFirst` puts a non-video stream
    * ahead so the video chunk tag is `01dc`, exercising the stream
    * index routing. */
  private def aviFixture(mjpeg: Boolean, w: Int, h: Int,
                         frames: Seq[Array[Byte]],
                         audioFirst: Boolean): Array[Byte] = {
    def le16(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, payload: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(payload.length) ++ payload ++
        (if ((payload.length & 1) == 1) Array(0.toByte) else Array.emptyByteArray)
    def list(kind: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", kind.getBytes("US-ASCII") ++ body)
    val avih = chunk("avih", le32(40000) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames.size) ++ le32(0) ++ le32(if (audioFirst) 2 else 1) ++
      le32(0) ++ le32(w) ++ le32(h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    def strh(fcc: String, handler: String) =
      chunk("strh", fcc.getBytes("US-ASCII") ++ handler.getBytes("US-ASCII") ++
        le32(0) ++ le16(0) ++ le16(0) ++ le32(0) ++ le32(1) ++ le32(25) ++
        le32(0) ++ le32(frames.size) ++ le32(0) ++ le32(-1) ++ le32(0) ++
        le16(0) ++ le16(0) ++ le16(w) ++ le16(h))
    val strfV = chunk("strf", le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++
      le16(24) ++
      (if (mjpeg) "MJPG".getBytes("US-ASCII") else le32(0)) ++
      le32(w.toLong * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    val strlV = list("strl", strh("vids", if (mjpeg) "MJPG" else "DIB ") ++ strfV)
    val strlA = list("strl", strh("auds", "\u0000\u0000\u0000\u0000") ++
      chunk("strf", le16(1) ++ le16(1) ++ le32(8000) ++ le32(16000) ++
        le16(2) ++ le16(16)))
    val hdrl = list("hdrl",
      avih ++ (if (audioFirst) strlA ++ strlV else strlV))
    val tag = (if (audioFirst) "01" else "00") + (if (mjpeg) "dc" else "db")
    val movi = list("movi", frames.flatMap(f => chunk(tag, f)).toArray)
    chunk("RIFF", "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi)
  }
  /** Bare 24bpp DIB pixel array (bottom-up 4-byte-padded rows) over a
    * per-(x, storedRow) RGB formula (q258). */
  private def dibFrameFixture(w: Int, h: Int,
                              rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val out = new Array[Byte](rowBytes * h)
    (0 until h).foreach { r =>
      (0 until w).foreach { x =>
        val (rr, gg, bb) = rgb(x, r)
        val o = r * rowBytes + x * 3
        out(o) = bb.toByte; out(o + 1) = gg.toByte; out(o + 2) = rr.toByte
      }
    }
    out
  }
  /** One WARC record around `payload` — the framing every WARC
    * fixture shares. A null `uri` leaves out WARC-Target-URI;
    * `headers` (CRLF-terminated lines) go just before Content-Length
    * (q334's digest and refers-to fields). */
  private def warcRecord(wtype: String, uri: String, payload: Array[Byte],
                         headers: String = ""): Array[Byte] =
    (s"WARC/1.0\r\nWARC-Type: $wtype\r\n" +
      (if (uri != null) s"WARC-Target-URI: $uri\r\n" else "") + headers +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes("ISO-8859-1") ++
      payload ++ "\r\n\r\n".getBytes("ISO-8859-1")
  /** One HTTP/1.1 response. `status` carries the reason phrase
    * (`200 OK`, `301 Moved`, `200 X`); `headers` (CRLF-terminated
    * lines) follow Content-Type. */
  private def httpResponse(status: String, ctype: String, body: Array[Byte],
                           headers: String = ""): Array[Byte] =
    s"HTTP/1.1 $status\r\nContent-Type: $ctype\r\n$headers\r\n"
      .getBytes("ISO-8859-1") ++ body
  /** A `200 OK` response record — the page form most fixtures use. */
  private[graft] def warcRespRec(uri: String, ctype: String, body: Array[Byte],
                                 extra: String = ""): Array[Byte] =
    warcRecord("response", uri, httpResponse("200 OK", ctype, body, extra))
  /** A bodiless 3xx response record moving `uri` to `loc`; `status`
    * carries the reason phrase, as in [[httpResponse]]. */
  private def warcRedirect(uri: String, status: String, loc: String,
                           ctype: String = "text/html"): Array[Byte] =
    warcRecord("response", uri, httpResponse(status, ctype,
      Array.emptyByteArray, s"Location: $loc\r\n"))
  private def warcInfo: Array[Byte] =
    warcRecord("warcinfo", null, "software: graft\r\n".getBytes("ISO-8859-1"))
  private def warcRequest(uri: String): Array[Byte] =
    warcRecord("request", uri, "GET / HTTP/1.1\r\n\r\n".getBytes("ISO-8859-1"))
  /** The 404 and image/png responses a text pass must exclude. */
  private def warcExcluded(id: Long): Array[Byte] =
    warcRecord("response", s"http://ex.com/$id/gone", httpResponse("404 OK",
      "text/html", s"<p>gone $id</p>".getBytes("UTF-8"))) ++
      warcRespRec(s"http://ex.com/$id/img", "image/png",
        s"PNGDATA$id".getBytes("UTF-8"))

  /** Junk bytes (`<kind>? no`) every 50th id, so the loud-drop path
    * has work; `mk` otherwise. */
  private def junkEvery50th(id: Long, kind: String)(
      mk: => Array[Byte]): Array[Byte] =
    if (id % 50 == 0) s"$kind? no".getBytes("UTF-8") else mk
  private def gzipEvery4th(id: Long, b: Array[Byte]): Array[Byte] =
    if (id % 4 == 1) gzipBytes(b) else b
  /** The crawl container rule: junk every 50th id, gzip every 4th. */
  private def warcContainer(id: Long)(records: => Array[Byte]): Array[Byte] =
    junkEvery50th(id, "warc")(gzipEvery4th(id, records))
  /** `z`-compressed, as TWO concatenated frames every 4th id (the split
    * is deliberately mid-record — frames are a transport layer, not a
    * record layer). */
  private def twoFramesEvery4th(id: Long, b: Array[Byte])(
      z: Array[Byte] => Array[Byte]): Array[Byte] =
    if (id % 4 == 1) z(b.take(b.length / 2)) ++ z(b.drop(b.length / 2))
    else z(b)
  /** In-plan `(doc_id, warc)` payload frame: `mk(id)` per document,
    * junk every 50th id. */
  private def warcPayloads(s: SparkSession, d: String)(
      mk: Long => Array[Byte]): DataFrame = {
    import s.implicits._
    docIds(s, d).map(id => (id, junkEvery50th(id, "warc")(mk(id))))
      .toDF("doc_id", "warc")
  }

  /** WARC fixture (q270/q271): warcinfo, then per page a request +
    * response pair (text/html 200), then a 404 and an image/png
    * response — both of which the text pass must exclude. Fixed-width
    * HTTP preamble (44 bytes + body) keeps Content-Length
    * SQL-replayable. */
  private def warcFixture(id: Long): Array[Byte] = {
    val pages = (0 until (1 + id % 2).toInt).flatMap { j =>
      val uri = s"http://ex.com/$id/$j"
      warcRequest(uri) ++ warcRespRec(uri, "text/html",
        s"<h1>Page $id $j</h1><p>text $id &amp; $j</p>".getBytes("UTF-8"))
    }
    warcInfo ++ pages ++ warcExcluded(id)
  }
  /** Mixed-carrier WARC fixture (q289): per document an HTML response
    * AND an application/pdf response (a real PDF from the engine's
    * deterministic writer — Flate-compressed content every 2nd id),
    * plus a 404 and an image/png response the router must exclude.
    * Record indexes: warcinfo 0, request 1, html 2, pdf 3, 404 4,
    * png 5. */
  private def warcMixedFixture(id: Long): Array[Byte] = {
    val pdf = graft.sources.Pdf.buildSimplePdf(
      Seq(Seq(s"pdf doc $id", s"second line $id")), flate = id % 2 == 1)
    warcInfo ++ warcRequest(s"http://ex.com/$id/h") ++
      warcRespRec(s"http://ex.com/$id/h", "text/html",
        s"<p>html $id</p>".getBytes("UTF-8")) ++
      warcRespRec(s"http://ex.com/$id/doc.pdf", "application/pdf", pdf) ++
      warcExcluded(id)
  }
  /** Multi-carrier curation fixture (q292): quintets (b = id/5)
    * publish the SAME html page under messy URL aliases (case /
    * default port / fragment — all canonicalize together), a REAL
    * per-id PDF whose text repeats across quintets sharing b%7
    * (cross-quintet content dups), a unique markdown note, and a
    * too-short page the length gate must drop. Record indexes:
    * warcinfo 0, request 1, html 2, pdf 3, markdown 4, short 5. */
  private def warcV9Fixture(id: Long): Array[Byte] = {
    val b = id / 5
    val htmlUrl = (id % 3) match {
      case 0 => s"http://EX.com/h/$b"
      case 1 => s"http://ex.com:80/h/$b"
      case _ => s"http://ex.com/h/$b#frag$id"
    }
    val pdf = graft.sources.Pdf.buildSimplePdf(
      Seq(Seq(s"pdf doc ${b % 7} line one keeps",
        s"pdf doc ${b % 7} line two")), flate = id % 2 == 1)
    val md = s"# Doc $id\n\nmarkdown note $id with [a link](http://x/$id) kept.\n"
    warcInfo ++ warcRequest(htmlUrl) ++
      warcRespRec(htmlUrl, "text/html",
        s"<p>html body for bucket $b carries enough words to keep.</p>"
          .getBytes("UTF-8")) ++
      warcRespRec(s"http://ex.com/d/$id.pdf", "application/pdf", pdf) ++
      warcRespRec(s"http://ex.com/m/$id", "text/markdown",
        md.getBytes("UTF-8")) ++
      warcRespRec(s"http://ex.com/s/$id", "text/html",
        "<p>tiny</p>".getBytes("UTF-8"))
  }
  private[graft] def gzipBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }
  private def zstBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new com.github.luben.zstd.ZstdOutputStream(bos)
    z.write(b); z.close()
    bos.toByteArray
  }
  private def bz2Bytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(bos)
    z.write(b); z.close()
    bos.toByteArray
  }
  private def xzBytes(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new org.apache.commons.compress.compressors.xz
      .XZCompressorOutputStream(bos)
    z.write(b); z.close()
    bos.toByteArray
  }

  // The curation fixtures v10–v15, each the one before it VERBATIM
  // plus the records its new gate must adjudicate (so survivor parity
  // with the previous version holds by construction). Record indexes:
  // v9's 0–5, noindexed 6, foreign 7, gibberish 8, clean Type0 PDF 9,
  // subset PDF 10, dup-one 11, dup-two 12, blocked domain 13, term
  // URL 14, farms 15–17.

  /** v10 (q308): one header-noindex'd html record whose long UNIQUE
    * text would survive every other stage — so the X-Robots-Tag gate
    * is load-bearing in the oracle. */
  private def warcV10Bytes(id: Long): Array[Byte] =
    warcV9Fixture(id) ++ warcRespRec(s"http://ex.com/n/$id", "text/html",
      (s"<p>secret page $id would pass every gate " +
        "but the publisher opted out.</p>").getBytes("UTF-8"),
      "X-Robots-Tag: noindex\r\n")
  /** v11: two records the single-pass signal gates must drop — a
    * confidently-Russian page (the q288 sample text: high lang_total,
    * pred_lang 'ru') and a gibberish page (low quality score but too
    * weak a language signal to trip the confident-foreign gate — only
    * the quality gate can drop it). */
  private def warcV11Bytes(id: Long): Array[Byte] =
    warcV10Bytes(id) ++
      warcRespRec(s"http://ex.com/ru/$id", "text/html",
        s"<p>${graft.llm.LangId.CrawlSamples("ru")}</p>".getBytes("UTF-8")) ++
      warcRespRec(s"http://ex.com/g/$id", "text/html",
        "<p>zzz 0101 #### @@@@ !!!! 0101 zzz qqq 0101 xxxx</p>"
          .getBytes("UTF-8"))
  /** v12: the two records the extraction-confidence gate adjudicates —
    * a CLEAN Type0 PDF (every CID mapped by its /ToUnicode CMap; must
    * SURVIVE, proving the gate is a ratio, not a carrier filter) and a
    * no-ToUnicode SUBSET PDF whose Identity-decoded text reads as
    * perfectly plausible English (passes length, language, and quality
    * gates — ONLY the unmapped-code ratio can drop it, which is exactly
    * the real-web mojibake failure: subset-font CIDs are glyph ids, not
    * codepoints, and no text-level signal sees it). */
  private def warcV12Bytes(id: Long): Array[Byte] =
    warcV11Bytes(id) ++
      warcRespRec(s"http://ex.com/t0/$id", "application/pdf",
        graft.sources.Pdf.buildType0Pdf(Seq(Seq(
          s"Clean type0 page $id keeps the words that the gate needs.")),
          xrefStream = id % 2 == 0)) ++
      warcRespRec(s"http://ex.com/sub/$id", "application/pdf",
        graft.sources.Pdf.buildType0PdfNoToUnicode(Seq(Seq(
          s"Subset font page $id would pass the other gates easily."))))
  /** v13: the canonical-link consolidation pair — two html records
    * fetched from DIFFERENT URLs with DIFFERENT texts, both declaring
    * the SAME (deliberately denormalized) `link rel=canonical`.
    * URL-keyed dedup on the fetch URL keeps both; only a key that
    * honors the publisher's canonical collapses them — the
    * syndication/mirror case URL dedup exists for. */
  private def warcV13Bytes(id: Long): Array[Byte] =
    warcV12Bytes(id) ++ Seq("one", "two").map { which =>
      warcRespRec(s"http://ex.com/dup-$which/$id", "text/html",
        (s"""<html><head><link rel="canonical" """ +
          s"""href="HTTP://Ex.COM:80/canon/./$id"></head>""" +
          s"<body><p>dup page $which for $id with enough " +
          "plain english words to keep.</p></body></html>")
          .getBytes("UTF-8"))
    }.reduce(_ ++ _)
  /** v14: the two records only the URL gate can drop — a
    * blocked-domain fetch and a term-flagged URL, each carrying long
    * unique clean English text. */
  private def warcV14Bytes(id: Long): Array[Byte] =
    warcV13Bytes(id) ++
      warcRespRec(s"http://sub.bad.example/p/$id", "text/html",
        (s"<p>blocked domain page $id reads perfectly clean " +
          "and would pass every text gate.</p>").getBytes("UTF-8")) ++
      warcRespRec(s"http://ok.site/xxx-casino/$id", "text/html",
        (s"<p>term flagged page $id also reads clean and " +
          "would pass every text gate.</p>").getBytes("UTF-8"))
  /** v15: the CONTENT-FARM arm — three clean unique pages per id
    * published from sibling subdomains of farm<id%5>.co.uk, so the
    * per-registered-domain cap has real dominance to cut: each farm's
    * eTLD+1 aggregates pages from every id sharing id%5 while
    * raw-host keying would see them all as distinct "domains". */
  private def warcV15Bytes(id: Long): Array[Byte] =
    warcV14Bytes(id) ++ (0 until 3).map { j =>
      warcRespRec(s"http://a$j.farm${id % 5}.co.uk/f/$id", "text/html",
        (s"<p>farm page $id $j has enough unique english words " +
          "to keep around.</p>").getBytes("UTF-8"))
    }.reduce(_ ++ _)

  /** The q353/v16 WARC fixture: v15's records plus a 301
    * `h-old/$id → /h/$b` edge, a 200 capture AT h-old, and a planted
    * 2-cycle with its 200 page. FixtureBytesSpec pins its bytes. */
  private[graft] def q353Fixture(s: SparkSession, d: String): DataFrame =
    warcPayloads(s, d) { id =>
      gzipEvery4th(id, warcV15Bytes(id) ++
        warcRedirect(s"http://ex.com/h-old/$id", "301 Moved", s"/h/${id / 5}") ++
        warcRespRec(s"http://ex.com/h-old/$id", "text/html",
          (s"<p>moved fetch $id stays clean with plenty of good " +
            "english words.</p>").getBytes("UTF-8")) ++
        warcRespRec(s"http://cyc.example/p/$id", "text/html",
          (s"<p>cycle page $id keeps enough english words " +
            "alive.</p>").getBytes("UTF-8")) ++
        warcRedirect(s"http://cyc.example/p/$id", "301 Moved",
          s"http://cyc2.example/p/$id") ++
        warcRedirect(s"http://cyc2.example/p/$id", "302 Moved",
          s"http://cyc.example/p/$id"))
    }

  /** q269's archive members: two formula BMPs per id. */
  private def bmpMembers(id: Long): Seq[(String, Array[Byte])] =
    (0 until 2).map(k => (s"img$k.bmp", bmp24Fixture(10, 8, (x, y) => (
      ((id * 7 + k * 31 + x * 13 + y * 29) % 256).toInt,
      ((id * 5 + k * 17 + x * 3 + y * 11) % 256).toInt,
      ((id * 3 + k * 7 + x + y * 7) % 256).toInt))))
  /** q284's TAR: the BMP pair plus a directory and a text member the
    * media pass must route around. */
  private def tarMembers(id: Long): Array[Byte] =
    tarFixture(bmpMembers(id) ++ Seq("notes/" -> Array.empty[Byte],
      "note.txt" -> s"doc $id".getBytes("UTF-8")))
  /** q287's ZIP: q284's member composition written with
    * java.util.zip.ZipOutputStream (DEFLATED + data descriptors, the
    * layout streaming extractors must self-terminate through the
    * Inflater on); every 3rd id leads with a STORED member (the
    * sizes-in-local-header layout). Every entry carries one fixed
    * local time (the JDK would stamp the write time), so the bytes
    * are a pure function of the id. */
  private def zipMembers(id: Long): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zo = new java.util.zip.ZipOutputStream(bos)
    // setTimeLocal, not setTime(long): the latter converts through
    // the default time zone
    def entry(name: String) = {
      val e = new java.util.zip.ZipEntry(name)
      e.setTimeLocal(java.time.LocalDateTime.of(2020, 1, 1, 0, 0))
      e
    }
    if (id % 3 == 1) { // stored lead member (no descriptor)
      val body = s"stored $id".getBytes("UTF-8")
      val e = entry("lead.txt")
      e.setMethod(java.util.zip.ZipEntry.STORED)
      e.setSize(body.length)
      val crc = new java.util.zip.CRC32(); crc.update(body)
      e.setCrc(crc.getValue)
      zo.putNextEntry(e); zo.write(body); zo.closeEntry()
    }
    bmpMembers(id).foreach { case (name, body) =>
      zo.putNextEntry(entry(name))
      zo.write(body)
      zo.closeEntry()
    }
    zo.putNextEntry(entry("notes/"))
    zo.closeEntry()
    zo.putNextEntry(entry("note.txt"))
    zo.write(s"doc $id".getBytes("UTF-8"))
    zo.closeEntry()
    zo.close()
    bos.toByteArray
  }

  /** Every on-disk fixture, by dir tag: the file-name pattern (one
    * file per doc id) and the per-id file bytes. The query each one
    * serves is noted beside it; FIXTURES.md has the full table.
    * The files are cached by existence only (see [[fixtureFiles]]),
    * so changing any byte of a fixture means bumping its `_vN` tag —
    * FixtureBytesSpec pins the bytes. */
  private[graft] lazy val diskFixtures
      : Map[String, (String, Long => Array[Byte])] = Map(
    "avi_v6_v1" -> ("v%08d.avi", (id: Long) => q266AviBytes(id)), // q266
    // q275/q276: q270's records
    "warc_stream_v1" -> ("w%08d.warc",
      (id: Long) => warcContainer(id)(warcFixture(id))),
    // q284: q269's BMP pair in a ustar, gzipped every 3rd id
    "tar_stream_v1" -> ("t%08d.tar", (id: Long) => junkEvery50th(id, "tar") {
      val t = tarMembers(id)
      if (id % 3 == 1) gzipBytes(t) else t
    }),
    // q298/q301: q276's records behind the zstd / bzip2 door
    "warc_zst_v1" -> ("w%08d.warc.zst", (id: Long) =>
      junkEvery50th(id, "warc")(twoFramesEvery4th(id, warcFixture(id))(zstBytes))),
    "warc_bz2_v1" -> ("w%08d.warc.bz2", (id: Long) =>
      junkEvery50th(id, "warc")(twoFramesEvery4th(id, warcFixture(id))(bz2Bytes))),
    // q300/q302: q284's members behind the zstd / xz door
    "tar_zst_v1" -> ("t%08d.tar.zst",
      (id: Long) => junkEvery50th(id, "tar")(zstBytes(tarMembers(id)))),
    "tar_xz_v1" -> ("t%08d.tar.xz",
      (id: Long) => junkEvery50th(id, "tar")(xzBytes(tarMembers(id)))),
    "zip_stream_v2" -> ("z%08d.zip", // q287
      (id: Long) => junkEvery50th(id, "zip")(zipMembers(id))),
    // q306: q289's mixed-carrier records, for the streaming router
    "warc_docs_v1" -> ("w%08d.warc",
      (id: Long) => warcContainer(id)(warcMixedFixture(id))),
    // q350: brotli Content-Encoding, alone and under gzip
    "warc_br_v1" -> ("w%08d.warc", (id: Long) => junkEvery50th(id, "warc") {
      val entity = (s"<h1>Doc $id</h1><p>brotli payload $id " +
        "restores exactly.</p>").getBytes("UTF-8")
      val html = "text/html; charset=utf-8"
      warcRespRec(s"http://ex.com/br/$id", html,
        graft.sources.Brotli.encodeUncompressed(entity),
        "Content-Encoding: br\r\n") ++
        warcRespRec(s"http://ex.com/brgz/$id", html,
          graft.sources.Brotli.encodeUncompressed(gzipBytes(entity)),
          "Content-Encoding: gzip, br\r\n") ++
        warcRespRec(s"http://ex.com/plain/$id", html, entity)
    }),
    // the curation chain: v10 (q308), v11 (q315), v12 (q320),
    // v13 (q326), v14 (q337), v15 (q344)
    "warc_v10_v1" -> ("w%08d.warc",
      (id: Long) => warcContainer(id)(warcV10Bytes(id))),
    "warc_v11_v1" -> ("w%08d.warc",
      (id: Long) => warcContainer(id)(warcV11Bytes(id))),
    "warc_v12_v1" -> ("w%08d.warc",
      (id: Long) => warcContainer(id)(warcV12Bytes(id))),
    "warc_v13_v1" -> ("w%08d.warc",
      (id: Long) => warcContainer(id)(warcV13Bytes(id))),
    "warc_v14_v1" -> ("w%08d.warc",
      (id: Long) => warcContainer(id)(warcV14Bytes(id))),
    "warc_v15_v1" -> ("w%08d.warc",
      (id: Long) => warcContainer(id)(warcV15Bytes(id))))

  /** Executor-side on-disk fixture writer: one file per doc id under
    * `java.io.tmpdir/graft_<dirTag>_<sf hash>`, named by the
    * `fileName` pattern. Files are written in EXECUTORS (the fixture
    * is data, the driver only collects the path strings — O(files)
    * metadata, the same class as Spark's own file listings), cached by
    * existence across runs, and tmp-write + rename keeps concurrent
    * generations safe. ASSUMPTION: executors and the reader tasks
    * share one filesystem (true for local[N], the only harness these
    * fixtures serve). On a multi-node cluster point the generation at
    * a shared directory (HDFS/NFS) instead — the readers themselves
    * are location-agnostic. */
  private[graft] def fixtureFiles(s: SparkSession, d: String, dirTag: String,
                                  fileName: String)(
      mk: Long => Array[Byte]): Seq[String] = {
    import s.implicits._
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${dirTag}_${Integer.toHexString(d.hashCode)}")
    docIds(s, d).map { id =>
      val f = new java.io.File(dir, fileName.format(id))
      if (!f.exists) {
        dir.mkdirs()
        val bytes = mk(id)
        val tmp = java.io.File.createTempFile("fxtmp", ".part", dir)
        val out = new java.io.FileOutputStream(tmp)
        try out.write(bytes) finally out.close()
        if (!tmp.renameTo(f)) tmp.delete()
      }
      f.getAbsolutePath
    }.collect().toSeq.sorted
  }
  /** The paths of the [[diskFixtures]] fixture `dirTag`. */
  private def fixturePaths(s: SparkSession, d: String, dirTag: String)
      : Seq[String] = {
    val (fileName, mk) = diskFixtures(dirTag)
    fixtureFiles(s, d, dirTag, fileName)(mk)
  }

  /** q288's oracle, GENERATED from [[graft.llm.LangId.CrawlProfiles]]
    * and CrawlSamples: the fixture text (per-id sample repeated 1–3×),
    * every language's score (LIST_FILTER function-word hits + weighted
    * script-range character counts via REGEXP_REPLACE), the argmax
    * CASE chain with the alphabetical-first tie rule, and the integer
    * basis-point confidence (`//` — DuckDB's integer division, the
    * exact-integer twin of Spark's DIV; no ROUND semantics anywhere).
    * Generating both engines' formulas from ONE profile table is the
    * only way a 31-language × 30-comparison chain stays in lockstep. */
  private lazy val q288OracleSql: String = {
    val profiles = graft.llm.LangId.CrawlProfiles
    val langs = profiles.keys.toSeq.sorted
    val samples = graft.llm.LangId.CrawlSamples
    def sqlLit(s: String) = "'" + s.replace("'", "''") + "'"
    val textCase = langs.indices.map(i =>
      s"WHEN $i THEN ${sqlLit(samples(langs(i)))}").mkString(" ")
    val scoreExprs = langs.map { l =>
      val p = profiles(l)
      val wordPart =
        if (p.words.isEmpty) "CAST(0 AS BIGINT)"
        else "CAST(LEN(LIST_FILTER(ws, w -> w IN (" +
          p.words.map(sqlLit).mkString(",") + "))) AS BIGINT)"
      val scriptParts = p.scripts.map { case (from, to, wt) =>
        s" + $wt * (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[$from-$to]', '', 'g')))"
      }.mkString
      s"$wordPart$scriptParts AS s_$l"
    }
    val caseChain = langs.map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    val totalExpr = langs.map(l => s"s_$l").mkString(" + ")
    val greatestExpr = "GREATEST(" + langs.map(l => s"s_$l").mkString(", ") + ")"
    s"WITH t AS (SELECT doc_id, " +
      s"LTRIM(REPEAT(' ' || CASE CAST(doc_id % ${langs.size} AS INTEGER) " +
      s"$textCase END, CAST(1 + doc_id % 3 AS INTEGER))) AS text " +
      s"FROM documents), " +
      s"tok AS (SELECT doc_id, text, STRING_SPLIT(LOWER(text), ' ') AS ws FROM t), " +
      s"s AS (SELECT doc_id, ${scoreExprs.mkString(", ")} FROM tok), " +
      s"p AS (SELECT doc_id, CASE $caseChain END AS pred_lang, " +
      s"$greatestExpr AS score, $totalExpr AS total FROM s) " +
      s"SELECT doc_id, pred_lang, score, total, " +
      s"CASE WHEN total > 0 THEN score * 10000 // total END AS conf_bp " +
      s"FROM p ORDER BY doc_id"
  }

  /** Two-page WARC whose pages need NON-UTF-8 decodes (q277): page 0
    * declares ISO-8859-1 in the HTTP header and carries byte
    * 0xE0+id%5 (à..ä); page 1 declares windows-1251 only in a <meta
    * charset> and carries byte 0xC0+id%5 (А..Д). */
  private def charsetFixture(id: Long): Array[Byte] = {
    val k = (id % 5).toInt
    warcRespRec(s"http://ex.com/$id/latin", "text/html; charset=ISO-8859-1",
      "<p>".getBytes("ISO-8859-1") ++ Array((0xE0 + k).toByte) ++
        " latin</p>".getBytes("ISO-8859-1")) ++
      warcRespRec(s"http://ex.com/$id/cyr", "text/html",
        "<meta charset=\"windows-1251\"><p>".getBytes("ISO-8859-1") ++
          Array((0xC0 + k).toByte) ++ " cyr</p>".getBytes("ISO-8859-1"))
  }
  /** WARC fixture for curation v7 (q273): quintets (id/5) publish the
    * SAME pages under messy URL aliases, content repeats across
    * quintets sharing b%7, and some second pages are too short to
    * keep — so every pipeline stage (URL dedup, quality gate, content
    * dedup) has planted work. */
  private def warcV7Fixture(id: Long): Array[Byte] = {
    val b = id / 5
    val pages = (0 until (1 + id % 2).toInt).flatMap { j =>
      val canonical = s"/p/$b/$j"
      val uri = (id % 5) match {
        case 0 => s"http://ex.com$canonical"
        case 1 => s"HTTP://EX.COM$canonical#frag"
        case 2 => s"http://ex.com:80$canonical"
        case 3 => s"http://ex.com/a/..$canonical"
        case _ => s"http://ex.com/%70/$b/$j"
      }
      val body =
        if (j == 1 && id % 3 == 0) "<p>x</p>" // too short: quality-gated
        else s"<h1>S${b % 29} $j</h1><p>body ${b % 29} &amp; $j</p>"
      warcRequest(uri) ++
        warcRespRec(uri, "text/html", body.getBytes("UTF-8"))
    }
    warcInfo ++ pages
  }
  /** WARC fixture for curation v8 (q281): quintets (id/5) publish ONE
    * page under the same messy URL aliases as v7, but the page now has
    * the full block anatomy a main-content extractor faces — link nav,
    * prose body, C4-droppable noise lines (too short / javascript),
    * link footer — and body content repeats across buckets sharing
    * b%23, so every stage of the v8 chain has planted work. */
  private def warcV8Fixture(id: Long): Array[Byte] = {
    val b = id / 5
    val uri = (id % 5) match {
      case 0 => s"http://ex.com/p/$b"
      case 1 => s"HTTP://EX.COM/p/$b#frag"
      case 2 => s"http://ex.com:80/p/$b"
      case 3 => s"http://ex.com/a/../p/$b"
      case _ => s"http://ex.com/%70/$b"
    }
    val html =
      """<ul><li><a href="/home">Home</a></li><li><a href="/about">About</a></li></ul>""" +
        s"<p>Good body sentence one for bucket ${b % 23} carries enough words.</p>" +
        "<p>short bit</p>" +
        "<p>Please enable JavaScript to continue viewing.</p>" +
        s"<p>Good body sentence two for bucket ${b % 23} closes the page.</p>" +
        """<div>Footer <a href="/t">terms</a> <a href="/p">privacy</a></div>"""
    warcRespRec(uri, "text/html", html.getBytes("UTF-8"))
  }
  /** ZIP via the JDK's own encoder — the third-party-writer fixture
    * (q268/q269): our central-directory walk must read back what
    * ZipOutputStream wrote. */
  private def zipFixture(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, body) =>
      z.putNextEntry(new java.util.zip.ZipEntry(name))
      if (!name.endsWith("/")) z.write(body)
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }
  /** Hand-built ustar TAR (proper checksums, 512-byte blocks) —
    * q268's tar leg. */
  private def tarFixture(entries: Seq[(String, Array[Byte])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    entries.foreach { case (name, body) =>
      val h = new Array[Byte](512)
      val nb = name.getBytes("UTF-8")
      System.arraycopy(nb, 0, h, 0, math.min(nb.length, 100))
      def oct(v: Long, off: Int, len: Int): Unit = {
        val s = java.lang.Long.toOctalString(v)
        System.arraycopy((("0" * (len - 1 - s.length)) + s).getBytes, 0, h, off, len - 1)
      }
      oct(420, 100, 8); oct(0, 108, 8); oct(0, 116, 8)
      oct(if (name.endsWith("/")) 0 else body.length, 124, 12)
      oct(0, 136, 12)
      h(156) = if (name.endsWith("/")) '5'.toByte else '0'.toByte
      System.arraycopy("ustar".getBytes, 0, h, 257, 5)
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      var sum = 0L; (0 until 512).foreach(i => sum += h(i) & 0xff)
      val cs = java.lang.Long.toOctalString(sum)
      System.arraycopy((("0" * (6 - cs.length)) + cs).getBytes, 0, h, 148, 6)
      h(154) = 0; h(155) = ' '.toByte
      bos.write(h)
      if (!name.endsWith("/")) {
        bos.write(body)
        bos.write(new Array[Byte]((512 - body.length % 512) % 512))
      }
    }
    bos.write(new Array[Byte](1024))
    bos.toByteArray
  }
  /** `HH:MM:SS<sep>mmm` (or MM:SS<sep>mmm when `short` and under an
    * hour — WebVTT's optional-hours form) subtitle stamp (q261). */
  private def subStamp(ms: Long, sep: Char, short: Boolean): String = {
    val h = ms / 3600000; val m = (ms / 60000) % 60
    val s = (ms / 1000) % 60; val mmm = ms % 1000
    if (short && h == 0) f"$m%02d:$s%02d$sep$mmm%03d"
    else f"$h%02d:$m%02d:$s%02d$sep$mmm%03d"
  }
  /** Minimal Matroska/WebM: EBML header (DocType) + Segment{Info
    * {TimestampScale 1 ms, Duration float}, Tracks{TrackEntry*}};
    * tracks are (num, type, codecId, w, h) with a Video element on
    * type-1 entries (q255). */
  private def mkvFixture(docType: String, durMs: Int,
                         tracks: Seq[(Int, Int, String, Int, Int)]): Array[Byte] = {
    def el(id: Array[Byte], content: Array[Byte]): Array[Byte] = {
      val size =
        if (content.length < 127) Array((0x80 | content.length).toByte)
        else Array((0x40 | (content.length >> 8)).toByte,
          (content.length & 0xff).toByte)
      id ++ size ++ content
    }
    def eid(bs: Int*) = bs.map(_.toByte).toArray
    def u(v: Long, n: Int): Array[Byte] =
      ((n - 1) to 0 by -1).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
    val header = el(eid(0x1a, 0x45, 0xdf, 0xa3),
      el(eid(0x42, 0x82), docType.getBytes("US-ASCII")))
    val info = el(eid(0x15, 0x49, 0xa9, 0x66),
      el(eid(0x2a, 0xd7, 0xb1), u(1000000L, 3)) ++
        el(eid(0x44, 0x89),
          u(java.lang.Float.floatToIntBits(durMs.toFloat) & 0xffffffffL, 4)))
    val trs = tracks.map { case (num, ttype, codec, w, h) =>
      el(eid(0xae),
        el(eid(0xd7), u(num, 1)) ++ el(eid(0x83), u(ttype, 1)) ++
          el(eid(0x86), codec.getBytes("US-ASCII")) ++
          (if (ttype == 1)
            el(eid(0xe0), el(eid(0xb0), u(w, 2)) ++ el(eid(0xba), u(h, 2)))
          else Array.empty[Byte]))
    }.reduce(_ ++ _)
    header ++ el(eid(0x18, 0x53, 0x80, 0x67),
      info ++ el(eid(0x16, 0x54, 0xae, 0x6b), trs))
  }
  /** Minimal AVI: RIFF`AVI ` → LIST hdrl → avih main header (q254). */
  private def aviFixture(w: Int, h: Int, frames: Int, usf: Int,
                         streams: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(88)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(80)
      .put("AVI ".getBytes("US-ASCII"))
    bb.put("LIST".getBytes("US-ASCII")).putInt(68)
      .put("hdrl".getBytes("US-ASCII"))
    bb.put("avih".getBytes("US-ASCII")).putInt(56)
    bb.putInt(usf).putInt(0).putInt(0).putInt(0)
    bb.putInt(frames).putInt(0).putInt(streams).putInt(0)
    bb.putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
    bb.array()
  }
  /** 24bpp bottom-up BMP over formula pixels (q250/q251/q252). */
  private def bmp24Fixture(w: Int, h: Int,
                           rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val bb = java.nio.ByteBuffer.allocate(54 + rowBytes * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + rowBytes * h)
      .putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    (0 until h).foreach { rowFromBottom =>
      val y = h - 1 - rowFromBottom
      (0 until w).foreach { x =>
        val (r, g, b) = rgb(x, y)
        bb.put(b.toByte).put(g.toByte).put(r.toByte)
      }
      (w * 3 until rowBytes).foreach(_ => bb.put(0.toByte))
    }
    bb.array()
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q1 — scan + filter + project (§2.1, §2.3). Predicate and column
    // pruning reach the parquet scan (PushedFilters in explain).
    "q01_filter_project" -> ((s, d) =>
      li(s, d)
        .where(col("l_shipdate") < lit("1997-01-01").cast("timestamp") && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("net_price"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Q2 — TPC-H-Q1-shape aggregation: partial (combiner) + final agg.
    "q02_tpch_q1" -> ((s, d) =>
      li(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Q3 — wordcount (TokenCounterMapper + IntSumReducer).
    "q03_wordcount" -> ((s, d) =>
      graft.jobs.Jobs.wordCount(docs(s, d), col("text")).limit(100)),

    // Q4 — fieldsel projection (FieldSelectionMapper).
    "q04_fieldsel" -> ((s, d) =>
      FieldSelection.project(ord(s, d),
        Seq("o_orderpriority", "o_orderstatus", "o_orderkey"))
        .orderBy("o_orderkey")),

    // Q5 — ValueAggregator multi-aggregate via descriptor registry.
    "q05_multi_agg" -> ((s, d) =>
      ValueAggregators.aggregate(cust(s, d), Seq("c_mktsegment"), Seq(
        "dsum:c_acctbal:sum_bal", "min:c_name:min_name",
        "max:c_name:max_name", "uniq:c_nationkey:n_nations"))
        .orderBy("c_mktsegment")),

    // Q6 — inner equi-join (CompositeInputFormat `inner`).
    "q06_join_inner" -> ((s, d) =>
      ord(s, d).join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_name"),
          round(col("o_totalprice"), 4).as("total_price"))
        .orderBy("o_orderkey")),

    // Q7 — full-outer + N-way join (`outer`), aggregated per nation.
    // Aggregate-then-join keeps the outer join on pre-reduced inputs.
    "q07_join_outer_nway" -> ((s, d) => {
      val c = cust(s, d).groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"), sum("c_acctbal").as("cust_bal"))
      val p = supp(s, d).groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_supp"), sum("s_acctbal").as("supp_bal"))
      ComposeJoin.outer("nk", Seq(c, p))
        .join(nat(s, d), col("n_nationkey") === col("nk"))
        .select(col("n_name"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"),
          round(coalesce(col("cust_bal"), lit(0.0)) + coalesce(col("supp_bal"), lit(0.0)), 4).as("total_bal"))
        .orderBy("n_name")
    }),

    // Q8 — anti join (reduce-side presence-test idiom → left_anti):
    // customers with no big-ticket order (filter pushed below the join).
    "q08_anti_join" -> ((s, d) =>
      cust(s, d).join(ord(s, d).where(col("o_totalprice") > 300000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey").orderBy("c_custkey")),

    // Q9 — `override` priority union: latest event wins (max_by).
    "q09_override_argmax" -> ((s, d) =>
      ev(s, d).groupBy("user_id")
        .agg(max_by(col("event_type"), col("ts")).as("last_event"))
        .orderBy("user_id")),

    // Q10 — global total-order sort (TotalOrderPartitioner/TeraSort
    // capability): RangePartitioner samples split points automatically.
    "q10_total_sort" -> ((s, d) =>
      li(s, d)
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .select("l_orderkey", "l_partkey", "l_suppkey")
        .limit(1000)),

    // Q11 — set operations (union / intersect / except).
    "q11_set_ops" -> ((s, d) => {
      val cn = cust(s, d).select(col("c_nationkey").as("nk")).distinct()
      val sn = supp(s, d).select(col("s_nationkey").as("nk")).distinct()
      val u = cn.union(sn).distinct().withColumn("op", lit("union"))
      val i = cn.intersect(sn).withColumn("op", lit("intersect"))
      val e = cn.except(sn).withColumn("op", lit("except"))
      u.unionByName(i).unionByName(e).select("op", "nk").orderBy("op", "nk")
    }),

    // Q12 — secondary sort: per-user event sequence, first 3 by time.
    "q12_secondary_sort" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev(s, d).withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("user_id"), col("rn"), col("event_type"), col("event_id"))
        .orderBy("user_id", "rn")
    }),

    // Q13 — ValueHistogram-style per-key report via descriptor registry.
    "q13_histogram" -> ((s, d) =>
      ValueAggregators.aggregate(ev(s, d), Seq("event_type"), Seq(
        "count:event_id:cnt", "uniq:user_id:n_users",
        "davg:value:avg_val", "dstd:value:sd_val"))
        .orderBy("event_type")),

    // Q14 — grep: regex match extraction + count + sort desc.
    "q14_grep" -> ((s, d) =>
      graft.jobs.Jobs.grep(docs(s, d), col("text"), "(sort|merge|join|stream|filter)")),

    // Q15 — map-only compute: deterministic midpoint-grid π estimate.
    "q15_pi" -> ((s, d) => graft.jobs.Jobs.piEstimate(s)),

    // Q16 — tumbling window (batch form of the streaming query).
    "q16_tumbling_window" -> ((s, d) =>
      ev(s, d)
        .groupBy(col("user_id"), window(col("ts"), "1 hour").getField("start").as("hour_bucket"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sv"))
        .orderBy("user_id", "hour_bucket")),

    // Q17 — sliding window: 15-min buckets, 1-hour trailing sum.
    "q17_sliding_window" -> ((s, d) => {
      val b = ev(s, d)
        .groupBy(col("event_type"),
          floor(unix_micros(col("ts")) / lit(900000000L)).as("bucket"))
        .agg(sum("value").as("v"), count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("bucket").rangeBetween(-3, 0)
      b.select(col("event_type"), col("bucket"), col("n"),
          round(sum(col("v")).over(w), 4).as("trailing_1h"))
        .orderBy("event_type", "bucket")
    }),

    // Q18 — gap-based sessionization (30-min inactivity), batch form.
    "q18_sessionize" -> ((s, d) => {
      val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts"))
      val gapped = ev(s, d)
        .withColumn("gap_us", us - lag(us, 1).over(wOrd))
        .withColumn("new_s", when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1).otherwise(0))
      gapped
        .withColumn("sess", sum(col("new_s")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n"), min("ts").as("start_ts"), max("ts").as("end_ts"))
        .orderBy("user_id", "sess")
    }),

    // Q19 — exact/prefix dedup groups (LLM op).
    "q19_dedup_exact" -> ((s, d) =>
      Dedup.prefixGroups(docs(s, d), "text", 5).orderBy("h")),

    // Q20 — cosine top-k of one query vector, brute force (LLM op).
    "q20_cosine_topk" -> ((s, d) =>
      Similarity.bruteTopK(emb(s, d), Seq(0L), 10, fast = false)
        .select("vec_id", "sim")),

    // ---- LLM-pipeline extension surface --------------------------------

    // Token/char stats per document.
    "q21_token_stats" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"))
        .orderBy("doc_id")),

    // Quality-score ingredients: token count, stopword hits, mean word len.
    "q22_text_quality" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("w").isin(TextFunctions.defaultStopwords.take(6): _*), 1).otherwise(0)).as("n_stop"),
          round(avg(length(col("w")).cast("double")), 4).as("avg_wlen"))
        .orderBy("doc_id")),

    // Corpus profile per language tag.
    "q23_lang_profile" -> ((s, d) =>
      docs(s, d).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          round(avg(col("n_chars").cast("double")), 4).as("avg_chars"))
        .orderBy("lang")),

    // Normalized-text fingerprint per document.
    "q24_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // Exact n-gram Jaccard near-dup pairs (the sketch methods' oracle).
    "q25_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", 3, 0.5)
        .orderBy("id1", "id2")),

    // End-to-end curation pipeline (LLM op composition): keep only the
    // canonical member of each exact-dup group, gate on token count
    // and stopword ratio — integer-arithmetic thresholds (n_stop*20 >=
    // n_tok i.e. ratio >= 0.05) so the filter is bit-exact across
    // engines — and account the kept corpus per language.
    "q50_curation" -> ((s, d) => {
      val base = docs(s, d)
      val stats = base
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("w").isin(TextFunctions.defaultStopwords.take(6): _*), 1)
            .otherwise(0)).as("n_stop"))
      val canon = base
        .withColumn("keep", col("doc_id") ===
          min("doc_id").over(Window.partitionBy(md5(col("text").cast("binary")))))
      canon.where(col("keep")).join(stats, "doc_id")
        .where(col("n_tok") >= 5 && col("n_stop") * 20 >= col("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("lang")
    }),

    // Duplicate-GROUP resolution (LLM op): connected components over
    // the exact Jaccard pairs — comp_id is the canonical (min) doc id
    // per duplicate cluster, the thing a dedup pipeline actually keeps.
    // Oracle recomputes components via a recursive transitive closure.
    // Pairs come from the SCALE path (MinHash-LSH candidates verified
    // with exact Jaccard — the composition a real pipeline runs), while
    // the oracle recomputes the exact all-pairs transitive closure; the
    // two pair sets are identical because the verify stage draws the
    // output boundary with the exact measure (q27's contract).
    "q49_dup_components" -> ((s, d) =>
      Dedup.components(Dedup.minHashVerifiedPairs(docs(s, d), "doc_id", "text", 3, 0.5))
        .groupBy("comp_id")
        .agg(count(lit(1)).as("n_docs"), sum("id").as("id_sum"))
        .orderBy("comp_id")),

    // Brute-force ANN top-5 for query vectors 0..4.
    "q26_ann_topk" -> ((s, d) =>
      Similarity.bruteTopK(emb(s, d), Seq(0L, 1L, 2L, 3L, 4L), 5, fast = false)
        .select(col("qid"), col("vec_id"), col("rank").as("rnk"), col("sim"))
        .orderBy("qid", "rnk")),

    // MinHash-LSH sketch→verify near-dups: LSH proposes candidates,
    // each is verified with the EXACT n-gram Jaccard — so the output is
    // q25's exact answer computed the scalable way (bucketed candidates
    // + per-pair verification, never a gram self-join), and shares its
    // DuckDB oracle. The candidate stage uses the recall-oriented 32×2
    // banding (P(miss) ≤ 1e-4 at s=0.5); verified exact-equal to q25
    // at sf0.001/0.01/0.1.
    "q27_minhash_neardup" -> ((s, d) =>
      Dedup.minHashVerifiedPairs(docs(s, d), "doc_id", "text", 3, 0.5)
        .orderBy("id1", "id2")),

    // SimHash near-dup candidates via banded chunks; the oracle
    // recomputes the FNV-1a/majority-vote sketch in SQL.
    "q28_simhash_neardup" -> ((s, d) =>
      Dedup.simHashPairs(docs(s, d), "doc_id", "text", 6)
        .orderBy("id1", "id2")),

    // Deterministic mod-sampling at scan (SequenceFileInputFilter).
    "q29_sample_mod" -> ((s, d) =>
      Sampling.modFilter(li(s, d), col("l_orderkey"), 10)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")),

    // External-process pipe (Hadoop Streaming): uppercase via tr, then
    // wordcount the piped output; the oracle applies upper() in SQL.
    "q30_pipe_wordcount" -> ((s, d) => {
      val piped = Pipe.pipeMap(docs(s, d).orderBy("doc_id"),
        Seq("tr", "a-z", "A-Z"), Seq(col("text")))
      piped.select(explode(split(col("line"), " ")).as("w"))
        .where(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(50)
    }),

    // Legacy-format round-trips: the migration-correctness claim made
    // executable. Write the table through the compat SINK, read it back
    // through the compat SOURCE, aggregate — the oracle aggregates the
    // parquet original directly, so any byte lost or shifted in either
    // direction breaks the hash.
    "q44_kvtext_roundtrip" -> ((s, d) => {
      val tmp = scratch("q44") + "/kv"
      graft.sources.CompatSources.kvTextWrite(
        docs(s, d).select(col("doc_id"), col("lang")), tmp)
      graft.sources.CompatSources.kvText(s, tmp)
        .groupBy(col("value"))
        .agg(count(lit(1)).as("n"), sum(col("key").cast("long")).as("id_sum"))
        .orderBy("value")
    }),

    "q45_seqfile_roundtrip" -> ((s, d) => {
      val tmp = scratch("q45") + "/seq"
      graft.sources.CompatSources.sequenceFileWrite(
        docs(s, d).select(col("doc_id"), col("lang")), tmp)
      graft.sources.CompatSources.sequenceFileText(s, tmp)
        .groupBy(col("value"))
        .agg(count(lit(1)).as("n"), sum(col("key").cast("long")).as("id_sum"))
        .orderBy("value")
    }),

    // Compressed-codec round-trip (FileOutputFormat
    // .setOutputCompressorClass + codec-transparent rescan): same
    // witness aggregation as q44, but the bytes cross a SPLITTABLE
    // bzip2-compressed text sink — codec chosen because at 100 TB a
    // gzip part is one split forever while bzip2 blocks re-split.
    "q48_codec_roundtrip" -> ((s, d) => {
      val tmp = scratch("q48") + "/kvbz2"
      graft.sources.CompatSources.kvTextWrite(
        docs(s, d).select(col("doc_id"), col("lang")), tmp, codec = Some("bzip2"))
      graft.sources.CompatSources.kvText(s, tmp)
        .groupBy(col("value"))
        .agg(count(lit(1)).as("n"), sum(col("key").cast("long")).as("id_sum"))
        .orderBy("value")
    }),

    // ROLLUP (grouping sets family — absent in the reference, declared
    // per SURVEY §2.5): subtotal rows are disambiguated by GROUPING()
    // markers, and group keys are coalesced to '' so the output carries
    // no NULLs (Spark and DuckDB default NULL sort order differs).
    "q46_rollup" -> ((s, d) =>
      li(s, d).rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"),
          round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("n"))
        .select(col("g_flag"), col("g_status"),
          coalesce(col("l_returnflag"), lit("")).as("flag"),
          coalesce(col("l_linestatus"), lit("")).as("status"),
          col("sum_qty"), col("n"))
        .orderBy("g_flag", "g_status", "flag", "status")),

    // Skew-salted two-phase aggregation: the declared witness that
    // saltedAgg EQUALS the plain GROUP BY (the oracle computes the
    // plain form). l_quantity is integer-valued, so the double sums are
    // exact and order-independent across the extra salt stage.
    "q47_salted_agg" -> ((s, d) =>
      graft.ops.Salting.saltedAgg(
          li(s, d).select(col("l_returnflag").as("k"), col("l_quantity").as("v")),
          "k", 16, sum(col("v")), "sv", c => sum(col(c)))
        .select(col("k"), round(col("sv"), 4).as("sum_qty"))
        .orderBy("k")),

    // Routed-output round-trip (MultipleTextOutputFormat layout): write
    // documents partitioned BY LANG, read the tree back, aggregate.
    // Any row routed to the wrong directory or lost in partition
    // discovery breaks the hash (partition values come back from
    // DIRECTORY NAMES, not data pages — that's what's being checked).
    "q51_routed_roundtrip" -> ((s, d) => {
      val tmp = scratch("q51") + "/bylang"
      graft.ops.Outputs.routedByColumn(
        docs(s, d).select(col("doc_id"), col("lang")), tmp, "lang")
      s.read.parquet(tmp)
        .groupBy(col("lang").cast("string").as("value"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy("value")
    }),

    // BPE-style token accounting (LLM op): per-doc pre-merge BPE token
    // count next to the whitespace count — the cost estimate a
    // training pipeline budgets corpora with. Same regex family in
    // both engines (pattern avoids lookahead for RE2 parity).
    "q56_bpe_tokens" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          TextFunctions.bpeTokenCount(col("text")).as("n_bpe"),
          TextFunctions.tokenCount(col("text")).as("n_ws"))
        .orderBy("doc_id")),

    // Deterministic exactly-N subset selection (LLM op): the 100
    // smallest md5(doc_id) — content-stable and uniform; plans as
    // distributed top-k, never a global sort.
    "q54_det_sample" -> ((s, d) =>
      Sampling.deterministicSample(
          docs(s, d).select(col("doc_id"), col("lang")), col("doc_id"), 100)
        .orderBy("doc_id")),

    // Sequence-length bucketing (LLM op): histogram of documents over
    // width-16 token-count buckets — the batch-packing statistic a
    // training pipeline uses to group similar-length sequences.
    // Integer-exact bucketing (floor over small exact doubles).
    "q55_length_buckets" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
        .withColumn("bucket", (floor(col("n_tok") / lit(16.0)) * 16).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tok_sum"))
        .orderBy("bucket")),

    // Typed Aggregator tier (ValueHistogram report as a custom
    // `Aggregator` + udaf — the combiner/reducer split expressed once):
    // moment-identity stddev must match the SQL engines' stddev_pop at
    // 4 decimals.
    "q63_typed_histogram" -> ((s, d) =>
      ev(s, d).groupBy("event_type")
        .agg(graft.agg.ValueHistogramAgg.histogram(col("value")).as("h"))
        .select(col("event_type"), col("h.count").as("n"),
          round(col("h.mean"), 4).as("mean_v"),
          round(col("h.stddev"), 4).as("stddev_v"),
          round(col("h.min"), 4).as("min_v"),
          round(col("h.max"), 4).as("max_v"))
        .orderBy("event_type")),

    // Fixed-length record round-trip (FixedLengthInputFormat): each
    // doc becomes a 17-byte record (10-digit zero-padded id + 6-byte
    // space-padded lang + the text writer's newline as byte 17), read
    // back through the constant-width binary scanner and re-parsed by
    // byte offset — the q44 witness aggregation proves no drift.
    "q59_fixedlen_roundtrip" -> ((s, d) => {
      val tmp = scratch("q59") + "/fix"
      docs(s, d).select(concat(
          lpad(col("doc_id").cast("string"), 10, "0"),
          rpad(col("lang"), 6, " ")).as("value"))
        .write.mode("overwrite").text(tmp)
      graft.sources.CompatSources.fixedLength(s, tmp, 17)
        .select(
          expr("substring(record, 1, 10)").cast("string").cast("long").as("key"),
          trim(expr("substring(record, 11, 6)").cast("string")).as("value"))
        .groupBy(col("value"))
        .agg(count(lit(1)).as("n"), sum(col("key")).as("id_sum"))
        .orderBy("value")
    }),

    // Heterogeneous union (MultipleInputs/DelegatingMapper): two
    // differently-shaped sources, each with its own projection mapper,
    // unioned into one frame and accounted per source tag.
    "q60_multi_inputs" -> ((s, d) =>
      graft.ops.MultipleInputs.union(Seq(
          docs(s, d) -> ((df: DataFrame) =>
            df.select(col("doc_id").as("id"), lit("doc").as("src"))),
          ord(s, d) -> ((df: DataFrame) =>
            df.select(col("o_orderkey").cast("long").as("id"), lit("order").as("src")))))
        .groupBy("src")
        .agg(count(lit(1)).as("n"), sum("id").as("id_sum"))
        .orderBy("src")),

    // HAR round-trip (HadoopArchives): parquet table archived into a
    // real version-3 HAR, then read IN PLACE through the har:// scheme
    // (seek-capable archive reads) — same witness as q44.
    "q61_har_roundtrip" -> ((s, d) => {
      val tmp = scratch("q61")
      docs(s, d).select(col("doc_id"), col("lang"))
        .coalesce(2).write.mode("overwrite").parquet(s"$tmp/src/docs.parquet")
      graft.ops.Har.archive(s, s"$tmp/src", s"$tmp/a.har")
      s.read.parquet(s"har://$tmp/a.har/docs.parquet")
        .groupBy(col("lang").as("value"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy("value")
    }),

    // Skip-mode bad records (SkipBadRecords): the per-row transform
    // throws on docs with < 6 tokens; the wrapper drops (and counts)
    // exactly those rows instead of failing the job — the oracle keeps
    // the rows whose 6th token exists.
    "q62_skip_bad" -> ((s, d) => {
      implicit val enc = org.apache.spark.sql.Encoders.product[(Long, String)]
      val (ds, _) = graft.ops.SkipBadRecords.mapSkipBad(
        docs(s, d).select(col("doc_id"), col("text")),
        // -1 limit keeps trailing empty tokens — STRING_SPLIT parity
        r => (r.getLong(0), r.getString(1).split(" ", -1)(5)))
      ds.toDF("doc_id", "w6").orderBy("doc_id")
    }),

    // XML element-record round-trip (StreamXmlRecordReader): wrap each
    // document in <doc id="...">...</doc>, write as text, re-read with
    // the SPLIT-STREAMABLE XML reader (delimiter-based — one chunk per
    // element even inside a single large file). Record length is the
    // witness that every element came back byte-complete.
    "q57_xml_roundtrip" -> ((s, d) => {
      val tmp = scratch("q57") + "/docs"
      docs(s, d).select(concat(lit("<doc id=\""), col("doc_id"), lit("\">"),
          col("text"), lit("</doc>")).as("value"))
        .write.mode("overwrite").text(tmp)
      graft.sources.CompatSources.xmlRecordsStreamed(s, tmp, "doc")
        .select(
          regexp_extract(col("record"), "id=\"(\\d+)\"", 1).cast("long").as("doc_id"),
          length(col("record")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // JDBC round-trip (DBOutputFormat → DataDrivenDBInputFormat): the
    // table crosses an embedded Derby database and comes back through
    // the min/max-range partitioned reader; the oracle aggregates the
    // parquet original. The database lives ON DISK under the scratch
    // root (an in-memory URL only works because local mode shares one
    // JVM — each executor of a real cluster would boot a fresh empty
    // db). Embedded Derby is still single-host; a real deployment
    // points this harness at a network JDBC URL, which is the only
    // line that changes.
    "q58_jdbc_roundtrip" -> ((s, d) => {
      val url = s"jdbc:derby:${scratch("q58", wipe = false)}/db;create=true"
      graft.sources.Jdbc.write(nat(s, d),
        url, "nation_rt", org.apache.spark.sql.SaveMode.Overwrite)
      graft.sources.Jdbc.readPartitioned(s, url, "nation_rt", "n_nationkey", 4)
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name"),
          col("n_regionkey").cast("long").as("rk"))
        .orderBy("nk")
    }),

    // Bucketed merge join — the CompositeInputFormat contract (both
    // inputs identically partitioned + sorted on disk) as an ORACLE
    // row, not just a plan assertion: the join itself plans with no
    // Exchange on the bucket key (asserted in PlanSpec/BucketingSpec);
    // only the downstream per-customer aggregate shuffles.
    "q53_bucketed_join" -> ((s, d) => {
      graft.ops.Bucketing.writeBucketed(
        ord(s, d).select(col("o_orderkey"), col("o_custkey")),
        "q53_orders_b", 8, "o_orderkey")
      graft.ops.Bucketing.writeBucketed(
        li(s, d).select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
        "q53_lineitem_b", 8, "o_orderkey")
      graft.ops.Bucketing.bucketedJoin(s, "q53_orders_b", "q53_lineitem_b", "o_orderkey")
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy("o_custkey")
    }),

    // Output-granularity round-trip (TeraOutputFormat/NLine posture):
    // write documents as MANY SMALL FILES (maxRecordsPerFile=25 → ~20
    // parts at sf0.01), then read the splinters back through the
    // bin-packing scan. The oracle proves no record is lost or doubled
    // across the file-count blowup and re-pack.
    "q52_smallfiles_roundtrip" -> ((s, d) => {
      val tmp = scratch("q52") + "/shards"
      graft.ops.Outputs.withMaxRecordsPerFile(
        docs(s, d).select(col("doc_id"), col("lang")), tmp, 25)
      s.read.parquet(tmp)
        .groupBy(col("lang").as("value"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy("value")
    }),

    // KeyFieldBasedComparator: sort tab-delimited text lines by a
    // "-k2,2nr -k1,1n" spec (numeric desc on field 2, then numeric on
    // field 1 — a unique composite, so the line ORDER is the check).
    "q43_keyfield_sort" -> ((s, d) =>
      graft.ops.KeyFieldSort.sorted(
        li(s, d).select(concat_ws("\t",
          col("l_orderkey"), col("l_linenumber"),
          // bigint: double→string renders differently across engines
          col("l_quantity").cast("long")).as("line")),
        "line", "-k2,2nr -k1,1n")),

    // WordMean/WordMedian/WordStandardDeviation in one pass (three
    // separate jobs in the reference) — the percentile/stddev pair is
    // the part worth oracle-checking cross-engine.
    "q42_word_stats" -> ((s, d) =>
      graft.jobs.Jobs.wordStats(docs(s, d), col("text"))),

    // Int8-quantized ANN (LLM-pipeline op): corpus scanned as packed
    // 1-byte/element blobs, integer cosine (per-vector scales cancel).
    // The oracle recomputes the same quantization in DuckDB —
    // FLOOR(x+0.5) there vs JVM Math.round here, since DuckDB round()
    // is half-away-from-zero. (Not bit-equivalent for inputs one ulp
    // below 0.5 — Math.round special-cases 0.49999999999999994 —
    // but reachable only if x/scale lands exactly there.)
    "q41_ann_int8" -> ((s, d) =>
      Similarity.bruteTopKQuantized(emb(s, d), Seq(0L, 1L, 2L, 3L, 4L), 5)
        .select(col("qid"), col("vec_id"), col("rank").as("rnk"), col("sim"))
        .orderBy("qid", "rnk")),

    // Deterministic train/val/test split (LLM-pipeline op): md5-bucket
    // assignment is content-stable, so the oracle recomputes the same
    // buckets in DuckDB and the per-split membership must agree
    // exactly (id_sum is the witness, not just counts).
    "q40_hash_split" -> ((s, d) =>
      Sampling.hashSplit(docs(s, d), col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
        .orderBy("split")),

    // Binary typed-bytes pipe (hadoop-streaming `-io typedbytes`):
    // rows cross a forked child as tag-length-value VECTOR records and
    // come back bit-identical — the md5 over the round-tripped text is
    // the oracle's proof the binary framing preserved every byte
    // (tabs/newlines included, which the line pipes can't carry).
    "q39_typedbytes_pipe" -> ((s, d) => {
      val in = docs(s, d).select(col("doc_id"), col("text"))
      val rt = Pipe.pipeTypedBytes(in, Seq("cat"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      rt.select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // LSH-bucketed ANN (scale path); the oracle inlines the seeded
    // plane family as SQL literals. 4 planes fits this corpus size;
    // at 100 TB the knob goes up.
    "q31_ann_lsh" -> ((s, d) =>
      Similarity.lshTopK(emb(s, d), Seq(0L, 1L, 2L, 3L, 4L), 5, 64, nPlanes = 4)
        .select(col("qid"), col("vec_id"), col("rank").as("rnk"), col("sim"))
        .orderBy("qid", "rnk")),

    // Embedding-cosine near-dup pairs, blocked by label (LLM op).
    "q32_embed_neardup" -> ((s, d) =>
      Similarity.cosineNearDups(emb(s, d), "label", 0.35)
        .orderBy("id1", "id2")),

    // Embedding near-dup blocked by hyperplane LSH bucket — the
    // scale-safe sibling of q32 (no trusted block key; occupancy
    // ~ corpus/2^planes; multi-probe covers single-bit splits). The
    // oracle recomputes the same seeded plane family, buckets, probes
    // and cosine in DuckDB (planes inlined as SQL literals), so the
    // whole pipeline — bucketing, probing, pair join, verification —
    // is checked cross-engine.
    "q37_embed_neardup_lsh" -> ((s, d) =>
      Similarity.cosineNearDupsLsh(emb(s, d), 64, 0.35)
        .orderBy("id1", "id2")),

    // IVF ANN in its exhaustive-probe configuration (nProbe = k): the
    // full pipeline runs — Lloyd centroid build, posting-list
    // assignment, probe join, exact rank — and probing every list makes
    // the result the exact top-k, so it shares q26's DuckDB oracle.
    // The recall<1 configuration (nProbe=3) is pinned by IvfSpec.
    "q34_ann_ivf" -> ((s, d) => {
      val e = emb(s, d)
      val centroids = graft.llm.Ivf.buildCentroids(e, 8, 2)
      graft.llm.Ivf.topK(e, Seq(0L, 1L, 2L, 3L, 4L), 5, centroids, 8)
        .select(col("qid"), col("vec_id"), col("rank").as("rnk"), col("sim"))
        .orderBy("qid", "rnk")
    }),

    // As-of join (operator gap in both reference and Spark, composed
    // via ops.TemporalJoins): latest signup at or before each purchase.
    "q35_asof_join" -> ((s, d) => {
      val e = ev(s, d)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val signups = e.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("sts"), col("event_id").as("signup_id"))
      graft.ops.TemporalJoins.asOf(purchases, signups, "user_id", "ts", "sts",
          Map("signup_id" -> "signup_id"))
        .select(col("user_id"), col("event_id"), col("signup_id"))
        .orderBy("event_id")
    }),

    // Interval join (ops.TemporalJoins): events inside each user's
    // first-3-days window, via bucketized equi-join + exact filter.
    "q36_interval_join" -> ((s, d) => {
      val e = ev(s, d)
      val iv = e.groupBy("user_id")
        .agg(min(col("ts")).as("start_ts"))
        .withColumn("end_ts", col("start_ts") + expr("INTERVAL 3 DAYS"))
      graft.ops.TemporalJoins.intervalJoin(
          e.select(col("user_id"), col("ts"), col("event_id")), iv,
          "user_id", "ts", "start_ts", "end_ts",
          graft.ops.TemporalJoins.secondsBucket(86400))
        .select(col("user_id"), col("event_id"))
        .orderBy("event_id")
    }),

    // Reduce-side tagged join (hadoop-datajoin): tag each source, one
    // shuffle on the key, per-key cross product through the theta
    // `combine` — here the inner-join combine, so the output equals the
    // SQL inner join and shares its oracle. The cap is lifted because
    // the oracle demands exact multiplicities.
    "q38_datajoin" -> ((s, d) => {
      import s.implicits._
      val o = ord(s, d).select(col("o_custkey").as("key"), col("o_orderkey"))
      val c = cust(s, d).select(col("c_custkey").as("key"), col("c_name"))
      val tagged = graft.ops.DataJoin.taggedLines(Seq(("C", c), ("O", o)), "key")
      graft.ops.DataJoin.taggedJoin(tagged, maxValuesPerKey = Long.MaxValue)(
          graft.ops.DataJoin.innerCombine(2))
        .toDF("line")
        .select(
          split(col("line"), "\t").getItem(0).cast("long").as("custkey"),
          split(col("line"), "\t").getItem(1).as("c_name"),
          split(col("line"), "\t").getItem(2).cast("long").as("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // Multimodal media inspection over documents treated as binary
    // payloads: byte length, MD5, magic-number format sniff and
    // header-parsed dimensions via the REAL per-partition batched
    // kernel (PNG/JPEG/GIF headers are parsed from actual bytes; text
    // payloads sniff to 'unknown' with null dims — pinned by the
    // DuckDB oracle; real image bytes are pinned by MultimodalHeaderSpec).
    "q33_multimodal_features" -> ((s, d) => {
      val media = graft.sources.Multimodal.asMedia(docs(s, d), "doc_id", "text", "image")
      graft.sources.Multimodal.describeMedia(media)
        .select(col("media_id"), col("n_bytes"), col("payload_md5"),
          coalesce(col("format"), lit("unknown")).as("format"),
          col("width"), col("height"))
        .orderBy("media_id")
    }),

    // Gopher-style repetition quality signals (single scan, tagged
    // explode, two partial-agg shuffles). The corpus text is
    // single-line, so the query feeds a word-per-line view (space ->
    // newline) to exercise the line family; the n-gram families split
    // on \s+ and see the same tokens either way.
    "q64_repetition" -> ((s, d) =>
      graft.llm.Repetition.signals(
        docs(s, d).select(col("doc_id"),
          translate(col("text"), " ", "\n").as("text")),
        "doc_id", "text")
        .select(col("doc_id"), col("n_lines"),
          round(col("dup_line_frac"), 4).as("dup_line_frac"),
          round(col("dup_line_char_frac"), 4).as("dup_line_char_frac"),
          round(col("top_ngram_char_frac"), 4).as("top_ngram_char_frac"),
          round(col("dup_ngram_char_frac"), 4).as("dup_ngram_char_frac"))
        .orderBy("doc_id")),

    // Token-budget sequence packing: two-phase distributed prefix sum
    // (range partitions + per-partition totals + seeded second pass),
    // never a single-partition window. Budget 256 packs a few docs
    // per batch at this corpus' 10-100 token documents.
    "q65_seq_packing" -> ((s, d) =>
      graft.llm.Packing.packSequences(
        docs(s, d).select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", budget = 256)
        .orderBy("doc_id")),

    // Token-window chunking (map-only explode): 32-token windows
    // stepping by 24 (8-token overlap) over ~54-token documents give
    // 2-3 chunks per doc; the md5 witnesses the exact window text.
    "q66_chunking" -> ((s, d) =>
      graft.llm.Chunking.chunkTokens(docs(s, d), "doc_id", "text",
        maxTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("n_tok"),
          md5(col("chunk").cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // PII redaction (map-only regexp scan). The corpus is synthetic
    // word soup with no PII, so the query plants one deterministic
    // email/IP/phone per document and verifies the scrub; the oracle
    // interpolates the SAME pattern constants (RE2-safe by design).
    "q67_pii_redaction" -> ((s, d) => {
      val t = concat(col("text"), lit(" user"), col("doc_id").cast("string"),
        lit("@example.com 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 call +1 555 0199 now"))
      val r = graft.functions.TextFunctions.redactPii(t)
      docs(s, d).select(col("doc_id"),
          md5(r.cast("binary")).as("scrub_md5"),
          (length(t) - length(r)).cast("long").as("shrink"))
        .orderBy("doc_id")
    }),

    // Curation pipeline v2 — the chunk/pack generation of q50: an
    // integer-exact repetition gate (raw counts, no double rounding),
    // canonical-dup keep, token-window chunking, and budget packing,
    // composed as one verified walk. Every stage is individually
    // oracled (q64/q19/q66/q65); this pins their composition.
    "q68_curation_v2" -> ((s, d) => {
      val base = docs(s, d)
      val stats = graft.llm.Repetition.stats(base, "doc_id", "text")
        .select(col("doc_id"), col("chars"), col("dup_gram_chars"))
      val kept = base.join(stats, Seq("doc_id"))
        .where(col("dup_gram_chars") * 10 < col("chars") * 3 &&
          graft.functions.TextFunctions.tokenCount(col("text")) >= 20)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text").cast("binary")))
      val canon = kept
        .withColumn("__keep", col("doc_id") === min("doc_id").over(w))
        .where(col("__keep")).select("doc_id", "text")
      val chunks = graft.llm.Chunking.chunkTokens(canon, "doc_id", "text",
        maxTokens = 32, overlap = 8)
      // chunk_id < 64 at any document length this corpus can reach,
      // so the combined key keeps (doc, chunk) order globally
      val seqd = chunks.withColumn("seq", col("doc_id") * 64 + col("chunk_id"))
      graft.llm.Packing.packSequences(seqd, "seq", "n_tok", budget = 256)
        .select(col("doc_id"), col("chunk_id"), col("n_tok"), col("pack_id"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Train/eval decontamination: every tenth document plays the eval
    // corpus; its distinct 3-grams broadcast against the train scan.
    // Every train doc comes back with its overlap count (clean = 0).
    "q69_decontamination" -> ((s, d) => {
      val all = docs(s, d)
      graft.llm.Decontamination.overlapFlags(
        all.where(col("doc_id") % 10 =!= 0),
        all.where(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),

    // Winnowing rolling-hash fingerprints (k=8 chars, w=4 window):
    // count + md5 of the sorted fingerprint set; the oracle
    // recomputes the base-263 polynomial per position in SQL.
    "q70_winnow_fp" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
          graft.functions.TextFunctions.rollingFingerprints(col("text")).as("f"))
        .select(col("doc_id"), size(col("f")).cast("long").as("n_fp"),
          md5(concat_ws(",", transform(col("f"), x => x.cast("string")))
            .cast("binary")).as("fp_md5"))
        .orderBy("doc_id")),

    // Substring-level near-dup pairs over the winnow fingerprints.
    // minShared = 40 is calibrated to this corpus' heavy word reuse
    // (p99 of shared-fp counts ≈ 26); real corpora sit far lower.
    "q71_winnow_pairs" -> ((s, d) =>
      graft.llm.Dedup.winnowPairs(docs(s, d), "doc_id", "text", minShared = 40)
        .orderBy("id1", "id2")),

    // NLineInputFormat round-trip: docs out as k\tv text, back in
    // through the listing-sized N-lines reader (no counting pass),
    // re-parsed and hash-witnessed. Granularity itself is pinned in
    // CompatSourcesSpec; this row pins CONTENT through the format.
    "q72_nline_roundtrip" -> ((s, d) => {
      val tmp = scratch("q72") + "/nline"
      graft.sources.CompatSources.kvTextWrite(
        docs(s, d).select(col("doc_id"), col("text")), tmp)
      graft.sources.CompatSources.textNLines(s, tmp, linesPerPartition = 50)
        .select(split(col("value"), "\t").as("kv"))
        .select(col("kv").getItem(0).cast("long").as("doc_id"),
          md5(col("kv").getItem(1).cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // MultipleOutputs: one cached pass, two named sinks, re-read and
    // reconciled — no row lost, duplicated, or cross-routed.
    "q73_side_outputs" -> ((s, d) => {
      val base = scratch("q73")
      graft.ops.Outputs.sideOutputs(docs(s, d), Map(
        "long" -> (df => df.where(col("n_chars") >= 300).select("doc_id", "n_chars")),
        "short" -> (df => df.where(col("n_chars") < 300).select("doc_id", "n_chars"))),
        base)
      val l = s.read.parquet(s"$base/long").withColumn("side", lit("long"))
      val sh = s.read.parquet(s"$base/short").withColumn("side", lit("short"))
      l.union(sh).groupBy("side")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sum_chars"))
        .orderBy("side")
    }),

    // ChainMapper: three chained links fuse into one plan (codegen
    // span asserted in ChainSpec); values must equal the composed SQL.
    "q74_chain" -> ((s, d) =>
      graft.ops.Chain(li(s, d))(
        _.where(col("l_quantity") >= 45),
        _.select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("net")),
        _.where(col("net") > 50000))
        .orderBy("l_orderkey", "l_linenumber")),

    // MapFile getEntry: point lookup with the equality predicate
    // pushed into the scan (plan-asserted in PlanSpec).
    "q75_point_lookup" -> ((s, d) =>
      graft.ops.Lookup.pointLookup(li(s, d), col("l_orderkey"), 1L)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_linenumber")),

    // Small-file compaction round-trip: splinter documents into ~20
    // shards, compact to byte-sized few files, re-read — the witness
    // proves no record lost or doubled through splinter + compact.
    "q76_compaction" -> ((s, d) => {
      val base = scratch("q76")
      docs(s, d).select(col("doc_id"), col("text"))
        .write.option("maxRecordsPerFile", 25).parquet(s"$base/shards")
      graft.ops.Compaction.compactParquet(s, s"$base/shards", s"$base/packed")
      s.read.parquet(s"$base/packed")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // DistCp round-trip as an oracle row: copy the parquet tree
    // file-by-file (listing + balanced tasks + atomic renames), then
    // read the COPY — identity witnesses byte-faithful transport.
    "q77_distcp_roundtrip" -> ((s, d) => {
      val base = scratch("q77")
      graft.ops.DistCp.copy(s, s"$d/documents.parquet", s"$base/copy")
      s.read.parquet(s"$base/copy")
        .select(col("doc_id"), col("n_chars"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // SemDeDup-style semantic dedup: LSH-bucketed cosine near-dup
    // pairs (the q37 pipeline) resolved into duplicate groups (the
    // q49 components), summarized per semantic component — keep
    // comp_id (the min id) and this is the prune list.
    "q78_semantic_dedup" -> ((s, d) =>
      graft.llm.Dedup.components(
        Similarity.cosineNearDupsLsh(emb(s, d), 64, 0.35))
        .groupBy("comp_id")
        .agg(count(lit(1)).as("n_vecs"), sum("id").as("id_sum"))
        .orderBy("comp_id")),

    // q49's pair set resolved by the OTHER algorithm — the
    // large-star/small-star alternation (the chain-graph escape
    // hatch). Same oracle values: two independent implementations and
    // a recursive SQL closure must all agree on the groups.
    "q79_components_star" -> ((s, d) =>
      Dedup.componentsStar(Dedup.minHashVerifiedPairs(docs(s, d), "doc_id", "text", 3, 0.5))
        .groupBy("comp_id")
        .agg(count(lit(1)).as("n_docs"), sum("id").as("id_sum"))
        .orderBy("comp_id")),

    // ORC round-trip: the OTHER Hadoop-era columnar format (Hive
    // warehouses ship ORC as often as parquet). Native Spark source —
    // write, read back, hash-witness every record.
    "q80_orc_roundtrip" -> ((s, d) => {
      val tmp = scratch("q80") + "/orc"
      docs(s, d).select(col("doc_id"), col("lang"), col("text"))
        .write.orc(tmp)
      s.read.orc(tmp)
        .select(col("doc_id"), col("lang"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // Avro container round-trip (avro-mapred, the pre-columnar
    // MapReduce interchange format): flat schema derived from the
    // frame, records read back via their JSON encoding + from_json.
    "q81_avro_roundtrip" -> ((s, d) => {
      val tmp = scratch("q81") + "/avro"
      graft.sources.CompatSources.avroWriteFlat(
        docs(s, d).select(col("doc_id"), col("lang"), col("text")), tmp)
      graft.sources.CompatSources.avroJson(s, tmp)
        .select(from_json(col("record"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id long, lang string, text string")).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
          md5(col("r.text").cast("binary")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // Q82 — NESTED Avro round-trip (§1.3): struct + array columns
    // written to the container format and read back TYPED via the
    // schema sniffed from the file header (avroStructs) — the
    // spark-avro-style surface for the one-level-nested legacy data
    // avro-mapred pipelines actually carry, vs q81's stringly
    // from_json path that needs a caller-supplied schema.
    "q82_avro_nested" -> ((s, d) => {
      val tmp = scratch("q82") + "/avro"
      graft.sources.CompatSources.avroWriteNested(
        docs(s, d).select(col("doc_id"),
          struct(col("lang"), length(col("text")).cast("long").as("chars")).as("meta"),
          split(col("text"), " ").as("toks")), tmp)
      graft.sources.CompatSources.avroStructs(s, tmp)
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.chars").as("chars"),
          size(col("toks")).cast("long").as("n_tok"),
          md5(concat_ws(" ", col("toks")).cast("binary")).as("toks_md5"))
        .orderBy("doc_id")
    }),

    // Q83 — JDBC round-trip split on a TEXT column (§2.1 DBInputFormat
    // family): the reference's TextSplitter capability. customer goes
    // into Derby keyed by c_name (VARCHAR), and the read back is
    // range-partitioned on that string key via per-partition WHERE
    // predicates (Spark's own partitionColumn is numeric/date-only).
    // JdbcSpec asserts the read actually lands in >1 partition.
    "q83_jdbc_text_split" -> ((s, d) => {
      val url = s"jdbc:derby:${scratch("q83", wipe = false)}/db;create=true"
      // VARCHAR, not Spark's default CLOB mapping: the split column
      // must support comparisons (the scenario is a VARCHAR key)
      val wprops = new java.util.Properties
      wprops.setProperty("createTableColumnTypes",
        "c_name VARCHAR(32), c_mktsegment VARCHAR(16)")
      graft.sources.Jdbc.write(
        cust(s, d).select(col("c_name"), col("c_custkey"), col("c_mktsegment")),
        url, "customer_rt", org.apache.spark.sql.SaveMode.Overwrite, wprops)
      graft.sources.Jdbc.readPartitionedText(s, url, "customer_rt", "c_name", 4)
        .select(col("c_name"), col("c_custkey").cast("long").as("ck"),
          col("c_mktsegment"))
        .orderBy("ck")
    }),

    // Q84 — stateful dedup, batch-checkable face (§2.10): keep the
    // event-time-earliest event per (user, type). This is the
    // deterministic replay semantics of the streaming
    // dropDuplicatesWithinWatermark surface (StatefulOps
    // .dedupWithinWatermark); stream/batch agreement is spec-pinned in
    // StatefulSpec, and the oracle re-derives the representative with
    // ROW_NUMBER — possible only because the kept row is the earliest,
    // not dropDuplicates' arbitrary one.
    "q84_stateful_dedup" -> ((s, d) =>
      graft.streaming.StatefulOps.dedupEarliestBatch(
        ev(s, d), Seq("user_id", "event_type"), "ts", tieCols = Seq("value"))
        .select(col("user_id"), col("event_type"), col("ts").as("first_ts"),
          round(col("value"), 4).as("v"))
        .orderBy("user_id", "event_type")),

    // Q85 — cross-document line dedup (RefinedWeb/C4 boilerplate
    // scrub): lines occurring in more than maxDf distinct documents
    // are removed from every document, survivors reassembled in
    // order. Word-soup fixture has no newlines, so words stand in as
    // lines (the q64 convention); at maxDf=250 the common soup
    // vocabulary is the "site chrome" being scrubbed.
    "q85_line_dedup" -> ((s, d) =>
      graft.llm.Dedup.lineDedup(docs(s, d), "doc_id", "text",
        maxDf = 250, sep = " ")
        .select(col("doc_id"), col("n_lines"),
          md5(col("text").cast("binary")).as("new_md5"))
        .orderBy("doc_id")),

    // Q86 — deterministic exact-proportion stratified sample: per
    // lang, the ceil(n/5) docs with smallest md5(doc_id) — class-
    // balanced subsetting that is reproducible across runs/engines
    // (sampleBy is seeded Bernoulli: expected-count only, and its
    // RNG does not reproduce in SQL).
    "q86_stratified_sample" -> ((s, d) =>
      graft.ops.Sampling.stratifiedExact(
        docs(s, d).select(col("doc_id"), col("lang")),
        "lang", col("doc_id"), num = 1, den = 5)
        .orderBy("doc_id")),

    // Q87 — per-group length quantiles (the sequence-length
    // distribution stats a packing/bucketing config is tuned from).
    // Exact `percentile` interpolates like DuckDB's quantile_cont
    // (the q42 median precedent), so the oracle is exact equality.
    // Exact percentile holds one group's values per aggregation
    // buffer — fine when groups ≪ rows (lang cardinality); the
    // 100 TB/any-cardinality path is percentile_approx (mergeable
    // t-digest partial agg, the `pNN~` ValueAggregator descriptor),
    // spec-pinned within tolerance of exact in AggSpec.
    "q87_length_quantiles" -> ((s, d) =>
      docs(s, d)
        .select(col("lang"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(expr("percentile(n_tok, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_tok, 0.9)"), 4).as("p90"))
        .orderBy("lang")),

    // Q88 — INCREMENTAL near-dup against a persisted sketch index:
    // "history" (doc_id % 5 != 0) is sketched once into a parquet
    // index; the "new batch" (doc_id % 5 == 0) is then deduped
    // against it WITHOUT re-reading history text — the ingest shape
    // at 100 TB, where re-sketching the corpus per batch is the
    // anti-pattern. Oracle recomputes the exact cross-pair Jaccard.
    "q88_incremental_neardup" -> ((s, d) => {
      val base = docs(s, d)
      val idxPath = scratch("q88") + "/sketch_index"
      graft.llm.Dedup.writeSketchIndex(
        base.where(col("doc_id") % 5 =!= 0), "doc_id", "text", 3, idxPath)
      graft.llm.Dedup.incrementalNearDups(
        base.where(col("doc_id") % 5 === 0), idxPath, "doc_id", "text", 3, 0.5)
        .orderBy("new_id", "hist_id")
    }),

    // Q89 — top-k per group (the grouped-argmax family beyond q09's
    // single argmax): top-2 events per event_type by value, unique
    // tiebreak on event_id so both engines rank identically. Plans as
    // rank-over-window inside each hash partition — no global sort.
    "q89_topk_per_group" -> ((s, d) =>
      graft.ops.TopK.perGroup(
        ev(s, d).select(col("event_type"), col("event_id"), col("user_id"), col("value")),
        Seq("event_type"), 2, col("value").desc, col("event_id"))
        .select(col("event_type"), col("event_id"), col("user_id"),
          round(col("value"), 4).as("v"), col("rank").cast("long").as("rnk"))
        .orderBy("event_type", "rnk")),

    // Q90 — temperature-balanced (α=1/2) multilingual sampling:
    // per-language quotas ∝ floor(sqrt(count)), membership by the
    // stratifiedExact rank rule. Integer quota math end to end (the
    // only float is IEEE-exact sqrt), so both engines pick the exact
    // same 116 of 500 documents.
    "q90_temperature_sample" -> ((s, d) =>
      graft.ops.Sampling.temperatureSample(
        docs(s, d).select(col("doc_id"), col("lang")),
        "lang", col("doc_id"), targetTotal = 120L)
        .orderBy("doc_id")),

    // Q91 — deterministic global shuffle + round-robin shard export:
    // position via the packing prefix scan (unit budget), never a
    // single-partition window.
    "q91_shuffle_shard" -> ((s, d) =>
      graft.llm.Shuffling.shard(
        docs(s, d).select(col("doc_id")), "doc_id", numShards = 8)
        .orderBy("doc_id")),

    // Q92 — corpus unigram rarity scoring: two-pass quality signal
    // (vocab agg, then score join). floor(log2(total/cnt)) computed
    // as binary-string length — integers until the final rounded avg.
    "q92_unigram_rarity" -> ((s, d) =>
      graft.llm.UnigramLM.raritySignals(
        docs(s, d).select(col("doc_id"), col("text")), "doc_id", "text")
        .orderBy("doc_id")),

    // Q93 — bloom-prefiltered decontamination: same exact answer
    // shape as q69 (different eval slice, doc_id % 7), but train
    // grams pass Spark's codegen'd BloomFilterMightContain before
    // any join — the false-positive sliver dies in the exact verify.
    "q93_bloom_decontam" -> ((s, d) => {
      val all = docs(s, d)
      graft.llm.Decontamination.overlapFlagsBloom(
        all.where(col("doc_id") % 7 =!= 0),
        all.where(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 3, expectedGrams = 1L << 16)
        .orderBy("doc_id")
    }),

    // Q94 — data-mixture epoch plan: integer ceil repeat factors from
    // relative source weights (src0 5×, src1 3×, rest 1×; T=1000),
    // replicas exploded map-side against a broadcast factor table.
    "q94_mix_epochs" -> ((s, d) =>
      graft.llm.Mixing.epochPlan(
        docs(s, d).select(col("doc_id"), col("source")),
        "source", Map("src0" -> 5L, "src1" -> 3L), targetTotal = 1000L)
        .orderBy("doc_id", "replica")),

    // Q95 — key-distribution skew report: top-20 heaviest event users
    // with integer ppm share and basis-points-of-mean — the diagnosis
    // that decides salting/AQE before a big join. Partial-agg groupBy
    // + top-k heap; no sort, no key-space collect.
    "q95_skew_report" -> ((s, d) =>
      graft.ops.Skew.report(ev(s, d).select(col("user_id")), "user_id", 20)
        .orderBy(desc("cnt"), col("user_id"))),

    // Q96 — heavy hitters, sketch-then-verify: Misra-Gries candidates
    // (treeAggregate, ≤k entries per summary) then an exact count
    // pass. The MG ≤ n/k undercount bound makes the final set exactly
    // {key | cnt·k > n} — sketch luck cannot change the answer.
    "q96_heavy_hitters" -> ((s, d) =>
      graft.ops.HeavyHitters.exactOverThreshold(
        ev(s, d).select(col("user_id")), "user_id", k = 130)
        .orderBy(desc("cnt"), col("user_id"))),

    // Q97 — staged funnel (view → click → purchase, each strictly
    // after the previous): conditional-MIN chain per user, planned as
    // hash aggs + left joins — no per-user event sort. Non-converting
    // users keep their stage-0 row.
    "q97_funnel" -> ((s, d) =>
      graft.ops.Funnels.funnel(ev(s, d), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
        .orderBy("user_id")),

    // Q98 — cohort retention triangle: cohort = first active day,
    // distinct users per (cohort, day offset). Whole-day integer
    // arithmetic; one groupBy-min + join + distinct count.
    "q98_retention" -> ((s, d) =>
      graft.ops.Funnels.retention(ev(s, d), "user_id", "ts")
        .orderBy("cohort", "day_offset")),

    // Q99 — semi-structured JSON property extraction (the events
    // table's props column): get_json_object is codegen'd per row, so
    // the parse rides the scan — no UDF, no shuffle before the agg.
    "q99_json_props" -> ((s, d) =>
      ev(s, d)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy(pmod(col("k"), lit(10L)).as("k_mod"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("value_sum"))
        .orderBy("k_mod")),

    // Q100 — pivot: per-user event-type counts widened to columns
    // (the reporting shape). Values are pinned explicitly — an
    // unpinned pivot adds a distinct-collect job and makes the output
    // schema data-dependent, which a declared query must not be.
    "q100_pivot" -> ((s, d) =>
      ev(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L) // absent (user, type) combos: 0, like the SQL CASE-SUM
        .orderBy("user_id")),

    // Q101 — unpivot (melt): the exact inverse, q100's wide frame
    // back to (user_id, event_type, cnt) long form — round-trip
    // pinned against the plain groupBy in both engines.
    "q101_unpivot" -> ((s, d) =>
      ev(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .unpivot(Array(col("user_id")), "event_type", "cnt")
        .orderBy("user_id", "event_type")),

    // Q102 — per-group NTILE quartiles (events per user by value):
    // partitioned window, never a global single-partition sort; the
    // (value, event_id) ordering makes tile edges engine-identical.
    "q102_ntile" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("value"), col("event_id"))
      ev(s, d)
        .select(col("user_id"), col("event_id"), round(col("value"), 4).as("v"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("user_id", "quartile", "event_id")
    }),

    // Q103 — user journey paths: the full ordered event-type sequence
    // per user as one string (path mining's input). Ordered collect is
    // array_sort over (ts, event_id, type) structs — deterministic
    // tiebreak, no window; per-group memory is bounded by the per-user
    // event count (the op's honest contract, like exact percentile).
    "q103_event_paths" -> ((s, d) =>
      ev(s, d)
        .groupBy(col("user_id"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
              x => x.getField("event_type")),
            ">").as("path"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")),

    // Q104 — running total per user (ROWS UNBOUNDED PRECEDING frame):
    // the cumulative-metric window surface. Rounded — both engines
    // sum the frame in the same (ts, event_id) order.
    "q104_running_total" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      ev(s, d)
        .select(col("user_id"), col("event_id"),
          round(sum(col("value")).over(w), 4).as("run_sum"))
        .orderBy("user_id", "event_id")
    }),

    // Q105 — inter-event gaps via LAG: microsecond-integer deltas
    // (unix_micros — no float time anywhere), null for each user's
    // first event.
    "q105_event_gaps" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      ev(s, d)
        .select(col("user_id"), col("event_id"),
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
        .orderBy("user_id", "event_id")
    }),

    // Q106 — statistical aggregates (stddev/variance/covar/corr per
    // event type, value vs the JSON k property): the second-moment
    // family beyond q05's sum/min/max. All rounded — both engines use
    // the same co-moment definitions on the same 2k-row groups.
    "q106_stats_aggs" -> ((s, d) =>
      ev(s, d)
        .select(col("event_type"), col("value"),
          get_json_object(col("props"), "$.k").cast("double").as("k"))
        .groupBy(col("event_type"))
        .agg(round(stddev_samp(col("value")), 4).as("sd_v"),
          round(var_samp(col("value")), 4).as("var_v"),
          round(covar_samp(col("value"), col("k")), 4).as("cov_vk"),
          round(corr(col("value"), col("k")), 4).as("corr_vk"))
        .orderBy("event_type")),

    // Q107 — percent_rank / cume_dist per user over value (unique
    // (value, event_id) ordering ⇒ engine-identical ranks); the
    // relative-standing window surface next to q102's ntile.
    "q107_percent_rank" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("value"), col("event_id"))
      ev(s, d)
        .select(col("user_id"), col("event_id"),
          round(percent_rank().over(w), 4).as("pr"),
          round(cume_dist().over(w), 4).as("cd"))
        .orderBy("user_id", "event_id")
    }),

    // Q110 — fuzzy name matching (record linkage): distinct part
    // names blocked on first char + length band, verified by
    // Levenshtein ≤ 3 — the blocking discipline that keeps edit
    // distance off the quadratic all-pairs path.
    "q110_fuzzy_names" -> ((s, d) =>
      graft.ops.FuzzyJoin.pairs(
        s.read.parquet(s"$d/part.parquet").select(col("p_name")),
        "p_name", maxDist = 3)
        .orderBy("n1", "n2")),

    // Q111 — curation v3, composing this round's primitives end to
    // end: length gate (pushdown predicate) → temperature-balanced
    // language sampling → deterministic shuffle-shard; the per
    // (shard, lang) counts prove the export interleaves languages
    // evenly. Integer logic at every stage, so the whole pipeline is
    // oracle-exact.
    "q111_curation_v3" -> ((s, d) => {
      val gated = docs(s, d).where(col("n_chars") >= 200)
        .select(col("doc_id"), col("lang"))
      val balanced = graft.ops.Sampling.temperatureSample(
        gated, "lang", col("doc_id"), targetTotal = 120L)
      graft.llm.Shuffling.shard(balanced, "doc_id", numShards = 4)
        .groupBy(col("shard"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy("shard", "lang")
    }),

    // Q112 — incremental EXACT-dedup ingest (q88's pattern for exact
    // content identity): the history's md5 set is the persisted
    // index; the new batch anti-joins it and only unseen content
    // survives. Within-batch duplicates are q19's job — this stage
    // answers only "have we EVER ingested this content".
    "q112_dedup_ingest" -> ((s, d) => {
      val all = docs(s, d)
      val index = all.where(col("doc_id") % 3 =!= 0)
        .select(md5(col("text").cast("binary")).as("h")).distinct()
      all.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
        .join(index, Seq("h"), "left_anti")
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),

    // Q109 — rolling 7-day active users: each (user, day) fans out to
    // the 7 target days it contributes to (map-only, bounded 7×) and
    // a count-distinct lands per day — never a range join, which
    // would compare every activity row against every spine day.
    "q109_rolling_wau" -> ((s, d) =>
      graft.ops.Funnels.rollingActive(ev(s, d), "user_id", "ts", windowDays = 7)
        .orderBy("day")),

    // Q108 — BPE-style pair counting (one tokenizer-training merge
    // round): adjacent character-pair frequencies weighted by word
    // frequency, top-20. Counting over the DISTINCT-word table, not
    // raw tokens, is the scale move — pair extraction runs once per
    // vocabulary word (10⁵–10⁷ rows) instead of once per corpus token
    // (10¹²). length-1 words are fenced BEFORE the transform: Spark's
    // sequence(1, 0) counts DOWN, it does not produce empty.
    "q108_bpe_pairs" -> ((s, d) =>
      docs(s, d)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .where(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .where(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"),
          col("c"))
        .groupBy(col("pair")).agg(sum(col("c")).as("freq"))
        .orderBy(desc("freq"), col("pair"))
        .limit(20)),

    // Q323 — unigram-LM tokenizer training round ([[graft.llm
    // .Unigram]]): the SentencePiece-family sibling of q108's BPE —
    // seed a candidate vocabulary from substring statistics (every
    // char + top-200 substrings of length 2–4 by count-weighted
    // frequency), then run one hard-EM round: the Viterbi E-step
    // segments every distinct word with the ORACLE-EXACT integer
    // objective (fewest pieces, then largest total piece frequency,
    // then lexicographically smallest sequence — the integer skeleton
    // of max-Σlog p; differential-pinned against brute-force
    // enumeration in UnigramSpec) and the M-step re-counts usage.
    // Scale: everything over the DISTINCT-WORD table weighted by
    // count (q108's lesson — vocabulary-sized, never corpus-token-
    // sized); the vocab is bounded (chars + 200) so it bakes into ONE
    // native expression — map-only E-step, one M-step shuffle.
    "q323_unigram_train" -> ((s, d) => {
      val words = docs(s, d)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .where(col("w") =!= "" && length(col("w")).between(2, 12))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val vocab = graft.llm.Unigram.seedVocab(words, "w", "c",
          maxPieceLen = 4, topK = 200, minFreq = 2L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      graft.llm.Unigram.usageCounts(words, "w", "c", vocab)
        .orderBy(desc("usage"), col("piece")).limit(100)
    }),

    // Q330 — unigram hard-EM round 2 with PRUNING (the loop q323
    // opens, closed): round 1's usage counts become the new piece
    // weights (the M-step re-estimation), the multi-char vocabulary
    // shrinks to the top-20 survivors by usage (SentencePiece's
    // prune step, made deterministic), single chars stay for
    // coverage at their re-estimated usage (0 when round 1 absorbed
    // them into bigger pieces), and the E-step re-segments under the
    // new weights. Both usage collections are vocabulary-bounded
    // (O(chars + topK) driver traffic — the broadcast class); each
    // round is one map-only E-step + one aggregation shuffle.
    "q330_unigram_em2" -> ((s, d) => {
      val words = docs(s, d)
        .select(explode(split(lower(col("text")), " ")).as("w"))
        .where(col("w") =!= "" && length(col("w")).between(2, 12))
        .groupBy("w").agg(count(lit(1)).as("c"))
      val vocab1 = graft.llm.Unigram.seedVocab(words, "w", "c",
          maxPieceLen = 4, topK = 200, minFreq = 2L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val usage1 = graft.llm.Unigram.usageCounts(words, "w", "c", vocab1)
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val chars2 = vocab1.filter(_._1.length == 1)
        .map { case (p, _) => (p, usage1.getOrElse(p, 0L)) }
      val multi2 = vocab1.filter(_._1.length >= 2)
        .flatMap { case (p, _) => usage1.get(p).map(u => (p, u)) }
        .sortBy { case (p, u) => (-u, p) }.take(20)
      graft.llm.Unigram.usageCounts(words, "w", "c", chars2 ++ multi2)
        .orderBy(desc("usage"), col("piece")).limit(100)
    }),

    // Q331 — subword-compression quality signal: the trained
    // tokenizer (q323) turned into a DOCUMENT filter — text that
    // segments into few pieces per character is built from corpus-
    // frequent subwords (natural language); gibberish resists
    // compression and lands near one piece per character. The
    // pieces/chars ratio in integer basis points is the exact-
    // arithmetic cousin of subword perplexity. Scale: segmentation
    // runs once per DISTINCT word; the corpus tokens join to that
    // vocabulary-sized table on the word key (broadcastable at any
    // corpus size) — never a per-token DP.
    "q331_subword_quality" -> ((s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .where(col("w") =!= "" && length(col("w")).between(2, 12))
      val words = toks.groupBy("w").agg(count(lit(1)).as("c"))
      val vocab = graft.llm.Unigram.seedVocab(words, "w", "c",
          maxPieceLen = 4, topK = 200, minFreq = 2L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val np = words.select(col("w"),
        size(graft.llm.Unigram.segment(col("w"), vocab)).cast("long").as("np"),
        length(col("w")).cast("long").as("len"))
      toks.join(broadcast(np), "w")
        .groupBy("doc_id")
        .agg(sum(col("np")).as("pieces"), sum(col("len")).as("chars"))
        .withColumn("compression_bp",
          expr("pieces * 10000 DIV chars"))
        .orderBy("doc_id")
    }),

    // Q325 — Z-order layout key ([[graft.functions.ZValue]]): the
    // multi-dimensional clustering primitive behind z-ordered table
    // layout — interleave the (bucketed) dimension bits so ONE sort
    // gives min/max data-skipping locality on EVERY dimension, where
    // a lexicographic sort bounds only its first column. At 100 TB
    // the layout move is `repartitionByRange(z) +
    // sortWithinPartitions(z)` at write time; this row proves the
    // key: grouped by the top 4 z bits, every bucket's min/max
    // RECTANGLE bounds both dimensions to a quarter of their range
    // (the data-skipping property), all in exact bit arithmetic the
    // oracle replays. Map-only key + one partial-agg rollup.
    "q325_zorder_layout" -> ((s, d) =>
      li(s, d)
        .select(pmod(col("l_partkey"), lit(32)).cast("long").as("p"),
          pmod(col("l_suppkey"), lit(32)).cast("long").as("sp"))
        .select(col("p"), col("sp"),
          graft.functions.ZValue(array(col("p"), col("sp")), 5).as("z"))
        .withColumn("zbucket", (col("z") / 64).cast("long"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n"),
          min(col("p")).as("min_p"), max(col("p")).as("max_p"),
          min(col("sp")).as("min_sp"), max(col("sp")).as("max_sp"),
          min(col("z")).as("min_z"), max(col("z")).as("max_z"))
        .orderBy("zbucket")),

    // Q113 — TF-IDF top-5 terms per document. One big shuffle (the
    // (doc, term) count); the document-frequency side is
    // vocabulary-sized and joins back on the term key; the corpus size
    // N is a single scalar (parquet-metadata count, not a data scan).
    // Ranking happens on the ROUNDED score so both engines select the
    // same rows (raw doubles could differ in the last ulp).
    "q113_tfidf" -> ((s, d) => {
      val n = docs(s, d).count()
      val tf = docs(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .where(col("w") =!= "")
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        // tf feeds the df table AND the score join (diamond-reuse lesson)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, "w")
        .select(col("doc_id"), col("w"),
          round(col("tf") * log((lit(n) + 1.0) / (col("df") + 1.0)), 4).as("tfidf"))
      val rk = row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(desc("tfidf"), col("w")))
      scored.withColumn("rk", rk).where(col("rk") <= 5)
        .orderBy("doc_id", "rk")
    }),

    // Q114 — inverted index (the canonical MapReduce job): term →
    // document-frequency + a CAPPED sorted posting list (first 20 doc
    // ids). The cap is the scale contract: full posting lists for
    // stop-words are unbounded per key; a capped index is what a
    // lookup service actually serves, and collect_list stays bounded.
    "q114_inverted_index" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .where(col("w") =!= "").distinct()
        .groupBy("w")
        .agg(count(lit(1)).as("n_docs"),
          array_join(slice(array_sort(collect_list(col("doc_id"))), 1, 20), ",")
            .as("postings"))
        .where(col("n_docs") >= 5)
        .orderBy("w").limit(300)),

    // Q116 — full CUBE with grouping_id (q46's rollup sibling):
    // grouping_id() INSIDE .agg (a later select would re-resolve it
    // against the output), group keys coalesced to '' so both
    // engines agree on the subtotal rows' sort position.
    "q116_cube" -> ((s, d) =>
      ord(s, d).cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          round(sum("o_totalprice"), 4).as("rev"))
        .select(coalesce(col("o_orderstatus"), lit("")).as("status"),
          coalesce(col("o_orderpriority"), lit("")).as("prio"),
          col("gid"), col("n"), col("rev"))
        .orderBy("gid", "status", "prio")),

    // Q117 — event-time RANGE frame: per-customer rolling 90-day
    // spend as ONE window pass (shuffle on o_custkey + in-partition
    // sort) — the scale-correct replacement for the self-join
    // (orders × orders within 90 days) that multiplies the fact
    // table by the window width. Peers at the same date are all in
    // frame, so intra-date ordering cannot change the sum. The frame
    // key is an integer DAY number (o_orderdate is date-grained;
    // TIMESTAMP_NTZ has no direct epoch cast), matching the oracle's
    // INTERVAL 90 DAY bound exactly.
    "q117_range_frame" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(datediff(col("o_orderdate"), lit("1995-01-01")))
        .rangeBetween(-90, 0)
      ord(s, d).select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          round(sum(col("o_totalprice")).over(w), 4).as("spend_90d"),
          count(lit(1)).over(w).as("n_90d"))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    // Q118 — PageRank over the part↔supplier bipartite graph (node
    // ids 2·part / 2·supp+1, edges both directions so no node
    // dangles), 3 fixed iterations @ damping 0.85 — fixed count
    // because the oracle unrolls the identical rounds in SQL. Ranked
    // on the ROUNDED score (float sum order differs between engines).
    "q118_pagerank" -> ((s, d) => {
      val pairs = li(s, d)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sp")).distinct()
      val edges = pairs.select((col("p") * 2).as("src"), (col("sp") * 2 + 1).as("dst"))
        .union(pairs.select(col("sp") * 2 + 1, col("p") * 2))
      val rk = graft.ops.PageRank.run(edges, "src", "dst", iterations = 3)
        .select(col("node"), round(col("rank"), 4).as("rank"))
      rk.orderBy(desc("rank"), col("node")).limit(50)
    }),

    // Q119 — distributed k-means (the IVF coarse-quantizer trainer,
    // q34's machinery) verified END-TO-END: 2 Lloyd rounds from
    // vec_id-ordered seeds (xxhash64 seeding is the production
    // default; the oracle can't replay xxhash64, and determinism is
    // what's under test), then the round-3 assignment summarized per
    // cluster. The oracle unrolls both rounds — argmax-by-cosine,
    // element-wise means, empty-cluster fallback — in SQL, so the
    // Lloyd loop itself is oracle-checked, not just its ANN effect.
    "q119_kmeans" -> ((s, d) => {
      val e = emb(s, d)
      val cents = graft.llm.Ivf.buildCentroids(e, 8, 2, seedOrder = col("vec_id"))
      graft.llm.Ivf.assign(e, cents)
        .select(col("cluster"), expr(
          "aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), 0D, (acc, x) -> acc + x)")
          .as("sv"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"), round(avg(col("sv")), 4).as("mean_sum"))
        .orderBy("cluster")
    }),

    // Q115 — word co-occurrence PMI over documents. The vocabulary is
    // FENCED to the top-100 terms before the per-doc self-join (the
    // same discipline as the dedup dfCap fences): pair blowup is then
    // ≤ C(100,2) per doc regardless of corpus size, and the vocab
    // side broadcasts. PMI ranks on the rounded score.
    "q115_pmi" -> ((s, d) => {
      val n = docs(s, d).count()
      // dw feeds the vocab AND the filtered postings; dv feeds both
      // self-join legs (diamond-reuse lesson)
      val dw = docs(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .where(col("w") =!= "").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val vocab = dw.groupBy("w").agg(count(lit(1)).as("cx"))
        .orderBy(desc("cx"), col("w")).limit(100)
      val dv = dw.join(broadcast(vocab), "w")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      dv.alias("a").join(dv.alias("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .groupBy(col("a.w").as("w1"), col("b.w").as("w2"),
          col("a.cx").as("cx1"), col("b.cx").as("cx2"))
        .agg(count(lit(1)).as("cxy"))
        .where(col("cxy") >= 10)
        .select(col("w1"), col("w2"), col("cxy"),
          round(log(col("cxy") * lit(n.toDouble) / (col("cx1") * col("cx2"))), 4)
            .as("pmi"))
        .orderBy(desc("pmi"), col("w1"), col("w2")).limit(30)
    }),

    // Q120 — time-series gap fill: per-user daily event counts with
    // an explicit zero for every silent day. The spine is a map-side
    // sequence() explode bounded by each user's own span — never a
    // calendar × users cross join, and never a driver-side date loop.
    "q120_gapfill" -> ((s, d) => {
      // daily feeds the spine bounds AND the left join (diamond-reuse)
      val daily = ev(s, d).where(col("user_id") < 40)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val spine = daily.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("user_id", "day")
    }),

    // Q121 — content-defined chunk dedup stats: cut every document at
    // rolling-hash boundaries ([[graft.functions.CdcCuts]], k=8,
    // mod 64), hash each chunk, report corpus-level chunk dedup. The
    // per-character scan is a fused native expression; chunks never
    // shuffle as text — only their md5s reach the aggregation.
    "q121_cdc_dedup" -> ((s, d) =>
      graft.core.Engine.widen(docs(s, d))
        .select(explode(TextFunctions.cdcChunkHashes(col("text"), 8, 64)).as("h"))
        .agg(count(lit(1)).as("total_chunks"),
          countDistinct(col("h")).as("uniq_chunks"))
        .select(col("total_chunks"), col("uniq_chunks"),
          round(lit(1.0) - col("uniq_chunks").cast("double") / col("total_chunks"), 4)
            .as("dup_ratio"))),

    // Q122 — triangle counting (node-iterator form) on the
    // co-purchase graph: parts sharing an order are edges (oriented
    // a < b, so each triangle is counted ONCE), then two hash joins
    // close the wedge. Edge fanout per order is C(items, 2) — bounded
    // by order size, not corpus size; the wedge join's profile is the
    // graph's degree distribution, the documented skew knob being the
    // same salting used everywhere else.
    "q122_triangles" -> ((s, d) => {
      val lp = li(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val e = lp.alias("x").join(lp.alias("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("a"), col("y.p").as("b")).distinct()
      e.alias("e1").join(e.alias("e2"), col("e1.b") === col("e2.a"))
        .join(e.alias("e3"),
          col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .agg(count(lit(1)).as("n_triangles"))
    }),

    // Q123 — z-order (Morton) key: the data-layout clustering curve,
    // computed purely from codegen'd bit built-ins (ops.ZOrder).
    // The declared query pins the interleave math; ZOrderSpec pins
    // the LAYOUT claim (clustered writes → tight per-file min/max on
    // BOTH dimensions, the file-skipping precondition).
    "q123_zorder" -> ((s, d) =>
      li(s, d).select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          graft.ops.ZOrder.zValue(col("l_partkey"), col("l_suppkey")).as("z"))
        .orderBy(desc("z"), col("l_orderkey"), col("l_linenumber")).limit(100)),

    // Q124 — salted skew JOIN (q47's join sibling): the hot-key
    // defense for a fact⋈dim join — fact side salted, dim side
    // replicated factor×, equality with the plain join proven by the
    // oracle. AQE skew-join handles this adaptively; the explicit
    // salt is the deterministic variant that also works pre-AQE and
    // under stats the planner can't see.
    "q124_salted_join" -> ((s, d) => {
      val dim = cust(s, d).select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      graft.ops.Salting.saltedJoin(ord(s, d), dim, "o_custkey", factor = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("rev"))
        .orderBy("c_mktsegment")
    }),

    // Q125 — Markov transition matrix over event streams: LAG pairs
    // each event with its predecessor (one window pass — never a
    // self-join on adjacent sequence numbers), probabilities
    // normalized per source state by a second, state-cardinality-sized
    // window.
    "q125_transitions" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = ev(s, d)
        .select(lag(col("event_type"), 1).over(w).as("prev"),
          col("event_type").as("cur"))
        .where(col("prev").isNotNull)
        .groupBy("prev", "cur").agg(count(lit(1)).as("n"))
      val tot = org.apache.spark.sql.expressions.Window.partitionBy(col("prev"))
      pairs.select(col("prev"), col("cur"), col("n"),
          round(col("n") / sum(col("n")).over(tot), 4).as("p"))
        .orderBy("prev", "cur")
    }),

    // Q126 — exact money aggregation: prices cast to DECIMAL at the
    // scan so every product and sum is EXACT integer-scaled
    // arithmetic, independent of partitioning or merge order (doubles
    // would differ in the last ulp by sum order alone). The per-cent
    // cast is unambiguous: the doubles sit within 1e-10 of their
    // cent value, far from any rounding tie. The OUTPUT is scale-4
    // integer units (BIGINT), not raw DecimalType: cross-engine
    // hashers render DECIMAL(38,4) inconsistently (trailing-zero /
    // decimal-vs-float normalization), so the hashed column is the
    // representation-stable integer while the decimal arithmetic —
    // the capability under test — stays in the plan (schema pinned
    // by DecimalPolicySpec).
    "q126_decimal_money" -> ((s, d) =>
      li(s, d)
        .select(col("l_returnflag"),
          (col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(3,2)") - col("l_discount").cast("decimal(3,2)")))
            .as("net"))
        .groupBy("l_returnflag")
        .agg((sum(col("net")) * lit(10000)).cast("long").as("revenue_e4"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // Q127 — conditional aggregation (SQL FILTER clause semantics):
    // one scan computing plain and predicate-gated aggregates side by
    // side — the idiom that replaces N filtered sub-queries (N scans)
    // with one pass.
    "q127_conditional_agg" -> ((s, d) =>
      ev(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n_all"),
          count(when(col("value") > 100, 1)).as("n_big"),
          round(sum(when(col("value") > 100, col("value"))), 4).as("sum_big"),
          countDistinct(when(dayofweek(col("ts")) === 1, col("user_id")))
            .as("sunday_users"))
        .orderBy("event_type")),

    // Q128 — BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed term
    // set: the search-scoring layer over q113's tf/df machinery. The
    // corpus-level scalars (N, avg doc length) stay IN the plan as
    // broadcast one-row frames — no driver collect — and the df side
    // is vocabulary-bounded. Ranking is on the rounded score.
    "q128_bm25" -> ((s, d) => {
      val qterms = Seq("table", "fast", "batch")
      // toks feeds lens and tf; lens feeds stats and the score join —
      // cached so the corpus scan+explode happens once (diamond-reuse
      // lesson)
      val toks = docs(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .where(col("w") =!= "")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("len"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val stats = lens.agg(avg(col("len")).as("avglen"))
        .crossJoin(docs(s, d).agg(count(lit(1)).as("n")))
      val tf = toks.where(col("w").isin(qterms: _*))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfq), "w").join(lens, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"),
          (log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
            col("tf") * (lit(1.2) + 1.0) /
            (col("tf") + lit(1.2) *
              (lit(1.0) - 0.75 + lit(0.75) * col("len") / col("avglen"))))
            .as("s"))
        .groupBy("doc_id").agg(round(sum(col("s")), 4).as("bm25"))
        .orderBy(desc("bm25"), col("doc_id")).limit(20)
    }),

    // Q129 — SCD2 dimension build: collapse each customer's order
    // stream into status-change intervals (valid_from/valid_to, open
    // row NULL). Both window passes share the o_custkey partitioning,
    // so the change detection and the interval close ride ONE
    // shuffle — plan-asserted.
    "q129_scd2" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val changes = ord(s, d)
        .select(col("o_custkey"), col("o_orderstatus").as("status"),
          col("o_orderdate").as("valid_from"), col("o_orderkey"),
          lag(col("o_orderstatus"), 1).over(w).as("prev"))
        .where(col("prev").isNull || col("prev") =!= col("status"))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("valid_from"), col("o_orderkey"))
      changes.select(col("o_custkey"), col("status"), col("valid_from"),
          col("o_orderkey"), lead(col("valid_from"), 1).over(w2).as("valid_to"))
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    }),

    // Q130 — inactivity-gap sessionization (30-min gap): the classic
    // clickstream operator. New-session flag via LAG, session id via
    // running SUM, then per-session stats. All three passes — the two
    // windows AND the (user_id, session_id) groupBy — ride the ONE
    // user_id shuffle: HashPartitioning(user_id) satisfies the
    // grouping's ClusteredDistribution because user_id is a subset of
    // the group keys. Plan-asserted.
    "q130_sessionize" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      val flagged = ev(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"),
          when(lag(col("ts"), 1).over(w).isNull ||
               unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w) > gapUs,
            1L).otherwise(0L).as("new_s"))
      flagged
        .select(col("user_id"), col("ts"), col("value"),
          sum(col("new_s")).over(w).as("session_id"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("dur_us"),
          round(sum(col("value")), 4).as("sum_value"))
        .orderBy("user_id", "session_id")
    }),

    // Q131 — market-basket pair counting: part pairs co-occurring in
    // the same order, with min-support 2 and a deterministic top-100.
    // The self-join is CO-PARTITIONED on l_orderkey (both legs shuffle
    // once on the key, then join locally) and the per-order fan-out is
    // bounded by items-per-order squared (≤ ~50 for TPC-H-shaped
    // data), so the pair explosion never quadratics on corpus size.
    // countDistinct absorbs duplicate part rows within an order.
    "q131_basket_pairs" -> ((s, d) => {
      val a = li(s, d).select(col("l_orderkey").as("ok"), col("l_partkey").as("p1"))
      val b = li(s, d).select(col("l_orderkey").as("ok"), col("l_partkey").as("p2"))
      a.join(b, Seq("ok"))
        .where(col("p1") < col("p2"))
        .groupBy("p1", "p2").agg(countDistinct(col("ok")).as("n_orders"))
        .where(col("n_orders") >= 2)
        .orderBy(desc("n_orders"), col("p1"), col("p2")).limit(100)
    }),

    // Q132 — per-group linear regression: revenue-vs-time trend per
    // nation via the regr_* second-moment family (slope, intercept,
    // r², count) — both engines implement the same covar/var
    // definitions, so ROUND(4) parity holds like q106's corr/covar.
    // x is DAYS since epoch (micros / 86400e6): slope in $/day is
    // O(1), so 4 decimals carry signal; in $/µs it would round to 0.
    "q132_regression" -> ((s, d) =>
      ord(s, d).join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          (unix_micros(col("o_orderdate").cast("timestamp")).cast("double")
            / 86400e6).as("x"),
          col("o_totalprice").as("y"))
        .groupBy("n_name")
        .agg(regr_count(col("y"), col("x")).as("n"),
          round(regr_slope(col("y"), col("x")), 4).as("slope"),
          round(regr_intercept(col("y"), col("x")), 4).as("icept"),
          round(regr_r2(col("y"), col("x")), 4).as("r2"))
        .orderBy("n_name")),

    // Q133 — token entropy + corpus KL divergence: per-doc Shannon
    // entropy of the unigram distribution and KL(doc ‖ corpus) — the
    // "unusual token mix" quality signal next to q92's rarity. The
    // corpus total rides a broadcast one-row frame; the vocab join is
    // a shuffle join (vocabulary is NOT assumed broadcastable at
    // 100 TB). `+ 0.0` normalizes IEEE -0.0 from -(p·log2 p) on
    // single-token docs so both engines hash +0.0.
    "q133_entropy_kl" -> ((s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .where(col("w") =!= "")
      // tf feeds the doc-length window, the corpus df AND the final
      // join: without the cache each branch re-scans + re-explodes the
      // corpus (4 scans observed). Released by the ContextCleaner.
      val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wdoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      val corpus = tf.groupBy("w").agg(sum(col("c")).as("cw"))
      val tot = corpus.agg(sum(col("cw")).as("tot"))
      tf.select(col("doc_id"), col("w"), col("c"), sum(col("c")).over(wdoc).as("n"))
        .join(corpus, "w").crossJoin(broadcast(tot))
        .select(col("doc_id"),
          (col("c").cast("double") / col("n")).as("p"),
          (col("cw").cast("double") / col("tot")).as("q"))
        .groupBy("doc_id")
        .agg(round(sum(-(col("p") * log2(col("p")))) + 0.0, 4).as("entropy"),
          round(sum(col("p") * log2(col("p") / col("q"))) + 0.0, 4).as("kl"))
        .orderBy("doc_id")
    }),

    // Q134 — largest-remainder money allocation: split each order's
    // total (in integer cents) across its lineitems proportional to
    // extended price, remainder cents to the largest fractional
    // shares. ALL-INTEGER arithmetic (base = t·w div Σw, fractional
    // rank = t·w mod Σw) so the per-order sum is exactly t and both
    // engines agree bit-for-bit — no double rounding at the floor
    // boundary. One o_orderkey shuffle carries the join and all three
    // window passes.
    "q134_allocation" -> ((s, d) => {
      val lic = li(s, d).select(col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"),
        round(col("l_extendedprice") * 100).cast("long").as("w"))
      val oc = ord(s, d).select(col("o_orderkey").as("ok"),
        round(col("o_totalprice") * 100).cast("long").as("t"))
      val wp = org.apache.spark.sql.expressions.Window.partitionBy(col("ok"))
      val wr = org.apache.spark.sql.expressions.Window
        .partitionBy(col("ok")).orderBy(desc("r"), col("ln"))
      lic.join(oc, "ok")
        .select(col("ok"), col("ln"), col("w"), col("t"),
          sum(col("w")).over(wp).as("wsum"))
        .select(col("ok"), col("ln"), col("t"),
          expr("(t * w) div wsum").as("base"),
          ((col("t") * col("w")) % col("wsum")).as("r"))
        .select(col("ok"), col("ln"), col("base"),
          (col("t") - sum(col("base")).over(wp)).as("rem"),
          row_number().over(wr).as("rn"))
        .select(col("ok"), col("ln"),
          (col("base") + when(col("rn") <= col("rem"), 1L).otherwise(0L))
            .as("alloc_cents"))
        // (ok, ln) is NOT unique in the fixture — alloc_cents joins the
        // total order so tied rows pair deterministically across engines
        .orderBy("ok", "ln", "alloc_cents")
    }),

    // Q135 — linear interpolation over the q120 gap-fill spine: daily
    // mean value per user, missing days interpolated between the
    // nearest observed anchors. The anchors come from IGNORE-NULLS
    // last/first over mirrored frames — both windows AND the spine
    // join share the user_id/day partitioning lineage, and because
    // the spine is bounded by each user's observed min/max day, the
    // anchors always exist (no edge-extrapolation case).
    "q135_interpolate" -> ((s, d) => {
      // daily mean via EXACT integer cents then one double division —
      // a float avg's summation order differs across engines and a
      // 1-ulp input difference can flip the final ROUND(4)
      val daily = ev(s, d).where(col("user_id") < 40)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg((sum(round(col("value") * 100).cast("long")).cast("double") /
          (lit(100.0) * count(lit(1)).cast("double"))).as("v"))
        // feeds the spine bounds AND the left join (diamond-reuse)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val spine = daily.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val joined = spine.join(daily, Seq("user_id", "day"), "left")
      val wPrev = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val wNext = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(0, org.apache.spark.sql.expressions.Window.unboundedFollowing)
      joined
        .select(col("user_id"), col("day"), col("v"),
          last(when(col("v").isNotNull, col("day")), ignoreNulls = true)
            .over(wPrev).as("pd"),
          last(when(col("v").isNotNull, col("v")), ignoreNulls = true)
            .over(wPrev).as("pv"),
          first(when(col("v").isNotNull, col("day")), ignoreNulls = true)
            .over(wNext).as("nd"),
          first(when(col("v").isNotNull, col("v")), ignoreNulls = true)
            .over(wNext).as("nv"))
        // NO final ROUND: midpoint interpolation of cent-exact values
        // lands on exact .5 boundaries where Spark (BigDecimal
        // HALF_UP) and DuckDB (float-multiply round) disagree by 1e-4.
        // Every input here is an exact integer in a double, and both
        // engines evaluate the same op order, so the raw result is
        // bit-identical — the 6-sig-fig compare needs no rounding.
        .select(col("user_id"), col("day"),
          when(col("v").isNotNull, col("v"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              datediff(col("day"), col("pd")).cast("double") /
              datediff(col("nd"), col("pd")).cast("double")).as("v_filled"))
        .orderBy("user_id", "day")
    }),

    // Q136 — CDC latest-wins compaction with tombstones (the
    // Hudi/Delta merge-on-read semantics): each event is an upsert
    // keyed by user_id, versioned by (ts, event_id); a user whose
    // LATEST event is an 'error' is tombstoned out. One user_id
    // shuffle carries the version window and the filter — a
    // deterministic QUALIFY-style merge, not a driver loop.
    "q136_cdc_compact" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(desc("ts"), desc("event_id"))
      ev(s, d)
        .select(col("user_id"), col("event_type"), col("value"), col("event_id"),
          row_number().over(w).as("rn"))
        .where(col("rn") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("event_type"),
          round(col("value"), 4).as("value"), col("event_id"))
        .orderBy("user_id")
    }),

    // Q137 — item-item cosine similarity from co-purchase counts (the
    // collaborative-filtering kernel): parts as vectors over
    // customers, cosine via a customer-blocked pair join. The fence
    // is IN the semantics: customers with > 100 distinct parts are
    // excluded BEFORE the pair fan-out (the q25-dfCap discipline), so
    // the per-block cost is capped at 100² regardless of corpus size.
    // All pair arithmetic is integer until the final sqrt.
    "q137_item_cosine" -> ((s, d) => {
      val cp = ord(s, d).join(li(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
        .agg(count(lit(1)).as("c"))
      val wck = org.apache.spark.sql.expressions.Window.partitionBy(col("ck"))
      // fenced feeds both pair legs AND the norms — cached so the
      // orders⨝lineitem aggregation runs once (diamond-reuse lesson)
      val fenced = cp.select(col("ck"), col("pk"), col("c"),
          count(lit(1)).over(wck).as("np"))
        .where(col("np") <= 100)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val a = fenced.select(col("ck"), col("pk").as("p1"), col("c").as("c1"))
      val b = fenced.select(col("ck"), col("pk").as("p2"), col("c").as("c2"))
      val dots = a.join(b, Seq("ck")).where(col("p1") < col("p2"))
        .groupBy("p1", "p2")
        .agg(sum(col("c1") * col("c2")).as("dot"), count(lit(1)).as("n_common"))
        .where(col("n_common") >= 3)
      val norms = fenced.groupBy(col("pk")).agg(sum(col("c") * col("c")).as("sq"))
      dots
        .join(norms.select(col("pk").as("p1"), col("sq").as("sq1")), "p1")
        .join(norms.select(col("pk").as("p2"), col("sq").as("sq2")), "p2")
        .select(col("p1"), col("p2"), col("n_common"),
          round(col("dot").cast("double") /
            sqrt(col("sq1").cast("double") * col("sq2").cast("double")), 4)
            .as("cos"))
        .orderBy(desc("cos"), col("p1"), col("p2")).limit(100)
    }),

    // Q138 — single-source BFS over the co-purchase part graph
    // ([[graft.ops.Bfs]]): minimal hop count from part 0 within 3
    // hops. Frontier join rounds with per-round checkpoint cuts and
    // early exit — the iterative-joins twin of q118's PageRank, with
    // a shrinking (visited-pruned) frontier. Oracle: WITH RECURSIVE
    // min-dist closure.
    "q138_bfs" -> ((s, d) => {
      val pairs = li(s, d).as("x").join(li(s, d).as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_partkey") < col("y.l_partkey"))
        .select(col("x.l_partkey").as("a"), col("y.l_partkey").as("b"))
      val edges = pairs.union(pairs.select(col("b"), col("a")))
      graft.ops.Bfs.run(edges, "a", "b", source = 0L, maxDepth = 3)
        .orderBy("dist", "node")
    }),

    // Q139 — equi-width histogram (20 global bins over o_totalprice)
    // per order priority: the profiling primitive. Global min/max ride
    // a broadcast one-row frame; the bin formula multiplies before
    // dividing — identical IEEE evaluation order in both engines — and
    // the max row is clamped into the last bin.
    "q139_histogram" -> ((s, d) => {
      val stats = ord(s, d).agg(min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
      ord(s, d).crossJoin(broadcast(stats))
        .select(col("o_orderpriority").as("prio"),
          least(floor((col("o_totalprice") - col("mn")) * 20.0 /
            (col("mx") - col("mn"))), lit(19L)).as("bin"))
        .groupBy("prio", "bin").agg(count(lit(1)).as("n"))
        .orderBy("prio", "bin")
    }),

    // Q140 — cohort retention matrix: users grouped by first-activity
    // WEEK (both engines truncate to ISO Monday), counted per
    // weeks-since-cohort offset. Two shuffles: user_id for the cohort
    // window, then (cohort, offset) for the matrix — the per-user
    // distinct week set never leaves its user partition before
    // aggregation.
    "q140_cohort_matrix" -> ((s, d) => {
      val wm = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      ev(s, d)
        .select(col("user_id"), trunc(to_date(col("ts")), "week").as("m"))
        .distinct()
        .select(col("user_id"), col("m"), min(col("m")).over(wm).as("cohort"))
        .select(col("cohort"),
          (datediff(col("m"), col("cohort")) / 7).cast("int").as("m_offset"))
        .groupBy("cohort", "m_offset").agg(count(lit(1)).as("n_users"))
        .orderBy("cohort", "m_offset")
    }),

    // Q141 — column profiler (the DESCRIBE/data-quality primitive):
    // null count, distinct count and min/max per profiled column, as
    // a long-format table. ONE scan feeds every per-column aggregate
    // (the multi-distinct Expand plan), then a stack() pivots the
    // single metrics row into long format; numeric and string extrema
    // keep their own typed columns so no engine-specific
    // number→string formatting enters the hash.
    "q141_profile" -> ((s, d) => {
      def nn(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
      ord(s, d).agg(
          nn("o_custkey").as("nn1"), countDistinct(col("o_custkey")).as("nd1"),
          min(col("o_custkey")).cast("double").as("mn1"),
          max(col("o_custkey")).cast("double").as("mx1"),
          nn("o_totalprice").as("nn2"),
          countDistinct(col("o_totalprice")).as("nd2"),
          min(col("o_totalprice")).cast("double").as("mn2"),
          max(col("o_totalprice")).cast("double").as("mx2"),
          nn("o_orderstatus").as("nn3"),
          countDistinct(col("o_orderstatus")).as("nd3"),
          min(col("o_orderstatus")).as("ms3"), max(col("o_orderstatus")).as("mxs3"),
          nn("o_orderpriority").as("nn4"),
          countDistinct(col("o_orderpriority")).as("nd4"),
          min(col("o_orderpriority")).as("ms4"),
          max(col("o_orderpriority")).as("mxs4"))
        .select(expr(
          """stack(4,
            |  'o_custkey', nn1, nd1, mn1, mx1,
            |    CAST(NULL AS STRING), CAST(NULL AS STRING),
            |  'o_totalprice', nn2, nd2, mn2, mx2,
            |    CAST(NULL AS STRING), CAST(NULL AS STRING),
            |  'o_orderstatus', nn3, nd3, CAST(NULL AS DOUBLE),
            |    CAST(NULL AS DOUBLE), ms3, mxs3,
            |  'o_orderpriority', nn4, nd4, CAST(NULL AS DOUBLE),
            |    CAST(NULL AS DOUBLE), ms4, mxs4)
            |AS (col_name, n_nulls, n_distinct, min_num, max_num,
            |    min_str, max_str)""".stripMargin))
        .orderBy("col_name")
    }),

    // Q142 — weighted median order price per nation (weight = lineitem
    // count): smallest price whose running weight covers half the
    // total, selected with the INTEGER rule 2·cum ≥ tot — never a
    // double-threshold compare. Both windows and the final min share
    // the nation partitioning.
    "q142_weighted_median" -> ((s, d) => {
      val w = ord(s, d)
        .join(li(s, d), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .agg(count(lit(1)).as("wt"))
      val j = w.join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_totalprice").as("x"),
          col("wt"), col("o_orderkey"))
      val wc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_name")).orderBy(col("x"), col("o_orderkey"))
      val wt = org.apache.spark.sql.expressions.Window.partitionBy(col("n_name"))
      j.select(col("n_name"), col("x"),
          sum(col("wt")).over(wc).as("cum"), sum(col("wt")).over(wt).as("tot"))
        .where(col("cum") * 2 >= col("tot"))
        .groupBy("n_name").agg(min(col("x")).as("w_median"))
        .orderBy("n_name")
    }),

    // Q143 — eventually-follows event pairs: how often type A precedes
    // type B for the same user, over ALL later events (vs q125's
    // immediate-successor transitions). The self-join is blocked per
    // user with a ≤ 1000-events fence BEFORE the quadratic fan-out —
    // the q137 discipline applied to sequence mining.
    "q143_follows_pairs" -> ((s, d) => {
      val wu = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      // both self-join legs read e — cached so the fence window runs
      // once (diamond-reuse lesson)
      val e = ev(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
          count(lit(1)).over(wu).as("ne"))
        .where(col("ne") <= 1000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val a = e.select(col("user_id"), col("event_type").as("ta"),
        col("ts").as("tsa"), col("event_id").as("ida"))
      val b = e.select(col("user_id"), col("event_type").as("tb"),
        col("ts").as("tsb"), col("event_id").as("idb"))
      a.join(b, Seq("user_id"))
        .where(col("tsa") < col("tsb") ||
          (col("tsa") === col("tsb") && col("ida") < col("idb")))
        .groupBy("ta", "tb").agg(count(lit(1)).as("n_pairs"))
        .orderBy("ta", "tb")
    }),

    // Q144 — share-of-total analytics: each nation's revenue share and
    // rank within its region. Revenue totals are EXACT integer cents;
    // the share division is one double op on identical integers, so
    // no rounding drift. Region-level windows reuse the nation-agg
    // partitioning lineage; dims broadcast.
    "q144_revenue_share" -> ((s, d) => {
      val rev = ord(s, d)
        .join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val wr = org.apache.spark.sql.expressions.Window.partitionBy(col("r_name"))
      val wrk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("r_name")).orderBy(desc("cents"), col("n_name"))
      rev.select(col("r_name"), col("n_name"),
          round(col("cents").cast("double") /
            sum(col("cents")).over(wr).cast("double"), 4).as("share"),
          rank().over(wrk).as("rnk"))
        .orderBy("r_name", "rnk", "n_name")
    }),

    // Q145 — referential-integrity audit: orphan counts for every FK
    // edge of the schema in one result. Each leg is an anti-join
    // (broadcast for the small parents, shuffle for orders at scale);
    // the global aggregate emits its row even when the anti-join is
    // empty, so zero-orphan edges stay in the output.
    "q145_fk_orphans" -> ((s, d) => {
      def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
                  label: String) =
        fact.select(col(fk)).where(col(fk).isNotNull)
          .join(dim.select(col(pk)), col(fk) === col(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(label).as("fk_edge"), col("n_orphans"))
      orphans(li(s, d), "l_orderkey", ord(s, d), "o_orderkey",
          "lineitem.l_orderkey->orders")
        .union(orphans(li(s, d), "l_partkey", Tables.part(s, d), "p_partkey",
          "lineitem.l_partkey->part"))
        .union(orphans(ord(s, d), "o_custkey", cust(s, d), "c_custkey",
          "orders.o_custkey->customer"))
        .union(orphans(cust(s, d), "c_nationkey", nat(s, d), "n_nationkey",
          "customer.c_nationkey->nation"))
        .union(orphans(nat(s, d), "n_regionkey", Tables.region(s, d),
          "r_regionkey", "nation.n_regionkey->region"))
        .orderBy("fk_edge")
    }),

    // Q146 — Jaro-Winkler fuzzy matching ([[graft.functions
    // .JaroWinkler]] native expression) with last-word blocking: the
    // record-linkage metric beside q110's edit distance, oracled
    // char-for-char against DuckDB's jaro_winkler_similarity. The
    // block key bounds the pair fan-out exactly like q110's prefix
    // block; the threshold compares the ROUNDED value in both engines.
    "q146_jw_names" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name")).distinct()
        .select(col("p_name"), element_at(split(col("p_name"), " "), -1).as("blk"))
      val a = names.select(col("blk"), col("p_name").as("n1"))
      val b = names.select(col("blk"), col("p_name").as("n2"))
      a.join(b, Seq("blk")).where(col("n1") < col("n2"))
        .select(col("n1"), col("n2"),
          round(TextFunctions.jaroWinkler(col("n1"), col("n2")), 4).as("jw"))
        .where(col("jw") >= 0.8)
        .orderBy(desc("jw"), col("n1"), col("n2")).limit(100)
    }),

    // Q147 — bigram language-model scoring (q92's rarity signal taken
    // to order 2): corpus bigram/unigram counts with add-one
    // smoothing, each document scored by its mean negative log2
    // bigram probability — the cheap perplexity proxy curation
    // pipelines gate on. Vocabulary size rides a broadcast one-row
    // frame; the count joins shuffle on their keys (vocab² is NOT
    // assumed broadcastable).
    "q147_bigram_ppl" -> ((s, d) => {
      // toks feeds the bigram window, the unigram counts AND the
      // vocabulary; bg feeds its counts AND the final join — cached so
      // the corpus is tokenized once and the bigram window runs once
      // (the q133/q179 diamond-reuse lesson)
      val toks = docs(s, d)
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
        .where(col("w") =!= "")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wseq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val bg = toks
        .select(col("doc_id"), col("w").as("w1"),
          lead(col("w"), 1).over(wseq).as("w2"))
        .where(col("w2").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val c1 = toks.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
      val vocab = toks.agg(countDistinct(col("w")).as("v"))
      bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"),
          (-log2((col("c2") + 1).cast("double") /
            (col("c1") + col("v")).cast("double"))).as("nll"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), round(avg(col("nll")), 4).as("ppl_bits"))
        .orderBy("doc_id")
    }),

    // Q148 — dedup keep-list materialization: the step a pipeline
    // actually ships — every document mapped to its near-dup cluster
    // representative (min doc_id), singletons to themselves, with a
    // keep/drop flag. Reuses q49's verified-pair components, so the
    // oracle extends the same recursive closure.
    "q148_dedup_keep" -> ((s, d) => {
      val comps = Dedup.components(
        Dedup.minHashVerifiedPairs(docs(s, d), "doc_id", "text", 3, 0.5))
      docs(s, d).select(col("doc_id"))
        .join(comps.select(col("id").as("doc_id"), col("comp_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp_id"), col("doc_id")).as("rep_id"),
          when(coalesce(col("comp_id"), col("doc_id")) =!= col("doc_id"), 1)
            .otherwise(0).as("is_dup"))
        .orderBy("doc_id")
    }),

    // Q149 — JSONL round-trip (the LLM interchange format): documents
    // serialized to JSON-lines through the text sink, read back with
    // an explicit schema, and required to be IDENTICAL to the source
    // — which is exactly what the oracle checks. Exercises JSON
    // escaping of embedded quotes/newlines through a real
    // write-then-read, not an in-plan to_json/from_json pair.
    "q149_jsonl_roundtrip" -> ((s, d) => {
      val out = scratch("q149_jsonl")
      docs(s, d)
        .select(to_json(struct(col("doc_id"), col("text"), col("lang")))
          .as("value"))
        .write.mode("overwrite").text(out)
      s.read.schema("doc_id BIGINT, text STRING, lang STRING").json(out)
        .orderBy("doc_id")
    }),

    // Q150 — prefix-filtered EXACT set-similarity join
    // ([[graft.llm.SetSimJoin]], the PPJoin principle) on 3-gram
    // shingle sets at Jaccard ≥ 1/2: the SAME ground truth as
    // q25/q27, computed by a third independent algorithm (prefix +
    // length + positional filters, zero recall loss). The oracle is
    // the brute-force all-pairs definition; matching it proves the
    // filters dropped nothing. Keep rule is integer (2·i ≥ n1+n2−i).
    "q150_setsim_pairs" -> ((s, d) =>
      graft.llm.SetSimJoin.jaccardPairs(docs(s, d), "doc_id", "text",
          1, 2, ngram = 3)
        .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"),
          round(col("inter").cast("double") /
            (col("n1") + col("n2") - col("inter")), 4).as("jaccard"))
        .orderBy("id1", "id2")),

    // Q151 — funnel time-to-convert: first-view → first-later-purchase
    // latency per user, summarized as exact interpolated percentiles
    // (q87's percentile↔quantile_cont parity on INTEGER micros, where
    // interpolation midpoints are exact in a double). One user_id
    // shuffle computes both firsts.
    "q151_time_to_convert" -> ((s, d) => {
      val firsts = ev(s, d).groupBy("user_id")
        .agg(min(when(col("event_type") === "view", unix_micros(col("ts"))))
            .as("v"),
          min(when(col("event_type") === "purchase", unix_micros(col("ts"))))
            .as("p"))
        .where(col("v").isNotNull && col("p").isNotNull && col("p") >= col("v"))
        .select(expr("(p - v) DIV 1000000").as("dur_s"))
      firsts.agg(count(lit(1)).as("n_converts"),
        round(expr("percentile(dur_s, 0.5)"), 4).as("p50_s"),
        round(expr("percentile(dur_s, 0.9)"), 4).as("p90_s"))
    }),

    // Q152 — week-over-week growth per event type: weekly counts with
    // a LAG ratio in integer counts until the final division. Weeks
    // with no rows are simply absent (the LAG skips them — gap-fill is
    // q120's job, composable upstream).
    "q152_wow_growth" -> ((s, d) => {
      val wk = ev(s, d)
        .groupBy(col("event_type"), trunc(to_date(col("ts")), "week").as("wk"))
        .agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("wk"))
      wk.select(col("event_type"), col("wk"), col("n"),
          lag(col("n"), 1).over(w).as("prev"))
        .select(col("event_type"), col("wk"), col("n"),
          round((col("n") - col("prev")) * 100.0 / col("prev"), 4)
            .as("pct_change"))
        .orderBy("event_type", "wk")
    }),

    // Q153 — top revenue parts per nation WITH ties kept: dense_rank
    // over integer-cent revenue (vs q89's unique-tiebreak rank) — the
    // "show every part tied at rank k" semantics. Revenue in exact
    // cents so tie groups are engine-identical.
    "q153_dense_rank_ties" -> ((s, d) => {
      val rev = li(s, d)
        .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("l_partkey"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_name")).orderBy(desc("cents"))
      rev.select(col("n_name"), col("l_partkey"), col("cents"),
          dense_rank().over(w).as("rnk"))
        .where(col("rnk") <= 2)
        .orderBy("n_name", "rnk", "l_partkey")
    }),

    // Q154 — events since last purchase (the reset-counter sequence
    // idiom): a running marker count segments each user's stream, and
    // a row_number within the segment counts from the marker. Both
    // windows AND the segment window ride ONE user_id shuffle.
    "q154_since_marker" -> ((s, d) => {
      val wu = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val seg = ev(s, d)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .over(wu).as("seg"))
      val ws = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("seg"))
        .orderBy(col("ts"), col("event_id"))
      seg.select(col("user_id"), col("event_id"),
          // a purchase row starts its own segment at position 1 → 0
          // events since the marker; pre-first-marker rows count from
          // stream start (seg 0)
          (row_number().over(ws) -
            when(col("seg") > 0, 1).otherwise(0)).as("n_since"))
        .orderBy("user_id", "event_id")
    }),

    // Q155 — order↔lineitem reconciliation (the ETL consistency
    // audit): per-order delta between the header total and the line
    // sum, in exact integer cents, summarized by sign class. Integer
    // end to end; the sign split is when/otherwise, not signum
    // doubles.
    "q155_reconcile" -> ((s, d) => {
      val lines = li(s, d).groupBy(col("l_orderkey").as("ok"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("line_cents"))
      ord(s, d)
        .select(col("o_orderkey").as("ok"),
          round(col("o_totalprice") * 100).cast("long").as("hdr_cents"))
        .join(lines, Seq("ok"), "left")
        .select(col("ok"),
          (col("hdr_cents") - coalesce(col("line_cents"), lit(0L))).as("delta"))
        .select(when(col("delta") > 0, lit("header_gt"))
            .when(col("delta") < 0, lit("lines_gt"))
            .otherwise(lit("exact")).as("cls"),
          col("delta"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n"), min(col("delta")).as("min_delta"),
          max(col("delta")).as("max_delta"), sum(col("delta")).as("sum_delta"))
        .orderBy("cls")
    }),

    // Q156 — median absolute deviation of order totals per nation
    // (the robust outlier scale): exact interpolated median of
    // integer cents, then the median of integer |x − median·2|/2
    // offsets — kept in HALF-cents so the interpolated median (a
    // .5-exact double) re-enters integer arithmetic without loss.
    "q156_mad" -> ((s, d) => {
      // x feeds the median AND the deviation join — cached so the
      // customer join runs once (diamond-reuse lesson)
      val x = ord(s, d)
        .join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"),
          (round(col("o_totalprice") * 100).cast("long") * 2).as("hc"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val med = x.groupBy("n_name").agg(expr("percentile(hc, 0.5)").as("m"))
      x.join(med, "n_name")
        // hc is even, m is integer-valued (percentile of even ints at
        // .5 interpolates to an integer) → abs diff exact in double
        .select(col("n_name"), abs(col("hc") - col("m")).as("ad"))
        .groupBy("n_name")
        // NO round on mad: every intermediate here is exact (integer
        // or .5-exact double), and k/400 can sit exactly on a .00005
        // boundary where the engines' ROUNDs disagree (q135 lesson) —
        // the raw doubles are bit-identical instead
        .agg(count(lit(1)).as("n"),
          (expr("percentile(ad, 0.5)") / 200.0).as("mad"))
        .orderBy("n_name")
    }),

    // Q157 — cumulative distinct users by day (the growth curve):
    // per-user FIRST day (one user_id shuffle) makes the running
    // distinct a plain running SUM of daily first-appearances — never
    // a per-day distinct-scan. The unpartitioned window runs over the
    // ~30-row day spine (bounded by calendar, not data).
    "q157_cumulative_users" -> ((s, d) => {
      val firstDay = ev(s, d).groupBy("user_id")
        .agg(min(to_date(col("ts"))).as("day"))
      val daily = firstDay.groupBy("day").agg(count(lit(1)).as("n_new"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      daily.select(col("day"), col("n_new"),
          sum(col("n_new")).over(w).as("cum_users"))
        .orderBy("day")
    }),

    // Q158 — conversion by session ordinal (q130's sessionization
    // composed with a purchase flag): does the 1st session convert
    // better than the 5th? All integer counts; the ordinal IS q130's
    // running session id.
    "q158_session_conversion" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      val sess = ev(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          when(lag(col("ts"), 1).over(w).isNull ||
               unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w) > gapUs,
            1L).otherwise(0L).as("new_s"))
        .select(col("user_id"), col("event_type"),
          sum(col("new_s")).over(w).as("sid"))
      sess.groupBy("user_id", "sid")
        .agg(max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("converted"))
        .groupBy(col("sid").as("session_ordinal"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("converted")).cast("long").as("n_converted"))
        .orderBy("session_ordinal")
    }),

    // Q159 — weekly price percentile bands: p50/p90 of integer-cent
    // order totals per ISO week (q151's percentile parity, grouped on
    // the time axis) — the trend-monitoring primitive.
    "q159_weekly_bands" -> ((s, d) =>
      ord(s, d)
        .select(trunc(to_date(col("o_orderdate").cast("timestamp")), "week")
            .as("wk"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("wk")
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(cents, 0.5)"), 4).as("p50_cents"),
          round(expr("percentile(cents, 0.9)"), 4).as("p90_cents"))
        .orderBy("wk")),

    // Q160 — schema evolution through the lake (mergeSchema): two
    // batches written with DIFFERENT column sets read back as one
    // table with NULL-filled gaps — the lakehouse migration path a
    // fixed-schema engine can't express. The oracle reconstructs the
    // union shape directly from the source table.
    "q160_schema_evolution" -> ((s, d) => {
      val out = scratch("q160_evo")
      docs(s, d).where(col("doc_id") < 250)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$out/b1")
      docs(s, d).where(col("doc_id") >= 250)
        .select(col("doc_id"), col("source"))
        .write.mode("overwrite").parquet(s"$out/b2")
      s.read.option("mergeSchema", "true").parquet(s"$out/b1", s"$out/b2")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // Q161 — cascading delete audit (the GDPR/right-to-erasure shape):
    // a customer deletion list propagates through orders to lineitems,
    // and the audit reports per-table dropped/total counts BEFORE
    // anything is rewritten. Each cascade level is a semi-join on the
    // parent's keys — never a rewrite-then-count.
    "q161_cascade_delete" -> ((s, d) => {
      val delC = cust(s, d).where(col("c_acctbal") < 0).select(col("c_custkey"))
      val delO = ord(s, d).join(delC, col("o_custkey") === col("c_custkey"),
        "left_semi")
      val delL = li(s, d).join(delO.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      def audit(label: String, dropped: DataFrame, total: DataFrame) =
        dropped.agg(count(lit(1)).as("n_dropped"))
          .crossJoin(total.agg(count(lit(1)).as("n_total")))
          .select(lit(label).as("tbl"), col("n_dropped"), col("n_total"))
      audit("customer", delC, cust(s, d))
        .union(audit("orders", delO, ord(s, d)))
        .union(audit("lineitem", delL, li(s, d)))
        .orderBy("tbl")
    }),

    // Q162 — snapshot diff (the table-versioning primitive): two
    // deterministic versions of the orders table compared by key via
    // ONE full-outer join, classified added/removed/changed/unchanged.
    // Integer cents end to end; at scale this is the single co-
    // partitioned join a version-diff job needs.
    "q162_snapshot_diff" -> ((s, d) => {
      val base = ord(s, d).select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val v1 = base.where(col("k") % 7 =!= 0)
      val v2 = base.where(col("k") % 5 =!= 0)
        .select(col("k"),
          (col("v") + when(col("k") % 3 === 0, 100L).otherwise(0L)).as("v"))
      v1.select(col("k"), col("v").as("v1"))
        .join(v2.select(col("k"), col("v").as("v2")), Seq("k"), "full_outer")
        .select(when(col("v1").isNull, lit("added"))
          .when(col("v2").isNull, lit("removed"))
          .when(col("v1") =!= col("v2"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    }),

    // Q163 — BAG-semantics set operations (intersectAll / exceptAll,
    // SQL's INTERSECT ALL / EXCEPT ALL): multiplicity-preserving —
    // the q11 set variants deduplicate, these keep min/difference of
    // counts. Physical shape is an aggregate-and-replicate, not a
    // distinct.
    "q163_bag_setops" -> ((s, d) => {
      val a = ord(s, d).select(col("o_custkey").as("k"))
      val b = ord(s, d).where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      a.intersectAll(b).groupBy("k").agg(count(lit(1)).as("n_inter"))
        .join(a.exceptAll(b).groupBy("k").agg(count(lit(1)).as("n_except")),
          Seq("k"), "full_outer")
        .select(col("k"), coalesce(col("n_inter"), lit(0L)).as("n_inter"),
          coalesce(col("n_except"), lit(0L)).as("n_except"))
        .orderBy("k")
    }),

    // Q164 — null-preserving explode (explode_outer / LEFT JOIN
    // LATERAL): docs whose token filter empties the array must KEEP a
    // row with a NULL token — the outer-unnest semantics a plain
    // explode silently drops. Counted per doc so the zero-row docs
    // are visible in the hash.
    "q164_explode_outer" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          explode_outer(filter(split(lower(col("text")), " "),
            w => length(w) >= 12)).as("w"))
        .groupBy("doc_id")
        .agg(count(col("w")).as("n_long_tokens"),
          count(lit(1)).as("n_rows"))
        .orderBy("doc_id"))
,
    // Q165 — hierarchy share report: ONE grouping-sets pass computes
    // region and nation revenue, then each nation joins its region
    // row for percent-of-parent — never a second scan. Integer-cent
    // totals; one double division per row.
    "q165_hierarchy_share" -> ((s, d) => {
      val base = ord(s, d)
        .join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val gs = base.groupBy(col("r_name"), col("n_name"))
        .agg(sum(col("cents")).as("cents"))
      // parent total as a window over the aggregated frame — the
      // groupBy-and-join-back form re-scans base per level (q179 note)
      val wr = org.apache.spark.sql.expressions.Window.partitionBy(col("r_name"))
      gs.select(col("r_name"), col("n_name"), col("cents"),
          sum(col("cents")).over(wr).as("r_cents"))
        .select(col("r_name"), col("n_name"), col("cents"),
          round(col("cents").cast("double") / col("r_cents").cast("double"), 4)
            .as("share_of_region"))
        .orderBy("r_name", "n_name")
    }),

    // Q166 — array set-algebra per group: event-type vocabularies of
    // each user's first vs second half-month, compared with
    // array_intersect/array_union sizes (behavioral retention). The
    // per-half sets are sorted collect_sets — deterministic arrays —
    // and only their SIZES reach the output, so no array ordering
    // enters the hash.
    "q166_array_algebra" -> ((s, d) => {
      val half = ev(s, d)
        .select(col("user_id"), col("event_type"),
          when(dayofmonth(col("ts")) <= 15, 1).otherwise(2).as("half"))
        .distinct()
      val sets = half.groupBy("user_id")
        .agg(sort_array(collect_set(when(col("half") === 1, col("event_type"))))
            .as("h1"),
          sort_array(collect_set(when(col("half") === 2, col("event_type"))))
            .as("h2"))
      sets.select(col("user_id"),
          size(col("h1")).cast("long").as("n_first"),
          size(col("h2")).cast("long").as("n_second"),
          size(array_intersect(col("h1"), col("h2"))).cast("long").as("n_both"),
          size(array_union(col("h1"), col("h2"))).cast("long").as("n_any"))
        .orderBy("user_id")
    }),

    // Q167 — regexp_extract_all (scalar extraction surface): every
    // number in each document summed — RE2-safe digit-class pattern
    // shared verbatim with the oracle, ANSI-safe via try_cast for
    // > 18-digit runs.
    "q167_extract_numbers" -> ((s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          explode_outer(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("num"))
        .groupBy("doc_id")
        .agg(count(col("num")).as("n_numbers"),
          coalesce(sum(expr("try_cast(num AS BIGINT)")), lit(0L)).as("num_sum"))
        .orderBy("doc_id")),

    // Q168 — curation v4, the session-3 capstone: entropy (q133) and
    // bigram-perplexity (q147) quality signals gate the corpus, then
    // the survivors are exact-deduped by the q150 prefix-filter join
    // and each cluster keeps its minimum id. Every stage is a
    // verified primitive; every gate is an integer/rounded compare;
    // the oracle re-derives the whole chain. Output: kept docs with
    // both signals.
    "q168_curation_v4" -> ((s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
        .where(col("w") =!= "")
      val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val wdoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      val ent = tf
        .select(col("doc_id"), col("c"), sum(col("c")).over(wdoc).as("n"))
        .select(col("doc_id"),
          (col("c").cast("double") / col("n")).as("p"))
        .groupBy("doc_id")
        .agg(round(sum(-(col("p") * log2(col("p")))) + 0.0, 4).as("entropy"))
      // gate: entropy ≥ 3.5 bits (rounded value, same in both
      // engines); cached — it feeds the pair join and the final keep
      // filter (diamond-reuse lesson)
      val gated = docs(s, d).join(ent, "doc_id")
        .where(col("entropy") >= 3.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = graft.llm.SetSimJoin
        .jaccardPairs(gated, "doc_id", "text", 1, 2, ngram = 3)
        .select(col("id1"), col("id2"))
      val reps = graft.llm.Dedup.components(pairs)
      gated.select(col("doc_id"), col("entropy"))
        .join(reps.select(col("id").as("doc_id"), col("comp_id")),
          Seq("doc_id"), "left")
        .where(col("comp_id").isNull || col("comp_id") === col("doc_id"))
        .select(col("doc_id"), col("entropy"))
        .orderBy("doc_id")
    }),

    // Q169 — partition pruning through a partitioned table (THE
    // 100 TB lever: a predicate on the partition column must skip
    // whole directories, not filter rows): events written partitioned
    // by event_type, read back with an equality predicate. The scan's
    // PartitionFilters carry the predicate — plan-asserted — so at
    // scale only 1/5 of the files are ever listed or read.
    "q169_partition_prune" -> ((s, d) => {
      val out = scratch("q169_part")
      ev(s, d).write.mode("overwrite").partitionBy("event_type").parquet(out)
      s.read.parquet(out).where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("v_cents"))
        .orderBy("user_id")
    }),

    // Q170 — CSV round-trip (header + RFC quoting): the
    // lowest-common-denominator interchange format, written and read
    // back with an explicit schema and required to be identical to
    // the source. escape='"' pins RFC-4180 double-quote escaping on
    // both sides; multiLine tolerates embedded newlines (at the cost
    // of splittability — a round-trip check, not the scan pattern to
    // copy for bulk ingest).
    "q170_csv_roundtrip" -> ((s, d) => {
      val out = scratch("q170_csv")
      docs(s, d).select(col("doc_id"), col("lang"), col("text"))
        .write.mode("overwrite")
        .option("header", "true").option("escape", "\"").csv(out)
      s.read
        .option("header", "true").option("escape", "\"")
        .option("multiLine", "true")
        .schema("doc_id BIGINT, lang STRING, text STRING").csv(out)
        .orderBy("doc_id")
    }),

    // Q171 — SCD2 dimension lookup: q129's status intervals consumed
    // by q36's bucketized interval join — each order resolves the
    // dimension status valid AT its date, WITHOUT a per-key cross
    // product (intervals explode over 90-day buckets, the join is an
    // equi-join on (custkey, bucket)). Zero-width intervals (two
    // status changes on one date) match nothing under [from, to) —
    // those orders surface as the off-diagonal counts, which is the
    // point of the reconciliation output.
    "q171_scd2_lookup" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val changes = ord(s, d)
        .select(col("o_custkey"), col("o_orderstatus").as("status"),
          col("o_orderdate").as("valid_from"), col("o_orderkey"),
          lag(col("o_orderstatus"), 1).over(w).as("prev"))
        .where(col("prev").isNull || col("prev") =!= col("status"))
      val w2 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("valid_from"), col("o_orderkey"))
      val iv = changes
        .select(col("o_custkey").as("ck"), col("status").as("dim_status"),
          col("valid_from").cast("timestamp").as("vf"),
          lead(col("valid_from"), 1).over(w2).cast("timestamp").as("vt0"))
        .select(col("ck"), col("dim_status"), col("vf"),
          coalesce(col("vt0"), lit("2002-01-01").cast("timestamp")).as("vt"))
      val pts = ord(s, d).select(col("o_custkey").as("ck"),
        col("o_orderdate").cast("timestamp").as("od"),
        col("o_orderstatus").as("order_status"))
      graft.ops.TemporalJoins.intervalJoin(pts, iv, "ck", "od", "vf", "vt",
          graft.ops.TemporalJoins.secondsBucket(86400L * 90))
        .groupBy("order_status", "dim_status").agg(count(lit(1)).as("n"))
        .orderBy("order_status", "dim_status")
    }),

    // Q172 — built-in session_window (the q130 semantics via Spark's
    // native session operator instead of the lag/running-sum idiom):
    // same 30-minute gap rule INCLUDING the boundary — session_window
    // MERGES two events exactly gap apart (verified empirically), so
    // the oracle's new-session test is STRICT `>`, identical to
    // q130's. Two machineries, one ground truth. The streaming twin
    // of this exact operator runs under watermarks in the streaming
    // specs.
    "q172_session_window" -> ((s, d) =>
      ev(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          // built-in session end = last event + gap; normalize to the
          // last EVENT time for the oracle by subtracting the gap
          (unix_micros(col("sw.end")) - 1800000000L).as("last_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")),

    // Q173 — unionByName with missing columns (q160's evolution
    // semantics WITHOUT the lake round-trip): two frames with
    // different column sets unioned by NAME, gaps null-filled — the
    // positional-union trap (silent column misalignment) this API
    // exists to prevent.
    "q173_union_by_name" -> ((s, d) => {
      val a = docs(s, d).where(col("doc_id") < 250)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val b = docs(s, d).where(col("doc_id") >= 250)
        .select(col("doc_id"), col("source"), col("n_chars"))
      a.unionByName(b, allowMissingColumns = true)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Q174 — quartile array per group: ONE exact-percentile aggregate
    // computes all three cut points (no per-quantile re-scan), then
    // the array unnests to (group, quartile, value) rows. Integer
    // cents in; interpolated midpoints are exact halves (the q156
    // argument), ROUND(4) out.
    "q174_quartiles" -> ((s, d) =>
      ord(s, d)
        .select(col("o_orderpriority").as("prio"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("prio")
        .agg(expr("percentile(cents, array(0.25, 0.5, 0.75))").as("qs"))
        .select(col("prio"), posexplode(col("qs")).as(Seq("i", "v")))
        .select(col("prio"), (col("i") + 1).as("quartile"),
          round(col("v"), 4).as("v"))
        .orderBy("prio", "quartile")),

    // Q175 — bitwise aggregates (flag-set algebra): per-user OR/AND
    // of an event-type bitmask — the roll-up a permission/feature-
    // flag pipeline runs. Pure integer.
    "q175_bit_aggs" -> ((s, d) => {
      val mask = ev(s, d).select(col("user_id"),
        when(col("event_type") === "view", 1L)
          .when(col("event_type") === "click", 2L)
          .when(col("event_type") === "purchase", 4L)
          .when(col("event_type") === "signup", 8L)
          .otherwise(16L).as("m"))
      mask.groupBy("user_id")
        .agg(expr("bit_or(m)").as("any_of"), expr("bit_and(m)").as("all_of"),
          count(lit(1)).as("n"))
        .orderBy("user_id")
    }),

    // Q176 — correlated scalar subquery through the SQL entry point
    // (spark.sql over registered views): each customer against their
    // OWN max order value — Catalyst decorrelates the subquery into
    // an aggregate + join, never a per-row re-scan (plan-asserted: no
    // nested loop).
    "q176_correlated_subquery" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT c_custkey, c_mktsegment,
          (SELECT CAST(ROUND(MAX(o_totalprice) * 100) AS BIGINT)
           FROM orders WHERE o_custkey = c_custkey) AS max_cents
        FROM customer
        ORDER BY c_custkey""")
    }),

    // Q177 — ordered STRING_AGG export (the CSV-list column feeds):
    // each user's full event-type journey as one comma-joined string.
    // Ordering is (epoch_us, event_id) in BOTH engines — the raw
    // nanos-vs-micros timestamp trap (q143) applied to sort keys —
    // via the array_sort(struct)→transform→array_join idiom on the
    // Spark side.
    "q177_string_agg" -> ((s, d) =>
      ev(s, d)
        .groupBy("user_id")
        .agg(array_join(
            transform(
              array_sort(collect_list(struct(
                unix_micros(col("ts")).as("t"), col("event_id").as("e"),
                col("event_type").as("ty")))),
              x => x.getField("ty")), ",").as("journey"),
          count(lit(1)).as("n"))
        .orderBy("user_id")),

    // Q178 — trailing 3-row moving average of daily revenue (the
    // ROWS-frame shape next to q104's running total and q117's RANGE
    // frame): integer-cent daily sums, one exact double division —
    // raw output, both engines bit-identical.
    "q178_moving_avg" -> ((s, d) => {
      val daily = ord(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
        .rowsBetween(-2, 0)
      daily.select(col("day"), col("cents"),
          (sum(col("cents")).over(w).cast("double") /
            count(lit(1)).over(w).cast("double")).as("ma3"))
        .orderBy("day")
    }),

    // Q179 — chi-square contingency cells (segment × priority
    // independence test): observed counts, expected under
    // independence, and each cell's chi² contribution — emitted PER
    // CELL, deliberately not summed: a cross-cell float sum has
    // engine-dependent order, per-cell terms are bit-identical
    // (integer marginals, two exact divisions). The consumer sums 25
    // numbers.
    "q179_chi_square" -> ((s, d) => {
      val joined = ord(s, d)
        .join(cust(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("prio"))
      // marginals as WINDOWS over the one aggregated cells frame —
      // the join-back-to-branches form re-scans the base join once
      // per marginal (4 scans, observed in the plan); windows over
      // the |seg|×|prio|-bounded frame cost nothing at any scale
      val cells = joined.groupBy("seg", "prio").agg(count(lit(1)).as("n"))
      val wSeg = org.apache.spark.sql.expressions.Window.partitionBy(col("seg"))
      val wPrio = org.apache.spark.sql.expressions.Window.partitionBy(col("prio"))
      val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
      cells.select(col("seg"), col("prio"), col("n"),
          sum(col("n")).over(wSeg).as("rn"), sum(col("n")).over(wPrio).as("cn"),
          sum(col("n")).over(wAll).as("t"))
        .select(col("seg"), col("prio"), col("n"),
          (col("rn") * col("cn")).cast("double")./(col("t").cast("double"))
            .as("e"))
        .select(col("seg"), col("prio"), col("n"), round(col("e"), 4).as("e"),
          round(pow(col("n").cast("double") - col("e"), 2) / col("e"), 6)
            .as("chi_term"))
        .orderBy("seg", "prio")
    }),

    // Q180 — Benford first-digit profile of order totals (the fraud/
    // quality screen): observed first-digit counts vs the log10(1+1/d)
    // expectation. Integer counts; the expected share is a constant
    // computed identically in both engines.
    "q180_benford" -> ((s, d) =>
      ord(s, d)
        .select(substring(round(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).as("digit"))
        .where(col("digit") =!= "0")
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .select(col("digit"), col("n"),
          round(log10(lit(1.0) + lit(1.0) /
            col("digit").cast("double")), 4).as("benford_share"))
        .orderBy("digit")),

    // Q181 — geometric and harmonic mean price per priority (the
    // index-number aggregates): exp(mean(ln x)) and n/Σ(1/x) over
    // positive integer cents. Both reduce to one float sum per group
    // (order-sensitive like q106's moments) — ROUND(4) absorbs the
    // 1e-12 ordering wiggle on these group sizes.
    "q181_mean_family" -> ((s, d) =>
      ord(s, d)
        .select(col("o_orderpriority").as("prio"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n"),
          round(exp(avg(log(col("cents").cast("double")))), 4).as("geo_cents"),
          round(count(lit(1)).cast("double") /
            sum(lit(1.0) / col("cents").cast("double")), 4).as("harm_cents"))
        .orderBy("prio")),

    // Q182 — running peak and drawdown of daily revenue (the
    // peak-to-trough monitor): running MAX window + one exact
    // division, raw bit-identical doubles. The unpartitioned window
    // runs over the calendar-bounded day spine (q157's argument).
    "q182_drawdown" -> ((s, d) => {
      val daily = ord(s, d)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      daily.select(col("day"), col("cents"), max(col("cents")).over(w).as("peak"))
        .select(col("day"), col("cents"), col("peak"),
          ((col("peak") - col("cents")).cast("double") /
            col("peak").cast("double")).as("drawdown"))
        .orderBy("day")
    }),

    // Q183 — debounce (per-key rate limiting, the throttling
    // semantics ingestion edges apply): an event survives only if the
    // SAME user+type saw nothing in the trailing 5 minutes. One
    // (user, type) shuffle; integer-micros compare.
    "q183_debounce" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      ev(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          (unix_micros(col("ts")) -
            lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
        .where(col("gap_us").isNull || col("gap_us") > 300000000L)
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy("user_id", "event_id")
    }),

    // Q184 — clipped running balance ([[graft.ops.StatefulScan]]):
    // bal = max(0, bal + delta) per user in event order — a
    // NON-ASSOCIATIVE recurrence no SQL window frame can express,
    // run as a secondary-sort scan (one shuffle, O(1) state). The
    // oracle replays the recurrence with a WITH RECURSIVE step join.
    "q184_clipped_balance" -> ((s, d) => {
      val e = ev(s, d).select(col("user_id"), col("event_id"), col("ts"),
        when(col("event_type").isin("purchase", "signup"),
          round(col("value") * 100).cast("long"))
          .otherwise(-round(col("value") * 100).cast("long")).as("delta"))
      graft.ops.StatefulScan.clippedRunningSum(e, "user_id", "event_id",
          "delta", Seq(col("ts"), col("event_id")))
        .orderBy("user_id", "event_id")
    }),

    // Q185 — incremental aggregate maintenance (the materialized-view
    // refresh contract): a stored per-user aggregate is advanced by a
    // delta batch by MERGING partials — count adds, sum adds, max
    // maxes — without re-touching base rows. The oracle aggregates
    // the whole table flat: merge(base, delta) == full recompute is
    // exactly the associativity the refresh relies on.
    "q185_incremental_agg" -> ((s, d) => {
      def aggOf(df: DataFrame) = df.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"),
          max(round(col("value") * 100).cast("long")).as("max_cents"))
      val base = aggOf(ev(s, d).where(dayofmonth(col("ts")) <= 15))
      val delta = aggOf(ev(s, d).where(dayofmonth(col("ts")) > 15))
      base.unionByName(delta)
        .groupBy("user_id")
        .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
          max(col("max_cents")).as("max_cents"))
        .orderBy("user_id")
    }),

    // Q186 — explicit GROUPING SETS (the third grouping form next to
    // q46's ROLLUP and q116's CUBE): two independent slices + the
    // grand total from ONE scan/Expand pass. Group keys coalesced to
    // a sentinel — the NULL-sort-order divergence lesson — and the
    // SQL text is dialect-shared with the oracle verbatim.
    "q186_grouping_sets" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT COALESCE(r_name, '@total') AS rname,
          COALESCE(o_orderpriority, '@total') AS prio,
          CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            AS cents,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
        ORDER BY rname, prio""")
    }),

    // Q187 — discrete percentiles (percentile_disc / quantile_disc):
    // the NO-INTERPOLATION quantile — returned values are actual data
    // points, so cross-engine parity is exact by construction (no
    // formula-dependent midpoint doubles, the q182-histogram hazard
    // this variant avoids).
    "q187_percentile_disc" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT o_orderpriority AS prio,
          CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT)
            AS p50,
          CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY cents) AS BIGINT)
            AS p90
        FROM (SELECT o_orderpriority,
                CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders)
        GROUP BY 1 ORDER BY prio""")
    }),

    // Q188 — embedding vector algebra (the tensor-adjacent surface):
    // consecutive-vector sums and dot products via zip_with +
    // aggregate folds — codegen'd array kernels, no UDF, and the
    // fold order is the array order. ROUND(4) absorbs the unnest-sum
    // ordering difference on the oracle side (q119's precedent).
    "q188_vector_algebra" -> ((s, d) => {
      val a = emb(s, d).select(col("vec_id"), col("embedding").as("ea"))
      val b = emb(s, d).select((col("vec_id") - 1).as("vec_id"),
        col("embedding").as("eb"))
      a.join(b, "vec_id")
        .select(col("vec_id"),
          expr("""sqrt(aggregate(
                    zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) + CAST(y AS DOUBLE)),
                    0D, (acc, v) -> acc + v * v))""").as("sum_norm"),
          expr("""aggregate(
                    zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                    0D, (acc, v) -> acc + v)""").as("dot"))
        .select(col("vec_id"), round(col("sum_norm"), 4).as("sum_norm"),
          round(col("dot"), 4).as("dot"))
        .orderBy("vec_id")
    }),

    // Q189 — concurrent-session sweep line: +1/−1 deltas at session
    // starts/ends, pre-aggregated to unique instants, then the
    // DISTRIBUTED two-phase prefix scan ([[graft.ops.PrefixSum]] —
    // never a single-partition window, the q91 discipline) gives
    // concurrency at every instant; per-day maxima summarize. The
    // oracle replays the sweep with a SQL running sum.
    "q189_concurrency" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val gapUs = 30L * 60 * 1000000
      val sess = ev(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(lag(col("ts"), 1).over(w).isNull ||
               unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w) > gapUs,
            1L).otherwise(0L).as("new_s"))
        .select(col("user_id"), col("ts"), sum(col("new_s")).over(w).as("sid"))
        .groupBy("user_id", "sid")
        .agg(min(unix_micros(col("ts"))).as("s_us"),
          max(unix_micros(col("ts"))).as("e_us"))
      val deltas = sess.select(col("s_us").as("us"), lit(1L).as("d"))
        .unionByName(sess.select((col("e_us") + 1).as("us"), lit(-1L).as("d")))
      val instants = deltas.groupBy("us").agg(sum(col("d")).as("d"))
      graft.ops.PrefixSum.runningSum(instants, "us", "d", "conc")
        .select(to_date(timestamp_micros(col("us"))).as("day"), col("conc"))
        .groupBy("day")
        .agg(max(col("conc")).as("max_conc"), count(lit(1)).as("n_instants"))
        .orderBy("day")
    }),

    // Q190 — deterministic weighted sampling (Efraimidis-Spirakis
    // A-ES, [[graft.ops.Sampling.weightedSample]]): sample-by-quality
    // with hash-derived uniforms — content-stable, no RNG, replayable
    // in SQL. Weights = n_chars, so longer documents are favored;
    // the oracle recomputes priority = u^(1/w) from the same md5
    // prefix.
    "q190_weighted_sample" -> ((s, d) =>
      graft.ops.Sampling.weightedSample(
          docs(s, d).select(col("doc_id"), col("n_chars")),
          col("doc_id"), "n_chars", 100)
        .orderBy("doc_id")),

    // Q191 — keyset-free pagination (LIMIT/OFFSET over a total
    // order): page 3 of the price-ranked orders via DataFrame.offset
    // — deterministic only because the ordering is total (cents,
    // orderkey), the contract every pagination bug violates.
    "q191_pagination" -> ((s, d) =>
      ord(s, d)
        .select(col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .orderBy(desc("cents"), col("o_orderkey"))
        .offset(100).limit(50)),

    // Q192 — null-safe equality join (<=>): NULL keys MATCH each
    // other, unlike plain equality where they silently drop — the
    // semantics reconciliation jobs need when "unknown" is a real
    // category. Keys made nullable via NULLIF; oracle uses IS NOT
    // DISTINCT FROM.
    "q192_nullsafe_join" -> ((s, d) => {
      val a = ev(s, d)
        .select(nullif(col("event_type"), lit("error")).as("k"))
        .groupBy("k").agg(count(lit(1)).as("na"))
      val b = ev(s, d).where(col("value") > 100)
        .select(nullif(col("event_type"), lit("error")).as("k"))
        .groupBy("k").agg(count(lit(1)).as("nb"))
      a.join(b, a("k") <=> b("k"), "left")
        .select(a("k").as("k"), col("na"), coalesce(col("nb"), lit(0L)).as("nb"))
        .orderBy(asc_nulls_first("k"))
    }),

    // Q193 — `-io rawbytes` binary pipe ([[graft.ops.Pipe.pipeRawBytes]],
    // RawBytesInputWriter.java:30 framing): document text crosses a
    // child process as length-prefixed RAW bytes and comes back
    // bit-exact (`cat` — identity on the framed stream), witnessed by
    // md5 over the returned payload. Any framing error — a swallowed
    // newline, an off-by-one length, an escape — changes the digest;
    // the oracle digests the source column directly.
    "q193_pipe_rawbytes" -> ((s, d) =>
      graft.ops.Pipe.pipeRawBytes(
          docs(s, d).select(col("doc_id").cast("string").as("k"), col("text")),
          Seq("cat"))
        .select(col("key").cast("string").cast("long").as("doc_id"),
          md5(col("value")).as("text_md5"))
        .orderBy("doc_id")),

    // Q194 — MapWritable-valued SequenceFile round-trip
    // (io/MapWritable.java:37 → map<string,string> per SURVEY §1.2):
    // a legacy-shaped feature-store file (Text key, per-doc feature
    // map) written with stock Hadoop classes, header-dispatched back
    // through sequenceFileAuto, features extracted by map key. The
    // oracle recomputes the features from the parquet source.
    "q194_seqfile_map_values" -> ((s, d) => {
      val tmp = scratch("q194") + "/seqmap"
      graft.sources.CompatSources.sequenceFileMapWrite(
        docs(s, d).select(col("doc_id").cast("string").as("k"),
          map(lit("lang"), col("lang"),
            lit("n_chars"), col("n_chars").cast("string")).as("features")),
        tmp)
      graft.sources.CompatSources.sequenceFileAuto(s, tmp)
        .select(col("key").cast("long").as("doc_id"),
          col("value").getItem("lang").as("lang"),
          col("value").getItem("n_chars").cast("long").as("n_chars"))
        .orderBy("doc_id")
    }),

    // Q195 — asymmetric CONTAINMENT pairs ([[graft.llm.Dedup
    // .containmentPairs]]): sub-document duplication (a doc quoted or
    // truncated inside another) that symmetric Jaccard dilutes.
    // Integer keep rule (inter·100 ≥ 60·|sub|), both directions
    // tested. Threshold 60% rather than 90 so the synthetic fixtures
    // (no true subsets, several heavy-overlap near-dups) yield rows.
    "q195_containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(docs(s, d), "doc_id", "text", 3, 60)
        .orderBy("sub_id", "sup_id")),

    // Q196 — k-anonymity audit ([[graft.ops.Privacy]]): the violating
    // (lang, source) equivalence classes under k=10 plus the release
    // gate's summary row folded in via a marker union — the privacy
    // op a dataset passes before export.
    "q196_k_anonymity" -> ((s, d) => {
      val v = graft.ops.Privacy.kAnonymityViolations(
        docs(s, d), Seq("lang", "source"), 10L)
      val r = graft.ops.Privacy.kAnonymityReport(
          docs(s, d), Seq("lang", "source"), 10L)
        .select(lit("__report").as("lang"),
          concat(col("n_classes"), lit("/"), col("n_violating"), lit("/"),
            col("rows_at_risk"), lit("/"), col("achieved_k")).as("source"),
          col("n_classes").as("n"))
      v.unionByName(r).orderBy("lang", "source")
    }),

    // Q197 — stopword-profile language ID ([[graft.llm.LangId]]):
    // score per literal function-word profile, argmax with the
    // alphabetical-first tie rule; deterministic, model-free,
    // map-only. (The synthetic corpus shares one word pool across
    // langs, so predictions measure the scorer, not real accuracy —
    // the discriminating fixture lives in the unit spec.)
    "q197_lang_id" -> ((s, d) =>
      graft.llm.LangId.predict(docs(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // Q198 — deterministic per-group MODE: most frequent source per
    // lang with the (count desc, value asc) tie rule made explicit —
    // `mode()` alone is nondeterministic on ties in both engines.
    "q198_mode" -> ((s, d) => {
      val cnt = docs(s, d).groupBy("lang", "source").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(desc("n"), asc("source"))
      cnt.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("lang"), col("source").as("mode_source"), col("n"))
        .orderBy("lang")
    }),

    // Q199 — robust means per group: 10% two-sided TRIMMED mean (drop
    // the floor(n/10) smallest and largest values) and WINSORIZED mean
    // (clamp to the surviving extremes) of n_chars per lang. Rank
    // cutoffs are pure integer arithmetic over a total order
    // (n_chars, doc_id); only the final means are rounded.
    "q199_robust_mean" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
      val ranked = docs(s, d)
        .select(col("lang"), col("n_chars"), col("doc_id"))
        .withColumn("rn", row_number().over(w))
        .withColumn("m", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")))
      val cut = floor(col("m") / 10)
      // means as explicit integer-SUM / COUNT: the sums are exact, the
      // single double division is bit-identical across engines — no
      // ROUND, no AVG-implementation drift (the r7 parity lesson)
      val kept = ranked.where(col("rn") > cut && col("rn") <= col("m") - cut)
      val trimmed = kept.groupBy("lang")
        .agg((sum("n_chars").cast("double") / count(lit(1))).as("trimmed_mean"),
          min("n_chars").as("lo"), max("n_chars").as("hi"),
          count(lit(1)).as("n_kept"))
      val winsor = ranked.join(trimmed.select(col("lang"), col("lo"), col("hi")), "lang")
        .groupBy("lang")
        .agg((sum(greatest(least(col("n_chars"), col("hi")), col("lo"))).cast("double") /
          count(lit(1))).as("winsorized_mean"))
      trimmed.join(winsor, "lang")
        .select(col("lang"), col("trimmed_mean"), col("winsorized_mean"), col("n_kept"))
        .orderBy("lang")
    }),

    // Q200 — MERGE INTO applied as a batch operator ([[graft.ops
    // .Merge.applyChanges]]): customer balances (integer cents) merged
    // with an order-derived CDC batch — latest change per key wins
    // (compaction), latest 'P' status deletes, everything else
    // upserts. The oracle replays the same MERGE as a window + full
    // outer join.
    "q200_merge_apply" -> ((s, d) => {
      val base = cust(s, d).select(col("c_custkey").as("k"),
        round(col("c_acctbal") * 100).cast("long").as("cents"))
      val changes = ord(s, d).select(col("o_custkey").as("k"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        when(col("o_orderstatus") === "P", lit("D")).otherwise(lit("U")).as("op"),
        col("o_orderkey").as("ord"))
      graft.ops.Merge.applyChanges(base, changes, Seq("k"), "op", "ord")
        .orderBy("k")
    }),

    // Q201 — EWMA smoothing per user ([[graft.ops.StatefulScan
    // .ewma]]): the canonical non-associative recurrence (ewma_i =
    // α·x_i + (1-α)·ewma_{i-1}), replayed bit-for-bit by a recursive
    // CTE oracle — each step is the same two IEEE multiplies and add
    // in the same order, so the doubles are emitted RAW.
    "q201_ewma" -> ((s, d) =>
      graft.ops.StatefulScan.ewma(
          ev(s, d).select(col("user_id"), col("event_id"),
            col("value").cast("double").as("value"), col("ts")),
          "user_id", "event_id", "value", Seq(col("ts"), col("event_id")), 0.5)
        .orderBy("user_id", "event_id")),

    // Q202 — sessionization with a quiet-gap cut AND a max-duration
    // cap ([[graft.ops.StatefulScan.cappedSessions]]) — the contract
    // session_window cannot express (its sessions extend while events
    // keep arriving; bot traffic makes week-long sessions). 1-hour
    // gap, 6-hour cap; the oracle replays the scan recursively.
    "q202_capped_sessions" -> ((s, d) =>
      graft.ops.StatefulScan.cappedSessions(
          ev(s, d).select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us")),
          "user_id", "event_id", "ts_us",
          gapUs = 3600L * 1000000, maxDurUs = 6 * 3600L * 1000000)
        .orderBy("user_id", "event_id")),

    // Q203 — quantile normalization (rank → [0,1] feature scaling)
    // per language over n_chars: qn = (rank-1)/(m-1) on the total
    // order (n_chars, doc_id) — integer ratio, raw double, single-key
    // shuffle. The feature-engineering twin of q107's percent_rank.
    "q203_quantile_norm" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
      docs(s, d).select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("rn", row_number().over(w))
        .withColumn("m", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("lang")))
        .select(col("doc_id"), col("lang"),
          when(col("m") === 1, lit(0.0))
            .otherwise((col("rn") - 1).cast("double") / (col("m") - 1)).as("qnorm"))
        .orderBy("doc_id")
    }),

    // Q204 — OHLC downsampling (time-series resample to 1-hour bars
    // per event type): open/close picked atomically by min_by/max_by
    // over the (ts, event_id) total order, high/low/volume plain
    // aggregates — one shuffle, map-side combined. Values pass
    // through untouched (picks, not arithmetic) → raw doubles.
    "q204_ohlc_bars" -> ((s, d) =>
      ev(s, d)
        .select(col("event_type"), col("event_id"), col("value"),
          unix_micros(col("ts")).as("us"))
        .withColumn("bucket", floor(col("us") / (3600L * 1000000)))
        .groupBy("event_type", "bucket")
        .agg(min_by(col("value"), struct(col("us"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("us"), col("event_id"))).as("close"),
          count(lit(1)).as("n"))
        .orderBy("event_type", "bucket")),

    // Q205 — NATIVE recursive CTE (WITH RECURSIVE, Spark 4): the
    // declarative form of the iterative graph walks this engine
    // otherwise runs as driver loops (Bfs, Dedup.components). A
    // binary-tree hierarchy over contiguous custkeys (parent =
    // floor(k/2)) is walked from the root accumulating path sums in
    // integer cents; depth is bounded by log2(maxkey) so the
    // recursion terminates well under the engine's level limit. Both
    // engines run the SAME recursive SQL — the oracle is the dialect
    // twin, not a reformulation.
    "q205_recursive_cte" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        WITH RECURSIVE walk AS (
          SELECT c_custkey AS k,
            CAST(ROUND(c_acctbal * 100) AS BIGINT) AS path_cents,
            0 AS depth
          FROM customer WHERE c_custkey = 1
          UNION ALL
          SELECT c.c_custkey,
            w.path_cents + CAST(ROUND(c.c_acctbal * 100) AS BIGINT),
            w.depth + 1
          FROM customer c JOIN walk w
            ON CAST(FLOOR(c.c_custkey / 2.0) AS BIGINT) = w.k
          WHERE c.c_custkey > 1)
        SELECT CAST(depth AS BIGINT) AS depth, COUNT(*) AS n,
          SUM(path_cents) AS cents
        FROM walk GROUP BY depth ORDER BY depth""")
    }),

    // Q206 — VARIANT semi-structured ingestion (Spark 4 VariantType):
    // parse_json once into the binary variant encoding, then typed
    // path extraction (variant_get) feeding plain aggregates — the
    // shreddable modern path for JSON event payloads at scale, vs
    // q99's per-access get_json_object string re-parse. try_variant_get
    // on an absent path exercises the null (not error) contract.
    "q206_variant_json" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT event_type,
          COUNT(DISTINCT variant_get(parse_json(props), '$.k', 'long')) AS n_k,
          SUM(variant_get(parse_json(props), '$.k', 'long')) AS sum_k,
          SUM(CASE WHEN try_variant_get(parse_json(props), '$.missing', 'long')
              IS NULL THEN 1 ELSE 0 END) AS n_missing
        FROM events GROUP BY event_type ORDER BY event_type""")
    }),

    // Q207 — collated aggregation (Spark 4 string collations): COUNT
    // DISTINCT under UTF8_LCASE vs the case-sensitive default over a
    // deterministically case-perturbed column. The collation lives in
    // the comparison (hash-agg keys), not in a normalized copy of the
    // data; outputs are counts only, so no collation-dependent string
    // representative leaks into the hashed result.
    "q207_collated_agg" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        WITH m AS (SELECT source,
            CASE WHEN doc_id % 2 = 0 THEN UPPER(lang) ELSE lang END AS lang2
          FROM documents)
        SELECT source,
          COUNT(DISTINCT COLLATE(lang2, 'UTF8_LCASE')) AS n_ci,
          COUNT(DISTINCT lang2) AS n_cs
        FROM m GROUP BY source ORDER BY source""")
    }),

    // Q208 — correlated LATERAL subquery with ORDER BY + LIMIT
    // (per-group top-k as a join operand, Spark 4): top-3 customers
    // by balance per nation, written the way a SQL user writes it;
    // Catalyst decorrelates the limit into a partitioned window
    // instead of executing the subquery per outer row.
    "q208_lateral_topk" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT n_nationkey, s.c_custkey, s.cents
        FROM nation, LATERAL (
          SELECT c_custkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
          FROM customer WHERE c_nationkey = n_nationkey
          ORDER BY cents DESC, c_custkey LIMIT 3) s
        ORDER BY n_nationkey, cents DESC, c_custkey""")
    }),

    // Q209 — leakage-safe train/val/test splits: near-duplicate
    // CLUSTERS (connected components over exact-Jaccard pairs) are
    // assigned to a split atomically via an md5 bucket of the
    // cluster representative — the eval-contamination guard a naive
    // per-document hash split violates (two near-dups landing in
    // train and test). Singleton docs are their own cluster. By
    // construction no cluster spans splits; the output audits the
    // split sizes in docs / clusters / chars. Pairs use the EXACT
    // postings path (ngramJaccardPairs), not MinHash-LSH: the oracle
    // enumerates all true pairs, and an audit query must share that
    // pair-completeness guarantee rather than LSH's probabilistic
    // recall (ADVICE r8) — at this query's audit scale the exact
    // self-join is the right plan anyway.
    "q209_leakage_safe_splits" -> ((s, d) => {
      val pairs = Dedup.ngramJaccardPairs(docs(s, d), "doc_id", "text", 3, 0.5)
      val comp = Dedup.components(pairs)
      val withRep = docs(s, d).select(col("doc_id"), col("n_chars"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("comp_id"), col("doc_id")).as("rep"))
      val bucket = pmod(
        conv(substring(md5(col("rep").cast("string").cast("binary")), 1, 4),
          16, 10).cast("long"), lit(20))
      withRep
        .withColumn("split",
          when(bucket === 0, lit("val"))
            .when(bucket === 1, lit("test"))
            .otherwise(lit("train")))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_clusters"),
          sum("n_chars").as("chars"))
        .orderBy("split")
    }),

    // Q210 — filter-threshold sweep in ONE scan: kept-vs-total per
    // (threshold, lang) for 10 candidate quality cutoffs at once —
    // the way a curation pipeline tunes a filter without re-reading
    // 100 TB per candidate. The 10× row fan-out happens AFTER the
    // two-column projection and is absorbed by the map-side partial
    // agg; plan-asserted single FileScan.
    "q210_threshold_sweep" -> ((s, d) =>
      docs(s, d)
        .select(col("lang"), col("n_chars"),
          explode(sequence(lit(0), lit(9))).as("thresh"))
        .withColumn("thresh", col("thresh").cast("long"))
        .groupBy("thresh", "lang")
        .agg(sum(when(col("n_chars") >= col("thresh") * 200, 1L)
            .otherwise(0L)).as("kept"),
          count(lit(1)).as("total"))
        .orderBy("thresh", "lang")),

    // Q211 — count-min sketch point estimates ([[graft.ops.CountMin]])
    // vs exact counts for the top-20 users: d=4 rows × w=64 columns,
    // md5-derived cells, so the oracle rebuilds the IDENTICAL grid in
    // SQL and the comparison is bit-exact — including the 13/20 keys
    // whose estimates overcount through collisions at this w. The
    // no_undercount column witnesses the sketch's one-sided error
    // guarantee on every probed key.
    "q211_countmin_sketch" -> ((s, d) => {
      val keys = ev(s, d).groupBy("user_id").agg(count(lit(1)).as("exact"))
        .orderBy(desc("exact"), col("user_id")).limit(20)
      val cms = graft.ops.CountMin.sketch(ev(s, d), "user_id", d = 4, w = 64)
      graft.ops.CountMin.estimate(cms, keys, "user_id", d = 4, w = 64)
        .select(col("user_id"), col("exact"), col("est"),
          (col("est") >= col("exact")).as("no_undercount"))
        .orderBy(desc("exact"), col("user_id"))
    }),

    // Q212 — one k-means (Lloyd) step ([[graft.llm.Clustering]]):
    // label-seeded integer centroids, broadcast assignment, audited
    // as the (old, new) transition matrix with an id_sum witness —
    // per-vector assignments, not just counts, must agree. The
    // determinism contract (exact integer centroid sums, fixed-order
    // double distance) is what lets the DuckDB oracle replay an ML
    // training step bit-for-bit.
    "q212_kmeans_step" -> ((s, d) =>
      graft.llm.Clustering.lloydStep(emb(s, d), "vec_id", "embedding",
          "label", dim = 64, scale = 1000)
        .groupBy(col("label").as("old_label"), col("assigned").as("new_label"))
        .agg(count(lit(1)).as("n"), sum("vec_id").as("id_sum"))
        .orderBy("old_label", "new_label")),

    // Q213 — Stupid Backoff held-out scoring (Brants et al. 2007, the
    // web-scale LM score that skips normalization so counts stay raw
    // map-side aggregates): bigram ratio when the train split saw the
    // bigram, else 0.4 × add-1 unigram. Distinct from q147 (in-corpus
    // add-1 perplexity): this is the TRAIN/HELD-OUT shape —
    // quality-scoring new batches against the corpus LM — and
    // n_backoff is the exact-integer witness of which branch fired
    // per bigram. toks/bg persist at the fork (diamond-plan policy).
    "q213_backoff_lm" -> ((s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"),
          posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
        .where(col("w") =!= "")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val wseq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val bg = toks
        .select(col("doc_id"), col("w").as("w1"),
          lead(col("w"), 1).over(wseq).as("w2"))
        .where(col("w2").isNotNull)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val trainBg = bg.where(col("doc_id") % 10 =!= 0)
        .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val trainUni = toks.where(col("doc_id") % 10 =!= 0)
        .groupBy("w").agg(count(lit(1)).as("c1"))
      val nv = trainUni.agg(sum("c1").as("nn"), count(lit(1)).as("v"))
      val test = bg.where(col("doc_id") % 10 === 0)
      val score = when(col("c2").isNotNull,
        col("c2").cast("double") / col("c1").cast("double"))
        .otherwise(lit(0.4) * (coalesce(col("cu2"), lit(0L)).cast("double") + 1.0) /
          (col("nn").cast("double") + col("v").cast("double")))
      test
        .join(trainBg, Seq("w1", "w2"), "left")
        .join(trainUni.withColumnRenamed("w", "w1"), Seq("w1"), "left")
        .join(trainUni.select(col("w").as("w2"), col("c1").as("cu2")),
          Seq("w2"), "left")
        .crossJoin(broadcast(nv))
        .select(col("doc_id"), score.as("s"),
          when(col("c2").isNull, 1L).otherwise(0L).as("backed"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("backed").as("n_backoff"),
          round(avg(-log2(col("s"))), 4).as("bits"))
        .orderBy("doc_id")
    }),

    // Q214 — event-TIME range window frame (RANGE BETWEEN INTERVAL …
    // PRECEDING): the rolling trailing-hour count per user — frames
    // defined by the timestamp AXIS, not row offsets, so irregular
    // event spacing is handled by the frame itself (the sliding-window
    // shape q16 does in streaming, here as a batch window). One
    // shuffle on user_id; the frame scan is per-partition.
    "q214_range_frame" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT user_id, event_id,
          COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
            RANGE BETWEEN INTERVAL '1' HOUR PRECEDING AND CURRENT ROW) AS n_1h
        FROM events ORDER BY user_id, event_id""")
    }),

    // Q215 — UNPIVOT (wide → long relayout): three per-line measures
    // rotated into (measure, value) rows — the inverse of q100's
    // PIVOT, one projection, no shuffle until the output sort. The
    // fixture's (orderkey, linenumber) is NOT unique, so cents joins
    // the sort key to keep the order total.
    "q215_unpivot" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql("""
        SELECT l_orderkey, l_linenumber, measure,
          CAST(ROUND(val * 100) AS BIGINT) AS cents
        FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
                l_tax FROM lineitem)
        UNPIVOT (val FOR measure IN (l_extendedprice, l_discount, l_tax))
        WHERE l_orderkey < 100
        ORDER BY l_orderkey, l_linenumber, measure, cents""")
    }),

    // Q216 — tagged-union SequenceFile values (io/GenericWritable
    // .java:80, the class-index-tagged stream): per-row-DYNAMIC value
    // types — even docs carry a LongWritable, odd docs a Text —
    // written by the stock legacy-producer twin ([[graft.sources
    // .UnionWritable]]), header-dispatched back through
    // sequenceFileAuto as struct<tag, value> (SURVEY §1.2's ADT
    // mapping). The oracle recomputes tag and payload from the
    // parquet source, so a wrong index byte, member order, or decode
    // branch flips rows. ObjectWritable (class-name-tagged) and
    // TwoDArrayWritable legs are unit-pinned in WritableUnionSpec.
    "q216_seqfile_union_values" -> ((s, d) => {
      val tmp = scratch("q216") + "/sequnion"
      graft.sources.CompatSources.sequenceFileUnionWrite(
        docs(s, d).select(col("doc_id").cast("string").as("k"),
          when(col("doc_id") % 2 === 0, lit("long")).otherwise(lit("text")).as("kind"),
          when(col("doc_id") % 2 === 0, col("n_chars").cast("string"))
            .otherwise(col("lang")).as("value")),
        tmp)
      graft.sources.CompatSources.sequenceFileAuto(s, tmp)
        .select(col("key").cast("long").as("doc_id"),
          col("value").getField("tag").as("tag"),
          col("value").getField("value").as("val"))
        .orderBy("doc_id")
    }),

    // Q217 — exact duplicated-substring extents ([[graft.llm
    // .ExactSubstring]], the Lee et al. 2022 rule): maximal per-doc
    // spans of ≥ 8 consecutive words occurring verbatim more than
    // once in the corpus — 1-based inclusive token extents, the
    // input a surgical substring-removal pass consumes. Exact (no
    // LSH/sampling recall), so the DuckDB oracle replays the
    // definition verbatim on raw gram strings while the engine keys
    // on md5(gram); the window-count/islands equivalence is the
    // whole algorithm, so any drift in tokenization, gram framing,
    // counting, or run-merging flips rows.
    "q217_exact_substring_dups" -> ((s, d) =>
      graft.llm.ExactSubstring.duplicatedExtents(docs(s, d), "doc_id", "text", 8)
        .select(col("doc_id"), col("start_idx").cast("long").as("start_idx"),
          col("end_idx").cast("long").as("end_idx"),
          col("n_words").cast("long").as("n_words"))
        .orderBy("doc_id", "start_idx")),

    // Q218 — surgical substring scrub (the second half of the Lee et
    // al. pipeline over q217's extents): every duplicated extent is
    // removed EXCEPT its canonical copy — the corpus-minimum
    // (doc_id, idx) occurrence of the extent's first gram keeps its
    // extent, so one occurrence of repeated text survives. Output is
    // per-doc before/removed word counts plus an md5 over the
    // scrubbed text re-joined in token order: both engines must agree
    // on the exact kept token SEQUENCE, not just counts.
    "q218_substring_scrub" -> ((s, d) =>
      graft.llm.ExactSubstring.scrub(docs(s, d), "doc_id", "text", 8)
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("n_removed").cast("long").as("n_removed"), col("text_md5"))
        .orderBy("doc_id")),

    // Q219 — product-quantization ENCODE ([[graft.llm.Pq]], Jégou et
    // al. 2011): each 64-dim embedding stored as 4 codes — the 32×
    // memory tier of the ANN family (int8 q41 is 4×, IVF q34 prunes
    // but stores vectors whole). The codebook here is the FIXED
    // synthetic quarter-step grid below (every value exactly
    // representable), so the oracle replays the whole encode —
    // subvector slicing, fixed-order squared-distance sums, and the
    // tie-to-lowest argmin — cross-engine; codebook TRAINING is the
    // q212-pinned deterministic Lloyd path, spec-verified in PqSpec
    // (zero-quantization-error exactness, blob recall, determinism).
    "q219_pq_encode" -> ((s, d) =>
      graft.llm.Pq.encode(emb(s, d), "vec_id", "embedding", pqSynthModel)
        .select(col("vec_id") +:
          (0 until 4).map(i => element_at(col("codes"), i + 1)
            .cast("long").as(s"c$i")): _*)
        .orderBy("vec_id")),

    // Q220 — IVF-PQ composed ANN search ([[graft.llm.Pq.ivfAdcTopK]],
    // Jégou et al. 2011 §IV): coarse cells prune WHICH vectors are
    // scanned (q34's posting lists), PQ codes over RESIDUALS compress
    // WHAT is scanned (q219's 32× tier) — the classic billion-scale
    // index shape. Both the coarse grid and the residual codebook are
    // the pinned quarter-step formulas below, so the DuckDB oracle
    // replays the ENTIRE composed path — assignment argmin, residual
    // subtraction, residual encode, per-(query, cell) LUT sums, probe
    // ranking, ADC candidate ranking — term-for-term in the same IEEE
    // evaluation order; one flipped tie or summation-order drift
    // anywhere in the three-stage pipeline flips rows.
    "q220_ivfpq_search" -> ((s, d) =>
      graft.llm.Pq.ivfAdcTopK(emb(s, d), "vec_id", "embedding",
        ivfCoarseGrid, ivfPqModel, ivfPqQueryIds, nProbe = 2, topK = 3)
        .select(col("qid"), col("vec_id"), col("rank").cast("long").as("rank"),
          col("adist"))),

    // Q221 — TPC-H Q21 shape: DOUBLY-correlated EXISTS + NOT EXISTS
    // (the inner predicates reference BOTH l1 and o_orderdate from the
    // outer block). The decorrelation stress test beyond q176 (scalar)
    // and q208 (lateral): Catalyst's RewritePredicateSubquery must
    // turn both subqueries into one LeftSemi and one LeftAnti join on
    // l_orderkey with the correlated date predicate carried as a join
    // condition — no per-row re-execution anywhere. The fixture has
    // no receipt/commit dates, so "late" is shipped > 60 days after
    // the order date. PlanSpec pins the semi/anti shape.
    "q221_multi_exists" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(q221Sql)
    }),

    // Q222 — time-grid gap fill + linear interpolation: resample each
    // user's event stream onto a dense 1-hour grid between their first
    // and last active hour, filling silent hours by interpolating
    // between the flanking observed buckets on the TIME axis. The
    // missing-data half of the resampling story (q204 downsamples to
    // OHLC bars; this reinflates). Plan: one partial-agg shuffle to
    // buckets, the grid generated from per-user (min, max) via
    // sequence+explode — O(active-span hours), never a cross join —
    // then two window passes (forward/backward last-non-null) on the
    // user_id partitioning the buckets already have. Values live in
    // INTEGER 1e-4 units end to end (the SCALE.md policy): the bucket
    // stat is max() (order-independent), and the interpolation is
    // exact integer arithmetic — round-half-away via trunc division,
    // which Spark `div` and DuckDB `//` share for all signs — so the
    // result is bit-replayable with no float-rounding tie anywhere
    // (a round(double, 4) here diverged cross-engine on exact .00005
    // midpoints, which ratio-1/2 interpolation mass-produces).
    "q222_gapfill_interp" -> ((s, d) => {
      val buckets = Tables.events(s, d)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(round(max("value") * 10000).cast("long").as("v"))
      val grid = buckets.groupBy("user_id")
        .agg(min("h").as("mn"), max("h").as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"), expr("INTERVAL 1 HOUR"))).as("h"))
      val wFwd = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
      val wBwd = Window.partitionBy("user_id").orderBy(col("h").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val known = when(col("v").isNotNull, col("h"))
      val delta = (col("nv") - col("pv")) *
        expr("timestampdiff(HOUR, ph, h)")
      val den = expr("timestampdiff(HOUR, ph, nh)")
      val interp = col("pv") + expr(
        "(2 * __delta + __sgn * __den) div (2 * __den)")
      grid.join(buckets, Seq("user_id", "h"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wFwd))
        .withColumn("ph", last(known, ignoreNulls = true).over(wFwd))
        .withColumn("nv", last(col("v"), ignoreNulls = true).over(wBwd))
        .withColumn("nh", last(known, ignoreNulls = true).over(wBwd))
        .withColumn("__delta", delta)
        .withColumn("__sgn", when(delta < 0, -1L).otherwise(1L))
        .withColumn("__den", den)
        .select(col("user_id"), col("h"),
          when(col("v").isNotNull, col("v")).otherwise(interp).as("val_e4"),
          when(col("v").isNull, 1L).otherwise(0L).as("filled"))
        .orderBy("user_id", "h")
    }),

    // Q223 — 2-D skyline (Pareto front) over parts: cheapest-for-size
    // frontier under (minimize price, maximize size). The engine
    // NEVER forms the quadratic dominance self-join: one partial-agg
    // shuffle to per-price group maxima, a running max over the
    // price-sorted GROUP frame (one row per distinct price — the only
    // single-partition step, O(distinct prices) ≪ n), then a
    // broadcast-size join back. A row survives iff it holds its price
    // group's max size AND beats every strictly-cheaper group's max.
    // The oracle is the definitional NOT EXISTS dominance test, so
    // the equivalence of the two formulations is what's checked.
    "q223_skyline" -> ((s, d) => {
      val p = Tables.part(s, d).select(col("p_partkey"),
        col("p_retailprice").as("price"), col("p_size").as("sz"))
      val groups = p.groupBy("price").agg(max("sz").as("gmax"))
      val wPrev = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
      val gm = groups.withColumn("pmax", max("gmax").over(wPrev))
      p.join(gm, Seq("price"))
        .where(col("sz") === col("gmax") &&
          (col("pmax").isNull || col("pmax") < col("sz")))
        .select(col("p_partkey"), col("price"), col("sz"))
        .orderBy("price", "p_partkey")
    }),

    // Q224 — last-touch attribution: each purchase credits the most
    // recent EARLIER non-purchase event by the same user within a
    // 7-day lookback. One window over the per-user stream — never the
    // events⋈events self-join a naive attribution writes (quadratic on
    // hot users): the ROWS frame [unbounded, -1) with a conditional
    // `last(..., ignoreNulls)` is the O(n log n)-per-user shape, one
    // hash exchange on user_id. Both the cause id and its ts come from
    // the SAME row because their CASE nulls coincide. Ties at equal ts
    // break by event_id (the window's secondary sort key) so the
    // "latest touch" is well-defined on any engine. gap_s is integer
    // (floor) seconds — order-free, engine-portable.
    // Reference twin: secondary-sorted reduce over (user, ts) streams
    // (the SecondarySort idiom, q12) — here one declarative window.
    "q224_attribution" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val causeId = when(col("event_type") =!= "purchase", col("event_id"))
      val causeTs = when(col("event_type") =!= "purchase", col("ts"))
      val inWin = col("cause_ts") >= col("ts") - expr("INTERVAL 7 DAYS")
      ev(s, d)
        .withColumn("cause_id", last(causeId, ignoreNulls = true).over(w))
        .withColumn("cause_ts", last(causeTs, ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          when(inWin, col("cause_id")).as("cause_id"),
          when(inWin, expr("(unix_micros(ts) - unix_micros(cause_ts)) div 1000000"))
            .as("gap_s"))
        .orderBy("event_id")
    }),

    // Q225 — population-stability-index drift audit between the first
    // ten sources (reference split A) and the rest (split B) over the
    // document-length distribution: the dataset-drift gate a curation
    // pipeline runs before mixing a new crawl into training data.
    // Fixed integer bins (LEAST(9, n_chars/100) — mergeable across
    // shards), add-1 smoothing so empty bins never divide by zero, and
    // the per-bin contribution (p−q)·ln(p/q) lands as a ROUND(·×1e4)
    // BIGINT so the psi total is an ORDER-FREE integer sum (double
    // summation order never reaches the output). One partial-agg
    // shuffle over ≤10 bin rows; the bin spine is a literal sequence.
    "q225_psi" -> ((s, d) => {
      val counts = docs(s, d).select(
          (expr("CAST(substring(source, 4) AS INT)") < 10).as("is_a"),
          expr("LEAST(9, n_chars DIV 100)").as("bin"))
        .groupBy("bin").agg(
          sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(col("is_a"), 0L).otherwise(1L)).as("n_b"))
      val spine = s.range(0, 10).select(col("id").as("bin"))
      // totals as window sums over the ≤10 post-agg rows (every doc
      // lands in a bin, so the window total IS the corpus total) —
      // the raw table is scanned exactly once
      val p = (col("n_a") + 1L).cast("double") / (col("tot_a") + 10L).cast("double")
      val q = (col("n_b") + 1L).cast("double") / (col("tot_b") + 10L).cast("double")
      val contrib = round((p - q) * log(p / q) * 10000).cast("long")
      spine.join(counts, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"))
        .withColumn("tot_a", expr("SUM(n_a) OVER ()"))
        .withColumn("tot_b", expr("SUM(n_b) OVER ()"))
        .select(col("bin"), col("n_a"), col("n_b"), contrib.as("contrib_e4"))
        .withColumn("psi_e4", expr("SUM(contrib_e4) OVER ()"))
        .orderBy("bin")
    }),

    // Q226 — three chained Lloyd iterations (lloydStep ∘ lloydStep ∘
    // lloydStep): the distributed-table twin of the Clustering.lloyd
    // driver loop, for k too large to inline as literals (q119's
    // Ivf-internal rounds are the cosine-metric codebook cousin;
    // q212 is ONE round of this exact integer-grid contract — this
    // query is the multi-round oracle proof of the CHAINED path,
    // which neither covers). Each round
    // re-joins the new assignment to the (persisted) vector table and
    // runs the same integer-exact step the q212 oracle replays — the
    // DuckDB side unrolls the identical CTE three times, so THREE
    // rounds of argmin/centroid state match bit-for-bit across
    // engines, not just one. At 100 TB each round is one d·k-cell
    // partial-agg shuffle + a broadcast of centroids. Runs through
    // [[graft.llm.Clustering.iterateSteps]] — the production chained
    // loop: assignment checkpointed per round (q49 explicit-RDD
    // lifecycle, bounded plan depth at any round count), vectors
    // persisted once and released via the handle.
    "q226_kmeans_iter" -> ((s, d) => {
      // The per-round cut stays: the r20 uncut-DAG variant (one cut
      // after 3 rounds) re-embeds each round's plan in the next
      // round's centroid aggregate AND assignment join, so round work
      // compounds — a bench-style A/B with construction timed
      // (optimization r20 §4) measured ~2× the CPU and ~1.6× the
      // wall of the per-round cut, and the r20 final bench caught it
      // (3.21 → 3.69 s, cpu 5.4 → 13.5). The per-round count() jobs
      // are the cheaper evil at this size; the stage-latency floor
      // (~1 s/round at sf0.1) is inherent to the chained contract.
      val r = graft.llm.Clustering.iterateSteps(
        emb(s, d).select(col("vec_id"), col("embedding"), col("label")),
        "vec_id", "embedding", "label", rounds = 3, dim = 64, scale = 1000)
      r.release() // result is checkpoint-rooted; the vector cache can go
      r.assign.groupBy(col("label").as("cluster"))
        .agg(count(lit(1)).as("n"), sum("vec_id").as("id_sum"))
        .orderBy("cluster")
    }),

    // Q229 — as-of join with a tolerance (pandas merge_asof): each
    // purchase looks up the latest click value by the same user, but
    // a click older than one hour EXPIRES to null instead of serving
    // stale state. Exercises ops.TemporalJoins.asOfWithin — q35's
    // union+window as-of plan (one keyed shuffle, no per-key cross
    // product) with the right timestamp riding in the carry struct
    // and the age check as a map-side scalar.
    "q229_asof_tolerance" -> ((s, d) => {
      val e = ev(s, d)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      graft.ops.TemporalJoins.asOfWithin(purchases, clicks, "user_id",
          "ts", "ts", Map("value" -> "click_value"), toleranceSeconds = 3600)
        .select(col("event_id"), col("user_id"),
          round(col("click_value"), 4).as("click_value"))
        .orderBy("event_id")
    }),

    // Q230 — hashed-feature linear quality classifier (the
    // fasttext-shaped scoring pass a curation pipeline runs per doc):
    // distinct token FNV-64 hashes (the shingle_hashes n=1 native
    // expression — one codegen'd pass, no shuffle) fold into 4096
    // feature buckets, a synthetic oracle-pinned weight table
    // w(b) = (b·31+7) mod 201 − 100 replaces trained weights (the
    // q219 synthetic-codebook pattern: the MODEL is fixture, the
    // PLUMBING is real), and the doc score is sigmoid(Σw / 100n).
    // Σw is an exact integer fold over the hash array — map-only,
    // order-free; the only doubles are one division, one exp, one
    // round. 4096 buckets bounds the feature space at any corpus
    // size — the entire model broadcasts as 32 KB regardless of
    // vocabulary (the feature-hashing trick, Weinberger et al. 2009).
    "q230_quality_classifier" -> ((s, d) =>
      graft.llm.HashedClassifier.score(docs(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // Q231 — mergeable log₂-binned quantile sketch: the O(bins)
    // approximation tier between q63's equi-width histogram and q87's
    // exact percentile (whose state is O(group) — the any-cardinality
    // path q87's own scaladoc defers to a mergeable sketch). Bin =
    // floor(log₂ cents) as LENGTH(BIN(x))−1 (the q92 exact-integer
    // idiom — no float log, no boundary ulp), so the histogram is
    // integers end to end: shard histograms merge by count addition,
    // the quantile is the first bin where 100·cum ≥ q·n (integer
    // cross-multiplication, no division), and the reported bound is
    // the bin's exact lower edge 2^b in cents. One partial-agg
    // shuffle to ≤64 bins per group at ANY data size; relative error
    // is bounded by the bin ratio (2×) like any log-binned sketch.
    "q231_binned_quantiles" -> ((s, d) => {
      val cents = expr("GREATEST(CAST(ROUND(value * 100) AS BIGINT), 1)")
      val hist = graft.ops.QuantileSketch.histogram(
        ev(s, d), "event_type", cents)
      graft.ops.QuantileSketch.quantiles(hist, "event_type", Seq(50, 90, 99))
        .orderBy("event_type")
    }),

    // Q232 — curation v5: the Lee et al. exact-substring pipeline
    // END-TO-END, composed from verified primitives the way a real
    // corpus run ships it: scrub every duplicated ≥8-token extent
    // except its canonical copy (q217/q218 machinery via
    // [[graft.llm.ExactSubstring.scrubText]]), drop fully-scrubbed
    // documents, then RE-chunk the scrubbed text into 32-token
    // windows with 8-token overlap (q66) and RE-pack the scrubbed
    // token counts into 256-token training batches (q65's two-phase
    // prefix sum). The scrubbed corpus is the diamond fork — it feeds
    // chunking, packing, and the audit column — so it persists once
    // (SCALE.md diamond policy; spec-asserted in CurationV5Spec).
    // Output: one row per chunk with its doc's pack assignment and
    // scrub audit. The oracle re-derives the entire chain.
    "q232_curation_v5" -> ((s, d) => {
      val scrubbed = graft.llm.ExactSubstring
        .scrubText(docs(s, d), "doc_id", "text", 8)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val alive = scrubbed.where(col("n_kept") > 0)
      val chunks = graft.llm.Chunking.chunkTokens(alive, "doc_id", "text",
        maxTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id"), col("n_tok"),
          md5(col("chunk").cast("binary")).as("chunk_md5"))
      val packs = graft.llm.Packing.packSequences(
        alive.select(col("doc_id"), col("n_kept").as("n_tok")),
        "doc_id", "n_tok", budget = 256)
        .select(col("doc_id"), col("pack_id"))
      chunks
        .join(packs, "doc_id")
        .join(alive.select(col("doc_id"), col("n_removed")), "doc_id")
        .select(col("doc_id"), col("chunk_id"), col("n_tok"), col("chunk_md5"),
          col("n_removed"), col("pack_id"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Q233 — WAV/PCM sample-level decode ([[graft.sources.Multimodal
    // .parseWavPcm]], the codec-free real tier of the audio path):
    // each document synthesizes a WAV payload from a deterministic
    // integer-sample formula (the q219 synthetic-model pattern — the
    // FIXTURE is formulaic, the byte-level DECODE under test is
    // real), the engine round-trips samples → RIFF bytes → chunk-walk
    // decode → peak/RMS, and the oracle computes the same stats
    // DIRECTLY from the formula — so the engines agree iff the byte
    // encode/decode is exact. Samples are multiples of 4096 (⇒
    // amplitudes multiples of ⅛, squares multiples of 1/64): every
    // partial sum is an exact double, leaving one IEEE division and
    // one sqrt — bit-identical cross-engine. Every 50th payload is
    // deliberately not audio (the crawled-corpus reality) and must
    // surface as nulls, not errors. Map-only; payload bytes never
    // shuffle (the Multimodal plumbing contract).
    "q233_pcm_decode" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "not audio at all".getBytes("UTF-8"))
        else {
          val n = (8 + id % 32).toInt
          val b = java.nio.ByteBuffer.allocate(44 + n * 2)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.put("RIFF".getBytes("US-ASCII")).putInt(36 + n * 2)
            .put("WAVE".getBytes("US-ASCII"))
            .put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1).putShort(1).putInt(8000).putInt(16000)
            .putShort(2).putShort(16)
            .put("data".getBytes("US-ASCII")).putInt(n * 2)
          (0 until n).foreach { i =>
            b.putShort(((((id * 7 + i * 5) % 16) - 8) * 4096).toShort)
          }
          (id, b.array())
        }
      }.toDF("doc_id", "wav")
      graft.sources.Multimodal.describePcm(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "wav", "audio"))
        .orderBy("media_id")
    }),

    // Q234 — BMP pixel decode ([[graft.sources.Multimodal
    // .parseBmpPixels]], the image sibling of q233's PCM tier:
    // uncompressed 24bpp BMP is raw pixels behind two plain headers —
    // no codec exists to stub): each document synthesizes a BMP from
    // a per-pixel channel formula, the engine round-trips pixels →
    // padded bottom-up BGR rows → header-walk decode → per-channel
    // INTEGER sums, and the oracle computes the same sums directly
    // from the formula. Integers end to end — the engines agree iff
    // the byte layout (row padding, BGR order, bottom-up rows, data
    // offset) is decoded exactly. Every 50th payload is non-image →
    // nulls. Map-only; payloads never shuffle.
    "q234_bmp_decode" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "not an image".getBytes("UTF-8"))
        else {
          val w = (2 + id % 6).toInt; val h = (1 + id % 4).toInt
          val rowBytes = ((w * 3 + 3) / 4) * 4
          val size = 54 + rowBytes * h
          val b = java.nio.ByteBuffer.allocate(size)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.put('B'.toByte).put('M'.toByte).putInt(size)
            .putShort(0).putShort(0).putInt(54)
          b.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
            .putInt(0).putInt(rowBytes * h)
            .putInt(2835).putInt(2835).putInt(0).putInt(0)
          (0 until h).foreach { row =>
            val y = h - 1 - row // bottom-up row order
            (0 until w).foreach { x =>
              b.put(((id * 11 + x + y * 17) % 256).toByte)      // B
              b.put(((id * 7 + x * 13 + y * 3) % 256).toByte)   // G
              b.put(((id * 3 + x * 5 + y * 11) % 256).toByte)   // R
            }
            (w * 3 until rowBytes).foreach(_ => b.put(0.toByte))
          }
          (id, b.array())
        }
      }.toDF("doc_id", "bmp")
      graft.sources.Multimodal.describeBmp(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "bmp", "image"))
        .orderBy("media_id")
    }),

    // Q235 — animated-GIF frame walk ([[graft.sources.Multimodal
    // .parseGifFrames]]): frame count + total animation duration
    // parsed from the real block stream (Graphic Control Extension
    // delays, length-prefixed sub-block skips) WITHOUT decoding LZW
    // pixel data — the container-walk skeleton under the frame-sample
    // story. Synthesis/oracle contract as q233/q234: each document
    // builds a GIF whose frame count and per-frame delays follow a
    // formula, the engine walks the bytes, the oracle re-derives the
    // numbers directly. The LZW payload bytes are arbitrary garbage
    // the walker must SKIP via sub-block lengths — decoding them is
    // exactly what this tier doesn't need. Map-only, no shuffle.
    "q235_gif_frames" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "definitely not a gif".getBytes("UTF-8"))
        else {
          val w = (2 + id % 7).toInt; val h = (1 + id % 3).toInt
          val nf = (1 + id % 5).toInt
          val bb = new java.io.ByteArrayOutputStream()
          def b(x: Int): Unit = bb.write(x & 0xff)
          "GIF89a".getBytes("US-ASCII").foreach(x => bb.write(x))
          b(w); b(w >> 8); b(h); b(h >> 8) // logical screen w, h (LE)
          b(0); b(0); b(0)                 // no GCT, bg, aspect
          (0 until nf).foreach { f =>
            val delay = (10 + (id + f) % 20).toInt // hundredths of a second
            b(0x21); b(0xf9); b(4); b(0)          // GCE: ext, label, size, flags
            b(delay); b(delay >> 8); b(0); b(0)   // delay LE, transparent, term
            b(0x2c); b(0); b(0); b(0); b(0)       // image descriptor at (0,0)
            b(w); b(w >> 8); b(h); b(h >> 8); b(0) // frame w/h, no LCT
            b(2)                                   // LZW min code size
            b(3); b((id + f).toInt & 0xff); b(0x55); b(0xaa) // garbage data block
            b(0)                                   // sub-block terminator
          }
          b(0x3b) // trailer
          (id, bb.toByteArray)
        }
      }.toDF("doc_id", "gif")
      graft.sources.Multimodal.describeGif(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "gif", "video"))
        .orderBy("media_id")
    }),

    // Q236 — DSIR importance scoring ([[graft.llm.Dsir]], Xie et al.
    // 2023): every document scored by the smoothed log-likelihood
    // ratio of its hashed token features under a TARGET domain
    // (doc_id ≡ 0 mod 7 — a deterministic domain stand-in, the q219
    // fixture pattern) vs the raw corpus — the distribution-matching
    // alternative to q230's binary classifier. One ROUND per bucket
    // turns the 1024 log-ratios into integer 1e-4 weights; from there
    // every per-document sum is exact integer arithmetic, replayed
    // verbatim by the oracle through the shared FNV token-hash CTEs.
    // Plan: two (bucket)-keyed partial-agg shuffles for the counts, a
    // 1024-row broadcast to the scoring join, one per-doc aggregate.
    "q236_dsir_importance" -> ((s, d) => {
      val raw = docs(s, d)
      val w = graft.llm.Dsir.weights(
        raw, raw.where(col("doc_id") % 7 === 0), "doc_id", "text", 1024)
      graft.llm.Dsir.score(raw, w, "doc_id", "text", 1024)
        .withColumn("selected",
          coalesce(col("score_e4") > 0, lit(false)))
        .orderBy("doc_id")
    }),

    // Q237 — SEMANTIC decontamination ([[graft.llm.Decontamination
    // .semanticFlags]]): the embedding-space leg beside the exact
    // n-gram (q69) and bloom-prefiltered (q93) paths — a paraphrased
    // benchmark answer shares no n-gram but sits next to its eval
    // item in embedding space. Eval set = vec_id ≡ 0 mod 101 (the
    // deterministic stand-in), broadcast against the corpus scan; the
    // flag compares the ROUNDED max cosine so both engines make the
    // identical boundary decision. Map-only over the corpus + one
    // per-id partial max — vectors never shuffle.
    "q237_semantic_decon" -> ((s, d) => {
      val e = emb(s, d)
      graft.llm.Decontamination.semanticFlags(
        e.where(col("vec_id") % 101 =!= 0),
        e.where(col("vec_id") % 101 === 0),
        "vec_id", "embedding", threshold = 0.25)
        .orderBy("vec_id")
    }),

    // Q238 — Unicode text folding ([[graft.functions.FoldText]]):
    // NFC-compose, strip diacritics, casefold — the normalization a
    // multilingual pipeline runs before hashing/dedup so visually
    // identical strings hash identically. The corpus is ASCII word
    // soup, so each document gains a deterministic multilingual tail
    // (including a DECOMPOSED accent sequence — the case where
    // skipping NFC silently splits dedup groups); the oracle replays
    // the fold as DuckDB's lower(strip_accents(nfc_normalize(…))) —
    // both sides implement the Unicode standard algorithms, so they
    // agree by spec. Map-only (one native expression), no shuffle.
    // Q242 — PNG pixel decode ([[graft.sources.Multimodal
    // .parsePngPixels]]): the COMPRESSED-image tier that needs no
    // external codec after all — PNG's codec is zlib
    // (java.util.zip.Inflater) plus the spec's five scanline filters,
    // both implemented from the specification. Same
    // synthesize-and-replay contract as q234: each document builds a
    // real zlib-deflated 8-bit truecolor PNG from a pixel formula
    // (CRC32-correct chunks — javax.imageio accepts these fixtures,
    // differential-spec-pinned), the engine inflates + unfilters +
    // sums, the oracle computes the sums directly. Every 50th payload
    // is non-PNG → nulls. Map-only; payloads never shuffle. The
    // ImageIO-encoded differential covers filters 1-4 on bytes a
    // THIRD party chose; this fixture uses filter 0 so the formula
    // stays SQL-replayable.
    "q242_png_decode" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "png? hardly".getBytes("UTF-8"))
        else {
          val w = (2 + id % 5).toInt; val h = (1 + id % 3).toInt
          (id, pngRgbFixture(w, h, (x, y) => (
            ((id * 5 + x * 7 + y * 13) % 256).toInt,
            ((id * 3 + x * 11 + y) % 256).toInt,
            ((id + x + y * 19) % 256).toInt)))
        }
      }.toDF("doc_id", "png")
      graft.sources.Multimodal.describePng(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "png", "image"))
        .orderBy("media_id")
    }),

    // Q244 — palette PNG decode ([[graft.sources.Multimodal
    // .parsePngPixels]], color type 3): the web-graphics shape — a
    // PLTE lookup table with indices packed at 1/2/4/8 bits per
    // pixel, cycling all four depths across the corpus. Same
    // synthesize-and-replay contract as q242: palette entries and
    // index grid come from integer formulas, the engine re-derives
    // the channel sums THROUGH deflate → inflate → unfilter → unpack
    // → palette lookup, the oracle computes them directly. Every
    // 50th payload is non-PNG → nulls. Map-only; payloads never
    // shuffle.
    "q244_png_palette" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "png? still not".getBytes("UTF-8"))
        else {
          val depth = Seq(1, 2, 4, 8)((id % 4).toInt)
          val n = 1 << depth
          val w = (3 + id % 6).toInt; val h = (1 + id % 4).toInt
          val stride = (w * depth + 7) / 8
          val raw = new Array[Byte](h * (1 + stride))
          val perByte = 8 / depth
          (0 until h).foreach { y =>
            val base = y * (1 + stride)
            raw(base) = 0 // filter None
            (0 until w).foreach { x =>
              val idx = ((id + x * 3 + y * 5) % n).toInt
              val shift = 8 - depth - (x % perByte) * depth
              raw(base + 1 + x / perByte) =
                (raw(base + 1 + x / perByte) | (idx << shift)).toByte
            }
          }
          val plte = Array.tabulate(n * 3) { k =>
            val i = k / 3
            (k % 3 match {
              case 0 => (i * 37) % 256
              case 1 => (i * 59) % 256
              case _ => (i * 83) % 256
            }).toByte
          }
          (id, pngSig ++ pngChunk("IHDR", pngIhdr(w, h, depth, 3)) ++
            pngChunk("PLTE", plte) ++ pngChunk("IDAT", deflateFully(raw)) ++
            pngChunk("IEND", Array.emptyByteArray))
        }
      }.toDF("doc_id", "png")
      graft.sources.Multimodal.describePng(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "png", "image"))
        .orderBy("media_id")
    }),

    // Q253 — audio fingerprint ([[graft.sources.Multimodal
    // .audioEnergyHash]]): dedup's third modality — 65 equal energy
    // windows over the decoded G.711 samples, bit = adjacent-window
    // energy comparison; integer end to end, so the oracle replays
    // μ-law expansion → Σs² windows → comparisons → bit pack in SQL
    // (halves, like q251). Frame counts are exact multiples of 65 so
    // the window math is remainder-free on both sides. Near-dup
    // pairs share [[graft.sources.Multimodal.hammingPairs64]]
    // (q252-pinned). Map-only.
    "q253_audio_fingerprint" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "audio? inaudible".getBytes("UTF-8"))
        else (id, auFixture(1, 65 * (2 + id % 3).toInt,
          i => ((id * 7 + i * 13) % 256).toInt))
      }.toDF("doc_id", "snd")
      graft.sources.Multimodal.describeAudioHash(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "snd", "audio"))
        .select(col("media_id"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"),
          (col("ahash").bitwiseAND(lit(0xffffffffL))).as("ahash_lo"))
        .orderBy("media_id")
    }),

    // Q254 — video container metadata ([[graft.sources.Multimodal
    // .parseMp4Tracks]]/[[graft.sources.Multimodal.parseAviHeader]]):
    // the video tier promoted past the movie-level mvhd walk — MP4
    // per-track walk (tkhd 16.16 dims, hdlr class, stsd codec fourcc,
    // stsz sample count, mdhd duration) reporting the first `vide`
    // track, AVI avih main header. Synthesize-and-replay oracle: the
    // fixtures write the boxes from doc_id-derived integers, the SQL
    // replays the formulas; duration math is exact integer on both
    // sides (mp4: 512·ns·1000/12800 = 40·ns; avi: frames·µsf//1000).
    // Map-only — payload bytes never cross a shuffle.
    "q254_video_metadata" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "video? nope".getBytes("UTF-8"))
        else if (id % 7 == 3)
          (id, aviFixture((320 + (id % 5) * 16).toInt,
            (240 + (id % 4) * 16).toInt, (24 + id % 100).toInt,
            (33000 + (id % 3) * 1000).toInt, (1 + id % 2).toInt))
        else {
          val ns = (24 + id % 96).toInt
          val codec = (id % 3) match {
            case 0 => "avc1"; case 1 => "hvc1"; case _ => "vp09" }
          (id, mp4Fixture(Seq(
            (1, "vide", codec, (16 * (2 + id % 20)).toInt,
              (9 * (2 + id % 20)).toInt, ns, 12800, 512 * ns),
            (2, "soun", "mp4a", 0, 0, 2 * ns, 48000, 1024 * ns))))
        }
      }.toDF("doc_id", "vid")
      graft.sources.Multimodal.describeVideo(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "vid", "video"))
        .orderBy("media_id")
    }),

    // Q255 — Matroska/WebM metadata ([[graft.sources.Multimodal
    // .parseMkvTracks]]): the EBML leg of the video tier through the
    // SAME describeVideo route — DocType picks the reported format,
    // Info carries a 1 ms TimestampScale so the float Duration (an
    // exact small integer in the fixture) replays as integer ms in
    // SQL; EBML headers carry no per-track sample count, so
    // n_samples is null BY CONTRACT on this leg. Map-only.
    "q255_mkv_metadata" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "ebml? hardly".getBytes("UTF-8"))
        else {
          val codec = (id % 3) match {
            case 0 => "V_VP9"; case 1 => "V_AV1"; case _ => "V_MPEG4/ISO/AVC" }
          (id, mkvFixture(if (id % 2 == 0) "webm" else "matroska",
            (1000 + id % 900).toInt, Seq(
              (1, 1, codec, (16 * (2 + id % 30)).toInt, (9 * (2 + id % 30)).toInt),
              (2, 2, "A_OPUS", 0, 0))))
        }
      }.toDF("doc_id", "vid")
      graft.sources.Multimodal.describeVideo(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "vid", "video"))
        .orderBy("media_id")
    }),

    // Q256 — EXIF metadata ([[graft.sources.Multimodal.parseExif]]):
    // the curation facts riding inside crawled images — orientation
    // (rotation normalization), camera make/model, capture timestamp,
    // Exif-IFD pixel dims — parsed from a REAL ImageIO JPEG with the
    // APP1 segment spliced after SOI (every 5th payload exercises the
    // bare-TIFF entry instead). Synthesize-and-replay oracle: string
    // and integer formulas replay directly. Map-only.
    "q256_exif" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "exif? never".getBytes("UTF-8"))
        else {
          val tiff = exifTiff((1 + id % 8).toInt, s"Camera${id % 5}",
            s"Model${id % 4}", f"2020:01:01 00:00:${id % 60}%02d",
            (16 * (1 + id % 10)).toInt, (9 * (1 + id % 10)).toInt)
          if (id % 5 == 1) (id, tiff) else (id, jpegWithExif(tiff))
        }
      }.toDF("doc_id", "img")
      graft.sources.Multimodal.describeExif(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "img", "image"))
        .orderBy("media_id")
    }),

    // Q257 — MP3 stream facts ([[graft.sources.Multimodal
    // .parseMp3]]): the frame WALK, not a CBR guess — every header's
    // own computed length steps the cursor, an ID3v2 syncsafe prefix
    // is skipped, and duration is exact integer math (the 32 kHz
    // fixture makes frame length 4.5·kbps and duration 36 ms/frame
    // on both engines). Map-only.
    "q257_mp3_metadata" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "mp3? silence".getBytes("UTF-8"))
        else {
          val kbps = (id % 3) match { case 0 => 64; case 1 => 128; case _ => 160 }
          (id, mp3Fixture(kbps, id % 2 == 0, (5 + id % 20).toInt,
            if (id % 3 == 0) (17 + id % 40).toInt else 0))
        }
      }.toDF("doc_id", "snd")
      graft.sources.Multimodal.describeMp3(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "snd", "audio"))
        .orderBy("media_id")
    }),

    // Q258 — VIDEO FRAME decode ([[graft.sources.Multimodal
    // .parseAviFrames]]): the tier that retires the "video pixel
    // decode is stubbed" boundary for the two JVM-decodable codecs —
    // MJPEG (every movi chunk is a complete baseline JPEG, decoded by
    // the proven T.81 machinery) and uncompressed 24bpp DIB. One row
    // per decoded frame; the audioFirst leg routes chunks by stream
    // index (01dc), and the quality-1.0 flat-tile trick makes the
    // lossy codec SQL-replayable per frame. flatMap kernel — payload
    // bytes never cross a shuffle at any corpus size.
    "q258_video_frames" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "avi? no".getBytes("UTF-8"))
        else if (id % 5 == 2) {
          val w = (4 + id % 7).toInt; val h = (2 + id % 3).toInt
          val n = (2 + id % 4).toInt
          val frames = (0 until n).map(f => dibFrameFixture(w, h, (x, r) => (
            ((id + f * 17 + x * 3 + r * 7) % 256).toInt,
            ((id * 2 + f * 5 + x * 11 + r) % 256).toInt,
            ((id * 3 + f + x + r * 13) % 256).toInt)))
          (id, aviFixture(mjpeg = false, w, h, frames, audioFirst = false))
        } else {
          val tw = (1 + id % 2).toInt
          val n = (2 + id % 3).toInt
          val frames = (0 until n).map(f => jpegFlatTileFixture(tw, 1,
            (tx, _) => ((id * 7 + f * 11 + tx * 13) % 256).toInt,
            progressive = false))
          (id, aviFixture(mjpeg = true, 16 * tw, 16, frames,
            audioFirst = id % 4 == 1))
        }
      }.toDF("doc_id", "vid")
      graft.sources.Multimodal.describeVideoFrames(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "vid", "video"))
        .orderBy("media_id", "frame_idx")
    }),

    // Q274 — MP4 sample-table frame decode ([[graft.sources
    // .Multimodal.parseMp4Frames]]): q258's MJPEG leg through the
    // DOMINANT container — samples located via the ISO-BMFF
    // stsc×stco×stsz walk (single-chunk AND 2-sample-chunk layouts by
    // id parity, so the sample-to-chunk run logic is exercised) and
    // decoded by the same T.81 path. Same flat-tile frame formulas as
    // q258's mjpeg leg, so the oracle replays them; the container
    // routing is what's under test. flatMap kernel.
    "q274_mp4_frames" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "mp4? no".getBytes("UTF-8"))
        else {
          val tw = (1 + id % 2).toInt
          val n = (2 + id % 3).toInt
          val frames = (0 until n).map(f => jpegFlatTileFixture(tw, 1,
            (tx, _) => ((id * 7 + f * 11 + tx * 13) % 256).toInt,
            progressive = false))
          (id, mp4MjpegFixture(16 * tw, 16, frames, multiChunk = id % 2 == 1))
        }
      }.toDF("doc_id", "vid")
      graft.sources.Multimodal.describeVideoFrames(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "vid", "video"))
        .orderBy("media_id", "frame_idx")
    }),

    // Q259 — per-frame video perceptual hashes ([[graft.sources
    // .Multimodal.describeVideoHashes]]): q251's dHash lifted through
    // the AVI container walk — every decoded frame (MJPEG via the
    // T.81 grid path, DIB via the padded bottom-up layout) gets the
    // 9×8 floor-boundary luma hash. The oracle replays pixel →
    // luma → block sum·count cross products → bit pack per FRAME in
    // integer SQL; the MJPEG leg rides the flat-tile losslessness
    // (quality-1.0 tiles decode bit-exactly, r=g=b=v ⇒ luma=1000·v).
    // Hash ships as 32-bit halves (q251 contract). Map-only.
    "q259_video_framehash" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "video? hardly".getBytes("UTF-8"))
        else if (id % 5 == 2) {
          val tw = (1 + id % 2).toInt
          val n = (2 + id % 3).toInt
          val frames = (0 until n).map(f => jpegFlatTileFixture(tw, 1,
            (tx, _) => ((id * 7 + f * 11 + tx * 13) % 256).toInt,
            progressive = false))
          (id, aviFixture(mjpeg = true, 16 * tw, 16, frames,
            audioFirst = id % 4 == 1))
        } else {
          val n = (2 + id % 4).toInt
          val frames = (0 until n).map(f => dibFrameFixture(18, 16, (x, r) => {
            val y = 15 - r
            (((id * 5 + f * 7 + x * 13 + y * 29) % 256).toInt,
              ((id * 3 + f * 11 + x * 3 + y * 17) % 256).toInt,
              ((id * 7 + f * 13 + x + y * 7) % 256).toInt)
          }))
          (id, aviFixture(mjpeg = false, 18, 16, frames, audioFirst = false))
        }
      }.toDF("doc_id", "vid")
      graft.sources.Multimodal.describeVideoHashes(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "vid", "video"))
        .select(col("media_id"), col("frame_idx"),
          shiftrightunsigned(col("dhash"), 32).as("dhash_hi"),
          (col("dhash").bitwiseAND(lit(0xffffffffL))).as("dhash_lo"))
        .orderBy("media_id", "frame_idx")
    }),

    // Q260 — video near-dup pairs ([[graft.sources.Multimodal
    // .videoNearDupPairs]]): banded (frame_idx, 16-bit chunk) join
    // over per-frame dHashes — only ALIGNED frames can meet, any
    // aligned pair within Hamming 3 shares a chunk (pigeonhole), and
    // a pair survives when 2·matched ≥ min frame count — all integer.
    // The corpus plants sextets: members share a base video (id/6,
    // same frame count) and perturb one pixel per member, so sextet
    // frames collide or nearly collide while strangers sit ~32 bits
    // apart. The oracle recomputes every frame hash and takes
    // all-pairs aligned XOR bit counts — pinning the hash, the
    // pigeonhole completeness AND the threshold arithmetic.
    "q260_video_neardup" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "video? hardly".getBytes("UTF-8"))
        else {
          val g = id / 6
          val n = (3 + g % 2).toInt
          val frames = (0 until n).map(f => dibFrameFixture(18, 16, (x, r) => {
            val y = 15 - r
            val bump = if (x == (id % 6) * 2 && y == 3) 40 else 0
            (math.min(255, ((g * 11 + f * 19 + x * 17 + y * 23) % 200) + bump).toInt,
              ((g * 13 + f * 7 + x * 5 + y * 19) % 256).toInt,
              ((g * 17 + f * 3 + x * 7 + y * 3) % 256).toInt)
          }))
          (id, aviFixture(mjpeg = false, 18, 16, frames, audioFirst = false))
        }
      }.toDF("doc_id", "vid")
      val hashes = graft.sources.Multimodal.describeVideoHashes(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "vid", "video"))
      graft.sources.Multimodal.videoNearDupPairs(hashes, 3)
        .select(col("id1"), col("id2"),
          col("matched_frames").cast("long").as("matched_frames"),
          col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"))
        .orderBy("id1", "id2")
    }),

    // Q261 — subtitle/caption extraction ([[graft.sources.Subtitles
    // .describeSubtitles]]): SRT and WebVTT parsed to one row per cue
    // with integer millisecond timings — the text half of video-text
    // training pairs. The VTT leg exercises the header block, a NOTE
    // comment, cue-id lines, optional hours and settings after the
    // end stamp; the SRT leg exercises index lines, comma stamps and
    // multi-line cue text. The oracle replays the integer timing
    // formulas and the exact text (chr(10) for the SRT two-liners).
    // flatMap kernel, payloads never shuffle.
    "q261_subtitles" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "subtitle? nope".getBytes("UTF-8"))
        else {
          val n = (1 + id % 4).toInt
          def startMs(k: Int) = (id % 900) * 1000 + k * 1500
          val body = if (id % 3 == 0) {
            val blocks = (0 until n).map { k =>
              s"cue-$id-$k\n${subStamp(startMs(k), '.', short = true)} --> " +
                s"${subStamp(startMs(k) + 1200, '.', short = true)} align:start\n" +
                s"cue $id $k"
            }
            s"WEBVTT - fixture $id\nKind: captions\n\nNOTE generated fixture\n\n" +
              blocks.mkString("\n\n") + "\n"
          } else {
            val blocks = (0 until n).map { k =>
              val extra = if (k % 2 == 0) s"\nmore $k" else ""
              s"${k + 1}\n${subStamp(startMs(k), ',', short = false)} --> " +
                s"${subStamp(startMs(k) + 1200, ',', short = false)}\n" +
                s"cue $id $k$extra"
            }
            blocks.mkString("\n\n") + "\n"
          }
          (id, body.getBytes("UTF-8"))
        }
      }.toDF("doc_id", "sub")
      graft.sources.Subtitles.describeSubtitles(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "sub", "subtitle"))
        .orderBy("media_id", "cue_idx")
    }),

    // Q262 — scene segmentation / keyframe selection ([[graft.sources
    // .Multimodal.sceneCuts]]): a frame starts a new scene when its
    // dHash moves > 10 bits from the previous frame's — the sampling
    // primitive that picks one keyframe per scene instead of every
    // frame. Fixture frames repeat a per-scene formula (f/3), so
    // within-scene hamming is 0; the oracle replays hash → LAG →
    // bit-count cut → running scene sum → rollup, pinning the whole
    // chain whatever each boundary's actual distance is. One window
    // shuffle keyed by video, then a partial-agg rollup.
    "q262_scene_cuts" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "video? hardly".getBytes("UTF-8"))
        else {
          val n = (5 + id % 4).toInt
          val frames = (0 until n).map { f =>
            val sc = f / 3
            dibFrameFixture(18, 16, (x, r) => {
              val y = 15 - r
              (((id * 5 + sc * 97 + x * 13 + y * 29) % 256).toInt,
                ((id * 3 + sc * 89 + x * 3 + y * 17) % 256).toInt,
                ((id * 7 + sc * 83 + x + y * 7) % 256).toInt)
            })
          }
          (id, aviFixture(mjpeg = false, 18, 16, frames, audioFirst = false))
        }
      }.toDF("doc_id", "vid")
      val hashes = graft.sources.Multimodal.describeVideoHashes(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "vid", "video"))
      graft.sources.Multimodal.sceneCuts(hashes, 10)
        .select(col("media_id"),
          col("scene_idx").cast("long").as("scene_idx"),
          col("start_frame").cast("long").as("start_frame"),
          col("n_frames").cast("long").as("n_frames"))
        .orderBy("media_id", "scene_idx")
    }),

    // Q263 — video-text pair building ([[graft.sources.Subtitles
    // .alignCuesToFrames]]): the capstone over BOTH new decode paths —
    // cues from real SRT payloads, frames from real AVI decode, and
    // each cue aligned to the in-range frame closest to its midpoint
    // (integer |2t−(s+e)| distance, ties → lower frame). The join is
    // media-id-keyed with the range as residual (plan-pinned: never a
    // cross product). The oracle replays cue timings, frame grid
    // (25 fps ⇒ 40 ms) and the argmin pick.
    "q263_cue_frame_align" -> ((s, d) => {
      import s.implicits._
      val base = docIds(s, d)
      val subPay = base.map { id =>
        if (id % 50 == 0) (id, "subtitle? nope".getBytes("UTF-8"))
        else {
          val n = (1 + id % 3).toInt
          val blocks = (0 until n).map { k =>
            val st = k * 90L + (id % 7) * 10
            s"${k + 1}\n${subStamp(st, ',', short = false)} --> " +
              s"${subStamp(st + 100, ',', short = false)}\ncue $id $k"
          }
          (id, (blocks.mkString("\n\n") + "\n").getBytes("UTF-8"))
        }
      }.toDF("doc_id", "sub")
      val vidPay = base.map { id =>
        if (id % 50 == 0) (id, "video? hardly".getBytes("UTF-8"))
        else {
          val n = (5 + id % 4).toInt
          val frames = (0 until n).map(f => dibFrameFixture(18, 16, (x, r) => (
            ((id + f * 17 + x * 3 + r * 7) % 256).toInt,
            ((id * 2 + f * 5 + x * 11 + r) % 256).toInt,
            ((id * 3 + f + x + r * 13) % 256).toInt)))
          (id, aviFixture(mjpeg = false, 18, 16, frames, audioFirst = false))
        }
      }.toDF("doc_id", "vid")
      val cues = graft.sources.Subtitles.describeSubtitles(
        graft.sources.Multimodal.asMedia(subPay, "doc_id", "sub", "subtitle"))
      val frames = graft.sources.Multimodal.describeVideoFrames(
        graft.sources.Multimodal.asMedia(vidPay, "doc_id", "vid", "video"))
      graft.sources.Subtitles.alignCuesToFrames(cues, frames, 40)
        .orderBy("media_id", "cue_idx")
    }),

    // Q264 — VTT cue-markup stripping ([[graft.sources.Subtitles
    // .stripCueMarkup]]): real WebVTT cue text carries voice spans,
    // styling tags, karaoke timestamps and character entities; the
    // training-text form drops tags, keeps content, decodes
    // &amp;/&lt;/&gt;/&nbsp;. Fixtures wrap every cue in
    // <v Speaker>…</v> with nested <i>, an inline timestamp and
    // &amp;; the oracle states the clean text directly. Map-only.
    "q264_cue_markup" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "subtitle? nope".getBytes("UTF-8"))
        else {
          val n = (1 + id % 3).toInt
          val blocks = (0 until n).map { k =>
            val st = k * 2000L + id % 100
            s"${subStamp(st, '.', short = true)} --> ${subStamp(st + 1500, '.', short = true)}\n" +
              s"<v Speaker${id % 3}>cue <i>$id</i> <00:00:01.000>$k &amp; more</v>"
          }
          (id, (s"WEBVTT\n\n" + blocks.mkString("\n\n") + "\n").getBytes("UTF-8"))
        }
      }.toDF("doc_id", "sub")
      graft.sources.Subtitles.describeSubtitles(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "sub", "subtitle"),
          1 << 16, stripMarkup = true)
        .orderBy("media_id", "cue_idx")
    }),

    // Q265 — cross-video boilerplate cues ([[graft.sources.Subtitles
    // .boilerplateCues]]): the subtitle analog of cross-document line
    // dedup — a cue whose case-folded text appears in ≥ 5 distinct
    // videos is boilerplate (intros/outros/credits). Fixture plants
    // one corpus-wide outro (case varying by id, exercising the
    // fold) among unique cues; the oracle recomputes the distinct-
    // video counts over the same folded key. One text-keyed
    // partial-agg shuffle + a text-keyed join back.
    "q265_cue_boilerplate" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "subtitle? nope".getBytes("UTF-8"))
        else {
          val n = (2 + id % 2).toInt
          val blocks = (0 until n).map { k =>
            val st = k * 3000L
            val text =
              if (k == 0) { if (id % 2 == 0) "Thanks For Watching" else "thanks for watching" }
              else s"unique cue $id $k"
            s"${k + 1}\n${subStamp(st, ',', short = false)} --> " +
              s"${subStamp(st + 2500, ',', short = false)}\n$text"
          }
          (id, (blocks.mkString("\n\n") + "\n").getBytes("UTF-8"))
        }
      }.toDF("doc_id", "sub")
      val cues = graft.sources.Subtitles.describeSubtitles(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "sub", "subtitle"))
      graft.sources.Subtitles.boilerplateCues(cues, 5)
        .select(col("media_id"), col("cue_idx"), col("text"),
          col("n_videos").cast("long").as("n_videos"), col("is_boilerplate"))
        .orderBy("media_id", "cue_idx")
    }),

    // Q266 — curation v6: the VIDEO-TEXT pipeline end-to-end — decode
    // frames to perceptual hashes (persisted once, the q232 diamond
    // pattern), prune near-dup videos (keep the lower id of every
    // gated pair), segment survivors into scenes, align real-SRT cues
    // to their midpoint keyframes, and tag each pair with its scene.
    // The oracle re-derives the WHOLE chain in one SQL: hash formulas
    // → aligned-pair gate → drop set → LAG scene chain → argmin
    // alignment → scene containment. Shuffle classes are exactly its
    // parts': banded (frame, chunk) join, one window per video id,
    // keyed joins — nothing new at 100 TB.
    "q266_curation_v6" -> ((s, d) => {
      import s.implicits._
      val base = docIds(s, d)
      // AVI payloads come from the on-disk fixture (bytes identical
      // to the r19 in-plan synthesis — optimization r20 item 3, the
      // q344 pattern): the timed entry measures decode+pipeline, not
      // ~4,900 per-run AVI encodes. One small file per row, read in
      // the map kernel; file name carries the id.
      val vidPay = s.createDataset(fixturePaths(s, d, "avi_v6_v1"))
        .repartition(s.sparkContext.defaultParallelism).map { p =>
        val name = new java.io.File(p).getName
        val id = name.substring(1, name.length - 4).toLong
        (id, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
      }.toDF("doc_id", "vid")
      val subPay = base.map { id =>
        if (id % 50 == 0) (id, "subtitle? nope".getBytes("UTF-8"))
        else {
          val n = (2 + id % 2).toInt
          val blocks = (0 until n).map { k =>
            s"${k + 1}\n${subStamp(k * 110L, ',', short = false)} --> " +
              s"${subStamp(k * 110L + 100, ',', short = false)}\ncue $id $k"
          }
          (id, (blocks.mkString("\n\n") + "\n").getBytes("UTF-8"))
        }
      }.toDF("doc_id", "sub")
      val hashes = graft.sources.Multimodal.describeVideoHashes(
          graft.sources.Multimodal.asMedia(vidPay, "doc_id", "vid", "video"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dropped = graft.sources.Multimodal.videoNearDupPairs(hashes, 3)
        .select(col("id2").as("media_id")).distinct()
      val kept = hashes.join(dropped, Seq("media_id"), "left_anti")
      val scenes = graft.sources.Multimodal.sceneCuts(kept, 10)
        .select(col("media_id").as("s_vid"), col("scene_idx"),
          col("start_frame"), col("n_frames"))
      val cues = graft.sources.Subtitles.describeSubtitles(
        graft.sources.Multimodal.asMedia(subPay, "doc_id", "sub", "subtitle"))
      val aligned = graft.sources.Subtitles.alignCuesToFrames(
        cues, kept.select(col("media_id"), col("frame_idx")), 40)
      aligned.join(scenes,
          aligned("media_id") === col("s_vid") &&
            col("key_frame") >= col("start_frame") &&
            col("key_frame") < col("start_frame") + col("n_frames"))
        .select(aligned("media_id"), col("cue_idx"), col("text"),
          col("key_frame"), col("scene_idx").cast("long").as("scene_idx"))
        .orderBy("media_id", "cue_idx")
    }),

    // Q267 — HTML → training text ([[graft.functions.HtmlToText]], SQL
    // `html_to_text`): the web-crawl extraction pass — script/style
    // elision WITH content, comments/doctype dropped, quote-aware tag
    // scan (the fixture plants `href="a>b"`), entity decode, block
    // tags to line breaks, whitespace normalized. The oracle states
    // the clean text directly from the formulas; plain-text payloads
    // pass through untouched. Native expression, map-only.
    "q267_html_extract" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        val html =
          if (id % 50 == 0) s"plain, no markup $id"
          else s"<!DOCTYPE html><html><head><title>T$id</title>" +
            s"<style>p {color: red}</style><script>var x = '<p>$id</p>';</script></head>" +
            s"<body><h1>Doc $id</h1><p>para one $id &amp; stuff</p>" +
            s"<!-- hidden $id --><div>div <b>text</b> <a href=" + "\"a>b\"" +
            s">$id</a></div></body></html>"
        (id, html)
      }.toDF("doc_id", "html")
      pay.select(col("doc_id"),
          graft.functions.HtmlToText(col("html")).as("text"))
        .orderBy("doc_id")
    }),

    // Q316 — 7z cell door ([[graft.sources.Archives.sevenZMembers]]):
    // common in scraped software/document dumps. The classpath
    // SevenZFile (commons-compress + xz, LZMA2) over in-memory bytes
    // in the zip-cell pattern — the END-of-file header makes a
    // streaming door impossible by format design, so 7z is cell-only
    // (documented boundary). Fixture: a third-party-encoded archive
    // per id (a directory member that must skip + 1-3 text members);
    // every 7th id truncated — a cut .7z loses its end header, so
    // the walk is LOUDLY corrupt with zero members, never silently
    // empty. flatMap kernel; members never shuffle.
    "q316_sevenz_members" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "7z? no".getBytes("UTF-8"))
        else {
          val n = (1 + id % 3).toInt
          val members = Seq(("d/", Array.emptyByteArray)) ++
            (0 until n).map(k =>
              (s"m$k.txt", s"7z member $id $k".getBytes("UTF-8")))
          // LZMA2 on 1-in-4 ids pins the codec path; COPY elsewhere
          // keeps the per-row encode off Verify's critical path
          val bytes = graft.sources.Archives.sevenZFixture(members,
            lzma2 = id % 4 == 0)
          (id, if (id % 7 == 3) bytes.dropRight(40) else bytes)
        }
      }.toDF("doc_id", "sz")
      graft.sources.Archives.extractSevenZEntries(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "sz", "archive"))
        .select(col("media_id"), col("entry_idx"), col("name"),
          col("outcome"), col("payload").cast("string").as("text"))
        .orderBy("media_id", "entry_idx")
    }),

    // Q268 — archive member listing ([[graft.sources.Archives
    // .describeArchives]]): ZIP central-directory walk (written by the
    // JDK's OWN ZipOutputStream — a true third-party encoder), ustar
    // TAR with checksum-validated headers, GZIP header/trailer facts.
    // The oracle replays names and LENGTH() of the content formulas.
    // flatMap kernel, payloads never shuffle.
    "q268_archive_entries" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "archive? no".getBytes("UTF-8"))
        else if (id % 3 == 0) {
          val n = (1 + (id / 3) % 3).toInt
          (id, zipFixture((0 until n).map(k =>
            (s"f$k.txt", s"content $id $k".getBytes("UTF-8")))))
        } else if (id % 3 == 1) {
          val n = (1 + id % 2).toInt
          (id, tarFixture(Seq(("d/", Array.emptyByteArray)) ++
            (0 until n).map(k => (s"d/file$k", s"tar data $id $k".getBytes("UTF-8")))))
        } else {
          val bos = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bos)
          g.write(s"gz payload $id".getBytes("UTF-8")); g.close()
          (id, bos.toByteArray)
        }
      }.toDF("doc_id", "arc")
      graft.sources.Archives.describeArchives(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "arc", "archive"))
        .orderBy("media_id", "entry_idx")
    }),

    // Q269 — archive → media composition ([[graft.sources.Archives
    // .extractZipEntries]] into [[graft.sources.Multimodal
    // .inspectMedia]]): bundled images ride the SAME decode pipeline
    // as bare payloads — members inflate out of real deflate streams
    // (JDK-encoded), get re-keyed (id·10 + entry) and BMP-decoded to
    // channel sums the oracle replays. Two flatMap kernels, payloads
    // never shuffle.
    "q269_archive_media" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "archive? no".getBytes("UTF-8"))
        else (id, zipFixture(bmpMembers(id)))
      }.toDF("doc_id", "arc")
      val members = graft.sources.Archives.extractZipEntries(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "arc", "archive"))
      val inner = members.select(
        (col("media_id") * 10 + col("entry_idx")).as("mid"), col("payload"))
      graft.sources.Multimodal.inspectMedia(
          graft.sources.Multimodal.asMedia(inner, "mid", "payload", "image"))
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),

    // Q270 — WARC record listing ([[graft.sources.Warc.describeWarc]]):
    // the crawl container walk — warcinfo / request / response records
    // with HTTP status + Content-Type parsed out of response payloads;
    // every 4th payload is whole-file gzip (auto-inflated, identical
    // listing). The oracle replays record indices, URIs and the
    // integer Content-Length arithmetic. flatMap kernel.
    "q270_warc_records" -> ((s, d) => {
      val pay = warcPayloads(s, d)(id => gzipEvery4th(id, warcFixture(id)))
      graft.sources.Warc.describeWarc(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .orderBy("media_id", "record_idx")
    }),

    // Q271 — crawl → training text ([[graft.sources.Warc
    // .warcHtmlText]]): the Common-Crawl pass end to end — WARC
    // (gzipped every 4th), response records gated to 2xx text/html,
    // bodies through the html_to_text kernel. The 404 and image/png
    // records in every fixture MUST be excluded. The oracle states
    // URL and clean text from the formulas.
    "q271_warc_text" -> ((s, d) => {
      val pay = warcPayloads(s, d)(id => gzipEvery4th(id, warcFixture(id)))
      graft.sources.Warc.warcHtmlText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .orderBy("media_id", "record_idx")
    }),

    // Q272 — URL canonicalization + URL-keyed dup counts
    // ([[graft.functions.CanonicalUrl]], SQL `canonical_url`): step
    // zero of crawl dedup — quintets of messy aliases (case, default
    // port, fragment, dot-segments, unreserved percent-escapes) must
    // collapse to ONE canonical key; non-URLs pass through unchanged.
    // The oracle states each id's canonical form and replays the
    // per-key count. One window shuffle on the canonical key.
    "q272_url_canon" -> ((s, d) => {
      import s.implicits._
      val urls = docIds(s, d).map { id =>
        val b = id / 5
        val u =
          if (id % 50 == 0) s"not a url $id"
          else (id % 5) match {
            case 0 => s"http://ex.com/p/$b"
            case 1 => s"HTTP://EX.COM/p/$b#sec"
            case 2 => s"http://ex.com:80/p/$b"
            case 3 => s"http://ex.com/a/../p/$b"
            case _ => s"http://ex.com/%70/$b"
          }
        (id, u)
      }.toDF("doc_id", "url")
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("canon"))
      urls.select(col("doc_id"),
          graft.functions.CanonicalUrl(col("url")).as("canon"))
        .withColumn("n_dups", count(lit(1)).over(w))
        .orderBy("doc_id")
    }),

    // Q273 — curation v7: the WEB pipeline end-to-end — WARC → HTTP
    // gate → html_to_text → canonical-URL dedup (quintets publish the
    // same pages under messy aliases; keep the first by (id, record))
    // → quality gate (min text length) → exact content dedup across
    // sites (b%29 content collisions; keep-first again). The oracle
    // replays the whole chain over the derived page rows with the
    // same two windows. Shuffle classes: two keyed windows (canonical
    // url, content hash) — the web mirror of q266's video chain.
    "q273_curation_v7" -> ((s, d) => {
      val pay = warcPayloads(s, d)(warcV7Fixture)
      val pages = graft.sources.Warc.warcHtmlText(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
      val canon = pages.withColumn("url_canon",
        graft.functions.CanonicalUrl(col("url")))
      val urlW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("url_canon")).orderBy(col("media_id"), col("record_idx"))
      val urlKept = canon.withColumn("rn", row_number().over(urlW))
        .where(col("rn") === 1).drop("rn")
      val quality = urlKept.where(length(col("text")) >= 10)
      val hashW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("content_md5")).orderBy(col("media_id"), col("record_idx"))
      quality.withColumn("content_md5", md5(col("text").cast("binary")))
        .withColumn("rn", row_number().over(hashW))
        .where(col("rn") === 1)
        .select(col("media_id"), col("record_idx"),
          col("url_canon").as("url"), col("text"))
        .orderBy("media_id", "record_idx")
    }),

    // Q275 — split-streaming WARC records ([[graft.sources.Warc
    // .describeWarcPaths]]): the 100 TB front door — containers live
    // ON DISK as files (gzipped every 4th, junk every 50th) and
    // records stream through one task per path with per-record
    // bounded memory, never a whole-container cell. Same record
    // formulas as q270, so the oracle is q270's with media_id
    // recovered from the file name.
    "q275_warc_stream" -> ((s, d) => {
      import s.implicits._
      val paths = fixturePaths(s, d, "warc_stream_v1")
      graft.sources.Warc.describeWarcPaths(s, paths)
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc$", 1).cast("long"))
        .select("media_id", "record_idx", "warc_type", "target_uri",
          "content_length", "http_status", "content_type")
        .orderBy("media_id", "record_idx")
    }),

    // Q276 — split-streaming crawl→text ([[graft.sources.Warc
    // .warcPathsHtmlText]]): q271's pass over on-disk files — 2xx
    // text/html gate, charset-aware decode, html_to_text — with the
    // same page formulas.
    "q276_warc_stream_text" -> ((s, d) => {
      import s.implicits._
      val paths = fixturePaths(s, d, "warc_stream_v1")
      graft.sources.Warc.warcPathsHtmlText(s, paths)
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc$", 1).cast("long"))
        .select("media_id", "record_idx", "url", "charset", "text")
        .orderBy("media_id", "record_idx")
    }),

    // Q277 — charset-aware page decode ([[graft.sources.Warc
    // .warcHtmlText]]'s decode leg): one page declares ISO-8859-1 in
    // the HTTP Content-Type, one declares windows-1251 only in a
    // <meta charset> — both carry single-byte national characters
    // that mojibake under a blind UTF-8 decode. The oracle states the
    // decoded char per formula, so the engine must agree THROUGH the
    // charset negotiation (header first, bounded meta sniff second,
    // utf-8 fallback).
    "q277_warc_charset" -> ((s, d) => {
      val pay = warcPayloads(s, d)(charsetFixture)
      graft.sources.Warc.warcHtmlText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .orderBy("media_id", "record_idx")
    }),

    // Q278 — HTML block segmentation with link accounting
    // ([[graft.functions.HtmlBlocks]], SQL `html_blocks`): the input
    // a main-content extractor consumes — one row per block with its
    // normalized text and anchor-text length. The fixture plants the
    // three block classes a real page has (link-dominated nav,
    // prose body, link-dominated footer); the oracle states every
    // block and its link count from the formulas. Map-only explode.
    "q278_html_blocks" -> ((s, d) => {
      import s.implicits._
      val pages = docIds(s, d).map { id =>
        val html =
          s"""<ul><li><a href="/">Home $id</a></li><li><a href="/m">More</a></li></ul>""" +
            s"<p>Body text $id tells a longer story &amp; then continues on.</p>" +
            s"""<div>Footer <a href="/t">terms</a> <a href="/p">privacy</a></div>"""
        (id, html)
      }.toDF("doc_id", "html")
      pages.select(col("doc_id"),
          posexplode(graft.functions.HtmlBlocks(col("html"))))
        .select(col("doc_id"), col("pos").as("block_idx"),
          col("col.text").as("text"), col("col.link_chars").as("link_chars"))
        .orderBy("doc_id", "block_idx")
    }),

    // Q279 — main-content extraction (jusText/Boilerpipe-class keep
    // rule over [[graft.functions.HtmlBlocks]]): keep blocks that are
    // long enough AND not link-dominated (integer rule — 25-char
    // floor, link chars ≤ ⅓ of text), reassemble in document order.
    // On the q278 fixture exactly the prose body survives; the
    // oracle states it. One explode + filter + grouped ordered
    // reassembly — the whole extractor is declarative, so Catalyst
    // fuses it into the page scan.
    "q279_main_content" -> ((s, d) => {
      import s.implicits._
      val pages = docIds(s, d).map { id =>
        val html =
          s"""<ul><li><a href="/">Home $id</a></li><li><a href="/m">More</a></li></ul>""" +
            s"<p>Body text $id tells a longer story &amp; then continues on.</p>" +
            s"""<div>Footer <a href="/t">terms</a> <a href="/p">privacy</a></div>"""
        (id, html)
      }.toDF("doc_id", "html")
      val kept = pages.select(col("doc_id"),
          posexplode(graft.functions.HtmlBlocks(col("html"))))
        .select(col("doc_id"), col("pos").as("block_idx"),
          col("col.text").as("text"), col("col.link_chars").as("link_chars"))
        .where(length(col("text")) >= 25 &&
          col("link_chars") * 3 <= length(col("text")))
      kept.groupBy(col("doc_id"))
        .agg(array_join(transform(array_sort(
            collect_list(struct(col("block_idx"), col("text")))),
          b => b.getField("text")), "\n").as("main_text"),
          count(lit(1)).as("n_blocks"))
        .orderBy("doc_id")
    }),

    // Q280 — C4-style line-level cleaning (Raffel et al. 2020 §2.2):
    // the page-text scrub every web corpus runs after extraction —
    // doc gates (lorem-ipsum placeholder, curly brace = code page)
    // drop whole documents; line gates keep only lines with ≥5
    // space-words ending in terminal punctuation and not mentioning
    // javascript; kept lines reassemble in order. Fully declarative
    // (filters + one explode + grouped ordered reassembly — fuses
    // into the text scan); the oracle states the surviving text.
    "q280_c4_lines" -> ((s, d) => {
      import s.implicits._
      val pages = docIds(s, d).map { id =>
        val lines = Seq(
          s"This is a good sentence number $id with many words.",
          s"short $id",
          "Please enable JavaScript to continue viewing.",
          s"Another complete sentence follows right here with id $id.") ++
          (if (id % 7 == 0) Seq("lorem ipsum dolor sit amet.") else Nil) ++
          (if (id % 11 == 0) Seq("function f() { return 1; }") else Nil)
        (id, lines.mkString("\n"))
      }.toDF("doc_id", "text")
      val gated = pages.where(!lower(col("text")).contains("lorem ipsum") &&
        !col("text").contains("{"))
      val kept = gated
        .select(col("doc_id"), posexplode(split(col("text"), "\n")))
        .where(col("col").rlike("[.!?\"]$") &&
          size(split(col("col"), " ")) >= 5 &&
          !lower(col("col")).contains("javascript"))
      kept.groupBy(col("doc_id"))
        .agg(array_join(transform(array_sort(
            collect_list(struct(col("pos"), col("col")))),
          x => x.getField("col")), "\n").as("text"),
          count(lit(1)).as("n_lines"))
        .orderBy("doc_id")
    }),

    // Q281 — curation v8: the MODERN web pipeline end-to-end — WARC →
    // HTTP gate → charset-decoded raw pages ([[graft.sources.Warc
    // .warcHtmlPages]]) → block-structured main-content extraction
    // (`html_blocks` + the q279 keep rule: navs and footers are
    // link-dominated, prose is not) → C4 line cleaning (q280's gates)
    // → canonical-URL keep-first → exact content keep-first. The v7
    // chain upgraded with the two extraction stages a real corpus
    // (C4, RefinedWeb) actually runs between crawl and dedup. The
    // oracle replays the whole chain over the derived page rows.
    // Shuffle classes: two grouped reassemblies keyed by page + two
    // keyed windows — everything else is map-side.
    "q281_curation_v8" -> ((s, d) => {
      val pay = warcPayloads(s, d)(warcV8Fixture)
      val pages = graft.sources.Warc.warcHtmlPages(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
      val blocks = pages.select(col("media_id"), col("record_idx"), col("url"),
          posexplode(graft.functions.HtmlBlocks(col("html"))))
        .select(col("media_id"), col("record_idx"), col("url"),
          col("pos").as("block_idx"), col("col.text").as("btext"),
          col("col.link_chars").as("link_chars"))
      val mainText = blocks
        .where(length(col("btext")) >= 25 &&
          col("link_chars") * 3 <= length(col("btext")))
        .groupBy(col("media_id"), col("record_idx"), col("url"))
        .agg(array_join(transform(array_sort(
            collect_list(struct(col("block_idx"), col("btext")))),
          x => x.getField("btext")), "\n").as("main_text"))
      val cleaned = mainText
        .select(col("media_id"), col("record_idx"), col("url"),
          posexplode(split(col("main_text"), "\n")))
        .where(col("col").rlike("[.!?\"]$") &&
          size(split(col("col"), " ")) >= 5 &&
          !lower(col("col")).contains("javascript"))
        .groupBy(col("media_id"), col("record_idx"), col("url"))
        .agg(array_join(transform(array_sort(
            collect_list(struct(col("pos"), col("col")))),
          x => x.getField("col")), "\n").as("text"))
      val canon = cleaned.withColumn("url_canon",
        graft.functions.CanonicalUrl(col("url")))
      val urlW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("url_canon")).orderBy(col("media_id"), col("record_idx"))
      val urlKept = canon.withColumn("rn", row_number().over(urlW))
        .where(col("rn") === 1).drop("rn")
      val hashW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("text")).orderBy(col("media_id"), col("record_idx"))
      urlKept.withColumn("rn", row_number().over(hashW))
        .where(col("rn") === 1)
        .select(col("media_id"), col("record_idx"),
          col("url_canon").as("url"), col("text"))
        .orderBy("media_id")
    }),

    // Q282 — robots.txt crawl gate ([[graft.functions.RobotsAllowed]],
    // SQL `robots_allowed`): the RFC 9309 decision over a (policy,
    // agent, path) frontier — group selection (exact token beats *,
    // same-token groups merge), longest-pattern precedence, `*`
    // wildcard and `$` anchor, tie → allow. The fixture plants every
    // rule class; the oracle states each decision. Map-only.
    "q282_robots_gate" -> ((s, d) => {
      import s.implicits._
      val rows = docIds(s, d).flatMap { id =>
        val k = (id % 3).toInt
        val robots = s"# policy $id\nUser-agent: graftbot\n" +
          s"Disallow: /blocked$k/\nAllow: /blocked$k/open/\n" +
          "Disallow: /*.zip$\n\nUser-agent: *\nDisallow: /\nAllow: /public/\n"
        val paths = Seq("/", "/blocked0/x", "/blocked1/x", "/blocked2/x",
          s"/blocked$k/open/y", "/public/p", "/files/a.zip", "/files/a.zipx")
        for (agent <- Seq("graftbot", "otherbot"); p <- paths)
          yield (id, agent, p, robots)
      }.toDF("doc_id", "agent", "path", "robots")
      rows.select(col("doc_id"), col("agent"), col("path"),
          graft.functions.RobotsAllowed(col("robots"), col("agent"),
            col("path")).as("allowed"))
        .orderBy("doc_id", "agent", "path")
    }),

    // Q283 — sitemap → crawl frontier: the step BEFORE the WARC even
    // exists — XML sitemaps parsed (url/loc/lastmod), locs through
    // `canonical_url` (quintets publish the same page under messy
    // aliases with different lastmod stamps), the robots gate drops
    // disallowed paths, and the frontier dedups per canonical URL
    // keeping the NEWEST lastmod with a source count. Three round-12
    // ops composed declaratively; one grouped shuffle on the URL key.
    "q283_sitemap_frontier" -> ((s, d) => {
      import s.implicits._
      val policy = "User-agent: *\nDisallow: /blocked\n"
      val sm = docIds(s, d).map { id =>
        val b = id / 5
        val xml = "<?xml version=\"1.0\"?><urlset>" +
          s"<url><loc>HTTP://EX.COM/p/$b#f</loc>" +
          s"<lastmod>2024-01-0${1 + id % 5}</lastmod></url>" +
          s"<url><loc>http://ex.com/blocked${id % 3}/page</loc>" +
          "<lastmod>2024-02-01</lastmod></url>" +
          s"<url><loc>http://ex.com/public/$id</loc>" +
          "<lastmod>2024-03-01</lastmod></url></urlset>"
        (id, xml)
      }.toDF("doc_id", "xml")
      val urls = sm.select(col("doc_id"),
          explode(expr("regexp_extract_all(xml, '<url>(.*?)</url>', 1)")).as("u"))
        .select(col("doc_id"),
          regexp_extract(col("u"), "<loc>(.*?)</loc>", 1).as("loc"),
          regexp_extract(col("u"), "<lastmod>(.*?)</lastmod>", 1).as("lastmod"))
      val canon = urls
        .withColumn("url", graft.functions.CanonicalUrl(col("loc")))
        .withColumn("path",
          regexp_extract(col("url"), "^[a-z]+://[^/]+(/.*)$", 1))
      canon.where(graft.functions.RobotsAllowed(lit(policy),
          lit("graftbot"), col("path")))
        .groupBy(col("url"))
        .agg(max(col("lastmod")).as("lastmod"),
          count(lit(1)).as("n_sources"))
        .orderBy("url")
    }),

    // Q339 — recrawl scheduling: the crawl-ops composition of three
    // round pieces — the sitemap frontier's lastmod, the fetch log,
    // and robots crawl-delay ([[graft.functions.RobotsCrawlDelay]]).
    // A URL needs refetch when it was never fetched or its declared
    // lastmod is newer than the last fetch; the refetch set is then
    // SCHEDULED per host under the host's politeness delay: rank
    // within host (newest lastmod first, URL tie-break) × delay =
    // the fetch-slot offset in seconds. One left join against the
    // fetch log, one per-host window — both keyed by host/url, no
    // global coordination at any corpus size.
    "q339_recrawl_schedule" -> ((s, d) => {
      import s.implicits._
      val frontier = docIds(s, d).map { id =>
        val hostIdx = (id % 5).toInt
        val host = s"h$hostIdx.ex.com"
        val robots = s"User-agent: *\nCrawl-delay: ${2 + hostIdx}\n"
        (id, host, s"http://$host/p/$id",
          s"2024-01-0${1 + id % 5}", robots)
      }.toDF("doc_id", "host", "url", "lastmod", "robots")
      val fetchlog = docIds(s, d).flatMap { id =>
        (id % 3) match {
          case 0 => None // never fetched
          case 1 => Some((s"http://h${id % 5}.ex.com/p/$id", "2024-01-03"))
          case _ => Some((s"http://h${id % 5}.ex.com/p/$id", "2024-12-31"))
        }
      }.toDF("url", "fetched_at")
      val delta = frontier.join(fetchlog, Seq("url"), "left")
        .where(col("fetched_at").isNull ||
          col("lastmod") > col("fetched_at"))
        .withColumn("delay_s",
          graft.functions.RobotsCrawlDelay(col("robots"), lit("graftbot")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("host"))
        .orderBy(desc("lastmod"), col("url"))
      delta.withColumn("slot_s",
          (row_number().over(w) - 1) * col("delay_s"))
        .select(col("host"), col("url"), col("lastmod"),
          col("delay_s"), col("slot_s"))
        .orderBy("host", "slot_s", "url")
    }),

    // Q340 — HTTP payload decoding in the WARC walk ([[graft.sources
    // .Warc.decodeHttpPayload]]): Heritrix-/browser-produced WARCs
    // store the HTTP message AS ON THE WIRE — `Transfer-Encoding:
    // chunked` framing and `Content-Encoding: gzip/deflate` sit
    // between the archive and the page bytes, so without this decode
    // a gzip'd HTML body reaches html_to_text as binary mojibake and
    // chunk-size lines leak into training text (r16 verdict item 1).
    // The fixture plants all four wire forms plus an undecodable
    // `Content-Encoding: br` claim (no JVM brotli — the raw bytes
    // pass through under a loud `br!undecoded` label and, being
    // plain HTML here, still extract); every variant must reproduce
    // the identity variant's text EXACTLY. Decode runs inside the
    // same flatMap kernel on both doors (cell + streaming, shared
    // [[graft.sources.Warc]] walk code) — bodies still never shuffle.
    "q340_warc_http_decode" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val entity =
          (s"<h1>Doc $id</h1><p>payload $id decodes exactly.</p>")
            .getBytes("UTF-8")
        def chunked(b: Array[Byte]): Array[Byte] = {
          val cut = math.max(1, b.length / 3)
          val o = new java.io.ByteArrayOutputStream()
          def wr(t: String): Unit = o.write(t.getBytes("ISO-8859-1"))
          wr(Integer.toHexString(cut) + ";x=1\r\n")
          o.write(b, 0, cut); wr("\r\n")
          wr(Integer.toHexString(b.length - cut) + "\r\n")
          o.write(b, cut, b.length - cut); wr("\r\n")
          wr("0\r\n\r\ntrailer: ignored\r\n")
          o.toByteArray
        }
        def zlib(b: Array[Byte]): Array[Byte] = {
          val df = new java.util.zip.Deflater()
          df.setInput(b); df.finish()
          val o = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](1024)
          while (!df.finished()) o.write(buf, 0, df.deflate(buf))
          df.end(); o.toByteArray
        }
        val (wire, body) = (id % 5) match {
          case 1 => ("Transfer-Encoding: chunked\r\n", chunked(entity))
          case 2 => ("Content-Encoding: gzip\r\n", gzipBytes(entity))
          case 3 => ("Content-Encoding: deflate\r\n", zlib(entity))
          case 4 => ("Content-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n",
            chunked(gzipBytes(entity)))
          case _ =>
            // r18: real brotli (the r17 arm was a lying claim pinned
            // to br!undecoded — now the pure-JVM decoder reads it)
            if (id % 3 == 0) ("Content-Encoding: br\r\n",
              graft.sources.Brotli.encodeUncompressed(entity))
            else ("", entity)
        }
        warcRespRec(s"http://ex.com/p/$id", "text/html; charset=utf-8",
          body, wire)
      }
      graft.sources.Warc.warcDocText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .select("media_id", "record_idx", "url", "carrier", "encoding",
          "text")
        .orderBy("media_id")
    }),

    // Q342 — registered-domain (eTLD+1) quotas + blocklist
    // ([[graft.functions.RegisteredDomain]], SQL `registered_domain`
    // — the public-suffix-list algorithm over a bundled snapshot):
    // the q239 per-domain quota re-keyed on what "domain" actually
    // means on the web. The fixture pins every PSL rule class:
    // `a.example.co.uk` and `b.example.co.uk` share ONE quota key
    // (multi-label ICANN rule) while `co.uk` itself — a public
    // suffix — has NO registrable domain and never becomes a key
    // (its rows drop from the quota entirely); `github.io` (private
    // hosting rule) keeps each site a separate domain; `www.ck`
    // (exception rule) IS registrable; `shop.foo.ck` rides the
    // `*.ck` wildcard; an unknown TLD rides the implicit `*` rule.
    // The blocklist leg keys on eTLD+1 the same way: blocking
    // `example.co.uk` catches every subdomain without substring
    // false-positives. Map-only codegen'd expression + ONE top-k
    // window per domain (Partial WindowGroupLimit) — no join, the
    // rule set is baked into the expression.
    "q342_registered_domain" -> ((s, d) => {
      val host = element_at(array(
        lit("a.example.co.uk"), lit("b.example.co.uk"), lit("co.uk"),
        concat(lit("site"), (col("doc_id") % 7).cast("string"),
          lit(".github.io")),
        lit("www.ck"), lit("shop.foo.ck"),
        concat(lit("news.example"), (col("doc_id") % 3).cast("string"),
          lit(".com.br")),
        lit("x.unknown-tld.zz")),
        (pmod(col("doc_id"), lit(8)) + 1).cast("int"))
      val tagged = docs(s, d).select(col("doc_id"), col("n_chars"))
        .withColumn("host", host)
        .withColumn("domain", graft.functions.RegisteredDomain(col("host")))
        .where(col("domain").isNotNull) // public suffixes are never keys
        .withColumn("blocked",
          col("domain").isin("example.co.uk", "badsite.com"))
      graft.ops.TopK.perGroup(tagged, Seq("domain"), 3,
          col("n_chars").desc, col("doc_id"))
        .select(col("doc_id"), col("host"), col("domain"), col("blocked"),
          col("n_chars").cast("long").as("n_chars"),
          col("rank").cast("long").as("kept_rank"))
        .orderBy("doc_id")
    }),

    // Q343 — IDN/punycode equivalence in `canonical_url` ([[graft
    // .functions.CanonicalUrl]] + `java.net.IDN`): a Unicode host
    // and its `xn--` A-label form are the SAME page identity — the
    // fixture publishes each page under four aliases (Unicode,
    // upper-case Unicode, the A-label, the A-label with case + the
    // default port) and URL-keyed dedup must count all four on ONE
    // key. The fold is one direction (Unicode → A-label) so
    // already-ASCII crawl URLs never change — q272's aliases are
    // pinned unchanged. Map-only expression + one keyed window.
    "q343_idn_url_canon" -> ((s, d) => {
      val b = (col("doc_id") / 4).cast("long")
      val alias = element_at(array(
        concat(lit("http://bücher.example/p/"), b),
        concat(lit("http://BÜCHER.example/p/"), b),
        concat(lit("http://xn--bcher-kva.example/p/"), b),
        concat(lit("http://XN--BCHER-KVA.Example:80/p/"), b)),
        (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
      docs(s, d).select(col("doc_id"))
        .withColumn("url", when(col("doc_id") % 50 === 0,
          concat(lit("not a url "), col("doc_id"))).otherwise(alias))
        .withColumn("canon", graft.functions.CanonicalUrl(col("url")))
        .withColumn("n_dups", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("canon"))))
        .select(col("doc_id"), col("canon"), col("n_dups"))
        .orderBy("doc_id")
    }),

    // Q348 — undeclared-charset fallback ([[graft.sources.Warc
    // .htmlCharset]] + `looksUtf8`): real crawls carry a large
    // undeclared-legacy fraction — no HTTP charset, no meta — that
    // the old UTF-8 default silently mojibaked. The walk now
    // validates undeclared bodies as UTF-8 (bounded structural scan)
    // and falls back to windows-1252 (the browsers' WHATWG legacy
    // default) when they fail: the planted cp1252 page's 0xE9/0x92
    // bytes must decode to é and the U+2019 quote, the valid-UTF-8
    // and pure-ASCII arms must stay utf-8. Declared pages are
    // untouched (q277 pins those). Map-only flatMap kernel.
    "q348_charset_fallback" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val (cs, body) = (id % 3) match {
          case 0 => ("windows-1252",
            s"<p>café page $id with a ’smart’ quote</p>")
          case 1 => ("UTF-8", s"<p>café page $id in valid utf8</p>")
          case _ => ("US-ASCII", s"<p>plain ascii page $id</p>")
        }
        val bytes = body.getBytes(cs)
        // NO charset anywhere: bare text/html, no meta
        warcRespRec(s"http://ex.com/cs/$id", "text/html", bytes)
      }
      graft.sources.Warc.warcHtmlText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .orderBy("media_id")
    }),

    // Q349 — undeclared CJK charset sniff ([[graft.sources.Warc
    // .sniffCjk]]): the East-Asian fraction of a real crawl often
    // carries NO charset declaration either, and q348's cp1252
    // fallback mojibaked it. Undeclared non-UTF-8 bodies now run a
    // bounded byte-distribution detection for Shift_JIS / EUC-JP /
    // EUC-KR / GBK / Big5 (structure-distinctive evidence: SJIS low
    // leads, EUC-JP kana rows, Big5's heavy low-trail half under a
    // strict lead range, GBK low trails / dense hanzi rows vs the
    // hangul block) before falling back to windows-1252. The fixture
    // plants the same Japanese text under BOTH its legacy encodings
    // (they must separate), Korean under EUC-KR, simplified Chinese
    // under GBK, traditional Chinese under Big5, and an
    // accented-Latin cp1252 arm that must keep the q348 fallback.
    // Map-only flatMap kernel; q277/q348 pin declared and
    // Latin-undeclared behavior unchanged.
    "q349_cjk_sniff" -> ((s, d) => {
      import s.implicits._
      val ja = "これは日本語のテキストです。記事の本文が続きます。"
      val ko = "한국어는 한글로 표기한다 기사 본문이 이어진다"
      val zh = "这是一段中文文本没有空格 新闻正文在此继续展开"
      val zhT = "這是一段繁體中文網頁沒有空格 新聞內容在這裡繼續"
      val latin = "l'été café année passée déjà vu née et protégé"
      val pay = warcPayloads(s, d) { id =>
        val (cs, sample) = (id % 6) match {
          case 0 => ("shift_jis", ja)
          case 1 => ("euc-jp", ja)
          case 2 => ("euc-kr", ko)
          case 3 => ("gbk", zh)
          case 4 => ("big5", zhT)
          case _ => ("windows-1252", latin)
        }
        val bytes = s"<p>$sample page $id</p>".getBytes(cs)
        // NO charset anywhere: bare text/html, no meta
        warcRespRec(s"http://ex.com/cjk/$id", "text/html", bytes)
      }
      graft.sources.Warc.warcHtmlText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .orderBy("media_id")
    }),

    // Q353 — curation v16: REDIRECT-AWARE URL identity ([[graft.llm
    // .Curation.v16Batch]] — q352's resolver composed into the
    // capstone). v15 keyed the keep-first on the canonical FETCH
    // URL; a page captured at its old URL next to a 3xx record
    // moving that URL to its new home is the SAME identity, which
    // fetch-URL keying (and content keying, when the old capture's
    // text drifted) misses. The fixture is v15's plus: a 301
    // `h-old/$id → /h/$b` edge and a 200 capture AT h-old with
    // unique clean text (only the resolved identity can drop it —
    // the bucket page at /h/$b is earlier), and a planted 2-cycle
    // whose 200 page must SURVIVE (a chain cut at the hop bound is
    // not an identity; cycle pages keep their fetch key, and
    // cyc.example's pages land under their own eTLD+1 cap). One
    // keyed left join of gated pages against the resolved edge map;
    // edges are the crawl's 3xx fraction.
    "q353_curation_v16" -> ((s, d) => {
      val pay = q353Fixture(s, d)
      val media = graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc")
      // ONE decode walk for BOTH row kinds (the q232 diamond: persist
      // the fork, filter twice) — separate page/redirect readers
      // would gunzip and walk every container twice (the r17 lesson)
      val rows = graft.sources.Warc.warcDocRows(media)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pages = rows.where(col("kind") === "page")
        .drop("kind", "status", "target")
      val edges = rows.where(col("kind") === "redirect")
        .select(graft.functions.CanonicalUrl(col("url")).as("src"),
          col("target").as("dst"))
      graft.llm.Curation.v16Batch(pages, edges,
          Seq("bad.example", "spam.test"), domainCap = 7)
        .orderBy("media_id", "record_idx")
    }),

    // Q355 — undeclared Cyrillic + UTF-16 charset sniff (r18 verdict
    // missing item 2, the q349 follow-through): KOI8-R vs
    // windows-1251 discrimination by CASE BANDING (KOI8-R lowercase
    // а-я at 0xC0–0xDF, cp1251's at 0xE0–0xFF — prose is
    // lowercase-dominant) and UTF-16 by BOM or ALTERNATING-NUL
    // structure (ASCII-heavy UTF-16 is byte-wise valid UTF-8, so the
    // UTF-16 tier runs FIRST). Arms per id: bare KOI8-R, bare
    // cp1251, BOM-less UTF-16LE and UTF-16BE, BOM'd UTF-16, and the
    // accented-Latin cp1252 control that must keep the r17 fallback
    // (isolated accents never reach the ≥5-runs-of-3 floor). Same
    // map-only bounded-scan posture as q349.
    "q355_charset_cyrillic" -> ((s, d) => {
      import s.implicits._
      val ru = "Это русский текст статьи продолжение материала здесь"
      val u16 = "утф text body here"
      val latin = "l'été café année passée déjà vu née et protégé"
      val pay = warcPayloads(s, d) { id =>
        val bytes = (id % 6) match {
          case 0 => s"<p>$ru page $id</p>".getBytes("KOI8-R")
          case 1 => s"<p>$ru page $id</p>".getBytes("windows-1251")
          case 2 => s"<p>$u16 page $id</p>".getBytes("UTF-16LE")
          case 3 => s"<p>$u16 page $id</p>".getBytes("UTF-16BE")
          case 4 => s"<p>$u16 page $id</p>".getBytes("UTF-16") // BOM'd
          case _ => s"<p>$latin page $id</p>".getBytes("windows-1252")
        }
        // NO charset anywhere: bare text/html, no meta, no BOM
        // except the one arm that pins BOM handling
        warcRespRec(s"http://ex.com/cyr/$id", "text/html", bytes)
      }
      graft.sources.Warc.warcHtmlText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .orderBy("media_id")
    }),

    // Q356 — the dominance cap BINDS ON THE LANDING DOMAIN (r18
    // verdict missing item 5, pinned by construction): a content
    // farm 301-ing throwaway fetch domains (t0/t1.example) onto one
    // landing host must have ALL its pages counted against the
    // landing domain's cap — fetch-domain counting would give every
    // throwaway domain its own fresh quota. [[graft.llm.Curation
    // .v16Batch]] derives the cap key from the redirect-RESOLVED
    // identity, so the farm's pages rank in ONE land.example group
    // (first `domainCap` by (media_id, record_idx) survive, across
    // ALL fetch domains) while the redirect-free control domain
    // keeps its own independent quota. One keyed left join against
    // the resolved edge map; the cap is a keyed WindowGroupLimit.
    "q356_redirect_farm_cap" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val farm = (0 until 2).map { j =>
          warcRedirect(s"http://t$j.example/p/$id", "301 Moved",
            s"http://land.example/p/$id/$j") ++
            warcRespRec(s"http://t$j.example/p/$id", "text/html",
              (s"<p>farm content $id $j keeps plenty of good " +
                "english words alive.</p>").getBytes("UTF-8"))
        }.reduce(_ ++ _)
        val ctrl = warcRespRec(s"http://ctrl.example/c/$id", "text/html",
          (s"<p>control page $id keeps plenty of good english " +
            "words too.</p>").getBytes("UTF-8"))
        farm ++ ctrl
      }
      val media = graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc")
      val rows = graft.sources.Warc.warcDocRows(media)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pages = rows.where(col("kind") === "page")
        .drop("kind", "status", "target")
      val edges = rows.where(col("kind") === "redirect")
        .select(graft.functions.CanonicalUrl(col("url")).as("src"),
          col("target").as("dst"))
      graft.llm.Curation.v16Batch(pages, edges,
          Seq("bad.example"), domainCap = 5)
        .orderBy("media_id", "record_idx")
    }),

    // Q357 — the HTTP `Refresh:` RESPONSE HEADER joins the identity
    // graph (r18 verdict missing item 3): q354 handles the meta TAG;
    // the equivalent response header (`Refresh: 0; url=…` —
    // non-standard but emitted by real servers and honored by
    // browsers) is one header lookup in the existing
    // [[graft.sources.Warc.warcRedirects]] walk, same WHATWG content
    // syntax, same [[resolveLocation]], same edge schema. The
    // fixture chains a 302 onto a 200 interstitial whose Refresh
    // header (absolute / root-relative by id parity) lands the
    // chain: start → hop (3xx) → land (Refresh) = 2 hops. A URL-less
    // `Refresh: 30` is a self-reload (NO edge), and a
    // `Refresh: 0; url=mailto:…` must NOT fabricate a path-relative
    // edge (the ADVICE r18 resolveLocation pin) — both arms appear
    // only by their ABSENCE from the resolved output. Body-free
    // listing walk (maxBody=0), map-only.
    "q357_refresh_header" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val hop = warcRedirect(s"http://s.example/a/$id", "302 Moved",
          s"http://go.example/r/$id")
        val interstitial = warcRespRec(s"http://go.example/r/$id",
          "text/html",
          s"<p>hold on, moving you along $id.</p>".getBytes("UTF-8"),
          if (id % 2 == 0)
            s"Refresh: 0; url=http://dest.example/d/$id\r\n"
          else s"Refresh: 0; URL=/d/$id\r\n")
        val reload = warcRespRec(s"http://plain.example/p/$id",
          "text/html",
          s"<p>plain page $id reloads itself.</p>".getBytes("UTF-8"),
          "Refresh: 30\r\n")
        val mailto = warcRespRec(s"http://spam.example/m/$id",
          "text/html",
          s"<p>mailto page $id goes nowhere.</p>".getBytes("UTF-8"),
          "Refresh: 0; url=mailto:x@y.example\r\n")
        hop ++ interstitial ++ reload ++ mailto
      }
      val media = graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc")
      val edges = graft.sources.Warc.warcRedirects(media)
        .select(graft.functions.CanonicalUrl(col("url")).as("src"),
          col("target").as("dst"))
      graft.ops.Redirects.resolve(edges, "src", "dst", maxHops = 4)
        .orderBy("src")
    }),

    // Q358 — tracking-parameter URL identity ([[graft.functions
    // .StripTrackingParams]], SQL `strip_tracking_params`): the same
    // article arrives from a newsletter (`utm_*`), Facebook
    // (`fbclid`), and an ad click (`gclid`) under distinct query
    // strings, so URL-keyed dedup counts one page several times.
    // Keying on `canonical_url(strip_tracking_params(url))` collapses
    // the attribution variants while a REAL routing parameter
    // (`page=2`) keeps its own identity — and a mixed query
    // (`page=2&utm_source=…`) lands with its real-param sibling.
    // Deliberately NOT inside canonical_url (dropping a parameter is
    // a semantic judgment, not RFC 3986 normalization). Map-only
    // expressions into one partial-aggregated groupBy.
    "q358_tracking_dedup" -> ((s, d) => {
      import s.implicits._
      val urls = docIds(s, d).flatMap { id =>
        val base = s"http://news.example/art/$id"
        Seq(
          (id, 0, base),
          (id, 1, s"$base?utm_source=newsletter&utm_medium=email"),
          (id, 2, s"$base?fbclid=F$id"),
          (id, 3, s"$base?gclid=G$id&utm_campaign=q3"),
          (id, 4, s"$base?page=2"),
          (id, 5, s"$base?page=2&utm_source=tw"))
      }.toDF("doc_id", "variant", "url")
      urls.select(col("doc_id"), col("variant"),
          graft.functions.CanonicalUrl(
            graft.functions.StripTrackingParams(col("url"))).as("url_key"))
        .groupBy("url_key")
        .agg(count(lit(1)).as("n_urls"),
          min("variant").as("first_variant"))
        .orderBy("url_key")
    }),

    // Q359 — curation v17: TRACKING-PARAMETER identity in the
    // capstone ([[graft.llm.Curation.v17Batch]] — q358's fold
    // composed into v16). The keep-first key, the cap domain and
    // BOTH redirect-edge endpoints strip utm_*/click-ids after
    // canonicalization, so per id: the `?utm_source=nl` capture and
    // the bare re-crawl (different text — only URL identity can
    // collapse them) are ONE key (first kept), a 301 whose source
    // AND Location both carry tracking params still lands its
    // old-URL page on the same identity, and the REAL `page=2`
    // routing param keeps its own. Same plan shape as v16 — the
    // fold is one more codegen'd map-side expression.
    "q359_curation_v17" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val tracked = warcRespRec(
          s"http://m$id.example/a/$id?utm_source=nl", "text/html",
          (s"<p>article $id version one keeps plenty of good " +
            "english words.</p>").getBytes("UTF-8"))
        val bare = warcRespRec(s"http://m$id.example/a/$id", "text/html",
          (s"<p>article $id version two keeps plenty of different " +
            "english words.</p>").getBytes("UTF-8"))
        val paged = warcRespRec(
          s"http://m$id.example/a/$id?page=2", "text/html",
          (s"<p>article $id page two keeps plenty of extra " +
            "english words.</p>").getBytes("UTF-8"))
        val moved = warcRedirect(s"http://old$id.example/o/$id?utm_campaign=x",
          "301 Moved", s"http://m$id.example/a/$id?utm_medium=email")
        val oldPage = warcRespRec(s"http://old$id.example/o/$id",
          "text/html",
          (s"<p>article $id old home keeps plenty of good english " +
            "words too.</p>").getBytes("UTF-8"))
        tracked ++ bare ++ paged ++ moved ++ oldPage
      }
      val media = graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc")
      val rows = graft.sources.Warc.warcDocRows(media)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pages = rows.where(col("kind") === "page")
        .drop("kind", "status", "target")
      val edges = rows.where(col("kind") === "redirect")
        .select(graft.functions.CanonicalUrl(col("url")).as("src"),
          col("target").as("dst"))
      graft.llm.Curation.v17Batch(pages, edges,
          Seq("bad.example"), domainCap = 7)
        .orderBy("media_id", "record_idx")
    }),

    // Q354 — soft redirects: `<meta http-equiv=refresh>` joins the
    // identity graph ([[graft.functions.MetaRefreshUrl]], SQL
    // `meta_refresh_url`): parked pages and JS-era interstitials
    // move pages WITHOUT a 3xx, and a crawler that only follows
    // HTTP redirects counts the interstitial and its target as two
    // identities. The fixture chains MIX mechanisms per id — a 301
    // hops onto an interstitial whose meta refresh (relative URL,
    // quoted, spaced `; URL=` form by id parity) points at the
    // landing page — and both edge kinds resolve through ONE
    // [[graft.ops.Redirects.resolve]] graph: start → hop (3xx) →
    // land (meta) = 2 hops. A refresh WITHOUT a url reloads self
    // and is NOT an edge (the control arm stays terminal at 1 hop).
    // Pages decode once (persisted warcHtmlPages); the 3xx listing
    // is the body-free walk.
    "q354_meta_refresh" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val html = "text/html; charset=utf-8"
        val refreshAttr =
          if (id % 2 == 0) s"""content="0;url=/land/$id""""
          else s"""content="3; URL='/land/$id'""""
        val landing = warcRecord("response", s"http://ex.com/land/$id",
          httpResponse("200 X", html,
            s"<p>soft landing page $id holds the real words.</p>"
              .getBytes("UTF-8")))
        val interstitial = warcRecord("response", s"http://ex.com/hop/$id",
          httpResponse("200 X", html,
            (s"""<html><head><meta http-equiv="refresh" $refreshAttr>""" +
              s"</head><body><p>interstitial $id moving you along " +
              "now.</p></body></html>").getBytes("UTF-8")))
        val start = warcRedirect(s"http://ex.com/start/$id", "301 X",
          s"/hop/$id", html)
        // control: a url-less refresh reloads self — never an edge
        val selfish = warcRecord("response", s"http://ex.com/self/$id",
          httpResponse("200 X", html,
            (s"""<html><head><meta http-equiv=refresh content="30">""" +
              s"</head><body><p>self refreshing page $id keeps its " +
              "own words.</p></body></html>").getBytes("UTF-8")))
        landing ++ interstitial ++ start ++ selfish
      }
      val media = graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc")
      val pages = graft.sources.Warc.warcHtmlPages(media)
        .select(graft.functions.CanonicalUrl(col("url")).as("purl"),
          col("html"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val metaEdges = pages
        .withColumn("refresh",
          graft.functions.MetaRefreshUrl(col("html")))
        .where(col("refresh").isNotNull)
        .select(col("purl").as("src"),
          graft.functions.CanonicalUrl(col("refresh")).as("dst"))
        .where(col("dst").startsWith("http")) // relative forms below
      // relative refresh targets resolve against the page URL — same
      // discipline as the Location header; expression-side here via
      // concat of origin + path when the target is root-relative
      val metaEdgesResolved = pages
        .withColumn("refresh",
          graft.functions.MetaRefreshUrl(col("html")))
        .where(col("refresh").isNotNull &&
          col("refresh").startsWith("/"))
        .select(col("purl").as("src"),
          graft.functions.CanonicalUrl(concat(
            regexp_extract(col("purl"), "^(https?://[^/]+)", 1),
            col("refresh"))).as("dst"))
      val httpEdges = graft.sources.Warc.warcRedirects(media)
        .select(graft.functions.CanonicalUrl(col("url")).as("src"),
          col("target").as("dst"))
      val edges = httpEdges.unionByName(metaEdges)
        .unionByName(metaEdgesResolved)
      val landingText = pages
        .select(col("purl").as("final_url"),
          graft.functions.HtmlToText(col("html")).as("text"))
      graft.ops.Redirects.resolve(edges, "src", "dst", maxHops = 4)
        .join(landingText, Seq("final_url"), "left")
        .select(col("src").as("url"), col("final_url"), col("hops"),
          col("terminal"), col("text"))
        .orderBy("url")
    }),

    // Q352 — redirect-chain resolution ([[graft.sources.Warc
    // .warcRedirects]] + [[graft.ops.Redirects.resolve]]): a crawl
    // stores page moves as 3xx captures, and fetch-URL keying counts
    // every hop of a moved page as a distinct identity. The reader
    // surfaces (url, status, location, target) per 3xx record with
    // the Location RESOLVED against the request URL (absolute,
    // protocol-relative, root-relative, path-relative — RFC 9110
    // allows all four) and canonicalized; the resolver follows
    // chains through bounded keyed self-joins (maxHops=4 here) and
    // flags cycle/over-long cuts terminal=false. Fixture per id: a
    // 200 landing page, a 301 via ROOT-RELATIVE Location, a 302 via
    // absolute, a 308 via a CASE-DENORMALIZED absolute (3-hop
    // chain), and a planted 2-cycle on every 5th id; the landing
    // text joins on via the resolved identity. No driver iteration;
    // cycle rows land with NULL text and terminal=false.
    "q352_redirect_resolve" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val landing = warcRecord("response", s"http://ex.com/final/$id",
          httpResponse("200 X", "text/html",
            s"<p>redirect landing page $id content.</p>".getBytes("UTF-8")))
        val hop1 = warcRedirect(s"http://ex.com/old/$id", "301 X", s"/final/$id")
        val hop2 = warcRedirect(s"http://ex.com/older/$id", "302 X",
          s"http://ex.com/old/$id")
        val hop3 = warcRedirect(s"http://mirror.site/m/$id", "308 X",
          s"HTTP://Ex.COM/older/$id")
        val loop =
          if (id % 5 == 0)
            warcRedirect(s"http://loop.a/$id", "301 X", s"http://loop.b/$id") ++
              warcRedirect(s"http://loop.b/$id", "302 X", s"http://loop.a/$id")
          else Array.emptyByteArray
        landing ++ hop1 ++ hop2 ++ hop3 ++ loop
      }
      val media = graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc")
      val edges = graft.sources.Warc.warcRedirects(media)
        .select(graft.functions.CanonicalUrl(col("url")).as("src"),
          col("target").as("dst"))
      val resolved = graft.ops.Redirects.resolve(edges, "src", "dst",
        maxHops = 4)
      val pages = graft.sources.Warc.warcHtmlText(media)
        .select(graft.functions.CanonicalUrl(col("url")).as("final_url"),
          col("text"))
      resolved.join(pages, Seq("final_url"), "left")
        .select(col("src").as("url"), col("final_url"), col("hops"),
          col("terminal"), col("text"))
        .orderBy("url")
    }),

    // Q350 — brotli Content-Encoding through the STREAMING door
    // ([[graft.sources.Brotli]], RFC 7932 pure-JVM — r17 verdict item
    // 5 closed: `br` is the second-most-common coding on the modern
    // web and every br response previously dropped its text under
    // `br!undecoded`): on-disk WARC files walk the split-streaming
    // reader, each carrying a br-coded page, a `gzip, br` CHAIN
    // (codings undone in reverse header order: br first, then gzip),
    // and an identity control — all three must land on the same text
    // with the applied chain surfaced in `encoding`. The decoder
    // itself is differentially pinned bit-exact against the reference
    // encoder across quality 0–11 / window 10–24 in BrotliSpec; q340
    // covers the cell door. Map-only flatMap kernel, fenced, loud.
    "q350_brotli_stream" -> ((s, d) => {
      val paths = fixturePaths(s, d, "warc_br_v1")
      graft.sources.Warc.warcPathsDocText(s, paths)
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc$", 1).cast("long"))
        .select(col("media_id"), col("record_idx"), col("url"),
          col("encoding"), col("text"))
        .orderBy("media_id", "record_idx")
    }),

    // Q351 — CJK-aware sentence segmentation (the q347 rule's
    // declared boundary: terminal-punctuation + space + uppercase is
    // a LATIN convention — CJK text has no inter-word spaces and no
    // case, so 。！？ terminate sentences unconditionally). Two
    // sentinel passes, still pure built-ins (fully codegen'd): the
    // Latin rule first, then the CJK terminals; empty pieces drop in
    // BOTH engines (adjacent terminals yield no empty sentences).
    // The oracle replays the identical regexes in the same order.
    "q351_sentence_cjk" -> ((s, d) => {
      val t0 = concat(col("text"),
        lit(" Latin one. Two! 日本語の文です。二つ目！三つ目？末尾"))
      val marked = regexp_replace(
        regexp_replace(t0, "([.!?]) ([A-Z])", "$1$2"),
        "([。！？])", "$1")
      docs(s, d).select(col("doc_id"), marked.as("m"))
        .select(col("doc_id"), posexplode(split(col("m"), "")))
        .toDF("doc_id", "piece_idx", "sentence")
        .where(length(col("sentence")) > 0)
        .select(col("doc_id"), col("piece_idx"), col("sentence"),
          length(col("sentence")).cast("long").as("n_chars"))
        .orderBy("doc_id", "piece_idx")
    }),

    // Q347 — sentence segmentation (training-data chunking at
    // sentence boundaries — the unit seq-packing and dedup pipelines
    // actually want): boundary = sentence punctuation + one space +
    // an ASCII uppercase opener, applied as PURE BUILT-INS
    // (regexp_replace inserts a U+0001 sentinel, split explodes) —
    // Catalyst-codegen'd, no custom expression needed, and the
    // oracle replays the IDENTICAL regex on the identical text so
    // both engines' left-to-right match consumption agrees by
    // construction. Runs on the REAL documents text plus a planted
    // tail that guarantees boundaries. Map-only + one explode.
    "q347_sentence_split" -> ((s, d) => {
      val t0 = concat(col("text"),
        lit(" Alpha beta. Gamma delta! Epsilon zeta? Tail end"))
      docs(s, d).select(col("doc_id"), t0.as("t"))
        .select(col("doc_id"), posexplode(split(
          regexp_replace(col("t"), "([.!?]) ([A-Z])", "$1\u0001$2"),
          "\u0001")))
        .toDF("doc_id", "sent_idx", "sentence")
        .select(col("doc_id"), col("sent_idx"), col("sentence"),
          length(col("sentence")).cast("long").as("n_chars"))
        .orderBy("doc_id", "sent_idx")
    }),

    // Q346 — public_suffix beside registered_domain ([[graft
    // .functions.PublicSuffixOf]]): the two PSL projections on one
    // row pin the walk's geometry per rule class — the suffix is
    // what a host registers UNDER, the domain is suffix + one label,
    // and a host that IS its own public suffix (the *.kawasaki.jp
    // wildcard arm) has suffix == host and domain NULL. Map-only
    // codegen'd expressions, rules baked in.
    "q346_public_suffix" -> ((s, d) => {
      val host = element_at(array(
        lit("a.example.co.uk"), lit("example.fr"), lit("www.ck"),
        lit("shop.foo.ck"), lit("x.github.io"), lit("b.kawasaki.jp")),
        (pmod(col("doc_id"), lit(6)) + 1).cast("int"))
      docs(s, d).select(col("doc_id")).withColumn("host", host)
        .withColumn("suffix", graft.functions.PublicSuffixOf(col("host")))
        .withColumn("domain", graft.functions.RegisteredDomain(col("host")))
        .select("doc_id", "host", "suffix", "domain")
        .orderBy("doc_id")
    }),

    // Q345 — RSS/Atom feed carrier ([[graft.sources.Feed]] routed by
    // [[graft.sources.Warc.warcDocText]]): the syndication XML a
    // crawl hits on every news/blog front door — RSS `<item>` / Atom
    // `<entry>` entries yield title + body (description | summary |
    // content, CDATA unwrapped), each through the SAME html_to_text
    // kernel as the page path (feed bodies are routinely HTML). The
    // fixture serves RSS under application/rss+xml AND the generic
    // text/xml (root-sniffed), Atom under application/atom+xml AND
    // application/xml — all four content-type doors must land on the
    // same text. Map-only flatMap kernel; entries capped.
    "q345_feed_text" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val n = (1 + id % 3).toInt
        val (ctype, xml) =
          if (id % 2 == 0) {
            val items = (0 until n).map { j =>
              s"<item><title>Item $id $j</title><description>" +
                s"<![CDATA[<b>story $id</b> part $j &amp; more]]>" +
                "</description></item>"
            }.mkString
            (if (id % 4 == 0) "application/rss+xml" else "text/xml",
              "<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
                s"<title>Feed $id</title>$items</channel></rss>")
          } else {
            val entries = (0 until n).map { j =>
              s"<entry><title>Entry $id $j</title>" +
                s"<summary>plain note $id $j</summary></entry>"
            }.mkString
            (if (id % 4 == 1) "application/atom+xml" else "application/xml",
              "<?xml version=\"1.0\"?>" +
                "<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
                s"<title>Feed $id</title>$entries</feed>")
          }
        warcRespRec(s"http://ex.com/feed/$id", ctype, xml.getBytes("UTF-8"))
      }
      graft.sources.Warc.warcDocText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .select("media_id", "record_idx", "url", "carrier", "text")
        .orderBy("media_id")
    }),

    // Q336 — URL-level corpus gate (the FineWeb/CCNet front filter —
    // the cheapest drop in the whole pipeline runs BEFORE any byte
    // of content is fetched or parsed): a domain blocklist applied
    // on LABEL BOUNDARIES via bounded suffix-explode + broadcast
    // semi-join (host a.b.c yields suffixes {a.b.c, b.c, c} — so
    // sub.bad.example is blocked by bad.example while
    // goodbad.example is NOT: substring matching over hosts is the
    // classic false-positive bug), plus a term gate on the URL
    // itself (codegen'd rlike). Both reasons surfaced per row.
    "q336_url_filter" -> ((s, d) => {
      import s.implicits._
      val blocklist = Seq("bad.example", "spam.test").toDF("bdomain")
      val urls = docIds(s, d).map { id =>
        val host = (id % 5) match {
          case 1 => "bad.example"
          case 2 => "sub.bad.example"
          case 3 => "goodbad.example" // suffix match must NOT block
          case 4 => "cdn.spam.test"
          case _ => "ok.site"
        }
        val path = if (id % 7 == 0) s"/xxx-casino/$id" else s"/article/$id"
        (id, s"http://$host$path")
      }.toDF("media_id", "url")
        .withColumn("host",
          regexp_extract(col("url"), "^[a-z]+://([^/:]+)", 1))
      val suffixes = urls.select(col("media_id"),
        explode(expr(
          "transform(sequence(1, size(split(host, '\\\\.'))), " +
            "i -> array_join(slice(split(host, '\\\\.'), i, 100), '.'))"))
          .as("suffix"))
      val blockedIds = suffixes
        .join(broadcast(blocklist), col("suffix") === col("bdomain"),
          "left_semi")
        .select(col("media_id")).distinct()
        .withColumn("domain_blocked", lit(true))
      urls.join(blockedIds, Seq("media_id"), "left")
        .select(col("media_id"), col("host"),
          coalesce(col("domain_blocked"), lit(false)).as("domain_blocked"),
          lower(col("url")).rlike("(xxx|casino|viagra)").as("term_blocked"))
        .withColumn("kept", !col("domain_blocked") && !col("term_blocked"))
        .orderBy("media_id")
    }),

    // Q329 — sitemap INDEX resolution (sitemaps.org index files —
    // the layer q283 stops under): a `<sitemapindex>` lists child
    // sitemap locs (published in messy case/port/dot-segment
    // variants — `canonical_url` is what makes the fetch-join key
    // work); the children equi-join to their fetched bodies, the
    // bodies' urlsets parse, and the frontier dedups per canonical
    // URL keeping the newest lastmod with a source count. The
    // protocol caps nesting at one level (an index may not list
    // another index), so this IS the full recursion — one keyed
    // fetch-join plus one grouped shuffle.
    "q329_sitemap_index" -> ((s, d) => {
      import s.implicits._
      val idx = docIds(s, d).map { id =>
        val xml = "<?xml version=\"1.0\"?><sitemapindex>" +
          s"<sitemap><loc>HTTP://EX.COM:80/sm/$id/a.xml</loc></sitemap>" +
          s"<sitemap><loc>http://ex.com/sm/./$id/b.xml</loc></sitemap>" +
          "</sitemapindex>"
        (id, xml)
      }.toDF("doc_id", "idx_xml")
      val bodies = docIds(s, d).flatMap { id =>
        Seq("a", "b").map { c =>
          val month = if (c == "a") "02" else "03"
          val xml = "<?xml version=\"1.0\"?><urlset>" +
            s"<url><loc>http://ex.com/p/${id / 5}</loc>" +
            s"<lastmod>2024-01-0${1 + id % 5}</lastmod></url>" +
            s"<url><loc>http://ex.com/$c/$id</loc>" +
            s"<lastmod>2024-$month-01</lastmod></url></urlset>"
          (s"http://ex.com/sm/$id/$c.xml", xml)
        }
      }.toDF("sm_url", "sm_xml")
      val children = idx.select(col("doc_id"),
          explode(expr(
            "regexp_extract_all(idx_xml, '<sitemap>(.*?)</sitemap>', 1)"))
            .as("e"))
        .select(col("doc_id"), graft.functions.CanonicalUrl(
          regexp_extract(col("e"), "<loc>(.*?)</loc>", 1)).as("sm_url"))
      val urls = children.join(bodies, "sm_url") // the "fetch"
        .select(col("doc_id"), explode(expr(
          "regexp_extract_all(sm_xml, '<url>(.*?)</url>', 1)")).as("u"))
        .select(graft.functions.CanonicalUrl(
            regexp_extract(col("u"), "<loc>(.*?)</loc>", 1)).as("url"),
          regexp_extract(col("u"), "<lastmod>(.*?)</lastmod>", 1)
            .as("lastmod"))
      urls.groupBy("url")
        .agg(max(col("lastmod")).as("lastmod"),
          count(lit(1)).as("n_sources"))
        .orderBy("url")
    }),

    // Q284 — split-streaming TAR → media ([[graft.sources.Archives
    // .tarPathMembers]]): the archive tier's multi-GB door — members
    // stream out of on-disk .tar(.gz) files (one task per path,
    // per-member bounded memory) and the extracted BMPs decode
    // through the same media pipeline as q269's cell-form zip. Same
    // pixel formulas as q269, so the oracle is identical; the
    // container routing is what's under test.
    "q284_tar_stream_media" -> ((s, d) => {
      import s.implicits._
      val paths = fixturePaths(s, d, "tar_stream_v1")
      val members = graft.sources.Archives.tarPathMembers(s, paths)
        .where(col("name").endsWith(".bmp"))
        .withColumn("doc_id",
          regexp_extract(col("path"), "t(\\d+)\\.tar$", 1).cast("long"))
        .select((col("doc_id") * 10 + col("entry_idx")).as("mid"),
          col("payload"))
      graft.sources.Multimodal.inspectMedia(
          graft.sources.Multimodal.asMedia(members, "mid", "payload", "image"))
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),

    // Q285 — PDF text extraction ([[graft.sources.Pdf
    // .extractPdfText]]): the biggest text carrier in a web crawl
    // after HTML finally has a path into the training-text pipeline.
    // Synthesis/oracle contract as q233/q242: each document writes a
    // deterministic PDF whose page/line text follows a formula, the
    // engine walks the REAL container (xref table or PDF 1.5 xref
    // STREAM with ObjStm + PNG-Up predictor, by id: raw / Flate /
    // xref-stream thirds), runs the content-stream text operators
    // through WinAnsi decoding, and the oracle replays the formula
    // with string_agg. 'café' pins the 0xE9 WinAnsi byte; parens and
    // backslashes in the writer's escaper are pinned by PdfSpec's
    // independent hand fixture. Every 50th payload is junk → nulls.
    // Map-only: payload bytes never shuffle at any corpus size.
    "q285_pdf_text" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "portable document? no".getBytes("UTF-8"))
        else {
          val pages = (0 until (1 + (id % 3)).toInt).map { p =>
            (0 until (1 + ((id + p) % 3)).toInt).map { l =>
              s"doc $id pg $p ln $l tok${(id * 7 + p * 3 + l) % 97}" +
                (if (l % 2 == 0) " café" else "")
            }
          }
          val bytes = (id % 3) match {
            case 0 => graft.sources.Pdf.buildSimplePdf(pages, flate = false)
            case 1 => graft.sources.Pdf.buildSimplePdf(pages, flate = true)
            case _ => graft.sources.Pdf.buildXrefStreamPdf(pages)
          }
          (id, bytes)
        }
      }.toDF("doc_id", "pdf")
      graft.sources.Pdf.describePdf(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "pdf", "doc"))
        .select(col("media_id"), col("pdf_version"), col("n_pages"),
          col("n_chars"), col("text"))
        .orderBy("media_id")
    }),

    // Q287 — split-streaming ZIP → media pipeline ([[graft.sources
    // .Archives.zipPathEntries]]): q284's composition replayed over
    // on-disk ZIPs — the local-file-header streaming walk (data
    // descriptors self-terminated through the Inflater, stored lead
    // members every 3rd file, per-member bounded memory) feeds the
    // same inspectMedia decode; the oracle replays the BMP channel
    // sums from the pixel formulas. One task per path; member bytes
    // never shuffle before decode.
    "q287_zip_stream_media" -> ((s, d) => {
      import s.implicits._
      val paths = fixturePaths(s, d, "zip_stream_v2")
      val members = graft.sources.Archives.zipPathEntries(s, paths)
        .where(col("name").endsWith(".bmp"))
        .withColumn("doc_id",
          regexp_extract(col("path"), "z(\\d+)\\.zip$", 1).cast("long"))
        .select((col("doc_id") * 10 +
          when(col("name") === "img0.bmp", 0).otherwise(1)).as("mid"),
          col("payload"))
      graft.sources.Multimodal.inspectMedia(
          graft.sources.Multimodal.asMedia(members, "mid", "payload", "image"))
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),

    // Q294 — page-level noindex gate ([[graft.functions.MetaRobots]]):
    // the robots.txt gate's in-document sibling — pages carrying
    // `<meta name="robots" content="…noindex…">` opt out of the
    // corpus. The fixture plants the tag in BOTH attribute orders and
    // mixed case (the wild's two shapes) on two of three id classes;
    // the oracle states which pages survive. Declarative regex gate —
    // fuses into the extraction scan, no UDF, no shuffle.
    "q294_noindex_gate" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val p1 = (id % 3) match {
          case 0 => "<meta name=\"robots\" content=\"noindex,follow\">" +
            s"<p>keep page $id one</p>"
          case 1 => "<META CONTENT='NOINDEX' NAME='ROBOTS'>" +
            s"<p>keep page $id one</p>"
          case _ => s"<p>keep page $id one</p>"
        }
        warcInfo ++
          warcRespRec(s"http://ex.com/$id/0", "text/html",
            s"<p>keep page $id zero</p>".getBytes("UTF-8")) ++
          warcRespRec(s"http://ex.com/$id/1", "text/html", p1.getBytes("UTF-8"))
      }
      graft.sources.Warc.warcHtmlPages(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .where(graft.functions.MetaRobots.indexable(col("html")))
        .select(col("media_id"), col("record_idx"), col("url"),
          graft.functions.HtmlToText(col("html")).as("text"))
        .orderBy("media_id", "record_idx")
    }),

    // Q296 — X-Robots-Tag header gate ([[graft.functions.XRobotsTag]]
    // + [[graft.functions.MetaRobots.indexablePage]]): q294's
    // in-document noindex has an HTTP-header sibling — a page served
    // with `X-Robots-Tag: noindex` opts out without any meta tag, and
    // a gate that reads only the HTML ships it anyway. The fixture
    // plants all three wild header shapes (bare `noindex`, the
    // agent-scoped `googlebot: noindex`, `NONE` with a trailing
    // directive) on page 1, a BENIGN header (`nofollow, noarchive`)
    // on page 0 that must NOT trip, and the meta tag on page 2 for
    // even ids — so the oracle pins header-only, meta-only, and
    // both-clean outcomes. The composed verdict (header OR meta ⇒
    // drop) is one declarative filter over the page scan: no UDF, no
    // shuffle, no second pass over the records.
    "q296_xrobots_gate" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val headerNoindex = (id % 3) match {
          case 0 => "noindex"
          case 1 => "googlebot: noindex"
          case _ => "NONE, nosnippet"
        }
        val p2 = (if (id % 2 == 0)
          "<meta name=\"robots\" content=\"noindex\">" else "") +
          s"<p>keep page $id two</p>"
        warcInfo ++
          warcRespRec(s"http://ex.com/$id/0", "text/html",
            s"<p>keep page $id zero</p>".getBytes("UTF-8"),
            "X-Robots-Tag: nofollow, noarchive\r\n") ++
          warcRespRec(s"http://ex.com/$id/1", "text/html",
            s"<p>keep page $id one</p>".getBytes("UTF-8"),
            s"X-Robots-Tag: $headerNoindex\r\n") ++
          warcRespRec(s"http://ex.com/$id/2", "text/html", p2.getBytes("UTF-8"))
      }
      graft.sources.Warc.warcHtmlPages(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .where(graft.functions.MetaRobots.indexablePage(
          col("html"), col("x_robots")))
        .select(col("media_id"), col("record_idx"), col("url"),
          graft.functions.HtmlToText(col("html")).as("text"))
        .orderBy("media_id", "record_idx")
    }),

    // Q310 — WebP members through the archive door: q269's
    // composition with VP8L payloads — ZIP members extract and
    // decode through the SAME inspectMedia sniff the BMP members
    // use, with the encoding variant alternating by member (plain /
    // subtract-green), so the archive tier and the new decoder
    // compose without a dedicated path. The oracle replays the pixel
    // formulas; nothing about the container routing may move.
    "q310_archive_webp" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "archive? no".getBytes("UTF-8"))
        else (id, zipFixture((0 until 2).map { k =>
          (s"img$k.webp", graft.sources.Webp.buildLosslessWebp(10, 8,
            (x, y) => (
              ((id * 7 + k * 31 + x * 13 + y * 29) % 256).toInt,
              ((id * 5 + k * 17 + x * 3 + y * 11) % 256).toInt,
              ((id * 3 + k * 7 + x + y * 7) % 256).toInt),
            if (k == 0) "plain" else "subgreen"))
        }))
      }.toDF("doc_id", "arc")
      val members = graft.sources.Archives.extractZipEntries(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "arc", "archive"))
      val inner = members.select(
        (col("media_id") * 10 + col("entry_idx")).as("mid"), col("payload"))
      graft.sources.Multimodal.inspectMedia(
          graft.sources.Multimodal.asMedia(inner, "mid", "payload", "image"))
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("n_pixels"), col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),

    // Q309 — animated WebP frames ([[graft.sources.Webp
    // .describeWebpFrames]]): the VP8X(ANIM) → ANMF chunk walk with
    // every frame's VP8L payload FULLY decoded — the animated-sticker
    // analog of the GIF frame walk (q235), one row per frame. Frame
    // count, geometry, duration, and per-frame pixel-formula channel
    // sums all replay in the oracle. Map-only flatMap kernel.
    "q309_webp_frames" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "anim? no".getBytes("UTF-8"))
        else {
          val nFrames = (1 + id % 3).toInt
          val frames = (0 until nFrames).map { k =>
            val fw = (7 + (id + k) % 4).toInt
            val fh = (5 + (id + 2 * k) % 3).toInt
            (fw, fh, k,
              (x: Int, y: Int) =>
                (((id * 7 + k * 31 + x * 13 + y * 29) % 256).toInt,
                  ((id * 5 + k * 17 + x * 3 + y * 11) % 256).toInt,
                  ((id * 3 + k * 7 + x + y * 7) % 256).toInt))
          }
          (id, graft.sources.Webp.buildAnimatedWebp(30, 20, frames, 40))
        }
      }.toDF("doc_id", "webp")
      graft.sources.Webp.describeWebpFrames(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "webp", "image"))
        .select("media_id", "frame_idx", "canvas_w", "canvas_h", "width",
          "height", "duration_ms", "n_pixels", "sum_r", "sum_g", "sum_b")
        .orderBy("media_id", "frame_idx")
    }),

    // Q308 — curation v10: the WHOLE modern chain through the
    // STREAMING door — warcPathsDocText (q306's router over on-disk
    // files) → the X-Robots-Tag gate (record 6's long unique text
    // would survive every later stage, so the gate is load-bearing)
    // → length gate → canonical-URL keep-first → content keep-first.
    // Same join-free posture as v9: one path-streaming kernel, one
    // declarative gate, two keyed windows. At 100 TB this IS the
    // pipeline: multi-GB WARC files in, deduplicated multi-carrier
    // training text out.
    // Q315 — curation v11, the FULL-SIGNAL streaming capstone: one
    // pass over on-disk WARCs through the streaming multi-carrier
    // router now yields the final keep-set with EVERY single-pass
    // signal composed — X-Robots gate, length gate, the one-kernel
    // LangId ([[graft.llm.LangId.withCrawlLang]], gating only on a
    // CONFIDENT foreign verdict: lang_total >= 8 AND pred_lang <> 'en'
    // — a two-word function-word tie is no reason to drop a short
    // English doc), the composite quality score (>= 0.3 drops
    // gibberish the language gate can't see), canonical-URL
    // keep-first, text keep-first. Fixture = v10's records verbatim
    // (survivor parity by construction) + a planted confident-Russian
    // page and a planted gibberish page, each dropped by exactly one
    // new gate. Plan: join-free; both keep-firsts are WindowGroupLimit
    // partial top-1; the signal columns are map-only expressions
    // fused into the scan.
    "q315_curation_v11" -> ((s, d) => {
      import s.implicits._
      val pages = graft.sources.Warc.warcPathsDocText(
          s, fixturePaths(s, d, "warc_v11_v1"))
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc$", 1).cast("long"))
      val gated = pages
        .where(!graft.functions.XRobotsTag.noindex(col("x_robots")))
        .where(length(col("text")) >= 20)
      val signed = graft.llm.LangId.withCrawlLang(gated, "text")
        .where(!(col("lang_total") >= 8 && col("pred_lang") =!= "en"))
        .where(graft.functions.TextFunctions.qualityScore(col("text"))
          >= 0.3)
        .withColumn("url_canon", graft.functions.CanonicalUrl(col("url")))
      val urlW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("url_canon"))
        .orderBy(col("media_id"), col("record_idx"))
      val urlKept = signed.withColumn("rn", row_number().over(urlW))
        .where(col("rn") === 1).drop("rn")
      val textW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("text")).orderBy(col("media_id"), col("record_idx"))
      urlKept.withColumn("rn", row_number().over(textW))
        .where(col("rn") === 1)
        .select(col("media_id"), col("record_idx"), col("carrier"),
          col("url_canon").as("url"), col("pred_lang"), col("lang_total"),
          col("text"))
        .orderBy("media_id", "record_idx")
    }),

    // Q320 — curation v12: v11 plus the EXTRACTION-CONFIDENCE gate.
    // The router now surfaces type0_codes/type0_unmapped (q314's
    // mojibake signal) on every routed record, so the streaming
    // capstone gates subset-font PDFs whose Identity-decoded text is
    // indistinguishable from clean text at the text level — the
    // planted no-ToUnicode record reads as plain English and passes
    // EVERY other gate; only `unmapped * 5 <= codes` can drop it.
    // The planted clean Type0 record must SURVIVE (the gate is a
    // ratio, not a carrier filter). Still join-free: one streaming
    // pass, declarative gates, two WindowGroupLimit keep-firsts.
    "q320_curation_v12" -> ((s, d) => {
      import s.implicits._
      val pages = graft.sources.Warc.warcPathsDocText(
          s, fixturePaths(s, d, "warc_v12_v1"))
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc$", 1).cast("long"))
      val gated = pages
        .where(!graft.functions.XRobotsTag.noindex(col("x_robots")))
        .where(length(col("text")) >= 20)
        .where(col("type0_unmapped") * 5 <= col("type0_codes"))
      val signed = graft.llm.LangId.withCrawlLang(gated, "text")
        .where(!(col("lang_total") >= 8 && col("pred_lang") =!= "en"))
        .where(graft.functions.TextFunctions.qualityScore(col("text"))
          >= 0.3)
        .withColumn("url_canon", graft.functions.CanonicalUrl(col("url")))
      val urlW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("url_canon"))
        .orderBy(col("media_id"), col("record_idx"))
      val urlKept = signed.withColumn("rn", row_number().over(urlW))
        .where(col("rn") === 1).drop("rn")
      val textW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("text")).orderBy(col("media_id"), col("record_idx"))
      urlKept.withColumn("rn", row_number().over(textW))
        .where(col("rn") === 1)
        .select(col("media_id"), col("record_idx"), col("carrier"),
          col("url_canon").as("url"), col("pred_lang"), col("lang_total"),
          col("type0_codes"), col("type0_unmapped"), col("text"))
        .orderBy("media_id", "record_idx")
    }),

    // Q326 — curation v13: CANONICAL-LINK consolidation. The router
    // now surfaces each html record's `link rel=canonical`
    // ([[graft.functions.HtmlMeta]], null for other carriers), and
    // the URL keep-first keys on canonical_url(COALESCE(canonical,
    // fetch_url)) — so two fetches of the same article from different
    // (syndicated/mirrored/parameterized) URLs with DIFFERENT text
    // collapse onto the publisher's one declared identity, which
    // fetch-URL dedup and content dedup both miss. The planted pair
    // shares one deliberately denormalized canonical (upper scheme/
    // host, default port, dot-segment): record 11 survives, record 12
    // leaves no trace. Everything else is v12's chain verbatim; the
    // plan stays join-free.
    "q326_curation_v13" -> ((s, d) => {
      import s.implicits._
      val pages = graft.sources.Warc.warcPathsDocText(
          s, fixturePaths(s, d, "warc_v13_v1"))
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc$", 1).cast("long"))
      val gated = pages
        .where(!graft.functions.XRobotsTag.noindex(col("x_robots")))
        .where(length(col("text")) >= 20)
        .where(col("type0_unmapped") * 5 <= col("type0_codes"))
      val signed = graft.llm.LangId.withCrawlLang(gated, "text")
        .where(!(col("lang_total") >= 8 && col("pred_lang") =!= "en"))
        .where(graft.functions.TextFunctions.qualityScore(col("text"))
          >= 0.3)
        .withColumn("url_canon", graft.functions.CanonicalUrl(
          coalesce(col("canonical"), col("url"))))
      val urlW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("url_canon"))
        .orderBy(col("media_id"), col("record_idx"))
      val urlKept = signed.withColumn("rn", row_number().over(urlW))
        .where(col("rn") === 1).drop("rn")
      val textW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("text")).orderBy(col("media_id"), col("record_idx"))
      urlKept.withColumn("rn", row_number().over(textW))
        .where(col("rn") === 1)
        .select(col("media_id"), col("record_idx"), col("carrier"),
          col("url_canon").as("url"), col("text"))
        .orderBy("media_id", "record_idx")
    }),

    // Q337 — curation v14: the URL gate IN FRONT. q336's pre-fetch
    // filter composes as the capstone's first stage — the domain
    // blocklist (a MAP-SIDE label-boundary expression over the
    // O(list) literal: one host/suffix comparison per blocked domain
    // since r21 — the r17 suffix-explode semi-join re-executed the
    // whole WARC router a second time; r17 verdict item 1) and URL
    // term gate run on the router's url column BEFORE any text-level
    // work, so at 100 TB the blocked records' LangId/quality
    // expressions are never evaluated (Catalyst orders the cheap URL
    // predicates first). Fixture: v13's records + a planted record
    // from a blocked domain and one with a term-flagged URL, each
    // carrying long unique CLEAN text that would survive every other
    // gate. The whole chain is JOIN-FREE — ONE MapPartitions decode.
    "q337_curation_v14" -> ((s, d) => {
      // the chain itself lives in [[graft.llm.Curation]] since r17 —
      // ONE code path serves this batch query AND the Structured
      // Streaming leg (Curation.v14Stream, parity-pinned in
      // CurationStreamSpec)
      val pages = graft.sources.Warc.warcPathsDocText(
          s, fixturePaths(s, d, "warc_v14_v1"))
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc$", 1).cast("long"))
      graft.llm.Curation.v14Batch(pages, Seq("bad.example", "spam.test"))
        .orderBy("media_id", "record_idx")
    }),

    // Q344 — curation v15: the PER-REGISTERED-DOMAIN dominance cap
    // ([[graft.llm.Curation.v15Batch]] — the FineWeb host-dominance
    // rule composed onto v14). Survivors key on eTLD+1 of their
    // canonical host via `registered_domain` (q342's PSL walk), and
    // each domain keeps its first 7 by (media_id, record_idx). The
    // fixture adds the CONTENT-FARM arm: three clean unique pages
    // per id from sibling subdomains a0/a1/a2 of farm<id%5>.co.uk —
    // pages raw-host keying would treat as thousands of distinct
    // "domains" but eTLD+1 aggregates onto five farm keys, cutting
    // each to 7 rows; ex.com (the v14 survivor mass) is capped by
    // the same uniform rule. One more keyed WindowGroupLimit on a
    // lower-cardinality key — no join, rules baked into codegen.
    "q344_curation_v15" -> ((s, d) => {
      val pages = graft.sources.Warc.warcPathsDocText(
          s, fixturePaths(s, d, "warc_v15_v1"))
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc$", 1).cast("long"))
      graft.llm.Curation.v15Batch(pages, Seq("bad.example", "spam.test"),
          domainCap = 7)
        .orderBy("media_id", "record_idx")
    }),

    "q308_curation_v10" -> ((s, d) => {
      import s.implicits._
      val pages = graft.sources.Warc.warcPathsDocText(
          s, fixturePaths(s, d, "warc_v10_v1"))
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc$", 1).cast("long"))
      val kept = pages
        .where(!graft.functions.XRobotsTag.noindex(col("x_robots")))
        .where(length(col("text")) >= 20)
        .withColumn("url_canon", graft.functions.CanonicalUrl(col("url")))
      val urlW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("url_canon"))
        .orderBy(col("media_id"), col("record_idx"))
      val urlKept = kept.withColumn("rn", row_number().over(urlW))
        .where(col("rn") === 1).drop("rn")
      val textW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("text")).orderBy(col("media_id"), col("record_idx"))
      urlKept.withColumn("rn", row_number().over(textW))
        .where(col("rn") === 1)
        .select(col("media_id"), col("record_idx"), col("carrier"),
          col("url_canon").as("url"), col("text"))
        .orderBy("media_id", "record_idx")
    }),

    // Q307 — WebP lossless decode ([[graft.sources.Webp]]): the
    // second-most-common crawled image format decodes to PIXELS pure
    // JVM from the public VP8L spec — canonical prefix codes (both
    // forms), inverse transforms, color cache, LZ77. Four writer
    // variants by id%4 (plain / SUBTRACT_GREEN / PREDICTOR /
    // 19-color COLOR_INDEXING) encode the SAME pixel formulas, so
    // one oracle covers all: a decoder that shortcuts any transform
    // fails that id class's hash. LZ77/cache paths are pinned by
    // WebpSpec's independent hand-assembled bitstreams (no JDK
    // differential exists — ImageIO cannot read WebP; the ICO
    // precedent). Map-only flatMap kernel; pixels never shuffle.
    // Q311 — LOSSY WebP (VP8 keyframe) pixel decode
    // ([[graft.sources.Vp8]] via [[graft.sources.Webp
    // .describeWebpLossy]]): the dominant still-WebP form on the real
    // web, previously dimensions-only. The full RFC 6386 keyframe
    // path (bool coder, mode trees, token decode, dequant, IWHT/IDCT,
    // all intra predictors, in-loop filter) is pinned bit-exactly
    // against the system reference codec in WebpVp8Spec; THIS row
    // replays the deterministic MB-flat writer whose DC-only
    // residuals quantize exactly, across all five intra-mode
    // variants, so DuckDB can state the decoded plane sums. Stats in
    // the bitstream's own YUV space (no conversion in the contract).
    // flatMap byte kernel; pixels never shuffle.
    "q311_webp_lossy" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "webp? no".getBytes("UTF-8"))
        else {
          val mw = (2 + id % 3).toInt
          val mh = (1 + id % 2).toInt
          val variant = (id % 5) match {
            case 0 => "dc"
            case 1 => "v"
            case 2 => "h"
            case 3 => "tm"
            case _ => "bpred"
          }
          def yuv(mx: Int, my: Int) = (
            ((id * 7 + mx * 31 + my * 17) % 256).toInt,
            ((id * 5 + mx * 11 + my * 23) % 256).toInt,
            ((id * 3 + mx * 13 + my * 29) % 256).toInt)
          (id, graft.sources.Webp.buildLossyWebp(mw, mh, yuv, variant))
        }
      }.toDF("doc_id", "webp")
      graft.sources.Webp.describeWebpLossy(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "webp", "image"))
        .orderBy("media_id")
    }),

    // Q321 — FLAC lossless audio decode ([[graft.sources.Flac]]):
    // the audio tier's VP8L — full sample reconstruction pure JVM
    // from RFC 9639 (frame walk with CRC-8/16, CONSTANT / VERBATIM /
    // FIXED / quantized-LPC subframes, Rice residuals with
    // partitions, mid/side stereo decorrelation). Five writer
    // variants by id%5 encode the SAME deterministic sample
    // formulas, so one oracle covers every subframe type and the
    // stereo path: a decoder that shortcuts any of them fails that
    // id class's sums. Escape/wasted-bits forms are pinned by
    // FlacSpec's independent hand-assembled bitstreams. Map-only
    // flatMap byte kernel; samples never shuffle.
    "q321_flac_decode" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "flac? no".getBytes("UTF-8"))
        else {
          val n = (48 + (id % 3) * 16).toInt
          def mono(f: Int => Int) = Seq(Array.tabulate(n)(f))
          val (chans, variant) = (id % 5) match {
            case 0 => (mono(i => ((id * 7 + i * 13) % 401 - 200).toInt), "verbatim")
            case 1 => (mono(_ => ((id * 11) % 300 - 150).toInt), "constant")
            case 2 => (mono(i => ((id * 7 + i * 13) % 401 - 200).toInt), "fixed2")
            case 3 => (mono(i => ((id * 7 + i * 13) % 401 - 200).toInt), "lpc2")
            case _ => (Seq(
              Array.tabulate(n)(i => ((id * 5 + i * 11) % 401 - 200).toInt),
              Array.tabulate(n)(i => ((id * 3 + i * 17) % 401 - 200).toInt)),
              "midside")
          }
          (id, graft.sources.Flac.buildFlac(chans, 44100, 16, 16, variant))
        }
      }.toDF("doc_id", "flac")
      graft.sources.Flac.describeFlac(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "flac", "audio"))
        .orderBy("media_id")
    }),

    // Q328 — archive × FLAC composition (the q310 contract for the
    // audio tier): ZIP members named `*.flac` extract through
    // [[graft.sources.Archives.extractZipEntries]] and decode through
    // the SAME [[graft.sources.Multimodal.inspectMedia]] sniff as
    // every other format — member 0 a mono VERBATIM stream, member 1
    // a mid/side stereo stream, so the sniff path exercises both the
    // trivial and the decorrelated decode. The oracle replays the
    // sample formulas (n, peak, sum of squares over ALL channels);
    // nothing about the container routing may move.
    "q328_archive_flac" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "archive? no".getBytes("UTF-8"))
        else (id, zipFixture(Seq(
          ("a0.flac", graft.sources.Flac.buildFlac(
            Seq(Array.tabulate(32)(i => ((id * 7 + i * 13) % 401 - 200).toInt)),
            8000, 16, 16, "verbatim")),
          ("a1.flac", graft.sources.Flac.buildFlac(Seq(
            Array.tabulate(24)(i => ((id * 5 + i * 11) % 401 - 200).toInt),
            Array.tabulate(24)(i => ((id * 3 + i * 17) % 401 - 200).toInt)),
            16000, 16, 12, "midside")))))
      }.toDF("doc_id", "arc")
      val members = graft.sources.Archives.extractZipEntries(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "arc", "archive"))
      val inner = members.select(
        (col("media_id") * 10 + col("entry_idx")).as("mid"), col("payload"))
      graft.sources.Multimodal.inspectMedia(
          graft.sources.Multimodal.asMedia(inner, "mid", "payload", "audio"))
        .select(col("media_id"), col("format"), col("sample_rate"),
          col("n_frames"), col("peak_raw"), col("sum_sq"))
        .orderBy("media_id")
    }),

    // Q334 — WARC revisit resolution ([[graft.sources.Warc
    // .warcCaptures]]): crawlers emit `WARC-Type: revisit` records
    // (identical-payload-digest profile) instead of re-storing an
    // unchanged body — a corpus pipeline must RESOLVE them back to
    // the stored capture or silently lose every recrawl. One record
    // walk yields responses (routed text + payload digest) and
    // revisits (refers-to URI + digest); one equi-join on the
    // CANONICALIZED refers-to URI (the fixture denormalizes it —
    // upper host, default port) resolves each revisit, and the
    // digest comparison flags content drift (every 3rd id's digest
    // deliberately mismatches: the revisit claims identity the
    // stored capture contradicts). Map-only walk + one keyed join.
    "q334_warc_revisit" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val resp = warcRecord("response", s"http://ex.com/orig/$id",
          httpResponse("200 OK", "text/html",
            s"<p>original page $id stays stored.</p>".getBytes("UTF-8")),
          s"WARC-Payload-Digest: sha1:D$id\r\n")
        val revDigest = if (id % 3 == 0) s"sha1:X$id" else s"sha1:D$id"
        // a revisit's payload is the bare status line: no Content-Type
        val rev = warcRecord("revisit", s"http://ex.com/again/$id",
          "HTTP/1.1 200 OK\r\n\r\n".getBytes("ISO-8859-1"),
          s"WARC-Refers-To-Target-URI: HTTP://EX.COM:80/orig/$id\r\n" +
            s"WARC-Payload-Digest: $revDigest\r\n" +
            "WARC-Profile: http://netpreserve.org/warc/1.1/revisit/identical-payload-digest\r\n")
        resp ++ rev
      }
      val caps = graft.sources.Warc.warcCaptures(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
      val responses = caps.where(col("kind") === "response")
        .select(graft.functions.CanonicalUrl(col("url")).as("k"),
          col("digest").as("stored_digest"), col("text").as("stored_text"))
      val revisits = caps.where(col("kind") === "revisit")
        .select(col("media_id"), col("record_idx"), col("url"),
          graft.functions.CanonicalUrl(col("refers_to")).as("k"),
          col("digest"))
      revisits.join(responses, Seq("k"), "left")
        .select(col("media_id"), col("record_idx"), col("url"),
          col("k").as("refers_to"),
          (col("digest") === col("stored_digest")).as("digest_match"),
          col("stored_text"))
        .orderBy("media_id")
    }),

    // Q333 — AVIF/HEIC geometry ([[graft.sources.Heif]]): the modern
    // web's newest still-image container through the ISOBMFF walk —
    // ftyp brand, meta→iinf item count, meta→iprp→ipco→ispe extents
    // with the PRIMARY reported as the largest (thumbnails and alpha
    // auxiliaries are smaller by construction); every 4th id's meta
    // box uses the size==1 / 64-bit largesize form. AV1/HEVC pixel
    // decode is the declared codec-class non-goal (the posture VP8
    // lossy had before q311); geometry is what curation filters on.
    // Map-only flatMap kernel.
    "q333_heif_dims" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "heif? no".getBytes("UTF-8"))
        else {
          val w = 320L + (id % 10) * 16
          val h = 240L + (id % 7) * 16
          (id, graft.sources.Heif.buildHeif(
            if (id % 2 == 0) "avif" else "heic",
            Seq((w, h), (32L + id % 16, 32L)),
            nItems = (1 + id % 4).toInt,
            largesize = id % 4 == 0))
        }
      }.toDF("doc_id", "heif")
      graft.sources.Heif.describeHeif(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "heif", "image"))
        .orderBy("media_id")
    }),

    // Q322 — Ogg container walk ([[graft.sources.Ogg]]): page-level
    // facts of the web's streaming-audio container — CRC-verified
    // pages, packet accounting from lacing (incl. a 255-spanning
    // packet on every 7th id), Vorbis/Opus ID headers, duration from
    // the last granule (Opus subtracts the 312-sample pre-skip at
    // 48 kHz). Codec-payload decode is the MP3-class non-goal; these
    // are the container facts curation filters on. Map-only flatMap.
    "q322_ogg_info" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "ogg? no".getBytes("UTF-8"))
        else {
          val vorbis = id % 2 == 0
          val rate = if (vorbis) (8000 * (1 + id % 4)).toInt else 16000
          val granule =
            if (vorbis) rate.toLong * (3 + id % 5)
            else 48000L * (2 + id % 4) + 312
          (id, graft.sources.Ogg.buildOgg(
            serial = id, codec = if (vorbis) "vorbis" else "opus",
            channels = (1 + id % 3).toInt, rate = rate,
            nDataPages = (1 + id % 3).toInt,
            packetsPerPage = (2 + id % 2).toInt,
            lastGranule = granule, spanPacket = id % 7 == 0))
        }
      }.toDF("doc_id", "ogg")
      graft.sources.Ogg.describeOgg(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "ogg", "audio"))
        .orderBy("media_id", "stream_idx")
    }),

    // Q324 — ID3 tag walk ([[graft.sources.Id3]]): the metadata the
    // MP3 frame walk (q251 family) skips — v2.2/v2.3/v2.4 by id%3
    // (3-byte, plain-32-bit, and syncsafe frame sizes respectively),
    // all four text encodings across the fixture (latin1 title,
    // BOM'd UTF-16 artist, UTF-8 album + TDRC on v2.4, UTF-16BE
    // genre on v2.4), and every 4th id drops the v2 album so the
    // ID3v1 trailer fallback is load-bearing. Map-only flatMap.
    "q324_id3_tags" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "id3? no".getBytes("UTF-8"))
        else {
          val major = (2 + id % 3).toInt
          val album = if (id % 4 == 0) None else Some(s"Album $id")
          (id, graft.sources.Id3.buildId3(major,
            title = s"Song $id café",
            artist = s"Artist — $id",
            album = album,
            year = s"${1960 + id % 60}",
            genre = if (major == 4) s"Жанр $id" else s"Genre ${id % 7}",
            v1Album = if (id % 4 == 0) Some(s"V1 $id") else None))
        }
      }.toDF("doc_id", "mp3")
      graft.sources.Id3.describeId3(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "mp3", "audio"))
        .orderBy("media_id")
    }),

    // Q327 — robots.txt scheduler directives ([[graft.functions
    // .RobotsCrawlDelay]] / [[RobotsSitemaps]]): the fetch-rate and
    // frontier-seed outputs a crawl scheduler reads from the SAME
    // robots.txt the allow/deny gate (q282 family) parses — group-
    // scoped Crawl-delay with RFC 9309 agent selection (an exact
    // group WITHOUT a delay does NOT fall back to *, every 3rd id
    // pins that), fractional delays rounding up, and group-
    // independent Sitemap lines in document order. Map-only
    // declarative columns over the robots fixture.
    "q327_robots_directives" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        val sb = new StringBuilder
        sb.append("User-agent: graftbot\n")
        if (id % 3 != 0) sb.append(s"Crawl-delay: ${1 + id % 5}.5\n")
        sb.append(s"Disallow: /private/$id\n\n")
        sb.append("User-agent: *\n")
        sb.append(s"Crawl-delay: ${10 + id % 7}\n")
        sb.append("Allow: /\n\n")
        sb.append(s"Sitemap: https://ex.com/$id/s1.xml\n")
        if (id % 2 == 0) sb.append(s"Sitemap: https://ex.com/$id/s2.xml\n")
        (id, sb.toString)
      }.toDF("media_id", "rules")
      pay.withColumn("sm", graft.functions.RobotsSitemaps(col("rules")))
        .select(col("media_id"),
          graft.functions.RobotsCrawlDelay(col("rules"), lit("graftbot"))
            .as("delay_graft"),
          graft.functions.RobotsCrawlDelay(col("rules"), lit("otherbot"))
            .as("delay_other"),
          graft.functions.RobotsAllowed(col("rules"), lit("graftbot"),
            concat(lit("/private/"), col("media_id"), lit("/x")))
            .as("allowed_private"),
          size(col("sm")).as("n_sitemaps"),
          array_join(col("sm"), ",").as("sitemaps"))
        .orderBy("media_id")
    }),

    // Q338 — animated WebP with TRANSPARENT LOSSY frames: q309's
    // ANMF walk now carries each frame's ALPH sub-chunk through the
    // q335 alpha machinery — per-frame alpha sums under per-frame
    // (compression, filter) choices. The lossy planes' RGB sums stay
    // out of the contract (the YUV surface is q311's); geometry,
    // duration and the alpha formula replay exactly. Map-only.
    "q338_webp_anim_alpha" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "anim? no".getBytes("UTF-8"))
        else {
          val nFrames = (1 + id % 3).toInt
          val frames = (0 until nFrames).map { k =>
            (1 + (id.toInt + k) % 2, 1,
              (_: Int, _: Int) => (90, 120, 130),
              (x: Int, y: Int) =>
                ((id * 3 + k * 17 + x * 5 + y * 11) % 256).toInt,
              ((id + k) % 2).toInt, ((id + k) % 4).toInt)
          }
          (id, graft.sources.Webp.buildAnimatedWebpAlpha(48, 16, frames, 25))
        }
      }.toDF("doc_id", "webp")
      graft.sources.Webp.describeWebpFrames(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "webp", "image"))
        .select("media_id", "frame_idx", "canvas_w", "canvas_h", "width",
          "height", "duration_ms", "n_pixels", "sum_a")
        .orderBy("media_id", "frame_idx")
    }),

    // Q335 — lossy WebP WITH ALPHA ([[graft.sources.Webp
    // .decodeAlph]]): the real web's transparent-lossy form — a VP8X
    // container's ALPH chunk carries the alpha plane the VP8 frame
    // can't, in BOTH compressions (raw bytes; the headerless-VP8L-
    // in-green form reusing the full q307 lossless machinery) under
    // ALL four prediction filters (none/horizontal/vertical/
    // gradient, libwebp border rules), varied by id so every
    // (compression, filter) pair lands in the oracle. Corrupt alpha
    // is a loud zero, never silently opaque. Map-only flatMap;
    // planes never shuffle.
    "q335_webp_alpha" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "webp? no".getBytes("UTF-8"))
        else {
          val mw = (1 + id % 2).toInt
          (id, graft.sources.Webp.buildLossyWebpAlpha(mw, 1,
            (_, _) => (90, 120, 130), "dc",
            (x, y) => ((id * 3 + x * 5 + y * 11) % 256).toInt,
            compression = (id % 2).toInt, filter = (id % 4).toInt))
        }
      }.toDF("doc_id", "webp")
      graft.sources.Webp.describeWebp(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "webp", "image"))
        .select("media_id", "variant", "width", "height", "n_pixels",
          "sum_a")
        .orderBy("media_id")
    }),

    "q307_webp_decode" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "webp? no".getBytes("UTF-8"))
        else {
          val w = (19 + id % 4).toInt
          val h = (9 + id % 5).toInt
          val variant = (id % 4) match {
            case 0 => "plain"
            case 1 => "subgreen"
            case 2 => "predictor"
            case _ => "palette"
          }
          val px: (Int, Int) => (Int, Int, Int) =
            if (id % 4 == 3) { (x, y) =>
              val idx = if (y == 0) x % 19 else ((x * 7 + y * 3 + id) % 19).toInt
              (((id * 3 + idx) % 256).toInt, ((id * 5 + idx * 29) % 256).toInt,
                ((id * 7 + idx * 41) % 256).toInt)
            } else { (x, y) =>
              (((id * 7 + x * 13 + y * 29) % 256).toInt,
                ((id * 5 + x * 3 + y * 11) % 256).toInt,
                ((id * 3 + x + y * 7) % 256).toInt)
            }
          (id, graft.sources.Webp.buildLosslessWebp(w, h, px, variant))
        }
      }.toDF("doc_id", "webp")
      graft.sources.Webp.describeWebp(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "webp", "image"))
        .orderBy("media_id")
    }),

    // Q306 — STREAMING multi-carrier doc router ([[graft.sources
    // .Warc.warcPathsDocText]]): the 100 TB front door finally routes
    // every carrier, not just HTML — q289's mixed fixture replayed
    // over on-disk .warc(.gz) FILES through the bounded streaming
    // reader and the SAME routeDocRecord as the cell walk (shared by
    // construction, so a carrier added to one door exists on both).
    // Identical oracle to q289: the door is what's under test, the
    // routing semantics must not move. One task per path; per-record
    // bounded memory.
    "q306_warc_stream_docs" -> ((s, d) => {
      import s.implicits._
      val paths = fixturePaths(s, d, "warc_docs_v1")
      graft.sources.Warc.warcPathsDocText(s, paths)
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc$", 1).cast("long"))
        .select("media_id", "record_idx", "url", "carrier", "text")
        .orderBy("media_id", "record_idx")
    }),

    // Q314 — PDF extraction-confidence ([[graft.sources.Pdf]]
    // type0_codes / type0_unmapped): a Type0 font WITHOUT /ToUnicode
    // decodes through the Identity fallback — exact for CID ==
    // codepoint writers, MOJIBAKE for real subset fonts whose CIDs
    // are glyph ids. The decode can't be fixed without font-program
    // parsing, but the fraction is now SURFACED so curation can gate
    // garbage text instead of ingesting it. Fixture: a simple-font
    // doc (no composite codes), a clean Type0 doc (CMap maps every
    // code), and a no-ToUnicode subset doc (every code unmapped);
    // the integer gate unmapped*5 <= codes keeps the first two.
    "q314_pdf_confidence" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "pdf? no".getBytes("UTF-8"))
        else (id % 3) match {
          case 0 => (id, graft.sources.Pdf.buildSimplePdf(
            Seq(Seq(s"Simple $id page.")), flate = false))
          case 1 => (id, graft.sources.Pdf.buildType0Pdf(
            Seq(Seq(s"Type0 $id clean line.")), xrefStream = false))
          case _ => (id, graft.sources.Pdf.buildType0PdfNoToUnicode(
            Seq(Seq(s"Subset $id mojibake line."))))
        }
      }.toDF("doc_id", "pdf")
      graft.sources.Pdf.describePdf(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "pdf", "doc"))
        .withColumn("kept",
          col("type0_unmapped") * lit(5) <= col("type0_codes"))
        .select("media_id", "n_pages", "type0_codes", "type0_unmapped",
          "kept", "text")
        .orderBy("media_id")
    }),

    // Q313 — email/MIME carrier ([[graft.sources.Mime]]): mailing
    // lists and mail archives are a standard pretraining source. One
    // mbox per document (postmark split), each message a REAL MIME
    // tree: B-encoded RFC 2047 subject, multipart/alternative whose
    // text/plain leg (quoted-printable utf-8) must win over the html
    // leg, odd messages wrapped in multipart/mixed with a base64 PDF
    // attachment that is COUNTED, never decoded. Map-only flatMap
    // per mailbox; one linear pass per message.
    "q313_mbox_text" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "mbox? no".getBytes("UTF-8"))
        else {
          val n = (1 + id % 3).toInt
          val sb = new StringBuilder
          (0 until n).foreach { m =>
            val subj = "=?UTF-8?B?" + java.util.Base64.getEncoder
              .encodeToString(s"Msg $id-$m résumé".getBytes("UTF-8")) + "?="
            val alt =
              s"Content-Type: multipart/alternative; boundary=alt$m\r\n" +
              "\r\n" +
              s"--alt$m\r\n" +
              "Content-Type: text/plain; charset=utf-8\r\n" +
              "Content-Transfer-Encoding: quoted-printable\r\n\r\n" +
              s"Plain caf=C3=A9 body $id msg $m =\r\ncontinued.\r\n" +
              s"--alt$m\r\n" +
              "Content-Type: text/html; charset=utf-8\r\n\r\n" +
              s"<p>html leg $id must not appear</p>\r\n" +
              s"--alt$m--\r\n"
            val body =
              if (m % 2 == 1)
                s"Content-Type: multipart/mixed; boundary=mix$m\r\n" +
                s"\r\n--mix$m\r\n" + alt +
                s"--mix$m\r\n" +
                "Content-Type: application/pdf\r\n" +
                "Content-Disposition: attachment; filename=\"a.pdf\"\r\n" +
                "Content-Transfer-Encoding: base64\r\n\r\nJVBERi0=\r\n" +
                s"--mix$m--\r\n"
              else alt
            sb.append(s"From sender$m@ex.com Thu Jan  1 00:00:0$m 2026\n")
            sb.append(s"Subject: $subj\r\n")
            sb.append(s"From: Sender $m <sender$m@ex.com>\r\n")
            sb.append("MIME-Version: 1.0\r\n")
            sb.append(body)
            sb.append("\n")
          }
          (id, sb.toString.getBytes("UTF-8"))
        }
      }.toDF("doc_id", "mbox")
      graft.sources.Mime.mboxDocText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "mbox", "mbox"))
        .select("media_id", "msg_idx", "subject", "n_parts",
          "n_attachments", "text")
        .orderBy("media_id", "msg_idx")
    }),

    // Q317 — legacy binary Excel (.xls, BIFF8) → text
    // ([[graft.sources.Ole2.xlsToText]] routed by [[graft.sources
    // .Warc.warcDocText]]): the Workbook stream's SST feeds LABELSST
    // cells; the fixture's deterministic builder exercises EVERY
    // cell record the reader handles — inline LABEL, LABELSST,
    // NUMBER, RK, a 3-cell MULRK run — plus, on even ids, an SST
    // whose last (UTF-16) string splits across a CONTINUE record
    // with the re-stated grbit byte: the output must be identical
    // either way, which pins the continue path against the plain
    // one. Text contract matches xlsxText (cells tab-joined, rows
    // and sheets newline-joined). Per-record bounded walk, map-only.
    "q317_xls_text" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val xls = graft.sources.Ole2.buildXls(
          Seq(
            Seq(s"Alpha $id", s"café $id", s"Ω tail $id"),
            Seq(s"$id", "42", "7"),
            Seq("", s"tail — $id", s"${id * 3}")),
          continueSplit = id % 2 == 0)
        warcRespRec(s"http://ex.com/$id/sheet.xls",
          "application/vnd.ms-excel", xls)
      }
      graft.sources.Warc.warcDocText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .select("media_id", "record_idx", "carrier", "text")
        .orderBy("media_id")
    }),

    // Q318 — legacy binary PowerPoint (.ppt) → text
    // ([[graft.sources.Ole2.pptToText]] routed by [[graft.sources
    // .Warc.warcDocText]]): recursive record walk of the "PowerPoint
    // Document" stream harvesting TextCharsAtom/TextBytesAtom under
    // their containers. The fixture exercises both atom forms (by
    // (slide+para) parity), an in-atom CR paragraph mark and a VT
    // soft break (both must become line breaks), and the docToText
    // whitespace contract. Per-record bounded walk, map-only.
    "q318_ppt_text" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val ppt = graft.sources.Ole2.buildPpt(Seq(
          Seq(s"Title $id", s"Bullet café $id\rMore $id"),
          Seq(s"Second — slide $id", s"Note $id" + "\u000B" + "wrap")))
        warcRespRec(s"http://ex.com/$id/deck.ppt",
          "application/vnd.ms-powerpoint", ppt)
      }
      graft.sources.Warc.warcDocText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .select("media_id", "record_idx", "carrier", "text")
        .orderBy("media_id")
    }),

    // Q319 — HTML structured metadata ([[graft.functions.HtmlMeta]]):
    // the page-level signals curation keys on besides body text —
    // title, meta description, link rel=canonical, html lang, the
    // OpenGraph/Twitter meta pairs in order, and raw JSON-LD blocks.
    // The fixture exercises first-wins, comments/script immunity,
    // entity decode (&amp;, &#8212;), unquoted/single-quoted attrs,
    // the rel token list, and case-folded names; the canonical href
    // is deliberately denormalized so the query COMPOSES
    // canonical_url over it (upper scheme+host, default port,
    // dot-segments), and the JSON-LD @type is pulled with Spark's
    // own get_json_object over the raw block — the expression hands
    // back verbatim JSON instead of growing a parser. Map-only: one
    // linear walk per page, fused into the scan.
    "q319_html_meta" -> ((s, d) => {
      import s.implicits._
      val pages = docIds(s, d).map { id =>
        val html =
          if (id % 50 == 0) s"no head here, just text $id"
          else if (id % 2 == 0)
            s"""<html lang="en-US"><head>
               |<title>Doc $id &amp; more</title>
               |<meta name="description" content="Desc &#8212; $id">
               |<link rel="canonical" href="HTTP://Ex.COM:80/a/../p/$id">
               |<meta property="og:title" content="OG $id">
               |<meta property="og:type" content="article">
               |<script type="application/ld+json">{"@type":"Article","position":$id}</script>
               |</head><body><p>body $id</p></body></html>""".stripMargin
          else
            s"""<HTML LANG=pt-BR><HEAD>
               |<!-- <title>no</title> <meta name="description" content="no"> -->
               |<TITLE>Pg   $id</TITLE>
               |<META NAME='description' CONTENT='d $id'>
               |<link REL="alternate canonical" HREF=/rel/$id>
               |<meta name="twitter:card" content="summary">
               |<script>var x = "<meta property='og:no' content='x'>";</script>
               |</HEAD><body>b</body>""".stripMargin
        (id, html)
      }.toDF("doc_id", "html")
      pages
        .select(col("doc_id").as("media_id"),
          graft.functions.HtmlMeta(col("html")).as("m"))
        .select(
          col("media_id"),
          col("m.title").as("title"),
          col("m.description").as("description"),
          graft.functions.CanonicalUrl(col("m.canonical")).as("canonical"),
          col("m.lang").as("lang"),
          expr("size(m.og)").as("og_n"),
          expr("get(filter(m.og, x -> x.property = 'og:title'), 0).content")
            .as("og_title"),
          expr("get_json_object(get(m.jsonld, 0), \"$['@type']\")")
            .as("ld_type"))
        .orderBy("media_id")
    }),

    // Q332 — hreflang locale-cluster consolidation ([[graft.functions
    // .HtmlMeta]] alternates): multilingual sites publish every page
    // in N language variants that each list the whole cluster via
    // `link rel=alternate hreflang` — a training corpus wants ONE
    // variant per cluster, not N near-translations. The cluster key
    // is the declared x-default href (fallback: the lexicographically
    // first alternate href; standalone pages key on themselves), and
    // keep-first prefers the English variant. Map-only extraction +
    // one keyed window; the planted standalone page (no alternates,
    // every 5th id's 'de' variant) must survive on its own key.
    "q332_hreflang_cluster" -> ((s, d) => {
      import s.implicits._
      val pages = docIds(s, d).flatMap { id =>
        Seq("de", "en", "fr").map { l =>
          val standalone = l == "de" && id % 5 == 0
          val alts =
            if (standalone) ""
            else Seq("en", "fr", "de").map(a =>
              s"""<link rel="alternate" hreflang="$a" """ +
                s"""href="http://ex.com/$a/$id">""").mkString +
              s"""<link rel="alternate" hreflang="x-default" """ +
              s"""href="http://ex.com/en/$id">"""
          (id, s"http://ex.com/$l/$id",
            s"""<html lang="$l"><head>$alts</head>""" +
              s"<body><p>page $l $id</p></body></html>")
        }
      }.toDF("doc_id", "url", "html")
      val m = pages.select(col("doc_id"), col("url"),
        graft.functions.HtmlMeta(col("html")).as("m"))
      val keyed = m.select(col("doc_id"), col("url"),
          col("m.lang").as("lang"),
          expr("size(m.alternates)").as("n_alt"),
          coalesce(
            expr("get(filter(m.alternates, a -> a.hreflang = 'x-default'), 0).href"),
            expr("array_min(transform(m.alternates, a -> a.href))"),
            col("url")).as("cluster"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster"))
        .orderBy(when(col("lang") === "en", 0).otherwise(1), col("url"))
      keyed.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("cluster"), col("url"), col("lang"), col("n_alt"))
        .orderBy("cluster", "url")
    }),

    // Q312 — legacy binary Word (.doc, OLE2/CFB) → text
    // ([[graft.sources.Ole2]] routed by [[graft.sources.Warc
    // .warcDocText]]): the pre-2007 office carrier — a large share of
    // old crawls and e-mail attachments — previously dropped by the
    // router. The fixture exercises the real machinery end to end:
    // a v3 compound file whose 1Table stream rides the MINI stream
    // (miniFAT path), a piece table with MIXED cp1252/UTF-16 pieces
    // at non-monotonic fc offsets behind a Prc entry, a field whose
    // instruction leg must drop, and paragraph marks. Per-record
    // bounded walk, map-only.
    "q312_doc_text" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val doc = graft.sources.Ole2.buildDoc(
          Seq(s"Doc $id legacy café body.", s"Unicode — tail $id."),
          field = Some((s"HYPERLINK \"http://x/$id\"",
            s"shown $id")))
        warcRespRec(s"http://ex.com/$id/old.doc", "application/msword", doc)
      }
      graft.sources.Warc.warcDocText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .select("media_id", "record_idx", "carrier", "text")
        .orderBy("media_id")
    }),

    // Q305 — RTF → text ([[graft.functions.RtfToText]] routed by
    // [[graft.sources.Warc.warcDocText]]): the legacy office carrier
    // (old corpora, email attachments). The fixture exercises every
    // declared transform — destination drops (fonttbl/colortbl/info/
    // starred generator/field instruction leg), formatting-word
    // drops with the one-space delimiter rule, \'hh cp1252 escapes,
    // \uN with fallback skip, \par/\tab — and the cleaned form is a
    // stated line formula. One linear char walk per document,
    // map-only.
    "q305_rtf_text" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val rtf = "{\\rtf1\\ansi{\\fonttbl{\\f0 Times New Roman;}}" +
          "{\\colortbl;\\red0\\green0\\blue0;}" +
          "{\\info{\\author secret author}}" +
          "{\\*\\generator Graft;}" +
          s"\\pard Plain $id text with \\b bold $id\\b0  and caf\\'e9.\\par" +
          s" Second\\tab line $id \\u8212?dash.\\par" +
          "{\\field{\\*\\fldinst HYPERLINK \"http://x/" + id + "\"}" +
          s"{\\fldrslt shown link $id}}\\par}"
        warcRespRec(s"http://ex.com/$id/doc.rtf", "application/rtf",
          rtf.getBytes("UTF-8"))
      }
      graft.sources.Warc.warcDocText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .select("media_id", "record_idx", "carrier", "text")
        .orderBy("media_id")
    }),

    // Q304 — header noindex across NON-HTML carriers: a PDF cannot
    // carry a robots meta tag — X-Robots-Tag is its only opt-out
    // channel, and a pipeline that gates only HTML ships every
    // noindex'd PDF. [[graft.sources.Warc.warcDocText]] now surfaces
    // the header per record; the gate is one declarative filter over
    // the routed frame. Fixture: a clean html page (kept), a PDF
    // whose header opts out for even ids, and a markdown doc with a
    // BENIGN header (nofollow — must not trip). Composes q296's
    // grammar with q289's router; no second record walk.
    "q304_xrobots_carriers" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        warcRespRec(s"http://ex.com/$id/h", "text/html",
          s"<p>html keep $id</p>".getBytes("UTF-8")) ++
          warcRespRec(s"http://ex.com/$id/p.pdf", "application/pdf",
            graft.sources.Pdf.buildSimplePdf(
              Seq(Seq(s"pdf body $id")), flate = false),
            if (id % 2 == 0) "X-Robots-Tag: noindex\r\n" else "") ++
          warcRespRec(s"http://ex.com/$id/m.md", "text/markdown",
            s"md **body** $id".getBytes("UTF-8"),
            "X-Robots-Tag: nofollow, noarchive\r\n")
      }
      graft.sources.Warc.warcDocText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .where(!graft.functions.XRobotsTag.noindex(col("x_robots")))
        .select(col("media_id"), col("record_idx"), col("carrier"),
          col("text"))
        .orderBy("media_id", "record_idx")
    }),

    // Q303 — ODT → text ([[graft.sources.OfficeText.odtText]]): the
    // OpenDocument carrier (LibreOffice's native format) over the
    // same ZIP kernel — content.xml's text:p paragraphs become
    // lines, inline spans contribute their text, entities decode.
    // Same synthesize-and-replay contract as q286/q299. Map-only.
    "q303_odt_text" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "odt? no".getBytes("UTF-8"))
        else {
          val paras = (0 until (1 + (id % 4)).toInt).map { p =>
            s"odt $id para $p tok${(id * 11 + p) % 37} & täst"
          }
          (id, graft.sources.OfficeText.buildOdt(paras))
        }
      }.toDF("doc_id", "office")
      graft.sources.OfficeText.describeOfficeText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "office", "doc"))
        .orderBy("media_id")
    }),

    // Q301 — bzip2 WARC door: the Wikipedia-dump compression through
    // the same magic sniff (commons-compress is already on Spark's
    // classpath). q276's composition over .warc.bz2 — whole-file and
    // two concatenated bz2 members (decompressConcatenated) — with
    // the oracle unchanged.
    "q301_warc_bz2" -> ((s, d) => {
      import s.implicits._
      val paths = fixturePaths(s, d, "warc_bz2_v1")
      graft.sources.Warc.warcPathsHtmlText(s, paths)
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc\\.bz2$", 1).cast("long"))
        .select("media_id", "record_idx", "url", "charset", "text")
        .orderBy("media_id", "record_idx")
    }),

    // Q302 — xz TAR door: q284's composition over .tar.xz through the
    // same sniff (the xz library Spark ships for Avro); the oracle
    // replays the pixel-formula channel sums unchanged.
    "q302_tar_xz" -> ((s, d) => {
      import s.implicits._
      val paths = fixturePaths(s, d, "tar_xz_v1")
      val members = graft.sources.Archives.tarPathMembers(s, paths)
        .where(col("name").endsWith(".bmp"))
        .withColumn("doc_id",
          regexp_extract(col("path"), "t(\\d+)\\.tar\\.xz$", 1).cast("long"))
        .select((col("doc_id") * 10 + col("entry_idx")).as("mid"),
          col("payload"))
      graft.sources.Multimodal.inspectMedia(
          graft.sources.Multimodal.asMedia(members, "mid", "payload", "image"))
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),

    // Q299 — pptx/xlsx → text ([[graft.sources.OfficeText.pptxText]]
    // / [[graft.sources.OfficeText.xlsxText]]): the remaining two
    // OOXML carriers over the same trusted ZIP kernel — slides walk
    // ppt/slides/slideN.xml in order (a:p paragraphs, a:t runs);
    // sheets resolve t="s" cells through xl/sharedStrings.xml and
    // emit numeric <v> verbatim (the writer makes all-digit cells
    // native numbers BY CONSTRUCTION, so both resolution paths are
    // always exercised). Same synthesize-and-replay contract as
    // q286: the extracted text is a stated formula. Map-only.
    "q299_pptx_xlsx_text" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "office deck? no".getBytes("UTF-8"))
        else if (id % 2 == 0) {
          val slides = (0 until (1 + (id % 3)).toInt).map { sl =>
            (0 until (1 + ((id + sl) % 2)).toInt).map { p =>
              s"pptx $id sl $sl p $p tok${(id * 5 + sl * 3 + p) % 43} & co"
            }
          }
          (id, graft.sources.OfficeText.buildPptx(slides))
        } else {
          val rows = (0 until (1 + (id % 3)).toInt).map { r =>
            Seq(s"${(id * 7 + r) % 1000}") ++
              (1 until (1 + ((id + r) % 3)).toInt).map { cc =>
                s"cell $id r$r c$cc"
              }
          }
          (id, graft.sources.OfficeText.buildXlsx(rows))
        }
      }.toDF("doc_id", "office")
      graft.sources.OfficeText.describeOfficeText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "office", "doc"))
        .orderBy("media_id")
    }),

    // Q298 — zstd WARC door ([[graft.sources.Archives
    // .sniffDecompress]] behind [[graft.sources.Warc
    // .warcPathsHtmlText]]): Common Crawl distributes .warc.zst
    // alongside .warc.gz — the streaming record walk must not care
    // which compressor wrapped the container. q276's composition
    // replayed over zstd forms: whole-file frames, TWO concatenated
    // frames every 4th id (split mid-record — frames are transport,
    // not records), junk every 50th. Identical oracle to q276: the
    // compressor is what's under test, the record semantics must not
    // move. One task per path; per-record bounded memory (zstd-jni
    // streams, never materializes the inflated container).
    "q298_warc_zst" -> ((s, d) => {
      import s.implicits._
      val paths = fixturePaths(s, d, "warc_zst_v1")
      graft.sources.Warc.warcPathsHtmlText(s, paths)
        .withColumn("media_id",
          regexp_extract(col("path"), "w(\\d+)\\.warc\\.zst$", 1).cast("long"))
        .select("media_id", "record_idx", "url", "charset", "text")
        .orderBy("media_id", "record_idx")
    }),

    // Q300 — zstd TAR door: q284's composition replayed over
    // .tar.zst files through the same sniff — members stream out and
    // the extracted BMPs decode through the same media pipeline; the
    // oracle replays the pixel-formula channel sums unchanged.
    "q300_tar_zst" -> ((s, d) => {
      import s.implicits._
      val paths = fixturePaths(s, d, "tar_zst_v1")
      val members = graft.sources.Archives.tarPathMembers(s, paths)
        .where(col("name").endsWith(".bmp"))
        .withColumn("doc_id",
          regexp_extract(col("path"), "t(\\d+)\\.tar\\.zst$", 1).cast("long"))
        .select((col("doc_id") * 10 + col("entry_idx")).as("mid"),
          col("payload"))
      graft.sources.Multimodal.inspectMedia(
          graft.sources.Multimodal.asMedia(members, "mid", "payload", "image"))
        .select(col("media_id"), col("format"), col("width"), col("height"),
          col("sum_r"), col("sum_g"), col("sum_b"))
        .orderBy("media_id")
    }),

    // Q297 — LaTeX → text carrier ([[graft.functions.LatexToText]]
    // routed by [[graft.sources.Warc.warcDocText]]): the arXiv-class
    // scientific corpus door. The fixture's .tex body exercises every
    // declared transform — preamble/comment drops, \section/\emph
    // brace-keeps, reference-class argument drops (\cite, \href url
    // leg), inline + environment math drops, \item line breaks,
    // escape unescapes (\&, \%), ~ gluing, \\ breaks — and the
    // cleaned form is a stated line formula the oracle replays. Each
    // WARC carries an html record AND a tex record, so the row also
    // pins the router: same single record walk, no second pass.
    // Map-only; the cleaner is one linear char walk per document.
    "q297_latex_text" -> ((s, d) => {
      val pay = warcPayloads(s, d) { id =>
        val tex =
          s"""\\documentclass[11pt]{article}
             |% preamble comment $id drops
             |\\usepackage{amsmath}
             |\\begin{document}
             |\\section{Head $id}
             |Body $id with \\emph{emph $id} \\& 100\\% real.
             |Inline $$x_{$id}^2$$ math drops but tail $id stays.
             |\\begin{equation}
             |e = mc^2 + $id
             |\\end{equation}
             |\\begin{itemize}
             |\\item alpha $id
             |\\item beta $id
             |\\end{itemize}
             |See \\cite{ref$id} and \\href{http://x/$id}{link $id} now.
             |Tilde~joined and a break\\\\here $id.""".stripMargin +
            (if (id % 2 == 0) s"\nExtra tok${(id * 13) % 89} prose."
             else "") + "\n\\end{document}\n"
        warcRespRec(s"http://ex.com/$id/page", "text/html",
          s"<p>html page $id</p>".getBytes("UTF-8")) ++
          warcRespRec(s"http://ex.com/$id/paper.tex",
            "application/x-tex", tex.getBytes("UTF-8"))
      }
      graft.sources.Warc.warcDocText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .select("media_id", "record_idx", "url", "carrier", "text")
        .orderBy("media_id", "record_idx")
    }),

    // Q295 — Type0/Identity-H PDF text ([[graft.sources.Pdf
    // .buildType0Pdf]] → [[graft.sources.Pdf.extractPdfText]]): the
    // font model modern generators (Chrome print-to-PDF, LibreOffice,
    // Word, pdfTeX) actually emit — a /Type0 composite font with
    // 2-byte CID strings, /Encoding /Identity-H, a /CIDFontType2
    // descendant, and a /ToUnicode CMap. The writer's CID scheme is
    // SHIFTED (codepoint + 0x100), so the replayed text is correct
    // only if the engine really decodes through the CMap's
    // bfchar/bfrange entries — an Identity shortcut mojibakes every
    // character and fails the hash. Same synthesize-and-replay
    // contract and text formula as q285; odd ids exercise the
    // PDF 1.5 xref-stream generation, even ids the classic table.
    // Map-only: payload bytes never shuffle at any corpus size.
    "q295_pdf_type0" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "composite font? no".getBytes("UTF-8"))
        else {
          val pages = (0 until (1 + (id % 3)).toInt).map { p =>
            (0 until (1 + ((id + p) % 3)).toInt).map { l =>
              s"doc $id pg $p ln $l tok${(id * 7 + p * 3 + l) % 97}" +
                (if (l % 2 == 0) " café" else "")
            }
          }
          (id, graft.sources.Pdf.buildType0Pdf(pages, xrefStream = id % 2 == 1))
        }
      }.toDF("doc_id", "pdf")
      graft.sources.Pdf.describePdf(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "pdf", "doc"))
        .select(col("media_id"), col("pdf_version"), col("n_pages"),
          col("n_chars"), col("text"))
        .orderBy("media_id")
    }),

    // Q293 — photo-PII scrub ([[graft.sources.Multimodal
    // .stripJpegMetadata]]): the image-side privacy pass — APP1
    // (EXIF incl. GPS), APP13 (IPTC) and COM segments drop from the
    // marker stream while the entropy-coded image bytes pass through
    // verbatim. The fixture wraps q243's formula JPEG with a real
    // EXIF APP1 and a COM comment; the oracle states the AFTER world:
    // every EXIF field NULL and the q243 pixel sums INTACT — scrub
    // without survival (or survival without scrub) fails the row.
    // The before/after differential lives in the unit spec. Map-only.
    "q293_exif_scrub" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "photo? no".getBytes("UTF-8"))
        else {
          val tiff = exifTiff((1 + id % 8).toInt, s"Camera${id % 5}",
            s"Model${id % 4}", f"2020:01:01 00:00:${id % 60}%02d", 16, 9)
          val base = jpegFlatTileFixture((1 + id % 3).toInt, (1 + id % 2).toInt,
            (tx, ty) => ((id * 7 + tx * 13 + ty * 29) % 256).toInt,
            progressive = false)
          val app1 = java.nio.ByteBuffer.allocate(4 + 6 + tiff.length)
          app1.putShort(0xffe1.toShort).putShort((2 + 6 + tiff.length).toShort)
            .put("Exif".getBytes("US-ASCII")).put(0.toByte).put(0.toByte)
            .put(tiff)
          val comBody = s"secret note $id".getBytes("US-ASCII")
          val com = java.nio.ByteBuffer.allocate(4 + comBody.length)
          com.putShort(0xfffe.toShort)
            .putShort((2 + comBody.length).toShort).put(comBody)
          (id, base.take(2) ++ app1.array() ++ com.array() ++ base.drop(2))
        }
      }.toDF("doc_id", "img")
      val scrubbed = graft.sources.Multimodal.scrubJpegMetadata(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "img", "image"))
      val ex = graft.sources.Multimodal.describeExif(
        scrubbed.select(col("media_id"), col("payload")))
      val px = graft.sources.Multimodal.inspectMedia(
        scrubbed.select(col("media_id"), col("payload")))
      px.join(ex, "media_id")
        .select(col("media_id"), col("orientation"), col("make"),
          col("date_time"), col("width"), col("height"), col("sum_r"))
        .orderBy("media_id")
    }),

    // Q292 — curation v9: the MULTI-CARRIER capstone. One
    // [[graft.sources.Warc.warcDocText]] pass routes html AND pdf AND
    // markdown bodies to their extractors, then the same dedup chain
    // as v8: length gate → canonical-URL keep-first → content
    // keep-first. The fixture plants URL-alias dups (within
    // quintets), cross-quintet PDF content dups (b%7 classes), unique
    // markdown notes, and a too-short page; the oracle replays all
    // three carriers' texts and both windows. Plan shape: one flatMap
    // kernel + two keyed windows — no join, nothing global.
    "q292_curation_v9" -> ((s, d) => {
      val pay = warcPayloads(s, d)(warcV9Fixture)
      val pages = graft.sources.Warc.warcDocText(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
      val kept = pages.where(length(col("text")) >= 20)
        .withColumn("url_canon", graft.functions.CanonicalUrl(col("url")))
      val urlW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("url_canon"))
        .orderBy(col("media_id"), col("record_idx"))
      val urlKept = kept.withColumn("rn", row_number().over(urlW))
        .where(col("rn") === 1).drop("rn")
      val textW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("text")).orderBy(col("media_id"), col("record_idx"))
      urlKept.withColumn("rn", row_number().over(textW))
        .where(col("rn") === 1)
        .select(col("media_id"), col("record_idx"), col("carrier"),
          col("url_canon").as("url"), col("text"))
        .orderBy("media_id", "record_idx")
    }),

    // Q290 — Markdown → training text ([[graft.functions
    // .MarkdownToText]], SQL `markdown_to_text`): the code-adjacent
    // crawl's carrier (READMEs, docs sites, wiki dumps). The fixture
    // exercises every declared transform — ATX heading, link, bold,
    // bullet list, fenced code (DROPPED with its content), quote,
    // numbered list — and the oracle replays the cleaned text as a
    // string formula. Map-only native expression; one scan.
    "q290_markdown_text" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        val md = new StringBuilder
        md.append(s"# Doc $id\n\n")
        md.append(s"intro $id with [a link](http://x/$id) and **bold ${id % 7}**\n\n")
        (0 until (1 + (id % 3)).toInt).foreach { i =>
          md.append(s"- item $i of $id\n")
        }
        md.append("\n```scala\n")
        md.append(s"val secret = $id // must never reach the text\n")
        md.append("```\n\n")
        md.append(s"> quote ${id % 5}\n\n")
        md.append(s"${1 + id % 4}. numbered ${id % 2}\n")
        (id, md.toString)
      }.toDF("doc_id", "md")
      pay.select(col("doc_id"),
          graft.functions.MarkdownToText(col("md")).as("text"))
        .orderBy("doc_id")
    }),

    // Q291 — Jupyter notebooks → training text ([[graft.sources
    // .Notebooks.notebookText]]): nbformat-4 JSON through pure
    // built-ins (from_json → transform/filter → array_join), markdown
    // cells cleaned by q290's expression, code cells verbatim, raw
    // cells dropped; junk payloads yield nulls through from_json's
    // contract. Every 50th document is junk. Codegen'd end to end
    // except the markdown expression; no shuffle.
    "q291_notebook_text" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "not a notebook at all")
        else {
          val extra =
            if (id % 2 == 0)
              s""",{"cell_type":"code","source":["y = ${id % 5}"]}"""
            else ""
          (id,
            s"""{"cells":[""" +
              s"""{"cell_type":"markdown","source":["# Note $id\\n","cell ${id % 7} **bold**\\n"]},""" +
              s"""{"cell_type":"code","source":["x = $id\\n","print(x)"]},""" +
              s"""{"cell_type":"raw","source":["ignored $id"]}""" +
              extra + "]}")
        }
      }.toDF("doc_id", "nb")
      graft.sources.Notebooks.notebookText(pay, "doc_id", "nb")
        .orderBy("doc_id")
    }),

    // Q288 — crawl-breadth language ID with confidences ([[graft.llm
    // .LangId.predictCrawl]]): 31 languages — 20 Latin-script plus
    // Cyrillic (ru/uk/bg), Greek, Arabic-script (ar/fa), Hebrew,
    // Devanagari, Thai, Hangul, kana, Han — scored as function-word
    // hits + weighted script-block character counts (the signal for
    // languages without word boundaries), argmax with the
    // alphabetical-first tie rule, confidence in integer basis
    // points. The fixture assigns each doc a language by id and
    // repeats that language's deterministic sample 1–3×; the oracle
    // is GENERATED from the same profile table (q288OracleSql), so
    // the two engines replay the identical scoring formula over the
    // identical text. Map-only, no shuffle.
    "q288_crawl_lang_id" -> ((s, d) => {
      import s.implicits._
      val langs = graft.llm.LangId.CrawlProfiles.keys.toSeq.sorted
      val samples = graft.llm.LangId.CrawlSamples
      val pay = docIds(s, d).map { id =>
        val lang = langs((id % langs.size).toInt)
        val r = (1 + id % 3).toInt
        (id, Seq.fill(r)(samples(lang)).mkString(" "))
      }.toDF("doc_id", "text")
      graft.llm.LangId.predictCrawl(pay, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Q286 — Office/eBook containers → training text ([[graft.sources
    // .OfficeText]]): docx and epub are both ZIP-of-XML, so the tier
    // composes the trusted ZIP extraction kernel (q268/q269) with a
    // WordprocessingML paragraph walk (ECMA-376) and the OCF→OPF→
    // spine resolution chain feeding the crawl tier's html_to_text.
    // Synthesis/oracle contract as q285: even ids write a real docx
    // (3 parts, w:p/w:r/w:t with entity-escaped '&'), odd ids a real
    // epub (stored-first mimetype, container.xml, OPF manifest+spine,
    // chapter XHTML), every 50th is junk → nulls. The oracle replays
    // paragraph/chapter text with string_agg; n_members pins the
    // container structure. Map-only; containers never shuffle.
    "q286_office_text" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "office doc? no".getBytes("UTF-8"))
        else if (id % 2 == 0) {
          val paras = (0 until (1 + (id % 4)).toInt).map { p =>
            s"docx $id para $p word${(id * 3 + p) % 31} & more"
          }
          (id, graft.sources.OfficeText.buildDocx(paras))
        } else {
          val chapters = (0 until (1 + (id % 3)).toInt).map { c =>
            (s"Chapter $c of $id",
              (0 until (1 + ((id + c) % 2)).toInt).map { p =>
                s"epub $id ch $c para $p"
              })
          }
          (id, graft.sources.OfficeText.buildEpub(chapters))
        }
      }.toDF("doc_id", "office")
      graft.sources.OfficeText.describeOfficeText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "office", "doc"))
        .orderBy("media_id")
    }),

    // Q289 — multi-carrier crawl text ([[graft.sources.Warc
    // .warcDocText]]): the curation front door routes each 2xx
    // response body by content type in ONE pass — text/html through
    // the HtmlToText kernel, application/pdf through the REAL PDF
    // extractor (q285's machinery) — so the PDF fraction of a crawl
    // lands in the same (url, text) frame as the HTML fraction
    // instead of being silently dropped. The fixture plants both
    // carriers plus a 404 and an image that must route nowhere;
    // every 50th container is junk (loud fence, zero rows). flatMap
    // kernel; bodies never shuffle.
    "q289_warc_doc_text" -> ((s, d) => {
      val pay = warcPayloads(s, d)(id => gzipEvery4th(id, warcMixedFixture(id)))
      graft.sources.Warc.warcDocText(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "warc", "warc"))
        .select("media_id", "record_idx", "url", "carrier", "text")
        .orderBy("media_id", "record_idx")
    }),

    // Q251 — perceptual image hash ([[graft.sources.Multimodal
    // .imageDHash]]): the image-dedup analog of SimHash, now that
    // pixels actually decode — 9×8 floor-boundary luma blocks, bit =
    // horizontal mean comparison as an integer sum·area cross
    // product, so the oracle replays the ENTIRE hash (luma → block
    // sums → comparisons → bit pack) in SQL integer arithmetic. The
    // 64-bit hash ships as two 32-bit halves (a 1<<63 bit would
    // overflow a signed BIGINT literal in the oracle). Fixtures are
    // 18×16 BMPs (exact 2×2 blocks). Map-only.
    "q251_image_dhash" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "image? unlikely".getBytes("UTF-8"))
        else (id, bmp24Fixture(18, 16, (x, y) => (
          ((id * 7 + x * 13 + y * 29) % 256).toInt,
          ((id * 5 + x * 3 + y * 11) % 256).toInt,
          ((id * 3 + x + y * 7) % 256).toInt)))
      }.toDF("doc_id", "img")
      graft.sources.Multimodal.describeImageHash(
          graft.sources.Multimodal.asMedia(pay, "doc_id", "img", "image"))
        .select(col("media_id"),
          shiftrightunsigned(col("dhash"), 32).as("dhash_hi"),
          (col("dhash").bitwiseAND(lit(0xffffffffL))).as("dhash_lo"))
        .orderBy("media_id")
    }),

    // Q252 — image near-dup pairs ([[graft.sources.Multimodal
    // .hammingPairs64]]): banded 4×16-bit chunk join over the
    // perceptual hashes — any pair within Hamming 3 shares an exact
    // chunk (pigeonhole), so candidates come from a hash join, never
    // an all-pairs scan (plan-pinned). The corpus plants near-dup
    // septets: members share a base image (id/7) and perturb one
    // pixel, so hashes collide or nearly collide within a septet.
    // The oracle computes every hash exactly as q251 and takes
    // pairwise XOR bit counts — equality pins both the hash AND the
    // pigeonhole completeness.
    "q252_image_neardup" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "image? unlikely".getBytes("UTF-8"))
        else {
          val g = id / 7 // septet base
          (id, bmp24Fixture(18, 16, (x, y) => {
            val bump = if (x == (id % 7) * 2 && y == 3) 40 else 0
            (math.min(255, ((g * 11 + x * 17 + y * 23) % 200) + bump).toInt,
              ((g * 13 + x * 5 + y * 19) % 256).toInt,
              ((g * 17 + x * 7 + y * 3) % 256).toInt)
          }))
        }
      }.toDF("doc_id", "img")
      val hashes = graft.sources.Multimodal.describeImageHash(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "img", "image"))
      graft.sources.Multimodal.hammingPairs64(hashes, "media_id", "dhash", 3)
        .select(col("id1"), col("id2"), col("hamming").cast("long").as("hamming"))
        .orderBy("id1", "id2")
    }),

    // Q250 — mixed-media inspection ([[graft.sources.Multimodal
    // .inspectMedia]]): the capstone over every decode tier — ONE
    // operator sniffs each payload's magic and routes to the matching
    // real decoder, returning a unified image-or-audio stats row. The
    // corpus cycles all eight containers by id (PNG, baseline JPEG,
    // GIF, BMP, TIFF, ICO, AU μ-law, AIFF), each built with its own
    // tier's exact fixture formulas, so the oracle is the union of
    // the per-tier replays. Every 50th payload is junk → null format.
    // Map-only; payloads never shuffle.
    "q250_media_inspect" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "multimodal? not today".getBytes("UTF-8"))
        else (id % 8).toInt match {
          case 0 => // PNG (q242 formulas, same builder)
            (id, pngRgbFixture((2 + id % 5).toInt, (1 + id % 3).toInt, (x, y) => (
              ((id * 5 + x * 7 + y * 13) % 256).toInt,
              ((id * 3 + x * 11 + y) % 256).toInt,
              ((id + x + y * 19) % 256).toInt)))
          case 1 => // baseline JPEG (q243 formulas, same builder)
            (id, jpegFlatTileFixture((1 + id % 3).toInt, (1 + id % 2).toInt,
              (tx, ty) => ((id * 7 + tx * 13 + ty * 29) % 256).toInt,
              progressive = false))
          case 2 => // GIF (q245 formulas, same builder)
            val k = (1 + id % 3).toInt
            (id, gifFixture(k, (2 + id % 6).toInt, (1 + id % 4).toInt,
              (x, y) => ((id * 3 + x * 7 + y * 11) % (1 << k)).toInt))
          case 3 => // BMP 24bpp (same builder as q251/q252)
            (id, bmp24Fixture((2 + id % 5).toInt, (1 + id % 4).toInt,
              (x, y) => (((id + x * 3 + y * 5) % 256).toInt,
                ((id * 5 + x * 7 + y) % 256).toInt,
                ((id * 9 + x + y * 11) % 256).toInt)))
          case 4 => // TIFF uncompressed (q247 formulas, same builder)
            (id, tiffRgbFixture((2 + id % 7).toInt, (1 + id % 5).toInt,
              packBits = false,
              (x, y) => (((id * 3 + x * 5 + y * 7) % 256).toInt,
                ((id * 7 + x * 11 + y) % 256).toInt,
                ((id + x + y * 13) % 256).toInt)))
          case 5 => // ICO 32bpp DIB (q249 formulas, same builder)
            (id, icoDib32Fixture((3 + id % 5).toInt, (2 + id % 3).toInt,
              (x, y) => (((id * 5 + x * 7 + y * 13) % 256).toInt << 16) |
                (((id * 3 + x * 11 + y) % 256).toInt << 8) |
                ((id + x + y * 19) % 256).toInt))
          case 6 => // AU mu-law (q248 formulas, same builder)
            (id, auFixture(1, (40 + id % 30).toInt,
              i => ((id * 7 + i * 13) % 256).toInt))
          case _ => // AIFF PCM16 (q248 formulas, same builder)
            (id, aiffFixture((40 + id % 30).toInt, 22050,
              i => (((id * 11 + i * 17) % 65536) - 32768).toInt))
        }
      }.toDF("doc_id", "payload")
      graft.sources.Multimodal.inspectMedia(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "payload", "mixed"))
        .orderBy("media_id")
    }),

    // Q249 — ICO (favicon) decode ([[graft.sources.Multimodal
    // .parseIcoPixels]]): directory walk + largest-entry decode, the
    // browser rule — either the modern PNG-embedded form (delegated
    // to the pinned PNG decoder) or the classic DIB with doubled
    // height and bottom-up padded rows (32bpp BGRA here; palette
    // depths spec-pinned). The SAME pixel formulas feed both
    // containers (both lossless), so the oracle's sums are
    // parity-independent and only `inner`/`bpp` switch. Every 50th
    // payload is non-ICO → nulls. Map-only; payloads never shuffle.
    "q249_ico_decode" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "ico? no".getBytes("UTF-8"))
        else {
          val w = (3 + id % 5).toInt; val h = (2 + id % 3).toInt
          def r(x: Int, y: Int) = ((id * 5 + x * 7 + y * 13) % 256).toInt
          def g(x: Int, y: Int) = ((id * 3 + x * 11 + y) % 256).toInt
          def b(x: Int, y: Int) = ((id + x + y * 19) % 256).toInt
          if (id % 2 == 0) // classic 32bpp DIB
            (id, icoDib32Fixture(w, h, (x, y) =>
              (((x + y) % 256) << 24) | (r(x, y) << 16) | (g(x, y) << 8) | b(x, y)))
          else { // PNG-embedded (modern favicon)
            val png = pngRgbFixture(w, h, (x, y) => (r(x, y), g(x, y), b(x, y)))
            val bb = java.nio.ByteBuffer.allocate(6 + 16 + png.length)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            bb.putShort(0).putShort(1).putShort(1)
            bb.put(w.toByte).put(h.toByte).put(0.toByte).put(0.toByte)
              .putShort(1).putShort(32).putInt(png.length).putInt(6 + 16)
            bb.put(png)
            (id, bb.array())
          }
        }
      }.toDF("doc_id", "ico")
      graft.sources.Multimodal.describeIco(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "ico", "image"))
        .orderBy("media_id")
    }),

    // Q248 — AU / AIFF / G.711 audio decode ([[graft.sources
    // .Multimodal.parseAu]]/[[graft.sources.Multimodal.parseAiff]]):
    // the telephony + studio tiers beside q233's WAV — Sun/NeXT AU
    // with G.711 μ-law and A-law companding (both implemented from
    // the spec, byte-identical to javax.sound's tables on all 256
    // codes) plus big-endian PCM, and AIFF with its 80-bit
    // extended-float sample rate. Stats are INTEGER 16-bit units
    // (peak_raw, sum_sq) so the oracle replays the G.711 expansion
    // formulas in SQL integer arithmetic exactly — no float
    // accumulation anywhere. Fixtures cycle μ-law / A-law / AU-PCM16
    // / AIFF-PCM16 by id. Every 50th payload is non-audio → nulls.
    // Map-only; payloads never shuffle.
    "q248_audio_decode" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "audio? silence".getBytes("UTF-8"))
        else {
          val n = (40 + id % 30).toInt
          def pcm16(i: Int) = (((id * 11 + i * 17) % 65536) - 32768).toInt
          def g711(i: Int) = ((id * 7 + i * 13) % 256).toInt
          (id, (id % 4).toInt match {
            case 0 => auFixture(1, n, g711)
            case 1 => auFixture(27, n, g711)
            case 2 => auFixture(3, n, pcm16)
            case _ => aiffFixture(n, 22050, pcm16)
          })
        }
      }.toDF("doc_id", "snd")
      graft.sources.Multimodal.describeAudio(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "snd", "audio"))
        .orderBy("media_id")
    }),

    // Q247 — TIFF pixel decode ([[graft.sources.Multimodal
    // .parseTiffPixels]]): the document-scan tier — II/MM byte
    // orders, strip organization, gray (incl. WhiteIsZero), RGB(A),
    // palette ColorMap, and none/PackBits/TIFF-LZW compression (LZW
    // here is MSB-first with the spec's EARLY width change — the
    // GIF-variant dual), all from the TIFF 6 specification. Fixtures
    // alternate uncompressed and hand-PackBits little-endian strips
    // over formula pixels (both lossless → identical sums); the
    // differential spec additionally decodes ImageIO's own TIFF
    // plugin output under none/LZW/PackBits. Every 50th payload is
    // non-TIFF → nulls. Map-only; payloads never shuffle.
    "q247_tiff_decode" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "tiff? nope".getBytes("UTF-8"))
        else (id, tiffRgbFixture((2 + id % 7).toInt, (1 + id % 5).toInt,
          packBits = id % 2 == 1,
          (x, y) => (((id * 3 + x * 5 + y * 7) % 256).toInt,
            ((id * 7 + x * 11 + y) % 256).toInt,
            ((id + x + y * 13) % 256).toInt)))
      }.toDF("doc_id", "tif")
      graft.sources.Multimodal.describeTiff(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "tif", "image"))
        .orderBy("media_id")
    }),

    // Q246 — PROGRESSIVE JPEG pixel decode ([[graft.sources
    // .Multimodal.parseJpegProgressive]], reached through the same
    // parseJpegPixels entry): the multi-scan tier (spectral selection
    // + successive approximation, spec annex G) that most large web
    // JPEGs actually use — coefficients accumulate across DC/AC
    // first-pass and refinement scans before one dequant+IDCT. The
    // q243 flat-tile argument survives the scan structure untouched:
    // however many scans and approximation bits deliver the lone DC
    // coefficient, quality-1.0 all-ones quant tables keep it
    // lossless, so the oracle replays the tile formula. Fixtures are
    // ENCODED BY javax.imageio in MODE_DEFAULT progressive (a 10-scan
    // script with Al up to 2 and AC refinement — the differential
    // spec pins SOF2 emission). Every 50th payload is non-JPEG →
    // nulls. Map-only; payloads never shuffle.
    "q246_jpeg_progressive" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "jpeg? progressively not".getBytes("UTF-8"))
        else (id, jpegFlatTileFixture((1 + id % 4).toInt, (1 + (id / 2) % 2).toInt,
          (tx, ty) => ((id * 11 + tx * 23 + ty * 31) % 256).toInt,
          progressive = true))
      }.toDF("doc_id", "jpg")
      graft.sources.Multimodal.describeJpeg(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "jpg", "image"))
        .orderBy("media_id")
    }),

    // Q245 — GIF LZW pixel decode ([[graft.sources.Multimodal
    // .parseGifPixels]]): GIF's pixel data is LZW — variable-width
    // LSB-first codes, clear/EOI, 4096-entry dictionary — implemented
    // from the GIF89a spec appendix, no codec library. Same
    // synthesize-and-replay contract as q244: each document builds a
    // real GIF (global color table + a clear-per-pixel LZW stream —
    // valid, maximally naive, and decodable by javax.imageio, which
    // the differential spec pins along with REAL dictionary streams
    // from ImageIO's own encoder); palette entries and the index grid
    // come from integer formulas, so the oracle computes the channel
    // sums directly. Every 50th payload is non-GIF → nulls. Map-only;
    // payloads never shuffle.
    "q245_gif_decode" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "gif? afraid not".getBytes("UTF-8"))
        else {
          val k = (1 + id % 3).toInt // palette 2^k entries: 2, 4, 8
          (id, gifFixture(k, (2 + id % 6).toInt, (1 + id % 4).toInt,
            (x, y) => ((id * 3 + x * 7 + y * 11) % (1 << k)).toInt))
        }
      }.toDF("doc_id", "gif")
      graft.sources.Multimodal.describeGifPixels(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "gif", "image"))
        .orderBy("media_id")
    }),

    // Q243 — baseline JPEG pixel decode ([[graft.sources.Multimodal
    // .parseJpegPixels]]): the LOSSY-image tier, implemented from the
    // T.81 spec (Huffman entropy decode, dequant, 8×8 IDCT, chroma
    // upsample, YCbCr→RGB) with no external codec. Lossy decode is
    // made SQL-replayable the way the differential spec proves: each
    // fixture is flat 16×16 MCU tiles of gray, ENCODED BY A REAL
    // THIRD-PARTY ENCODER (javax.imageio) at quality 1.0 — all-ones
    // quant tables make a flat MCU's lone DC coefficient quantize
    // losslessly, so any conformant decoder returns the tile bytes
    // exactly (verified for all 256 gray levels); the oracle computes
    // the sums straight from the tile formula. Every 50th payload is
    // non-JPEG → nulls. The ImageIO differential + hand-rolled
    // restart-interval fixtures cover the lossy general case the
    // formula can't. Map-only; payloads never shuffle.
    "q243_jpeg_decode" -> ((s, d) => {
      import s.implicits._
      val pay = docIds(s, d).map { id =>
        if (id % 50 == 0) (id, "jpeg? hardly".getBytes("UTF-8"))
        else (id, jpegFlatTileFixture((1 + id % 3).toInt, (1 + id % 2).toInt,
          (tx, ty) => ((id * 7 + tx * 13 + ty * 29) % 256).toInt,
          progressive = false))
      }.toDF("doc_id", "jpg")
      graft.sources.Multimodal.describeJpeg(
        graft.sources.Multimodal.asMedia(pay, "doc_id", "jpg", "image"))
        .orderBy("media_id")
    }),

    // Q241 — corpus snapshot diff: the dataset-ops answer to "what
    // changed between corpus v1 and v2" (the table twin of the
    // `copy -diff` file-tree sync, and the audit a curation rerun
    // ships with): full outer join on doc_id comparing content
    // hashes → added / removed / changed / same, one row per id in
    // either version. Version 2 is simulated deterministically from
    // the same table (drop ids ≡ 0 mod 11, add shifted ids, rewrite
    // text for ids ≡ 3 mod 7) — the q219 fixture pattern. One
    // id-keyed shuffle; hashes computed map-side, text never carried
    // past the scan.
    "q241_corpus_diff" -> ((s, d) => {
      val v1 = docs(s, d).select(col("doc_id"), md5(col("text")).as("h1"))
      val v2base = docs(s, d)
        .where(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 3, md5(concat(col("text"), lit(" v2"))))
            .otherwise(md5(col("text"))).as("h2"))
      val v2new = docs(s, d).where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), md5(col("text")).as("h2"))
      val v2 = v2base.unionByName(v2new)
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("h1").isNull, lit("added"))
            .when(col("h2").isNull, lit("removed"))
            .when(col("h1") === col("h2"), lit("same"))
            .otherwise(lit("changed")).as("status"))
        .orderBy("doc_id")
    }),

    // Q240 — contamination REPORT per eval item ([[graft.llm
    // .Decontamination.evalReport]]): q69 answers "which training
    // docs must go"; this answers the model-card question — which
    // benchmark items are compromised, by how many training docs,
    // over how many of their own grams, with the smallest offending
    // train id as a deterministic witness. Eval grams broadcast WITH
    // ids; one aggregate over the matched pairs.
    "q240_contamination_report" -> ((s, d) => {
      val all = docs(s, d)
      graft.llm.Decontamination.evalReport(
        all.where(col("doc_id") % 10 =!= 0),
        all.where(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),

    // Q239 — per-domain quota capping: the web-corpus curation rule
    // that no single host dominates the training mix (Common Crawl
    // pipelines cap documents per registered host before mixing).
    // The corpus has no URLs, so each document synthesizes a
    // deterministic one (the q219 fixture pattern); host/path extract
    // via a shared RE2-safe regex (DuckDB is RE2 — no lookaround),
    // then each host keeps its `cap` best documents (n_chars desc,
    // doc_id tiebreak) through the grouped-top-k rank plan (q89's
    // WindowGroupLimit shape — per-partition rank, no global sort).
    "q239_domain_quota" -> ((s, d) => {
      val url = concat(lit("https://site"), (col("doc_id") % 37).cast("string"),
        lit("."), element_at(array(lit("com"), lit("org"), lit("net")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")),
        lit("/p/"), col("doc_id").cast("string"),
        lit("?ref="), (col("doc_id") % 5).cast("string"))
      val tagged = docs(s, d).select(col("doc_id"), col("n_chars"))
        .withColumn("url", url)
        .withColumn("host", regexp_extract(col("url"), "^https?://([^/?#]+)", 1))
        .withColumn("path", regexp_extract(col("url"), "^https?://[^/?#]+([^?#]*)", 1))
      graft.ops.TopK.perGroup(tagged, Seq("host"), 3,
          col("n_chars").desc, col("doc_id"))
        .select(col("doc_id"), col("host"), col("path"),
          col("n_chars").cast("long").as("n_chars"),
          col("rank").cast("long").as("kept_rank"))
        .orderBy("doc_id")
    }),

    "q238_text_fold" -> ((s, d) => {
      val tail = element_at(
        array(q238Tails.map(lit): _*),
        (pmod(col("doc_id"), lit(6)) + 1).cast("int"))
      docs(s, d)
        .select(col("doc_id"), concat(col("text"), lit("  "), tail).as("t"))
        .select(col("doc_id"),
          trim(regexp_replace(graft.functions.FoldText(col("t")),
            "\\s+", " ")).as("folded"))
        .select(col("doc_id"), col("folded"),
          length(col("folded")).cast("long").as("n_chars"))
        .orderBy("doc_id")
    })
  )

  /** q238's multilingual tails, shared verbatim with the generated
    * oracle. Entry 2 is a raw DECOMPOSED sequence — base letters +
    * COMBINING ACUTE (U+0301), byte-different from the precomposed
    * forms in the other entries, identical after folding. */
  private val q238Tails: Seq[String] = Seq(
    "Café au lait",
    "naïve façade",
    "éclair résumé",
    "Zürich STRASSE",
    "señor São Paulo",
    "ÀÉÎÕÜ noël")

  /** Generated oracle for q238: the same tails interpolated into a
    * CASE, folded by DuckDB's own Unicode stack. */
  private lazy val q238OracleSql: String = {
    val cases = q238Tails.zipWithIndex
      .map { case (t, i) => s"WHEN $i THEN '$t'" }.mkString(" ")
    s"""WITH t AS (SELECT doc_id,
       |  text || '  ' || CASE doc_id % 6 $cases END AS t2 FROM documents),
       |f AS (SELECT doc_id,
       |  TRIM(REGEXP_REPLACE(LOWER(strip_accents(nfc_normalize(t2))),
       |                      '\\s+', ' ', 'g')) AS folded
       |  FROM t)
       |SELECT doc_id, folded, CAST(LENGTH(folded) AS BIGINT) AS n_chars
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** q221's SQL — shared verbatim with the oracle (DuckDB parses the
    * same text), so the engines differ only in decorrelation strategy. */
  private val q221Sql: String =
    """SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  /** q219's synthetic codebook: values on the quarter grid in
    * [-3, 3] — exact doubles, so both engines' distance sums are
    * bit-identical. Formula shared verbatim with [[pqEncodeOracleSql]]. */
  private def pqSynthCb(s: Int, c: Int, i: Int): Double =
    ((c * 31 + i * 17 + s * 7) % 25 - 12) / 4.0

  private lazy val pqSynthModel = graft.llm.Pq.Model(64, 4, 4,
    (0 until 4).map(s => (0 until 4).map(c =>
      Array.tabulate(16)(i => pqSynthCb(s, c, i)))))

  /** Generated oracle for q219: per-subspace distances as one CTE
    * (left-associated term chain = the engine's aggregate fold; the
    * engine's leading 0.0+ is an IEEE no-op on the non-negative first
    * square), argmin via <=-chained CASE (ties to the lowest code —
    * the least(struct) rule). */
  private lazy val pqEncodeOracleSql: String = {
    def dist(s: Int, c: Int): String = (0 until 16).map { i =>
      val v = pqSynthCb(s, c, i)
      val e = s"CAST(embedding[${s * 16 + i + 1}] AS DOUBLE)"
      s"($e - ($v)) * ($e - ($v))"
    }.mkString(" + ")
    val dcols = for (s <- 0 until 4; c <- 0 until 4)
      yield s"(${dist(s, c)}) AS d${s}_$c"
    val cases = (0 until 4).map { s =>
      def d(c: Int) = s"d${s}_$c"
      s"""CASE WHEN ${d(0)} <= ${d(1)} AND ${d(0)} <= ${d(2)} AND ${d(0)} <= ${d(3)} THEN 0
         |     WHEN ${d(1)} <= ${d(2)} AND ${d(1)} <= ${d(3)} THEN 1
         |     WHEN ${d(2)} <= ${d(3)} THEN 2 ELSE 3 END AS c$s""".stripMargin
    }
    s"""WITH d AS (SELECT vec_id, ${dcols.mkString(",\n  ")} FROM embeddings)
       |SELECT vec_id, ${cases.mkString(",\n  ")}
       |FROM d ORDER BY vec_id""".stripMargin
  }

  /** q220's pinned coarse grid and residual codebook: quarter-step
    * values (exact doubles) like q219's, but distinct formulas so the
    * coarse and residual spaces don't alias. Shared verbatim with
    * [[ivfPqOracleSql]]. */
  private def ivfCoarseVal(c: Int, i: Int): Double =
    ((c * 37 + i * 13) % 21 - 10) / 4.0
  private def ivfPqVal(s: Int, c: Int, i: Int): Double =
    ((c * 29 + i * 11 + s * 5) % 17 - 8) / 4.0

  private lazy val ivfCoarseGrid: Seq[Array[Double]] =
    (0 until 4).map(c => Array.tabulate(64)(i => ivfCoarseVal(c, i)))
  private lazy val ivfPqModel = graft.llm.Pq.Model(64, 4, 4,
    (0 until 4).map(s => (0 until 4).map(c =>
      Array.tabulate(16)(i => ivfPqVal(s, c, i)))))
  private val ivfPqQueryIds = Seq(0L, 101L, 202L, 303L)

  /** Generated oracle for q220 — the full IVF-PQ replay. CTE stages
    * mirror the engine 1:1: a1 coarse distances (64-term chains), a2
    * assignment (<=-chained argmin, ties low), r residuals (CASE on
    * the assigned cell), cd/codes residual PQ encode (the q219
    * shape over r columns), pb per-(query, cell) LUTs — one UNION
    * branch per cell so the cell is a literal and every LUT entry is
    * a ((e - coarse) - cb)² chain in engine order — pr/probes probe
    * ranking by (distance, cell), cand ADC sums via CASE on each
    * code, rk the final (adist, vec_id) ranking. */
  private lazy val ivfPqOracleSql: String = {
    def e(i: Int) = s"CAST(embedding[${i + 1}] AS DOUBLE)"
    def coarseDist(c: Int): String = (0 until 64).map { i =>
      val v = ivfCoarseVal(c, i)
      s"(${e(i)} - ($v)) * (${e(i)} - ($v))"
    }.mkString(" + ")
    val a1Cols = (0 until 4).map(c => s"(${coarseDist(c)}) AS dc$c")
    val argminCell =
      """CASE WHEN dc0 <= dc1 AND dc0 <= dc2 AND dc0 <= dc3 THEN 0
        |     WHEN dc1 <= dc2 AND dc1 <= dc3 THEN 1
        |     WHEN dc2 <= dc3 THEN 2 ELSE 3 END AS cl""".stripMargin
    val resCols = (0 until 64).map { i =>
      val branches = (0 until 4).map(c =>
        s"WHEN $c THEN ${e(i)} - (${ivfCoarseVal(c, i)})").mkString(" ")
      s"CASE cl $branches END AS r$i"
    }
    def codeDist(s: Int, c: Int): String = (0 until 16).map { i =>
      val v = ivfPqVal(s, c, i)
      s"(r${s * 16 + i} - ($v)) * (r${s * 16 + i} - ($v))"
    }.mkString(" + ")
    val cdCols = for (s <- 0 until 4; c <- 0 until 4)
      yield s"(${codeDist(s, c)}) AS d${s}_$c"
    val codeCases = (0 until 4).map { s =>
      def d(c: Int) = s"d${s}_$c"
      s"""CASE WHEN ${d(0)} <= ${d(1)} AND ${d(0)} <= ${d(2)} AND ${d(0)} <= ${d(3)} THEN 0
         |     WHEN ${d(1)} <= ${d(2)} AND ${d(1)} <= ${d(3)} THEN 1
         |     WHEN ${d(2)} <= ${d(3)} THEN 2 ELSE 3 END AS s$s""".stripMargin
    }
    def lutVal(cell: Int, s: Int, c: Int): String = (0 until 16).map { i =>
      val t = s"((${e(s * 16 + i)} - (${ivfCoarseVal(cell, s * 16 + i)})) - (${ivfPqVal(s, c, i)}))"
      s"$t * $t"
    }.mkString(" + ")
    val qidList = ivfPqQueryIds.mkString(", ")
    val pbBranches = (0 until 4).map { cell =>
      val luts = for (s <- 0 until 4; c <- 0 until 4)
        yield s"(${lutVal(cell, s, c)}) AS l${s}_$c"
      s"""SELECT vec_id AS qid, $cell AS pcl, dc$cell AS pd,
         |  ${luts.mkString(",\n  ")}
         |FROM a1 WHERE vec_id IN ($qidList)""".stripMargin
    }
    val adcSum = (0 until 4).map { s =>
      val branches = (0 until 4).map(c => s"WHEN $c THEN p.l${s}_$c").mkString(" ")
      s"(CASE c.s$s $branches END)"
    }.mkString(" + ")
    s"""WITH a1 AS (SELECT vec_id, embedding, ${a1Cols.mkString(",\n  ")} FROM embeddings),
       |a2 AS (SELECT vec_id, embedding, $argminCell FROM a1),
       |r AS (SELECT vec_id, cl, ${resCols.mkString(",\n  ")} FROM a2),
       |cd AS (SELECT vec_id, cl, ${cdCols.mkString(",\n  ")} FROM r),
       |codes AS (SELECT vec_id, cl, ${codeCases.mkString(",\n  ")} FROM cd),
       |pb AS (${pbBranches.mkString("\nUNION ALL\n")}),
       |pr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY pd, pcl) AS prk FROM pb),
       |probes AS (SELECT * FROM pr WHERE prk <= 2),
       |cand AS (SELECT p.qid, c.vec_id, $adcSum AS adist
       |         FROM probes p JOIN codes c ON c.cl = p.pcl),
       |rk AS (SELECT qid, vec_id, adist,
       |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rnk FROM cand)
       |SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rank, ROUND(adist, 6) AS adist
       |FROM rk WHERE rnk <= 3 ORDER BY qid, rank""".stripMargin
  }

  lazy val oracleSql: Map[String, String] = Map(
    "q01_filter_project" ->
      """SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice*(1-l_discount),4) AS net_price
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q02_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),4) AS sum_qty,
        |ROUND(SUM(l_extendedprice),4) AS sum_price, ROUND(AVG(l_discount),6) AS avg_disc,
        |COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q03_wordcount" ->
      """SELECT w, COUNT(*) AS c FROM
        |(SELECT UNNEST(STRING_SPLIT(LOWER(text),' ')) AS w FROM documents)
        |WHERE w <> '' GROUP BY w ORDER BY c DESC, w LIMIT 100""".stripMargin,

    "q04_fieldsel" ->
      "SELECT o_orderpriority, o_orderstatus, o_orderkey FROM orders ORDER BY o_orderkey",

    "q05_multi_agg" ->
      """SELECT c_mktsegment, ROUND(SUM(c_acctbal),4) AS sum_bal, MIN(c_name) AS min_name,
        |MAX(c_name) AS max_name, COUNT(DISTINCT c_nationkey) AS n_nations
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q06_join_inner" ->
      """SELECT o_orderkey, c_name, ROUND(o_totalprice,4) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""".stripMargin,

    "q07_join_outer_nway" ->
      """SELECT n_name, CAST(COALESCE(n_cust,0) AS BIGINT) AS n_cust,
        |CAST(COALESCE(n_supp,0) AS BIGINT) AS n_supp,
        |ROUND(COALESCE(cust_bal,0)+COALESCE(supp_bal,0),4) AS total_bal
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust, SUM(c_acctbal) AS cust_bal
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp, SUM(s_acctbal) AS supp_bal
        |      FROM supplier GROUP BY 1) s USING (nk)
        |JOIN nation ON n_nationkey = nk ORDER BY n_name""".stripMargin,

    "q08_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q09_override_argmax" ->
      """SELECT user_id, ARG_MAX(event_type, ts) AS last_event
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q10_total_sort" ->
      """SELECT l_orderkey, l_partkey, l_suppkey FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 1000""".stripMargin,

    "q11_set_ops" ->
      """SELECT op, nk FROM (
        |SELECT 'union' AS op, nk FROM (SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'intersect' AS op, nk FROM (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT 'except' AS op, nk FROM (SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier)
        |) ORDER BY op, nk""".stripMargin,

    "q12_secondary_sort" ->
      """SELECT user_id, rn, event_type, event_id FROM
        |(SELECT user_id, event_id, event_type,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS rn
        | FROM events)
        |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin,

    "q13_histogram" ->
      """SELECT event_type, COUNT(event_id) AS cnt, COUNT(DISTINCT user_id) AS n_users,
        |ROUND(AVG(value),4) AS avg_val, ROUND(STDDEV_POP(value),4) AS sd_val
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q14_grep" ->
      """SELECT m AS word, COUNT(*) AS c FROM
        |(SELECT UNNEST(regexp_extract_all(text, '(sort|merge|join|stream|filter)')) AS m FROM documents)
        |GROUP BY m ORDER BY c DESC, m""".stripMargin,

    "q15_pi" ->
      """SELECT ROUND(4.0 * SUM(CASE WHEN
        |  (((i % 1000) + 0.5)/1000.0) * (((i % 1000) + 0.5)/1000.0) +
        |  ((FLOOR(i/1000) + 0.5)/1000.0) * ((FLOOR(i/1000) + 0.5)/1000.0) <= 1.0
        |  THEN 1 ELSE 0 END) / 1000000.0, 4) AS pi_est
        |FROM range(1000000) t(i)""".stripMargin,

    "q16_tumbling_window" ->
      """SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_bucket,
        |COUNT(*) AS n, ROUND(SUM(value),4) AS sv
        |FROM events GROUP BY user_id, hour_bucket ORDER BY user_id, hour_bucket""".stripMargin,

    "q17_sliding_window" ->
      """WITH b AS (SELECT event_type,
        |  CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP))/900000000) AS BIGINT) AS bucket,
        |  SUM(value) AS v, COUNT(*) AS n FROM events GROUP BY 1, 2)
        |SELECT event_type, bucket, n,
        |  ROUND(SUM(v) OVER (PARTITION BY event_type ORDER BY bucket
        |        RANGE BETWEEN 3 PRECEDING AND CURRENT ROW),4) AS trailing_1h
        |FROM b ORDER BY event_type, bucket""".stripMargin,

    "q18_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, event_id, ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
        |  FROM x)
        |SELECT user_id, sess, COUNT(*) AS n, CAST(MIN(ts) AS TIMESTAMP) AS start_ts,
        |  CAST(MAX(ts) AS TIMESTAMP) AS end_ts
        |FROM y GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin,

    "q19_dedup_exact" ->
      """SELECT h, COUNT(*) AS c FROM
        |(SELECT MD5(array_to_string((STRING_SPLIT(text,' '))[1:5],' ')) AS h FROM documents)
        |GROUP BY h HAVING COUNT(*) > 1 ORDER BY h""".stripMargin,

    "q20_cosine_topk" ->
      """SELECT b.vec_id AS vec_id,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])),4) AS sim
        |FROM embeddings a JOIN embeddings b ON b.vec_id <> 0
        |WHERE a.vec_id = 0
        |ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id
        |LIMIT 10""".stripMargin,

    "q21_token_stats" ->
      """SELECT doc_id, CAST(len(STRING_SPLIT(text,' ')) AS BIGINT) AS n_tokens,
        |CAST(length(text) AS BIGINT) AS n_chars_calc FROM documents ORDER BY doc_id""".stripMargin,

    "q22_text_quality" ->
      """SELECT doc_id, COUNT(*) AS n_tok,
        |CAST(SUM(CASE WHEN w IN ('the','a','of','and','to','in') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
        |ROUND(AVG(CAST(length(w) AS DOUBLE)),4) AS avg_wlen
        |FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text,' ')) AS w FROM documents)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q23_lang_profile" ->
      """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |ROUND(AVG(CAST(n_chars AS DOUBLE)),4) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q24_fingerprint" ->
      """SELECT doc_id, MD5(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q25_ngram_jaccard" ->
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents),
        |-- series bound must exceed the longest document's token count
        |-- (DuckDB can't correlate generate_series with len(ws));
        |-- fixtures max ~100 tokens, 2000 leaves 20x headroom
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |      FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws)-2),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id1, id2, ROUND(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter),4) AS jaccard
        |FROM pairs JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
        |WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5
        |ORDER BY id1, id2""".stripMargin,

    "q50_curation" ->
      """WITH stats AS (
        |  SELECT doc_id, COUNT(*) AS n_tok,
        |    SUM(CASE WHEN w IN ('the','a','of','and','to','in') THEN 1 ELSE 0 END) AS n_stop
        |  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text,' ')) AS w FROM documents)
        |  GROUP BY doc_id),
        |canon AS (
        |  SELECT doc_id, lang,
        |    doc_id = MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keep
        |  FROM documents)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(c.doc_id) AS BIGINT) AS id_sum
        |FROM canon c JOIN stats s ON c.doc_id = s.doc_id
        |WHERE keep AND s.n_tok >= 5 AND s.n_stop * 20 >= s.n_tok
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // components oracle: q25's pair pipeline + recursive transitive
    // closure; LEAST(a, MIN(reachable)) is the component min = comp_id
    "q49_dup_components" -> dupComponentsOracleSql,

    // q27 is the sketch→verify pipeline whose verified output equals
    // the exact n-gram Jaccard answer — the same oracle as q25.
    "q27_minhash_neardup" ->
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |      FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws)-2),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
        |          FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id1, id2, ROUND(CAST(inter AS DOUBLE)/(sa.n + sb.n - inter),4) AS jaccard
        |FROM pairs JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
        |WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5
        |ORDER BY id1, id2""".stripMargin,

    "q30_pipe_wordcount" ->
      """SELECT w, COUNT(*) AS c FROM
        |(SELECT UNNEST(STRING_SPLIT(UPPER(text),' ')) AS w FROM documents)
        |WHERE w <> '' GROUP BY w ORDER BY c DESC, w LIMIT 50""".stripMargin,

    "q33_multimodal_features" ->
      """SELECT doc_id AS media_id, CAST(octet_length(ENCODE(text)) AS BIGINT) AS n_bytes,
        |MD5(text) AS payload_md5, 'unknown' AS format,
        |CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    // q34 probes every posting list (exhaustive IVF), so the result is
    // the exact top-k — the same oracle as q26.
    "q34_ann_ivf" ->
      """WITH sims AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5),
        |r AS (SELECT qid, vec_id, s,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS INT) AS rnk FROM sims)
        |SELECT qid, vec_id, rnk, ROUND(s,4) AS sim FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "q26_ann_topk" ->
      """WITH sims AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5),
        |r AS (SELECT qid, vec_id, s,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS INT) AS rnk FROM sims)
        |SELECT qid, vec_id, rnk, ROUND(s,4) AS sim FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "q29_sample_mod" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey % 10 = 0 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q35_asof_join" ->
      """SELECT p.user_id AS user_id, p.event_id AS event_id, l.event_id AS signup_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') l
        |  ON p.user_id = l.user_id AND p.ts >= l.ts
        |ORDER BY p.event_id""".stripMargin,

    "q36_interval_join" ->
      """WITH iv AS (SELECT user_id, MIN(ts) AS start_ts,
        |                   MIN(ts) + INTERVAL 3 DAY AS end_ts
        |            FROM events GROUP BY user_id)
        |SELECT e.user_id AS user_id, e.event_id AS event_id
        |FROM events e JOIN iv ON e.user_id = iv.user_id
        |  AND e.ts >= iv.start_ts AND e.ts < iv.end_ts
        |ORDER BY e.event_id""".stripMargin,

    "q38_datajoin" ->
      """SELECT CAST(o_custkey AS BIGINT) AS custkey, c_name, CAST(o_orderkey AS BIGINT) AS o_orderkey
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q32_embed_neardup" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])),4) AS sim
        |FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.35
        |ORDER BY id1, id2""".stripMargin,

    // both round-trips share the one aggregation over the original
    "q44_kvtext_roundtrip" ->
      """SELECT lang AS value, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY lang ORDER BY value""".stripMargin,

    "q45_seqfile_roundtrip" ->
      """SELECT lang AS value, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY lang ORDER BY value""".stripMargin,

    // same witness aggregation as q44 — the round-trip is Spark-side
    "q48_codec_roundtrip" ->
      """SELECT lang AS value, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY lang ORDER BY value""".stripMargin,

    "q57_xml_roundtrip" ->
      """SELECT doc_id,
        |  CAST(LENGTH('<doc id="' || doc_id || '">' || text || '</doc>') AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q59/q61 share q44's witness: the container crossing is Spark-side
    "q59_fixedlen_roundtrip" ->
      """SELECT lang AS value, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY lang ORDER BY value""".stripMargin,

    "q61_har_roundtrip" ->
      """SELECT lang AS value, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY lang ORDER BY value""".stripMargin,

    "q60_multi_inputs" ->
      """SELECT src, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS id_sum FROM (
        |  SELECT doc_id AS id, 'doc' AS src FROM documents
        |  UNION ALL SELECT o_orderkey AS id, 'order' AS src FROM orders)
        |GROUP BY src ORDER BY src""".stripMargin,

    "q63_typed_histogram" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(AVG(value),4) AS mean_v,
        |  ROUND(stddev_pop(value),4) AS stddev_v,
        |  ROUND(MIN(value),4) AS min_v, ROUND(MAX(value),4) AS max_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q62_skip_bad" ->
      """SELECT doc_id, ws[6] AS w6
        |FROM (SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents)
        |WHERE len(ws) >= 6 ORDER BY doc_id""".stripMargin,

    "q58_jdbc_roundtrip" ->
      """SELECT n_nationkey AS nk, n_name, n_regionkey AS rk
        |FROM nation ORDER BY nk""".stripMargin,

    "q56_bpe_tokens" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+')) AS BIGINT) AS n_bpe,
        |  CAST(len(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_ws
        |FROM documents ORDER BY doc_id""".stripMargin,

    // both engines order the same lowercase-hex md5 strings; ids are
    // unique so the top-100 set is tie-free
    "q54_det_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang FROM documents
        |  ORDER BY MD5(CAST(doc_id AS VARCHAR)) LIMIT 100)
        |ORDER BY doc_id""".stripMargin,

    "q55_length_buckets" ->
      """WITH t AS (SELECT doc_id, CAST(len(STRING_SPLIT(text,' ')) AS BIGINT) AS n_tok
        |           FROM documents)
        |SELECT CAST(FLOOR(n_tok/16.0) AS BIGINT)*16 AS bucket,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum
        |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q53_bucketed_join" ->
      """SELECT o_custkey, COUNT(*) AS n, ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // same witness shape as q44: the file-count blowup is Spark-side
    "q52_smallfiles_roundtrip" ->
      """SELECT lang AS value, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY lang ORDER BY value""".stripMargin,

    // same witness shape as q44: the routing is Spark-side
    "q51_routed_roundtrip" ->
      """SELECT lang AS value, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM documents GROUP BY lang ORDER BY value""".stripMargin,

    "q46_rollup" ->
      """SELECT CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
        |  COALESCE(l_returnflag, '') AS flag,
        |  COALESCE(l_linestatus, '') AS status,
        |  ROUND(SUM(l_quantity), 4) AS sum_qty, COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, flag, status""".stripMargin,

    // the oracle is the UNSALTED aggregation — equality IS the claim
    "q47_salted_agg" ->
      """SELECT l_returnflag AS k, ROUND(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q43_keyfield_sort" ->
      """SELECT l_orderkey || CHR(9) || l_linenumber || CHR(9) || CAST(l_quantity AS BIGINT) AS line
        |FROM lineitem
        |ORDER BY l_linenumber DESC, l_orderkey""".stripMargin,

    // Spark `percentile` and DuckDB `median` both interpolate at even
    // counts (percentile_cont semantics), so the values hash-match
    "q42_word_stats" ->
      """SELECT ROUND(AVG(CAST(length(w) AS DOUBLE)),4) AS mean_len,
        |ROUND(CAST(median(length(w)) AS DOUBLE),4) AS median_len,
        |ROUND(stddev_pop(CAST(length(w) AS DOUBLE)),4) AS stddev_len,
        |CAST(COUNT(*) AS BIGINT) AS n_words
        |FROM (SELECT UNNEST(STRING_SPLIT(text,' ')) AS w FROM documents)
        |WHERE w <> ''""".stripMargin,

    "q41_ann_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, CAST(list_max(list_transform(v, y -> abs(y))) AS DOUBLE) AS mx FROM e),
        |qz AS (SELECT vec_id,
        |  list_transform(v, x -> CASE WHEN mx = 0 THEN 0.0
        |    ELSE CAST(FLOOR(x / (mx/127.0) + 0.5) AS DOUBLE) END) AS qv FROM m),
        |sims AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
        |    list_inner_product(a.qv, b.qv) /
        |      (sqrt(list_inner_product(a.qv, a.qv)) * sqrt(list_inner_product(b.qv, b.qv))) AS s
        |  FROM qz a JOIN qz b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 5),
        |r AS (SELECT qid, vec_id, s,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS INT) AS rnk FROM sims)
        |SELECT qid, vec_id, rnk, ROUND(s,4) AS sim FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // bucket bounds = round(cum_weight * 65536) for 0.8/0.1/0.1
    "q40_hash_split" ->
      """WITH b AS (SELECT doc_id,
        |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),1,4))::INT AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 52429 THEN 'train'
        |            WHEN bucket < 58982 THEN 'val' ELSE 'test' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,

    // cat is identity, so the round-trip through the typed-bytes wire
    // must reproduce the source bytes exactly — md5 is the witness.
    "q39_typedbytes_pipe" ->
      """SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars, MD5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q28_simhash_neardup" -> simHashOracleSql(maxHamming = 6),
    "q31_ann_lsh" -> lshTopKOracleSql(nPlanes = 4, k = 5),
    "q37_embed_neardup_lsh" -> lshNearDupOracleSql(nPlanes = 8, threshold = 0.35),

    // Recomputes the tagged-unit counting: lines of the word-per-line
    // view ARE the tokens, so every family derives from one split.
    // The generate_series bound pattern follows q25 (no correlated
    // series in DuckDB; 2000 >> max document token count).
    "q64_repetition" ->
      """WITH tok AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS chars,
        |  STRING_SPLIT(text, ' ') AS ws FROM documents),
        |units AS (
        |  SELECT doc_id, chars, 'L' AS k, ws[i] AS u
        |    FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws)
        |  UNION ALL
        |  SELECT doc_id, chars, 'T', ws[i] || ' ' || ws[i+1]
        |    FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws) - 1
        |  UNION ALL
        |  SELECT doc_id, chars, 'D',
        |    ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]
        |    FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws) - 4),
        |counted AS (SELECT doc_id, chars, k, u, COUNT(*) AS c, length(u) AS ulen
        |  FROM units GROUP BY 1, 2, 3, 4),
        |agg AS (SELECT doc_id, chars,
        |  CAST(COALESCE(SUM(CASE WHEN k = 'L' THEN c END), 0) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN k = 'L' THEN 1 ELSE 0 END) AS BIGINT) AS d_lines,
        |  CAST(SUM(CASE WHEN k = 'L' AND c > 1 THEN c * ulen ELSE 0 END) AS BIGINT) AS dlc,
        |  CAST(MAX(CASE WHEN k = 'T' THEN c * ulen ELSE 0 END) AS BIGINT) AS topc,
        |  CAST(SUM(CASE WHEN k = 'D' AND c > 1 THEN c * ulen ELSE 0 END) AS BIGINT) AS dgc
        |  FROM counted GROUP BY 1, 2)
        |SELECT doc_id, n_lines,
        |  ROUND(CAST(n_lines - d_lines AS DOUBLE) / GREATEST(n_lines, 1), 4) AS dup_line_frac,
        |  ROUND(CAST(dlc AS DOUBLE) / GREATEST(chars, 1), 4) AS dup_line_char_frac,
        |  ROUND(CAST(topc AS DOUBLE) / GREATEST(chars, 1), 4) AS top_ngram_char_frac,
        |  ROUND(CAST(dgc AS DOUBLE) / GREATEST(chars, 1), 4) AS dup_ngram_char_frac
        |FROM agg ORDER BY doc_id""".stripMargin,

    // The window form IS the packing definition; the engine computes
    // it as a two-phase scan, but the values must match exactly.
    "q65_seq_packing" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT doc_id, n_tok,
        |  SUM(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM t)
        |SELECT doc_id, n_tok, CAST((cum - n_tok) // 256 AS BIGINT) AS pack_id
        |FROM c ORDER BY doc_id""".stripMargin,

    // Window starts step by 24; chunk count = ceil((n-8)/24), min 1.
    // Series bound pattern follows q25 (no correlated series).
    "q66_chunking" ->
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        |n AS (SELECT doc_id, ws, len(ws) AS n FROM tok WHERE len(ws) > 0),
        |c AS (SELECT doc_id, ws, i AS chunk_id
        |      FROM n, generate_series(0, 2000) t(i)
        |      WHERE i < GREATEST((n - 8 + 23) // 24, 1))
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(ws[chunk_id*24+1 : chunk_id*24+32]) AS BIGINT) AS n_tok,
        |  MD5(array_to_string(ws[chunk_id*24+1 : chunk_id*24+32], ' ')) AS chunk_md5
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    // Same planted PII, same regexes (interpolated from the shared
    // constants), scrubbed with RE2's 'g' flag = Spark's replace-all.
    "q67_pii_redaction" -> {
      val e = graft.functions.TextFunctions.emailPattern
      val ip = graft.functions.TextFunctions.ipv4Pattern
      val ph = graft.functions.TextFunctions.phonePattern
      s"""WITH dirty AS (SELECT doc_id,
         |  text || ' user' || doc_id || '@example.com 10.0.' || (doc_id % 256)
         |    || '.7 call +1 555 0199 now' AS t FROM documents),
         |s AS (SELECT doc_id, t, regexp_replace(regexp_replace(regexp_replace(
         |  t, '$e', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g') AS r
         |  FROM dirty)
         |SELECT doc_id, MD5(r) AS scrub_md5,
         |  CAST(length(t) - length(r) AS BIGINT) AS shrink
         |FROM s ORDER BY doc_id""".stripMargin
    },

    // The composition oracle re-derives every stage: dup-5-gram
    // counting (q64 shape), the integer gate, window keep-min (q50
    // shape), chunk windows (q66 shape) and the running-sum pack
    // stripe (q65 shape) over the combined (doc, chunk) key.
    "q68_curation_v2" ->
      """WITH tok AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS chars,
        |  STRING_SPLIT(text, ' ') AS ws FROM documents),
        |g5 AS (SELECT doc_id,
        |  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS u
        |  FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws) - 4),
        |gc AS (SELECT doc_id, CAST(SUM(CASE WHEN c > 1 THEN c * ulen ELSE 0 END) AS BIGINT) AS dgc
        |  FROM (SELECT doc_id, u, COUNT(*) AS c, length(u) AS ulen FROM g5 GROUP BY 1, 2)
        |  GROUP BY 1),
        |kept AS (SELECT t.doc_id, t.text, t.ws FROM tok t
        |  LEFT JOIN gc ON gc.doc_id = t.doc_id
        |  WHERE COALESCE(gc.dgc, 0) * 10 < t.chars * 3 AND len(t.ws) >= 20),
        |canon AS (SELECT doc_id, ws FROM (
        |  SELECT doc_id, ws, doc_id = MIN(doc_id) OVER (PARTITION BY MD5(text)) AS keep
        |  FROM kept) WHERE keep),
        |chunks AS (SELECT doc_id, i AS chunk_id,
        |  CAST(len(ws[i*24+1 : i*24+32]) AS BIGINT) AS n_tok
        |  FROM canon, generate_series(0, 2000) t(i)
        |  WHERE i < GREATEST((len(ws) - 8 + 23) // 24, 1)),
        |packed AS (SELECT doc_id, chunk_id, n_tok,
        |  SUM(n_tok) OVER (ORDER BY doc_id * 64 + chunk_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM chunks)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, n_tok,
        |  CAST((cum - n_tok) // 256 AS BIGINT) AS pack_id
        |FROM packed ORDER BY doc_id, chunk_id""".stripMargin,

    // Same split, same distinct-3-gram join, recomputed in SQL.
    "q69_decontamination" ->
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |      FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws) - 2),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0),
        |tr AS (SELECT doc_id, g FROM g WHERE doc_id % 10 <> 0),
        |ov AS (SELECT tr.doc_id, COUNT(*) AS n FROM tr JOIN ev USING (g) GROUP BY 1)
        |SELECT t.doc_id, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
        |  COALESCE(ov.n, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM tok WHERE doc_id % 10 <> 0) t
        |LEFT JOIN ov ON ov.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // Recomputes the winnow: base-263 polynomial hash per 8-char
    // position (power constants inlined, mod 2^31-1 — term sums stay
    // < 2^41, exact in BIGINT), 4-hash window minima via a clamped
    // window frame, distinct set per document.
    // LEFT JOIN from documents: a doc too short for any k-gram still
    // yields a (0, md5('')) row, matching the Spark side's per-doc
    // projection — dropping it would break the row-count compare.
    "q70_winnow_fp" ->
      s"""WITH $winnowFpCte
         |SELECT d.doc_id, CAST(COUNT(fp.m) AS BIGINT) AS n_fp,
         |  MD5(COALESCE(string_agg(CAST(fp.m AS VARCHAR), ',' ORDER BY fp.m), ''))
         |    AS fp_md5
         |FROM documents d LEFT JOIN fp ON fp.doc_id = d.doc_id
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // Same fingerprint CTE, self-joined on the hash value. No doc
    // fingerprint exceeds the 100k dfCap here, so the fence is a
    // no-op for the oracle (spec-pinned separately in WinnowPairsSpec).
    "q71_winnow_pairs" ->
      s"""WITH $winnowFpCte,
         |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM fp a JOIN fp b ON a.m = b.m AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id1, id2, n_shared FROM pairs
         |WHERE n_shared >= 40 ORDER BY id1, id2""".stripMargin,

    "q72_nline_roundtrip" ->
      """SELECT doc_id, MD5(text) AS text_md5 FROM documents ORDER BY doc_id""".stripMargin,

    "q73_side_outputs" ->
      """SELECT CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS side,
        |  COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q74_chain" ->
      """SELECT l_orderkey, l_linenumber,
        |  ROUND(l_extendedprice * (1 - l_discount), 4) AS net
        |FROM lineitem
        |WHERE l_quantity >= 45
        |  AND ROUND(l_extendedprice * (1 - l_discount), 4) > 50000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q75_point_lookup" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey = 1 ORDER BY l_linenumber""".stripMargin,

    "q76_compaction" ->
      """SELECT doc_id, MD5(text) AS text_md5 FROM documents ORDER BY doc_id""".stripMargin,

    "q77_distcp_roundtrip" ->
      """SELECT doc_id, n_chars, MD5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q78_semantic_dedup" -> semanticDedupOracleSql(nPlanes = 8, threshold = 0.35),

    // componentsStar must reproduce components' values exactly —
    // same pair set, same closure oracle.
    "q79_components_star" -> dupComponentsOracleSql,

    "q80_orc_roundtrip" ->
      """SELECT doc_id, lang, MD5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q81_avro_roundtrip" ->
      """SELECT doc_id, lang, MD5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the nested writer/reader must not perturb any value: recompute
    // the struct fields and the token array straight from the base
    // table (single-space word soup → split/join is lossless)
    "q82_avro_nested" ->
      """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS chars,
        |CAST(len(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok,
        |MD5(array_to_string(STRING_SPLIT(text, ' '), ' ')) AS toks_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the split-read must be exactly the table, no row lost or doubled
    // across the predicate ranges
    "q83_jdbc_text_split" ->
      """SELECT c_name, c_custkey AS ck, c_mktsegment
        |FROM customer ORDER BY ck""".stripMargin,

    // earliest-(ts, value) representative per key, re-derived with a
    // window rank. The cast to micro-resolution TIMESTAMP happens in
    // its own CTE so the window ranks the SAME precision Spark reads
    // (events.parquet is nanos; Tables.events truncates to micros).
    "q84_stateful_dedup" ->
      """WITH c AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS cts, value
        |  FROM events),
        |r AS (SELECT user_id, event_type, cts, value,
        |  ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                     ORDER BY cts, value) AS rn
        |  FROM c)
        |SELECT user_id, event_type, cts AS first_ts, ROUND(value, 4) AS v
        |FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    // recompute the whole scrub: per-line document frequency over
    // DISTINCT docs, drop lines past the cap, reassemble in position
    // order; docs scrubbed to nothing keep a row via the LEFT JOIN
    "q85_line_dedup" ->
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        |l AS (SELECT doc_id, i AS pos, ws[i] AS line
        |      FROM tok, generate_series(1, 2000) t(i)
        |      WHERE i <= len(ws) AND trim(ws[i]) <> ''),
        |c AS (SELECT line FROM (SELECT line, COUNT(DISTINCT doc_id) AS df
        |                        FROM l GROUP BY line) WHERE df > 250),
        |k AS (SELECT doc_id, pos, line FROM l
        |      WHERE line NOT IN (SELECT line FROM c)),
        |a AS (SELECT doc_id, COUNT(*) AS n_lines,
        |             string_agg(line, ' ' ORDER BY pos) AS t
        |      FROM k GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(a.n_lines, 0) AS BIGINT) AS n_lines,
        |  MD5(COALESCE(a.t, '')) AS new_md5
        |FROM documents d LEFT JOIN a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // integer keep rule (rn-1)*den < n*num == rn <= ceil(n*num/den):
    // no double threshold to round differently across engines
    "q86_stratified_sample" ->
      """WITH r AS (SELECT doc_id, lang,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT doc_id, lang FROM r WHERE (rn - 1) * 5 < n
        |ORDER BY doc_id""".stripMargin,

    "q87_length_quantiles" ->
      """WITH t AS (SELECT lang, len(STRING_SPLIT(text, ' ')) AS n_tok
        |           FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  ROUND(quantile_cont(n_tok, 0.5), 4) AS p50,
        |  ROUND(quantile_cont(n_tok, 0.9), 4) AS p90
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    // the exact cross-pair ground truth (new × history only): same
    // 3-gram shingle-set Jaccard CTE as q25/q49, restricted by the
    // batch split predicate
    "q88_incremental_neardup" ->
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |      FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS new_id, b.doc_id AS hist_id, COUNT(*) AS inter
        |      FROM g a JOIN g b ON a.gram = b.gram
        |      WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        |      GROUP BY 1, 2)
        |SELECT new_id, hist_id,
        |  ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
        |FROM p JOIN sz sa ON sa.doc_id = new_id JOIN sz sb ON sb.doc_id = hist_id
        |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.5
        |ORDER BY new_id, hist_id""".stripMargin,

    "q89_topk_per_group" ->
      """WITH r AS (SELECT event_type, event_id, user_id, value,
        |  ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY value DESC, event_id) AS rnk
        |  FROM events)
        |SELECT event_type, event_id, user_id, ROUND(value, 4) AS v,
        |  CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 2 ORDER BY event_type, rnk""".stripMargin,

    "q90_temperature_sample" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n, CAST(FLOOR(SQRT(n)) AS BIGINT) AS w FROM c),
        |q AS (SELECT lang, LEAST(n, (120 * w) // (SELECT CAST(SUM(w) AS BIGINT) FROM w)) AS t
        |      FROM w),
        |r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |        ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM documents)
        |SELECT r.doc_id, r.lang FROM r
        |JOIN q ON r.lang IS NOT DISTINCT FROM q.lang
        |WHERE rn <= t ORDER BY doc_id""".stripMargin,

    "q91_shuffle_shard" ->
      """WITH p AS (SELECT doc_id,
        |  ROW_NUMBER() OVER (ORDER BY MD5(CAST(doc_id AS VARCHAR)) || CAST(doc_id AS VARCHAR)) - 1 AS pos
        |  FROM documents)
        |SELECT doc_id, pos, pos % 8 AS shard, pos // 8 AS pos_in_shard
        |FROM p ORDER BY doc_id""".stripMargin,

    "q92_unigram_rarity" ->
      """WITH t AS (SELECT doc_id, tok FROM (
        |    SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text),' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |v AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
        |sc AS (SELECT doc_id, COUNT(*) AS n_tok,
        |         CAST(SUM(LENGTH(BIN((SELECT COUNT(*) FROM t) // cnt)) - 1) AS BIGINT) AS rsum
        |       FROM t JOIN v USING (tok) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(sc.n_tok, 0) AS n_tok,
        |  COALESCE(sc.rsum, 0) AS rarity_sum,
        |  CASE WHEN COALESCE(sc.n_tok, 0) > 0
        |       THEN ROUND(CAST(sc.rsum AS DOUBLE) / sc.n_tok, 4) END AS rarity_avg
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    "q93_bloom_decontam" ->
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |      FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws) - 2),
        |ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 7 = 0),
        |tr AS (SELECT doc_id, g FROM g WHERE doc_id % 7 <> 0),
        |ov AS (SELECT tr.doc_id, COUNT(*) AS n FROM tr JOIN ev USING (g) GROUP BY 1)
        |SELECT t.doc_id, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
        |  COALESCE(ov.n, 0) > 0 AS contaminated
        |FROM (SELECT doc_id FROM tok WHERE doc_id % 7 <> 0) t
        |LEFT JOIN ov ON ov.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "q94_mix_epochs" ->
      """WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        |wt AS (SELECT source, n,
        |         CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 3 ELSE 1 END AS w
        |       FROM c),
        |f AS (SELECT source,
        |        LEAST(16, (1000 * w + (SELECT CAST(SUM(w) AS BIGINT) FROM wt) * n - 1)
        |                  // ((SELECT CAST(SUM(w) AS BIGINT) FROM wt) * n)) AS r
        |      FROM wt)
        |SELECT d.doc_id, d.source, CAST(t.i AS BIGINT) AS replica
        |FROM documents d
        |JOIN f ON d.source IS NOT DISTINCT FROM f.source, generate_series(0, 15) t(i)
        |WHERE t.i < f.r
        |ORDER BY d.doc_id, replica""".stripMargin,

    "q95_skew_report" ->
      """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS nkeys FROM c)
        |SELECT user_id, cnt, cnt * 1000000 // total AS share_ppm,
        |  cnt * nkeys * 10000 // total AS x_mean_bp
        |FROM c, t ORDER BY cnt DESC, user_id LIMIT 20""".stripMargin,

    "q96_heavy_hitters" ->
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS user_id, COUNT(*) AS cnt
        |           FROM events GROUP BY 1),
        |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
        |SELECT user_id, cnt FROM c, t WHERE cnt * 130 > total
        |ORDER BY cnt DESC, user_id""".stripMargin,

    "q97_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s0 AS (SELECT user_id, MIN(ts) AS t_0 FROM events
        |       WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id, MIN(e.ts) AS t_1 FROM events e
        |       JOIN s0 ON s0.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s0.t_0 GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t_2 FROM events e
        |       JOIN s1 ON s1.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s1.t_1 GROUP BY 1)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t_2 IS NOT NULL THEN 3 WHEN t_1 IS NOT NULL THEN 2
        |            WHEN t_0 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage,
        |  t_0, t_1, t_2
        |FROM u LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
        |LEFT JOIN s2 USING (user_id)
        |ORDER BY u.user_id""".stripMargin,

    "q98_retention" ->
      """WITH c AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
        |           FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT c.cohort, CAST(a.day - c.cohort AS BIGINT) AS day_offset,
        |  COUNT(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,

    "q99_json_props" ->
      """SELECT CAST(props->>'k' AS BIGINT) % 10 AS k_mod, COUNT(*) AS n,
        |  ROUND(SUM(value), 4) AS value_sum
        |FROM events GROUP BY 1 ORDER BY k_mod""".stripMargin,

    "q100_pivot" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q101_unpivot" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |t AS (SELECT UNNEST(['click','error','purchase','signup','view']) AS event_type),
        |c AS (SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2)
        |SELECT u.user_id, t.event_type, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt
        |FROM u CROSS JOIN t
        |LEFT JOIN c ON c.user_id = u.user_id AND c.event_type = t.event_type
        |ORDER BY u.user_id, t.event_type""".stripMargin,

    "q102_ntile" ->
      """SELECT user_id, event_id, ROUND(value, 4) AS v,
        |  CAST(NTILE(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS BIGINT)
        |    AS quartile
        |FROM events ORDER BY user_id, quartile, event_id""".stripMargin,

    "q103_event_paths" ->
      """SELECT user_id,
        |  STRING_AGG(event_type, '>' ORDER BY ts, event_id) AS path,
        |  COUNT(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q104_running_total" ->
      """SELECT user_id, event_id,
        |  ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_sum
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q105_event_gaps" ->
      """SELECT user_id, event_id,
        |  epoch_us(ts) - LAG(epoch_us(ts), 1)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q106_stats_aggs" ->
      """SELECT event_type,
        |  ROUND(STDDEV_SAMP(value), 4) AS sd_v,
        |  ROUND(VAR_SAMP(value), 4) AS var_v,
        |  ROUND(COVAR_SAMP(value, k), 4) AS cov_vk,
        |  ROUND(CORR(value, k), 4) AS corr_vk
        |FROM (SELECT event_type, value, CAST(props->>'k' AS DOUBLE) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q107_percent_rank" ->
      """SELECT user_id, event_id,
        |  ROUND(PERCENT_RANK() OVER (PARTITION BY user_id ORDER BY value, event_id), 4) AS pr,
        |  ROUND(CUME_DIST() OVER (PARTITION BY user_id ORDER BY value, event_id), 4) AS cd
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q112_dedup_ingest" ->
      """WITH h AS (SELECT DISTINCT MD5(text) AS h FROM documents WHERE doc_id % 3 <> 0),
        |b AS (SELECT doc_id, MD5(text) AS h FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id FROM b
        |WHERE NOT EXISTS (SELECT 1 FROM h WHERE h.h = b.h)
        |ORDER BY doc_id""".stripMargin,

    "q110_fuzzy_names" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL),
        |p AS (SELECT a.p_name AS n1, b.p_name AS n2
        |      FROM n a JOIN n b ON SUBSTRING(a.p_name,1,1) = SUBSTRING(b.p_name,1,1)
        |      WHERE a.p_name < b.p_name
        |        AND ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 3
        |        AND levenshtein(a.p_name, b.p_name) <= 3)
        |SELECT n1, n2, CAST(levenshtein(n1, n2) AS BIGINT) AS dist
        |FROM p ORDER BY n1, n2""".stripMargin,

    "q111_curation_v3" ->
      """WITH g AS (SELECT doc_id, lang FROM documents WHERE n_chars >= 200),
        |c AS (SELECT lang, COUNT(*) AS n FROM g GROUP BY lang),
        |w AS (SELECT lang, n, CAST(FLOOR(SQRT(n)) AS BIGINT) AS w FROM c),
        |q AS (SELECT lang, LEAST(n, (120 * w) // (SELECT CAST(SUM(w) AS BIGINT) FROM w)) AS t
        |      FROM w),
        |r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
        |        ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |      FROM g),
        |samp AS (SELECT r.doc_id, r.lang FROM r
        |         JOIN q ON r.lang IS NOT DISTINCT FROM q.lang WHERE rn <= t),
        |p AS (SELECT doc_id, lang,
        |        ROW_NUMBER() OVER (ORDER BY MD5(CAST(doc_id AS VARCHAR)) || CAST(doc_id AS VARCHAR)) - 1 AS pos
        |      FROM samp)
        |SELECT pos % 4 AS shard, lang, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM p GROUP BY 1, 2 ORDER BY shard, lang""".stripMargin,

    "q109_rolling_wau" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |s AS (SELECT DISTINCT day FROM d),
        |c AS (SELECT d.user_id, d.day + CAST(t.i AS INTEGER) AS day2
        |      FROM d, generate_series(0, 6) t(i))
        |SELECT s.day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS active_users
        |FROM s JOIN c ON c.day2 = s.day
        |GROUP BY s.day ORDER BY s.day""".stripMargin,

    "q108_bpe_pairs" ->
      """WITH w AS (SELECT w, COUNT(*) AS c FROM (
        |    SELECT UNNEST(STRING_SPLIT(LOWER(text),' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |p AS (SELECT SUBSTRING(w.w, t.i, 2) AS pair, CAST(SUM(w.c) AS BIGINT) AS freq
        |      FROM w, generate_series(1, 2000) t(i) WHERE t.i <= LENGTH(w.w) - 1
        |      GROUP BY 1)
        |SELECT pair, freq FROM p ORDER BY freq DESC, pair LIMIT 20""".stripMargin,

    // The schedule replayed: refetch = never-fetched (id%3=0) or
    // stale (id%3=1 and lastmod after 2024-01-03); per-host rank
    // (lastmod desc, url) times the host's delay.
    "q339_recrawl_schedule" ->
      """WITH f AS (SELECT doc_id, doc_id % 5 AS hi,
        |    'h' || (doc_id % 5) || '.ex.com' AS host,
        |    'http://h' || (doc_id % 5) || '.ex.com/p/' || doc_id AS url,
        |    '2024-01-0' || (1 + doc_id % 5) AS lastmod
        |  FROM documents),
        |delta AS (SELECT * FROM f
        |  WHERE doc_id % 3 = 0
        |     OR (doc_id % 3 = 1 AND lastmod > '2024-01-03')),
        |s AS (SELECT host, url, lastmod,
        |        CAST(2 + hi AS BIGINT) AS delay_s,
        |        CAST((ROW_NUMBER() OVER (PARTITION BY host
        |          ORDER BY lastmod DESC, url) - 1) * (2 + hi) AS BIGINT)
        |          AS slot_s
        |      FROM delta)
        |SELECT host, url, lastmod, delay_s, slot_s FROM s
        |ORDER BY host, slot_s, url""".stripMargin,

    // The gate restated by arm: label-boundary domain blocks on
    // id%5 in {1,2,4} (the goodbad.example arm stays clean), term
    // blocks on id%7=0.
    "q336_url_filter" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 5 WHEN 1 THEN 'bad.example'
        |    WHEN 2 THEN 'sub.bad.example' WHEN 3 THEN 'goodbad.example'
        |    WHEN 4 THEN 'cdn.spam.test' ELSE 'ok.site' END AS host,
        |  doc_id % 5 IN (1, 2, 4) AS domain_blocked,
        |  doc_id % 7 = 0 AS term_blocked,
        |  NOT (doc_id % 5 IN (1, 2, 4)) AND NOT (doc_id % 7 = 0) AS kept
        |FROM documents
        |ORDER BY media_id""".stripMargin,

    // Index resolution restated: each id's two child sitemaps both
    // carry the shared bucket page (newest lastmod wins, 2 sources
    // per id) plus one child-specific page each.
    "q329_sitemap_index" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS b FROM documents),
        |u AS (
        |  SELECT 'http://ex.com/p/' || b AS url,
        |    '2024-01-0' || (1 + doc_id % 5) AS lastmod FROM ids
        |  UNION ALL
        |  SELECT 'http://ex.com/p/' || b,
        |    '2024-01-0' || (1 + doc_id % 5) FROM ids
        |  UNION ALL
        |  SELECT 'http://ex.com/a/' || doc_id, '2024-02-01' FROM ids
        |  UNION ALL
        |  SELECT 'http://ex.com/b/' || doc_id, '2024-03-01' FROM ids)
        |SELECT url, MAX(lastmod) AS lastmod, COUNT(*) AS n_sources
        |FROM u GROUP BY url ORDER BY url""".stripMargin,

    // The directives restated: ceil(x.5) = x+1 on the graftbot arm,
    // no *-fallback when the exact group lacks a delay, sitemap list
    // in document order.
    "q327_robots_directives" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN NULL
        |       ELSE 2 + doc_id % 5 END AS delay_graft,
        |  10 + doc_id % 7 AS delay_other,
        |  FALSE AS allowed_private,
        |  CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS n_sitemaps,
        |  'https://ex.com/' || doc_id || '/s1.xml' ||
        |    CASE WHEN doc_id % 2 = 0
        |         THEN ',https://ex.com/' || doc_id || '/s2.xml'
        |         ELSE '' END AS sitemaps
        |FROM documents
        |ORDER BY media_id""".stripMargin,

    // The interleave replayed bit-by-bit: z = Σ_b ((p>>b)&1)·4^b·1 +
    // ((sp>>b)&1)·4^b·2 over the 10 bucketed bits.
    "q325_zorder_layout" ->
      """WITH k AS (SELECT l_partkey % 32 AS p, l_suppkey % 32 AS sp
        |           FROM lineitem),
        |z AS (SELECT p, sp,
        |        (SELECT CAST(SUM((((p >> b) & 1) << (2*b)) +
        |                        (((sp >> b) & 1) << (2*b + 1))) AS BIGINT)
        |         FROM generate_series(0, 4) g(b)) AS z
        |      FROM k)
        |SELECT z // 64 AS zbucket, COUNT(*) AS n,
        |  MIN(p) AS min_p, MAX(p) AS max_p,
        |  MIN(sp) AS min_sp, MAX(sp) AS max_sp,
        |  MIN(z) AS min_z, MAX(z) AS max_z
        |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin,

    // The full trainer replayed: seed (chars + top-200 substrings),
    // Viterbi by exhaustive enumeration (the corpus vocabulary is
    // small enough to enumerate; the engine's DP is additionally
    // differential-pinned in UnigramSpec), hard-EM usage counts.
    // Every join is an equi-join on precomputed columns.
    "q323_unigram_train" ->
      """WITH RECURSIVE
        |toks AS (SELECT UNNEST(STRING_SPLIT(LOWER(text),' ')) AS w
        |         FROM documents),
        |words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        |          WHERE w <> '' AND LENGTH(w) BETWEEN 2 AND 12 GROUP BY w),
        |subs AS (SELECT piece, freq FROM (
        |    SELECT SUBSTRING(w, i, l) AS piece, CAST(SUM(c) AS BIGINT) AS freq
        |    FROM words, generate_series(2, 4) gl(l), generate_series(1, 12) gi(i)
        |    WHERE i <= LENGTH(w) - l + 1
        |    GROUP BY 1 HAVING SUM(c) >= 2)
        |  ORDER BY freq DESC, piece LIMIT 200),
        |chars AS (SELECT SUBSTRING(w, i, 1) AS piece,
        |            CAST(SUM(c) AS BIGINT) AS freq
        |          FROM words, generate_series(1, 12) gi(i)
        |          WHERE i <= LENGTH(w) GROUP BY 1),
        |vocab AS (SELECT * FROM chars UNION ALL SELECT * FROM subs),
        |hits AS (SELECT c.w, c.pos, c.l, v.piece, v.freq
        |         FROM (SELECT w.w, gi.i AS pos,
        |                 SUBSTRING(w.w, gi.i + 1, gl.l) AS sub, gl.l
        |               FROM words w, generate_series(0, 11) gi(i),
        |                    generate_series(1, 4) gl(l)
        |               WHERE gi.i + gl.l <= LENGTH(w.w)) c
        |         JOIN vocab v ON v.piece = c.sub),
        |p AS (
        |  SELECT w, 0 AS pos, 0 AS np, CAST(0 AS BIGINT) AS fs,
        |    '' AS joined FROM words
        |  UNION ALL
        |  SELECT p.w, p.pos + h.l, p.np + 1, p.fs + h.freq,
        |    CASE WHEN p.joined = '' THEN h.piece
        |         ELSE p.joined || ' ' || h.piece END
        |  FROM p JOIN hits h ON h.w = p.w AND h.pos = p.pos),
        |best AS (SELECT w, joined, ROW_NUMBER() OVER (PARTITION BY w
        |           ORDER BY np, fs DESC, joined) AS rk
        |         FROM p WHERE pos = LENGTH(w)),
        |segs AS (SELECT b.w, UNNEST(STRING_SPLIT(b.joined, ' ')) AS piece
        |         FROM best b WHERE rk = 1),
        |usage AS (SELECT s.piece, CAST(SUM(words.c) AS BIGINT) AS usage,
        |            CAST(COUNT(DISTINCT s.w) AS BIGINT) AS n_words
        |          FROM segs s JOIN words ON words.w = s.w
        |          GROUP BY s.piece)
        |SELECT piece, usage, n_words FROM usage
        |ORDER BY usage DESC, piece LIMIT 100""".stripMargin,

    // Round 2 replayed end to end: round-1 Viterbi → usage →
    // re-weighted pruned vocabulary → round-2 Viterbi → usage.
    "q330_unigram_em2" ->
      """WITH RECURSIVE
        |toks AS (SELECT UNNEST(STRING_SPLIT(LOWER(text),' ')) AS w
        |         FROM documents),
        |words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks
        |          WHERE w <> '' AND LENGTH(w) BETWEEN 2 AND 12 GROUP BY w),
        |subs AS (SELECT piece, freq FROM (
        |    SELECT SUBSTRING(w, i, l) AS piece, CAST(SUM(c) AS BIGINT) AS freq
        |    FROM words, generate_series(2, 4) gl(l), generate_series(1, 12) gi(i)
        |    WHERE i <= LENGTH(w) - l + 1
        |    GROUP BY 1 HAVING SUM(c) >= 2)
        |  ORDER BY freq DESC, piece LIMIT 200),
        |chars AS (SELECT SUBSTRING(w, i, 1) AS piece,
        |            CAST(SUM(c) AS BIGINT) AS freq
        |          FROM words, generate_series(1, 12) gi(i)
        |          WHERE i <= LENGTH(w) GROUP BY 1),
        |vocab AS (SELECT * FROM chars UNION ALL SELECT * FROM subs),
        |cand AS (SELECT w.w, gi.i AS pos, SUBSTRING(w.w, gi.i + 1, gl.l) AS sub,
        |           gl.l
        |         FROM words w, generate_series(0, 11) gi(i),
        |              generate_series(1, 4) gl(l)
        |         WHERE gi.i + gl.l <= LENGTH(w.w)),
        |hits AS (SELECT c.w, c.pos, c.l, v.piece, v.freq
        |         FROM cand c JOIN vocab v ON v.piece = c.sub),
        |p AS (
        |  SELECT w, 0 AS pos, 0 AS np, CAST(0 AS BIGINT) AS fs,
        |    '' AS joined FROM words
        |  UNION ALL
        |  SELECT p.w, p.pos + h.l, p.np + 1, p.fs + h.freq,
        |    CASE WHEN p.joined = '' THEN h.piece
        |         ELSE p.joined || ' ' || h.piece END
        |  FROM p JOIN hits h ON h.w = p.w AND h.pos = p.pos),
        |best AS (SELECT w, joined, ROW_NUMBER() OVER (PARTITION BY w
        |           ORDER BY np, fs DESC, joined) AS rk
        |         FROM p WHERE pos = LENGTH(w)),
        |segs AS (SELECT b.w, UNNEST(STRING_SPLIT(b.joined, ' ')) AS piece
        |         FROM best b WHERE rk = 1),
        |usage1 AS (SELECT s.piece, CAST(SUM(words.c) AS BIGINT) AS usage
        |           FROM segs s JOIN words ON words.w = s.w GROUP BY s.piece),
        |chars2 AS (SELECT c.piece, COALESCE(u.usage, 0) AS freq
        |           FROM chars c LEFT JOIN usage1 u ON u.piece = c.piece),
        |multi2 AS (SELECT piece, usage AS freq FROM usage1
        |           WHERE LENGTH(piece) >= 2
        |           ORDER BY usage DESC, piece LIMIT 20),
        |vocab2 AS (SELECT * FROM chars2 UNION ALL SELECT * FROM multi2),
        |hits2 AS (SELECT c.w, c.pos, c.l, v.piece, v.freq
        |          FROM cand c JOIN vocab2 v ON v.piece = c.sub),
        |p2 AS (
        |  SELECT w, 0 AS pos, 0 AS np, CAST(0 AS BIGINT) AS fs,
        |    '' AS joined FROM words
        |  UNION ALL
        |  SELECT p2.w, p2.pos + h.l, p2.np + 1, p2.fs + h.freq,
        |    CASE WHEN p2.joined = '' THEN h.piece
        |         ELSE p2.joined || ' ' || h.piece END
        |  FROM p2 JOIN hits2 h ON h.w = p2.w AND h.pos = p2.pos),
        |best2 AS (SELECT w, joined, ROW_NUMBER() OVER (PARTITION BY w
        |            ORDER BY np, fs DESC, joined) AS rk
        |          FROM p2 WHERE pos = LENGTH(w)),
        |segs2 AS (SELECT b.w, UNNEST(STRING_SPLIT(b.joined, ' ')) AS piece
        |          FROM best2 b WHERE rk = 1),
        |usage2 AS (SELECT s.piece, CAST(SUM(words.c) AS BIGINT) AS usage,
        |             CAST(COUNT(DISTINCT s.w) AS BIGINT) AS n_words
        |           FROM segs2 s JOIN words ON words.w = s.w GROUP BY s.piece)
        |SELECT piece, usage, n_words FROM usage2
        |ORDER BY usage DESC, piece LIMIT 100""".stripMargin,

    // The round-1 DP's piece counts per word, joined back to the
    // corpus tokens, rolled up per document in integer basis points.
    "q331_subword_quality" ->
      """WITH RECURSIVE
        |dtoks AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text),' ')) AS w
        |          FROM documents),
        |toks AS (SELECT doc_id, w FROM dtoks
        |         WHERE w <> '' AND LENGTH(w) BETWEEN 2 AND 12),
        |words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w),
        |subs AS (SELECT piece, freq FROM (
        |    SELECT SUBSTRING(w, i, l) AS piece, CAST(SUM(c) AS BIGINT) AS freq
        |    FROM words, generate_series(2, 4) gl(l), generate_series(1, 12) gi(i)
        |    WHERE i <= LENGTH(w) - l + 1
        |    GROUP BY 1 HAVING SUM(c) >= 2)
        |  ORDER BY freq DESC, piece LIMIT 200),
        |chars AS (SELECT SUBSTRING(w, i, 1) AS piece,
        |            CAST(SUM(c) AS BIGINT) AS freq
        |          FROM words, generate_series(1, 12) gi(i)
        |          WHERE i <= LENGTH(w) GROUP BY 1),
        |vocab AS (SELECT * FROM chars UNION ALL SELECT * FROM subs),
        |cand AS (SELECT w.w, gi.i AS pos, SUBSTRING(w.w, gi.i + 1, gl.l) AS sub,
        |           gl.l
        |         FROM words w, generate_series(0, 11) gi(i),
        |              generate_series(1, 4) gl(l)
        |         WHERE gi.i + gl.l <= LENGTH(w.w)),
        |hits AS (SELECT c.w, c.pos, c.l, v.piece, v.freq
        |         FROM cand c JOIN vocab v ON v.piece = c.sub),
        |p AS (
        |  SELECT w, 0 AS pos, 0 AS np, CAST(0 AS BIGINT) AS fs,
        |    '' AS joined FROM words
        |  UNION ALL
        |  SELECT p.w, p.pos + h.l, p.np + 1, p.fs + h.freq,
        |    CASE WHEN p.joined = '' THEN h.piece
        |         ELSE p.joined || ' ' || h.piece END
        |  FROM p JOIN hits h ON h.w = p.w AND h.pos = p.pos),
        |bestn AS (SELECT w, np FROM (
        |    SELECT w, np, ROW_NUMBER() OVER (PARTITION BY w
        |      ORDER BY np, fs DESC, joined) AS rk
        |    FROM p WHERE pos = LENGTH(w)) WHERE rk = 1)
        |SELECT t.doc_id,
        |  CAST(SUM(b.np) AS BIGINT) AS pieces,
        |  CAST(SUM(LENGTH(t.w)) AS BIGINT) AS chars,
        |  CAST(SUM(b.np) * 10000 // SUM(LENGTH(t.w)) AS BIGINT)
        |    AS compression_bp
        |FROM toks t JOIN bestn b ON b.w = t.w
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "q113_tfidf" ->
      """WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text),' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks WHERE w <> '' GROUP BY 1, 2),
        |dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (SELECT doc_id, w,
        |             ROUND(tf * LN((n + 1.0) / (df + 1.0)), 4) AS tfidf
        |           FROM tf JOIN dfreq USING (w) CROSS JOIN n),
        |ranked AS (SELECT doc_id, w, tfidf,
        |             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rk
        |           FROM scored)
        |SELECT doc_id, w, tfidf, CAST(rk AS BIGINT) AS rk FROM ranked
        |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,

    "q114_inverted_index" ->
      """WITH dw AS (SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text),' ')) AS w FROM documents)
        |  WHERE w <> '')
        |SELECT w, COUNT(*) AS n_docs,
        |  ARRAY_TO_STRING(LIST_SORT(LIST(doc_id))[1:20], ',') AS postings
        |FROM dw GROUP BY w HAVING COUNT(*) >= 5 ORDER BY w LIMIT 300""".stripMargin,

    "q116_cube" ->
      """SELECT COALESCE(o_orderstatus,'') AS status, COALESCE(o_orderpriority,'') AS prio,
        |CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
        |COUNT(*) AS n, ROUND(SUM(o_totalprice),4) AS rev
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, prio""".stripMargin,

    "q117_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |ROUND(SUM(o_totalprice) OVER w, 4) AS spend_90d,
        |COUNT(*) OVER w AS n_90d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |             RANGE BETWEEN INTERVAL 90 DAY PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q118_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sp FROM lineitem),
        |e AS (SELECT 2*p AS src, 2*sp+1 AS dst FROM pairs
        |      UNION ALL SELECT 2*sp+1, 2*p FROM pairs),
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |r0 AS (SELECT node, 1.0 AS r FROM n),
        |c1 AS (SELECT e.dst AS node, SUM(r0.r / deg.d) AS m
        |       FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
        |r1 AS (SELECT n.node, 0.15 + 0.85 * COALESCE(c1.m, 0) AS r
        |       FROM n LEFT JOIN c1 USING (node)),
        |c2 AS (SELECT e.dst AS node, SUM(r1.r / deg.d) AS m
        |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
        |r2 AS (SELECT n.node, 0.15 + 0.85 * COALESCE(c2.m, 0) AS r
        |       FROM n LEFT JOIN c2 USING (node)),
        |c3 AS (SELECT e.dst AS node, SUM(r2.r / deg.d) AS m
        |       FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
        |r3 AS (SELECT n.node, 0.15 + 0.85 * COALESCE(c3.m, 0) AS r
        |       FROM n LEFT JOIN c3 USING (node))
        |SELECT node, ROUND(r, 4) AS rank FROM r3
        |ORDER BY rank DESC, node LIMIT 50""".stripMargin,

    // Two unrolled Lloyd rounds: assignment = argmax cosine with ties
    // to the lower centroid index; update = element-wise mean
    // (generate_series + positional AVG — DuckDB generate_series
    // can't take a lateral bound, hence cap 4096 + WHERE);
    // empty clusters keep their seed via the list-level COALESCE.
    "q119_kmeans" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v FROM e WHERE vec_id < 8),
        |a1 AS (SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN c0 c) WHERE rn = 1),
        |m1 AS (SELECT cid, t.i, AVG(v[t.i]) AS mv
        |       FROM e JOIN a1 USING (vec_id), generate_series(1, 4096) t(i)
        |       WHERE t.i <= len(v) GROUP BY cid, t.i),
        |c1 AS (SELECT c0.cid, COALESCE(ml.v, c0.v) AS v FROM c0
        |       LEFT JOIN (SELECT cid, LIST(mv ORDER BY i) AS v FROM m1 GROUP BY cid) ml USING (cid)),
        |a2 AS (SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN c1 c) WHERE rn = 1),
        |m2 AS (SELECT cid, t.i, AVG(v[t.i]) AS mv
        |       FROM e JOIN a2 USING (vec_id), generate_series(1, 4096) t(i)
        |       WHERE t.i <= len(v) GROUP BY cid, t.i),
        |c2 AS (SELECT c0.cid, COALESCE(ml.v, c0.v) AS v FROM c0
        |       LEFT JOIN (SELECT cid, LIST(mv ORDER BY i) AS v FROM m2 GROUP BY cid) ml USING (cid)),
        |a3 AS (SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cid) AS rn
        |    FROM e CROSS JOIN c2 c) WHERE rn = 1)
        |SELECT CAST(a3.cid AS INTEGER) AS cluster, COUNT(*) AS n,
        |  ROUND(AVG(list_sum(e.v)), 4) AS mean_sum
        |FROM e JOIN a3 USING (vec_id) GROUP BY 1 ORDER BY cluster""".stripMargin,

    "q115_pmi" ->
      """WITH dw AS (SELECT DISTINCT doc_id, w FROM (
        |    SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text),' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |vocab AS (SELECT w, COUNT(*) AS cx FROM dw GROUP BY w
        |          ORDER BY cx DESC, w LIMIT 100),
        |dv AS (SELECT dw.doc_id, dw.w, vocab.cx FROM dw JOIN vocab USING (w)),
        |p AS (SELECT a.w AS w1, b.w AS w2, a.cx AS cx1, b.cx AS cx2, COUNT(*) AS cxy
        |      FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.w < b.w
        |      GROUP BY 1, 2, 3, 4),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT w1, w2, cxy,
        |  ROUND(LN(cxy * n * 1.0 / (cx1 * cx2)), 4) AS pmi
        |FROM p CROSS JOIN n WHERE cxy >= 10
        |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin,

    "q120_gapfill" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |               FROM events WHERE user_id < 40 GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
        |spine AS (SELECT user_id, d0 + CAST(t.i AS INTEGER) AS day
        |          FROM span, generate_series(0, 5000) t(i)
        |          WHERE d0 + CAST(t.i AS INTEGER) <= d1)
        |SELECT s.user_id, s.day, CAST(COALESCE(daily.n, 0) AS BIGINT) AS n
        |FROM spine s LEFT JOIN daily ON daily.user_id = s.user_id AND daily.day = s.day
        |ORDER BY s.user_id, s.day""".stripMargin,

    // The identical base-263 window hash as winnowFpCte (direct-sum
    // formulation — no rolling subtraction, so every term stays
    // < 2^52 and the sum < 2^55, exact in BIGINT), cut where
    // hv % 64 = 0; a cut landing exactly at length(text) is folded
    // by the UNION's dedup, zero-length docs contribute no chunk.
    "q121_cdc_dedup" -> {
      val p = (1L << 31) - 1
      val pows = Array.iterate(1L, 8)(x => x * 263 % p).reverse
      val terms = (0 until 8)
        .map(j => s"CAST(ord(substring(text, i + $j, 1)) AS BIGINT) * ${pows(j)}")
        .mkString(" + ")
      s"""WITH h AS (SELECT doc_id, i, ($terms) % $p AS hv
         |  FROM documents, generate_series(1, 2000) t(i)
         |  WHERE i <= length(text) - 7),
         |cuts AS (SELECT doc_id, i + 7 AS ep FROM h WHERE hv % 64 = 0),
         |b AS (SELECT doc_id, ep FROM cuts UNION
         |      SELECT doc_id, CAST(length(text) AS BIGINT) AS ep FROM documents
         |      WHERE length(text) > 0),
         |ch AS (SELECT doc_id,
         |         COALESCE(LAG(ep) OVER (PARTITION BY doc_id ORDER BY ep), 0) AS s,
         |         ep AS e
         |       FROM b),
         |chunks AS (SELECT MD5(SUBSTRING(d.text, CAST(ch.s + 1 AS INTEGER),
         |                    CAST(ch.e - ch.s AS INTEGER))) AS hh
         |           FROM ch JOIN documents d USING (doc_id))
         |SELECT COUNT(*) AS total_chunks, COUNT(DISTINCT hh) AS uniq_chunks,
         |  ROUND(1 - COUNT(DISTINCT hh) * 1.0 / COUNT(*), 4) AS dup_ratio
         |FROM chunks""".stripMargin
    },

    "q122_triangles" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM lp x JOIN lp y
        |      ON x.o = y.o AND x.p < y.p)
        |SELECT COUNT(*) AS n_triangles
        |FROM e e1 JOIN e e2 ON e1.b = e2.a
        |          JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b""".stripMargin,

    "q123_zorder" -> {
      val terms = (0 until 21).flatMap(j => Seq(
        s"(((l_partkey >> $j) & 1) << ${2 * j})",
        s"(((l_suppkey >> $j) & 1) << ${2 * j + 1})")).mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |CAST($terms AS BIGINT) AS z
         |FROM lineitem ORDER BY z DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin
    },

    "q124_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(o_totalprice),4) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q125_transitions" ->
      """WITH pr AS (SELECT event_type AS cur,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |p AS (SELECT prev, cur, COUNT(*) AS n FROM pr
        |      WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, cur, n,
        |  ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY prev), 4) AS p
        |FROM p ORDER BY prev, cur""".stripMargin,

    "q126_decimal_money" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           (1 - CAST(l_discount AS DECIMAL(3,2)))) * 10000 AS BIGINT) AS revenue_e4,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // DuckDB dayofweek() is Postgres dow (0 = Sunday); Spark's
    // dayofweek() is 1 = Sunday — the predicates below pick the same
    // day on each side.
    "q127_conditional_agg" ->
      """SELECT event_type, COUNT(*) AS n_all,
        |  COUNT(*) FILTER (WHERE value > 100) AS n_big,
        |  ROUND(SUM(value) FILTER (WHERE value > 100), 4) AS sum_big,
        |  COUNT(DISTINCT user_id) FILTER (WHERE dayofweek(ts) = 0) AS sunday_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q128_bm25" ->
      """WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text),' ')) AS w
        |              FROM documents),
        |tk AS (SELECT doc_id, w FROM toks WHERE w <> ''),
        |lens AS (SELECT doc_id, COUNT(*) AS len FROM tk GROUP BY 1),
        |stats AS (SELECT AVG(len) AS avglen,
        |            (SELECT COUNT(*) FROM documents) AS n FROM lens),
        |tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tk
        |       WHERE w IN ('table','fast','batch') GROUP BY 1, 2),
        |dfq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id,
        |    LN((n - df + 0.5) / (df + 0.5) + 1.0) * tf * (1.2 + 1.0) /
        |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * len / avglen)) AS s
        |  FROM tf JOIN dfq USING (w) JOIN lens USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, ROUND(SUM(s), 4) AS bm25 FROM sc
        |GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin,

    "q129_scd2" ->
      """WITH o AS (SELECT o_custkey, o_orderstatus AS status, o_orderdate, o_orderkey,
        |    LAG(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |ch AS (SELECT o_custkey, status, o_orderdate AS valid_from, o_orderkey
        |       FROM o WHERE prev IS NULL OR prev <> status)
        |SELECT o_custkey, status, valid_from, o_orderkey,
        |  LEAD(valid_from) OVER (PARTITION BY o_custkey
        |    ORDER BY valid_from, o_orderkey) AS valid_to
        |FROM ch ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,

    "q130_sessionize" ->
      """WITH g AS (SELECT user_id, event_id, ts, value,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (SELECT user_id, ts, value,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dur_us,
        |  ROUND(SUM(value), 4) AS sum_value
        |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,

    "q131_basket_pairs" ->
      """SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |  CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2
        |ORDER BY n_orders DESC, p1, p2 LIMIT 100""".stripMargin,

    "q132_regression" ->
      """SELECT n_name,
        |  CAST(regr_count(y, x) AS BIGINT) AS n,
        |  ROUND(regr_slope(y, x), 4) AS slope,
        |  ROUND(regr_intercept(y, x), 4) AS icept,
        |  ROUND(regr_r2(y, x), 4) AS r2
        |FROM (SELECT n_name,
        |        epoch_us(o_orderdate) / 86400000000.0 AS x,
        |        o_totalprice AS y
        |      FROM orders
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation ON c_nationkey = n_nationkey)
        |GROUP BY 1 ORDER BY n_name""".stripMargin,

    "q133_entropy_kl" ->
      """WITH toks AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w
        |              FROM documents),
        |tk AS (SELECT doc_id, w FROM toks WHERE w <> ''),
        |tf AS (SELECT doc_id, w, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |tn AS (SELECT doc_id, w, c,
        |         CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n FROM tf),
        |corpus AS (SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cw) AS BIGINT) AS tot FROM corpus),
        |pq AS (SELECT doc_id,
        |         CAST(c AS DOUBLE) / n AS p,
        |         CAST(cw AS DOUBLE) / tot AS q
        |       FROM tn JOIN corpus USING (w) CROSS JOIN tot)
        |SELECT doc_id,
        |  ROUND(SUM(-(p * LOG2(p))) + 0.0, 4) AS entropy,
        |  ROUND(SUM(p * LOG2(p / q)) + 0.0, 4) AS kl
        |FROM pq GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q134_allocation" ->
      """WITH lw AS (SELECT l_orderkey AS ok, l_linenumber AS ln,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS w FROM lineitem),
        |ow AS (SELECT o_orderkey AS ok,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS t FROM orders),
        |j AS (SELECT lw.ok, ln, w, t,
        |    CAST(SUM(w) OVER (PARTITION BY lw.ok) AS BIGINT) AS wsum
        |  FROM lw JOIN ow ON lw.ok = ow.ok),
        |b AS (SELECT ok, ln, t,
        |    CAST((t * w) // wsum AS BIGINT) AS base,
        |    CAST((t * w) % wsum AS BIGINT) AS r FROM j),
        |c AS (SELECT ok, ln, base,
        |    t - CAST(SUM(base) OVER (PARTITION BY ok) AS BIGINT) AS rem,
        |    ROW_NUMBER() OVER (PARTITION BY ok ORDER BY r DESC, ln) AS rn
        |  FROM b)
        |SELECT ok, ln,
        |  CAST(base + CASE WHEN rn <= rem THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc_cents
        |FROM c ORDER BY ok, ln, alloc_cents""".stripMargin,

    "q135_interpolate" ->
      """WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |      CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
        |        / (100.0 * CAST(COUNT(*) AS DOUBLE)) AS v
        |    FROM events WHERE user_id < 40 GROUP BY 1, 2),
        |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
        |spine AS (SELECT user_id, d0 + CAST(t.i AS INTEGER) AS day
        |          FROM span, generate_series(0, 5000) t(i)
        |          WHERE d0 + CAST(t.i AS INTEGER) <= d1),
        |j AS (SELECT s.user_id, s.day, daily.v
        |      FROM spine s LEFT JOIN daily
        |        ON daily.user_id = s.user_id AND daily.day = s.day),
        |a AS (SELECT user_id, day, v,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wp AS pd,
        |    last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
        |      OVER wp AS pv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wn AS nd,
        |    first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
        |      OVER wn AS nv
        |  FROM j
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wn AS (PARTITION BY user_id ORDER BY day
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, day,
        |  CASE WHEN v IS NOT NULL THEN v
        |       ELSE pv + (nv - pv) * CAST(date_diff('day', pd, day) AS DOUBLE)
        |              / CAST(date_diff('day', pd, nd) AS DOUBLE) END
        |    AS v_filled
        |FROM a ORDER BY user_id, day""".stripMargin,

    "q136_cdc_compact" ->
      """WITH r AS (SELECT user_id, event_type, value, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, ROUND(value, 4) AS value, event_id
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    "q137_item_cosine" ->
      """WITH cp AS (SELECT o_custkey AS ck, l_partkey AS pk, COUNT(*) AS c
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |    GROUP BY 1, 2),
        |f AS (SELECT ck, pk, c FROM
        |    (SELECT ck, pk, c, COUNT(*) OVER (PARTITION BY ck) AS np FROM cp)
        |  WHERE np <= 100),
        |d AS (SELECT a.pk AS p1, b.pk AS p2,
        |        CAST(SUM(a.c * b.c) AS BIGINT) AS dot,
        |        CAST(COUNT(*) AS BIGINT) AS n_common
        |      FROM f a JOIN f b ON a.ck = b.ck AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |nrm AS (SELECT pk, CAST(SUM(c * c) AS BIGINT) AS sq FROM f GROUP BY 1)
        |SELECT p1, p2, n_common,
        |  ROUND(CAST(dot AS DOUBLE) /
        |    SQRT(CAST(n1.sq AS DOUBLE) * CAST(n2.sq AS DOUBLE)), 4) AS cos
        |FROM d JOIN nrm n1 ON d.p1 = n1.pk JOIN nrm n2 ON d.p2 = n2.pk
        |ORDER BY cos DESC, p1, p2 LIMIT 100""".stripMargin,

    "q138_bfs" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        |  FROM lineitem x JOIN lineitem y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
        |walk(node, dist) AS (
        |  SELECT CAST(0 AS BIGINT), 0
        |  UNION
        |  SELECT e.b, w.dist + 1
        |  FROM walk w JOIN edges e ON e.a = w.node WHERE w.dist < 3)
        |SELECT node, MIN(dist) AS dist FROM walk
        |GROUP BY 1 ORDER BY dist, node""".stripMargin,

    "q139_histogram" ->
      """WITH s AS (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
        |           FROM orders)
        |SELECT o_orderpriority AS prio,
        |  CAST(LEAST(FLOOR((o_totalprice - mn) * 20.0 / (mx - mn)), 19)
        |    AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders CROSS JOIN s
        |GROUP BY 1, 2 ORDER BY prio, bin""".stripMargin,

    "q140_cohort_matrix" ->
      """WITH um AS (SELECT DISTINCT user_id,
        |      CAST(DATE_TRUNC('week', CAST(ts AS DATE)) AS DATE) AS m
        |    FROM events),
        |c AS (SELECT user_id, m,
        |      MIN(m) OVER (PARTITION BY user_id) AS cohort FROM um)
        |SELECT cohort, CAST(date_diff('day', cohort, m) / 7 AS INTEGER) AS m_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM c GROUP BY 1, 2 ORDER BY cohort, m_offset""".stripMargin,

    "q141_profile" ->
      """WITH m AS (SELECT
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn1,
        |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd1,
        |    CAST(MIN(o_custkey) AS DOUBLE) AS mn1,
        |    CAST(MAX(o_custkey) AS DOUBLE) AS mx1,
        |    CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn2,
        |    CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd2,
        |    CAST(MIN(o_totalprice) AS DOUBLE) AS mn2,
        |    CAST(MAX(o_totalprice) AS DOUBLE) AS mx2,
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn3,
        |    CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd3,
        |    MIN(o_orderstatus) AS ms3, MAX(o_orderstatus) AS mxs3,
        |    CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn4,
        |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd4,
        |    MIN(o_orderpriority) AS ms4, MAX(o_orderpriority) AS mxs4
        |  FROM orders)
        |SELECT 'o_custkey' AS col_name, nn1 AS n_nulls, nd1 AS n_distinct,
        |  mn1 AS min_num, mx1 AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |FROM m
        |UNION ALL SELECT 'o_totalprice', nn2, nd2, mn2, mx2, NULL, NULL FROM m
        |UNION ALL SELECT 'o_orderstatus', nn3, nd3, NULL, NULL, ms3, mxs3 FROM m
        |UNION ALL SELECT 'o_orderpriority', nn4, nd4, NULL, NULL, ms4, mxs4 FROM m
        |ORDER BY col_name""".stripMargin,

    "q142_weighted_median" ->
      """WITH w AS (SELECT o_orderkey, o_custkey, o_totalprice, COUNT(*) AS wt
        |    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |    GROUP BY 1, 2, 3),
        |j AS (SELECT n_name, o_totalprice AS x, wt, o_orderkey
        |      FROM w JOIN customer ON o_custkey = c_custkey
        |      JOIN nation ON c_nationkey = n_nationkey),
        |c AS (SELECT n_name, x,
        |    CAST(SUM(wt) OVER (PARTITION BY n_name
        |      ORDER BY x, o_orderkey) AS BIGINT) AS cum,
        |    CAST(SUM(wt) OVER (PARTITION BY n_name) AS BIGINT) AS tot
        |  FROM j)
        |SELECT n_name, MIN(x) AS w_median FROM c WHERE cum * 2 >= tot
        |GROUP BY 1 ORDER BY n_name""".stripMargin,

    "q143_follows_pairs" ->
      """WITH e0 AS (SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
        |      COUNT(*) OVER (PARTITION BY user_id) AS ne FROM events),
        |e AS (SELECT user_id, event_type, tus, event_id FROM e0 WHERE ne <= 1000)
        |SELECT a.event_type AS ta, b.event_type AS tb,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND (a.tus < b.tus OR (a.tus = b.tus AND a.event_id < b.event_id))
        |GROUP BY 1, 2 ORDER BY ta, tb""".stripMargin,

    "q144_revenue_share" ->
      """WITH rev AS (SELECT r_name, n_name,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name,
        |  ROUND(CAST(cents AS DOUBLE) /
        |    CAST(CAST(SUM(cents) OVER (PARTITION BY r_name) AS BIGINT)
        |      AS DOUBLE), 4) AS share,
        |  CAST(RANK() OVER (PARTITION BY r_name ORDER BY cents DESC, n_name)
        |    AS INTEGER) AS rnk
        |FROM rev ORDER BY r_name, rnk, n_name""".stripMargin,

    "q145_fk_orphans" ->
      """SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
        |  CAST(COUNT(*) AS BIGINT) AS n_orphans
        |FROM lineitem WHERE l_orderkey IS NOT NULL AND NOT EXISTS
        |  (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |UNION ALL SELECT 'lineitem.l_partkey->part', CAST(COUNT(*) AS BIGINT)
        |FROM lineitem WHERE l_partkey IS NOT NULL AND NOT EXISTS
        |  (SELECT 1 FROM part WHERE p_partkey = l_partkey)
        |UNION ALL SELECT 'orders.o_custkey->customer', CAST(COUNT(*) AS BIGINT)
        |FROM orders WHERE o_custkey IS NOT NULL AND NOT EXISTS
        |  (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |UNION ALL SELECT 'customer.c_nationkey->nation', CAST(COUNT(*) AS BIGINT)
        |FROM customer WHERE c_nationkey IS NOT NULL AND NOT EXISTS
        |  (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
        |UNION ALL SELECT 'nation.n_regionkey->region', CAST(COUNT(*) AS BIGINT)
        |FROM nation WHERE n_regionkey IS NOT NULL AND NOT EXISTS
        |  (SELECT 1 FROM region WHERE r_regionkey = n_regionkey)
        |ORDER BY fk_edge""".stripMargin,

    "q146_jw_names" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |t AS (SELECT p_name, STRING_SPLIT(p_name, ' ')[-1] AS blk FROM names)
        |SELECT a.p_name AS n1, b.p_name AS n2,
        |  ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
        |FROM t a JOIN t b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 4) >= 0.8
        |ORDER BY jw DESC, n1, n2 LIMIT 100""".stripMargin,

    "q147_bigram_ppl" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS l
        |           FROM documents),
        |tk0 AS (SELECT doc_id, UNNEST(l) AS w,
        |          UNNEST(range(1, LEN(l) + 1)) AS pos FROM t),
        |tk AS (SELECT doc_id, w, pos FROM tk0 WHERE w <> ''),
        |bg0 AS (SELECT doc_id, w AS w1,
        |          LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2 FROM tk),
        |bg AS (SELECT doc_id, w1, w2 FROM bg0 WHERE w2 IS NOT NULL),
        |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM tk GROUP BY 1),
        |v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM tk)
        |SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  ROUND(AVG(-LOG2(CAST(c2.c2 + 1 AS DOUBLE)
        |    / CAST(c1.c1 + v.v AS DOUBLE))), 4) AS ppl_bits
        |FROM bg JOIN c2 USING (w1, w2) JOIN c1 ON c1.w = bg.w1 CROSS JOIN v
        |GROUP BY 1 ORDER BY bg.doc_id""".stripMargin,

    "q148_dedup_keep" ->
      """WITH RECURSIVE
        |tok AS (SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |      FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws)-2),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |p0 AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
        |       FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (SELECT id1, id2
        |       FROM p0 JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
        |       WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5),
        |e AS (SELECT id1 AS a, id2 AS b FROM jp UNION SELECT id2, id1 FROM jp),
        |reach AS (SELECT a, b FROM e
        |          UNION
        |          SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp_id FROM reach GROUP BY a)
        |SELECT d.doc_id, COALESCE(c.comp_id, d.doc_id) AS rep_id,
        |  CASE WHEN COALESCE(c.comp_id, d.doc_id) <> d.doc_id THEN 1 ELSE 0 END
        |    AS is_dup
        |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q149_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang FROM documents ORDER BY doc_id""".stripMargin,

    "q150_setsim_pairs" ->
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws
        |             FROM documents),
        |tk AS (SELECT DISTINCT doc_id,
        |         ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |       FROM tok, generate_series(1, 2000) t(i)
        |       WHERE i <= len(ws) - 2),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tk GROUP BY 1),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |        CAST(COUNT(*) AS BIGINT) AS inter
        |      FROM tk a JOIN tk b ON a.g = b.g AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT id1, id2, inter, sa.n AS n1, sb.n AS n2,
        |  ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
        |FROM p JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
        |WHERE inter * 2 >= sa.n + sb.n - inter
        |ORDER BY id1, id2""".stripMargin,

    "q151_time_to_convert" ->
      """WITH f AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
        |  FROM events GROUP BY 1),
        |d AS (SELECT (p - v) // 1000000 AS dur_s FROM f
        |      WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_converts,
        |  ROUND(quantile_cont(dur_s, 0.5), 4) AS p50_s,
        |  ROUND(quantile_cont(dur_s, 0.9), 4) AS p90_s
        |FROM d""".stripMargin,

    "q152_wow_growth" ->
      """WITH wk AS (SELECT event_type,
        |    CAST(DATE_TRUNC('week', CAST(ts AS DATE)) AS DATE) AS wk,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, wk, n,
        |    LAG(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev
        |  FROM wk)
        |SELECT event_type, wk, n,
        |  ROUND((n - prev) * 100.0 / prev, 4) AS pct_change
        |FROM l ORDER BY event_type, wk""".stripMargin,

    "q153_dense_rank_ties" ->
      """WITH rev AS (SELECT n_name, l_partkey,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY 1, 2),
        |r AS (SELECT n_name, l_partkey, cents,
        |    CAST(DENSE_RANK() OVER (PARTITION BY n_name ORDER BY cents DESC)
        |      AS INTEGER) AS rnk
        |  FROM rev)
        |SELECT n_name, l_partkey, cents, rnk FROM r WHERE rnk <= 2
        |ORDER BY n_name, rnk, l_partkey""".stripMargin,

    "q154_since_marker" ->
      """WITH s AS (SELECT user_id, event_id, ts,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
        |      AS seg
        |  FROM events)
        |SELECT user_id, event_id,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id, seg
        |      ORDER BY ts, event_id)
        |    - CASE WHEN seg > 0 THEN 1 ELSE 0 END AS INTEGER) AS n_since
        |FROM s ORDER BY user_id, event_id""".stripMargin,

    "q155_reconcile" ->
      """WITH lines AS (SELECT l_orderkey AS ok,
        |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS line_cents
        |  FROM lineitem GROUP BY 1),
        |d AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT)
        |        - COALESCE(line_cents, 0) AS delta
        |      FROM orders LEFT JOIN lines ON lines.ok = o_orderkey)
        |SELECT CASE WHEN delta > 0 THEN 'header_gt'
        |            WHEN delta < 0 THEN 'lines_gt'
        |            ELSE 'exact' END AS cls,
        |  CAST(COUNT(*) AS BIGINT) AS n, MIN(delta) AS min_delta,
        |  MAX(delta) AS max_delta, CAST(SUM(delta) AS BIGINT) AS sum_delta
        |FROM d GROUP BY 1 ORDER BY cls""".stripMargin,

    "q156_mad" ->
      """WITH x AS (SELECT n_name,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) * 2 AS hc
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |med AS (SELECT n_name, quantile_cont(hc, 0.5) AS m FROM x GROUP BY 1),
        |a AS (SELECT x.n_name, ABS(hc - m) AS ad
        |      FROM x JOIN med ON x.n_name = med.n_name)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
        |  quantile_cont(ad, 0.5) / 200.0 AS mad
        |FROM a GROUP BY 1 ORDER BY n_name""".stripMargin,

    "q157_cumulative_users" ->
      """WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        |           FROM events GROUP BY 1),
        |daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new
        |          FROM f GROUP BY 1)
        |SELECT day, n_new,
        |  CAST(SUM(n_new) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM daily ORDER BY day""".stripMargin,

    "q158_session_conversion" ->
      """WITH g AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (SELECT user_id, event_type,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS BIGINT) AS sid
        |  FROM g),
        |per AS (SELECT user_id, sid,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM sess GROUP BY 1, 2)
        |SELECT sid AS session_ordinal, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(converted) AS BIGINT) AS n_converted
        |FROM per GROUP BY 1 ORDER BY session_ordinal""".stripMargin,

    "q159_weekly_bands" ->
      """WITH t AS (SELECT
        |    CAST(DATE_TRUNC('week', CAST(o_orderdate AS DATE)) AS DATE) AS wk,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT wk, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(quantile_cont(cents, 0.5), 4) AS p50_cents,
        |  ROUND(quantile_cont(cents, 0.9), 4) AS p90_cents
        |FROM t GROUP BY 1 ORDER BY wk""".stripMargin,

    "q160_schema_evolution" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id < 250 THEN lang ELSE NULL END AS lang,
        |  CASE WHEN doc_id >= 250 THEN source ELSE NULL END AS source
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q161_cascade_delete" ->
      """WITH delc AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0),
        |dro AS (SELECT o_orderkey FROM orders
        |        WHERE o_custkey IN (SELECT c_custkey FROM delc)),
        |drl AS (SELECT l_orderkey FROM lineitem
        |        WHERE l_orderkey IN (SELECT o_orderkey FROM dro))
        |SELECT 'customer' AS tbl,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM delc) AS n_dropped,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_total
        |UNION ALL SELECT 'lineitem',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM drl),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)
        |UNION ALL SELECT 'orders',
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dro),
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
        |ORDER BY tbl""".stripMargin,

    "q162_snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |v1 AS (SELECT k, v FROM base WHERE k % 7 <> 0),
        |v2 AS (SELECT k, v + CASE WHEN k % 3 = 0 THEN 100 ELSE 0 END AS v
        |       FROM base WHERE k % 5 <> 0),
        |j AS (SELECT COALESCE(v1.k, v2.k) AS k, v1.v AS a, v2.v AS b
        |      FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k)
        |SELECT CASE WHEN a IS NULL THEN 'added'
        |            WHEN b IS NULL THEN 'removed'
        |            WHEN a <> b THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM j GROUP BY 1 ORDER BY status""".stripMargin,

    "q163_bag_setops" ->
      """WITH a AS (SELECT o_custkey AS k FROM orders),
        |b AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
        |ia AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_inter
        |       FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
        |       GROUP BY 1),
        |ea AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_except
        |       FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
        |       GROUP BY 1)
        |SELECT COALESCE(ia.k, ea.k) AS k,
        |  COALESCE(n_inter, 0) AS n_inter,
        |  COALESCE(n_except, 0) AS n_except
        |FROM ia FULL OUTER JOIN ea ON ia.k = ea.k
        |ORDER BY k""".stripMargin,

    "q164_explode_outer" ->
      """WITH t AS (SELECT doc_id,
        |    LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
        |                w -> LEN(w) >= 12) AS l
        |  FROM documents),
        |e AS (SELECT doc_id,
        |    UNNEST(CASE WHEN LEN(l) = 0
        |           THEN CAST([NULL] AS VARCHAR[]) ELSE l END) AS w
        |  FROM t)
        |SELECT doc_id, CAST(COUNT(w) AS BIGINT) AS n_long_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM e GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q165_hierarchy_share" ->
      """WITH base AS (SELECT r_name, n_name,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey),
        |gs AS (SELECT r_name, n_name, CAST(SUM(cents) AS BIGINT) AS cents
        |       FROM base GROUP BY 1, 2),
        |r AS (SELECT r_name, CAST(SUM(cents) AS BIGINT) AS r_cents
        |      FROM gs GROUP BY 1)
        |SELECT gs.r_name, n_name, cents,
        |  ROUND(CAST(cents AS DOUBLE) / CAST(r_cents AS DOUBLE), 4)
        |    AS share_of_region
        |FROM gs JOIN r ON gs.r_name = r.r_name
        |ORDER BY gs.r_name, n_name""".stripMargin,

    "q166_array_algebra" ->
      """WITH h AS (SELECT DISTINCT user_id, event_type,
        |    CASE WHEN DAY(ts) <= 15 THEN 1 ELSE 2 END AS half FROM events),
        |t AS (SELECT user_id, event_type,
        |    MAX(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS in1,
        |    MAX(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS in2
        |  FROM h GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(SUM(in1) AS BIGINT) AS n_first,
        |  CAST(SUM(in2) AS BIGINT) AS n_second,
        |  CAST(SUM(in1 * in2) AS BIGINT) AS n_both,
        |  CAST(COUNT(*) AS BIGINT) AS n_any
        |FROM t GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q167_extract_numbers" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(text, '[0-9]+', 0) AS l FROM documents),
        |e AS (SELECT doc_id,
        |    UNNEST(CASE WHEN LEN(l) = 0
        |           THEN CAST([NULL] AS VARCHAR[]) ELSE l END) AS num
        |  FROM t)
        |SELECT doc_id, CAST(COUNT(num) AS BIGINT) AS n_numbers,
        |  COALESCE(CAST(SUM(TRY_CAST(num AS BIGINT)) AS BIGINT), 0)
        |    AS num_sum
        |FROM e GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "q168_curation_v4" ->
      """WITH RECURSIVE
        |tk0 AS (SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w
        |        FROM documents),
        |tkw AS (SELECT doc_id, w FROM tk0 WHERE w <> ''),
        |tf AS (SELECT doc_id, w, COUNT(*) AS c FROM tkw GROUP BY 1, 2),
        |tn AS (SELECT doc_id, c,
        |         CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        |       FROM tf),
        |ent AS (SELECT doc_id,
        |    ROUND(SUM(-((CAST(c AS DOUBLE) / n)
        |      * LOG2(CAST(c AS DOUBLE) / n))) + 0.0, 4) AS entropy
        |  FROM tn GROUP BY doc_id),
        |gated AS (SELECT d.doc_id, d.text, e.entropy
        |          FROM documents d JOIN ent e ON d.doc_id = e.doc_id
        |          WHERE e.entropy >= 3.5),
        |tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM gated),
        |g AS (SELECT DISTINCT doc_id,
        |        ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |      FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws)-2),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
        |p0 AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
        |       FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |jp AS (SELECT id1, id2
        |       FROM p0 JOIN sz sa ON sa.doc_id = id1
        |       JOIN sz sb ON sb.doc_id = id2
        |       WHERE inter * 2 >= sa.n + sb.n - inter),
        |e2 AS (SELECT id1 AS a, id2 AS b FROM jp
        |       UNION SELECT id2, id1 FROM jp),
        |reach AS (SELECT a, b FROM e2
        |          UNION
        |          SELECT r.a, e3.b FROM reach r JOIN e2 e3 ON r.b = e3.a),
        |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp_id
        |         FROM reach GROUP BY a)
        |SELECT gd.doc_id, gd.entropy
        |FROM gated gd LEFT JOIN comp c ON c.id = gd.doc_id
        |WHERE c.comp_id IS NULL OR c.comp_id = gd.doc_id
        |ORDER BY gd.doc_id""".stripMargin,

    "q169_partition_prune" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q170_csv_roundtrip" ->
      """SELECT doc_id, lang, text FROM documents ORDER BY doc_id""".stripMargin,

    "q171_scd2_lookup" ->
      """WITH o AS (SELECT o_custkey, o_orderstatus AS status, o_orderdate,
        |    o_orderkey,
        |    LAG(o_orderstatus) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS prev
        |  FROM orders),
        |ch AS (SELECT o_custkey, status, o_orderdate AS valid_from, o_orderkey
        |       FROM o WHERE prev IS NULL OR prev <> status),
        |iv AS (SELECT o_custkey, status AS dim_status, valid_from AS vf,
        |    COALESCE(LEAD(valid_from) OVER (PARTITION BY o_custkey
        |      ORDER BY valid_from, o_orderkey),
        |      TIMESTAMP '2002-01-01') AS vt
        |  FROM ch),
        |j AS (SELECT ord.o_orderstatus AS order_status, iv.dim_status
        |      FROM orders ord JOIN iv ON ord.o_custkey = iv.o_custkey
        |        AND ord.o_orderdate >= iv.vf AND ord.o_orderdate < iv.vt)
        |SELECT order_status, dim_status, CAST(COUNT(*) AS BIGINT) AS n
        |FROM j GROUP BY 1, 2 ORDER BY order_status, dim_status""".stripMargin,

    "q172_session_window" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
        |  FROM g)
        |SELECT user_id, MIN(epoch_us(ts)) AS start_us,
        |  MAX(epoch_us(ts)) AS last_us, CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    "q173_union_by_name" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id < 250 THEN lang END AS lang,
        |  CASE WHEN doc_id >= 250 THEN source END AS source,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q174_quartiles" ->
      """WITH t AS (SELECT o_orderpriority AS prio,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |q AS (SELECT prio, quantile_cont(cents, [0.25, 0.5, 0.75]) AS qs
        |      FROM t GROUP BY 1),
        |e AS (SELECT prio, UNNEST(qs) AS v,
        |        UNNEST(range(1, 4)) AS quartile FROM q)
        |SELECT prio, CAST(quartile AS INTEGER) AS quartile,
        |  ROUND(v, 4) AS v
        |FROM e ORDER BY prio, quartile""".stripMargin,

    "q175_bit_aggs" ->
      """WITH m AS (SELECT user_id,
        |    CAST(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
        |         WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
        |         ELSE 16 END AS BIGINT) AS m
        |  FROM events)
        |SELECT user_id, CAST(BIT_OR(m) AS BIGINT) AS any_of,
        |  CAST(BIT_AND(m) AS BIGINT) AS all_of,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM m GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q176_correlated_subquery" ->
      """SELECT c_custkey, c_mktsegment,
        |  (SELECT CAST(ROUND(MAX(o_totalprice) * 100) AS BIGINT)
        |   FROM orders WHERE o_custkey = c_custkey) AS max_cents
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q177_string_agg" ->
      """SELECT user_id,
        |  STRING_AGG(event_type, ',' ORDER BY epoch_us(ts), event_id)
        |    AS journey,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q178_moving_avg" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1)
        |SELECT day, cents,
        |  CAST(SUM(cents) OVER w AS DOUBLE)
        |    / CAST(COUNT(*) OVER w AS DOUBLE) AS ma3
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin,

    "q179_chi_square" ->
      """WITH j AS (SELECT c_mktsegment AS seg, o_orderpriority AS prio
        |           FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT seg, prio, CAST(COUNT(*) AS BIGINT) AS n
        |          FROM j GROUP BY 1, 2),
        |r AS (SELECT seg, CAST(SUM(n) AS BIGINT) AS rn FROM cells GROUP BY 1),
        |c AS (SELECT prio, CAST(SUM(n) AS BIGINT) AS cn FROM cells GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cells),
        |e AS (SELECT seg, prio, n,
        |        CAST(rn * cn AS DOUBLE) / CAST(t.t AS DOUBLE) AS e
        |      FROM cells JOIN r USING (seg) JOIN c USING (prio) CROSS JOIN t)
        |SELECT seg, prio, n, ROUND(e, 4) AS e,
        |  ROUND(POW(CAST(n AS DOUBLE) - e, 2) / e, 6) AS chi_term
        |FROM e ORDER BY seg, prio""".stripMargin,

    "q180_benford" ->
      """WITH d AS (SELECT SUBSTRING(CAST(CAST(ROUND(o_totalprice * 100)
        |      AS BIGINT) AS VARCHAR), 1, 1) AS digit FROM orders)
        |SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 4)
        |    AS benford_share
        |FROM d WHERE digit <> '0'
        |GROUP BY 1 ORDER BY digit""".stripMargin,

    "q181_mean_family" ->
      """WITH t AS (SELECT o_orderpriority AS prio,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(EXP(AVG(LN(CAST(cents AS DOUBLE)))), 4) AS geo_cents,
        |  ROUND(CAST(COUNT(*) AS DOUBLE)
        |    / SUM(1.0 / CAST(cents AS DOUBLE)), 4) AS harm_cents
        |FROM t GROUP BY 1 ORDER BY prio""".stripMargin,

    "q182_drawdown" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |p AS (SELECT day, cents,
        |    CAST(MAX(cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS peak
        |  FROM daily)
        |SELECT day, cents, peak,
        |  CAST(peak - cents AS DOUBLE) / CAST(peak AS DOUBLE) AS drawdown
        |FROM p ORDER BY day""".stripMargin,

    "q183_debounce" ->
      """WITH g AS (SELECT user_id, event_type, event_id,
        |    epoch_us(ts) - LAG(epoch_us(ts)) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT user_id, event_type, event_id FROM g
        |WHERE gap_us IS NULL OR gap_us > 300000000
        |ORDER BY user_id, event_id""".stripMargin,

    "q184_clipped_balance" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_id,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |         THEN CAST(ROUND(value * 100) AS BIGINT)
        |         ELSE -CAST(ROUND(value * 100) AS BIGINT) END AS delta,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |walk(user_id, rn, event_id, bal) AS (
        |  SELECT user_id, rn, event_id, GREATEST(0, delta) FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.event_id, GREATEST(0, w.bal + e.delta)
        |  FROM walk w JOIN e ON e.user_id = w.user_id AND e.rn = w.rn + 1)
        |SELECT user_id, event_id, CAST(bal AS BIGINT) AS balance
        |FROM walk ORDER BY user_id, event_id""".stripMargin,

    "q185_incremental_agg" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
        |    AS max_cents
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin,

    "q186_grouping_sets" ->
      """SELECT COALESCE(r_name, '@total') AS rname,
        |  COALESCE(o_orderpriority, '@total') AS prio,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (o_orderpriority), ())
        |ORDER BY rname, prio""".stripMargin,

    "q187_percentile_disc" ->
      """WITH t AS (SELECT o_orderpriority AS prio,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT prio, quantile_disc(cents, 0.5) AS p50,
        |  quantile_disc(cents, 0.9) AS p90
        |FROM t GROUP BY 1 ORDER BY prio""".stripMargin,

    "q188_vector_algebra" ->
      """WITH p AS (SELECT a.vec_id, a.embedding AS ea, b.embedding AS eb
        |           FROM embeddings a JOIN embeddings b
        |             ON b.vec_id = a.vec_id + 1),
        |u AS (SELECT vec_id, UNNEST(ea) AS x, UNNEST(eb) AS y FROM p)
        |SELECT vec_id,
        |  ROUND(SQRT(SUM((CAST(x AS DOUBLE) + CAST(y AS DOUBLE))
        |    * (CAST(x AS DOUBLE) + CAST(y AS DOUBLE)))), 4) AS sum_norm,
        |  ROUND(SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 4) AS dot
        |FROM u GROUP BY 1 ORDER BY vec_id""".stripMargin,

    "q189_concurrency" ->
      """WITH g AS (SELECT user_id, ts, event_id,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sr AS (SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS sid
        |  FROM g),
        |sess AS (SELECT user_id, sid, MIN(epoch_us(ts)) AS s_us,
        |    MAX(epoch_us(ts)) AS e_us
        |  FROM sr GROUP BY 1, 2),
        |d0 AS (SELECT s_us AS us, 1 AS d FROM sess
        |       UNION ALL SELECT e_us + 1, -1 FROM sess),
        |inst AS (SELECT us, CAST(SUM(d) AS BIGINT) AS d FROM d0 GROUP BY 1),
        |run AS (SELECT us,
        |    CAST(SUM(d) OVER (ORDER BY us) AS BIGINT) AS conc FROM inst)
        |SELECT CAST(make_timestamp(us) AS DATE) AS day,
        |  MAX(conc) AS max_conc, CAST(COUNT(*) AS BIGINT) AS n_instants
        |FROM run GROUP BY 1 ORDER BY day""".stripMargin,

    "q190_weighted_sample" ->
      """WITH p AS (SELECT doc_id, n_chars,
        |    ROUND(LN((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
        |           AS BIGINT) + 1.0) / (POW(2, 60) + 1.0))
        |        / CAST(n_chars AS DOUBLE), 9) AS pri
        |  FROM documents),
        |k AS (SELECT doc_id, n_chars FROM p
        |      ORDER BY pri DESC, doc_id LIMIT 100)
        |SELECT doc_id, n_chars FROM k ORDER BY doc_id""".stripMargin,

    "q191_pagination" ->
      """SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders
        |ORDER BY cents DESC, o_orderkey LIMIT 50 OFFSET 100""".stripMargin,

    "q192_nullsafe_join" ->
      """WITH a AS (SELECT NULLIF(event_type, 'error') AS k,
        |             CAST(COUNT(*) AS BIGINT) AS na
        |           FROM events GROUP BY 1),
        |b AS (SELECT NULLIF(event_type, 'error') AS k,
        |        CAST(COUNT(*) AS BIGINT) AS nb
        |      FROM events WHERE value > 100 GROUP BY 1)
        |SELECT a.k, na, COALESCE(nb, 0) AS nb
        |FROM a LEFT JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY a.k NULLS FIRST""".stripMargin,

    "q193_pipe_rawbytes" ->
      """SELECT doc_id, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q194_seqfile_map_values" ->
      """SELECT doc_id, lang, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q195_containment_pairs" ->
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |      FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws)-2),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |d AS (SELECT id1 AS sub_id, id2 AS sup_id, inter FROM p
        |      UNION ALL SELECT id2, id1, inter FROM p)
        |SELECT sub_id, sup_id, CAST(inter AS DOUBLE) / n AS containment
        |FROM d JOIN sz ON sz.doc_id = sub_id
        |WHERE inter * 100 >= n * 60
        |ORDER BY sub_id, sup_id""".stripMargin,

    "q196_k_anonymity" ->
      """WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1, 2),
        |v AS (SELECT lang, source, n FROM c WHERE n < 10),
        |r AS (SELECT '__report' AS lang,
        |        COUNT(*) || '/' || CAST(SUM(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |          || '/' || CAST(COALESCE(SUM(CASE WHEN n < 10 THEN n END), 0) AS BIGINT)
        |          || '/' || MIN(n) AS source,
        |        CAST(COUNT(*) AS BIGINT) AS n
        |      FROM c)
        |SELECT lang, source, n FROM v
        |UNION ALL SELECT lang, source, n FROM r
        |ORDER BY lang, source""".stripMargin,

    "q197_lang_id" ->
      """WITH t AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ws FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(LEN(LIST_FILTER(ws, w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))) AS BIGINT) AS s_de,
        |  CAST(LEN(LIST_FILTER(ws, w -> w IN ('the','a','of','and','to','in','is','that'))) AS BIGINT) AS s_en,
        |  CAST(LEN(LIST_FILTER(ws, w -> w IN ('el','de','que','y','los','una','las','por'))) AS BIGINT) AS s_es,
        |  CAST(LEN(LIST_FILTER(ws, w -> w IN ('le','la','et','les','des','est','une','dans'))) AS BIGINT) AS s_fr,
        |  CAST(LEN(LIST_FILTER(ws, w -> w IN ('的','是','了','在','我','有','他','不'))) AS BIGINT) AS s_zh
        |FROM t)
        |SELECT doc_id,
        |  CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
        |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
        |       WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
        |       WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS pred_lang,
        |  GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS score,
        |  s_de, s_en, s_es, s_fr, s_zh
        |FROM s ORDER BY doc_id""".stripMargin,

    "q198_mode" ->
      """WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, source, n,
        |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, source) AS rn
        |      FROM c)
        |SELECT lang, source AS mode_source, n FROM r WHERE rn = 1 ORDER BY lang""".stripMargin,

    "q199_robust_mean" ->
      """WITH r AS (SELECT lang, n_chars, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS m
        |  FROM documents),
        |k AS (SELECT * FROM r WHERE rn > m // 10 AND rn <= m - m // 10),
        |t AS (SELECT lang,
        |        CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS trimmed_mean,
        |        MIN(n_chars) AS lo, MAX(n_chars) AS hi,
        |        CAST(COUNT(*) AS BIGINT) AS n_kept
        |      FROM k GROUP BY lang),
        |w AS (SELECT r.lang,
        |        CAST(SUM(GREATEST(LEAST(r.n_chars, t.hi), t.lo)) AS DOUBLE) / COUNT(*)
        |          AS winsorized_mean
        |      FROM r JOIN t ON r.lang = t.lang GROUP BY r.lang)
        |SELECT t.lang, trimmed_mean, winsorized_mean, n_kept
        |FROM t JOIN w ON t.lang = w.lang ORDER BY t.lang""".stripMargin,

    "q200_merge_apply" ->
      """WITH base AS (SELECT c_custkey AS k,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        |ch AS (SELECT o_custkey AS k,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN o_orderstatus = 'P' THEN 'D' ELSE 'U' END AS op,
        |    o_orderkey AS ord
        |  FROM orders),
        |latest AS (SELECT k, cents, op FROM
        |    (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY ord DESC) AS rn FROM ch)
        |  WHERE rn = 1)
        |SELECT COALESCE(b.k, l.k) AS k,
        |  COALESCE(l.cents, b.cents) AS cents
        |FROM base b FULL OUTER JOIN latest l ON b.k = l.k
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY k""".stripMargin,

    // epoch_us(ts) everywhere ts orders rows: the parquet is
    // TIMESTAMP_NS in DuckDB but micro-truncated in Spark (q143 rule)
    "q201_ewma" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, rn, value AS x, value AS ewma
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.rn, e.value,
        |    0.5 * e.value + 0.5 * r.ewma
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT user_id, event_id, x, ewma FROM r
        |ORDER BY user_id, event_id""".stripMargin,

    "q202_capped_sessions" ->
      """WITH RECURSIVE e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_id, ts_us, rn,
        |    CAST(1 AS BIGINT) AS session_ord, ts_us AS sess_start
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.event_id, e.ts_us, e.rn,
        |    CASE WHEN e.ts_us - r.ts_us > 3600000000
        |           OR e.ts_us - r.sess_start > 21600000000
        |         THEN r.session_ord + 1 ELSE r.session_ord END,
        |    CASE WHEN e.ts_us - r.ts_us > 3600000000
        |           OR e.ts_us - r.sess_start > 21600000000
        |         THEN e.ts_us ELSE r.sess_start END
        |  FROM r JOIN e ON e.user_id = r.user_id AND e.rn = r.rn + 1)
        |SELECT user_id, event_id, ts_us, session_ord FROM r
        |ORDER BY user_id, event_id""".stripMargin,

    "q203_quantile_norm" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY lang) AS m
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN m = 1 THEN 0.0
        |       ELSE CAST(rn - 1 AS DOUBLE) / (m - 1) END AS qnorm
        |FROM r ORDER BY doc_id""".stripMargin,

    "q204_ohlc_bars" ->
      """WITH e AS (SELECT event_type, event_id, value,
        |    epoch_us(ts) AS us, epoch_us(ts) // 3600000000 AS bucket
        |  FROM events),
        |r AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
        |      ORDER BY us, event_id) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
        |      ORDER BY us DESC, event_id DESC) AS rl
        |  FROM e)
        |SELECT event_type, bucket,
        |  MAX(CASE WHEN rf = 1 THEN value END) AS open,
        |  MAX(value) AS high,
        |  MIN(value) AS low,
        |  MAX(CASE WHEN rl = 1 THEN value END) AS close,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM r GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,

    // the same recursive SQL, dialect-twinned (DuckDB SUM(BIGINT)
    // returns HUGEINT → explicit BIGINT casts on the aggregates)
    "q205_recursive_cte" ->
      """WITH RECURSIVE walk AS (
        |  SELECT c_custkey AS k,
        |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS path_cents,
        |    0 AS depth
        |  FROM customer WHERE c_custkey = 1
        |  UNION ALL
        |  SELECT c.c_custkey,
        |    w.path_cents + CAST(ROUND(c.c_acctbal * 100) AS BIGINT),
        |    w.depth + 1
        |  FROM customer c JOIN walk w
        |    ON CAST(FLOOR(c.c_custkey / 2.0) AS BIGINT) = w.k
        |  WHERE c.c_custkey > 1)
        |SELECT CAST(depth AS BIGINT) AS depth,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(path_cents) AS BIGINT) AS cents
        |FROM walk GROUP BY depth ORDER BY depth""".stripMargin,

    "q206_variant_json" ->
      """SELECT event_type,
        |  CAST(COUNT(DISTINCT CAST(props->>'k' AS BIGINT)) AS BIGINT) AS n_k,
        |  CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(SUM(CASE WHEN json_extract_string(props, '$.missing') IS NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // case-insensitive distinct re-derived by LOWER() normalization —
    // the fixture langs are ASCII, where UTF8_LCASE == lowercase-fold
    "q207_collated_agg" ->
      """WITH m AS (SELECT source,
        |    CASE WHEN doc_id % 2 = 0 THEN UPPER(lang) ELSE lang END AS lang2
        |  FROM documents)
        |SELECT source,
        |  CAST(COUNT(DISTINCT LOWER(lang2)) AS BIGINT) AS n_ci,
        |  CAST(COUNT(DISTINCT lang2) AS BIGINT) AS n_cs
        |FROM m GROUP BY source ORDER BY source""".stripMargin,

    "q208_lateral_topk" ->
      """SELECT n_nationkey, s.c_custkey, s.cents
        |FROM nation, LATERAL (
        |  SELECT c_custkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer WHERE c_nationkey = n_nationkey
        |  ORDER BY cents DESC, c_custkey LIMIT 3) s
        |ORDER BY n_nationkey, cents DESC, c_custkey""".stripMargin,

    // the q49 closure pipeline (exact-Jaccard pairs → recursive
    // reachability → min-id component), extended to singleton docs
    // via the LEFT JOIN COALESCE, then the same md5-bucket split rule
    "q209_leakage_safe_splits" ->
      """WITH RECURSIVE
        |tok AS (SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
        |      FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws)-2),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |p0 AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
        |       FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |jp AS (SELECT id1, id2
        |       FROM p0 JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
        |       WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5),
        |e AS (SELECT id1 AS a, id2 AS b FROM jp UNION SELECT id2, id1 FROM jp),
        |reach AS (SELECT a, b FROM e
        |          UNION
        |          SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
        |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp_id FROM reach GROUP BY a),
        |rep AS (SELECT d.doc_id, d.n_chars,
        |          COALESCE(c.comp_id, d.doc_id) AS rep
        |        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
        |b AS (SELECT doc_id, n_chars, rep,
        |        CAST(('0x' || substr(md5(CAST(rep AS VARCHAR)), 1, 4)) AS BIGINT)
        |          % 20 AS bk
        |      FROM rep)
        |SELECT CASE WHEN bk = 0 THEN 'val' WHEN bk = 1 THEN 'test'
        |            ELSE 'train' END AS split,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,

    "q210_threshold_sweep" ->
      """SELECT t.i AS thresh, lang,
        |  CAST(COUNT(*) FILTER (WHERE n_chars >= t.i * 200) AS BIGINT) AS kept,
        |  CAST(COUNT(*) AS BIGINT) AS total
        |FROM documents, generate_series(0, 9) t(i)
        |GROUP BY 1, 2 ORDER BY thresh, lang""".stripMargin,

    // the identical d=4 × w=64 grid rebuilt from the same md5 cell
    // rule, estimates as MIN over the key's cells
    "q211_countmin_sketch" ->
      """WITH cells AS (
        |  SELECT r.i AS row_i,
        |    CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || '|' ||
        |      CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64 AS col_i,
        |    COUNT(*) AS cnt
        |  FROM events, generate_series(0, 3) r(i)
        |  GROUP BY 1, 2),
        |top AS (SELECT user_id, COUNT(*) AS exact FROM events
        |        GROUP BY 1 ORDER BY exact DESC, user_id LIMIT 20),
        |est AS (
        |  SELECT t.user_id, t.exact, MIN(c.cnt) AS est
        |  FROM top t, generate_series(0, 3) r(i)
        |  JOIN cells c ON c.row_i = r.i
        |    AND c.col_i = CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || '|' ||
        |      CAST(t.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64
        |  GROUP BY 1, 2)
        |SELECT user_id, CAST(exact AS BIGINT) AS exact,
        |  CAST(est AS BIGINT) AS est, est >= exact AS no_undercount
        |FROM est ORDER BY exact DESC, user_id""".stripMargin,

    // the same quantize → integer-centroid → fixed-order double
    // distance pipeline; list_dot_product over BIGINT lists is exact
    // below 2^53 so the CAST to BIGINT loses nothing
    "q212_kmeans_step" ->
      """WITH qv AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      e -> CAST(ROUND(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS q
        |  FROM embeddings),
        |x2 AS (SELECT vec_id, label, q,
        |    CAST(list_dot_product(q, q) AS BIGINT) AS xx FROM qv),
        |cell AS (SELECT label, i AS pos, SUM(q[i]) AS s
        |  FROM qv, generate_series(1, 64) t(i) GROUP BY 1, 2),
        |cent AS (SELECT label AS clabel, list(s ORDER BY pos) AS sv
        |  FROM cell GROUP BY 1),
        |nn AS (SELECT CAST(label AS BIGINT) AS clabel, COUNT(*) AS n
        |  FROM embeddings GROUP BY 1),
        |d AS (
        |  SELECT vec_id, label, clabel,
        |    CAST(xx AS DOUBLE)
        |      - (2.0 * CAST(CAST(list_dot_product(q, sv) AS BIGINT) AS DOUBLE))
        |        / CAST(n AS DOUBLE)
        |      + CAST(CAST(list_dot_product(sv, sv) AS BIGINT) AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS dist
        |  FROM x2 CROSS JOIN cent JOIN nn USING (clabel)),
        |a AS (SELECT vec_id, label, clabel,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
        |  FROM d)
        |SELECT label AS old_label, clabel AS new_label,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(vec_id) AS BIGINT) AS id_sum
        |FROM a WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q213_backoff_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, i AS pos, ws[i] AS w
        |  FROM (SELECT doc_id, STRING_SPLIT(lower(text), ' ') AS ws FROM documents),
        |    generate_series(1, 2000) t(i)
        |  WHERE i <= len(ws) AND ws[i] <> ''),
        |bg AS (
        |  SELECT doc_id, w AS w1,
        |    LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM tok),
        |bg2 AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
        |trainbg AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg2
        |            WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
        |trainuni AS (SELECT w, COUNT(*) AS c1 FROM tok
        |             WHERE doc_id % 10 <> 0 GROUP BY 1),
        |nv AS (SELECT CAST(SUM(c1) AS BIGINT) AS nn,
        |         CAST(COUNT(*) AS BIGINT) AS v FROM trainuni),
        |test AS (SELECT doc_id, w1, w2 FROM bg2 WHERE doc_id % 10 = 0),
        |sc AS (
        |  SELECT t.doc_id,
        |    CASE WHEN tb.c2 IS NOT NULL
        |      THEN CAST(tb.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
        |      ELSE 0.4 * (CAST(COALESCE(u2.c1, 0) AS DOUBLE) + 1.0)
        |             / (CAST(nv.nn AS DOUBLE) + CAST(nv.v AS DOUBLE)) END AS s,
        |    CASE WHEN tb.c2 IS NULL THEN 1 ELSE 0 END AS backed
        |  FROM test t
        |  LEFT JOIN trainbg tb ON tb.w1 = t.w1 AND tb.w2 = t.w2
        |  LEFT JOIN trainuni u1 ON u1.w = t.w1
        |  LEFT JOIN trainuni u2 ON u2.w = t.w2
        |  CROSS JOIN nv)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(backed) AS BIGINT) AS n_backoff,
        |  ROUND(AVG(-LOG2(s)), 4) AS bits
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q214_range_frame" ->
      """SELECT user_id, event_id,
        |  CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
        |    RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n_1h
        |FROM events ORDER BY user_id, event_id""".stripMargin,

    "q215_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure,
        |  CAST(ROUND(val * 100) AS BIGINT) AS cents
        |FROM (SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
        |        l_tax FROM lineitem)
        |UNPIVOT (val FOR measure IN (l_extendedprice, l_discount, l_tax))
        |WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, measure, cents""".stripMargin,

    "q216_seqfile_union_values" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'org.apache.hadoop.io.LongWritable'
        |       ELSE 'org.apache.hadoop.io.Text' END AS tag,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(n_chars AS VARCHAR)
        |       ELSE lang END AS val
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q217_exact_substring_dups" ->
      """WITH tok0 AS (
        |  SELECT doc_id, i AS pos, ws[i] AS w
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        |       generate_series(1, 2000) t(i)
        |  WHERE i <= len(ws) AND ws[i] <> ''),
        |tok AS (SELECT doc_id,
        |          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS idx, w
        |        FROM tok0),
        |gw AS (SELECT doc_id, idx, w,
        |         LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS w1,
        |         LEAD(w, 2) OVER (PARTITION BY doc_id ORDER BY idx) AS w2,
        |         LEAD(w, 3) OVER (PARTITION BY doc_id ORDER BY idx) AS w3,
        |         LEAD(w, 4) OVER (PARTITION BY doc_id ORDER BY idx) AS w4,
        |         LEAD(w, 5) OVER (PARTITION BY doc_id ORDER BY idx) AS w5,
        |         LEAD(w, 6) OVER (PARTITION BY doc_id ORDER BY idx) AS w6,
        |         LEAD(w, 7) OVER (PARTITION BY doc_id ORDER BY idx) AS w7
        |       FROM tok),
        |g AS (SELECT doc_id, idx,
        |        w || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
        |          || ' ' || w5 || ' ' || w6 || ' ' || w7 AS gram
        |      FROM gw WHERE w7 IS NOT NULL),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |m AS (SELECT doc_id, idx,
        |        idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY idx) AS island
        |      FROM g WHERE gram IN (SELECT gram FROM dup))
        |SELECT doc_id, CAST(MIN(idx) AS BIGINT) AS start_idx,
        |  CAST(MAX(idx) + 7 AS BIGINT) AS end_idx,
        |  CAST(MAX(idx) + 7 - MIN(idx) + 1 AS BIGINT) AS n_words
        |FROM m GROUP BY doc_id, island ORDER BY doc_id, start_idx""".stripMargin,

    "q218_substring_scrub" ->
      """WITH tok0 AS (
        |  SELECT doc_id, i AS pos, ws[i] AS w
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        |       generate_series(1, 2000) t(i)
        |  WHERE i <= len(ws) AND ws[i] <> ''),
        |tok AS (SELECT doc_id,
        |          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS idx, w
        |        FROM tok0),
        |gw AS (SELECT doc_id, idx, w,
        |         LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS w1,
        |         LEAD(w, 2) OVER (PARTITION BY doc_id ORDER BY idx) AS w2,
        |         LEAD(w, 3) OVER (PARTITION BY doc_id ORDER BY idx) AS w3,
        |         LEAD(w, 4) OVER (PARTITION BY doc_id ORDER BY idx) AS w4,
        |         LEAD(w, 5) OVER (PARTITION BY doc_id ORDER BY idx) AS w5,
        |         LEAD(w, 6) OVER (PARTITION BY doc_id ORDER BY idx) AS w6,
        |         LEAD(w, 7) OVER (PARTITION BY doc_id ORDER BY idx) AS w7
        |       FROM tok),
        |g AS (SELECT doc_id, idx,
        |        w || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
        |          || ' ' || w5 || ' ' || w6 || ' ' || w7 AS gram
        |      FROM gw WHERE w7 IS NOT NULL),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |m AS (SELECT doc_id, idx,
        |        idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY idx) AS island
        |      FROM g WHERE gram IN (SELECT gram FROM dup)),
        |ext AS (SELECT doc_id, MIN(idx) AS s, MAX(idx) + 7 AS e
        |        FROM m GROUP BY doc_id, island),
        |canon AS (SELECT gram, doc_id AS c_doc, idx AS c_idx FROM g
        |          QUALIFY ROW_NUMBER() OVER (PARTITION BY gram
        |            ORDER BY doc_id, idx) = 1),
        |rem AS (SELECT a.doc_id, a.s, a.e
        |        FROM (SELECT e.doc_id, e.s, e.e, g.gram FROM ext e
        |              JOIN g ON g.doc_id = e.doc_id AND g.idx = e.s) a
        |        JOIN canon c ON c.gram = a.gram
        |        WHERE NOT (c.c_doc = a.doc_id AND c.c_idx = a.s)),
        |kt AS (SELECT t.doc_id, t.idx, t.w,
        |         EXISTS (SELECT 1 FROM rem r WHERE r.doc_id = t.doc_id
        |                 AND t.idx BETWEEN r.s AND r.e) AS dropd
        |       FROM tok t)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(CASE WHEN dropd THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  MD5(COALESCE(STRING_AGG(CASE WHEN NOT dropd THEN w END, ' '
        |    ORDER BY idx), '')) AS text_md5
        |FROM kt GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q219_pq_encode" -> pqEncodeOracleSql,
    "q220_ivfpq_search" -> ivfPqOracleSql,
    "q221_multi_exists" -> q221Sql,
    "q222_gapfill_interp" ->
      """WITH b AS (SELECT user_id, date_trunc('hour', ts) AS h,
        |                  CAST(ROUND(MAX(value) * 10000) AS BIGINT) AS v
        |           FROM events GROUP BY 1, 2),
        |g AS (SELECT user_id, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        |      FROM (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM b GROUP BY 1)),
        |j AS (SELECT g.user_id, g.h, b.v FROM g
        |      LEFT JOIN b ON b.user_id = g.user_id AND b.h = g.h),
        |f AS (SELECT user_id, h, v,
        |        LAST_VALUE(v IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY h
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |        LAST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY h
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
        |        FIRST_VALUE(v IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY h
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |        FIRST_VALUE(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY h
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |      FROM j)
        |SELECT user_id, h,
        |  CASE WHEN v IS NOT NULL THEN v
        |       ELSE pv + (2 * ((nv - pv) * date_diff('hour', ph, h))
        |                  + (CASE WHEN (nv - pv) * date_diff('hour', ph, h) < 0
        |                          THEN -1 ELSE 1 END) * date_diff('hour', ph, nh))
        |                 // (2 * date_diff('hour', ph, nh)) END AS val_e4,
        |  CAST(CASE WHEN v IS NULL THEN 1 ELSE 0 END AS BIGINT) AS filled
        |FROM f ORDER BY user_id, h""".stripMargin,
    "q223_skyline" ->
      """SELECT p.p_partkey, p.p_retailprice AS price, p.p_size AS sz
        |FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY price, p.p_partkey""".stripMargin,
    "q224_attribution" ->
      """WITH w AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_id END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cause_id,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN ts END
        |               IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cause_ts
        |  FROM events)
        |SELECT event_id, user_id,
        |  CASE WHEN cause_ts >= ts - INTERVAL 7 DAY THEN cause_id END AS cause_id,
        |  CASE WHEN cause_ts >= ts - INTERVAL 7 DAY
        |       THEN (epoch_us(ts) - epoch_us(cause_ts)) // 1000000 END AS gap_s
        |FROM w WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q225_psi" ->
      """WITH b AS (SELECT CAST(substring(source, 4) AS INT) < 10 AS is_a,
        |             LEAST(9, n_chars // 100) AS bin FROM documents),
        |c AS (SELECT bin,
        |        CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |        CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
        |      FROM b GROUP BY 1),
        |sp AS (SELECT CAST(i AS BIGINT) AS bin FROM generate_series(0, 9) g(i)),
        |j0 AS (SELECT sp.bin, COALESCE(c.n_a, 0) AS n_a, COALESCE(c.n_b, 0) AS n_b
        |       FROM sp LEFT JOIN c USING (bin)),
        |j AS (SELECT bin, n_a, n_b,
        |        CAST(SUM(n_a) OVER () AS BIGINT) AS tot_a,
        |        CAST(SUM(n_b) OVER () AS BIGINT) AS tot_b FROM j0),
        |k AS (SELECT bin, n_a, n_b,
        |        CAST(ROUND((CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + 10 AS DOUBLE)
        |                    - CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + 10 AS DOUBLE))
        |                   * LN((CAST(n_a + 1 AS DOUBLE) / CAST(tot_a + 10 AS DOUBLE))
        |                        / (CAST(n_b + 1 AS DOUBLE) / CAST(tot_b + 10 AS DOUBLE)))
        |                   * 10000) AS BIGINT) AS contrib_e4
        |      FROM j)
        |SELECT bin, n_a, n_b, contrib_e4,
        |  CAST(SUM(contrib_e4) OVER () AS BIGINT) AS psi_e4
        |FROM k ORDER BY bin""".stripMargin,
    "q226_kmeans_iter" -> kmeansIterOracleSql,
    "q229_asof_tolerance" ->
      // the carry is ONE struct (ts + value from the SAME click row),
      // mirroring asOfWithin's whole-struct carry: a null value FIELD
      // inside the latest click stays null instead of resurrecting an
      // older non-null value (decoupled per-column LAST_VALUEs would)
      """WITH u AS (
        |  SELECT event_id, user_id, ts, NULL AS cv, 1 AS side
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT NULL, user_id, ts, value, 0
        |  FROM events WHERE event_type = 'click'),
        |c AS (SELECT event_id, user_id, ts, side,
        |        LAST_VALUE(CASE WHEN side = 0 THEN {'ts': ts, 'v': cv} END
        |                   IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY ts ASC, side ASC, cv ASC NULLS FIRST
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry
        |      FROM u)
        |SELECT event_id, user_id,
        |  CASE WHEN carry.ts >= ts - INTERVAL 1 HOUR
        |       THEN ROUND(carry.v, 4) END AS click_value
        |FROM c WHERE side = 1 ORDER BY event_id""".stripMargin,
    "q230_quality_classifier" -> qualityClassifierOracleSql,
    "q231_binned_quantiles" ->
      """WITH e AS (SELECT event_type,
        |             GREATEST(CAST(ROUND(value * 100) AS BIGINT), 1) AS cents
        |           FROM events),
        |h AS (SELECT event_type, CAST(LENGTH(BIN(cents)) - 1 AS BIGINT) AS b,
        |        COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cu AS (SELECT event_type, b, c,
        |         SUM(c) OVER (PARTITION BY event_type ORDER BY b
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         SUM(c) OVER (PARTITION BY event_type) AS n FROM h),
        |g AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |        MIN(CASE WHEN cum * 100 >= n * 50 THEN b END) AS b50,
        |        MIN(CASE WHEN cum * 100 >= n * 90 THEN b END) AS b90,
        |        MIN(CASE WHEN cum * 100 >= n * 99 THEN b END) AS b99
        |      FROM cu GROUP BY 1)
        |SELECT event_type, n,
        |  (1::BIGINT << b50) AS p50_lb, (1::BIGINT << b90) AS p90_lb,
        |  (1::BIGINT << b99) AS p99_lb
        |FROM g ORDER BY event_type""".stripMargin,

    // The full v5 chain re-derived: the q218 scrub CTEs extended with
    // kept-text reassembly, then the q66 chunk window and the q65
    // running-sum packing over the SCRUBBED corpus.
    "q232_curation_v5" ->
      """WITH tok0 AS (
        |  SELECT doc_id, i AS pos, ws[i] AS w
        |  FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        |       generate_series(1, 2000) t(i)
        |  WHERE i <= len(ws) AND ws[i] <> ''),
        |tok AS (SELECT doc_id,
        |          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS idx, w
        |        FROM tok0),
        |gw AS (SELECT doc_id, idx, w,
        |         LEAD(w, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS w1,
        |         LEAD(w, 2) OVER (PARTITION BY doc_id ORDER BY idx) AS w2,
        |         LEAD(w, 3) OVER (PARTITION BY doc_id ORDER BY idx) AS w3,
        |         LEAD(w, 4) OVER (PARTITION BY doc_id ORDER BY idx) AS w4,
        |         LEAD(w, 5) OVER (PARTITION BY doc_id ORDER BY idx) AS w5,
        |         LEAD(w, 6) OVER (PARTITION BY doc_id ORDER BY idx) AS w6,
        |         LEAD(w, 7) OVER (PARTITION BY doc_id ORDER BY idx) AS w7
        |       FROM tok),
        |g AS (SELECT doc_id, idx,
        |        w || ' ' || w1 || ' ' || w2 || ' ' || w3 || ' ' || w4
        |          || ' ' || w5 || ' ' || w6 || ' ' || w7 AS gram
        |      FROM gw WHERE w7 IS NOT NULL),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
        |m AS (SELECT doc_id, idx,
        |        idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY idx) AS island
        |      FROM g WHERE gram IN (SELECT gram FROM dup)),
        |ext AS (SELECT doc_id, MIN(idx) AS s, MAX(idx) + 7 AS e
        |        FROM m GROUP BY doc_id, island),
        |canon AS (SELECT gram, doc_id AS c_doc, idx AS c_idx FROM g
        |          QUALIFY ROW_NUMBER() OVER (PARTITION BY gram
        |            ORDER BY doc_id, idx) = 1),
        |rem AS (SELECT a.doc_id, a.s, a.e
        |        FROM (SELECT e.doc_id, e.s, e.e, g.gram FROM ext e
        |              JOIN g ON g.doc_id = e.doc_id AND g.idx = e.s) a
        |        JOIN canon c ON c.gram = a.gram
        |        WHERE NOT (c.c_doc = a.doc_id AND c.c_idx = a.s)),
        |kt AS (SELECT t.doc_id, t.idx, t.w,
        |         EXISTS (SELECT 1 FROM rem r WHERE r.doc_id = t.doc_id
        |                 AND t.idx BETWEEN r.s AND r.e) AS dropd
        |       FROM tok t),
        |sc AS (SELECT doc_id,
        |         COALESCE(STRING_AGG(CASE WHEN NOT dropd THEN w END, ' '
        |           ORDER BY idx), '') AS t,
        |         CAST(SUM(CASE WHEN NOT dropd THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |         CAST(SUM(CASE WHEN dropd THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        |       FROM kt GROUP BY doc_id),
        |alive AS (SELECT * FROM sc WHERE n_kept > 0),
        |pk AS (SELECT doc_id,
        |         CAST((SUM(n_kept) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |           - n_kept) // 256 AS BIGINT) AS pack_id
        |       FROM alive),
        |ctok AS (SELECT doc_id, STRING_SPLIT(t, ' ') AS ws, n_kept AS n FROM alive),
        |ch AS (SELECT doc_id, ws, i AS chunk_id
        |       FROM ctok, generate_series(0, 2000) ti(i)
        |       WHERE i < GREATEST((n - 8 + 23) // 24, 1))
        |SELECT c.doc_id, CAST(c.chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(c.ws[c.chunk_id*24+1 : c.chunk_id*24+32]) AS BIGINT) AS n_tok,
        |  MD5(array_to_string(c.ws[c.chunk_id*24+1 : c.chunk_id*24+32], ' ')) AS chunk_md5,
        |  a.n_removed, p.pack_id
        |FROM ch c JOIN pk p ON p.doc_id = c.doc_id
        |JOIN alive a ON a.doc_id = c.doc_id
        |ORDER BY c.doc_id, c.chunk_id""".stripMargin,

    // Stats re-derived straight from the sample formula — the engine
    // must reproduce them THROUGH its RIFF byte encode/decode.
    "q233_pcm_decode" ->
      """WITH f AS (SELECT doc_id, CAST(8 + doc_id % 32 AS BIGINT) AS n
        |           FROM documents),
        |s AS (SELECT doc_id, n,
        |        (((doc_id * 7 + i * 5) % 16) - 8) * 4096 AS raw
        |      FROM f, generate_series(0, 39) t(i) WHERE i < n),
        |agg AS (SELECT doc_id, MAX(n) AS n,
        |          MAX(ABS(raw / 32768.0)) AS peak,
        |          SQRT(SUM((raw / 32768.0) * (raw / 32768.0)) / MAX(n)) AS rms
        |        FROM s GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(8000 AS INTEGER) END AS sample_rate,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(1 AS INTEGER) END AS channels,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(16 AS INTEGER) END AS bits_per_sample,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.n END AS n_frames,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE a.n * 1000 // 8000 END AS duration_ms,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE ROUND(a.peak, 6) END AS peak,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE ROUND(a.rms, 6) END AS rms
        |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // Channel sums re-derived straight from the pixel formula — the
    // engine must reproduce them THROUGH its BMP byte layout.
    "q234_bmp_decode" ->
      """WITH dims AS (SELECT doc_id, 2 + doc_id % 6 AS w, 1 + doc_id % 4 AS h
        |              FROM documents),
        |px AS (SELECT doc_id, w, h, x, y
        |       FROM dims, generate_series(0, 6) tx(x), generate_series(0, 3) ty(y)
        |       WHERE x < w AND y < h),
        |agg AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
        |          CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(SUM((doc_id * 3 + x * 5 + y * 11) % 256) AS BIGINT) AS sr,
        |          CAST(SUM((doc_id * 7 + x * 13 + y * 3) % 256) AS BIGINT) AS sg,
        |          CAST(SUM((doc_id * 11 + x + y * 17) % 256) AS BIGINT) AS sb
        |        FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.w AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.h AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.n END AS n_pixels,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sr END AS sum_r,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sg END AS sum_g,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sb END AS sum_b
        |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // Frame count + summed GCE delays re-derived from the formula —
    // the engine must reproduce them through the real block walk.
    "q235_gif_frames" ->
      """WITH f AS (SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 3 AS h,
        |             1 + doc_id % 5 AS nf FROM documents),
        |fr AS (SELECT doc_id, nf, (10 + (doc_id + i) % 20) * 10 AS delay_ms
        |       FROM f, generate_series(0, 5) t(i) WHERE i < nf),
        |agg AS (SELECT doc_id, CAST(SUM(delay_ms) AS BIGINT) AS dur
        |        FROM fr GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(f.w AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(f.h AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(f.nf AS INTEGER) END AS n_frames,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.dur END AS duration_ms
        |FROM documents d JOIN f ON f.doc_id = d.doc_id
        |JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    "q236_dsir_importance" -> dsirOracleSql,

    "q237_semantic_decon" ->
      """WITH ev AS (SELECT embedding FROM embeddings WHERE vec_id % 101 = 0),
        |c AS (SELECT a.vec_id,
        |        MAX(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                   CAST(e.embedding AS DOUBLE[]))) AS ms
        |      FROM embeddings a CROSS JOIN ev e
        |      WHERE a.vec_id % 101 <> 0 GROUP BY 1)
        |SELECT vec_id, ROUND(ms, 4) + 0.0 AS max_sim,
        |  ROUND(ms, 4) >= 0.25 AS contaminated
        |FROM c ORDER BY vec_id""".stripMargin,

    "q238_text_fold" -> q238OracleSql,

    // The PSL walk stated per arm: the multi-label rule merges the
    // co.uk sisters onto one key, the bare suffix vanishes (NULL
    // domain), exception/wildcard/implicit-* arms each restate their
    // prevailing rule; the quota window replays on the stated keys.
    "q342_registered_domain" ->
      """WITH h AS (SELECT doc_id, n_chars,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'a.example.co.uk'
        |    WHEN 1 THEN 'b.example.co.uk'
        |    WHEN 2 THEN 'co.uk'
        |    WHEN 3 THEN 'site' || (doc_id % 7) || '.github.io'
        |    WHEN 4 THEN 'www.ck'
        |    WHEN 5 THEN 'shop.foo.ck'
        |    WHEN 6 THEN 'news.example' || (doc_id % 3) || '.com.br'
        |    ELSE 'x.unknown-tld.zz' END AS host,
        |  CASE doc_id % 8
        |    WHEN 0 THEN 'example.co.uk'
        |    WHEN 1 THEN 'example.co.uk'
        |    WHEN 2 THEN NULL
        |    WHEN 3 THEN 'site' || (doc_id % 7) || '.github.io'
        |    WHEN 4 THEN 'www.ck'
        |    WHEN 5 THEN 'shop.foo.ck'
        |    WHEN 6 THEN 'example' || (doc_id % 3) || '.com.br'
        |    ELSE 'unknown-tld.zz' END AS domain
        |  FROM documents),
        |r AS (SELECT doc_id, host, domain,
        |        domain IN ('example.co.uk', 'badsite.com') AS blocked,
        |        n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY domain
        |          ORDER BY n_chars DESC, doc_id) AS rnk
        |      FROM h WHERE domain IS NOT NULL)
        |SELECT doc_id, host, domain, blocked,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(rnk AS BIGINT) AS kept_rank
        |FROM r WHERE rnk <= 3 ORDER BY doc_id""".stripMargin,

    // All four alias arms state the ONE A-label canonical; the dup
    // count replays per 4-alias bucket (non-URLs pass unchanged).
    "q343_idn_url_canon" ->
      """WITH c AS (SELECT doc_id,
        |  CASE WHEN doc_id % 50 = 0 THEN 'not a url ' || doc_id
        |       ELSE 'http://xn--bcher-kva.example/p/' || (doc_id // 4)
        |  END AS canon FROM documents)
        |SELECT doc_id, canon,
        |  CAST(COUNT(*) OVER (PARTITION BY canon) AS BIGINT) AS n_dups
        |FROM c ORDER BY doc_id""".stripMargin,

    "q239_domain_quota" ->
      """WITH u AS (SELECT doc_id, n_chars,
        |  'https://site' || (doc_id % 37) || '.' ||
        |    CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'net' END ||
        |    '/p/' || doc_id || '?ref=' || (doc_id % 5) AS url FROM documents),
        |p AS (SELECT doc_id, n_chars, url,
        |  regexp_extract(url, '^https?://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^https?://[^/?#]+([^?#]*)', 1) AS path FROM u),
        |r AS (SELECT doc_id, host, path, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY host
        |    ORDER BY n_chars DESC, doc_id) AS rnk FROM p)
        |SELECT doc_id, host, path, CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(rnk AS BIGINT) AS kept_rank
        |FROM r WHERE rnk <= 3 ORDER BY doc_id""".stripMargin,

    "q240_contamination_report" ->
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |      FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws) - 2),
        |ev AS (SELECT doc_id, g FROM g WHERE doc_id % 10 = 0),
        |tr AS (SELECT doc_id AS tid, g FROM g WHERE doc_id % 10 <> 0),
        |j AS (SELECT ev.doc_id, tr.tid, ev.g FROM ev JOIN tr USING (g)),
        |r AS (SELECT doc_id, COUNT(DISTINCT tid) AS nh,
        |        COUNT(DISTINCT g) AS ng, MIN(tid) AS fh
        |      FROM j GROUP BY 1)
        |SELECT e.doc_id, CAST(COALESCE(r.nh, 0) AS BIGINT) AS n_train_hits,
        |  CAST(COALESCE(r.ng, 0) AS BIGINT) AS n_shared_grams,
        |  r.fh AS first_hit, COALESCE(r.nh, 0) > 0 AS leaked
        |FROM (SELECT DISTINCT doc_id FROM tok WHERE doc_id % 10 = 0) e
        |LEFT JOIN r USING (doc_id)
        |ORDER BY e.doc_id""".stripMargin,

    "q241_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, MD5(text) AS h1 FROM documents),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 3 THEN MD5(text || ' v2')
        |              ELSE MD5(text) END AS h2
        |       FROM documents WHERE doc_id % 11 <> 0
        |       UNION ALL
        |       SELECT doc_id + 100000 AS doc_id, MD5(text) AS h2
        |       FROM documents WHERE doc_id % 13 = 0)
        |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.h1 IS NULL THEN 'added'
        |       WHEN v2.h2 IS NULL THEN 'removed'
        |       WHEN v1.h1 = v2.h2 THEN 'same'
        |       ELSE 'changed' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin,

    // Channel sums re-derived from the pixel formula — the engine
    // must reproduce them THROUGH zlib deflate/inflate + unfiltering.
    "q242_png_decode" ->
      """WITH dims AS (SELECT doc_id, 2 + doc_id % 5 AS w, 1 + doc_id % 3 AS h
        |              FROM documents),
        |px AS (SELECT doc_id, w, h, x, y
        |       FROM dims, generate_series(0, 6) tx(x), generate_series(0, 2) ty(y)
        |       WHERE x < w AND y < h),
        |agg AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
        |          CAST(COUNT(*) AS BIGINT) AS n,
        |          CAST(SUM((doc_id * 5 + x * 7 + y * 13) % 256) AS BIGINT) AS sr,
        |          CAST(SUM((doc_id * 3 + x * 11 + y) % 256) AS BIGINT) AS sg,
        |          CAST(SUM((doc_id + x + y * 19) % 256) AS BIGINT) AS sb
        |        FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.w AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.h AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.n END AS n_pixels,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sr END AS sum_r,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sg END AS sum_g,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sb END AS sum_b
        |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // Flat-tile channel sums re-derived from the tile formula — the
    // engine must reproduce them THROUGH a real third-party JPEG
    // encoding (Huffman decode + dequant + IDCT + color convert);
    // quality-1.0 all-ones quant tables make the round trip exact.
    "q243_jpeg_decode" ->
      """WITH dims AS (SELECT doc_id, 1 + doc_id % 3 AS tw, 1 + doc_id % 2 AS th
        |              FROM documents),
        |t AS (SELECT doc_id, tw, th, tx, ty
        |      FROM dims, generate_series(0, 2) a(tx), generate_series(0, 1) b(ty)
        |      WHERE tx < tw AND ty < th),
        |agg AS (SELECT doc_id, MAX(tw) AS tw, MAX(th) AS th,
        |          CAST(SUM(((doc_id * 7 + tx * 13 + ty * 29) % 256) * 256) AS BIGINT) AS s
        |        FROM t GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.tw * 16 AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.th * 16 AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(3 AS INTEGER) END AS n_components,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.tw * a.th * 256 AS BIGINT) END AS n_pixels,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.s END AS sum_r,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.s END AS sum_g,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.s END AS sum_b
        |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // Palette-PNG channel sums re-derived from the palette + index
    // formulas — the engine must reproduce them THROUGH zlib
    // round-trip, unfiltering, sub-byte unpacking and PLTE lookup.
    "q244_png_palette" ->
      """WITH dims AS (SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 4
        |         WHEN 2 THEN 16 ELSE 256 END AS n,
        |    3 + doc_id % 6 AS w, 1 + doc_id % 4 AS h
        |  FROM documents),
        |px AS (SELECT doc_id, n, w, h, x, y
        |       FROM dims, generate_series(0, 7) a(x), generate_series(0, 3) b(y)
        |       WHERE x < w AND y < h),
        |agg AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
        |          CAST(COUNT(*) AS BIGINT) AS np,
        |          CAST(SUM((((doc_id + x * 3 + y * 5) % n) * 37) % 256) AS BIGINT) AS sr,
        |          CAST(SUM((((doc_id + x * 3 + y * 5) % n) * 59) % 256) AS BIGINT) AS sg,
        |          CAST(SUM((((doc_id + x * 3 + y * 5) % n) * 83) % 256) AS BIGINT) AS sb
        |        FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.w AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.h AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.np END AS n_pixels,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sr END AS sum_r,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sg END AS sum_g,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sb END AS sum_b
        |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // GIF channel sums re-derived from the palette + index formulas —
    // the engine must reproduce them THROUGH LZW decode (LSB-first
    // variable-width codes) and the color-table lookup.
    "q245_gif_decode" ->
      """WITH dims AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 8 END AS n,
        |    2 + doc_id % 6 AS w, 1 + doc_id % 4 AS h
        |  FROM documents),
        |px AS (SELECT doc_id, n, w, h, x, y
        |       FROM dims, generate_series(0, 6) a(x), generate_series(0, 3) b(y)
        |       WHERE x < w AND y < h),
        |agg AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
        |          CAST(COUNT(*) AS BIGINT) AS np,
        |          CAST(SUM((((doc_id * 3 + x * 7 + y * 11) % n) * 41) % 256) AS BIGINT) AS sr,
        |          CAST(SUM((((doc_id * 3 + x * 7 + y * 11) % n) * 73) % 256) AS BIGINT) AS sg,
        |          CAST(SUM((((doc_id * 3 + x * 7 + y * 11) % n) * 101) % 256) AS BIGINT) AS sb
        |        FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.w AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.h AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.w AS INTEGER) END AS frame_w,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.h AS INTEGER) END AS frame_h,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.np END AS n_pixels,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sr END AS sum_r,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sg END AS sum_g,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sb END AS sum_b
        |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // Flat-tile channel sums re-derived from the tile formula — the
    // engine must reproduce them THROUGH a real multi-scan
    // progressive encoding (DC/AC first passes, successive
    // approximation, AC refinement) at quality 1.0.
    "q246_jpeg_progressive" ->
      """WITH dims AS (SELECT doc_id, 1 + doc_id % 4 AS tw,
        |                1 + (doc_id // 2) % 2 AS th
        |              FROM documents),
        |t AS (SELECT doc_id, tw, th, tx, ty
        |      FROM dims, generate_series(0, 3) a(tx), generate_series(0, 1) b(ty)
        |      WHERE tx < tw AND ty < th),
        |agg AS (SELECT doc_id, MAX(tw) AS tw, MAX(th) AS th,
        |          CAST(SUM(((doc_id * 11 + tx * 23 + ty * 31) % 256) * 256) AS BIGINT) AS s
        |        FROM t GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.tw * 16 AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.th * 16 AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(3 AS INTEGER) END AS n_components,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.tw * a.th * 256 AS BIGINT) END AS n_pixels,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.s END AS sum_r,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.s END AS sum_g,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.s END AS sum_b
        |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // TIFF channel sums re-derived from the pixel formulas — the
    // engine must reproduce them THROUGH the IFD walk, strip
    // decompression (none / PackBits by doc parity) and sample walk.
    "q247_tiff_decode" ->
      """WITH dims AS (SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
        |              FROM documents),
        |px AS (SELECT doc_id, w, h, x, y
        |       FROM dims, generate_series(0, 8) a(x), generate_series(0, 4) b(y)
        |       WHERE x < w AND y < h),
        |agg AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
        |          CAST(COUNT(*) AS BIGINT) AS np,
        |          CAST(SUM((doc_id * 3 + x * 5 + y * 7) % 256) AS BIGINT) AS sr,
        |          CAST(SUM((doc_id * 7 + x * 11 + y) % 256) AS BIGINT) AS sg,
        |          CAST(SUM((doc_id + x + y * 13) % 256) AS BIGINT) AS sb
        |        FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.w AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.h AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(CASE d.doc_id % 2 WHEN 1 THEN 32773 ELSE 1 END
        |            AS INTEGER) END AS compression,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.np END AS n_pixels,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sr END AS sum_r,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sg END AS sum_g,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sb END AS sum_b
        |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // Audio stats re-derived in pure integer SQL — the G.711 μ-law /
    // A-law expansion formulas replay per sample byte, PCM samples
    // replay from their formula; peak/sum-of-squares in 16-bit units.
    "q248_audio_decode" ->
      """WITH dims AS (SELECT doc_id, 40 + doc_id % 30 AS n, doc_id % 4 AS variant
        |              FROM documents),
        |smp AS (SELECT doc_id, n, variant, i
        |        FROM dims, generate_series(0, 69) t(i) WHERE i < n),
        |v AS (SELECT doc_id, n, variant,
        |        CASE
        |          WHEN variant = 0 THEN (
        |            CASE WHEN (255 - ((doc_id * 7 + i * 13) % 256)) >= 128
        |                 THEN -1 ELSE 1 END *
        |            (((2 * ((255 - ((doc_id * 7 + i * 13) % 256)) % 16) + 33)
        |              * (1 << (((255 - ((doc_id * 7 + i * 13) % 256)) // 16) % 8))
        |              - 33) * 4))
        |          WHEN variant = 1 THEN (
        |            CASE WHEN xor((doc_id * 7 + i * 13) % 256, 85) >= 128
        |                 THEN 1 ELSE -1 END *
        |            (CASE WHEN ((xor((doc_id * 7 + i * 13) % 256, 85) // 16) % 8) = 0
        |                  THEN 2 * (xor((doc_id * 7 + i * 13) % 256, 85) % 16) + 1
        |                  ELSE (2 * (xor((doc_id * 7 + i * 13) % 256, 85) % 16) + 33)
        |                       * (1 << (((xor((doc_id * 7 + i * 13) % 256, 85) // 16) % 8) - 1))
        |             END) * 8)
        |          ELSE ((doc_id * 11 + i * 17) % 65536) - 32768
        |        END AS s
        |      FROM smp),
        |agg AS (SELECT doc_id, MAX(n) AS n, MAX(variant) AS variant,
        |          CAST(MAX(ABS(s)) AS BIGINT) AS pk,
        |          CAST(SUM(s * s) AS BIGINT) AS sq
        |        FROM v GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CASE a.variant WHEN 0 THEN 'au_ulaw' WHEN 1 THEN 'au_alaw'
        |            WHEN 2 THEN 'au_pcm16' ELSE 'aiff_pcm16' END END AS format,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CASE WHEN a.variant = 3 THEN 22050 ELSE 8000 END
        |       END AS sample_rate,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE 1 END AS channels,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CASE WHEN a.variant >= 2 THEN 16 ELSE 8 END END AS bits,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.n AS BIGINT) END AS n_frames,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.n * 1000 // (CASE WHEN a.variant = 3 THEN 22050
        |            ELSE 8000 END) AS BIGINT) END AS duration_ms,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.pk END AS peak_raw,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sq END AS sum_sq
        |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // ICO channel sums re-derived from the shared pixel formulas —
    // parity only switches which container carried them (32bpp DIB vs
    // embedded PNG), so sums are parity-independent.
    "q249_ico_decode" ->
      """WITH dims AS (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
        |              FROM documents),
        |px AS (SELECT doc_id, w, h, x, y
        |       FROM dims, generate_series(0, 7) a(x), generate_series(0, 4) b(y)
        |       WHERE x < w AND y < h),
        |agg AS (SELECT doc_id, MAX(w) AS w, MAX(h) AS h,
        |          CAST(COUNT(*) AS BIGINT) AS np,
        |          CAST(SUM((doc_id * 5 + x * 7 + y * 13) % 256) AS BIGINT) AS sr,
        |          CAST(SUM((doc_id * 3 + x * 11 + y) % 256) AS BIGINT) AS sg,
        |          CAST(SUM((doc_id + x + y * 19) % 256) AS BIGINT) AS sb
        |        FROM px GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE 1 END AS n_images,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.w AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.h AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CASE WHEN d.doc_id % 2 = 0 THEN 32 ELSE 8 END END AS bpp,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CASE WHEN d.doc_id % 2 = 0 THEN 'dib' ELSE 'png' END
        |       END AS inner,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.np END AS n_pixels,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sr END AS sum_r,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sg END AS sum_g,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.sb END AS sum_b
        |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // The union of every decode tier's replay — one leg per container
    // format, joined back to the corpus; junk ids (≡0 mod 50) appear
    // in no leg and surface as all-null rows, exactly like the engine.
    "q250_media_inspect" ->
      """WITH ids AS (SELECT doc_id FROM documents
        |             WHERE doc_id % 50 <> 0),
        |png AS (SELECT doc_id, 'png' AS fmt, MAX(w) AS w, MAX(h) AS h,
        |          CAST(COUNT(*) AS BIGINT) AS np,
        |          CAST(SUM((doc_id * 5 + x * 7 + y * 13) % 256) AS BIGINT) AS sr,
        |          CAST(SUM((doc_id * 3 + x * 11 + y) % 256) AS BIGINT) AS sg,
        |          CAST(SUM((doc_id + x + y * 19) % 256) AS BIGINT) AS sb
        |        FROM (SELECT doc_id, 2 + doc_id % 5 AS w, 1 + doc_id % 3 AS h
        |              FROM ids WHERE doc_id % 8 = 0) d,
        |             generate_series(0, 6) a(x), generate_series(0, 2) b(y)
        |        WHERE x < w AND y < h GROUP BY doc_id),
        |jpg AS (SELECT doc_id, 'jpeg' AS fmt,
        |          CAST(MAX(tw) * 16 AS BIGINT) AS w,
        |          CAST(MAX(th) * 16 AS BIGINT) AS h,
        |          CAST(MAX(tw) * MAX(th) * 256 AS BIGINT) AS np,
        |          CAST(SUM(((doc_id * 7 + tx * 13 + ty * 29) % 256) * 256) AS BIGINT) AS sr,
        |          CAST(SUM(((doc_id * 7 + tx * 13 + ty * 29) % 256) * 256) AS BIGINT) AS sg,
        |          CAST(SUM(((doc_id * 7 + tx * 13 + ty * 29) % 256) * 256) AS BIGINT) AS sb
        |        FROM (SELECT doc_id, 1 + doc_id % 3 AS tw, 1 + doc_id % 2 AS th
        |              FROM ids WHERE doc_id % 8 = 1) d,
        |             generate_series(0, 2) a(tx), generate_series(0, 1) b(ty)
        |        WHERE tx < tw AND ty < th GROUP BY doc_id),
        |gif AS (SELECT doc_id, 'gif' AS fmt, MAX(w) AS w, MAX(h) AS h,
        |          CAST(COUNT(*) AS BIGINT) AS np,
        |          CAST(SUM((((doc_id * 3 + x * 7 + y * 11) % n) * 41) % 256) AS BIGINT) AS sr,
        |          CAST(SUM((((doc_id * 3 + x * 7 + y * 11) % n) * 73) % 256) AS BIGINT) AS sg,
        |          CAST(SUM((((doc_id * 3 + x * 7 + y * 11) % n) * 101) % 256) AS BIGINT) AS sb
        |        FROM (SELECT doc_id,
        |                CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 4 ELSE 8 END AS n,
        |                2 + doc_id % 6 AS w, 1 + doc_id % 4 AS h
        |              FROM ids WHERE doc_id % 8 = 2) d,
        |             generate_series(0, 6) a(x), generate_series(0, 3) b(y)
        |        WHERE x < w AND y < h GROUP BY doc_id),
        |bmp AS (SELECT doc_id, 'bmp' AS fmt, MAX(w) AS w, MAX(h) AS h,
        |          CAST(COUNT(*) AS BIGINT) AS np,
        |          CAST(SUM((doc_id + x * 3 + y * 5) % 256) AS BIGINT) AS sr,
        |          CAST(SUM((doc_id * 5 + x * 7 + y) % 256) AS BIGINT) AS sg,
        |          CAST(SUM((doc_id * 9 + x + y * 11) % 256) AS BIGINT) AS sb
        |        FROM (SELECT doc_id, 2 + doc_id % 5 AS w, 1 + doc_id % 4 AS h
        |              FROM ids WHERE doc_id % 8 = 3) d,
        |             generate_series(0, 6) a(x), generate_series(0, 3) b(y)
        |        WHERE x < w AND y < h GROUP BY doc_id),
        |tif AS (SELECT doc_id, 'tiff' AS fmt, MAX(w) AS w, MAX(h) AS h,
        |          CAST(COUNT(*) AS BIGINT) AS np,
        |          CAST(SUM((doc_id * 3 + x * 5 + y * 7) % 256) AS BIGINT) AS sr,
        |          CAST(SUM((doc_id * 7 + x * 11 + y) % 256) AS BIGINT) AS sg,
        |          CAST(SUM((doc_id + x + y * 13) % 256) AS BIGINT) AS sb
        |        FROM (SELECT doc_id, 2 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
        |              FROM ids WHERE doc_id % 8 = 4) d,
        |             generate_series(0, 8) a(x), generate_series(0, 4) b(y)
        |        WHERE x < w AND y < h GROUP BY doc_id),
        |ico AS (SELECT doc_id, 'ico' AS fmt, MAX(w) AS w, MAX(h) AS h,
        |          CAST(COUNT(*) AS BIGINT) AS np,
        |          CAST(SUM((doc_id * 5 + x * 7 + y * 13) % 256) AS BIGINT) AS sr,
        |          CAST(SUM((doc_id * 3 + x * 11 + y) % 256) AS BIGINT) AS sg,
        |          CAST(SUM((doc_id + x + y * 19) % 256) AS BIGINT) AS sb
        |        FROM (SELECT doc_id, 3 + doc_id % 5 AS w, 2 + doc_id % 3 AS h
        |              FROM ids WHERE doc_id % 8 = 5) d,
        |             generate_series(0, 7) a(x), generate_series(0, 4) b(y)
        |        WHERE x < w AND y < h GROUP BY doc_id),
        |img AS (SELECT * FROM png UNION ALL SELECT * FROM jpg
        |        UNION ALL SELECT * FROM gif UNION ALL SELECT * FROM bmp
        |        UNION ALL SELECT * FROM tif UNION ALL SELECT * FROM ico),
        |auv AS (SELECT doc_id, n,
        |          CASE WHEN (255 - ((doc_id * 7 + i * 13) % 256)) >= 128
        |               THEN -1 ELSE 1 END *
        |          (((2 * ((255 - ((doc_id * 7 + i * 13) % 256)) % 16) + 33)
        |            * (1 << (((255 - ((doc_id * 7 + i * 13) % 256)) // 16) % 8))
        |            - 33) * 4) AS s
        |        FROM (SELECT doc_id, 40 + doc_id % 30 AS n
        |              FROM ids WHERE doc_id % 8 = 6) d,
        |             generate_series(0, 69) t(i) WHERE i < n),
        |aifv AS (SELECT doc_id, n,
        |           ((doc_id * 11 + i * 17) % 65536) - 32768 AS s
        |         FROM (SELECT doc_id, 40 + doc_id % 30 AS n
        |               FROM ids WHERE doc_id % 8 = 7) d,
        |              generate_series(0, 69) t(i) WHERE i < n),
        |aud AS (SELECT doc_id, 'au_ulaw' AS fmt, 8000 AS rate,
        |          CAST(MAX(n) AS BIGINT) AS nf,
        |          CAST(MAX(ABS(s)) AS BIGINT) AS pk,
        |          CAST(SUM(s * s) AS BIGINT) AS sq
        |        FROM auv GROUP BY doc_id
        |        UNION ALL
        |        SELECT doc_id, 'aiff_pcm16' AS fmt, 22050 AS rate,
        |          CAST(MAX(n) AS BIGINT) AS nf,
        |          CAST(MAX(ABS(s)) AS BIGINT) AS pk,
        |          CAST(SUM(s * s) AS BIGINT) AS sq
        |        FROM aifv GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  COALESCE(img.fmt, aud.fmt) AS format,
        |  CAST(img.w AS INTEGER) AS width,
        |  CAST(img.h AS INTEGER) AS height,
        |  img.np AS n_pixels, img.sr AS sum_r, img.sg AS sum_g, img.sb AS sum_b,
        |  CAST(aud.rate AS INTEGER) AS sample_rate, aud.nf AS n_frames,
        |  aud.pk AS peak_raw, aud.sq AS sum_sq
        |FROM documents d
        |LEFT JOIN img ON img.doc_id = d.doc_id
        |LEFT JOIN aud ON aud.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // The dHash replayed end-to-end in integer SQL: luma-1000 per
    // pixel, 2×2 block sums, horizontal comparisons, bit pack into
    // 32-bit halves.
    "q251_image_dhash" ->
      """WITH px AS (SELECT doc_id, x, y,
        |    299 * ((doc_id * 7 + x * 13 + y * 29) % 256)
        |  + 587 * ((doc_id * 5 + x * 3 + y * 11) % 256)
        |  + 114 * ((doc_id * 3 + x + y * 7) % 256) AS l
        |  FROM documents, generate_series(0, 17) a(x), generate_series(0, 15) b(y)
        |  WHERE doc_id % 50 <> 0),
        |blk AS (SELECT doc_id, x // 2 AS bx, y // 2 AS by,
        |          CAST(SUM(l) AS BIGINT) AS s
        |        FROM px GROUP BY 1, 2, 3),
        |bits AS (SELECT a.doc_id, a.by * 8 + a.bx AS k
        |         FROM blk a JOIN blk b ON a.doc_id = b.doc_id
        |           AND a.by = b.by AND b.bx = a.bx + 1
        |         WHERE a.bx < 8 AND a.s > b.s),
        |hi AS (SELECT doc_id, CAST(SUM(CAST(1 AS BIGINT) << (k - 32)) AS BIGINT) AS v
        |       FROM bits WHERE k >= 32 GROUP BY 1),
        |lo AS (SELECT doc_id, CAST(SUM(CAST(1 AS BIGINT) << k) AS BIGINT) AS v
        |       FROM bits WHERE k < 32 GROUP BY 1)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE COALESCE(hi.v, 0) END AS dhash_hi,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE COALESCE(lo.v, 0) END AS dhash_lo
        |FROM documents d
        |LEFT JOIN hi ON hi.doc_id = d.doc_id
        |LEFT JOIN lo ON lo.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // Hashes recomputed exactly as q251 (with the septet/bump pixel
    // formulas), then ALL pairwise XOR bit counts — pinning both the
    // hash arithmetic and the banded join's pigeonhole completeness.
    "q252_image_neardup" ->
      """WITH px AS (SELECT doc_id, x, y,
        |    299 * (((doc_id // 7) * 11 + x * 17 + y * 23) % 200
        |           + CASE WHEN x = (doc_id % 7) * 2 AND y = 3 THEN 40 ELSE 0 END)
        |  + 587 * (((doc_id // 7) * 13 + x * 5 + y * 19) % 256)
        |  + 114 * (((doc_id // 7) * 17 + x * 7 + y * 3) % 256) AS l
        |  FROM documents, generate_series(0, 17) a(x), generate_series(0, 15) b(y)
        |  WHERE doc_id % 50 <> 0),
        |blk AS (SELECT doc_id, x // 2 AS bx, y // 2 AS by,
        |          CAST(SUM(l) AS BIGINT) AS s
        |        FROM px GROUP BY 1, 2, 3),
        |bits AS (SELECT a.doc_id, a.by * 8 + a.bx AS k
        |         FROM blk a JOIN blk b ON a.doc_id = b.doc_id
        |           AND a.by = b.by AND b.bx = a.bx + 1
        |         WHERE a.bx < 8 AND a.s > b.s),
        |hv AS (SELECT p.doc_id,
        |         COALESCE((SELECT CAST(SUM(CAST(1 AS BIGINT) << (k - 32)) AS BIGINT)
        |                   FROM bits WHERE bits.doc_id = p.doc_id AND k >= 32), 0) AS hi,
        |         COALESCE((SELECT CAST(SUM(CAST(1 AS BIGINT) << k) AS BIGINT)
        |                   FROM bits WHERE bits.doc_id = p.doc_id AND k < 32), 0) AS lo
        |       FROM (SELECT DISTINCT doc_id FROM px) p)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT)
        |    AS hamming
        |FROM hv a JOIN hv b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
        |ORDER BY id1, id2""".stripMargin,

    // The video-metadata formulas replayed: per-id routing (junk /
    // avi / mp4) and the integer duration math on each leg.
    "q254_video_metadata" ->
      """SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 7 = 3 THEN 'avi' ELSE 'mp4' END AS format,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 7 = 3 THEN CAST(320 + (d.doc_id % 5) * 16 AS INTEGER)
        |       ELSE CAST(16 * (2 + d.doc_id % 20) AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 7 = 3 THEN CAST(240 + (d.doc_id % 4) * 16 AS INTEGER)
        |       ELSE CAST(9 * (2 + d.doc_id % 20) AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 7 = 3 THEN CAST(24 + d.doc_id % 100 AS BIGINT)
        |       ELSE CAST(24 + d.doc_id % 96 AS BIGINT) END AS n_samples,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 7 = 3 THEN CAST((24 + d.doc_id % 100)
        |            * (33000 + (d.doc_id % 3) * 1000) // 1000 AS BIGINT)
        |       ELSE CAST(40 * (24 + d.doc_id % 96) AS BIGINT) END AS duration_ms,
        |  CASE WHEN d.doc_id % 50 = 0 OR d.doc_id % 7 = 3 THEN NULL
        |       WHEN d.doc_id % 3 = 0 THEN 'avc1'
        |       WHEN d.doc_id % 3 = 1 THEN 'hvc1'
        |       ELSE 'vp09' END AS codec,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 7 = 3 THEN CAST(1 + d.doc_id % 2 AS INTEGER)
        |       ELSE 2 END AS n_tracks
        |FROM documents d
        |ORDER BY media_id""".stripMargin,

    // The EXIF formulas replayed: per-id orientation/make/model/
    // timestamp/dims; junk ids all-null.
    "q256_exif" ->
      """SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(1 + d.doc_id % 8 AS INTEGER) END AS orientation,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE 'Camera' || CAST(d.doc_id % 5 AS VARCHAR) END AS make,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE 'Model' || CAST(d.doc_id % 4 AS VARCHAR) END AS model,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE '2020:01:01 00:00:' ||
        |            LPAD(CAST(d.doc_id % 60 AS VARCHAR), 2, '0')
        |       END AS date_time,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(16 * (1 + d.doc_id % 10) AS INTEGER) END AS pixel_x,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(9 * (1 + d.doc_id % 10) AS INTEGER) END AS pixel_y
        |FROM documents d
        |ORDER BY media_id""".stripMargin,

    // The MP3 formulas replayed: per-id bitrate/channels/frame-count
    // routing and the 36 ms/frame duration.
    "q257_mp3_metadata" ->
      """SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE 1 END AS version,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE 3 END AS layer,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 3 = 0 THEN 64
        |       WHEN d.doc_id % 3 = 1 THEN 128
        |       ELSE 160 END AS bitrate_kbps,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE 32000 END AS sample_rate,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 2 = 0 THEN 1 ELSE 2 END AS channels,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(5 + d.doc_id % 20 AS BIGINT) END AS n_frames,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(36 * (5 + d.doc_id % 20) AS BIGINT) END AS duration_ms
        |FROM documents d
        |ORDER BY media_id""".stripMargin,

    // Per-frame sums re-derived from the tile / pixel formulas — the
    // engine must reproduce them THROUGH the AVI container walk plus
    // a real third-party JPEG encoding (MJPEG leg) or the padded
    // bottom-up DIB layout. Junk payloads contribute no rows.
    "q258_video_frames" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |mj AS (SELECT doc_id, f, 1 + doc_id % 2 AS tw
        |       FROM ids, generate_series(0, 4) t(f)
        |       WHERE doc_id % 5 <> 2 AND f < 2 + doc_id % 3),
        |mjagg AS (SELECT doc_id, f, MAX(tw) AS tw,
        |    CAST(SUM(((doc_id * 7 + f * 11 + tx * 13) % 256) * 256) AS BIGINT) AS s
        |  FROM mj, generate_series(0, 1) a(tx) WHERE tx < tw
        |  GROUP BY doc_id, f),
        |dib AS (SELECT doc_id, f, 4 + doc_id % 7 AS w, 2 + doc_id % 3 AS h
        |        FROM ids, generate_series(0, 5) t(f)
        |        WHERE doc_id % 5 = 2 AND f < 2 + doc_id % 4),
        |dibagg AS (SELECT doc_id, f, MAX(w) AS w, MAX(h) AS h,
        |    CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST(SUM((doc_id + f * 17 + x * 3 + r * 7) % 256) AS BIGINT) AS sr,
        |    CAST(SUM((doc_id * 2 + f * 5 + x * 11 + r) % 256) AS BIGINT) AS sg,
        |    CAST(SUM((doc_id * 3 + f + x + r * 13) % 256) AS BIGINT) AS sb
        |  FROM dib, generate_series(0, 10) a(x), generate_series(0, 4) b(r)
        |  WHERE x < w AND r < h
        |  GROUP BY doc_id, f)
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |  'mjpeg' AS codec, CAST(tw * 16 AS INTEGER) AS width,
        |  CAST(16 AS INTEGER) AS height, CAST(tw * 256 AS BIGINT) AS n_pixels,
        |  s AS sum_r, s AS sum_g, s AS sum_b
        |FROM mjagg
        |UNION ALL
        |SELECT doc_id, CAST(f AS INTEGER), 'dib', CAST(w AS INTEGER),
        |  CAST(h AS INTEGER), np, sr, sg, sb
        |FROM dibagg
        |ORDER BY media_id, frame_idx""".stripMargin,

    // q258's MJPEG frame formulas, reached through the ISO-BMFF
    // sample tables instead of the RIFF chunk walk.
    "q274_mp4_frames" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |mj AS (SELECT doc_id, f, 1 + doc_id % 2 AS tw
        |       FROM ids, generate_series(0, 4) t(f)
        |       WHERE f < 2 + doc_id % 3),
        |mjagg AS (SELECT doc_id, f, MAX(tw) AS tw,
        |    CAST(SUM(((doc_id * 7 + f * 11 + tx * 13) % 256) * 256) AS BIGINT) AS s
        |  FROM mj, generate_series(0, 1) a(tx) WHERE tx < tw
        |  GROUP BY doc_id, f)
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |  'mjpeg' AS codec, CAST(tw * 16 AS INTEGER) AS width,
        |  CAST(16 AS INTEGER) AS height, CAST(tw * 256 AS BIGINT) AS n_pixels,
        |  s AS sum_r, s AS sum_g, s AS sum_b
        |FROM mjagg
        |ORDER BY media_id, frame_idx""".stripMargin,

    // Per-frame dHashes re-derived: pixel → luma → 9×8 floor-boundary
    // block sum·count cross products → bit pack, per frame. The MJPEG
    // leg rides flat-tile losslessness (pixel == tile formula value,
    // luma = 1000·v); block x-extents use the exact floor boundaries
    // bx·w//9, compared as s·cnt cross products since widths differ.
    "q259_video_framehash" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |mj AS (SELECT doc_id, f, 16 * (1 + doc_id % 2) AS w
        |       FROM ids, generate_series(0, 4) t(f)
        |       WHERE doc_id % 5 = 2 AND f < 2 + doc_id % 3),
        |mjpx AS (SELECT doc_id, f, w, x, y,
        |           1000 * ((doc_id * 7 + f * 11 + (x // 16) * 13) % 256) AS l
        |         FROM mj, generate_series(0, 31) a(x), generate_series(0, 15) b(y)
        |         WHERE x < w),
        |dib AS (SELECT doc_id, f FROM ids, generate_series(0, 5) t(f)
        |        WHERE doc_id % 5 <> 2 AND f < 2 + doc_id % 4),
        |dibpx AS (SELECT doc_id, f, 18 AS w, x, y,
        |            299 * ((doc_id * 5 + f * 7 + x * 13 + y * 29) % 256)
        |          + 587 * ((doc_id * 3 + f * 11 + x * 3 + y * 17) % 256)
        |          + 114 * ((doc_id * 7 + f * 13 + x + y * 7) % 256) AS l
        |          FROM dib, generate_series(0, 17) a(x), generate_series(0, 15) b(y)),
        |px AS (SELECT * FROM mjpx UNION ALL SELECT * FROM dibpx),
        |blk AS (SELECT doc_id, f, bx, y // 2 AS by,
        |          CAST(SUM(l) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS cnt
        |        FROM px, generate_series(0, 8) g(bx)
        |        WHERE x >= bx * w // 9 AND x < (bx + 1) * w // 9
        |        GROUP BY 1, 2, 3, 4),
        |bits AS (SELECT a.doc_id, a.f, a.by * 8 + a.bx AS k
        |         FROM blk a JOIN blk b ON a.doc_id = b.doc_id AND a.f = b.f
        |           AND a.by = b.by AND b.bx = a.bx + 1
        |         WHERE a.bx < 8 AND a.s * b.cnt > b.s * a.cnt),
        |frames AS (SELECT DISTINCT doc_id, f FROM px)
        |SELECT fr.doc_id AS media_id, CAST(fr.f AS INTEGER) AS frame_idx,
        |  COALESCE((SELECT CAST(SUM(CAST(1 AS BIGINT) << (k - 32)) AS BIGINT)
        |            FROM bits WHERE bits.doc_id = fr.doc_id AND bits.f = fr.f
        |              AND k >= 32), 0) AS dhash_hi,
        |  COALESCE((SELECT CAST(SUM(CAST(1 AS BIGINT) << k) AS BIGINT)
        |            FROM bits WHERE bits.doc_id = fr.doc_id AND bits.f = fr.f
        |              AND k < 32), 0) AS dhash_lo
        |FROM frames fr
        |ORDER BY media_id, frame_idx""".stripMargin,

    // Frame hashes recomputed (sextet/bump formulas), then ALL
    // aligned pairwise XOR bit counts and the integer threshold —
    // pinning hash arithmetic, pigeonhole completeness, and the
    // 2·matched ≥ min(n1,n2) gate.
    "q260_video_neardup" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |fr AS (SELECT doc_id, doc_id // 6 AS g, f
        |       FROM ids, generate_series(0, 3) t(f)
        |       WHERE f < 3 + (doc_id // 6) % 2),
        |px AS (SELECT doc_id, f, x, y,
        |    299 * LEAST(255, (g * 11 + f * 19 + x * 17 + y * 23) % 200
        |          + CASE WHEN x = (doc_id % 6) * 2 AND y = 3 THEN 40 ELSE 0 END)
        |  + 587 * ((g * 13 + f * 7 + x * 5 + y * 19) % 256)
        |  + 114 * ((g * 17 + f * 3 + x * 7 + y * 3) % 256) AS l
        |  FROM fr, generate_series(0, 17) a(x), generate_series(0, 15) b(y)),
        |blk AS (SELECT doc_id, f, x // 2 AS bx, y // 2 AS by,
        |          CAST(SUM(l) AS BIGINT) AS s
        |        FROM px GROUP BY 1, 2, 3, 4),
        |bits AS (SELECT a.doc_id, a.f, a.by * 8 + a.bx AS k
        |         FROM blk a JOIN blk b ON a.doc_id = b.doc_id AND a.f = b.f
        |           AND a.by = b.by AND b.bx = a.bx + 1
        |         WHERE a.bx < 8 AND a.s > b.s),
        |hv AS (SELECT fr.doc_id, fr.f,
        |         COALESCE((SELECT CAST(SUM(CAST(1 AS BIGINT) << (k - 32)) AS BIGINT)
        |                   FROM bits WHERE bits.doc_id = fr.doc_id
        |                     AND bits.f = fr.f AND k >= 32), 0) AS hi,
        |         COALESCE((SELECT CAST(SUM(CAST(1 AS BIGINT) << k) AS BIGINT)
        |                   FROM bits WHERE bits.doc_id = fr.doc_id
        |                     AND bits.f = fr.f AND k < 32), 0) AS lo
        |       FROM fr),
        |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |            CAST(COUNT(*) AS BIGINT) AS matched
        |          FROM hv a JOIN hv b ON a.f = b.f AND a.doc_id < b.doc_id
        |          WHERE bit_count(xor(a.hi, b.hi))
        |              + bit_count(xor(a.lo, b.lo)) <= 3
        |          GROUP BY 1, 2),
        |cnts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM hv GROUP BY 1)
        |SELECT id1, id2, matched AS matched_frames,
        |  c1.nf AS n1, c2.nf AS n2
        |FROM pairs
        |JOIN cnts c1 ON c1.doc_id = id1
        |JOIN cnts c2 ON c2.doc_id = id2
        |WHERE matched * 2 >= LEAST(c1.nf, c2.nf)
        |ORDER BY id1, id2""".stripMargin,

    // Cue timings and text replayed from the integer formulas — the
    // engine must reproduce them THROUGH the SRT/VTT text layouts
    // (headers, NOTE blocks, cue ids, index lines, stamp formats).
    "q261_subtitles" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |cues AS (SELECT doc_id, k FROM ids, generate_series(0, 3) t(k)
        |         WHERE k < 1 + doc_id % 4)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'vtt' ELSE 'srt' END AS format,
        |  CAST(k AS INTEGER) AS cue_idx,
        |  CAST((doc_id % 900) * 1000 + k * 1500 AS BIGINT) AS start_ms,
        |  CAST((doc_id % 900) * 1000 + k * 1500 + 1200 AS BIGINT) AS end_ms,
        |  'cue ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(k AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 <> 0 AND k % 2 = 0
        |         THEN chr(10) || 'more ' || CAST(k AS VARCHAR) ELSE '' END AS text
        |FROM cues
        |ORDER BY media_id, cue_idx""".stripMargin,

    // Frame hashes replayed with the per-scene formula (f//3), then
    // the cut chain: LAG, XOR bit count > 10, running scene sum,
    // scene rollup — pinning detection AND rollup arithmetic.
    "q262_scene_cuts" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |fr AS (SELECT doc_id, f FROM ids, generate_series(0, 7) t(f)
        |       WHERE f < 5 + doc_id % 4),
        |px AS (SELECT doc_id, f, x, y,
        |    299 * ((doc_id * 5 + (f // 3) * 97 + x * 13 + y * 29) % 256)
        |  + 587 * ((doc_id * 3 + (f // 3) * 89 + x * 3 + y * 17) % 256)
        |  + 114 * ((doc_id * 7 + (f // 3) * 83 + x + y * 7) % 256) AS l
        |  FROM fr, generate_series(0, 17) a(x), generate_series(0, 15) b(y)),
        |blk AS (SELECT doc_id, f, x // 2 AS bx, y // 2 AS by,
        |          CAST(SUM(l) AS BIGINT) AS s
        |        FROM px GROUP BY 1, 2, 3, 4),
        |bits AS (SELECT a.doc_id, a.f, a.by * 8 + a.bx AS k
        |         FROM blk a JOIN blk b ON a.doc_id = b.doc_id AND a.f = b.f
        |           AND a.by = b.by AND b.bx = a.bx + 1
        |         WHERE a.bx < 8 AND a.s > b.s),
        |hv AS (SELECT fr.doc_id, fr.f,
        |         COALESCE((SELECT CAST(SUM(CAST(1 AS BIGINT) << (k - 32)) AS BIGINT)
        |                   FROM bits WHERE bits.doc_id = fr.doc_id
        |                     AND bits.f = fr.f AND k >= 32), 0) AS hi,
        |         COALESCE((SELECT CAST(SUM(CAST(1 AS BIGINT) << k) AS BIGINT)
        |                   FROM bits WHERE bits.doc_id = fr.doc_id
        |                     AND bits.f = fr.f AND k < 32), 0) AS lo
        |       FROM fr),
        |lagd AS (SELECT doc_id, f, hi, lo,
        |           LAG(hi) OVER (PARTITION BY doc_id ORDER BY f) AS phi,
        |           LAG(lo) OVER (PARTITION BY doc_id ORDER BY f) AS plo
        |         FROM hv),
        |cut AS (SELECT doc_id, f,
        |          CASE WHEN phi IS NULL THEN 0
        |               WHEN bit_count(xor(hi, phi)) + bit_count(xor(lo, plo)) > 10
        |               THEN 1 ELSE 0 END AS c
        |        FROM lagd),
        |scn AS (SELECT doc_id, f,
        |          SUM(c) OVER (PARTITION BY doc_id ORDER BY f) AS scene
        |        FROM cut)
        |SELECT doc_id AS media_id, CAST(scene AS BIGINT) AS scene_idx,
        |  CAST(MIN(f) AS BIGINT) AS start_frame,
        |  CAST(COUNT(*) AS BIGINT) AS n_frames
        |FROM scn GROUP BY 1, 2
        |ORDER BY media_id, scene_idx""".stripMargin,

    // Cue timings, the 40 ms frame grid and the integer midpoint
    // argmin replayed; the engine must reproduce them THROUGH real
    // SRT parsing and real AVI frame decode.
    "q263_cue_frame_align" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |cues AS (SELECT doc_id, k, k * 90 + (doc_id % 7) * 10 AS s
        |         FROM ids, generate_series(0, 2) t(k) WHERE k < 1 + doc_id % 3),
        |fr AS (SELECT doc_id, f, f * 40 AS t
        |       FROM ids, generate_series(0, 7) g(f) WHERE f < 5 + doc_id % 4),
        |j AS (SELECT c.doc_id, c.k, c.s, f.f, f.t,
        |        ROW_NUMBER() OVER (PARTITION BY c.doc_id, c.k
        |          ORDER BY ABS(2 * f.t - (2 * c.s + 100)), f.f) AS rn
        |      FROM cues c JOIN fr f ON f.doc_id = c.doc_id
        |        AND f.t >= c.s AND f.t < c.s + 100)
        |SELECT doc_id AS media_id, CAST(k AS INTEGER) AS cue_idx,
        |  CAST(s AS BIGINT) AS start_ms, CAST(s + 100 AS BIGINT) AS end_ms,
        |  'cue ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(k AS VARCHAR) AS text,
        |  CAST(f AS BIGINT) AS key_frame, CAST(t AS BIGINT) AS frame_ms
        |FROM j WHERE rn = 1
        |ORDER BY media_id, cue_idx""".stripMargin,

    // The clean text stated directly — the engine must reproduce it
    // THROUGH voice/styling tag spans, an inline karaoke timestamp
    // and the &amp; entity.
    "q264_cue_markup" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |cues AS (SELECT doc_id, k FROM ids, generate_series(0, 2) t(k)
        |         WHERE k < 1 + doc_id % 3)
        |SELECT doc_id AS media_id, 'vtt' AS format,
        |  CAST(k AS INTEGER) AS cue_idx,
        |  CAST(k * 2000 + doc_id % 100 AS BIGINT) AS start_ms,
        |  CAST(k * 2000 + doc_id % 100 + 1500 AS BIGINT) AS end_ms,
        |  'cue ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(k AS VARCHAR)
        |    || ' & more' AS text
        |FROM cues
        |ORDER BY media_id, cue_idx""".stripMargin,

    // Distinct-video counts over the folded text key recomputed: the
    // planted outro (both case variants fold together) counts every
    // non-junk video; unique cues count 1.
    "q265_cue_boilerplate" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM ids),
        |cues AS (SELECT doc_id, k FROM ids, generate_series(0, 2) t(k)
        |         WHERE k < 2 + doc_id % 2)
        |SELECT doc_id AS media_id, CAST(k AS INTEGER) AS cue_idx,
        |  CASE WHEN k = 0 THEN
        |         CASE WHEN doc_id % 2 = 0 THEN 'Thanks For Watching'
        |              ELSE 'thanks for watching' END
        |       ELSE 'unique cue ' || CAST(doc_id AS VARCHAR) || ' '
        |            || CAST(k AS VARCHAR) END AS text,
        |  CASE WHEN k = 0 THEN (SELECT nv FROM tot)
        |       ELSE CAST(1 AS BIGINT) END AS n_videos,
        |  k = 0 AS is_boilerplate
        |FROM cues
        |ORDER BY media_id, cue_idx""".stripMargin,

    // The whole v6 chain re-derived: per-frame hashes from the sextet
    // pixel formulas, the aligned-pair near-dup gate, keep-lower-id
    // drop set, LAG scene chain over survivors, integer argmin cue
    // alignment, scene containment.
    "q266_curation_v6" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |fr AS (SELECT doc_id, doc_id // 6 AS g, doc_id % 6 AS m, f
        |       FROM ids, generate_series(0, 8) t(f)
        |       WHERE f < 6 + ((doc_id // 6) % 2) * 3),
        |px AS (SELECT doc_id, f, x, y,
        |    299 * LEAST(255, (g * 11 + (f // 3) * 97 + x * 17 + y * 23) % 200
        |          + CASE WHEN x = m * 2 AND y = 3 THEN 40 ELSE 0 END)
        |  + 587 * ((g * 13 + (f // 3) * 89 + x * 5 + y * 19) % 256)
        |  + 114 * ((g * 17 + (f // 3) * 83 + x * 7 + y * 3) % 256) AS l
        |  FROM fr, generate_series(0, 17) a(x), generate_series(0, 15) b(y)),
        |blk AS (SELECT doc_id, f, x // 2 AS bx, y // 2 AS by,
        |          CAST(SUM(l) AS BIGINT) AS s
        |        FROM px GROUP BY 1, 2, 3, 4),
        |bits AS (SELECT a.doc_id, a.f, a.by * 8 + a.bx AS k
        |         FROM blk a JOIN blk b ON a.doc_id = b.doc_id AND a.f = b.f
        |           AND a.by = b.by AND b.bx = a.bx + 1
        |         WHERE a.bx < 8 AND a.s > b.s),
        |hv AS (SELECT fr.doc_id, fr.f,
        |         COALESCE((SELECT CAST(SUM(CAST(1 AS BIGINT) << (k - 32)) AS BIGINT)
        |                   FROM bits WHERE bits.doc_id = fr.doc_id
        |                     AND bits.f = fr.f AND k >= 32), 0) AS hi,
        |         COALESCE((SELECT CAST(SUM(CAST(1 AS BIGINT) << k) AS BIGINT)
        |                   FROM bits WHERE bits.doc_id = fr.doc_id
        |                     AND bits.f = fr.f AND k < 32), 0) AS lo
        |       FROM fr),
        |prs AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |          CAST(COUNT(*) AS BIGINT) AS matched
        |        FROM hv a JOIN hv b ON a.f = b.f AND a.doc_id < b.doc_id
        |        WHERE bit_count(xor(a.hi, b.hi))
        |            + bit_count(xor(a.lo, b.lo)) <= 3
        |        GROUP BY 1, 2),
        |cnts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM hv GROUP BY 1),
        |dropd AS (SELECT DISTINCT id2 FROM prs
        |          JOIN cnts c1 ON c1.doc_id = id1
        |          JOIN cnts c2 ON c2.doc_id = id2
        |          WHERE matched * 2 >= LEAST(c1.nf, c2.nf)),
        |khv AS (SELECT hv.* FROM hv
        |        WHERE doc_id NOT IN (SELECT id2 FROM dropd)),
        |lagd AS (SELECT doc_id, f, hi, lo,
        |           LAG(hi) OVER (PARTITION BY doc_id ORDER BY f) AS phi,
        |           LAG(lo) OVER (PARTITION BY doc_id ORDER BY f) AS plo
        |         FROM khv),
        |cut AS (SELECT doc_id, f,
        |          CASE WHEN phi IS NULL THEN 0
        |               WHEN bit_count(xor(hi, phi)) + bit_count(xor(lo, plo)) > 10
        |               THEN 1 ELSE 0 END AS c
        |        FROM lagd),
        |scn AS (SELECT doc_id, f,
        |          SUM(c) OVER (PARTITION BY doc_id ORDER BY f) AS scene
        |        FROM cut),
        |scenes AS (SELECT doc_id, scene, MIN(f) AS start_f, COUNT(*) AS n
        |           FROM scn GROUP BY 1, 2),
        |cues AS (SELECT doc_id, k, k * 110 AS s0
        |         FROM ids, generate_series(0, 2) t(k) WHERE k < 2 + doc_id % 2),
        |alg AS (SELECT c.doc_id, c.k, f2.f,
        |          ROW_NUMBER() OVER (PARTITION BY c.doc_id, c.k
        |            ORDER BY ABS(2 * (f2.f * 40) - (2 * c.s0 + 100)), f2.f) AS rn
        |        FROM cues c JOIN khv f2 ON f2.doc_id = c.doc_id
        |          AND f2.f * 40 >= c.s0 AND f2.f * 40 < c.s0 + 100)
        |SELECT p.doc_id AS media_id, CAST(p.k AS INTEGER) AS cue_idx,
        |  'cue ' || CAST(p.doc_id AS VARCHAR) || ' ' || CAST(p.k AS VARCHAR) AS text,
        |  CAST(p.f AS BIGINT) AS key_frame, CAST(sc.scene AS BIGINT) AS scene_idx
        |FROM alg p JOIN scenes sc ON sc.doc_id = p.doc_id
        |  AND p.f >= sc.start_f AND p.f < sc.start_f + sc.n
        |WHERE p.rn = 1
        |ORDER BY media_id, cue_idx""".stripMargin,

    // The clean text stated directly — the engine must reproduce it
    // THROUGH doctype/script/style/comment elision, a quoted '>'
    // attribute, entity decode and block-tag line breaks.
    "q267_html_extract" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 50 = 0
        |       THEN 'plain, no markup ' || CAST(doc_id AS VARCHAR)
        |       ELSE 'T' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |            'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |            'para one ' || CAST(doc_id AS VARCHAR) || ' & stuff' || chr(10) ||
        |            'div text ' || CAST(doc_id AS VARCHAR)
        |  END AS text
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // Member names/texts replayed through the real LZMA2 archives;
    // truncated ids are exactly one corrupt sentinel each.
    "q316_sevenz_members" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |ok AS (SELECT doc_id, k FROM ids, generate_series(0, 2) g(k)
        |       WHERE k < 1 + doc_id % 3 AND doc_id % 7 <> 3)
        |SELECT doc_id AS media_id, CAST(k AS INTEGER) AS entry_idx,
        |  'm' || k || '.txt' AS name, 'ok' AS outcome,
        |  '7z member ' || doc_id || ' ' || k AS text
        |FROM ok
        |UNION ALL
        |SELECT doc_id, CAST(-1 AS INTEGER), NULL, 'corrupt', NULL
        |FROM ids WHERE doc_id % 7 = 3
        |ORDER BY media_id, entry_idx""".stripMargin,

    // Names and LENGTH() of the content formulas replayed per leg —
    // the engine must reproduce them THROUGH a real ZipOutputStream
    // archive, ustar headers, and a GZIPOutputStream stream.
    "q268_archive_entries" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |zip AS (SELECT doc_id, k, 'f' || CAST(k AS VARCHAR) || '.txt' AS name,
        |          CAST(LENGTH('content ' || CAST(doc_id AS VARCHAR) || ' '
        |               || CAST(k AS VARCHAR)) AS BIGINT) AS nb
        |        FROM ids, generate_series(0, 2) t(k)
        |        WHERE doc_id % 3 = 0 AND k < 1 + (doc_id // 3) % 3),
        |tard AS (SELECT doc_id, 0 AS k, 'd/' AS name, CAST(0 AS BIGINT) AS nb,
        |           'dir' AS method, TRUE AS is_dir
        |         FROM ids WHERE doc_id % 3 = 1),
        |tarf AS (SELECT doc_id, k + 1 AS k,
        |           'd/file' || CAST(k AS VARCHAR) AS name,
        |           CAST(LENGTH('tar data ' || CAST(doc_id AS VARCHAR) || ' '
        |                || CAST(k AS VARCHAR)) AS BIGINT) AS nb,
        |           'tar' AS method, FALSE AS is_dir
        |         FROM ids, generate_series(0, 1) t(k)
        |         WHERE doc_id % 3 = 1 AND k < 1 + doc_id % 2),
        |gz AS (SELECT doc_id, 0 AS k, CAST(NULL AS VARCHAR) AS name,
        |         CAST(LENGTH('gz payload ' || CAST(doc_id AS VARCHAR)) AS BIGINT) AS nb
        |       FROM ids WHERE doc_id % 3 = 2)
        |SELECT doc_id AS media_id, fmt AS format, CAST(k AS INTEGER) AS entry_idx,
        |  name, nb AS n_bytes, method, is_dir
        |FROM (
        |  SELECT doc_id, 'zip' AS fmt, k, name, nb, 'deflate' AS method,
        |         FALSE AS is_dir FROM zip
        |  UNION ALL
        |  SELECT doc_id, 'tar', k, name, nb, method, is_dir FROM tard
        |  UNION ALL
        |  SELECT doc_id, 'tar', k, name, nb, method, is_dir FROM tarf
        |  UNION ALL
        |  SELECT doc_id, 'gzip', k, name, nb, 'deflate', FALSE FROM gz)
        |ORDER BY media_id, entry_idx""".stripMargin,

    // The BMP channel-sum formulas replayed per member — the engine
    // must reproduce them THROUGH real deflate extraction and the
    // re-keyed media walk.
    "q269_archive_media" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |m AS (SELECT doc_id, k FROM ids, generate_series(0, 1) t(k))
        |SELECT doc_id * 10 + k AS media_id, 'bmp' AS format,
        |  CAST(10 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  CAST(SUM((doc_id * 7 + k * 31 + x * 13 + y * 29) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id * 5 + k * 17 + x * 3 + y * 11) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id * 3 + k * 7 + x + y * 7) % 256) AS BIGINT) AS sum_b
        |FROM m, generate_series(0, 9) a(x), generate_series(0, 7) b(y)
        |GROUP BY doc_id, k
        |ORDER BY media_id""".stripMargin,

    // Record indices, URIs and the integer Content-Length arithmetic
    // (fixed 44-byte HTTP preamble + LENGTH of each body formula)
    // replayed — the engine must reproduce them THROUGH the WARC
    // header walk and (every 4th id) a real gzip round-trip.
    "q270_warc_records" ->
      """WITH ids AS (SELECT doc_id, 1 + doc_id % 2 AS np FROM documents
        |             WHERE doc_id % 50 <> 0),
        |pg AS (SELECT doc_id, np, j FROM ids, generate_series(0, 1) t(j)
        |       WHERE j < np),
        |rws AS (
        |  SELECT doc_id, 0 AS ri, 'warcinfo' AS wt,
        |    CAST(NULL AS VARCHAR) AS uri, CAST(17 AS BIGINT) AS cl,
        |    CAST(NULL AS INTEGER) AS st, CAST(NULL AS VARCHAR) AS ct
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 1 + 2 * j, 'request',
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR),
        |    CAST(18 AS BIGINT), NULL, NULL FROM pg
        |  UNION ALL
        |  SELECT doc_id, 2 + 2 * j, 'response',
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR),
        |    CAST(44 + LENGTH('<h1>Page ' || CAST(doc_id AS VARCHAR) || ' '
        |      || CAST(j AS VARCHAR) || '</h1><p>text ' || CAST(doc_id AS VARCHAR)
        |      || ' &amp; ' || CAST(j AS VARCHAR) || '</p>') AS BIGINT),
        |    200, 'text/html' FROM pg
        |  UNION ALL
        |  SELECT doc_id, 1 + 2 * np, 'response',
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/gone',
        |    CAST(44 + LENGTH('<p>gone ' || CAST(doc_id AS VARCHAR) || '</p>') AS BIGINT),
        |    404, 'text/html' FROM ids
        |  UNION ALL
        |  SELECT doc_id, 2 + 2 * np, 'response',
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/img',
        |    CAST(44 + LENGTH('PNGDATA' || CAST(doc_id AS VARCHAR)) AS BIGINT),
        |    200, 'image/png' FROM ids)
        |SELECT doc_id AS media_id, CAST(ri AS INTEGER) AS record_idx,
        |  wt AS warc_type, uri AS target_uri, cl AS content_length,
        |  st AS http_status, ct AS content_type
        |FROM rws
        |ORDER BY media_id, record_idx""".stripMargin,

    // URL and clean text stated from the formulas; only the 2xx
    // text/html records may appear.
    "q271_warc_text" ->
      """WITH ids AS (SELECT doc_id, 1 + doc_id % 2 AS np FROM documents
        |             WHERE doc_id % 50 <> 0),
        |pg AS (SELECT doc_id, j FROM ids, generate_series(0, 1) t(j)
        |       WHERE j < np)
        |SELECT doc_id AS media_id, CAST(2 + 2 * j AS INTEGER) AS record_idx,
        |  'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR)
        |    AS url,
        |  'utf-8' AS charset,
        |  'Page ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(j AS VARCHAR) ||
        |    chr(10) || 'text ' || CAST(doc_id AS VARCHAR) || ' & '
        |    || CAST(j AS VARCHAR) AS text
        |FROM pg
        |ORDER BY media_id, record_idx""".stripMargin,

    // Each alias's canonical form stated; the per-key count replayed
    // with a window — the engine must agree THROUGH the RFC 3986
    // normalization rules.
    "q272_url_canon" ->
      """WITH c AS (SELECT doc_id,
        |  CASE WHEN doc_id % 50 = 0
        |       THEN 'not a url ' || CAST(doc_id AS VARCHAR)
        |       ELSE 'http://ex.com/p/' || CAST(doc_id // 5 AS VARCHAR)
        |  END AS canon
        |  FROM documents)
        |SELECT doc_id, canon,
        |  CAST(COUNT(*) OVER (PARTITION BY canon) AS BIGINT) AS n_dups
        |FROM c
        |ORDER BY doc_id""".stripMargin,

    // The whole v7 chain replayed over the derived page rows: same
    // canonical forms, same two keep-first windows, same length gate —
    // the engine must agree THROUGH real WARC bytes, HTTP parsing,
    // HTML extraction and RFC 3986 normalization.
    "q273_curation_v7" ->
      """WITH ids AS (SELECT doc_id, 1 + doc_id % 2 AS np FROM documents
        |             WHERE doc_id % 50 <> 0),
        |pg AS (SELECT doc_id, j, doc_id // 5 AS b,
        |         'http://ex.com/p/' || CAST(doc_id // 5 AS VARCHAR) || '/'
        |           || CAST(j AS VARCHAR) AS canon,
        |         CASE WHEN j = 1 AND doc_id % 3 = 0 THEN 'x'
        |              ELSE 'S' || CAST((doc_id // 5) % 29 AS VARCHAR) || ' '
        |                || CAST(j AS VARCHAR) || chr(10) || 'body '
        |                || CAST((doc_id // 5) % 29 AS VARCHAR) || ' & '
        |                || CAST(j AS VARCHAR) END AS text
        |       FROM ids, generate_series(0, 1) t(j) WHERE j < np),
        |u AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon
        |        ORDER BY doc_id, j) AS rn FROM pg),
        |q AS (SELECT * FROM u WHERE rn = 1 AND LENGTH(text) >= 10),
        |c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text
        |        ORDER BY doc_id, j) AS rn2 FROM q)
        |SELECT doc_id AS media_id, CAST(2 + 2 * j AS INTEGER) AS record_idx,
        |  canon AS url, text
        |FROM c WHERE rn2 = 1
        |ORDER BY media_id, record_idx""".stripMargin,

    // The streaming reader must reproduce q270's record walk exactly —
    // same formulas, media_id recovered from the file name.
    "q275_warc_stream" ->
      """WITH ids AS (SELECT doc_id, 1 + doc_id % 2 AS np FROM documents
        |             WHERE doc_id % 50 <> 0),
        |pg AS (SELECT doc_id, np, j FROM ids, generate_series(0, 1) t(j)
        |       WHERE j < np),
        |rws AS (
        |  SELECT doc_id, 0 AS ri, 'warcinfo' AS wt,
        |    CAST(NULL AS VARCHAR) AS uri, CAST(17 AS BIGINT) AS cl,
        |    CAST(NULL AS INTEGER) AS st, CAST(NULL AS VARCHAR) AS ct
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 1 + 2 * j, 'request',
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR),
        |    CAST(18 AS BIGINT), NULL, NULL FROM pg
        |  UNION ALL
        |  SELECT doc_id, 2 + 2 * j, 'response',
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR),
        |    CAST(44 + LENGTH('<h1>Page ' || CAST(doc_id AS VARCHAR) || ' '
        |      || CAST(j AS VARCHAR) || '</h1><p>text ' || CAST(doc_id AS VARCHAR)
        |      || ' &amp; ' || CAST(j AS VARCHAR) || '</p>') AS BIGINT),
        |    200, 'text/html' FROM pg
        |  UNION ALL
        |  SELECT doc_id, 1 + 2 * np, 'response',
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/gone',
        |    CAST(44 + LENGTH('<p>gone ' || CAST(doc_id AS VARCHAR) || '</p>') AS BIGINT),
        |    404, 'text/html' FROM ids
        |  UNION ALL
        |  SELECT doc_id, 2 + 2 * np, 'response',
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/img',
        |    CAST(44 + LENGTH('PNGDATA' || CAST(doc_id AS VARCHAR)) AS BIGINT),
        |    200, 'image/png' FROM ids)
        |SELECT doc_id AS media_id, CAST(ri AS INTEGER) AS record_idx,
        |  wt AS warc_type, uri AS target_uri, cl AS content_length,
        |  st AS http_status, ct AS content_type
        |FROM rws
        |ORDER BY media_id, record_idx""".stripMargin,

    // The streaming text pass: q271's pages, plus the charset column.
    "q276_warc_stream_text" ->
      """WITH ids AS (SELECT doc_id, 1 + doc_id % 2 AS np FROM documents
        |             WHERE doc_id % 50 <> 0),
        |pg AS (SELECT doc_id, j FROM ids, generate_series(0, 1) t(j)
        |       WHERE j < np)
        |SELECT doc_id AS media_id, CAST(2 + 2 * j AS INTEGER) AS record_idx,
        |  'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR)
        |    AS url,
        |  'utf-8' AS charset,
        |  'Page ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(j AS VARCHAR) ||
        |    chr(10) || 'text ' || CAST(doc_id AS VARCHAR) || ' & '
        |    || CAST(j AS VARCHAR) AS text
        |FROM pg
        |ORDER BY media_id, record_idx""".stripMargin,

    // The decoded national characters stated per formula: the engine
    // must agree through the HTTP-header charset, the bounded meta
    // sniff, and the windows-1251 table.
    "q277_warc_charset" ->
      """WITH ids AS (SELECT doc_id, doc_id % 5 AS k FROM documents
        |             WHERE doc_id % 50 <> 0),
        |pgs AS (
        |  SELECT doc_id, 0 AS ri,
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/latin' AS url,
        |    'iso-8859-1' AS charset,
        |    CASE k WHEN 0 THEN 'à' WHEN 1 THEN 'á' WHEN 2 THEN 'â'
        |           WHEN 3 THEN 'ã' ELSE 'ä' END || ' latin' AS text
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 1,
        |    'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/cyr',
        |    'windows-1251',
        |    CASE k WHEN 0 THEN 'А' WHEN 1 THEN 'Б' WHEN 2 THEN 'В'
        |           WHEN 3 THEN 'Г' ELSE 'Д' END || ' cyr'
        |  FROM ids)
        |SELECT doc_id AS media_id, CAST(ri AS INTEGER) AS record_idx,
        |  url, charset, text
        |FROM pgs
        |ORDER BY media_id, record_idx""".stripMargin,

    // Every block and its anchor-text length stated from the fixture
    // formulas — the engine must agree through tag segmentation,
    // entity decode and per-anchor normalization.
    "q278_html_blocks" ->
      """WITH b AS (
        |  SELECT doc_id, 0 AS bi, 'Home ' || CAST(doc_id AS VARCHAR) AS text,
        |    CAST(5 + LENGTH(CAST(doc_id AS VARCHAR)) AS INTEGER) AS lc
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 1, 'More', CAST(4 AS INTEGER) FROM documents
        |  UNION ALL
        |  SELECT doc_id, 2, 'Body text ' || CAST(doc_id AS VARCHAR) ||
        |    ' tells a longer story & then continues on.', CAST(0 AS INTEGER)
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 3, 'Footer terms privacy', CAST(12 AS INTEGER)
        |  FROM documents)
        |SELECT doc_id, CAST(bi AS INTEGER) AS block_idx, text,
        |  lc AS link_chars
        |FROM b
        |ORDER BY doc_id, block_idx""".stripMargin,

    // The keep rule replayed: on the planted page exactly the prose
    // body survives (nav/footer are link-dominated or short).
    "q279_main_content" ->
      """SELECT doc_id,
        |  'Body text ' || CAST(doc_id AS VARCHAR) ||
        |    ' tells a longer story & then continues on.' AS main_text,
        |  CAST(1 AS BIGINT) AS n_blocks
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // q269's pixel formulas, reached through streamed tar members
    // instead of a zip cell.
    "q284_tar_stream_media" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |m AS (SELECT doc_id, k FROM ids, generate_series(0, 1) t(k))
        |SELECT doc_id * 10 + k AS media_id, 'bmp' AS format,
        |  CAST(10 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  CAST(SUM((doc_id * 7 + k * 31 + x * 13 + y * 29) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id * 5 + k * 17 + x * 3 + y * 11) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id * 3 + k * 7 + x + y * 7) % 256) AS BIGINT) AS sum_b
        |FROM m, generate_series(0, 9) a(x), generate_series(0, 7) b(y)
        |GROUP BY doc_id, k
        |ORDER BY media_id""".stripMargin,

    // Page/line text replayed straight from the formula — the engine
    // must reproduce it THROUGH the real PDF container: xref walk
    // (classic and stream), Flate, content-stream operators, WinAnsi.
    "q285_pdf_text" ->
      """WITH pg AS (SELECT doc_id, p FROM documents,
        |              generate_series(0, 2) t(p)
        |            WHERE p < 1 + doc_id % 3),
        |ln AS (SELECT doc_id, p, l FROM pg, generate_series(0, 2) t2(l)
        |       WHERE l < 1 + (doc_id + p) % 3),
        |lt AS (SELECT doc_id, p, l,
        |         'doc ' || doc_id || ' pg ' || p || ' ln ' || l ||
        |         ' tok' || ((doc_id * 7 + p * 3 + l) % 97) ||
        |         CASE WHEN l % 2 = 0 THEN ' caf' || chr(233) ELSE '' END AS line
        |       FROM ln),
        |pt AS (SELECT doc_id, p, string_agg(line, chr(10) ORDER BY l) AS ptext
        |       FROM lt GROUP BY doc_id, p),
        |dt AS (SELECT doc_id, COUNT(*) AS n_pages,
        |         string_agg(ptext, chr(10) ORDER BY p) AS text
        |       FROM pt GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 3 = 2 THEN '1.5' ELSE '1.4' END AS pdf_version,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(t.n_pages AS INTEGER) END AS n_pages,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(length(t.text) AS BIGINT) END AS n_chars,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE t.text END AS text
        |FROM documents d JOIN dt t ON t.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // Which pages survive the COMPOSED header+meta gate, stated:
    // page 0 always (its benign nofollow header must not trip), page
    // 1 never (all three header shapes opt out), page 2 only for odd
    // ids (even ids carry the meta tag).
    "q296_xrobots_gate" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS media_id, CAST(1 AS INTEGER) AS record_idx,
        |  'http://ex.com/' || doc_id || '/0' AS url,
        |  'keep page ' || doc_id || ' zero' AS text
        |FROM ids
        |UNION ALL
        |SELECT doc_id, CAST(3 AS INTEGER),
        |  'http://ex.com/' || doc_id || '/2',
        |  'keep page ' || doc_id || ' two'
        |FROM ids WHERE doc_id % 2 = 1
        |ORDER BY media_id, record_idx""".stripMargin,

    // Both OOXML carriers' texts replayed from their formulas — the
    // slide walk and the shared-string/number cell resolution must
    // reproduce them THROUGH the real ZIP containers.
    "q299_pptx_xlsx_text" ->
      """WITH pp AS (
        |  SELECT doc_id, sl, p FROM documents,
        |    generate_series(0, 2) ts(sl), generate_series(0, 1) tp(p)
        |  WHERE doc_id % 2 = 0 AND sl < 1 + doc_id % 3
        |    AND p < 1 + (doc_id + sl) % 2),
        |ps AS (
        |  SELECT doc_id, sl,
        |    string_agg('pptx ' || doc_id || ' sl ' || sl || ' p ' || p ||
        |      ' tok' || ((doc_id * 5 + sl * 3 + p) % 43) || ' & co',
        |      chr(10) ORDER BY p) AS stext
        |  FROM pp GROUP BY doc_id, sl),
        |pt AS (
        |  SELECT doc_id, string_agg(stext, chr(10) ORDER BY sl) AS text,
        |    CAST(2 + COUNT(*) AS INTEGER) AS n_members
        |  FROM ps GROUP BY doc_id),
        |xc AS (
        |  SELECT doc_id, r, c,
        |    CASE WHEN c = 0 THEN CAST((doc_id * 7 + r) % 1000 AS VARCHAR)
        |         ELSE 'cell ' || doc_id || ' r' || r || ' c' || c END AS val
        |  FROM documents,
        |    generate_series(0, 2) tr(r), generate_series(0, 2) tc(c)
        |  WHERE doc_id % 2 = 1 AND r < 1 + doc_id % 3
        |    AND c < 1 + (doc_id + r) % 3),
        |xr AS (
        |  SELECT doc_id, r, string_agg(val, chr(9) ORDER BY c) AS rtext
        |  FROM xc GROUP BY doc_id, r),
        |xt AS (
        |  SELECT doc_id, string_agg(rtext, chr(10) ORDER BY r) AS text,
        |    CAST(4 AS INTEGER) AS n_members
        |  FROM xr GROUP BY doc_id),
        |u AS (
        |  SELECT doc_id, 'pptx' AS format, n_members, text FROM pt
        |  UNION ALL
        |  SELECT doc_id, 'xlsx' AS format, n_members, text FROM xt)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE u.format END AS format,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE u.n_members END AS n_members,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(length(u.text) AS BIGINT) END AS n_chars,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE u.text END AS text
        |FROM documents d JOIN u ON u.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // q269's sums formula with the webp format name — the container
    // extraction and the VP8L decode must compose exactly.
    "q310_archive_webp" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |m AS (SELECT doc_id, k FROM ids, generate_series(0, 1) t(k))
        |SELECT doc_id * 10 + k AS media_id, 'webp' AS format,
        |  CAST(10 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  CAST(80 AS BIGINT) AS n_pixels,
        |  CAST(SUM((doc_id * 7 + k * 31 + x * 13 + y * 29) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id * 5 + k * 17 + x * 3 + y * 11) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id * 3 + k * 7 + x + y * 7) % 256) AS BIGINT) AS sum_b
        |FROM m, generate_series(0, 9) a(x), generate_series(0, 7) b(y)
        |GROUP BY doc_id, k
        |ORDER BY media_id""".stripMargin,

    // Per-frame geometry, duration, and channel sums replayed from
    // the formulas — THROUGH the VP8X/ANIM/ANMF walk and a full VP8L
    // decode of every frame.
    "q309_webp_frames" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |fr AS (SELECT doc_id, k,
        |         CAST(7 + (doc_id + k) % 4 AS INTEGER) AS fw,
        |         CAST(5 + (doc_id + 2*k) % 3 AS INTEGER) AS fh
        |       FROM ids, generate_series(0, 2) t(k)
        |       WHERE k < 1 + doc_id % 3),
        |s AS (SELECT doc_id, k, fw, fh,
        |  CAST(SUM((doc_id*7 + k*31 + x*13 + y*29) % 256) AS BIGINT) AS sr,
        |  CAST(SUM((doc_id*5 + k*17 + x*3 + y*11) % 256) AS BIGINT) AS sg,
        |  CAST(SUM((doc_id*3 + k*7 + x + y*7) % 256) AS BIGINT) AS sb
        |  FROM fr, generate_series(0, 10) gx(x), generate_series(0, 7) gy(y)
        |  WHERE x < fw AND y < fh
        |  GROUP BY doc_id, k, fw, fh)
        |SELECT doc_id AS media_id, CAST(k AS INTEGER) AS frame_idx,
        |  CAST(30 AS INTEGER) AS canvas_w, CAST(20 AS INTEGER) AS canvas_h,
        |  fw AS width, fh AS height,
        |  CAST(40 + k % 7 AS INTEGER) AS duration_ms,
        |  CAST(fw * fh AS BIGINT) AS n_pixels, sr AS sum_r, sg AS sum_g,
        |  sb AS sum_b
        |FROM s
        |ORDER BY media_id, frame_idx""".stripMargin,

    // v9's survivor set exactly — the noindex'd record must leave no
    // trace (it would otherwise add one unique-canon unique-text row
    // per document and fail the hash).
    // v10's survivor set verbatim (parity by construction) plus the
    // per-carrier language verdicts: the wordy html row scores 'en';
    // pdf/markdown rows carry too weak a signal to gate (total 0 / 2,
    // preds 'ar'/'ca' by the alphabetical tie rule) and pass through;
    // the planted Russian and gibberish rows are absent.
    "q315_curation_v11" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS b FROM documents
        |             WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id AS media_id, 2 AS record_idx, 'html' AS carrier,
        |    'http://ex.com/h/' || b AS canon, 'en' AS pred_lang,
        |    CAST(2 AS BIGINT) AS lang_total,
        |    'html body for bucket ' || b ||
        |      ' carries enough words to keep.' AS text
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 3, 'pdf',
        |    'http://ex.com/d/' || doc_id || '.pdf', 'ar', CAST(0 AS BIGINT),
        |    'pdf doc ' || (b % 7) || ' line one keeps' || chr(10) ||
        |      'pdf doc ' || (b % 7) || ' line two'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 4, 'markdown',
        |    'http://ex.com/m/' || doc_id, 'ca', CAST(2 AS BIGINT),
        |    'Doc ' || doc_id || chr(10) ||
        |      'markdown note ' || doc_id || ' with a link kept.'
        |  FROM ids),
        |u AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon
        |        ORDER BY media_id, record_idx) AS rn FROM r),
        |q AS (SELECT * FROM u WHERE rn = 1),
        |c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text
        |        ORDER BY media_id, record_idx) AS rn2 FROM q)
        |SELECT media_id, CAST(record_idx AS INTEGER) AS record_idx,
        |  carrier, canon AS url, pred_lang, lang_total, text
        |FROM c WHERE rn2 = 1
        |ORDER BY media_id, record_idx""".stripMargin,

    // v14's survivor set IS v13's: the blocked-domain and term-URL
    // plants (records 13/14, clean text that passes every text gate)
    // leave no trace — only the URL gate can drop them.
    "q337_curation_v14" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS b FROM documents
        |             WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id AS media_id, 2 AS record_idx, 'html' AS carrier,
        |    'http://ex.com/h/' || b AS canon,
        |    'html body for bucket ' || b ||
        |      ' carries enough words to keep.' AS text
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 3, 'pdf', 'http://ex.com/d/' || doc_id || '.pdf',
        |    'pdf doc ' || (b % 7) || ' line one keeps' || chr(10) ||
        |      'pdf doc ' || (b % 7) || ' line two'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 4, 'markdown', 'http://ex.com/m/' || doc_id,
        |    'Doc ' || doc_id || chr(10) ||
        |      'markdown note ' || doc_id || ' with a link kept.'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 9, 'pdf', 'http://ex.com/t0/' || doc_id,
        |    'Clean type0 page ' || doc_id ||
        |      ' keeps the words that the gate needs.'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 11, 'html', 'http://ex.com/canon/' || doc_id,
        |    'dup page one for ' || doc_id ||
        |      ' with enough plain english words to keep.'
        |  FROM ids),
        |u AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon
        |        ORDER BY media_id, record_idx) AS rn FROM r),
        |q AS (SELECT * FROM u WHERE rn = 1),
        |c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text
        |        ORDER BY media_id, record_idx) AS rn2 FROM q)
        |SELECT media_id, CAST(record_idx AS INTEGER) AS record_idx,
        |  carrier, canon AS url, text
        |FROM c WHERE rn2 = 1
        |ORDER BY media_id, record_idx""".stripMargin,

    // v15 = v14's survivor arms + the farm arm, then the uniform
    // per-eTLD+1 cap: ex.com is ONE key (all v14 arms), each farm's
    // three sibling subdomains collapse onto farm<k>.co.uk, and the
    // first 7 per key by (media_id, record_idx) survive.
    "q344_curation_v15" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS b FROM documents
        |             WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id AS media_id, 2 AS record_idx, 'html' AS carrier,
        |    'http://ex.com/h/' || b AS canon,
        |    'html body for bucket ' || b ||
        |      ' carries enough words to keep.' AS text
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 3, 'pdf', 'http://ex.com/d/' || doc_id || '.pdf',
        |    'pdf doc ' || (b % 7) || ' line one keeps' || chr(10) ||
        |      'pdf doc ' || (b % 7) || ' line two'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 4, 'markdown', 'http://ex.com/m/' || doc_id,
        |    'Doc ' || doc_id || chr(10) ||
        |      'markdown note ' || doc_id || ' with a link kept.'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 9, 'pdf', 'http://ex.com/t0/' || doc_id,
        |    'Clean type0 page ' || doc_id ||
        |      ' keeps the words that the gate needs.'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 11, 'html', 'http://ex.com/canon/' || doc_id,
        |    'dup page one for ' || doc_id ||
        |      ' with enough plain english words to keep.'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 15 + j, 'html',
        |    'http://a' || j || '.farm' || (doc_id % 5) || '.co.uk/f/' || doc_id,
        |    'farm page ' || doc_id || ' ' || j ||
        |      ' has enough unique english words to keep around.'
        |  FROM ids, generate_series(0, 2) t(j)),
        |u AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon
        |        ORDER BY media_id, record_idx) AS rn FROM r),
        |q AS (SELECT * FROM u WHERE rn = 1),
        |c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text
        |        ORDER BY media_id, record_idx) AS rn2 FROM q),
        |s AS (SELECT media_id, record_idx, carrier, canon, text
        |      FROM c WHERE rn2 = 1),
        |dd AS (SELECT *,
        |        CASE WHEN canon LIKE 'http://ex.com/%' THEN 'ex.com'
        |             ELSE 'farm' || (media_id % 5) || '.co.uk' END AS domain
        |      FROM s),
        |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
        |        ORDER BY media_id, record_idx) AS dr FROM dd)
        |SELECT media_id, CAST(record_idx AS INTEGER) AS record_idx,
        |  carrier, canon AS url, domain,
        |  CAST(dr AS BIGINT) AS domain_rank, text
        |FROM k WHERE dr <= 7
        |ORDER BY media_id, record_idx""".stripMargin,

    // v13 = v12's survivor set (projected to the lean columns) + the
    // canonical pair's FIRST record keyed by the normalized declared
    // canonical; the second, with different text and a different
    // fetch URL, leaves no trace — only the canonical key drops it.
    "q326_curation_v13" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS b FROM documents
        |             WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id AS media_id, 2 AS record_idx, 'html' AS carrier,
        |    'http://ex.com/h/' || b AS canon,
        |    'html body for bucket ' || b ||
        |      ' carries enough words to keep.' AS text
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 3, 'pdf', 'http://ex.com/d/' || doc_id || '.pdf',
        |    'pdf doc ' || (b % 7) || ' line one keeps' || chr(10) ||
        |      'pdf doc ' || (b % 7) || ' line two'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 4, 'markdown', 'http://ex.com/m/' || doc_id,
        |    'Doc ' || doc_id || chr(10) ||
        |      'markdown note ' || doc_id || ' with a link kept.'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 9, 'pdf', 'http://ex.com/t0/' || doc_id,
        |    'Clean type0 page ' || doc_id ||
        |      ' keeps the words that the gate needs.'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 11, 'html', 'http://ex.com/canon/' || doc_id,
        |    'dup page one for ' || doc_id ||
        |      ' with enough plain english words to keep.'
        |  FROM ids),
        |u AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon
        |        ORDER BY media_id, record_idx) AS rn FROM r),
        |q AS (SELECT * FROM u WHERE rn = 1),
        |c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text
        |        ORDER BY media_id, record_idx) AS rn2 FROM q)
        |SELECT media_id, CAST(record_idx AS INTEGER) AS record_idx,
        |  carrier, canon AS url, text
        |FROM c WHERE rn2 = 1
        |ORDER BY media_id, record_idx""".stripMargin,

    // v12 = v11's survivor set (each row now carrying 0/0 confidence
    // counters) + the planted clean Type0 PDF (codes = its line
    // length, 0 unmapped — survives) — the no-ToUnicode subset plant
    // is GONE even though its text is clean English: only the
    // unmapped-ratio gate can see it.
    "q320_curation_v12" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS b FROM documents
        |             WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id AS media_id, 2 AS record_idx, 'html' AS carrier,
        |    'http://ex.com/h/' || b AS canon, 'en' AS pred_lang,
        |    CAST(2 AS BIGINT) AS lang_total,
        |    CAST(0 AS BIGINT) AS type0_codes,
        |    CAST(0 AS BIGINT) AS type0_unmapped,
        |    'html body for bucket ' || b ||
        |      ' carries enough words to keep.' AS text
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 3, 'pdf',
        |    'http://ex.com/d/' || doc_id || '.pdf', 'ar', CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    'pdf doc ' || (b % 7) || ' line one keeps' || chr(10) ||
        |      'pdf doc ' || (b % 7) || ' line two'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 4, 'markdown',
        |    'http://ex.com/m/' || doc_id, 'ca', CAST(2 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    'Doc ' || doc_id || chr(10) ||
        |      'markdown note ' || doc_id || ' with a link kept.'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 9, 'pdf',
        |    'http://ex.com/t0/' || doc_id, 'en', CAST(3 AS BIGINT),
        |    CAST(LENGTH('Clean type0 page ' || doc_id ||
        |      ' keeps the words that the gate needs.') AS BIGINT),
        |    CAST(0 AS BIGINT),
        |    'Clean type0 page ' || doc_id ||
        |      ' keeps the words that the gate needs.'
        |  FROM ids),
        |u AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon
        |        ORDER BY media_id, record_idx) AS rn FROM r),
        |q AS (SELECT * FROM u WHERE rn = 1),
        |c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text
        |        ORDER BY media_id, record_idx) AS rn2 FROM q)
        |SELECT media_id, CAST(record_idx AS INTEGER) AS record_idx,
        |  carrier, canon AS url, pred_lang, lang_total,
        |  type0_codes, type0_unmapped, text
        |FROM c WHERE rn2 = 1
        |ORDER BY media_id, record_idx""".stripMargin,

    "q308_curation_v10" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS b FROM documents
        |             WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id AS media_id, 2 AS record_idx, 'html' AS carrier,
        |    'http://ex.com/h/' || b AS canon,
        |    'html body for bucket ' || b ||
        |      ' carries enough words to keep.' AS text
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 3, 'pdf',
        |    'http://ex.com/d/' || doc_id || '.pdf',
        |    'pdf doc ' || (b % 7) || ' line one keeps' || chr(10) ||
        |      'pdf doc ' || (b % 7) || ' line two'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 4, 'markdown',
        |    'http://ex.com/m/' || doc_id,
        |    'Doc ' || doc_id || chr(10) ||
        |      'markdown note ' || doc_id || ' with a link kept.'
        |  FROM ids),
        |u AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon
        |        ORDER BY media_id, record_idx) AS rn FROM r),
        |q AS (SELECT * FROM u WHERE rn = 1),
        |c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text
        |        ORDER BY media_id, record_idx) AS rn2 FROM q)
        |SELECT media_id, CAST(record_idx AS INTEGER) AS record_idx,
        |  carrier, canon AS url, text
        |FROM c WHERE rn2 = 1
        |ORDER BY media_id, record_idx""".stripMargin,

    // The pixel formulas replayed through the real VP8L containers:
    // whatever the id class's transform chain, decoded pixels must
    // equal the formula — channel sums pin every inverse transform.
    // The MB-flat targets replayed arithmetically: every MB
    // contributes 256 luma and 64 chroma pixels of its constant.
    "q311_webp_lossy" ->
      """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INTEGER) AS mw,
        |             CAST(1 + doc_id % 2 AS INTEGER) AS mh FROM documents),
        |mb AS (SELECT doc_id, mw, mh,
        |         (doc_id*7 + mx*31 + my*17) % 256 AS ty,
        |         (doc_id*5 + mx*11 + my*23) % 256 AS tu,
        |         (doc_id*3 + mx*13 + my*29) % 256 AS tv
        |       FROM d, generate_series(0, 3) gx(mx),
        |            generate_series(0, 1) gy(my)
        |       WHERE mx < mw AND my < mh),
        |s AS (SELECT doc_id, mw, mh,
        |        CAST(SUM(ty) * 256 AS BIGINT) AS ys,
        |        CAST(SUM(tu) * 64 AS BIGINT) AS us,
        |        CAST(SUM(tv) * 64 AS BIGINT) AS vs
        |      FROM mb GROUP BY doc_id, mw, mh)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE mw * 16 END AS width,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE mh * 16 END AS height,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(mw * 16 AS BIGINT) * (mh * 16) END AS n_pixels,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE ys END AS y_sum,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE us END AS u_sum,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE vs END AS v_sum
        |FROM s
        |ORDER BY media_id""".stripMargin,

    // The lossless-audio decode stated: each id class's sample
    // formulas summed exactly (FLAC is lossless, the writer replays
    // the same integers), peak = max |sample| over all channels,
    // stereo only on the mid/side arm.
    "q321_flac_decode" ->
      """WITH d AS (SELECT doc_id, 48 + (doc_id % 3) * 16 AS n,
        |             doc_id % 5 AS v FROM documents),
        |px AS (SELECT doc_id, n, v,
        |         CASE WHEN v = 1 THEN (doc_id*11) % 300 - 150
        |              WHEN v = 4 THEN (doc_id*5 + i*11) % 401 - 200
        |              ELSE (doc_id*7 + i*13) % 401 - 200 END AS c0,
        |         CASE WHEN v = 4 THEN (doc_id*3 + i*17) % 401 - 200 END AS c1
        |       FROM d, generate_series(0, 79) g(i) WHERE i < n),
        |s AS (SELECT doc_id, n, v,
        |        CAST(SUM(c0) AS BIGINT) AS s0,
        |        CAST(SUM(c1) AS BIGINT) AS s1,
        |        CAST(MAX(GREATEST(ABS(c0), COALESCE(ABS(c1), 0))) AS BIGINT)
        |          AS pk
        |      FROM px GROUP BY doc_id, n, v)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE 'flac' END AS format,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE 44100 END AS sample_rate,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN v = 4 THEN 2 ELSE 1 END AS channels,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE 16 END AS bits,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(n AS BIGINT) END AS n_samples,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE s0 END AS sum_ch0,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE s1 END AS sum_ch1,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE pk END AS peak_abs
        |FROM s
        |ORDER BY media_id""".stripMargin,

    // Both members' sample formulas replayed: mono stats and the
    // stereo pair's combined peak / sum of squares.
    "q328_archive_flac" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |m0 AS (SELECT doc_id*10 AS media_id, 'flac' AS format,
        |         8000 AS sample_rate, CAST(32 AS BIGINT) AS n_frames,
        |         CAST(MAX(ABS((doc_id*7 + i*13) % 401 - 200)) AS BIGINT)
        |           AS peak_raw,
        |         CAST(SUM(((doc_id*7 + i*13) % 401 - 200) *
        |                  ((doc_id*7 + i*13) % 401 - 200)) AS BIGINT)
        |           AS sum_sq
        |       FROM ids, generate_series(0, 31) g(i) GROUP BY doc_id),
        |m1 AS (SELECT doc_id*10 + 1 AS media_id, 'flac' AS format,
        |         16000 AS sample_rate, CAST(24 AS BIGINT) AS n_frames,
        |         CAST(MAX(GREATEST(ABS(c0), ABS(c1))) AS BIGINT) AS peak_raw,
        |         CAST(SUM(c0*c0 + c1*c1) AS BIGINT) AS sum_sq
        |       FROM (SELECT doc_id, (doc_id*5 + i*11) % 401 - 200 AS c0,
        |                    (doc_id*3 + i*17) % 401 - 200 AS c1
        |             FROM ids, generate_series(0, 23) g(i))
        |       GROUP BY doc_id)
        |SELECT * FROM m0 UNION ALL SELECT * FROM m1
        |ORDER BY media_id""".stripMargin,

    // Per-frame geometry/duration and the per-frame alpha formula.
    "q338_webp_anim_alpha" ->
      """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 3 AS INTEGER) AS nf
        |           FROM documents WHERE doc_id % 50 <> 0),
        |f AS (SELECT doc_id, nf, k,
        |        CAST((1 + (doc_id + k) % 2) * 16 AS INTEGER) AS w
        |      FROM d, generate_series(0, 2) g(k) WHERE k < nf),
        |a AS (SELECT doc_id, k, w,
        |        CAST(SUM((doc_id*3 + k*17 + x*5 + y*11) % 256) AS BIGINT)
        |          AS sa
        |      FROM f, generate_series(0, 31) gx(x),
        |           generate_series(0, 15) gy(y)
        |      WHERE x < w GROUP BY doc_id, k, w)
        |SELECT doc_id AS media_id, CAST(k AS INTEGER) AS frame_idx,
        |  48 AS canvas_w, 16 AS canvas_h, w AS width, 16 AS height,
        |  CAST(25 + k AS INTEGER) AS duration_ms,
        |  CAST(w * 16 AS BIGINT) AS n_pixels, sa AS sum_a
        |FROM a
        |ORDER BY media_id, frame_idx""".stripMargin,

    // The alpha-plane formula summed exactly — filters and both
    // compressions are lossless round-trips by construction.
    "q335_webp_alpha" ->
      """WITH d AS (SELECT doc_id, CAST((1 + doc_id % 2) * 16 AS INTEGER)
        |             AS w FROM documents),
        |a AS (SELECT doc_id, w,
        |        CAST(SUM((doc_id*3 + x*5 + y*11) % 256) AS BIGINT) AS sa
        |      FROM d, generate_series(0, 31) gx(x),
        |           generate_series(0, 15) gy(y)
        |      WHERE x < w GROUP BY doc_id, w)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE 'lossy' END AS variant,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE w END AS width,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE 16 END AS height,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(w * 16 AS BIGINT) END AS n_pixels,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE sa END AS sum_a
        |FROM a
        |ORDER BY media_id""".stripMargin,

    // Resolution restated: every revisit finds its stored capture
    // through the canonicalized refers-to key; every 3rd id's digest
    // contradicts the identity claim.
    // Decoded text stated per arm: the cp1252 bytes come back as é
    // (chr 233) and the U+2019 quote (chr 8217) under the fallback;
    // the utf-8/ascii arms pass through.
    "q348_charset_fallback" ->
      """SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  'http://ex.com/cs/' || doc_id AS url,
        |  CASE doc_id % 3 WHEN 0 THEN 'windows-1252'
        |       ELSE 'utf-8' END AS charset,
        |  CASE doc_id % 3
        |    WHEN 0 THEN 'caf' || chr(233) || ' page ' || doc_id ||
        |      ' with a ' || chr(8217) || 'smart' || chr(8217) || ' quote'
        |    WHEN 1 THEN 'caf' || chr(233) || ' page ' || doc_id ||
        |      ' in valid utf8'
        |    ELSE 'plain ascii page ' || doc_id
        |  END AS text
        |FROM documents WHERE doc_id % 50 <> 0
        |ORDER BY media_id""".stripMargin,

    // Mixed-mechanism chains stated closed-form: the 301 start hops
    // onto the interstitial whose meta refresh lands — 2 hops; the
    // interstitial itself is 1; the url-less self-refresh page never
    // becomes a source.
    "q354_meta_refresh" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id, 'http://ex.com/hop/' || doc_id AS url, 1 AS hops
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 'http://ex.com/start/' || doc_id, 2 FROM ids)
        |SELECT url, 'http://ex.com/land/' || doc_id AS final_url,
        |  CAST(hops AS BIGINT) AS hops, TRUE AS terminal,
        |  'soft landing page ' || doc_id || ' holds the real words.' AS text
        |FROM r ORDER BY url""".stripMargin,

    // v16 = v15's survivor arms + the cycle pages (their chains cut
    // at the hop bound, so they keep their fetch identity and rank
    // under cyc.example's own cap); the moved-fetch arm leaves NO
    // trace — its 200 capture resolves onto the earlier bucket page's
    // identity and the keep-first drops it, the one behavior fetch-URL
    // and content keying both miss.
    "q353_curation_v16" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS b FROM documents
        |             WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id AS media_id, 2 AS record_idx, 'html' AS carrier,
        |    'http://ex.com/h/' || b AS canon,
        |    'html body for bucket ' || b ||
        |      ' carries enough words to keep.' AS text
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 3, 'pdf', 'http://ex.com/d/' || doc_id || '.pdf',
        |    'pdf doc ' || (b % 7) || ' line one keeps' || chr(10) ||
        |      'pdf doc ' || (b % 7) || ' line two'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 4, 'markdown', 'http://ex.com/m/' || doc_id,
        |    'Doc ' || doc_id || chr(10) ||
        |      'markdown note ' || doc_id || ' with a link kept.'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 9, 'pdf', 'http://ex.com/t0/' || doc_id,
        |    'Clean type0 page ' || doc_id ||
        |      ' keeps the words that the gate needs.'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 11, 'html', 'http://ex.com/canon/' || doc_id,
        |    'dup page one for ' || doc_id ||
        |      ' with enough plain english words to keep.'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 15 + j, 'html',
        |    'http://a' || j || '.farm' || (doc_id % 5) || '.co.uk/f/' || doc_id,
        |    'farm page ' || doc_id || ' ' || j ||
        |      ' has enough unique english words to keep around.'
        |  FROM ids, generate_series(0, 2) t(j)
        |  UNION ALL
        |  SELECT doc_id, 20, 'html', 'http://cyc.example/p/' || doc_id,
        |    'cycle page ' || doc_id || ' keeps enough english words alive.'
        |  FROM ids),
        |u AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon
        |        ORDER BY media_id, record_idx) AS rn FROM r),
        |q AS (SELECT * FROM u WHERE rn = 1),
        |c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text
        |        ORDER BY media_id, record_idx) AS rn2 FROM q),
        |s AS (SELECT media_id, record_idx, carrier, canon, text
        |      FROM c WHERE rn2 = 1),
        |dd AS (SELECT *,
        |        CASE WHEN canon LIKE 'http://cyc.example/%' THEN 'cyc.example'
        |             WHEN canon LIKE 'http://ex.com/%' THEN 'ex.com'
        |             ELSE 'farm' || (media_id % 5) || '.co.uk' END AS domain
        |      FROM s),
        |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
        |        ORDER BY media_id, record_idx) AS dr FROM dd)
        |SELECT media_id, CAST(record_idx AS INTEGER) AS record_idx,
        |  carrier, canon AS url, domain,
        |  CAST(dr AS BIGINT) AS domain_rank, text
        |FROM k WHERE dr <= 7
        |ORDER BY media_id, record_idx""".stripMargin,

    "q355_charset_cyrillic" ->
      """SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  'http://ex.com/cyr/' || doc_id AS url,
        |  CASE doc_id % 6 WHEN 0 THEN 'koi8-r' WHEN 1 THEN 'windows-1251'
        |       WHEN 2 THEN 'utf-16le' WHEN 3 THEN 'utf-16be'
        |       WHEN 4 THEN 'utf-16' ELSE 'windows-1252' END AS charset,
        |  CASE WHEN doc_id % 6 IN (0, 1)
        |    THEN 'Это русский текст статьи продолжение материала здесь page ' || doc_id
        |    WHEN doc_id % 6 IN (2, 3, 4)
        |    THEN 'утф text body here page ' || doc_id
        |    ELSE 'l''été café année passée déjà vu née et protégé page ' || doc_id
        |  END AS text
        |FROM documents WHERE doc_id % 50 <> 0
        |ORDER BY media_id""".stripMargin,

    // Landing-domain cap restated: every farm page ranks in ONE
    // land.example window regardless of its fetch domain; record
    // indexes are the fixture's WARC layout (3xx records consume an
    // index but emit no page row: pages sit at 1, 3, 4).
    "q356_redirect_farm_cap" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id AS media_id, 1 + 2 * j AS record_idx,
        |    'html' AS carrier,
        |    'http://land.example/p/' || doc_id || '/' || j AS url,
        |    'land.example' AS domain,
        |    'farm content ' || doc_id || ' ' || j ||
        |      ' keeps plenty of good english words alive.' AS text
        |  FROM ids, generate_series(0, 1) t(j)
        |  UNION ALL
        |  SELECT doc_id, 4, 'html', 'http://ctrl.example/c/' || doc_id,
        |    'ctrl.example',
        |    'control page ' || doc_id ||
        |      ' keeps plenty of good english words too.'
        |  FROM ids),
        |k AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
        |        ORDER BY media_id, record_idx) AS dr FROM r)
        |SELECT media_id, CAST(record_idx AS INTEGER) AS record_idx,
        |  carrier, url, domain, CAST(dr AS BIGINT) AS domain_rank, text
        |FROM k WHERE dr <= 5
        |ORDER BY media_id, record_idx""".stripMargin,

    // Two identities per article: the tracking variants (3 + the
    // bare URL) collapse, the real `page=2` pair keeps its own key.
    "q358_tracking_dedup" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |r AS (
        |  SELECT 'http://news.example/art/' || doc_id AS url_key,
        |    CAST(4 AS BIGINT) AS n_urls, 0 AS first_variant FROM ids
        |  UNION ALL
        |  SELECT 'http://news.example/art/' || doc_id || '?page=2',
        |    CAST(2 AS BIGINT), 4 FROM ids)
        |SELECT url_key, n_urls, CAST(first_variant AS INTEGER) AS first_variant
        |FROM r ORDER BY url_key""".stripMargin,

    // Two survivors per id: the tracked first capture (its bare
    // re-crawl and the redirect-moved old page collapse onto the
    // stripped key) and the real page=2 identity.
    "q359_curation_v17" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id AS media_id, 0 AS record_idx, 'html' AS carrier,
        |    'http://m' || doc_id || '.example/a/' || doc_id AS url,
        |    'm' || doc_id || '.example' AS domain,
        |    CAST(1 AS BIGINT) AS domain_rank,
        |    'article ' || doc_id ||
        |      ' version one keeps plenty of good english words.' AS text
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 2, 'html',
        |    'http://m' || doc_id || '.example/a/' || doc_id || '?page=2',
        |    'm' || doc_id || '.example', CAST(2 AS BIGINT),
        |    'article ' || doc_id ||
        |      ' page two keeps plenty of extra english words.'
        |  FROM ids)
        |SELECT media_id, CAST(record_idx AS INTEGER) AS record_idx,
        |  carrier, url, domain, domain_rank, text
        |FROM r ORDER BY media_id, record_idx""".stripMargin,

    // Closed-form per arm: the 302 hop chains onto the interstitial
    // whose Refresh header lands it (2 hops from the start, 1 from
    // the interstitial); the self-reload and mailto arms contribute
    // NO edges, so their sources never appear.
    "q357_refresh_header" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |d AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
        |        THEN 'http://dest.example/d/' || doc_id
        |        ELSE 'http://go.example/d/' || doc_id END AS dest
        |      FROM ids),
        |r AS (
        |  SELECT 'http://s.example/a/' || doc_id AS src, dest AS final_url,
        |    CAST(2 AS BIGINT) AS hops, TRUE AS terminal FROM d
        |  UNION ALL
        |  SELECT 'http://go.example/r/' || doc_id, dest,
        |    CAST(1 AS BIGINT), TRUE FROM d)
        |SELECT src, final_url, hops, terminal FROM r
        |ORDER BY src""".stripMargin,

    // Closed-form chain restatement per arm: the fixture's shapes are
    // fixed, so the oracle states each source's landing identity, hop
    // count and terminal flag directly (cycle arms NULL their text).
    "q352_redirect_resolve" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT 'http://ex.com/old/' || doc_id AS url,
        |    'http://ex.com/final/' || doc_id AS final_url,
        |    1 AS hops, TRUE AS terminal,
        |    'redirect landing page ' || doc_id || ' content.' AS text
        |  FROM ids
        |  UNION ALL
        |  SELECT 'http://ex.com/older/' || doc_id,
        |    'http://ex.com/final/' || doc_id, 2, TRUE,
        |    'redirect landing page ' || doc_id || ' content.'
        |  FROM ids
        |  UNION ALL
        |  SELECT 'http://mirror.site/m/' || doc_id,
        |    'http://ex.com/final/' || doc_id, 3, TRUE,
        |    'redirect landing page ' || doc_id || ' content.'
        |  FROM ids
        |  UNION ALL
        |  SELECT 'http://loop.a/' || doc_id, 'http://loop.a/' || doc_id,
        |    4, FALSE, NULL
        |  FROM ids WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT 'http://loop.b/' || doc_id, 'http://loop.b/' || doc_id,
        |    4, FALSE, NULL
        |  FROM ids WHERE doc_id % 5 = 0)
        |SELECT url, final_url, CAST(hops AS BIGINT) AS hops, terminal, text
        |FROM r ORDER BY url""".stripMargin,

    // Three records per file, all restating the SAME entity text; the
    // coding chain is visible only in `encoding` (applied steps in
    // undo order: br first, then gzip).
    "q350_brotli_stream" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id AS media_id, 0 AS record_idx,
        |    'http://ex.com/br/' || doc_id AS url, 'br' AS encoding
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 1, 'http://ex.com/brgz/' || doc_id, 'br+gzip'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 2, 'http://ex.com/plain/' || doc_id, 'identity'
        |  FROM ids)
        |SELECT media_id, CAST(record_idx AS INTEGER) AS record_idx, url,
        |  encoding,
        |  'Doc ' || media_id || chr(10) ||
        |    'brotli payload ' || media_id || ' restores exactly.' AS text
        |FROM r ORDER BY media_id, record_idx""".stripMargin,

    // The expected decoded text stated literally per arm (UTF-8 SQL
    // literals — DuckDB never needs the legacy decoders, the Spark
    // side must RECOVER these exact characters from the legacy bytes).
    "q349_cjk_sniff" ->
      """SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  'http://ex.com/cjk/' || doc_id AS url,
        |  CASE doc_id % 6 WHEN 0 THEN 'shift_jis' WHEN 1 THEN 'euc-jp'
        |       WHEN 2 THEN 'euc-kr' WHEN 3 THEN 'gbk' WHEN 4 THEN 'big5'
        |       ELSE 'windows-1252' END AS charset,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'これは日本語のテキストです。記事の本文が続きます。 page ' || doc_id
        |    WHEN 1 THEN 'これは日本語のテキストです。記事の本文が続きます。 page ' || doc_id
        |    WHEN 2 THEN '한국어는 한글로 표기한다 기사 본문이 이어진다 page ' || doc_id
        |    WHEN 3 THEN '这是一段中文文本没有空格 新闻正文在此继续展开 page ' || doc_id
        |    WHEN 4 THEN '這是一段繁體中文網頁沒有空格 新聞內容在這裡繼續 page ' || doc_id
        |    ELSE 'l''été café année passée déjà vu née et protégé page ' || doc_id
        |  END AS text
        |FROM documents WHERE doc_id % 50 <> 0
        |ORDER BY media_id""".stripMargin,

    // The identical two regex passes in the identical order; piece
    // indexes keep PRE-filter positions in both engines (the empty
    // drop happens after posexplode/generate_series numbering).
    "q351_sentence_cjk" ->
      """WITH t AS (SELECT doc_id,
        |    text || ' Latin one. Two! 日本語の文です。二つ目！三つ目？末尾' AS t0
        |  FROM documents),
        |r AS (SELECT doc_id, STRING_SPLIT(
        |    REGEXP_REPLACE(
        |      REGEXP_REPLACE(t0, '([.!?]) ([A-Z])',
        |                     '\1' || chr(1) || '\2', 'g'),
        |      '([。！？])', '\1' || chr(1), 'g'),
        |    chr(1)) AS ss FROM t)
        |SELECT doc_id, CAST(i - 1 AS INTEGER) AS piece_idx,
        |  ss[i] AS sentence, CAST(LENGTH(ss[i]) AS BIGINT) AS n_chars
        |FROM r, generate_series(1, 4000) g(i)
        |WHERE i <= len(ss) AND LENGTH(ss[i]) > 0
        |ORDER BY doc_id, piece_idx""".stripMargin,

    // The IDENTICAL regex on the identical text: both engines insert
    // the same sentinel with the same left-to-right consumption, so
    // the split agrees even on adjacent-boundary edge cases.
    "q347_sentence_split" ->
      """WITH t AS (SELECT doc_id,
        |    text || ' Alpha beta. Gamma delta! Epsilon zeta? Tail end' AS t0
        |  FROM documents),
        |r AS (SELECT doc_id, STRING_SPLIT(
        |    REGEXP_REPLACE(t0, '([.!?]) ([A-Z])',
        |                   '\1' || chr(1) || '\2', 'g'),
        |    chr(1)) AS ss FROM t)
        |SELECT doc_id, CAST(i - 1 AS INTEGER) AS sent_idx,
        |  ss[i] AS sentence, CAST(LENGTH(ss[i]) AS BIGINT) AS n_chars
        |FROM r, generate_series(1, 2000) g(i) WHERE i <= len(ss)
        |ORDER BY doc_id, sent_idx""".stripMargin,

    // Both PSL projections stated per arm; the wildcard arm's host
    // IS its own suffix, so its domain is NULL.
    "q346_public_suffix" ->
      """SELECT doc_id,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'a.example.co.uk' WHEN 1 THEN 'example.fr'
        |    WHEN 2 THEN 'www.ck' WHEN 3 THEN 'shop.foo.ck'
        |    WHEN 4 THEN 'x.github.io' ELSE 'b.kawasaki.jp' END AS host,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'co.uk' WHEN 1 THEN 'fr'
        |    WHEN 2 THEN 'ck' WHEN 3 THEN 'foo.ck'
        |    WHEN 4 THEN 'github.io' ELSE 'b.kawasaki.jp' END AS suffix,
        |  CASE doc_id % 6
        |    WHEN 0 THEN 'example.co.uk' WHEN 1 THEN 'example.fr'
        |    WHEN 2 THEN 'www.ck' WHEN 3 THEN 'shop.foo.ck'
        |    WHEN 4 THEN 'x.github.io' ELSE NULL END AS domain
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Per-entry title+body restated with the HTML strip and entity
    // decode applied (CDATA-wrapped <b> drops, &amp; decodes); the
    // four content-type doors are invisible in the output — all land
    // on the same text.
    "q345_feed_text" ->
      """WITH ids AS (SELECT doc_id, 1 + doc_id % 3 AS n FROM documents
        |             WHERE doc_id % 50 <> 0),
        |it AS (SELECT doc_id, j FROM ids, generate_series(0, 2) t(j)
        |       WHERE j < n),
        |tx AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0
        |    THEN STRING_AGG('Item ' || doc_id || ' ' || j || chr(10) ||
        |           'story ' || doc_id || ' part ' || j || ' & more',
        |           chr(10) ORDER BY j)
        |    ELSE STRING_AGG('Entry ' || doc_id || ' ' || j || chr(10) ||
        |           'plain note ' || doc_id || ' ' || j,
        |           chr(10) ORDER BY j)
        |  END AS text
        |  FROM it GROUP BY doc_id)
        |SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  'http://ex.com/feed/' || doc_id AS url,
        |  CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS carrier,
        |  text
        |FROM tx ORDER BY media_id""".stripMargin,

    // Wire-form decode stated: every variant reproduces the identity
    // text; the labels replay the applied decode chain, with the
    // brotli claim loud-but-kept (no JVM decoder, raw HTML passes).
    "q340_warc_http_decode" ->
      """SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  'http://ex.com/p/' || doc_id AS url, 'html' AS carrier,
        |  CASE doc_id % 5
        |    WHEN 1 THEN 'chunked'
        |    WHEN 2 THEN 'gzip'
        |    WHEN 3 THEN 'deflate'
        |    WHEN 4 THEN 'chunked+gzip'
        |    ELSE CASE WHEN doc_id % 3 = 0 THEN 'br'
        |              ELSE 'identity' END
        |  END AS encoding,
        |  'Doc ' || doc_id || chr(10) ||
        |    'payload ' || doc_id || ' decodes exactly.' AS text
        |FROM documents WHERE doc_id % 50 <> 0
        |ORDER BY media_id""".stripMargin,

    "q334_warc_revisit" ->
      """SELECT doc_id AS media_id, CAST(1 AS INTEGER) AS record_idx,
        |  'http://ex.com/again/' || doc_id AS url,
        |  'http://ex.com/orig/' || doc_id AS refers_to,
        |  doc_id % 3 <> 0 AS digest_match,
        |  'original page ' || doc_id || ' stays stored.' AS stored_text
        |FROM documents WHERE doc_id % 50 <> 0
        |ORDER BY media_id""".stripMargin,

    // Geometry restated: the larger extent wins, brand by parity.
    "q333_heif_dims" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN 'avif' ELSE 'heic' END AS brand,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE 320 + (doc_id % 10) * 16 END AS width,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE 240 + (doc_id % 7) * 16 END AS height,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE 1 + doc_id % 4 END AS n_items,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE 2 END AS n_ispe
        |FROM documents
        |ORDER BY media_id""".stripMargin,

    // The container walk stated: page and packet counts from the
    // writer's shape, duration by integer division (Opus minus the
    // 312 pre-skip at 48 kHz), the spanning packet counted once.
    "q322_ogg_info" ->
      """WITH d AS (SELECT doc_id,
        |    doc_id % 2 = 0 AS vorbis,
        |    CASE WHEN doc_id % 2 = 0 THEN 8000 * (1 + doc_id % 4)
        |         ELSE 16000 END AS rate,
        |    1 + doc_id % 3 AS pages,
        |    2 + doc_id % 2 AS ppp,
        |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS span
        |  FROM documents),
        |g AS (SELECT *, CASE WHEN vorbis THEN rate * (3 + doc_id % 5)
        |                     ELSE 48000 * (2 + doc_id % 4) + 312
        |                END AS granule FROM d)
        |SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS stream_idx,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE doc_id END AS serial,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN vorbis THEN 'vorbis' ELSE 'opus' END AS codec,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(1 + doc_id % 3 AS INTEGER) END AS channels,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(rate AS INTEGER) END AS sample_rate,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(pages + 1 AS INTEGER) END AS n_pages,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(1 + pages * ppp + span AS BIGINT) END AS n_packets,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE granule END
        |    AS last_granule,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN vorbis THEN granule * 1000 // rate
        |       ELSE (granule - 312) * 1000 // 48000 END AS duration_ms
        |FROM g
        |ORDER BY media_id""".stripMargin,

    // The tag walk stated: per-arm field strings (é = chr(233), the
    // em-dash = chr(8212)), the v1-trailer album on every 4th id,
    // frame count 4 when the v2 album frame is absent.
    "q324_id3_tags" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS major FROM documents)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE '2.' || major END AS version,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE 'Song ' || doc_id || ' caf' || chr(233) END AS title,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE 'Artist ' || chr(8212) || ' ' || doc_id END AS artist,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN 'V1 ' || doc_id
        |       ELSE 'Album ' || doc_id END AS album,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(1960 + doc_id % 60 AS VARCHAR) END AS year,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN major = 4 THEN chr(1046) || chr(1072) || chr(1085) ||
        |         chr(1088) || ' ' || doc_id
        |       ELSE 'Genre ' || (doc_id % 7) END AS genre,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN 4 ELSE 5 END AS n_frames
        |FROM d
        |ORDER BY media_id""".stripMargin,

    "q307_webp_decode" ->
      """WITH d AS (SELECT doc_id, CAST(19 + doc_id % 4 AS INTEGER) AS w,
        |             CAST(9 + doc_id % 5 AS INTEGER) AS h FROM documents),
        |px AS (SELECT doc_id, w, h, x, y,
        |         CASE WHEN y = 0 THEN x % 19
        |              ELSE (x*7 + y*3 + doc_id) % 19 END AS idx
        |       FROM d, generate_series(0, 22) gx(x),
        |            generate_series(0, 13) gy(y)
        |       WHERE x < w AND y < h),
        |s AS (SELECT doc_id, w, h,
        |  CAST(SUM(CASE WHEN doc_id % 4 = 3 THEN (doc_id*3 + idx) % 256
        |       ELSE (doc_id*7 + x*13 + y*29) % 256 END) AS BIGINT) AS sr,
        |  CAST(SUM(CASE WHEN doc_id % 4 = 3 THEN (doc_id*5 + idx*29) % 256
        |       ELSE (doc_id*5 + x*3 + y*11) % 256 END) AS BIGINT) AS sg,
        |  CAST(SUM(CASE WHEN doc_id % 4 = 3 THEN (doc_id*7 + idx*41) % 256
        |       ELSE (doc_id*3 + x + y*7) % 256 END) AS BIGINT) AS sb,
        |  CAST(COUNT(*) AS BIGINT) AS np
        |  FROM px GROUP BY doc_id, w, h)
        |SELECT s.doc_id AS media_id,
        |  CASE WHEN s.doc_id % 50 = 0 THEN NULL ELSE 'lossless' END AS variant,
        |  CASE WHEN s.doc_id % 50 = 0 THEN NULL ELSE s.w END AS width,
        |  CASE WHEN s.doc_id % 50 = 0 THEN NULL ELSE s.h END AS height,
        |  CASE WHEN s.doc_id % 50 = 0 THEN NULL ELSE s.np END AS n_pixels,
        |  CASE WHEN s.doc_id % 50 = 0 THEN NULL ELSE s.sr END AS sum_r,
        |  CASE WHEN s.doc_id % 50 = 0 THEN NULL ELSE s.sg END AS sum_g,
        |  CASE WHEN s.doc_id % 50 = 0 THEN NULL ELSE s.sb END AS sum_b,
        |  CASE WHEN s.doc_id % 50 = 0 THEN NULL
        |       ELSE 255 * s.np END AS sum_a
        |FROM s
        |ORDER BY media_id""".stripMargin,

    // q289's oracle verbatim: the streaming door is what's under
    // test; the routing semantics must not move.
    "q306_warc_stream_docs" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS media_id, CAST(2 AS INTEGER) AS record_idx,
        |  'http://ex.com/' || doc_id || '/h' AS url,
        |  'html' AS carrier,
        |  'html ' || doc_id AS text
        |FROM ids
        |UNION ALL
        |SELECT doc_id AS media_id, CAST(3 AS INTEGER) AS record_idx,
        |  'http://ex.com/' || doc_id || '/doc.pdf' AS url,
        |  'pdf' AS carrier,
        |  'pdf doc ' || doc_id || chr(10) || 'second line ' || doc_id AS text
        |FROM ids
        |ORDER BY media_id, record_idx""".stripMargin,

    // Confidence facts stated: simple docs have zero composite
    // codes; the clean Type0 doc maps all of them; the subset doc
    // maps none and the integer gate drops it.
    "q314_pdf_confidence" ->
      """WITH r AS (SELECT doc_id,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN doc_id % 3 = 0 THEN 'Simple ' || doc_id || ' page.'
        |       WHEN doc_id % 3 = 1 THEN 'Type0 ' || doc_id || ' clean line.'
        |       ELSE 'Subset ' || doc_id || ' mojibake line.' END AS text
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CASE WHEN text IS NULL THEN NULL ELSE 1 END AS n_pages,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN doc_id % 3 = 0 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(LENGTH(text) AS BIGINT) END AS type0_codes,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN doc_id % 3 = 2 THEN CAST(LENGTH(text) AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS type0_unmapped,
        |  CASE WHEN text IS NULL THEN NULL
        |       ELSE doc_id % 3 <> 2 END AS kept,
        |  text
        |FROM r
        |ORDER BY media_id""".stripMargin,

    // Stated message facts: decoded 2047 subject, the alternative's
    // plain leg with the QP soft break joined, part/attachment counts.
    "q313_mbox_text" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |msgs AS (SELECT doc_id, m FROM ids, generate_series(0, 2) g(m)
        |         WHERE m < 1 + doc_id % 3)
        |SELECT doc_id AS media_id, CAST(m AS INTEGER) AS msg_idx,
        |  'Msg ' || doc_id || '-' || m || ' r' || chr(233) || 'sum' ||
        |    chr(233) AS subject,
        |  CAST(CASE WHEN m % 2 = 1 THEN 5 ELSE 3 END AS INTEGER) AS n_parts,
        |  CAST(CASE WHEN m % 2 = 1 THEN 1 ELSE 0 END
        |    AS INTEGER) AS n_attachments,
        |  'Plain caf' || chr(233) || ' body ' || doc_id || ' msg ' || m ||
        |    ' continued.' AS text
        |FROM msgs
        |ORDER BY media_id, msg_idx""".stripMargin,

    // The .doc text stated: paragraph marks break lines, the field
    // instruction leg is gone, the result leg shows.
    // The BIFF8 sheet stated: LABEL/LABELSST/SST strings and
    // NUMBER/RK/MULRK numerics, cells tab-joined, rows newline-
    // joined. The CONTINUE-split SST on even ids must not change it.
    "q317_xls_text" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  'xls' AS carrier,
        |  'Alpha ' || doc_id || chr(9) || 'caf' || chr(233) || ' ' ||
        |    doc_id || chr(9) || chr(937) || ' tail ' || doc_id ||
        |    chr(10) ||
        |  doc_id || chr(9) || '42' || chr(9) || '7' || chr(10) ||
        |  'tail ' || chr(8212) || ' ' || doc_id || chr(9) ||
        |    (doc_id * 3) AS text
        |FROM ids
        |ORDER BY media_id""".stripMargin,

    // The deck stated: both atom forms, the in-atom CR paragraph
    // mark and the VT soft break each a line of their own.
    "q318_ppt_text" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  'ppt' AS carrier,
        |  'Title ' || doc_id || chr(10) ||
        |  'Bullet caf' || chr(233) || ' ' || doc_id || chr(10) ||
        |  'More ' || doc_id || chr(10) ||
        |  'Second ' || chr(8212) || ' slide ' || doc_id || chr(10) ||
        |  'Note ' || doc_id || chr(10) || 'wrap' AS text
        |FROM ids
        |ORDER BY media_id""".stripMargin,

    // Consolidation stated: per id the x-default-keyed cluster keeps
    // its English variant (4 alternates incl. x-default); every 5th
    // id's alternate-less 'de' page survives on its own URL key.
    "q332_hreflang_cluster" ->
      """WITH s AS (
        |  SELECT 'http://ex.com/en/' || doc_id AS cluster,
        |    'http://ex.com/en/' || doc_id AS url, 'en' AS lang,
        |    4 AS n_alt
        |  FROM documents
        |  UNION ALL
        |  SELECT 'http://ex.com/de/' || doc_id,
        |    'http://ex.com/de/' || doc_id, 'de', 0
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT cluster, url, lang, CAST(n_alt AS INTEGER) AS n_alt
        |FROM s ORDER BY cluster, url""".stripMargin,

    // The page-metadata struct stated per fixture arm: first-wins
    // scalars, entity decode, the canonical href normalized by
    // canonical_url on the even arm, the comment/script-immune odd
    // arm collecting only twitter:card, nulls on the headless arm.
    "q319_html_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN 'Doc ' || doc_id || ' & more'
        |       ELSE 'Pg ' || doc_id END AS title,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN 'Desc ' || chr(8212) || ' ' || doc_id
        |       ELSE 'd ' || doc_id END AS description,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN 'http://ex.com/p/' || doc_id
        |       ELSE '/rel/' || doc_id END AS canonical,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN 'en-US' ELSE 'pt-BR' END AS lang,
        |  CASE WHEN doc_id % 50 = 0 THEN 0
        |       WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS og_n,
        |  CASE WHEN doc_id % 50 <> 0 AND doc_id % 2 = 0
        |       THEN 'OG ' || doc_id END AS og_title,
        |  CASE WHEN doc_id % 50 <> 0 AND doc_id % 2 = 0
        |       THEN 'Article' END AS ld_type
        |FROM documents
        |ORDER BY media_id""".stripMargin,

    "q312_doc_text" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  'doc' AS carrier,
        |  'Doc ' || doc_id || ' legacy caf' || chr(233) || ' body.' ||
        |    chr(10) ||
        |  'Unicode ' || chr(8212) || ' tail ' || doc_id || '.' ||
        |    chr(10) || 'shown ' || doc_id AS text
        |FROM ids
        |ORDER BY media_id""".stripMargin,

    // The cleaned RTF stated line by line: destinations and
    // formatting words gone, escapes unescaped, delimiter-space rule
    // applied.
    "q305_rtf_text" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  'rtf' AS carrier,
        |  'Plain ' || doc_id || ' text with bold ' || doc_id ||
        |    ' and caf' || chr(233) || '.' || chr(10) ||
        |  'Second' || chr(9) || 'line ' || doc_id || ' ' || chr(8212) ||
        |    'dash.' || chr(10) ||
        |  'shown link ' || doc_id AS text
        |FROM ids
        |ORDER BY media_id""".stripMargin,

    // Which routed rows survive the header gate, stated: html always
    // (no header), pdf only for odd ids (even ids opt out), markdown
    // always (its benign header must not trip).
    "q304_xrobots_carriers" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  'html' AS carrier, 'html keep ' || doc_id AS text
        |FROM ids
        |UNION ALL
        |SELECT doc_id, CAST(1 AS INTEGER), 'pdf', 'pdf body ' || doc_id
        |FROM ids WHERE doc_id % 2 = 1
        |UNION ALL
        |SELECT doc_id, CAST(2 AS INTEGER), 'markdown', 'md body ' || doc_id
        |FROM ids
        |ORDER BY media_id, record_idx""".stripMargin,

    // The odt paragraphs replayed from the formula THROUGH the real
    // ODF package (stored mimetype, manifest, content.xml).
    "q303_odt_text" ->
      """WITH pt AS (
        |  SELECT doc_id,
        |    string_agg('odt ' || doc_id || ' para ' || p ||
        |      ' tok' || ((doc_id * 11 + p) % 37) || ' & t' || chr(228) || 'st',
        |      chr(10) ORDER BY p) AS text
        |  FROM documents, generate_series(0, 3) t(p)
        |  WHERE p < 1 + doc_id % 4
        |  GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE 'odt' END AS format,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(3 AS INTEGER) END AS n_members,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(length(t.text) AS BIGINT) END AS n_chars,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE t.text END AS text
        |FROM documents d JOIN pt t ON t.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // q276's oracle verbatim over the bzip2 forms.
    "q301_warc_bz2" ->
      """WITH ids AS (SELECT doc_id, 1 + doc_id % 2 AS np FROM documents
        |             WHERE doc_id % 50 <> 0),
        |pg AS (SELECT doc_id, j FROM ids, generate_series(0, 1) t(j)
        |       WHERE j < np)
        |SELECT doc_id AS media_id, CAST(2 + 2 * j AS INTEGER) AS record_idx,
        |  'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR)
        |    AS url,
        |  'utf-8' AS charset,
        |  'Page ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(j AS VARCHAR) ||
        |    chr(10) || 'text ' || CAST(doc_id AS VARCHAR) || ' & '
        |    || CAST(j AS VARCHAR) AS text
        |FROM pg
        |ORDER BY media_id, record_idx""".stripMargin,

    // q284's oracle verbatim over the xz forms.
    "q302_tar_xz" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |m AS (SELECT doc_id, k FROM ids, generate_series(0, 1) t(k))
        |SELECT doc_id * 10 + k AS media_id, 'bmp' AS format,
        |  CAST(10 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  CAST(SUM((doc_id * 7 + k * 31 + x * 13 + y * 29) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id * 5 + k * 17 + x * 3 + y * 11) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id * 3 + k * 7 + x + y * 7) % 256) AS BIGINT) AS sum_b
        |FROM m, generate_series(0, 9) a(x), generate_series(0, 7) b(y)
        |GROUP BY doc_id, k
        |ORDER BY media_id""".stripMargin,

    // q276's oracle verbatim: the zstd compressor is what's under
    // test; the record semantics must not move.
    "q298_warc_zst" ->
      """WITH ids AS (SELECT doc_id, 1 + doc_id % 2 AS np FROM documents
        |             WHERE doc_id % 50 <> 0),
        |pg AS (SELECT doc_id, j FROM ids, generate_series(0, 1) t(j)
        |       WHERE j < np)
        |SELECT doc_id AS media_id, CAST(2 + 2 * j AS INTEGER) AS record_idx,
        |  'http://ex.com/' || CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR)
        |    AS url,
        |  'utf-8' AS charset,
        |  'Page ' || CAST(doc_id AS VARCHAR) || ' ' || CAST(j AS VARCHAR) ||
        |    chr(10) || 'text ' || CAST(doc_id AS VARCHAR) || ' & '
        |    || CAST(j AS VARCHAR) AS text
        |FROM pg
        |ORDER BY media_id, record_idx""".stripMargin,

    // q284's oracle verbatim over the zstd forms.
    "q300_tar_zst" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |m AS (SELECT doc_id, k FROM ids, generate_series(0, 1) t(k))
        |SELECT doc_id * 10 + k AS media_id, 'bmp' AS format,
        |  CAST(10 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  CAST(SUM((doc_id * 7 + k * 31 + x * 13 + y * 29) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id * 5 + k * 17 + x * 3 + y * 11) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id * 3 + k * 7 + x + y * 7) % 256) AS BIGINT) AS sum_b
        |FROM m, generate_series(0, 9) a(x), generate_series(0, 7) b(y)
        |GROUP BY doc_id, k
        |ORDER BY media_id""".stripMargin,

    // The cleaned LaTeX stated line by line (the declared-transform
    // formula), plus the html row from the same record walk.
    "q297_latex_text" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  'http://ex.com/' || doc_id || '/page' AS url,
        |  'html' AS carrier,
        |  'html page ' || doc_id AS text
        |FROM ids
        |UNION ALL
        |SELECT doc_id, CAST(1 AS INTEGER),
        |  'http://ex.com/' || doc_id || '/paper.tex', 'latex',
        |  'Head ' || doc_id || chr(10) ||
        |  'Body ' || doc_id || ' with emph ' || doc_id ||
        |    ' & 100% real.' || chr(10) ||
        |  'Inline math drops but tail ' || doc_id || ' stays.' || chr(10) ||
        |  'alpha ' || doc_id || chr(10) ||
        |  'beta ' || doc_id || chr(10) ||
        |  'See and link ' || doc_id || ' now.' || chr(10) ||
        |  'Tilde joined and a break' || chr(10) ||
        |  'here ' || doc_id || '.' ||
        |  CASE WHEN doc_id % 2 = 0
        |       THEN chr(10) || 'Extra tok' || ((doc_id * 13) % 89) ||
        |            ' prose.'
        |       ELSE '' END
        |FROM ids
        |ORDER BY media_id, record_idx""".stripMargin,

    // Same replayed formula as q285, THROUGH the Type0 container:
    // 2-byte CID strings must decode via the /ToUnicode CMap
    // (bfchar + bfrange) — the writer's shifted CID scheme makes any
    // Identity shortcut fail the hash. Odd ids are the PDF 1.5
    // xref-stream generation, even the classic table.
    "q295_pdf_type0" ->
      """WITH pg AS (SELECT doc_id, p FROM documents,
        |              generate_series(0, 2) t(p)
        |            WHERE p < 1 + doc_id % 3),
        |ln AS (SELECT doc_id, p, l FROM pg, generate_series(0, 2) t2(l)
        |       WHERE l < 1 + (doc_id + p) % 3),
        |lt AS (SELECT doc_id, p, l,
        |         'doc ' || doc_id || ' pg ' || p || ' ln ' || l ||
        |         ' tok' || ((doc_id * 7 + p * 3 + l) % 97) ||
        |         CASE WHEN l % 2 = 0 THEN ' caf' || chr(233) ELSE '' END AS line
        |       FROM ln),
        |pt AS (SELECT doc_id, p, string_agg(line, chr(10) ORDER BY l) AS ptext
        |       FROM lt GROUP BY doc_id, p),
        |dt AS (SELECT doc_id, COUNT(*) AS n_pages,
        |         string_agg(ptext, chr(10) ORDER BY p) AS text
        |       FROM pt GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 2 = 1 THEN '1.5' ELSE '1.4' END AS pdf_version,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(t.n_pages AS INTEGER) END AS n_pages,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(length(t.text) AS BIGINT) END AS n_chars,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE t.text END AS text
        |FROM documents d JOIN dt t ON t.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // GENERATED from LangId.CrawlProfiles/CrawlSamples (the literal
    // constants), so the SQL scoring formula and argmax chain can
    // never drift from the Scala ones — see q288OracleSql below.
    "q288_crawl_lang_id" -> q288OracleSql,

    // Which pages survive the noindex gate, stated: page 0 always,
    // page 1 only for the id class whose fixture carries no meta tag.
    "q294_noindex_gate" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS media_id, CAST(1 AS INTEGER) AS record_idx,
        |  'http://ex.com/' || doc_id || '/0' AS url,
        |  'keep page ' || doc_id || ' zero' AS text
        |FROM ids
        |UNION ALL
        |SELECT doc_id, CAST(2 AS INTEGER),
        |  'http://ex.com/' || doc_id || '/1',
        |  'keep page ' || doc_id || ' one'
        |FROM ids WHERE doc_id % 3 = 2
        |ORDER BY media_id, record_idx""".stripMargin,

    // The AFTER world stated: EXIF fields all NULL (scrubbed), the
    // q243 pixel sums intact (survived) — both claims in one row.
    "q293_exif_scrub" ->
      """WITH dims AS (SELECT doc_id, 1 + doc_id % 3 AS tw, 1 + doc_id % 2 AS th
        |              FROM documents),
        |t AS (SELECT doc_id, tw, th, tx, ty
        |      FROM dims, generate_series(0, 2) a(tx), generate_series(0, 1) b(ty)
        |      WHERE tx < tw AND ty < th),
        |agg AS (SELECT doc_id, MAX(tw) AS tw, MAX(th) AS th,
        |          CAST(SUM(((doc_id * 7 + tx * 13 + ty * 29) % 256) * 256) AS BIGINT) AS s
        |        FROM t GROUP BY doc_id)
        |SELECT d.doc_id AS media_id,
        |  CAST(NULL AS INTEGER) AS orientation,
        |  CAST(NULL AS VARCHAR) AS make,
        |  CAST(NULL AS VARCHAR) AS date_time,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.tw * 16 AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(a.th * 16 AS INTEGER) END AS height,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE a.s END AS sum_r
        |FROM documents d JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // All three carriers' texts replayed, then both keep-first
    // windows — the engine must agree THROUGH the WARC walk, the
    // three extractors, the canonicalizer, and the window order.
    "q292_curation_v9" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS b FROM documents
        |             WHERE doc_id % 50 <> 0),
        |r AS (
        |  SELECT doc_id AS media_id, 2 AS record_idx, 'html' AS carrier,
        |    'http://ex.com/h/' || b AS canon,
        |    'html body for bucket ' || b ||
        |      ' carries enough words to keep.' AS text
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 3, 'pdf',
        |    'http://ex.com/d/' || doc_id || '.pdf',
        |    'pdf doc ' || (b % 7) || ' line one keeps' || chr(10) ||
        |      'pdf doc ' || (b % 7) || ' line two'
        |  FROM ids
        |  UNION ALL
        |  SELECT doc_id, 4, 'markdown',
        |    'http://ex.com/m/' || doc_id,
        |    'Doc ' || doc_id || chr(10) ||
        |      'markdown note ' || doc_id || ' with a link kept.'
        |  FROM ids),
        |u AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon
        |        ORDER BY media_id, record_idx) AS rn FROM r),
        |q AS (SELECT * FROM u WHERE rn = 1),
        |c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text
        |        ORDER BY media_id, record_idx) AS rn2 FROM q)
        |SELECT media_id, CAST(record_idx AS INTEGER) AS record_idx,
        |  carrier, canon AS url, text
        |FROM c WHERE rn2 = 1
        |ORDER BY media_id, record_idx""".stripMargin,

    // The cleaned text replayed as a pure string formula — heading
    // text kept, link text kept (URL dropped), bold markers stripped,
    // list/quote markers stripped, the fenced code block GONE.
    "q290_markdown_text" ->
      """WITH it AS (SELECT doc_id,
        |    string_agg('item ' || i || ' of ' || doc_id,
        |               chr(10) ORDER BY i) AS items
        |  FROM documents, generate_series(0, 2) t(i)
        |  WHERE i < 1 + doc_id % 3 GROUP BY doc_id)
        |SELECT d.doc_id,
        |  'Doc ' || d.doc_id || chr(10) ||
        |  'intro ' || d.doc_id || ' with a link and bold ' ||
        |    (d.doc_id % 7) || chr(10) ||
        |  it.items || chr(10) ||
        |  'quote ' || (d.doc_id % 5) || chr(10) ||
        |  'numbered ' || (d.doc_id % 2) AS text
        |FROM documents d JOIN it ON it.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Cell counts and the joined text replayed from the formula —
    // the engine must agree THROUGH from_json and the markdown clean.
    "q291_notebook_text" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN CAST(4 AS INTEGER)
        |       ELSE CAST(3 AS INTEGER) END AS n_cells,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(1 AS INTEGER) END AS n_markdown,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL
        |       WHEN doc_id % 2 = 0 THEN CAST(2 AS INTEGER)
        |       ELSE CAST(1 AS INTEGER) END AS n_code,
        |  CASE WHEN doc_id % 50 = 0 THEN NULL ELSE
        |    'Note ' || doc_id || chr(10) ||
        |    'cell ' || (doc_id % 7) || ' bold' || chr(10) ||
        |    'x = ' || doc_id || chr(10) || 'print(x)' ||
        |    CASE WHEN doc_id % 2 = 0
        |         THEN chr(10) || 'y = ' || (doc_id % 5) ELSE '' END
        |  END AS text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q284's oracle over the ZIP fixture: the same BMP channel sums
    // replayed from the pixel formulas — the engine must agree
    // THROUGH the streaming local-header walk and the BMP decode.
    "q287_zip_stream_media" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0),
        |m AS (SELECT doc_id, k FROM ids, generate_series(0, 1) t(k))
        |SELECT doc_id * 10 + k AS media_id, 'bmp' AS format,
        |  CAST(10 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
        |  CAST(SUM((doc_id * 7 + k * 31 + x * 13 + y * 29) % 256) AS BIGINT) AS sum_r,
        |  CAST(SUM((doc_id * 5 + k * 17 + x * 3 + y * 11) % 256) AS BIGINT) AS sum_g,
        |  CAST(SUM((doc_id * 3 + k * 7 + x + y * 7) % 256) AS BIGINT) AS sum_b
        |FROM m, generate_series(0, 9) a(x), generate_series(0, 7) b(y)
        |GROUP BY doc_id, k
        |ORDER BY media_id""".stripMargin,

    // Paragraph/chapter text replayed from the formulas — the engine
    // must agree THROUGH the real ZIP containers, the
    // WordprocessingML walk, and the OCF→OPF→spine→html_to_text
    // chain. n_members pins container structure.
    "q286_office_text" ->
      """WITH dx AS (
        |  SELECT doc_id,
        |    string_agg('docx ' || doc_id || ' para ' || p ||
        |      ' word' || ((doc_id * 3 + p) % 31) || ' & more',
        |      chr(10) ORDER BY p) AS text,
        |    CAST(3 AS INTEGER) AS n_members
        |  FROM documents, generate_series(0, 3) t(p)
        |  WHERE doc_id % 2 = 0 AND p < 1 + doc_id % 4
        |  GROUP BY doc_id),
        |epp AS (
        |  SELECT doc_id, c, p FROM documents,
        |    generate_series(0, 2) tc(c), generate_series(0, 1) tp(p)
        |  WHERE doc_id % 2 = 1 AND c < 1 + doc_id % 3
        |    AND p < 1 + (doc_id + c) % 2),
        |epc AS (
        |  SELECT doc_id, c,
        |    'Chapter ' || c || ' of ' || doc_id || chr(10) ||
        |    string_agg('epub ' || doc_id || ' ch ' || c || ' para ' || p,
        |      chr(10) ORDER BY p) AS ctext
        |  FROM epp GROUP BY doc_id, c),
        |ep AS (
        |  SELECT doc_id, string_agg(ctext, chr(10) ORDER BY c) AS text,
        |    CAST(3 + COUNT(*) AS INTEGER) AS n_members
        |  FROM epc GROUP BY doc_id),
        |u AS (
        |  SELECT doc_id, 'docx' AS format, n_members, text FROM dx
        |  UNION ALL
        |  SELECT doc_id, 'epub' AS format, n_members, text FROM ep)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE u.format END AS format,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE u.n_members END AS n_members,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(length(u.text) AS BIGINT) END AS n_chars,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE u.text END AS text
        |FROM documents d JOIN u ON u.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin,

    // Both carriers' texts replayed from their formulas — the engine
    // must agree THROUGH the WARC walk, the HTTP parse, the
    // content-type routing, the HTML cleaner, and the PDF container.
    "q289_warc_doc_text" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0)
        |SELECT doc_id AS media_id, CAST(2 AS INTEGER) AS record_idx,
        |  'http://ex.com/' || doc_id || '/h' AS url,
        |  'html' AS carrier,
        |  'html ' || doc_id AS text
        |FROM ids
        |UNION ALL
        |SELECT doc_id AS media_id, CAST(3 AS INTEGER) AS record_idx,
        |  'http://ex.com/' || doc_id || '/doc.pdf' AS url,
        |  'pdf' AS carrier,
        |  'pdf doc ' || doc_id || chr(10) || 'second line ' || doc_id AS text
        |FROM ids
        |ORDER BY media_id, record_idx""".stripMargin,

    // The whole v8 chain replayed over the derived page rows: the two
    // extraction stages reduce every page to the same two-sentence
    // text, then the same two keep-first windows as v7.
    "q281_curation_v8" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS b FROM documents
        |             WHERE doc_id % 50 <> 0),
        |pg AS (SELECT doc_id, b,
        |  'http://ex.com/p/' || CAST(b AS VARCHAR) AS canon,
        |  'Good body sentence one for bucket ' || CAST(b % 23 AS VARCHAR) ||
        |    ' carries enough words.' || chr(10) ||
        |    'Good body sentence two for bucket ' || CAST(b % 23 AS VARCHAR) ||
        |    ' closes the page.' AS text
        |  FROM ids),
        |u AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY canon
        |        ORDER BY doc_id) AS rn FROM pg),
        |q AS (SELECT * FROM u WHERE rn = 1),
        |c AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY text
        |        ORDER BY doc_id) AS rn2 FROM q)
        |SELECT doc_id AS media_id, CAST(0 AS INTEGER) AS record_idx,
        |  canon AS url, text
        |FROM c WHERE rn2 = 1
        |ORDER BY media_id""".stripMargin,

    // The frontier stated: quintets collapse to one /p/<b> row with
    // the max lastmod and their member count, /blocked is
    // robots-dropped, /public survives per document.
    "q283_sitemap_frontier" ->
      """WITH ids AS (SELECT doc_id, doc_id // 5 AS b FROM documents),
        |pb AS (SELECT b, MAX(1 + doc_id % 5) AS md, COUNT(*) AS n
        |       FROM ids GROUP BY b)
        |SELECT url, lastmod, n_sources FROM (
        |  SELECT 'http://ex.com/p/' || CAST(b AS VARCHAR) AS url,
        |    '2024-01-0' || CAST(md AS VARCHAR) AS lastmod,
        |    CAST(n AS BIGINT) AS n_sources
        |  FROM pb
        |  UNION ALL
        |  SELECT 'http://ex.com/public/' || CAST(doc_id AS VARCHAR),
        |    '2024-03-01', CAST(1 AS BIGINT)
        |  FROM ids)
        |ORDER BY url""".stripMargin,

    // Every robots decision stated: graftbot's group blocks only its
    // own /blocked<k>/ (with the /open/ carve-out and the *.zip$
    // anchor), otherbot falls to * (all blocked except /public/).
    "q282_robots_gate" ->
      """WITH ids AS (SELECT doc_id, doc_id % 3 AS k FROM documents),
        |ap AS (SELECT * FROM (VALUES ('graftbot'), ('otherbot')) a(agent)
        |       CROSS JOIN (VALUES ('root'), ('b0'), ('b1'), ('b2'),
        |         ('open'), ('pub'), ('zip'), ('zipx')) p(tag)),
        |rws AS (
        |  SELECT doc_id, k, agent, tag,
        |    CASE tag WHEN 'root' THEN '/'
        |      WHEN 'b0' THEN '/blocked0/x' WHEN 'b1' THEN '/blocked1/x'
        |      WHEN 'b2' THEN '/blocked2/x'
        |      WHEN 'open' THEN '/blocked' || CAST(k AS VARCHAR) || '/open/y'
        |      WHEN 'pub' THEN '/public/p'
        |      WHEN 'zip' THEN '/files/a.zip' ELSE '/files/a.zipx' END AS path
        |  FROM ids CROSS JOIN ap)
        |SELECT doc_id, agent, path,
        |  CASE WHEN agent = 'graftbot' THEN
        |    CASE tag WHEN 'b0' THEN k <> 0 WHEN 'b1' THEN k <> 1
        |      WHEN 'b2' THEN k <> 2 WHEN 'zip' THEN FALSE ELSE TRUE END
        |  ELSE CASE tag WHEN 'pub' THEN TRUE ELSE FALSE END
        |  END AS allowed
        |FROM rws
        |ORDER BY doc_id, agent, path""".stripMargin,

    // The C4 gates replayed: %7 docs die to the lorem-ipsum gate, %11
    // to the brace gate; exactly the two long terminal-punctuation
    // lines survive everywhere else.
    "q280_c4_lines" ->
      """SELECT doc_id,
        |  'This is a good sentence number ' || CAST(doc_id AS VARCHAR) ||
        |    ' with many words.' || chr(10) ||
        |    'Another complete sentence follows right here with id ' ||
        |    CAST(doc_id AS VARCHAR) || '.' AS text,
        |  CAST(2 AS BIGINT) AS n_lines
        |FROM documents
        |WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 0
        |ORDER BY doc_id""".stripMargin,

    // The MKV/WebM formulas replayed; n_samples is null on the EBML
    // leg by contract (headers carry no sample count).
    "q255_mkv_metadata" ->
      """SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 2 = 0 THEN 'webm' ELSE 'mkv' END AS format,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(16 * (2 + d.doc_id % 30) AS INTEGER) END AS width,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(9 * (2 + d.doc_id % 30) AS INTEGER) END AS height,
        |  CAST(NULL AS BIGINT) AS n_samples,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE CAST(1000 + d.doc_id % 900 AS BIGINT) END AS duration_ms,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       WHEN d.doc_id % 3 = 0 THEN 'V_VP9'
        |       WHEN d.doc_id % 3 = 1 THEN 'V_AV1'
        |       ELSE 'V_MPEG4/ISO/AVC' END AS codec,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL ELSE 2 END AS n_tracks
        |FROM documents d
        |ORDER BY media_id""".stripMargin,

    // The audio fingerprint replayed in integer SQL: G.711 μ-law
    // expansion per byte, per-window Σs², adjacent comparisons, bit
    // pack into 32-bit halves.
    "q253_audio_fingerprint" ->
      """WITH dims AS (SELECT doc_id, 65 * (2 + doc_id % 3) AS n,
        |                2 + doc_id % 3 AS win
        |              FROM documents WHERE doc_id % 50 <> 0),
        |smp AS (SELECT doc_id, win, i,
        |         (CASE WHEN (255 - ((doc_id * 7 + i * 13) % 256)) >= 128
        |               THEN -1 ELSE 1 END *
        |          (((2 * ((255 - ((doc_id * 7 + i * 13) % 256)) % 16) + 33)
        |            * (1 << (((255 - ((doc_id * 7 + i * 13) % 256)) // 16) % 8))
        |            - 33) * 4)) AS v
        |        FROM dims, generate_series(0, 259) t(i) WHERE i < n),
        |en AS (SELECT doc_id, i // win AS k,
        |         CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS e
        |       FROM smp GROUP BY 1, 2),
        |bits AS (SELECT a.doc_id, a.k
        |         FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.k = a.k + 1
        |         WHERE a.k < 64 AND a.e > b.e),
        |hi AS (SELECT doc_id, CAST(SUM(CAST(1 AS BIGINT) << (k - 32)) AS BIGINT) AS v
        |       FROM bits WHERE k >= 32 GROUP BY 1),
        |lo AS (SELECT doc_id, CAST(SUM(CAST(1 AS BIGINT) << k) AS BIGINT) AS v
        |       FROM bits WHERE k < 32 GROUP BY 1)
        |SELECT d.doc_id AS media_id,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE COALESCE(hi.v, 0) END AS ahash_hi,
        |  CASE WHEN d.doc_id % 50 = 0 THEN NULL
        |       ELSE COALESCE(lo.v, 0) END AS ahash_lo
        |FROM documents d
        |LEFT JOIN hi ON hi.doc_id = d.doc_id
        |LEFT JOIN lo ON lo.doc_id = d.doc_id
        |ORDER BY media_id""".stripMargin
  )

  /** Oracle for q236: the shared FNV token-hash CTEs, bucket counts
    * for target (doc_id ≡ 0 mod 7) and raw, the same smoothed
    * log-ratio → integer-1e4 weight per bucket, exact integer doc
    * sums. */
  private lazy val dsirOracleSql: String =
    s"""WITH $fnvTokenHashCtes,
       |fb AS (SELECT doc_id, CAST(h % 1024 AS BIGINT) AS b FROM dh),
       |tcounts AS (SELECT b, COUNT(*) AS c FROM fb WHERE doc_id % 7 = 0 GROUP BY 1),
       |rcounts AS (SELECT b, COUNT(*) AS c FROM fb GROUP BY 1),
       |tot AS (SELECT (SELECT COUNT(*) FROM fb WHERE doc_id % 7 = 0) AS tt,
       |               (SELECT COUNT(*) FROM fb) AS rt),
       |w AS (SELECT s.b,
       |        CAST(ROUND((LN(CAST(COALESCE(t.c, 0) + 1 AS DOUBLE)
       |                       / CAST(tt + 1024 AS DOUBLE))
       |                  - LN(CAST(COALESCE(r.c, 0) + 1 AS DOUBLE)
       |                       / CAST(rt + 1024 AS DOUBLE))) * 10000)
       |          AS BIGINT) AS w_e4
       |      FROM (SELECT i AS b FROM generate_series(0, 1023) t(i)) s
       |      CROSS JOIN tot
       |      LEFT JOIN tcounts t ON t.b = s.b
       |      LEFT JOIN rcounts r ON r.b = s.b),
       |sc AS (SELECT fb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat,
       |         CAST(SUM(w.w_e4) AS BIGINT) AS score_e4
       |       FROM fb JOIN w ON w.b = fb.b GROUP BY 1)
       |SELECT d.doc_id, COALESCE(sc.n_feat, 0) AS n_feat, sc.score_e4,
       |  COALESCE(sc.score_e4 > 0, FALSE) AS selected
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Shared oracle CTE text (tok, th, dh): per-token FNV-1a 64 in
    * HUGEINT mod-2^64 (the simHashOracleSql byte-fold) with
    * [[graft.functions.ShingleHashes]]'s trailing NUL-separator
    * multiply, hash-set dedup per doc — the replay of
    * `shingleHashes64(text, 1)` that q230 and q236 both build on. */
  private lazy val fnvTokenHashCtes: String = {
    val fold = """list_reduce(
      |    list_prepend(14695981039346656037::HUGEINT,
      |      flatten(list_transform(list_transform(string_split(t, ''), c -> unicode(c)),
      |        cp -> CASE
      |          WHEN cp < 128 THEN [CAST(cp AS HUGEINT)]
      |          WHEN cp < 2048 THEN [CAST(192 + cp//64 AS HUGEINT), CAST(128 + cp%64 AS HUGEINT)]
      |          WHEN cp < 65536 THEN [CAST(224 + cp//4096 AS HUGEINT), CAST(128 + (cp//64)%64 AS HUGEINT), CAST(128 + cp%64 AS HUGEINT)]
      |          ELSE [CAST(240 + cp//262144 AS HUGEINT), CAST(128 + (cp//4096)%64 AS HUGEINT), CAST(128 + (cp//64)%64 AS HUGEINT), CAST(128 + cp%64 AS HUGEINT)]
      |        END))),
      |    (h, b) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT))) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
      |  )""".stripMargin
    s"""tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |th AS (SELECT doc_id,
       |  ($fold * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT AS h
       |  FROM tok),
       |dh AS (SELECT DISTINCT doc_id, h FROM th)""".stripMargin
  }

  /** Oracle for q230: the shared FNV token-hash CTEs, then the same
    * synthetic bucket-weight formula and sigmoid. */
  private lazy val qualityClassifierOracleSql: String = {
    s"""WITH $fnvTokenHashCtes,
       |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feat,
       |         CAST(SUM((CAST(h % 4096 AS BIGINT) * 31 + 7) % 201 - 100) AS BIGINT) AS sw
       |       FROM dh GROUP BY 1)
       |SELECT d.doc_id, COALESCE(sc.n_feat, 0) AS n_feat,
       |  CASE WHEN sc.n_feat > 0
       |       THEN ROUND(1.0 / (1.0 + EXP(-(CAST(sw AS DOUBLE) / (100.0 * n_feat)))), 4)
       |  END AS quality
       |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin
  }

  /** Generated oracle for q226: the q212 single-step replay CTE
    * unrolled three times, each round seeding from the previous
    * round's assignment — same quantization, same exact-integer
    * centroid state, same fixed-order double distance, same
    * (dist, centroid-id) tie rule. */
  private lazy val kmeansIterOracleSql: String = {
    def round(i: Int, prev: String): String =
      s"""cell$i AS (SELECT label, i AS pos, SUM(q[i]) AS s
         |  FROM $prev, generate_series(1, 64) t(i) GROUP BY 1, 2),
         |cent$i AS (SELECT label AS clabel, list(s ORDER BY pos) AS sv
         |  FROM cell$i GROUP BY 1),
         |nn$i AS (SELECT label AS clabel, COUNT(*) AS n FROM $prev GROUP BY 1),
         |d$i AS (SELECT vec_id, clabel, q, xx,
         |    CAST(xx AS DOUBLE)
         |      - (2.0 * CAST(CAST(list_dot_product(q, sv) AS BIGINT) AS DOUBLE))
         |        / CAST(n AS DOUBLE)
         |      + CAST(CAST(list_dot_product(sv, sv) AS BIGINT) AS DOUBLE)
         |        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS dist
         |  FROM $prev CROSS JOIN cent$i JOIN nn$i USING (clabel)),
         |a$i AS (SELECT vec_id, clabel AS label, q, xx FROM (
         |    SELECT vec_id, clabel, q, xx,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
         |    FROM d$i) WHERE rn = 1)""".stripMargin
    s"""WITH qv AS (
       |  SELECT vec_id, CAST(label AS BIGINT) AS label,
       |    list_transform(embedding,
       |      e -> CAST(ROUND(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS q
       |  FROM embeddings),
       |a0 AS (SELECT vec_id, label, q,
       |    CAST(list_dot_product(q, q) AS BIGINT) AS xx FROM qv),
       |${round(1, "a0")},
       |${round(2, "a1")},
       |${round(3, "a2")}
       |SELECT label AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(vec_id) AS BIGINT) AS id_sum
       |FROM a3 GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Shared by q49 (label propagation) and q79 (star alternation):
    * the exact-Jaccard pair pipeline resolved by a recursive
    * transitive closure — two engine algorithms, one ground truth. */
  private lazy val dupComponentsOracleSql: String =
    """WITH RECURSIVE
      |tok AS (SELECT doc_id, STRING_SPLIT(text,' ') AS ws FROM documents),
      |g AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      |      FROM tok, generate_series(1, 2000) t(i) WHERE i <= len(ws)-2),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
      |p0 AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter
      |       FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |jp AS (SELECT id1, id2
      |       FROM p0 JOIN sz sa ON sa.doc_id = id1 JOIN sz sb ON sb.doc_id = id2
      |       WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.5),
      |e AS (SELECT id1 AS a, id2 AS b FROM jp UNION SELECT id2, id1 FROM jp),
      |reach AS (SELECT a, b FROM e
      |          UNION
      |          SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
      |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp_id FROM reach GROUP BY a)
      |SELECT comp_id, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(id) AS BIGINT) AS id_sum
      |FROM comp GROUP BY comp_id ORDER BY comp_id""".stripMargin

  /** Shared winnow CTE (q70/q71): `fp(doc_id, m)` = the distinct
    * window-min rolling hashes per document, k=8, w=4, base 263
    * mod 2^31-1 — the exact [[graft.functions.RollingWinnow]]
    * algorithm in SQL. */
  private lazy val winnowFpCte: String = {
    val p = (1L << 31) - 1
    val pows = Array.iterate(1L, 8)(x => x * 263 % p).reverse
    val terms = (0 until 8)
      .map(j => s"CAST(ord(substring(text, i + $j, 1)) AS BIGINT) * ${pows(j)}")
      .mkString(" + ")
    s"""h AS (SELECT doc_id, i,
       |    ($terms) % $p AS hv,
       |    CAST(length(text) AS BIGINT) - 7 AS n
       |  FROM documents, generate_series(1, 2000) t(i)
       |  WHERE i <= length(text) - 7),
       |mins AS (SELECT doc_id, i, n,
       |  MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
       |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
       |  FROM h),
       |fp AS (SELECT DISTINCT doc_id, m FROM mins WHERE i <= GREATEST(n - 3, 1))""".stripMargin
  }

  // ------------------------------------------------- generated oracles
  //
  // These three queries are deterministic sketch algorithms (seeded
  // hyperplanes / FNV-1a SimHash), so their DuckDB oracles recompute
  // the SAME algorithm from the raw tables in SQL — planes inlined as
  // literals, FNV in HUGEINT mod-2^64 arithmetic — rather than trusting
  // any Spark-side value. Cross-engine agreement checks tokenization,
  // hashing, bucketing, probing, the pair joins and the final ranking/
  // threshold semantics end to end.

  /** DuckDB SQL literal for the seeded hyperplane family — the same
    * doubles [[graft.llm.Similarity.lshBucket]] uses (Double.toString
    * round-trips exactly; DuckDB parses to the nearest double = the
    * same value). */
  private def planesSqlLit(dim: Int, n: Int): String =
    graft.llm.Similarity.planeFamily(dim, n)
      .map(_.mkString("[", ",", "]::DOUBLE[]")).mkString("[", ", ", "]")

  /** Bucket expression over column `emb` (DOUBLE[]) given plane list
    * column `ps`. The projection fold is list_prepend(0.0)+reduce so
    * the double additions happen in exactly the order of Spark's
    * `aggregate(zip_with(...), 0.0, _+_)` — bit-identical signs. */
  private def bucketSqlExpr(nPlanes: Int): String =
    (0 until nPlanes).map { i =>
      s"""(CASE WHEN list_reduce(list_prepend(0.0::DOUBLE,
         |  list_transform(list_zip(emb, ps[${i + 1}]), s -> s[1]*s[2])), (a,b) -> a+b) >= 0
         |  THEN ${1 << i} ELSE 0 END)""".stripMargin
    }.mkString(" + ")

  private def probesSqlList(nPlanes: Int): String =
    ("bucket" +: (0 until nPlanes).map(i => s"xor(bucket, ${1 << i})")).mkString("[", ", ", "]")

  /** Oracle for q31: recompute buckets with the inlined plane family,
    * gather each query's multi-probe candidates, rank by exact cosine. */
  private def lshTopKOracleSql(nPlanes: Int, k: Int): String =
    s"""WITH pl AS (SELECT ${planesSqlLit(64, nPlanes)} AS ps),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |b AS (SELECT vec_id, emb, ${bucketSqlExpr(nPlanes)} AS bucket FROM e, pl),
       |q AS (SELECT vec_id AS qid, unnest(${probesSqlList(nPlanes)}) AS bucket
       |      FROM b WHERE vec_id < 5),
       |cand AS (SELECT DISTINCT qid, c.vec_id AS vec_id
       |         FROM q JOIN b c USING (bucket) WHERE c.vec_id <> qid),
       |sims AS (SELECT qid, cand.vec_id AS vec_id,
       |           list_cosine_similarity(qb.emb, cb.emb) AS s
       |         FROM cand JOIN b qb ON qb.vec_id = qid
       |                   JOIN b cb ON cb.vec_id = cand.vec_id),
       |r AS (SELECT qid, vec_id, s,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, vec_id) AS INT) AS rnk FROM sims)
       |SELECT qid, vec_id, rnk, ROUND(s,4) AS sim FROM r WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  /** Oracle for q37: same bucket recomputation; candidate pairs share
    * the left side's exact bucket with any of the right side's probe
    * buckets (id1 < id2, distinct), verified by exact cosine. */
  /** Shared LSH near-dup CTE list ending in `sims(id1, id2, s)` —
    * q37 filters and presents it; q78 feeds it into the closure. */
  private def lshPairCtes(nPlanes: Int): String =
    s"""pl AS (SELECT ${planesSqlLit(64, nPlanes)} AS ps),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |b AS (SELECT vec_id, emb, ${bucketSqlExpr(nPlanes)} AS bucket FROM e, pl),
       |pr AS (SELECT vec_id, unnest(${probesSqlList(nPlanes)}) AS bucket FROM b),
       |cand AS (SELECT DISTINCT a.vec_id AS id1, p.vec_id AS id2
       |         FROM b a JOIN pr p USING (bucket) WHERE a.vec_id < p.vec_id),
       |sims AS (SELECT id1, id2, list_cosine_similarity(b1.emb, b2.emb) AS s
       |         FROM cand JOIN b b1 ON b1.vec_id = id1 JOIN b b2 ON b2.vec_id = id2)""".stripMargin

  private def lshNearDupOracleSql(nPlanes: Int, threshold: Double): String =
    s"""WITH ${lshPairCtes(nPlanes)}
       |SELECT id1, id2, ROUND(s,4) AS sim FROM sims WHERE s >= $threshold ORDER BY id1, id2""".stripMargin

  /** q78: the q37 pair pipeline, resolved to duplicate groups by the
    * q49 recursive closure — SemDeDup's cluster-then-prune posture
    * summarized per semantic-duplicate component. */
  private def semanticDedupOracleSql(nPlanes: Int, threshold: Double): String =
    s"""WITH RECURSIVE ${lshPairCtes(nPlanes)},
       |jp AS (SELECT id1, id2 FROM sims WHERE s >= $threshold),
       |ed AS (SELECT id1 AS a, id2 AS b FROM jp UNION SELECT id2, id1 FROM jp),
       |reach AS (SELECT a, b FROM ed
       |          UNION
       |          SELECT r.a, e2.b FROM reach r JOIN ed e2 ON r.b = e2.a),
       |comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp_id FROM reach GROUP BY a)
       |SELECT comp_id, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  CAST(SUM(id) AS BIGINT) AS id_sum
       |FROM comp GROUP BY comp_id ORDER BY comp_id""".stripMargin

  /** Oracle for q28: FNV-1a 64 per token (HUGEINT mod-2^64 — BIGINT
    * would overflow-error, DuckDB has no wrapping multiply), per-bit
    * majority vote, 4×16-bit chunk candidate join, Hamming filter —
    * the exact [[graft.llm.Dedup.simHashPairs]] contract recomputed
    * from the raw text. The Scala expression hashes UTF-8 BYTES, so
    * the SQL UTF-8-encodes each codepoint before folding (a raw
    * `unicode(c)` would diverge on any non-ASCII character and can
    * exceed the low-byte xor's 0-255 domain). */
  private def simHashOracleSql(maxHamming: Int): String = {
    val pow2 = (0 until 64).map(i => s"${BigInt(1) << i}::HUGEINT").mkString("[", ",", "]")
    s"""WITH pw AS (SELECT $pow2 AS p),
       |docs AS (SELECT doc_id, text FROM documents WHERE length(trim(text)) > 0),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM docs),
       |th AS (SELECT doc_id,
       |  list_reduce(
       |    list_prepend(14695981039346656037::HUGEINT,
       |      flatten(list_transform(list_transform(string_split(t, ''), c -> unicode(c)),
       |        cp -> CASE
       |          WHEN cp < 128 THEN [CAST(cp AS HUGEINT)]
       |          WHEN cp < 2048 THEN [CAST(192 + cp//64 AS HUGEINT), CAST(128 + cp%64 AS HUGEINT)]
       |          WHEN cp < 65536 THEN [CAST(224 + cp//4096 AS HUGEINT), CAST(128 + (cp//64)%64 AS HUGEINT), CAST(128 + cp%64 AS HUGEINT)]
       |          ELSE [CAST(240 + cp//262144 AS HUGEINT), CAST(128 + (cp//4096)%64 AS HUGEINT), CAST(128 + (cp//64)%64 AS HUGEINT), CAST(128 + cp%64 AS HUGEINT)]
       |        END))),
       |    (h, b) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT))) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT
       |  ) AS h FROM tok),
       |bits AS (SELECT doc_id, i,
       |    SUM(CASE WHEN (h // p[i+1]) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th, pw, range(0, 64) r(i) GROUP BY doc_id, i),
       |sh AS (SELECT doc_id,
       |  CAST(CASE WHEN s >= 9223372036854775808::HUGEINT THEN s - 18446744073709551616::HUGEINT ELSE s END AS BIGINT) AS sb
       |  FROM (SELECT doc_id, SUM(CASE WHEN v >= 0 THEN p[i+1] ELSE 0::HUGEINT END) AS s
       |        FROM bits, pw GROUP BY doc_id)),
       |ch AS (SELECT doc_id, sb, i AS ci, (sb >> (i*16)) & 65535 AS cv
       |  FROM sh, range(0, 4) r(i)),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.sb AS s1, b.sb AS s2
       |  FROM ch a JOIN ch b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
       |SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(s1, s2)) <= $maxHamming ORDER BY id1, id2""".stripMargin
  }
}
