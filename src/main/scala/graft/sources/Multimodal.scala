package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus decode / feature-extract
  * / frame-sample operators.
  *
  * Every common crawled-media format decodes FOR REAL here, pure-JVM
  * from its specification — PNG (all color types/depths, Adam7), JPEG
  * (baseline AND progressive), GIF (LZW pixels), BMP, TIFF
  * (none/PackBits/LZW), ICO, WAV/PCM, AU/AIFF with G.711 μ-law/A-law
  * — each differential-pinned against the JDK's own decoders where
  * one exists and oracle-replayed at the query level. Only what
  * genuinely needs an external codec stays a deterministic STUB
  * (video frame decode, JPEG arithmetic-coded/12-bit, model-based
  * feature extraction), clearly marked, behind the same
  * `mapPartitions` boundary — swapping in a JNI/ffmpeg-backed kernel
  * is a drop-in change and nothing upstream or downstream moves.
  *
  * Scale posture: decode runs per-partition with no shuffle; feature
  * columns are pruned like any other; payload bytes never pass through
  * a wide dependency.
  */
object Multimodal {

  /** Wrap any table into the media shape (payload from a binary or
    * string column) — used by tests and by ingestion glue. */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String,
              mediaType: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      lit(mediaType).as("media_type"),
      col(payloadCol).cast("binary").as("payload"),
      struct(lit(null).cast("string").as("format"),
        lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms")).as("meta"))

  /** REAL pure-JVM image header parse (no codecs needed — container
    * headers are plain bytes): returns (format, width, height) for
    * PNG (IHDR chunk), JPEG (SOF0/1/2… frame marker scan), GIF
    * (logical screen descriptor), BMP and WebP (VP8 lossy sync /
    * VP8L lossless packed fields / VP8X extended canvas), None for
    * anything else. This is the non-stub tier of the decode path:
    * dimensions come from the actual bytes, not a hash. */
  def parseImageHeader(bytes: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int) = bytes(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    if (bytes == null) None
    // PNG: 8-byte signature, then the IHDR chunk is mandatory-first:
    // 4-byte length, "IHDR", width/height as big-endian u32 at 16/20.
    else if (bytes.length >= 24 && u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' &&
             u8(3) == 'G' && u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a)
      Some(("png", be32(16), be32(20)))
    // GIF87a/GIF89a: width/height little-endian u16 at offset 6/8.
    else if (bytes.length >= 10 && u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' &&
             u8(3) == '8' && (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a')
      Some(("gif", le16(6), le16(8)))
    // BMP: "BM" + a known DIB header size at offset 14 (the two magic
    // bytes alone would false-positive on any text starting "BM…") —
    // width/height signed LE u32 at 18/22 (negative height = top-down
    // row order; dimensions are the magnitudes).
    else if (bytes.length >= 26 && u8(0) == 'B' && u8(1) == 'M' && {
      val dib = u8(14) | (u8(15) << 8) | (u8(16) << 16) | (u8(17) << 24)
      Set(12, 40, 52, 56, 64, 108, 124).contains(dib)
    }) {
      def le32s(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
      val dib = u8(14) | (u8(15) << 8) | (u8(16) << 16) | (u8(17) << 24)
      // BITMAPCOREHEADER (dib==12) stores width/height as LE u16 at
      // 18/20; every later header uses signed LE u32 at 18/22.
      if (dib == 12) Some(("bmp", le16(18), le16(20)))
      else Some(("bmp", math.abs(le32s(18)), math.abs(le32s(22))))
    }
    // WebP: RIFF/WEBP container; dims live in the first VP8 (lossy:
    // 14-bit LE fields past the 9d 01 2a sync), VP8L (lossless:
    // 14-bit fields packed after the 0x2f tag) or VP8X (extended:
    // 24-bit canvas minus one) chunk.
    else if (bytes.length >= 25 && u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' &&
             u8(3) == 'F' && u8(8) == 'W' && u8(9) == 'E' && u8(10) == 'B' &&
             u8(11) == 'P') {
      val tag = new String(bytes, 12, 4, "US-ASCII")
      if (tag == "VP8 " && bytes.length >= 30 && u8(23) == 0x9d &&
          u8(24) == 0x01 && u8(25) == 0x2a)
        Some(("webp", le16(26) & 0x3fff, le16(28) & 0x3fff))
      else if (tag == "VP8L" && bytes.length >= 25 && u8(20) == 0x2f) {
        val b32 = u8(21).toLong | (u8(22).toLong << 8) |
          (u8(23).toLong << 16) | (u8(24).toLong << 24)
        Some(("webp", (1 + (b32 & 0x3fff)).toInt, (1 + ((b32 >> 14) & 0x3fff)).toInt))
      } else if (tag == "VP8X" && bytes.length >= 30) {
        val w = 1 + (u8(24) | (u8(25) << 8) | (u8(26) << 16))
        val h = 1 + (u8(27) | (u8(28) << 8) | (u8(29) << 16))
        Some(("webp", w, h))
      } else None
    }
    // JPEG: FF D8, then walk marker segments to the first SOFn frame
    // header (C0–CF except C4/C8/CC); height/width big-endian u16 at
    // payload offsets 3/5 past the 2-byte segment length.
    else if (bytes.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      var res: Option[(String, Int, Int)] = None
      while (res.isEmpty && i + 3 < bytes.length && u8(i) == 0xff) {
        val marker = u8(i + 1)
        if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7) || marker == 0x01) i += 2
        else {
          val segLen = be16(i + 2)
          if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 &&
              marker != 0xcc && i + 8 < bytes.length)
            res = Some(("jpeg", be16(i + 7), be16(i + 5)))
          else i += 2 + segLen
        }
      }
      res
    } else None
  }

  /** Parsed audio/video container header (the non-stub tier for the
    * audio/video payloads, sibling of [[parseImageHeader]]).
    * `sampleRate` is Hz for WAV and the mvhd timescale for MP4;
    * `channels` is 0 where the container doesn't carry it at this
    * level (MP4). */
  final case class AvHeader(format: String, durationMs: Long,
                            sampleRate: Int, channels: Int)

  /** REAL pure-JVM audio/video header parse — WAV (RIFF chunk walk:
    * fmt sample-rate/channels/byte-rate, data size → duration) and
    * MP4 (top-level box walk to moov/mvhd v0/v1: timescale +
    * duration). No codec library: container headers are plain bytes,
    * exactly like the image tier. Returns None for anything else. */
  def parseAvHeader(bytes: Array[Byte]): Option[AvHeader] = {
    if (bytes == null || bytes.length < 12) return None
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      (u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24))
    def be32(i: Int): Long =
      ((u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3).toLong)
    def fourcc(i: Int) = new String(bytes, i, 4, "US-ASCII")
    // all cursor arithmetic in Long: chunk/box sizes are unsigned u32
    // from untrusted bytes — Int math would overflow negative on a
    // hostile size and walk the cursor backwards (infinite loop)
    if (fourcc(0) == "RIFF" && fourcc(8) == "WAVE") {
      var i = 12L
      var rate = 0; var ch = 0; var byteRate = 0L; var dataLen = -1L
      while (i + 8 <= bytes.length && (rate == 0 || dataLen < 0)) {
        val ii = i.toInt
        val id = fourcc(ii); val sz = le32(ii + 4)
        if (id == "fmt " && i + 24 <= bytes.length) {
          ch = le16(ii + 10); rate = le32(ii + 12).toInt; byteRate = le32(ii + 16)
        } else if (id == "data") dataLen = sz
        i += 8L + sz + (sz & 1) // RIFF chunks are word-aligned
      }
      if (rate <= 0) None
      else Some(AvHeader("wav",
        if (byteRate > 0 && dataLen >= 0) dataLen * 1000 / byteRate else 0L, rate, ch))
    } else if (fourcc(4) == "ftyp") {
      def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
      // ISO-BMFF box bounds at offset o → (contentStart, boxEnd).
      // size==1 → 64-bit largesize follows the type (16-byte header);
      // size==0 → box extends to end of file; otherwise u32 size with
      // an 8-byte header. All floors keep hostile sizes advancing
      // forward (min header size), never backwards.
      def boxBounds(o: Long): (Long, Long) = {
        val sz = be32(o.toInt)
        if (sz == 1 && o + 16 <= bytes.length)
          (o + 16, o + math.max(16L, be64(o.toInt + 8)))
        else if (sz == 0) (o + 8, bytes.length.toLong)
        else (o + 8, o + math.max(8L, sz))
      }
      var i = 0L
      var res: Option[AvHeader] = None
      while (res.isEmpty && i + 8 <= bytes.length) {
        val (content, boxEnd) = boxBounds(i)
        if (fourcc(i.toInt + 4) == "moov") {
          var j = content
          val end = math.min(boxEnd, bytes.length.toLong)
          while (res.isEmpty && j + 8 <= end) {
            val (c2, b2) = boxBounds(j)
            // mvhd fields addressed from the CONTENT start, so a
            // largesize header on any enclosing/was-parsed box can't
            // shift the field layout
            if (fourcc(j.toInt + 4) == "mvhd" && c2 + 4 <= bytes.length) {
              val c = c2.toInt
              if (u8(c) == 1 && c2 + 32 <= bytes.length)
                res = Some(AvHeader("mp4", {
                  val ts = be32(c + 20)
                  val dur = (be32(c + 24) << 32) | be32(c + 28)
                  if (ts > 0) dur * 1000 / ts else 0L
                }, be32(c + 20).toInt, 0))
              else if (u8(c) == 0 && c2 + 20 <= bytes.length)
                res = Some(AvHeader("mp4", {
                  val ts = be32(c + 12); val dur = be32(c + 16)
                  if (ts > 0) dur * 1000 / ts else 0L
                }, be32(c + 12).toInt, 0))
              else return None // truncated mvhd: malformed, not media
            }
            j = b2
          }
        }
        i = boxEnd
      }
      res
    } else None
  }

  /** Decoded-PCM facts: container header fields plus sample-level
    * stats computed from the ACTUAL audio samples — peak and RMS over
    * amplitudes normalized to [-1, 1], `nFrames` = sample frames
    * (all channels together count one frame). */
  final case class PcmStats(sampleRate: Int, channels: Int,
                            bitsPerSample: Int, nFrames: Long,
                            durationMs: Long, peak: Double, rms: Double,
                            peakRaw: Long = 0L, sumSq: Long = 0L)

  /** REAL pure-JVM PCM decode — the audio tier that needs NO codec at
    * all (WAV/PCM is raw samples behind the RIFF header), promoting
    * one more documented stub boundary to real bytes: walks the RIFF
    * chunks like [[parseAvHeader]], then decodes the `data` chunk's
    * integer samples (unsigned 8-bit / signed little-endian
    * 16/24/32-bit, the WAVE_FORMAT_PCM cases) and folds peak + RMS in
    * one pass. Returns None for non-RIFF bytes, non-PCM format codes
    * (float/extensible/compressed need a real codec), missing chunks,
    * or unsupported bit widths. A `data` chunk whose declared size
    * runs past the payload (truncated upload — common in crawled
    * audio) is CLAMPED to the bytes present and stats cover what's
    * there; `durationMs` is derived from the decoded frame count, so
    * it reflects the truncation honestly. */
  def parseWavPcm(bytes: Array[Byte]): Option[PcmStats] = {
    if (bytes == null || bytes.length < 12) return None
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def fourcc(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (fourcc(0) != "RIFF" || fourcc(8) != "WAVE") return None
    // chunk walk (Long cursor: u32 sizes from untrusted bytes)
    var i = 12L
    var fmtCode = -1; var ch = 0; var rate = 0; var bits = 0
    var dataOff = -1L; var dataLen = -1L
    while (i + 8 <= bytes.length && (fmtCode < 0 || dataOff < 0)) {
      val ii = i.toInt
      val id = fourcc(ii); val sz = le32(ii + 4)
      if (id == "fmt " && i + 24 <= bytes.length) {
        fmtCode = le16(ii + 8); ch = le16(ii + 10)
        rate = le32(ii + 12).toInt; bits = le16(ii + 22)
      } else if (id == "data") { dataOff = i + 8; dataLen = sz }
      i += 8L + sz + (sz & 1) // word-aligned
    }
    val bytesPer = bits / 8
    if (fmtCode != 1 || ch <= 0 || rate <= 0 || dataOff < 0 ||
        bytesPer < 1 || bytesPer > 4 || bits % 8 != 0) return None
    val avail = math.max(0L, math.min(dataLen, bytes.length - dataOff))
    val frameBytes = bytesPer.toLong * ch
    val nFrames = if (frameBytes > 0) avail / frameBytes else 0L
    val nSamples = nFrames * ch
    // one fold over the samples: peak + sum of squares, normalized by
    // the type's max magnitude (8-bit is unsigned, bias 128)
    val full = (1L << (bits - 1)).toDouble
    var peak = 0.0; var sumSq = 0.0
    var peakRaw = 0L; var sumSqRaw = 0L // integer 16-bit units (AudioStats contract)
    var s = 0L
    while (s < nSamples) {
      val o = (dataOff + s * bytesPer).toInt
      val raw: Long = bytesPer match {
        case 1 => (u8(o) - 128).toLong
        case 2 => le16(o).toShort.toLong
        case 3 => ((u8(o) | (u8(o + 1) << 8) | (u8(o + 2) << 16)) << 8) >> 8
        case _ => le32(o).toInt.toLong
      }
      val x = raw / full
      val ax = math.abs(x)
      if (ax > peak) peak = ax
      sumSq += x * x
      val r16 = if (bits <= 16) raw << (16 - bits) else raw >> (bits - 16)
      val a16 = math.abs(r16)
      if (a16 > peakRaw) peakRaw = a16
      sumSqRaw += r16 * r16
      s += 1
    }
    val rms = if (nSamples > 0) math.sqrt(sumSq / nSamples) else 0.0
    Some(PcmStats(rate, ch, bits, nFrames, nFrames * 1000L / rate, peak, rms,
      peakRaw, sumSqRaw))
  }

  /** [[describeAv]]'s decoded sibling: per-payload PCM sample stats
    * from [[parseWavPcm]] (null columns where the payload isn't
    * decodable PCM). Same plumbing contract — per-partition kernel,
    * no shuffle, payload bytes never leave the partition; `peak` and
    * `rms` are rounded to 6 places so downstream comparisons are
    * representation-stable. */
  def describePcm(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val st = parseWavPcm(payload)
        // HALF_UP, not rint (half-even): matches the repo-wide rounding
        // convention (Spark round / DuckDB ROUND) so 16-bit PCM peaks
        // landing exactly on a 1e-6 midpoint replay identically.
        def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, st.map(_.sampleRate), st.map(_.channels), st.map(_.bitsPerSample),
          st.map(_.nFrames), st.map(_.durationMs),
          st.map(s => r6(s.peak)), st.map(s => r6(s.rms)))
      }
      .toDF("media_id", "sample_rate", "channels", "bits_per_sample",
        "n_frames", "duration_ms", "peak", "rms")
  }

  /** Decoded audio facts in INTEGER 16-bit units: `peakRaw` = max
    * |sample|, `sumSq` = Σ sample² — integer-exact end to end, so a
    * second engine replays them with no float accumulation (RMS is a
    * downstream `sqrt(sumSq/n)` whenever a consumer wants it).
    * Samples of other depths normalize to 16-bit (8-bit << 8, 24/32
    * take the top 16), which also bounds `sumSq`: 2^30 per frame,
    * overflow-free past 2^33 frames. */
  final case class AudioStats(format: String, sampleRate: Int, channels: Int,
                              bitsPerSample: Int, nFrames: Long,
                              durationMs: Long, peakRaw: Long, sumSq: Long)

  /** G.711 μ-law byte → linear 16-bit sample. Matches javax.sound's
    * own conversion on all 256 codes (differential-pinned). */
  def ulawToLinear16(b: Int): Int = {
    val c = (~b) & 0xff
    val e = (c >> 4) & 7; val m = c & 0xf
    val mag = ((((m << 1) + 33) << e) - 33) << 2
    if ((c & 0x80) != 0) -mag else mag
  }

  /** G.711 A-law byte → linear 16-bit sample (same pinning). */
  def alawToLinear16(b: Int): Int = {
    val x = b ^ 0x55
    val e = (x >> 4) & 7; val m = x & 0xf
    val mag = (if (e == 0) (m << 1) + 1 else ((m << 1) + 33) << (e - 1)) << 3
    if ((x & 0x80) == 0) -mag else mag
  }

  /** REAL pure-JVM Sun/NeXT AU decode — the telephony-audio tier:
    * big-endian header (magic/offset/size/encoding/rate/channels),
    * then G.711 μ-law or A-law (both implemented from the spec and
    * byte-for-byte identical to javax.sound's tables) or signed PCM
    * at 8/16/24/32 bits. A declared size of 0xFFFFFFFF (unknown,
    * common in streamed .au) and truncated payloads clamp to the
    * frames present. Float encodings return None. */
  def parseAu(bytes: Array[Byte]): Option[AudioStats] = {
    if (bytes == null || bytes.length < 24) return None
    def u8(i: Int) = bytes(i) & 0xff
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    if (!(u8(0) == '.' && u8(1) == 's' && u8(2) == 'n' && u8(3) == 'd')) return None
    val off = be32(4); val size = be32(8); val enc = be32(12).toInt
    val rate = be32(16).toInt; val ch = be32(20).toInt
    if (off < 24 || off > bytes.length || rate <= 0 || ch <= 0 || ch > 64) return None
    val (bytesPer, bits, fmt) = enc match {
      case 1 => (1, 8, "au_ulaw")
      case 2 => (1, 8, "au_pcm8")
      case 3 => (2, 16, "au_pcm16")
      case 4 => (3, 24, "au_pcm24")
      case 5 => (4, 32, "au_pcm32")
      case 27 => (1, 8, "au_alaw")
      case _ => return None // float/ADPCM tiers
    }
    val declared = if (size == 0xffffffffL) Long.MaxValue else size
    val avail = math.max(0L, math.min(declared, bytes.length - off))
    val frames = avail / (bytesPer.toLong * ch)
    if (frames > (1L << 26)) return None // sanity fence
    var peak = 0L; var sumSq = 0L
    var s = 0L
    val nSamples = frames * ch
    while (s < nSamples) {
      val o = (off + s * bytesPer).toInt
      val v: Int = enc match {
        case 1 => ulawToLinear16(u8(o))
        case 27 => alawToLinear16(u8(o))
        case 2 => bytes(o).toInt << 8 // AU PCM8 is SIGNED
        case 3 => ((u8(o) << 8) | u8(o + 1)).toShort.toInt
        case 4 => ((u8(o) << 8) | u8(o + 1)).toShort.toInt // top 16 of 24
        case _ => ((u8(o) << 8) | u8(o + 1)).toShort.toInt // top 16 of 32
      }
      val a = math.abs(v.toLong)
      if (a > peak) peak = a
      sumSq += v.toLong * v
      s += 1
    }
    Some(AudioStats(fmt, rate, ch, bits, frames, frames * 1000L / rate, peak, sumSq))
  }

  /** REAL pure-JVM AIFF decode — the big-endian studio sibling of
    * [[parseWavPcm]]: FORM/AIFF chunk walk, COMM (channels, frame
    * count, bits, sample rate as an 80-bit extended float — parsed
    * from sign/exponent/mantissa, no float library), SSND offset +
    * signed big-endian PCM at 8/16/24/32 bits (AIFF 8-bit is SIGNED,
    * unlike WAV). AIFC (compressed) returns None; truncation clamps
    * to the frames present. Same integer 16-bit-units stats. */
  def parseAiff(bytes: Array[Byte]): Option[AudioStats] = {
    if (bytes == null || bytes.length < 12) return None
    def u8(i: Int) = bytes(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    def fourcc(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (fourcc(0) != "FORM" || fourcc(8) != "AIFF") return None
    var i = 12L
    var ch = 0; var numFrames = -1L; var bits = 0; var rate = 0
    var dataOff = -1L; var dataLen = -1L
    while (i + 8 <= bytes.length) {
      val id = fourcc(i.toInt); val sz = be32(i.toInt + 4)
      if (id == "COMM" && i + 8 + 18 <= bytes.length) {
        ch = be16(i.toInt + 8)
        numFrames = be32(i.toInt + 10)
        bits = be16(i.toInt + 14)
        // 80-bit extended float at +16: 15-bit exponent, 64-bit
        // mantissa with explicit integer bit; rate = m · 2^(e−16383−63)
        val o = i.toInt + 16
        val e = be16(o) & 0x7fff
        val mHi = be32(o + 2); val mLo = be32(o + 6)
        val m = (mHi << 32) | mLo
        val shift = e - 16383 - 63
        rate =
          if (m == 0 || e == 0) 0
          else if (shift >= 0 && shift < 32) (m << shift).toInt
          else if (shift < 0 && shift > -64) {
            // round-to-nearest on the dropped bits (rates are integers
            // in practice; this keeps 44100.0 exact)
            val dropped = -shift
            ((m >>> dropped) + ((m >>> (dropped - 1)) & 1L)).toInt
          } else 0
      } else if (id == "SSND" && i + 16 <= bytes.length) {
        val pad = be32(i.toInt + 8) // offset into the sound data
        dataOff = i + 16 + pad
        dataLen = sz - 8 - pad
      }
      i += 8L + sz + (sz & 1) // IFF chunks are word-aligned
    }
    val bytesPer = bits / 8
    if (ch <= 0 || ch > 64 || rate <= 0 || dataOff < 0 || dataLen < 0 ||
        bytesPer < 1 || bytesPer > 4 || bits % 8 != 0) return None
    val avail = math.max(0L, math.min(dataLen, bytes.length - dataOff))
    var frames = avail / (bytesPer.toLong * ch)
    if (numFrames >= 0) frames = math.min(frames, numFrames)
    if (frames > (1L << 26)) return None
    var peak = 0L; var sumSq = 0L
    var s = 0L
    val nSamples = frames * ch
    while (s < nSamples) {
      val o = (dataOff + s * bytesPer).toInt
      val v: Int = bytesPer match {
        case 1 => bytes(o).toInt << 8 // signed
        case _ => ((u8(o) << 8) | u8(o + 1)).toShort.toInt // top 16 bits
      }
      val a = math.abs(v.toLong)
      if (a > peak) peak = a
      sumSq += v.toLong * v
      s += 1
    }
    Some(AudioStats("aiff_pcm" + bits, rate, ch, bits, frames,
      frames * 1000L / rate, peak, sumSq))
  }

  /** [[describePcm]]'s multi-container sibling: AU (μ-law / A-law /
    * PCM) and AIFF payloads dispatch on their magic to the real
    * decoders above; integer 16-bit-unit stats, null columns for
    * anything else. Per-partition kernel, no shuffle. */
  def describeAudio(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val st =
          if (payload != null && payload.length >= 4 &&
              payload(0) == '.' && payload(1) == 's') parseAu(payload)
          else parseAiff(payload)
        (id, st.map(_.format), st.map(_.sampleRate), st.map(_.channels),
          st.map(_.bitsPerSample), st.map(_.nFrames), st.map(_.durationMs),
          st.map(_.peakRaw), st.map(_.sumSq))
      }
      .toDF("media_id", "format", "sample_rate", "channels", "bits",
        "n_frames", "duration_ms", "peak_raw", "sum_sq")
  }

  /** Frame-walk facts of an animated GIF: frame count and total
    * animation duration from the Graphic Control Extension delays —
    * integers straight from the container bytes. */
  final case class GifFrames(width: Int, height: Int, nFrames: Int,
                             durationMs: Long)

  /** REAL pure-JVM GIF frame walk — the video-ish sibling of
    * [[parseBmpPixels]]/[[parseWavPcm]]: after the logical screen
    * descriptor (+ optional global color table), GIF is a flat block
    * stream — 0x21 extensions and 0x2C image descriptors, every
    * variable-length region length-prefixed sub-blocks — so frame
    * COUNT and per-frame DELAY (Graphic Control Extension, 1/100 s)
    * parse without touching the LZW pixel data. This is the real
    * skeleton under [[frameSampleStub]]: which frames exist and when,
    * from actual bytes; only pixel decode stays stubbed. Returns None
    * for non-GIF bytes; a truncated stream yields the frames fully
    * present before the cut (crawled-corpus posture, like the PCM
    * clamp). All cursor math in Long against hostile lengths. */
  def parseGifFrames(bytes: Array[Byte]): Option[GifFrames] = {
    if (bytes == null || bytes.length < 13) return None
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    if (!(u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == '8' &&
          (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a')) return None
    val w = le16(6); val h = le16(8)
    val packed = u8(10)
    var i: Long = 13L
    if ((packed & 0x80) != 0) i += 3L * (1 << ((packed & 0x07) + 1)) // GCT
    // skip a length-prefixed sub-block chain starting at o; returns
    // the position after the 0 terminator (or EOF)
    def skipSubBlocks(o: Long): Long = {
      var p = o
      while (p < bytes.length && u8(p.toInt) != 0) p += 1L + u8(p.toInt)
      p + 1
    }
    var frames = 0
    var durationMs = 0L
    var pendingDelayMs = 0L
    var done = false
    while (!done && i < bytes.length) {
      u8(i.toInt) match {
        case 0x21 if i + 1 < bytes.length => // extension: label + sub-blocks
          val label = u8(i.toInt + 1)
          if (label == 0xf9 && i + 5 < bytes.length && u8(i.toInt + 2) >= 4)
            pendingDelayMs = le16(i.toInt + 4) * 10L // GCE delay, 1/100 s
          i = skipSubBlocks(i + 2)
        case 0x2c => // image descriptor
          if (i + 10 > bytes.length) done = true // truncated: frame not counted
          else {
            val ipacked = u8(i.toInt + 9)
            var p = i + 10
            if ((ipacked & 0x80) != 0) p += 3L * (1 << ((ipacked & 0x07) + 1))
            p += 1 // LZW minimum code size byte
            val end = skipSubBlocks(p)
            if (end <= bytes.length) { // frame fully present
              frames += 1
              durationMs += pendingDelayMs
              pendingDelayMs = 0L
            }
            i = end
          }
        case 0x3b => done = true // trailer
        case _ => done = true // corrupt block stream: stop, keep what parsed
      }
    }
    Some(GifFrames(w, h, frames, durationMs))
  }

  /** Decoded-GIF first-frame facts: logical screen + frame geometry
    * plus per-channel integer pixel sums through the color table —
    * the same integer-exact contract as [[PngStats]]. */
  final case class GifPixelStats(width: Int, height: Int,
                                 frameW: Int, frameH: Int, nPixels: Long,
                                 sumR: Long, sumG: Long, sumB: Long)

  /** REAL pure-JVM GIF pixel decode — LZW from the GIF89a
    * specification, the last piece of GIF that looked codec-bound:
    * variable-width LSB-first codes in length-prefixed sub-blocks,
    * clear/EOI handling, the dictionary capped at 4096 entries with
    * width growth to 12 bits, the `code == dictSize` (KwKwK) case,
    * and deferred-clear streams. Decodes the FIRST image descriptor's
    * data through its active color table (local over global):
    * interlace doesn't matter to channel sums (order-free), and a
    * truncated stream is CLAMPED to the fully-decoded pixels
    * (crawled-corpus posture, like [[parseBmpPixels]]); an index past
    * the palette or a malformed code returns None. Transparency is
    * deliberately ignored — indices map through the palette as
    * stored, which is what corpus statistics want and what the q245
    * oracle replays. Cross-checked against javax.imageio's own GIF
    * decoder (real dictionary-using LZW from ImageIO's encoder) in
    * the differential spec. */
  def parseGifPixels(bytes: Array[Byte]): Option[GifPixelStats] = {
    if (bytes == null || bytes.length < 14) return None
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    if (!(u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == '8' &&
          (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a')) return None
    val w = le16(6); val h = le16(8)
    val packed = u8(10)
    var i: Long = 13L
    var gct: Array[Int] = null // packed 0xRRGGBB
    if ((packed & 0x80) != 0) {
      val n = 1 << ((packed & 0x07) + 1)
      if (i + 3L * n > bytes.length) return None
      gct = Array.tabulate(n)(k =>
        (u8((i + 3 * k).toInt) << 16) | (u8((i + 3 * k + 1).toInt) << 8) |
          u8((i + 3 * k + 2).toInt))
      i += 3L * n
    }
    def skipSubBlocks(o: Long): Long = {
      var p = o
      while (p < bytes.length && u8(p.toInt) != 0) p += 1L + u8(p.toInt)
      p + 1
    }
    // walk to the FIRST image descriptor
    while (i < bytes.length) {
      u8(i.toInt) match {
        case 0x21 if i + 1 < bytes.length => i = skipSubBlocks(i + 2)
        case 0x2c =>
          if (i + 10 > bytes.length) return None
          val fw = le16(i.toInt + 5); val fh = le16(i.toInt + 7)
          val ipacked = u8(i.toInt + 9)
          if (fw <= 0 || fh <= 0 || fw.toLong * fh > (1L << 26)) return None
          var p = i + 10
          val palette: Array[Int] =
            if ((ipacked & 0x80) != 0) {
              val n = 1 << ((ipacked & 0x07) + 1)
              if (p + 3L * n > bytes.length) return None
              val lct = Array.tabulate(n)(k =>
                (u8((p + 3 * k).toInt) << 16) | (u8((p + 3 * k + 1).toInt) << 8) |
                  u8((p + 3 * k + 2).toInt))
              p += 3L * n
              lct
            } else gct
          if (palette == null) return None // no color table at all
          if (p >= bytes.length) return None
          val minCode = u8(p.toInt)
          if (minCode < 1 || minCode > 11) return None
          p += 1
          // concatenate the data sub-blocks (bounded by payload size)
          val data = new java.io.ByteArrayOutputStream()
          var q = p
          var ok = true
          while (ok && q < bytes.length && u8(q.toInt) != 0) {
            val len = u8(q.toInt)
            val take = math.min(len.toLong, bytes.length - q - 1).toInt
            data.write(bytes, (q + 1).toInt, take)
            if (take < len) ok = false // truncated: decode what arrived
            q += 1L + len
          }
          val stream = data.toByteArray
          // LZW decode, LSB-first variable-width codes (spec appendix F)
          val clear = 1 << minCode
          val eoi = clear + 1
          val nPixTarget = fw.toLong * fh
          // dictionary as prefix links: suffix byte + parent code
          val suffix = new Array[Byte](4096)
          val parent = new Array[Int](4096)
          var dictSize = clear + 2
          var codeBits = minCode + 1
          var prev = -1
          var sr = 0L; var sg = 0L; var sb = 0L
          var decoded = 0L
          var bitPos = 0L
          val totalBits = stream.length.toLong * 8
          val chain = new Array[Int](4096) // reused expansion buffer
          def emit(code: Int): Boolean = {
            // walk the chain (reverse order), then sum the in-frame
            // prefix only — a final code expanding past frameW*frameH
            // is clamped so nPixels never exceeds the declared frame
            var c = code
            var n = 0
            while (c >= clear + 2) { // composite entry
              chain(n) = suffix(c) & 0xff
              n += 1
              c = parent(c)
            }
            if (c >= clear || c >= palette.length) return false // root must be a literal
            chain(n) = c
            n += 1
            var k = n - 1 // chain is reversed: emit root-first
            while (k >= 0 && decoded < nPixTarget) {
              val idx = chain(k)
              if (idx >= palette.length) return false
              val rgb = palette(idx)
              sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
              decoded += 1
              k -= 1
            }
            true
          }
          var done = false
          var corrupt = false
          while (!done && !corrupt && decoded < nPixTarget) {
            if (bitPos + codeBits > totalBits) done = true // truncated
            else {
              // LSB-first read of codeBits bits at bitPos
              var code = 0
              var k = 0
              while (k < codeBits) {
                val bp = bitPos + k
                if ((stream((bp >> 3).toInt) >> (bp & 7).toInt & 1) != 0)
                  code |= 1 << k
                k += 1
              }
              bitPos += codeBits
              if (code == clear) {
                dictSize = clear + 2; codeBits = minCode + 1; prev = -1
              } else if (code == eoi) done = true
              else if (prev < 0) { // first code after clear: a literal root
                if (code >= clear || !emit(code)) corrupt = true
                else prev = code
              } else {
                val known = code < dictSize && (code < clear || code >= clear + 2)
                if (!known && code != dictSize) corrupt = true
                else {
                  // new entry BEFORE emitting: prev + first(cur) — for
                  // the KwKwK case (code == dictSize) the entry being
                  // defined IS the one emitted, so its first byte is
                  // first(prev)
                  if (dictSize < 4096) {
                    suffix(dictSize) =
                      if (known) firstOf(code, suffix, parent, clear)
                      else firstOf(prev, suffix, parent, clear)
                    parent(dictSize) = prev
                    dictSize += 1
                    if (dictSize == (1 << codeBits) && codeBits < 12) codeBits += 1
                  } else if (!known) { corrupt = true } // KwKwK past a full dict
                  if (!corrupt && !emit(code)) corrupt = true
                  if (!corrupt) prev = code
                }
              }
            }
          }
          if (corrupt) return None
          return Some(GifPixelStats(w, h, fw, fh, decoded, sr, sg, sb))
        case 0x3b => return None // trailer before any frame
        case _ => return None
      }
    }
    None
  }

  /** Root pixel of a code's expansion (first emitted byte). */
  private def firstOf(code: Int, suffix: Array[Byte], parent: Array[Int],
                      clear: Int): Byte = {
    var c = code
    while (c >= clear + 2) c = parent(c)
    c.toByte
  }

  /** [[describePng]]'s GIF sibling: first-frame decoded pixel sums
    * through the color table (null columns where the payload isn't a
    * decodable GIF). Per-partition kernel, no shuffle, integer
    * outputs. */
  def describeGifPixels(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val st = parseGifPixels(payload)
        (id, st.map(_.width), st.map(_.height), st.map(_.frameW),
          st.map(_.frameH), st.map(_.nPixels),
          st.map(_.sumR), st.map(_.sumG), st.map(_.sumB))
      }
      .toDF("media_id", "width", "height", "frame_w", "frame_h",
        "n_pixels", "sum_r", "sum_g", "sum_b")
  }

  /** [[describeBmp]]'s animation sibling: per-payload GIF frame walk
    * (null columns where the payload isn't a GIF). Per-partition
    * kernel, no shuffle; integer outputs. */
  def describeGif(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val st = parseGifFrames(payload)
        (id, st.map(_.width), st.map(_.height), st.map(_.nFrames),
          st.map(_.durationMs))
      }
      .toDF("media_id", "width", "height", "n_frames", "duration_ms")
  }

  /** Decoded-PNG facts: dimensions plus per-channel integer pixel
    * sums, same integer-exact contract as [[BmpStats]]. */
  final case class PngStats(width: Int, height: Int, bitDepth: Int,
                            nPixels: Long, sumR: Long, sumG: Long, sumB: Long)

  /** REAL pure-JVM PNG pixel decode — the compressed-image tier that
    * needs NO external codec after all: PNG's "codec" is zlib
    * (`java.util.zip.Inflater`, in every JDK) plus the five
    * per-scanline prediction filters of the PNG spec (None/Sub/Up/
    * Average/Paeth), both implemented here from the specification.
    * Scope — every non-interlaced PNG color type: truecolor and
    * truecolor+alpha at 8/16 bits, grayscale (±alpha) at every legal
    * depth (sub-byte gray scales exactly: 255/(2^d−1) is an integer),
    * and palette-indexed at 1/2/4/8 bits through the PLTE lookup.
    * Alpha samples are skipped and 16-bit samples report their top
    * byte (the corpus-stats contract, differential-pinned against
    * ImageIO's raster). Adam7 interlacing decodes too: the seven
    * passes are independent sub-images with their own scanline filter
    * context, and channel sums are position-free, so no
    * de-permutation pass is needed. Chunk walk: IHDR
    * first, PLTE captured for the palette tier, IDAT payloads
    * concatenated in order, stop at IEND; hostile/truncated streams
    * return None from the Inflater's own bounds instead of throwing,
    * and an index past the palette end is malformed → None. Output
    * sums are integer-exact — replayed by q242's (truecolor) and
    * q244's (palette) oracles from the pixel formulas, and checked
    * against javax.imageio (a second decoder + its own ENCODER's
    * filter choices) in the differential spec. */
  def parsePngPixels(bytes: Array[Byte]): Option[PngStats] = {
    if (bytes == null || bytes.length < 45) return None
    def u8(i: Int) = bytes(i) & 0xff
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    if (!(u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G' &&
          u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a && u8(7) == 0x0a)) return None
    // chunk walk: IHDR must be first; gather IDAT in order
    if (be32(12) != 0x49484452) return None // "IHDR"
    val w = be32(16); val h = be32(20)
    val bitDepth = u8(24); val colorType = u8(25); val interlace = u8(28)
    if (w <= 0 || h <= 0 || (interlace != 0 && interlace != 1)) return None
    val paletted = colorType == 3
    // samples per pixel by color type: gray / rgb / palette-index /
    // gray+alpha / rgba; anything else is not a PNG color type
    val nSamples = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return None
    }
    val depthOk = colorType match {
      case 0 => Set(1, 2, 4, 8, 16)(bitDepth) // sub-byte gray scales exactly
      case 3 => Set(1, 2, 4, 8)(bitDepth)
      case _ => bitDepth == 8 || bitDepth == 16
    }
    if (!depthOk) return None
    if (w.toLong * h > (1L << 26)) return None // 64M-pixel sanity fence
    val idat = new java.io.ByteArrayOutputStream()
    var palette: Array[Int] = null // packed 0xRRGGBB, from PLTE
    var i = 8L
    var sawEnd = false
    while (!sawEnd && i + 8 <= bytes.length) {
      val len = be32(i.toInt).toLong & 0xffffffffL
      val typ = be32(i.toInt + 4)
      if (typ == 0x49444154 && i + 8 + len <= bytes.length) // "IDAT"
        idat.write(bytes, (i + 8).toInt, len.toInt)
      if (typ == 0x504c5445 && i + 8 + len <= bytes.length) { // "PLTE"
        if (palette != null || len == 0 || len % 3 != 0 || len > 768) return None
        val o = (i + 8).toInt
        palette = Array.tabulate((len / 3).toInt)(k =>
          (u8(o + 3 * k) << 16) | (u8(o + 3 * k + 1) << 8) | u8(o + 3 * k + 2))
      }
      if (typ == 0x49454e44) sawEnd = true // "IEND"
      i += 8 + len + 4 // length + type + payload + CRC
    }
    if (idat.size == 0) return None
    if (paletted && palette == null) return None
    // zlib inflate to scanlines of (1 filter byte + stride bytes):
    // whole bytes per sample at depth 8/16, packed sub-byte samples
    // (gray or palette indices) below. Adam7 interlace is seven
    // sequential sub-images, each with its own scanlines and filter
    // context — channel sums are position-free, so the passes decode
    // as independent little images and no de-permutation is needed.
    val bytesPerSample = if (bitDepth == 16) 2 else 1
    val subByte = bitDepth < 8
    def strideOf(pw: Int): Int =
      if (subByte) ((pw.toLong * bitDepth + 7) / 8).toInt
      else pw * nSamples * bytesPerSample
    val passes: Seq[(Int, Int)] = // (passW, passH), empty passes dropped
      if (interlace == 0) Seq((w, h))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
               (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
        .map { case (sx, sy, dx, dy) =>
          (if (w > sx) (w - sx + dx - 1) / dx else 0,
           if (h > sy) (h - sy + dy - 1) / dy else 0)
        }.filter(p => p._1 > 0 && p._2 > 0)
    val totalRaw = passes.map { case (pw, ph) => ph.toLong * (1 + strideOf(pw)) }.sum
    if (totalRaw > (1L << 28)) return None // 256 MB raw fence
    val raw = new Array[Byte](totalRaw.toInt)
    val inf = new java.util.zip.Inflater()
    inf.setInput(idat.toByteArray)
    val got = try {
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        // off < raw.length guarantees buffer space, so n == 0 means the
        // stream is truncated (needsInput) or demands a preset dictionary
        // (FDICT bit, needsDictionary) — either way hostile: bail, never spin
        if (n == 0) return None
        off += n
      }
      off
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inf.end()
    if (got < raw.length) return None
    // unfilter per the spec; a = left pixel's same channel, b = above,
    // c = above-left; all math on unsigned bytes
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    // filter "left" distance is one PIXEL's bytes (floored to 1 for
    // sub-byte rows), per the spec's bpp definition
    val bpp = if (subByte) 1 else nSamples * bytesPerSample
    var sr = 0L; var sg = 0L; var sb = 0L
    var passOff = 0
    var pi = 0
    while (pi < passes.length) {
      val (pw, ph) = passes(pi)
      val stride = strideOf(pw)
      val prev = new Array[Int](stride) // filter context resets per pass
      val cur = new Array[Int](stride)
      var y = 0
      while (y < ph) {
        val base = passOff + y * (1 + stride)
        val filter = raw(base) & 0xff
        if (filter > 4) return None // corrupt filter tag
        var x = 0
        while (x < stride) {
          val rawv = raw(base + 1 + x) & 0xff
          val a = if (x >= bpp) cur(x - bpp) else 0
          val b = prev(x)
          val c = if (x >= bpp) prev(x - bpp) else 0
          cur(x) = filter match {
            case 0 => rawv
            case 1 => (rawv + a) & 0xff
            case 2 => (rawv + b) & 0xff
            case 3 => (rawv + (a + b) / 2) & 0xff
            case 4 => (rawv + paeth(a, b, c)) & 0xff
          }
          x += 1
        }
        if (subByte) {
          // unpack MSB-first samples at bitDepth bits: palette indices
          // look up PLTE; gray scales exactly to 8 bits (255/(2^d−1) is
          // an integer for d ∈ {1,2,4})
          val perByte = 8 / bitDepth
          val mask = (1 << bitDepth) - 1
          val grayScale = 255 / mask
          var px = 0
          while (px < pw) {
            val v = (cur(px / perByte) >>
              (8 - bitDepth - (px % perByte) * bitDepth)) & mask
            if (paletted) {
              if (v >= palette.length) return None // malformed index
              val rgb = palette(v)
              sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            } else {
              val g8 = v * grayScale
              sr += g8; sg += g8; sb += g8
            }
            px += 1
          }
        } else if (paletted) { // 8-bit palette indices
          var px = 0
          while (px < pw) {
            val idx = cur(px)
            if (idx >= palette.length) return None
            val rgb = palette(idx)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
            px += 1
          }
        } else {
          // gray / gray+alpha / rgb / rgba at 8 or 16 bits: sum the
          // high byte of each color sample, skip alpha (16-bit samples
          // report their top byte — the corpus-stats contract)
          var x = 0
          while (x < stride) {
            val pos = x % bpp
            if (pos % bytesPerSample == 0) {
              val si = pos / bytesPerSample
              val v = cur(x)
              if (nSamples <= 2) {
                if (si == 0) { sr += v; sg += v; sb += v }
              } else si match {
                case 0 => sr += v
                case 1 => sg += v
                case 2 => sb += v
                case _ => () // alpha
              }
            }
            x += 1
          }
        }
        System.arraycopy(cur, 0, prev, 0, stride)
        y += 1
      }
      passOff += ph * (1 + stride)
      pi += 1
    }
    Some(PngStats(w, h, bitDepth, w.toLong * h, sr, sg, sb))
  }

  /** [[describeBmp]]'s PNG sibling: per-payload decoded pixel sums
    * (null columns where the payload isn't a decodable PNG).
    * Per-partition kernel, no shuffle, integer outputs. */
  def describePng(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val st = parsePngPixels(payload)
        (id, st.map(_.width), st.map(_.height), st.map(_.nPixels),
          st.map(_.sumR), st.map(_.sumG), st.map(_.sumB))
      }
      .toDF("media_id", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b")
  }

  /** Decoded-JPEG facts: dimensions plus per-channel integer pixel
    * sums, the same integer-exact contract as [[PngStats]]. */
  final case class JpegStats(width: Int, height: Int, nComponents: Int,
                             nPixels: Long, sumR: Long, sumG: Long, sumB: Long)

  // ---- shared JPEG machinery (baseline + progressive paths) -------

  /** Zigzag scan order → natural (row-major) block index. */
  private val JpegZigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  /** Huffman decode table (spec F.2.2.3 MINCODE/MAXCODE/VALPTR form;
    * maxcode −1 marks an empty length). */
  private final case class JHuff(minCode: Array[Int], maxCode: Array[Int],
                                 valPtr: Array[Int], vals: Array[Int])

  /** Canonical code assignment (spec C.2). */
  private def buildJHuff(counts: Array[Int], vals: Array[Int]): JHuff = {
    val minCode = new Array[Int](17); val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    var code = 0; var ptr = 0
    var l = 1
    while (l <= 16) {
      if (counts(l) == 0) { minCode(l) = 0; maxCode(l) = -1 }
      else {
        valPtr(l) = ptr; minCode(l) = code
        code += counts(l); ptr += counts(l)
        maxCode(l) = code - 1
      }
      code <<= 1
      l += 1
    }
    JHuff(minCode, maxCode, valPtr, vals)
  }

  /** Separable float IDCT basis: C(u)(x) = c(u)/2 · cos((2x+1)uπ/16). */
  private val JpegIdctC: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    cu / 2.0 * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  /** Entropy-coded-segment reader shared by the baseline and
    * progressive paths: MSB-first bits with FF00 unstuffing; any real
    * marker stops the stream (−1 / MinValue sentinels) so decode
    * loops fail cleanly instead of reading past it. */
  private final class JBitReader(bytes: Array[Byte], var pos: Int) {
    private var bitBuf = 0
    private var bitCnt = 0
    def align(): Unit = bitCnt = 0
    def nextBit(): Int = {
      if (bitCnt == 0) {
        if (pos >= bytes.length) return -1
        var b = bytes(pos) & 0xff; pos += 1
        if (b == 0xff) {
          if (pos >= bytes.length) return -1
          if ((bytes(pos) & 0xff) == 0x00) pos += 1
          else { pos -= 1; return -1 } // a real marker: refuse to cross
          b = 0xff
        }
        bitBuf = b; bitCnt = 8
      }
      bitCnt -= 1
      (bitBuf >> bitCnt) & 1
    }
    def decodeHuff(t: JHuff): Int = {
      var code = nextBit()
      if (code < 0) return -1
      var l = 1
      while (l <= 16 && (t.maxCode(l) < 0 || code > t.maxCode(l))) {
        val b = nextBit()
        if (b < 0) return -1
        code = (code << 1) | b
        l += 1
      }
      if (l > 16) return -1
      t.vals(t.valPtr(l) + code - t.minCode(l))
    }
    def receive(s: Int): Int = {
      var v = 0; var k = 0
      while (k < s) {
        val b = nextBit()
        if (b < 0) return Int.MinValue
        v = (v << 1) | b
        k += 1
      }
      v
    }
  }

  /** Shared JPEG epilogue: nearest-neighbor chroma upsample +
    * YCbCr→RGB (or grayscale passthrough) with integer channel sums
    * over the visible w×h region. */
  private def jpegSumRgb(planes: Array[Array[Byte]], planeW: Array[Int],
                         nc: Int, compH: Array[Int], compV: Array[Int],
                         hMax: Int, vMax: Int, w: Int, h: Int): (Long, Long, Long) = {
    var sr = 0L; var sg = 0L; var sb = 0L
    def clamp(v: Double): Int = {
      val r = math.round(v).toInt
      if (r < 0) 0 else if (r > 255) 255 else r
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        if (nc == 1) {
          val v = planes(0)((y * compV(0) / vMax) * planeW(0) + (x * compH(0) / hMax)) & 0xff
          sr += v; sg += v; sb += v
        } else {
          val yy = planes(0)((y * compV(0) / vMax) * planeW(0) + (x * compH(0) / hMax)) & 0xff
          val cb = (planes(1)((y * compV(1) / vMax) * planeW(1) + (x * compH(1) / hMax)) & 0xff) - 128
          val cr = (planes(2)((y * compV(2) / vMax) * planeW(2) + (x * compH(2) / hMax)) & 0xff) - 128
          sr += clamp(yy + 1.402 * cr)
          sg += clamp(yy - 0.344136 * cb - 0.714136 * cr)
          sb += clamp(yy + 1.772 * cb)
        }
        x += 1
      }
      y += 1
    }
    (sr, sg, sb)
  }

  /** [[jpegSumRgb]]'s grid sibling: the SAME upsample + YCbCr→RGB
    * arithmetic (any divergence would unpin the differential specs)
    * but materializing packed 0xRRGGBB pixels for the perceptual
    * tier instead of summing them. */
  private def jpegRgbGridOf(planes: Array[Array[Byte]], planeW: Array[Int],
                            nc: Int, compH: Array[Int], compV: Array[Int],
                            hMax: Int, vMax: Int, w: Int, h: Int): Array[Int] = {
    val grid = new Array[Int](w * h)
    def clamp(v: Double): Int = {
      val r = math.round(v).toInt
      if (r < 0) 0 else if (r > 255) 255 else r
    }
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        grid(y * w + x) =
          if (nc == 1) {
            val v = planes(0)((y * compV(0) / vMax) * planeW(0) + (x * compH(0) / hMax)) & 0xff
            (v << 16) | (v << 8) | v
          } else {
            val yy = planes(0)((y * compV(0) / vMax) * planeW(0) + (x * compH(0) / hMax)) & 0xff
            val cb = (planes(1)((y * compV(1) / vMax) * planeW(1) + (x * compH(1) / hMax)) & 0xff) - 128
            val cr = (planes(2)((y * compV(2) / vMax) * planeW(2) + (x * compH(2) / hMax)) & 0xff) - 128
            (clamp(yy + 1.402 * cr) << 16) |
              (clamp(yy - 0.344136 * cb - 0.714136 * cr) << 8) |
              clamp(yy + 1.772 * cb)
          }
        x += 1
      }
      y += 1
    }
    grid
  }

  /** Progressive (SOF2) JPEG pixel decode — spec annex G: DC and AC
    * coefficients arrive over MULTIPLE scans (spectral selection
    * Ss..Se, successive approximation Ah/Al), so unlike the baseline
    * path this decoder accumulates full coefficient planes across
    * scans — first-pass DC/AC codes, DC refinement bits, and the AC
    * refinement correction-bit algorithm with EOB runs — then runs
    * dequantization + IDCT once at EOI. Restart intervals reset DC
    * predictors AND the EOB run inside every scan. Strictness: the
    * stream must reach EOI with every scan decoding cleanly; hostile
    * or truncated bytes return None (no partial render — a
    * lower-tier contract than the baseline path's, documented
    * because progressive partial renders are decoder-specific). The
    * coefficient-plane memory cost is why the pixel fence here is
    * 16M (vs baseline's 64M). Reached via [[parseJpegPixels]], which
    * dispatches on the SOF marker. */
  private def parseJpegProgressive(bytes: Array[Byte]): Option[JpegStats] = {
    def u8(i: Int) = bytes(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    val zigzag = JpegZigzag
    val qt = Array.ofDim[Int](4, 64) // zigzag order, as stored
    val qtSeen = new Array[Boolean](4)
    val huff = Array.ofDim[Option[JHuff]](2, 4).map(_.map(_ => Option.empty[JHuff]))
    var w = 0; var h = 0; var nc = 0
    var compH: Array[Int] = null; var compV: Array[Int] = null
    var compQ: Array[Int] = null; var compId: Array[Int] = null
    var dri = 0
    var hMax = 0; var vMax = 0; var mcusX = 0; var mcusY = 0
    // per component: MCU-padded block grid (storage) and the REAL
    // block grid (what non-interleaved scans iterate, spec A.2.2)
    var blocksW: Array[Int] = null; var blocksH: Array[Int] = null
    var realBW: Array[Int] = null; var realBH: Array[Int] = null
    var coefs: Array[Array[Int]] = null
    var anyScan = false
    var sawEoi = false

    def extend(v: Int, s: Int): Int =
      if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

    /** Decode one scan's entropy data; returns the position of the
      * next marker, or −1 on malformed/truncated data. */
    def decodeScan(start: Int, scomp: Array[Int], sdc: Array[Int],
                   sac: Array[Int], ss: Int, se: Int, ah: Int, al: Int): Int = {
      val r = new JBitReader(bytes, start)
      val dcPred = new Array[Int](nc)
      var eobrun = 0
      val p1 = 1 << al; val m1 = -1 << al

      def dcFirst(sci: Int, c: Int, off: Int): Boolean = {
        val dcT = huff(0)(sdc(sci)).orNull
        if (dcT == null) return false
        val t = r.decodeHuff(dcT)
        if (t < 0 || t > 15) return false
        val d = r.receive(t)
        if (d == Int.MinValue) return false
        dcPred(c) += extend(d, t)
        coefs(c)(off) = dcPred(c) << al
        true
      }
      def dcRefine(c: Int, off: Int): Boolean = {
        val b = r.nextBit()
        if (b < 0) return false
        if (b == 1) coefs(c)(off) |= p1
        true
      }
      def acFirst(c: Int, off: Int, acT: JHuff): Boolean = {
        if (eobrun > 0) { eobrun -= 1; return true }
        var k = ss
        while (k <= se) {
          val rs = r.decodeHuff(acT)
          if (rs < 0) return false
          val rr = (rs >> 4) & 0xf; val s = rs & 15
          if (s == 0) {
            if (rr == 15) k += 16 // ZRL
            else {
              eobrun = (1 << rr) - 1
              if (rr > 0) {
                val e = r.receive(rr)
                if (e == Int.MinValue) return false
                eobrun += e
              }
              return true
            }
          } else {
            k += rr
            if (k > se) return false
            val vb = r.receive(s)
            if (vb == Int.MinValue) return false
            coefs(c)(off + zigzag(k)) = extend(vb, s) << al
            k += 1
          }
        }
        true
      }
      // AC refinement (spec G.1.2.3): run-of-zero-HISTORY positions,
      // correction bits for every nonzero-history coefficient passed
      def acRefine(c: Int, off: Int, acT: JHuff): Boolean = {
        var k = ss
        if (eobrun == 0) {
          var inBand = true
          while (inBand && k <= se) {
            val rs = r.decodeHuff(acT)
            if (rs < 0) return false
            var rr = (rs >> 4) & 0xf; val s = rs & 15
            var newval = 0
            if (s == 0) {
              if (rr < 15) {
                // EOB run COUNTS the current block: its remaining
                // nonzero-history coefficients still take correction
                // bits in the tail pass below, then eobrun decrements
                eobrun = 1 << rr
                if (rr > 0) {
                  val e = r.receive(rr)
                  if (e == Int.MinValue) return false
                  eobrun += e
                }
                inBand = false
              }
              // rr == 15: pass 16 zero-history positions, newval 0
            } else {
              if (s != 1) return false
              val b = r.nextBit()
              if (b < 0) return false
              newval = if (b == 1) p1 else m1
            }
            if (inBand) {
              var placed = false
              while (!placed && k <= se) {
                val z = off + zigzag(k)
                val cv = coefs(c)(z)
                if (cv != 0) {
                  val b = r.nextBit()
                  if (b < 0) return false
                  if (b == 1 && (cv & p1) == 0)
                    coefs(c)(z) = if (cv >= 0) cv + p1 else cv + m1
                } else {
                  if (rr == 0) {
                    if (newval != 0) coefs(c)(z) = newval
                    placed = true
                  } else rr -= 1
                }
                k += 1
              }
              if (!placed && newval != 0) return false // run past Se
            }
          }
        }
        if (eobrun > 0) {
          // inside an EOB band: only correction bits for nonzero history
          while (k <= se) {
            val z = off + zigzag(k)
            val cv = coefs(c)(z)
            if (cv != 0) {
              val b = r.nextBit()
              if (b < 0) return false
              if (b == 1 && (cv & p1) == 0)
                coefs(c)(z) = if (cv >= 0) cv + p1 else cv + m1
            }
            k += 1
          }
          eobrun -= 1
        }
        true
      }

      var rstExpect = 0
      val nUnits =
        if (scomp.length > 1) mcusX * mcusY
        else realBW(scomp(0)) * realBH(scomp(0))
      val acT = if (ss > 0) huff(1)(sac(0)).orNull else null
      if (ss > 0 && acT == null) return -1
      var unit = 0
      while (unit < nUnits) {
        if (dri > 0 && unit > 0 && unit % dri == 0) {
          r.align()
          if (r.pos + 2 > bytes.length || u8(r.pos) != 0xff ||
              u8(r.pos + 1) != 0xd0 + rstExpect) return -1
          r.pos += 2
          rstExpect = (rstExpect + 1) % 8
          java.util.Arrays.fill(dcPred, 0)
          eobrun = 0
        }
        if (scomp.length > 1) { // interleaved DC scan over MCUs
          val mx = unit % mcusX; val my = unit / mcusX
          var sci = 0
          while (sci < scomp.length) {
            val c = scomp(sci)
            var by = 0
            while (by < compV(c)) {
              var bx = 0
              while (bx < compH(c)) {
                val off = ((my * compV(c) + by) * blocksW(c) +
                  (mx * compH(c) + bx)) * 64
                val okb = if (ah == 0) dcFirst(sci, c, off) else dcRefine(c, off)
                if (!okb) return -1
                bx += 1
              }
              by += 1
            }
            sci += 1
          }
        } else { // single-component scan over the REAL block grid
          val c = scomp(0)
          val bx = unit % realBW(c); val by = unit / realBW(c)
          val off = (by * blocksW(c) + bx) * 64
          val okb =
            if (ss == 0) { if (ah == 0) dcFirst(0, c, off) else dcRefine(c, off) }
            else if (ah == 0) acFirst(c, off, acT)
            else acRefine(c, off, acT)
          if (!okb) return -1
        }
        unit += 1
      }
      // find the next true marker (skip pad bits, stuffing, FF fills)
      r.align()
      var p = r.pos
      while (p + 1 < bytes.length &&
             !(u8(p) == 0xff && u8(p + 1) != 0x00 && u8(p + 1) != 0xff))
        p += 1
      if (p + 1 >= bytes.length) -1 else p
    }

    // ---- marker walk over the whole stream ------------------------
    var i = 2
    var fail = false
    while (!sawEoi && !fail && i + 2 <= bytes.length) {
      if (u8(i) != 0xff) fail = true
      else {
        val m = u8(i + 1)
        if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
        else if (m == 0xd9) sawEoi = true
        else if (i + 4 > bytes.length) fail = true
        else {
          val segLen = be16(i + 2)
          if (segLen < 2 || i + 2 + segLen > bytes.length) fail = true
          else {
            val segEnd = i + 2 + segLen
            m match {
              case 0xdb =>
                var o = i + 4
                while (!fail && o < segEnd) {
                  val pq = (u8(o) >> 4) & 0xf; val tq = u8(o) & 0xf
                  val n = if (pq == 0) 64 else 128
                  if (tq > 3 || pq > 1 || o + 1 + n > segEnd) fail = true
                  else {
                    var k = 0
                    while (k < 64) {
                      qt(tq)(k) = if (pq == 0) u8(o + 1 + k) else be16(o + 1 + 2 * k)
                      k += 1
                    }
                    qtSeen(tq) = true
                    o += 1 + n
                  }
                }
              case 0xc4 =>
                var o = i + 4
                while (!fail && o < segEnd) {
                  val tc = (u8(o) >> 4) & 0xf; val th = u8(o) & 0xf
                  if (tc > 1 || th > 3 || o + 17 > segEnd) fail = true
                  else {
                    val counts = Array.tabulate(17)(l => if (l == 0) 0 else u8(o + l))
                    val total = counts.sum
                    if (total > 256 || o + 17 + total > segEnd) fail = true
                    else {
                      huff(tc)(th) =
                        Some(buildJHuff(counts, Array.tabulate(total)(k => u8(o + 17 + k))))
                      o += 17 + total
                    }
                  }
                }
              case 0xc2 =>
                if (w != 0 || i + 10 > segEnd || u8(i + 4) != 8) fail = true
                else {
                  h = be16(i + 5); w = be16(i + 7); nc = u8(i + 9)
                  if (w <= 0 || h <= 0 || (nc != 1 && nc != 3) ||
                      w.toLong * h > (1L << 24) || // coef planes: tighter fence
                      i + 10 + 3 * nc > segEnd) fail = true
                  else {
                    compId = new Array[Int](nc); compH = new Array[Int](nc)
                    compV = new Array[Int](nc); compQ = new Array[Int](nc)
                    var c = 0
                    while (!fail && c < nc) {
                      compId(c) = u8(i + 10 + 3 * c)
                      val hv = u8(i + 11 + 3 * c)
                      compH(c) = (hv >> 4) & 0xf; compV(c) = hv & 0xf
                      compQ(c) = u8(i + 12 + 3 * c)
                      if (compH(c) < 1 || compH(c) > 4 || compV(c) < 1 ||
                          compV(c) > 4 || compQ(c) > 3) fail = true
                      c += 1
                    }
                    if (!fail) {
                      hMax = compH.max; vMax = compV.max
                      mcusX = (w + 8 * hMax - 1) / (8 * hMax)
                      mcusY = (h + 8 * vMax - 1) / (8 * vMax)
                      blocksW = Array.tabulate(nc)(c => mcusX * compH(c))
                      blocksH = Array.tabulate(nc)(c => mcusY * compV(c))
                      realBW = Array.tabulate(nc) { c =>
                        val cw = (w * compH(c) + hMax - 1) / hMax
                        (cw + 7) / 8
                      }
                      realBH = Array.tabulate(nc) { c =>
                        val ch = (h * compV(c) + vMax - 1) / vMax
                        (ch + 7) / 8
                      }
                      if (blocksW.zip(blocksH).exists { case (bw, bh) =>
                            bw.toLong * bh * 64 > (1L << 26) }) fail = true
                      else coefs = Array.tabulate(nc)(c =>
                        new Array[Int](blocksW(c) * blocksH(c) * 64))
                    }
                  }
                }
              case 0xc0 | 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
                   0xcb | 0xcd | 0xce | 0xcf => fail = true
              case 0xdd =>
                if (segLen != 4) fail = true else dri = be16(i + 4)
              case 0xda =>
                if (w == 0 || i + 5 > segEnd) fail = true
                else {
                  val ns = u8(i + 4)
                  if (ns < 1 || ns > nc || i + 5 + 2 * ns + 3 > segEnd) fail = true
                  else {
                    val scomp = new Array[Int](ns)
                    val sdc = new Array[Int](ns); val sac = new Array[Int](ns)
                    var c = 0
                    while (!fail && c < ns) {
                      val ci = compId.indexOf(u8(i + 5 + 2 * c))
                      if (ci < 0) fail = true
                      else {
                        scomp(c) = ci
                        sdc(c) = (u8(i + 6 + 2 * c) >> 4) & 0xf
                        sac(c) = u8(i + 6 + 2 * c) & 0xf
                        if (sdc(c) > 3 || sac(c) > 3) fail = true
                      }
                      c += 1
                    }
                    val ss = u8(i + 5 + 2 * ns); val se = u8(i + 6 + 2 * ns)
                    val ahal = u8(i + 7 + 2 * ns)
                    val ah = (ahal >> 4) & 0xf; val al = ahal & 0xf
                    // progressive scan-shape rules (spec G.1.1.1)
                    if (!fail &&
                        ((ss == 0 && se == 0) ||
                          (ss >= 1 && ss <= se && se <= 63 && ns == 1)) &&
                        al <= 13 && ah <= 14) {
                      val next = decodeScan(segEnd, scomp, sdc, sac, ss, se, ah, al)
                      if (next < 0) fail = true
                      else { anyScan = true; i = next }
                    } else fail = true
                  }
                }
              case _ => () // APPn / COM: skip
            }
            if (!fail && m != 0xda) i = segEnd
          }
        }
      }
    }
    if (fail || !sawEoi || !anyScan || coefs == null) return None
    var c = 0
    while (c < nc) {
      if (!qtSeen(compQ(c))) return None
      c += 1
    }
    // ---- dequantize + IDCT every real block into sample planes ----
    val planeW = Array.tabulate(nc)(c => blocksW(c) * 8)
    val planes = Array.tabulate(nc)(c => new Array[Byte](planeW(c) * blocksH(c) * 8))
    val idctC = JpegIdctC
    val blk = new Array[Int](64)
    val tmp = new Array[Double](64)
    c = 0
    while (c < nc) {
      // quant table to natural order once per component
      val qn = new Array[Int](64)
      var k = 0
      while (k < 64) { qn(zigzag(k)) = qt(compQ(c))(k); k += 1 }
      val pw = planeW(c); val plane = planes(c)
      var by = 0
      while (by < realBH(c)) {
        var bx = 0
        while (bx < realBW(c)) {
          val off = (by * blocksW(c) + bx) * 64
          var p = 0
          while (p < 64) { blk(p) = coefs(c)(off + p) * qn(p); p += 1 }
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              var acc = 0.0
              var u = 0
              while (u < 8) { acc += idctC(u)(x) * blk(y * 8 + u); u += 1 }
              tmp(y * 8 + x) = acc
              x += 1
            }
            y += 1
          }
          var x = 0
          while (x < 8) {
            var yy = 0
            while (yy < 8) {
              var acc = 0.0
              var v = 0
              while (v < 8) { acc += idctC(v)(yy) * tmp(v * 8 + x); v += 1 }
              val s = math.round(acc).toInt + 128
              plane((by * 8 + yy) * pw + (bx * 8 + x)) =
                (if (s < 0) 0 else if (s > 255) 255 else s).toByte
              yy += 1
            }
            x += 1
          }
          bx += 1
        }
        by += 1
      }
      c += 1
    }
    val (sr, sg, sb) = jpegSumRgb(planes, planeW, nc, compH, compV, hMax, vMax, w, h)
    Some(JpegStats(w, h, nc, w.toLong * h, sr, sg, sb))
  }

  /** REAL pure-JVM baseline JPEG pixel decode — the last common
    * crawled-image format to shed its stub: like PNG's zlib+filters,
    * baseline JPEG is fully specified (ITU-T T.81) and needs no
    * external codec — Huffman entropy decode, dequantization, 8×8
    * inverse DCT, chroma upsampling and YCbCr→RGB are all implemented
    * here from the specification. Scope: baseline/extended sequential
    * Huffman (SOF0/SOF1), 8-bit precision, 1 (grayscale) or 3 (YCbCr)
    * components, any sampling factors up to 4×4, restart intervals
    * honored; progressive (SOF2), arithmetic coding and CMYK return
    * None (a different tier, not a crash). Hostile/truncated bytes
    * return None via bounds checks and a bit reader that refuses to
    * run past a marker — never a spin or a throw. The per-channel sums
    * are checked two independent ways: q243's oracle replays the
    * flat-tile fixture formula (quality-1.0 all-ones quant tables make
    * flat 16×16 MCUs decode bit-exactly — verified for all 256 gray
    * levels), and the differential spec compares against
    * javax.imageio's own decoder on the same bytes.
    *
    * Reference anchor: the reference ships no media decoders; this
    * extends SURVEY §2's multimodal tier the same way the PNG/BMP/GIF/
    * WAV kernels did. */
  def parseJpegPixels(bytes: Array[Byte]): Option[JpegStats] =
    jpegBaselineDecode(bytes, wantGrid = false).map(_._1)

  /** Baseline-JPEG packed RGB grid (0xRRGGBB row-major) —
    * [[decodeRgbGrid]]'s JPEG sibling and the per-frame pixel source
    * for MJPEG video hashing: the same T.81 decode as
    * [[parseJpegPixels]] but MATERIALIZING pixels, so it carries the
    * perceptual tier's `maxPixels` fence (checked from the SOF header
    * BEFORE the grid allocates). Progressive returns None — MJPEG
    * frames are baseline by definition, and the hash tier wants a
    * cheap refusal, not a coefficient-plane decode. */
  def jpegRgbGrid(bytes: Array[Byte],
                  maxPixels: Int = 1 << 20): Option[(Int, Int, Array[Int])] =
    parseImageHeader(bytes) match {
      case Some(("jpeg", w, h)) if w.toLong * h <= maxPixels =>
        jpegBaselineDecode(bytes, wantGrid = true).flatMap { case (st, g) =>
          if (g == null || st.nPixels > maxPixels) None
          else Some((st.width, st.height, g))
        }
      case _ => None
    }

  private def jpegBaselineDecode(bytes: Array[Byte], wantGrid: Boolean)
      : Option[(JpegStats, Array[Int])] = {
    if (bytes == null || bytes.length < 16) return None
    def u8(i: Int) = bytes(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    if (u8(0) != 0xff || u8(1) != 0xd8) return None
    val zigzag = JpegZigzag
    type Huff = JHuff
    // ---- marker walk: tables + frame + scan header ----------------
    val qt = Array.ofDim[Int](4, 64) // zigzag order, as stored
    val qtSeen = new Array[Boolean](4)
    val huff = Array.ofDim[Option[Huff]](2, 4).map(_.map(_ => Option.empty[Huff]))
    var w = 0; var h = 0; var nc = 0
    var compH: Array[Int] = null; var compV: Array[Int] = null
    var compQ: Array[Int] = null; var compId: Array[Int] = null
    var dri = 0
    var scanStart = -1
    var scanDc: Array[Int] = null; var scanAc: Array[Int] = null
    var i = 2
    while (scanStart < 0 && i + 4 <= bytes.length) {
      if (u8(i) != 0xff) return None
      val m = u8(i + 1)
      if (m == 0xd8 || m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2
      else if (m == 0xd9) return None // EOI before any scan data
      else {
        val segLen = be16(i + 2)
        if (segLen < 2 || i + 2 + segLen > bytes.length) return None
        val segEnd = i + 2 + segLen
        m match {
          case 0xdb => // DQT: one or more (precision|id, 64 entries)
            var o = i + 4
            while (o < segEnd) {
              val pq = (u8(o) >> 4) & 0xf; val tq = u8(o) & 0xf
              val n = if (pq == 0) 64 else 128
              if (tq > 3 || pq > 1 || o + 1 + n > segEnd) return None
              var k = 0
              while (k < 64) {
                qt(tq)(k) = if (pq == 0) u8(o + 1 + k)
                            else be16(o + 1 + 2 * k)
                k += 1
              }
              qtSeen(tq) = true
              o += 1 + n
            }
          case 0xc4 => // DHT: one or more (class|id, 16 counts, vals)
            var o = i + 4
            while (o < segEnd) {
              val tc = (u8(o) >> 4) & 0xf; val th = u8(o) & 0xf
              if (tc > 1 || th > 3 || o + 17 > segEnd) return None
              val counts = Array.tabulate(17)(l => if (l == 0) 0 else u8(o + l))
              val total = counts.sum
              if (total > 256 || o + 17 + total > segEnd) return None
              val vals = Array.tabulate(total)(k => u8(o + 17 + k))
              huff(tc)(th) = Some(buildJHuff(counts, vals))
              o += 17 + total
            }
          case 0xc2 if segLen >= 3 && u8(i + 4) == 8 =>
            // progressive: a different decode structure (coefficient
            // accumulation across scans) — dedicated path; the grid
            // tier refuses it (see [[jpegRgbGrid]])
            return (if (wantGrid) None
                    else parseJpegProgressive(bytes).map((_, null)))
          case 0xc0 | 0xc1 => // baseline / extended sequential Huffman
            if (w != 0) return None // two frames: malformed
            if (i + 10 > segEnd) return None // short frame header
            if (u8(i + 4) != 8) return None // 8-bit precision only
            h = be16(i + 5); w = be16(i + 7); nc = u8(i + 9)
            if (w <= 0 || h <= 0 || (nc != 1 && nc != 3)) return None
            if (w.toLong * h > (1L << 26)) return None // 64M-pixel fence
            if (i + 10 + 3 * nc > segEnd) return None
            compId = new Array[Int](nc); compH = new Array[Int](nc)
            compV = new Array[Int](nc); compQ = new Array[Int](nc)
            var c = 0
            while (c < nc) {
              compId(c) = u8(i + 10 + 3 * c)
              val hv = u8(i + 11 + 3 * c)
              compH(c) = (hv >> 4) & 0xf; compV(c) = hv & 0xf
              compQ(c) = u8(i + 12 + 3 * c)
              if (compH(c) < 1 || compH(c) > 4 || compV(c) < 1 || compV(c) > 4 ||
                  compQ(c) > 3) return None
              c += 1
            }
          case 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
               0xcd | 0xce | 0xcf => return None // progressive/arith/lossless tiers
          case 0xdd => // DRI
            if (segLen != 4) return None
            dri = be16(i + 4)
          case 0xda => // SOS: component → table ids, then entropy data
            if (w == 0) return None // scan before frame
            if (i + 5 > segEnd) return None // short scan header
            val ns = u8(i + 4)
            if (ns != nc || i + 5 + 2 * ns + 3 > segEnd) return None
            scanDc = new Array[Int](nc); scanAc = new Array[Int](nc)
            var c = 0
            while (c < ns) {
              val cs = u8(i + 5 + 2 * c)
              val ci = compId.indexOf(cs)
              if (ci < 0) return None
              scanDc(ci) = (u8(i + 6 + 2 * c) >> 4) & 0xf
              scanAc(ci) = u8(i + 6 + 2 * c) & 0xf
              if (scanDc(ci) > 3 || scanAc(ci) > 3) return None // 4 tables max
              c += 1
            }
            scanStart = segEnd
          case _ => () // APPn / COM / others: skip
        }
        if (scanStart < 0) i = segEnd
      }
    }
    if (scanStart < 0) return None
    var c = 0
    while (c < nc) {
      if (!qtSeen(compQ(c)) || huff(0)(scanDc(c)).isEmpty ||
          huff(1)(scanAc(c)).isEmpty) return None
      c += 1
    }
    // ---- entropy-coded scan: bit reader with byte stuffing --------
    val hMax = compH.max; val vMax = compV.max
    val mcuW = 8 * hMax; val mcuH = 8 * vMax
    val mcusX = (w + mcuW - 1) / mcuW; val mcusY = (h + mcuH - 1) / mcuH
    // per-component sample planes, padded to whole MCUs
    val planeW = Array.tabulate(nc)(c => mcusX * compH(c) * 8)
    val planeH = Array.tabulate(nc)(c => mcusY * compV(c) * 8)
    if (planeW.zip(planeH).exists { case (pw, ph) => pw.toLong * ph > (1L << 27) })
      return None
    val planes = Array.tabulate(nc)(c => new Array[Byte](planeW(c) * planeH(c)))
    // shared entropy reader ([[JBitReader]]): MSB-first with FF00
    // unstuffing; any real marker (incl. RSTn out of place and EOI)
    // stops the stream — the MCU loop then fails cleanly
    val reader = new JBitReader(bytes, scanStart)
    def nextBit(): Int = reader.nextBit()
    def decodeHuff(t: Huff): Int = reader.decodeHuff(t)
    def receive(s: Int): Int = reader.receive(s)
    def extend(v: Int, s: Int): Int =
      if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    val idctC = JpegIdctC
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)
    val dcPred = new Array[Int](nc)
    def decodeBlock(c: Int, px: Int, py: Int): Boolean = {
      val dcT = huff(0)(scanDc(c)).get; val acT = huff(1)(scanAc(c)).get
      val q = qt(compQ(c))
      java.util.Arrays.fill(coef, 0)
      val t = decodeHuff(dcT)
      if (t < 0 || t > 15) return false
      val diffBits = receive(t)
      if (diffBits == Int.MinValue) return false
      dcPred(c) += extend(diffBits, t)
      coef(0) = dcPred(c) * q(0)
      var k = 1
      var eob = false
      while (k < 64 && !eob) {
        val rs = decodeHuff(acT)
        if (rs < 0) return false
        val r = (rs >> 4) & 0xf; val s = rs & 0xf
        if (s == 0) {
          if (r == 15) k += 16 else eob = true
        } else {
          k += r
          if (k > 63) return false
          val vb = receive(s)
          if (vb == Int.MinValue) return false
          coef(zigzag(k)) = extend(vb, s) * q(k)
          k += 1
        }
      }
      // rows then columns
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          var acc = 0.0
          var u = 0
          while (u < 8) { acc += idctC(u)(x) * coef(y * 8 + u); u += 1 }
          tmp(y * 8 + x) = acc
          x += 1
        }
        y += 1
      }
      val pw = planeW(c); val plane = planes(c)
      var x = 0
      while (x < 8) {
        var yy = 0
        while (yy < 8) {
          var acc = 0.0
          var v = 0
          while (v < 8) { acc += idctC(v)(yy) * tmp(v * 8 + x); v += 1 }
          val s = math.round(acc).toInt + 128
          plane((py + yy) * pw + (px + x)) =
            (if (s < 0) 0 else if (s > 255) 255 else s).toByte
          yy += 1
        }
        x += 1
      }
      true
    }
    var mcu = 0
    val nMcus = mcusX * mcusY
    var rstExpect = 0
    while (mcu < nMcus) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        // byte-align and consume the expected RSTn; reset predictors
        reader.align()
        if (reader.pos + 2 > bytes.length || u8(reader.pos) != 0xff ||
            u8(reader.pos + 1) != 0xd0 + rstExpect) return None
        reader.pos += 2
        rstExpect = (rstExpect + 1) % 8
        java.util.Arrays.fill(dcPred, 0)
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      var c = 0
      while (c < nc) {
        var by = 0
        while (by < compV(c)) {
          var bx = 0
          while (bx < compH(c)) {
            if (!decodeBlock(c, (mx * compH(c) + bx) * 8, (my * compV(c) + by) * 8))
              return None
            bx += 1
          }
          by += 1
        }
        c += 1
      }
      mcu += 1
    }
    val (sr, sg, sb) = jpegSumRgb(planes, planeW, nc, compH, compV, hMax, vMax, w, h)
    Some((JpegStats(w, h, nc, w.toLong * h, sr, sg, sb),
      if (wantGrid) jpegRgbGridOf(planes, planeW, nc, compH, compV, hMax, vMax, w, h)
      else null))
  }

  /** [[describePng]]'s JPEG sibling: per-payload decoded pixel sums
    * (null columns for anything but baseline Huffman JPEG). Same
    * plumbing contract — per-partition kernel, no shuffle, payload
    * bytes never leave the partition; integer outputs. */
  def describeJpeg(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val st = parseJpegPixels(payload)
        (id, st.map(_.width), st.map(_.height), st.map(_.nComponents),
          st.map(_.nPixels), st.map(_.sumR), st.map(_.sumG), st.map(_.sumB))
      }
      .toDF("media_id", "width", "height", "n_components", "n_pixels",
        "sum_r", "sum_g", "sum_b")
  }

  /** Decoded-TIFF facts: dimensions plus per-channel integer pixel
    * sums, the same integer-exact contract as [[PngStats]]. */
  final case class TiffStats(width: Int, height: Int, compression: Int,
                             nPixels: Long, sumR: Long, sumG: Long, sumB: Long)

  /** REAL pure-JVM TIFF pixel decode — the document-scan tier: both
    * byte orders (II/MM), baseline strip organization, 8-bit
    * grayscale (BlackIsZero AND the inverted WhiteIsZero), RGB(A —
    * alpha skipped), and palette-color through the 16-bit ColorMap
    * (top byte), under THREE compressions implemented from the TIFF 6
    * specification: none, PackBits (run-length), and TIFF-LZW —
    * MSB-first codes with the spec's EARLY code-width change (one
    * code before the table fills, unlike GIF's late change) and
    * horizontal-differencing predictor 2. Tiled TIFFs, 16-bit
    * samples and JPEG-in-TIFF return None (different tiers, not
    * crashes); truncated strips clamp to fully-present rows and
    * hostile IFDs fail cleanly via bounds checks. Differential-pinned
    * against the JDK's own TIFF plugin (ImageIO encodes LZW and
    * PackBits on request). */
  def parseTiffPixels(bytes: Array[Byte]): Option[TiffStats] = {
    if (bytes == null || bytes.length < 16) return None
    val le = bytes(0) == 'I' && bytes(1) == 'I'
    val be = bytes(0) == 'M' && bytes(1) == 'M'
    if (!le && !be) return None
    def u8(i: Int) = bytes(i) & 0xff
    def u16(i: Int): Int =
      if (i < 0 || i + 2 > bytes.length) -1
      else if (le) u8(i) | (u8(i + 1) << 8) else (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Long =
      if (i < 0 || i + 4 > bytes.length) -1L
      else if (le) u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
      else (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    if (u16(2) != 42) return None
    val ifdOff = u32(4)
    if (ifdOff < 8 || ifdOff + 2 > bytes.length) return None
    val nEntries = u16(ifdOff.toInt)
    if (nEntries <= 0 || ifdOff + 2 + 12L * nEntries > bytes.length) return None
    // IFD field reader: SHORT/LONG scalars inline or offset arrays
    var w = 0; var h = 0; var spp = 1; var photometric = -1
    var compression = 1; var rowsPerStrip = Int.MaxValue; var predictor = 1
    var bitsOk = true // every BitsPerSample entry must be 8
    var stripOffsets: Array[Long] = null; var stripCounts: Array[Long] = null
    var colorMapOff = -1L; var colorMapCount = 0L
    var tiled = false
    var e = 0
    while (e < nEntries) {
      val o = (ifdOff + 2 + 12 * e).toInt
      val tag = u16(o); val typ = u16(o + 2); val cnt = u32(o + 4)
      // scalar value (first element), honoring type size + inlining
      def elemSize = typ match {
        case 1 | 2 | 6 | 7 => 1L
        case 3 | 8 => 2L
        case 4 | 9 | 11 => 4L
        case _ => 8L
      }
      def arrOff: Long =
        if (elemSize * cnt <= 4) o + 8L else u32(o + 8)
      def elem(k: Long): Long = {
        val base = arrOff + k * elemSize
        if (base < 0 || base + elemSize > bytes.length) -1L
        else if (elemSize == 2) u16(base.toInt).toLong
        else if (elemSize == 4) u32(base.toInt)
        else u8(base.toInt).toLong
      }
      tag match {
        case 256 => w = elem(0).toInt
        case 257 => h = elem(0).toInt
        case 258 =>
          var k = 0L
          while (k < cnt) { if (elem(k) != 8) bitsOk = false; k += 1 }
        case 259 => compression = elem(0).toInt
        case 262 => photometric = elem(0).toInt
        case 273 =>
          stripOffsets = Array.tabulate(math.min(cnt, 65536L).toInt)(k => elem(k))
        case 277 => spp = elem(0).toInt
        case 278 => rowsPerStrip = math.min(elem(0), Int.MaxValue.toLong).toInt
        case 279 =>
          stripCounts = Array.tabulate(math.min(cnt, 65536L).toInt)(k => elem(k))
        case 317 => predictor = elem(0).toInt
        case 320 => colorMapOff = arrOff; colorMapCount = cnt
        case 322 | 323 | 324 | 325 => tiled = true
        case _ => ()
      }
      e += 1
    }
    if (tiled || !bitsOk || w <= 0 || h <= 0) return None
    if (w.toLong * h > (1L << 26)) return None // 64M-pixel fence
    if (stripOffsets == null || stripCounts == null ||
        stripOffsets.length != stripCounts.length) return None
    if (compression != 1 && compression != 5 && compression != 32773) return None
    if (predictor != 1 && predictor != 2) return None
    if (rowsPerStrip <= 0) return None
    val paletted = photometric == 3
    if (photometric < 0 || photometric > 3) return None
    if (paletted && (spp != 1 || colorMapOff < 0)) return None
    if (!paletted && photometric <= 1 && spp != 1) return None
    if (photometric == 2 && spp != 3 && spp != 4) return None
    // palette: 2^8 entries × 3 planes of 16-bit values (R plane, G
    // plane, B plane); report the top byte
    val palette: Array[Int] =
      if (!paletted) null
      else {
        if (colorMapCount < 3 * 256) return None
        Array.tabulate(256) { k =>
          def top(plane: Int): Int = {
            val off = colorMapOff + 2L * (plane * 256 + k)
            if (off + 2 > bytes.length) return -1
            u16(off.toInt) >> 8
          }
          val r = top(0); val g = top(1); val b = top(2)
          if (r < 0 || g < 0 || b < 0) return None
          (r << 16) | (g << 8) | b
        }
      }
    val rowBytes = w * spp
    // ---- per-strip decompression ----------------------------------
    def unpackBits(src: Array[Byte], from: Int, len: Int, out: Array[Byte]): Int = {
      var i = from; var o = 0
      val end = math.min(from + len, src.length)
      while (i < end && o < out.length) {
        val n = src(i); i += 1
        if (n >= 0) { // literal run of n+1
          val take = math.min(math.min(n + 1, end - i), out.length - o)
          if (take > 0) { System.arraycopy(src, i, out, o, take); i += take; o += take }
          if (take < n + 1) return o // truncated
        } else if (n != -128) { // replicate next byte 1-n times
          if (i >= end) return o
          val v = src(i); i += 1
          val take = math.min(1 - n, out.length - o)
          java.util.Arrays.fill(out, o, o + take, v)
          o += take
        }
      }
      o
    }
    // TIFF-LZW: MSB-first, clear=256, eoi=257, EARLY width change
    // (width bumps when the NEXT entry would need it: at 511/1023/2047)
    def lzw(src: Array[Byte], from: Int, len: Int, out: Array[Byte]): Int = {
      val end = math.min(from + len, src.length)
      val totalBits = (end - from).toLong * 8
      var bitPos = 0L
      val suffix = new Array[Byte](4096); val parent = new Array[Int](4096)
      val length = new Array[Int](4096)
      var dictSize = 258; var codeBits = 9; var prev = -1
      var o = 0
      def firstOf(code: Int): Int = {
        var c = code
        while (c >= 258) c = parent(c)
        c
      }
      def emit(code: Int): Boolean = {
        val l = if (code < 258) 1 else length(code)
        if (o + l > out.length) { // clamp: fill what fits, stop
          return false
        }
        var c = code; var p = o + l - 1
        while (c >= 258) { out(p) = suffix(c); p -= 1; c = parent(c) }
        out(p) = c.toByte
        o += l
        true
      }
      var done = false
      while (!done && o < out.length) {
        if (bitPos + codeBits > totalBits) done = true
        else {
          var code = 0; var k = 0
          while (k < codeBits) {
            val bp = bitPos + k
            code = (code << 1) |
              ((src(from + (bp >> 3).toInt) >> (7 - (bp & 7).toInt)) & 1)
            k += 1
          }
          bitPos += codeBits
          if (code == 256) { dictSize = 258; codeBits = 9; prev = -1 }
          else if (code == 257) done = true
          else if (prev < 0) {
            if (code >= 256 || !emit(code)) done = true else prev = code
          } else {
            val known = code < dictSize && code != 256 && code != 257
            if (!known && code != dictSize) done = true // corrupt: stop
            else {
              if (dictSize < 4096) {
                suffix(dictSize) =
                  (if (known) firstOf(code) else firstOf(prev)).toByte
                parent(dictSize) = prev
                length(dictSize) = (if (prev < 258) 1 else length(prev)) + 1
                dictSize += 1
                // EARLY change: the encoder widens one code sooner
                if (dictSize == 511 || dictSize == 1023 || dictSize == 2047)
                  codeBits += 1
              } else if (!known) done = true
              if (!done) { if (!emit(code)) done = true else prev = code }
            }
          }
        }
      }
      o
    }
    // ---- walk strips, accumulate sums -----------------------------
    var sr = 0L; var sg = 0L; var sb = 0L
    var decoded = 0L
    var strip = 0
    var rowBase = 0
    val maxStripRows = rowsPerStrip
    while (strip < stripOffsets.length && rowBase < h) {
      val sOff = stripOffsets(strip); val sLen = stripCounts(strip)
      if (sOff < 0 || sLen < 0 || sOff > bytes.length) return None
      val rowsHere = math.min(maxStripRows, h - rowBase)
      val out = new Array[Byte](rowsHere * rowBytes)
      val got = compression match {
        case 1 =>
          val take = math.min(math.min(sLen, bytes.length - sOff), out.length.toLong).toInt
          if (take > 0) System.arraycopy(bytes, sOff.toInt, out, 0, take)
          math.max(0, take)
        case 32773 => unpackBits(bytes, sOff.toInt, sLen.toInt, out)
        case _ => lzw(bytes, sOff.toInt, sLen.toInt, out)
      }
      // predictor 2: horizontal differencing per sample channel
      if (predictor == 2) {
        var r = 0
        while (r < rowsHere) {
          val base = r * rowBytes
          var x = spp
          while (x < rowBytes && base + x < got) {
            out(base + x) = ((out(base + x) + out(base + x - spp)) & 0xff).toByte
            x += 1
          }
          r += 1
        }
      }
      // sums over fully-present rows only (truncation clamp)
      val fullRows = got / rowBytes
      var r = 0
      while (r < fullRows) {
        val base = r * rowBytes
        var x = 0
        while (x < w) {
          if (paletted) {
            val rgb = palette(out(base + x) & 0xff)
            sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
          } else if (spp < 3) {
            val v0 = out(base + x) & 0xff
            val v = if (photometric == 0) 255 - v0 else v0 // WhiteIsZero inverts
            sr += v; sg += v; sb += v
          } else {
            sr += out(base + x * spp) & 0xff
            sg += out(base + x * spp + 1) & 0xff
            sb += out(base + x * spp + 2) & 0xff
          }
          x += 1
        }
        decoded += 1
        r += 1
      }
      rowBase += rowsHere
      strip += 1
    }
    Some(TiffStats(w, h, compression, decoded * w, sr, sg, sb))
  }

  /** [[describePng]]'s TIFF sibling: per-payload decoded pixel sums
    * (null columns where the payload isn't a decodable TIFF).
    * Per-partition kernel, no shuffle, integer outputs. */
  def describeTiff(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val st = parseTiffPixels(payload)
        (id, st.map(_.width), st.map(_.height), st.map(_.compression),
          st.map(_.nPixels), st.map(_.sumR), st.map(_.sumG), st.map(_.sumB))
      }
      .toDF("media_id", "width", "height", "compression", "n_pixels",
        "sum_r", "sum_g", "sum_b")
  }

  /** Decoded-BMP facts: dimensions plus per-channel integer pixel
    * sums — integers end to end, so a second engine replays them
    * exactly (no float accumulation anywhere). */
  final case class BmpStats(width: Int, height: Int, bitsPerPixel: Int,
                            nPixels: Long, sumR: Long, sumG: Long, sumB: Long)

  /** REAL pure-JVM BMP pixel decode — the image sibling of
    * [[parseWavPcm]] (uncompressed BMP is raw pixels behind two plain
    * headers; no codec exists to stub): "BM" magic, pixel-data offset
    * from the file header, width/height/bpp from the
    * BITMAPINFOHEADER, then one pass over the 24bpp BGR rows
    * (4-byte-aligned, bottom-up — or top-down when height is
    * negative, which changes nothing for channel sums) accumulating
    * exact integer per-channel totals. Returns None for non-BMP
    * bytes, compressed BMPs (BI_RGB only), or depths other than
    * 24bpp (palette decoding is a different tier). Truncated pixel
    * data is CLAMPED: only fully-present pixels count, and nPixels
    * reports what was actually decoded. */
  def parseBmpPixels(bytes: Array[Byte]): Option[BmpStats] = {
    if (bytes == null || bytes.length < 54) return None
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (u8(0) != 'B' || u8(1) != 'M') return None
    // INFOHEADER family only: these share the first-40-byte field
    // layout the offsets below assume (a CORE header's 12-byte layout
    // would make width/bpp reads garbage that could still "pass")
    if (!Set(40, 52, 56, 64, 108, 124).contains(le32(14).toInt)) return None
    val dataOff = le32(10).toLong & 0xffffffffL
    val w = le32(18)
    val hRaw = le32(22)
    val h = math.abs(hRaw)
    val bpp = le16(28)
    val compression = le32(30)
    if (w <= 0 || h == 0 || bpp != 24 || compression != 0) return None
    // row stride in LONG: a hostile width near 2^31 overflows Int
    // ((w*3+3) wraps negative), walking the row base backwards into
    // an ArrayIndexOutOfBounds instead of the clean clamp
    val rowBytes = ((w.toLong * 3 + 3) / 4) * 4 // rows pad to 4-byte boundaries
    var sr = 0L; var sg = 0L; var sb = 0L; var n = 0L
    var row = 0
    // rows are sequential: once a row's base passes the payload end,
    // every later row does too — stop instead of spinning through a
    // hostile 2^31-row height
    while (row < h && dataOff + row.toLong * rowBytes < bytes.length) {
      val base = dataOff + row.toLong * rowBytes
      var x = 0
      while (x < w && base >= 0 && base + x * 3 + 3 <= bytes.length) {
        val o = (base + x * 3).toInt
        sb += u8(o); sg += u8(o + 1); sr += u8(o + 2) // BGR order
        n += 1
        x += 1
      }
      row += 1
    }
    Some(BmpStats(w, h, bpp, n, sr, sg, sb))
  }

  /** Decoded-ICO facts: directory size, the DECODED entry's geometry
    * and inner container ("png" or "dib"), and integer channel sums —
    * same contract as [[PngStats]]. */
  final case class IcoStats(nImages: Int, width: Int, height: Int, bpp: Int,
                            inner: String, nPixels: Long,
                            sumR: Long, sumG: Long, sumB: Long)

  /** REAL pure-JVM ICO (favicon) decode: directory walk, then the
    * LARGEST entry (the browser rule) decodes — either an embedded
    * PNG (delegated to [[parsePngPixels]], the modern high-res form)
    * or an ICO DIB: BITMAPINFOHEADER with its DOUBLED height (XOR
    * image + AND mask), bottom-up 32-bit-padded rows, at 32bpp BGRA /
    * 24bpp BGR / 1-4-8 bpp through the BGRA palette. The AND
    * transparency mask is deliberately ignored (indices/channels sum
    * as stored — the corpus-stats contract, like GIF transparency).
    * Truncated pixel data clamps to fully-present rows; compressed or
    * malformed DIBs return None. No JDK differential exists (ImageIO
    * cannot read ICO); correctness rests on the q249
    * synthesize-and-replay oracle plus the delegated, heavily-pinned
    * PNG path. */
  def parseIcoPixels(bytes: Array[Byte]): Option[IcoStats] = {
    if (bytes == null || bytes.length < 22) return None
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    if (le16(0) != 0 || le16(2) != 1) return None // icons only (type 2 = cursor)
    val count = le16(4)
    if (count < 1 || count > 1024 || 6 + 16 * count > bytes.length) return None
    // largest entry by declared pixel area (0 in the byte fields = 256)
    var best = -1; var bestArea = -1L
    var e = 0
    while (e < count) {
      val o = 6 + 16 * e
      val w = if (u8(o) == 0) 256 else u8(o)
      val h = if (u8(o + 1) == 0) 256 else u8(o + 1)
      if (w.toLong * h > bestArea) { bestArea = w.toLong * h; best = o }
      e += 1
    }
    val off = le32(best + 12)
    if (off < 0 || off + 8 > bytes.length) return None
    val oi = off.toInt
    // embedded PNG?
    if (u8(oi) == 0x89 && u8(oi + 1) == 'P' && u8(oi + 2) == 'N' && u8(oi + 3) == 'G') {
      val size = math.min(le32(best + 8), bytes.length - off)
      val slice = java.util.Arrays.copyOfRange(bytes, oi, (off + math.max(0L, size)).toInt)
      return parsePngPixels(slice).map(st =>
        IcoStats(count, st.width, st.height, st.bitDepth, "png",
          st.nPixels, st.sumR, st.sumG, st.sumB))
    }
    // ICO DIB: INFOHEADER with doubled height, no compression
    if (off + 40 > bytes.length || le32(oi) != 40) return None
    val w = le32(oi + 4).toInt
    val h2 = le32(oi + 8).toInt
    val bpp = le16(oi + 14)
    if (le32(oi + 16) != 0) return None // BI_RGB only
    if (w <= 0 || h2 <= 0 || h2 % 2 != 0) return None
    val h = h2 / 2
    if (w.toLong * h > (1L << 26)) return None
    if (!Set(1, 4, 8, 24, 32).contains(bpp)) return None
    val nPal = if (bpp > 8) 0 else {
      val cu = le32(oi + 32).toInt
      if (cu == 0) 1 << bpp else cu
    }
    if (nPal > 256) return None
    val palBase = off + 40
    if (palBase + 4L * nPal > bytes.length) return None
    val palette = Array.tabulate(nPal) { k =>
      val p = (palBase + 4 * k).toInt
      (u8(p + 2) << 16) | (u8(p + 1) << 8) | u8(p) // stored BGRA
    }
    val pixBase = palBase + 4L * nPal
    val rowBytes = ((w.toLong * bpp + 31) / 32) * 4
    var sr = 0L; var sg = 0L; var sb = 0L; var n = 0L
    var row = 0
    while (row < h && pixBase + (row + 1L) * rowBytes <= bytes.length) {
      val base = pixBase + row * rowBytes // bottom-up; order-free for sums
      var x = 0
      while (x < w) {
        if (bpp == 32) {
          val o = (base + x * 4).toInt
          sb += u8(o); sg += u8(o + 1); sr += u8(o + 2) // BGRA, alpha skipped
        } else if (bpp == 24) {
          val o = (base + x * 3).toInt
          sb += u8(o); sg += u8(o + 1); sr += u8(o + 2)
        } else {
          val perByte = 8 / bpp
          val mask = (1 << bpp) - 1
          val idx = (u8((base + x / perByte).toInt) >>
            (8 - bpp - (x % perByte) * bpp)) & mask
          if (idx >= palette.length) return None
          val rgb = palette(idx)
          sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        }
        x += 1
      }
      n += w
      row += 1
    }
    Some(IcoStats(count, w, h, bpp, "dib", n, sr, sg, sb))
  }

  /** [[describePng]]'s favicon sibling: per-payload ICO decode (null
    * columns where the payload isn't a decodable ICO). Per-partition
    * kernel, no shuffle, integer outputs. */
  def describeIco(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val st = parseIcoPixels(payload)
        (id, st.map(_.nImages), st.map(_.width), st.map(_.height),
          st.map(_.bpp), st.map(_.inner), st.map(_.nPixels),
          st.map(_.sumR), st.map(_.sumG), st.map(_.sumB))
      }
      .toDF("media_id", "n_images", "width", "height", "bpp", "inner",
        "n_pixels", "sum_r", "sum_g", "sum_b")
  }

  /** [[describePcm]]'s image sibling: per-payload decoded pixel sums
    * (null columns where the payload isn't an uncompressed 24bpp
    * BMP). Per-partition kernel, no shuffle, payloads never leave the
    * partition; all outputs integer-exact. */
  def describeBmp(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val st = parseBmpPixels(payload)
        (id, st.map(_.width), st.map(_.height), st.map(_.nPixels),
          st.map(_.sumR), st.map(_.sumG), st.map(_.sumB))
      }
      .toDF("media_id", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b")
  }

  /** [[describeMedia]]'s audio/video sibling: per-payload byte length
    * plus the header-parsed container facts. Same plumbing contract —
    * per-partition, no shuffle, payloads never leave the partition. */
  def describeAv(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val hdr = parseAvHeader(payload)
        (id, Option(payload).fold(0L)(_.length.toLong),
          hdr.map(_.format), hdr.map(_.durationMs),
          hdr.map(_.sampleRate), hdr.map(_.channels))
      }
      .toDF("media_id", "n_bytes", "format", "duration_ms", "sample_rate", "channels")
  }

  /** REAL media inspection over the canonical media frame: byte
    * length, MD5, magic-number format sniff, and header-parsed
    * dimensions where the payload is a recognized image container.
    * Batched per-partition kernel (digest instance amortized per
    * partition), no shuffle, payload bytes never leave the partition —
    * the same plumbing contract as [[extractFeaturesBatched]], with
    * fully checkable (non-stub) outputs. */
  def describeMedia(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, payload) =>
          val bytes = if (payload == null) Array.empty[Byte] else payload
          md.reset()
          val hex = md.digest(bytes).map(b => f"$b%02x").mkString
          val hdr = parseImageHeader(bytes)
          (id, bytes.length.toLong, hex, hdr.map(_._1), hdr.map(_._2), hdr.map(_._3))
        }
      }
      .toDF("media_id", "n_bytes", "payload_md5", "format", "width", "height")
  }

  /** Small-image RGB grid decode (packed 0xRRGGBB, row-major) for the
    * perceptual-hash tier: unlike the sum-only describe* kernels this
    * MATERIALIZES pixels, so it is deliberately fenced to
    * `maxPixels` (hashing wants thumbnails, not posters). Formats:
    * 24bpp BMP and 8-bit truecolor non-interlaced PNG — the two
    * raw-pixel containers; transcode upstream for others. */
  def decodeRgbGrid(bytes: Array[Byte],
                    maxPixels: Int = 1 << 20): Option[(Int, Int, Array[Int])] = {
    if (bytes == null || bytes.length < 26) return None
    def u8(i: Int) = bytes(i) & 0xff
    if (u8(0) == 'B' && u8(1) == 'M') {
      // reuse the pinned BMP geometry rules; decode only full images
      val st = parseBmpPixels(bytes).getOrElse(return None)
      if (st.nPixels != st.width.toLong * st.height ||
          st.nPixels > maxPixels) return None
      def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
      val dataOff = le32(10).toLong & 0xffffffffL
      val w = st.width; val hRaw = le32(22); val h = st.height
      val topDown = hRaw < 0
      val rowBytes = ((w.toLong * 3 + 3) / 4) * 4
      val grid = new Array[Int](w * h)
      var row = 0
      while (row < h) {
        val y = if (topDown) row else h - 1 - row // normalize to top-down
        val base = dataOff + row.toLong * rowBytes
        var x = 0
        while (x < w) {
          val o = (base + x * 3).toInt
          grid(y * w + x) = (u8(o + 2) << 16) | (u8(o + 1) << 8) | u8(o)
          x += 1
        }
        row += 1
      }
      Some((w, h, grid))
    } else if (u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G') {
      def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
      if (bytes.length < 45 || be32(12) != 0x49484452) return None
      val w = be32(16); val h = be32(20)
      if (w <= 0 || h <= 0 || w.toLong * h > maxPixels) return None
      if (u8(24) != 8 || u8(25) != 2 || u8(28) != 0) return None // ct2/8, sequential
      val idat = new java.io.ByteArrayOutputStream()
      var i = 8L
      var sawEnd = false
      while (!sawEnd && i + 8 <= bytes.length) {
        val len = be32(i.toInt).toLong & 0xffffffffL
        val typ = be32(i.toInt + 4)
        if (typ == 0x49444154 && i + 8 + len <= bytes.length)
          idat.write(bytes, (i + 8).toInt, len.toInt)
        if (typ == 0x49454e44) sawEnd = true
        i += 8 + len + 4
      }
      if (idat.size == 0) return None
      val stride = 3 * w
      val raw = new Array[Byte](h * (1 + stride))
      val inf = new java.util.zip.Inflater()
      inf.setInput(idat.toByteArray)
      try {
        var off = 0
        while (off < raw.length && !inf.finished()) {
          val n = inf.inflate(raw, off, raw.length - off)
          if (n == 0) return None
          off += n
        }
        if (off < raw.length) return None
      } catch { case _: java.util.zip.DataFormatException => return None }
      finally inf.end()
      def paeth(a: Int, b: Int, c: Int): Int = {
        val p = a + b - c
        val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
        if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
      }
      val prev = new Array[Int](stride)
      val cur = new Array[Int](stride)
      val grid = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        val base = y * (1 + stride)
        val filter = raw(base) & 0xff
        if (filter > 4) return None
        var x = 0
        while (x < stride) {
          val rawv = raw(base + 1 + x) & 0xff
          val a = if (x >= 3) cur(x - 3) else 0
          val b = prev(x)
          val c = if (x >= 3) prev(x - 3) else 0
          cur(x) = filter match {
            case 0 => rawv
            case 1 => (rawv + a) & 0xff
            case 2 => (rawv + b) & 0xff
            case 3 => (rawv + (a + b) / 2) & 0xff
            case 4 => (rawv + paeth(a, b, c)) & 0xff
          }
          x += 1
        }
        var px = 0
        while (px < w) {
          grid(y * w + px) =
            (cur(px * 3) << 16) | (cur(px * 3 + 1) << 8) | cur(px * 3 + 2)
          px += 1
        }
        System.arraycopy(cur, 0, prev, 0, stride)
        y += 1
      }
      Some((w, h, grid))
    } else None
  }

  /** Perceptual difference hash (dHash) over a decoded RGB grid —
    * the image-dedup analog of SimHash: partition into a 9×8 grid of
    * floor-boundary blocks and compare integer luma-1000 block MEANS
    * as sum·area cross products (adjacent blocks can differ in size
    * by the floor remainder, so raw sums would bias — the cross
    * product keeps it fully integer, division-free, and replayable
    * in SQL), bit k = y·8+x
    * set iff block (x,y) outweighs block (x+1,y). Stable under
    * brightness scaling and JPEG-grade noise; Hamming distance ≤ 3
    * is the near-dup gate ([[hammingPairs64]] finds candidates by
    * the 4×16-bit pigeonhole, never all pairs). Images narrower than
    * 9 or shorter than 8 return None. */
  def imageDHash(w: Int, h: Int, grid: Array[Int]): Option[Long] = {
    if (w < 9 || h < 8 || grid.length < w * h) return None
    // block sums of luma-1000 = 299 r + 587 g + 114 b
    val sums = Array.ofDim[Long](8, 9)
    val area = Array.ofDim[Long](8, 9)
    var by = 0
    while (by < 8) {
      val y0 = by * h / 8; val y1 = (by + 1) * h / 8
      var bx = 0
      while (bx < 9) {
        val x0 = bx * w / 9; val x1 = (bx + 1) * w / 9
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = grid(y * w + x)
            s += 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
              114L * (p & 0xff)
            x += 1
          }
          y += 1
        }
        sums(by)(bx) = s
        area(by)(bx) = (y1 - y0).toLong * (x1 - x0)
        bx += 1
      }
      by += 1
    }
    var hash = 0L
    var k = 0
    by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        // mean(bx) > mean(bx+1) as an integer cross product
        if (sums(by)(bx) * area(by)(bx + 1) > sums(by)(bx + 1) * area(by)(bx))
          hash |= 1L << k
        k += 1
        bx += 1
      }
      by += 1
    }
    Some(hash)
  }

  /** Per-payload perceptual hash over a media frame (null where the
    * payload isn't a decodable small raster). Map-only. */
  def describeImageHash(media: DataFrame, maxPixels: Int = 1 << 20): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        val hash = decodeRgbGrid(payload, maxPixels)
          .flatMap { case (w, h, g) => imageDHash(w, h, g) }
        (id, hash)
      }
      .toDF("media_id", "dhash")
  }

  /** The 4×16-bit pigeonhole chunk exploder shared by
    * [[hammingPairs64]] and [[videoNearDupPairs]] — ONE definition of
    * the banding, so chunk count/width can never drift between the
    * image and video joins. Any pair within Hamming ≤ 3 shares one
    * exact chunk (4 chunks, ≤ 3 differing bits). */
  private def chunk16Explode(hashCol: String) =
    explode(expr(
      "array(" + (0 until 4).map(i =>
        s"struct($i as ci, shiftright($hashCol, ${16 * i}) & 65535 as cv)")
        .mkString(",") + ")"))

  /** The (hp_id, hp_hash, ci, cv) chunk table behind
    * [[hammingPairs64]] and [[hammingHotBuckets]] — one definition so
    * the fence audits the exact rows the pair join consumes. */
  private def chunkRows(df: DataFrame, idCol: String, hashCol: String): DataFrame = {
    val hashed = df.where(col(hashCol).isNotNull)
      .select(col(idCol).cast("long").as("hp_id"), col(hashCol).as("hp_hash"))
    hashed.select(col("hp_id"), col("hp_hash"),
      chunk16Explode("hp_hash").as("c"))
      .select(col("hp_id"), col("hp_hash"), col("c.ci"), col("c.cv"))
  }

  /** Over-occupied (ci, cv) chunk buckets that [[hammingPairs64]]
    * fences out of its join, with member counts — the side output a
    * curation run should log or persist: a hot dHash bucket IS a
    * boilerplate cluster (flat/solid thumbnails all hash to 0), and
    * its right treatment is a per-bucket representative pass. */
  def hammingHotBuckets(df: DataFrame, idCol: String, hashCol: String,
                        maxBucketSize: Int = graft.llm.Dedup.DefaultMaxBucketSize): DataFrame =
    graft.llm.Dedup.hotBuckets(chunkRows(df, idCol, hashCol), Seq("ci", "cv"), maxBucketSize)

  /** Near-dup pairs among 64-bit perceptual hashes by banded chunk
    * join — the [[graft.llm.Dedup.simHashPairs]] plan for images: any
    * pair within Hamming distance 3 shares one exact 16-bit chunk
    * (pigeonhole), so candidates come from a hash join on (chunk
    * index, chunk value), never an all-pairs scan; `bit_count` of the
    * XOR then filters exactly. Output (id1, id2, hamming), id1 < id2.
    * Scale: chunk buckets larger than `maxBucketSize` are excluded
    * by [[graft.llm.Dedup.bucketPairs]]' fence (broadcast anti-join) —
    * the same operator as every banded join in this engine — so the
    * candidate volume is bounded by buckets × cap², never corpus².
    * Degenerate hashes make this fence load-bearing at crawl scale:
    * every flat/solid image dHashes to 0, so one bucket would
    * otherwise hold a large corpus fraction and the join would emit
    * O(bucket²) candidates before the Hamming filter. Fenced members
    * lose ALL their chunks when every chunk bucket is hot (identical
    * hashes hit all 4), so a fenced boilerplate cluster emits no
    * pairs — inspect [[hammingHotBuckets]] and handle those clusters
    * with a representative pass instead. */
  def hammingPairs64(df: DataFrame, idCol: String, hashCol: String,
                     maxHamming: Int = 3,
                     maxBucketSize: Int = graft.llm.Dedup.DefaultMaxBucketSize): DataFrame = {
    graft.llm.Dedup.bucketPairs(chunkRows(df, idCol, hashCol), Seq("ci", "cv"),
      "hp_id", maxBucketSize,
      measures = Seq(bit_count(col("a.hp_hash").bitwiseXOR(col("b.hp_hash"))).as("hamming")),
      gate = Some(col("hamming") <= maxHamming))
  }

  /** Channel-0 16-bit samples of an AU payload (μ-law / A-law /
    * PCM16) — the audio sibling of [[decodeRgbGrid]]: fingerprinting
    * needs the actual samples, so this materializes them, fenced to
    * `maxFrames`. */
  def decodeAuSamples(bytes: Array[Byte],
                      maxFrames: Int = 1 << 20): Option[Array[Int]] = {
    if (bytes == null || bytes.length < 24) return None
    def u8(i: Int) = bytes(i) & 0xff
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    if (!(u8(0) == '.' && u8(1) == 's' && u8(2) == 'n' && u8(3) == 'd')) return None
    val off = be32(4); val size = be32(8); val enc = be32(12).toInt
    val ch = be32(20).toInt
    if (off < 24 || off > bytes.length || ch <= 0 || ch > 64) return None
    val bytesPer = enc match {
      case 1 | 27 => 1
      case 3 => 2
      case _ => return None
    }
    val declared = if (size == 0xffffffffL) Long.MaxValue else size
    val avail = math.max(0L, math.min(declared, bytes.length - off))
    val frames = math.min(avail / (bytesPer.toLong * ch), maxFrames.toLong).toInt
    val out = new Array[Int](frames)
    var f = 0
    while (f < frames) {
      val o = (off + f.toLong * bytesPer * ch).toInt // channel 0
      out(f) = enc match {
        case 1 => ulawToLinear16(u8(o))
        case 27 => alawToLinear16(u8(o))
        case _ => ((u8(o) << 8) | u8(o + 1)).toShort.toInt
      }
      f += 1
    }
    Some(out)
  }

  /** Audio fingerprint — the [[imageDHash]] of sound: split the
    * samples into 65 EQUAL windows (the tail remainder is dropped so
    * window energies compare directly, no cross products), integer
    * energy Σs² per window, bit k set iff window k outweighs window
    * k+1. Robust to uniform gain (energy scales uniformly) and to
    * sample-level noise; fully integer so an oracle replays it in
    * SQL; near-dup pairs go through the same [[hammingPairs64]]
    * pigeonhole join. Needs ≥ 65 frames. */
  def audioEnergyHash(samples: Array[Int]): Option[Long] = {
    if (samples == null || samples.length < 65) return None
    val win = samples.length / 65
    val e = new Array[Long](65)
    var k = 0
    while (k < 65) {
      var s = 0L
      var i = k * win
      val end = i + win
      while (i < end) { s += samples(i).toLong * samples(i); i += 1 }
      e(k) = s
      k += 1
    }
    var hash = 0L
    k = 0
    while (k < 64) {
      if (e(k) > e(k + 1)) hash |= 1L << k
      k += 1
    }
    Some(hash)
  }

  /** Per-payload audio fingerprint over a media frame (null where
    * the payload isn't decodable AU audio of ≥65 frames). Map-only;
    * pairs via [[hammingPairs64]]. */
  def describeAudioHash(media: DataFrame, maxFrames: Int = 1 << 20): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, payload) =>
        (id, decodeAuSamples(payload, maxFrames).flatMap(audioEnergyHash))
      }
      .toDF("media_id", "ahash")
  }

  /** Parsed EXIF facts a curation pipeline acts on: orientation
    * (1–8, the rotation-normalization input), camera make/model,
    * original-capture timestamp string, and the Exif-IFD pixel dims.
    * Fields the payload doesn't carry are None/0. */
  final case class ExifInfo(orientation: Int, make: String,
                            model: String, dateTime: String,
                            pixelX: Int, pixelY: Int)

  /** REAL pure-JVM EXIF parse — JPEG APP1 (`Exif\0\0` + embedded
    * TIFF stream: IFD0 tags 274/271/272/306 and the 0x8769 Exif-IFD's
    * 0x9003/0xA002/0xA003) or a bare TIFF payload's IFD0. The marker
    * scan is the same walk [[parseImageHeader]] uses; the IFD reader
    * is bounds-checked per field with both byte orders, so hostile
    * offsets degrade to missing fields, never a throw. */
  def parseExif(bytes: Array[Byte]): Option[ExifInfo] = {
    if (bytes == null || bytes.length < 8) return None
    def u8(i: Int) = bytes(i) & 0xff
    // locate the TIFF stream: bare TIFF at 0, or inside JPEG APP1
    val tiffAt: Int =
      if ((u8(0) == 'I' && u8(1) == 'I') || (u8(0) == 'M' && u8(1) == 'M')) 0
      else if (u8(0) == 0xff && u8(1) == 0xd8) {
        var i = 2
        var found = -1
        while (found < 0 && i + 4 <= bytes.length && u8(i) == 0xff) {
          val marker = u8(i + 1)
          if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd7)) i += 2
          else if (marker == 0xda || marker == 0xd9) i = bytes.length // scan data: stop
          else {
            val len = (u8(i + 2) << 8) | u8(i + 3)
            if (len < 2) i = bytes.length
            else {
              if (marker == 0xe1 && i + 10 <= bytes.length &&
                  new String(bytes, i + 4, math.min(4, bytes.length - i - 4),
                    "US-ASCII") == "Exif" &&
                  i + 10 + 8 <= bytes.length)
                found = i + 10
              i += 2 + len
            }
          }
        }
        found
      } else -1
    if (tiffAt < 0 || tiffAt + 8 > bytes.length) return None
    val le = u8(tiffAt) == 'I' && u8(tiffAt + 1) == 'I'
    val be = u8(tiffAt) == 'M' && u8(tiffAt + 1) == 'M'
    if (!le && !be) return None
    def u16(i: Long): Int =
      if (i < 0 || i + 2 > bytes.length) -1
      else if (le) u8(i.toInt) | (u8(i.toInt + 1) << 8)
      else (u8(i.toInt) << 8) | u8(i.toInt + 1)
    def u32(i: Long): Long =
      if (i < 0 || i + 4 > bytes.length) -1L
      else if (le) u8(i.toInt).toLong | (u8(i.toInt + 1).toLong << 8) |
        (u8(i.toInt + 2).toLong << 16) | (u8(i.toInt + 3).toLong << 24)
      else (u8(i.toInt).toLong << 24) | (u8(i.toInt + 1).toLong << 16) |
        (u8(i.toInt + 2).toLong << 8) | u8(i.toInt + 3).toLong
    if (u16(tiffAt + 2) != 42) return None
    var orientation = 0; var make = ""; var model = ""; var dt = ""
    var px = 0; var py = 0
    // one IFD walk; tags are addressed relative to the TIFF stream
    def readIfd(ifdRel: Long, isExifIfd: Boolean): Long = {
      val ifd = tiffAt + ifdRel
      val n = u16(ifd)
      if (ifdRel < 8 || n <= 0 || n > 512 ||
          ifd + 2 + 12L * n > bytes.length) return -1L
      var exifPtr = -1L
      var e = 0
      while (e < n) {
        val o = ifd + 2 + 12L * e
        val tag = u16(o); val typ = u16(o + 2); val cnt = u32(o + 4)
        val elemSize = typ match {
          case 1 | 2 | 6 | 7 => 1L
          case 3 | 8 => 2L
          case 4 | 9 | 11 => 4L
          case _ => 8L
        }
        val arrOff: Long =
          if (cnt >= 0 && elemSize * cnt <= 4) o + 8 else tiffAt + u32(o + 8)
        def scalar: Long =
          if (elemSize == 2) u16(arrOff).toLong
          else if (elemSize == 4) u32(arrOff)
          else if (arrOff >= 0 && arrOff < bytes.length) u8(arrOff.toInt).toLong
          else -1L
        def ascii: String =
          if (cnt > 0 && cnt <= 1024 && arrOff >= 0 && arrOff + cnt <= bytes.length)
            new String(bytes, arrOff.toInt, cnt.toInt, "US-ASCII").takeWhile(_ != 0)
          else ""
        if (!isExifIfd) tag match {
          case 274 => orientation = scalar.toInt
          case 271 => make = ascii
          case 272 => model = ascii
          case 306 => dt = ascii
          case 0x8769 => exifPtr = u32(o + 8)
          case _ => ()
        } else tag match {
          case 0x9003 => if (dt.isEmpty) dt = ascii // DateTimeOriginal
          case 0xa002 => px = scalar.toInt
          case 0xa003 => py = scalar.toInt
          case _ => ()
        }
        e += 1
      }
      exifPtr
    }
    val exifPtr = readIfd(u32(tiffAt + 4), isExifIfd = false)
    if (exifPtr >= 8) readIfd(exifPtr, isExifIfd = true)
    if (orientation == 0 && make.isEmpty && model.isEmpty && dt.isEmpty &&
        px == 0 && py == 0) None
    else Some(ExifInfo(orientation, make, model, dt, px, py))
  }

  /** Per-payload EXIF facts over a media frame (null row fields where
    * the payload carries no EXIF). Map-only, same contract as the
    * other describe* kernels. */
  /** JPEG metadata scrub — the photo-PII pass a training corpus runs
    * before shipping images: drops APP1 (EXIF incl. GPS, XMP), APP13
    * (IPTC) and COM segments from the marker stream while the
    * compressed image data passes through BYTE-IDENTICAL (from SOS
    * onward everything copies verbatim — no re-encode, no quality
    * loss). Standalone markers and unknown-but-well-formed segments
    * keep; a desynced or hostile tail copies verbatim (scrubbing must
    * never corrupt what it didn't understand). None for non-JPEG. */
  def stripJpegMetadata(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes == null || bytes.length < 4 ||
        (bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    try {
      val out = new java.io.ByteArrayOutputStream(bytes.length)
      out.write(0xff); out.write(0xd8)
      var i = 2
      while (i < bytes.length) {
        if (i + 4 > bytes.length || (bytes(i) & 0xff) != 0xff) {
          out.write(bytes, i, bytes.length - i); i = bytes.length
        } else {
          val m = bytes(i + 1) & 0xff
          if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) {
            out.write(bytes, i, 2); i += 2 // standalone markers
          } else if (m == 0xda) { // SOS: entropy data + EOI, verbatim
            out.write(bytes, i, bytes.length - i); i = bytes.length
          } else {
            val len = ((bytes(i + 2) & 0xff) << 8) | (bytes(i + 3) & 0xff)
            val segEnd = i + 2 + len
            if (len < 2 || segEnd > bytes.length) { // hostile length
              out.write(bytes, i, bytes.length - i); i = bytes.length
            } else {
              val drop = m == 0xe1 || m == 0xed || m == 0xfe
              if (!drop) out.write(bytes, i, 2 + len)
              i = segEnd
            }
          }
        }
      }
      Some(out.toByteArray)
    } catch { case _: Throwable => None }
  }

  /** DataFrame form of [[stripJpegMetadata]]: JPEG payloads come back
    * scrubbed with the removed byte count; everything else passes
    * through untouched (`scrubbed` false, removal null) — the shape a
    * corpus-wide pass wants. Map-only; payloads never shuffle. */
  def scrubJpegMetadata(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        stripJpegMetadata(p) match {
          case Some(s) => (id, s, true, Some(p.length.toLong - s.length))
          case None => (id, p, false, None: Option[Long])
        }
      }
      .toDF("media_id", "payload", "scrubbed", "n_bytes_removed")
  }

  def describeExif(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        parseExif(p) match {
          case Some(x) =>
            (id, if (x.orientation > 0) Some(x.orientation) else None,
              if (x.make.nonEmpty) Some(x.make) else None,
              if (x.model.nonEmpty) Some(x.model) else None,
              if (x.dateTime.nonEmpty) Some(x.dateTime) else None,
              if (x.pixelX > 0) Some(x.pixelX) else None,
              if (x.pixelY > 0) Some(x.pixelY) else None)
          case None =>
            (id, None: Option[Int], None: Option[String], None: Option[String],
              None: Option[String], None: Option[Int], None: Option[Int])
        }
      }
      .toDF("media_id", "orientation", "make", "model", "date_time",
        "pixel_x", "pixel_y")
  }

  /** Parsed MPEG-audio (MP3) stream facts: version (1, 2, or 25 for
    * MPEG-2.5), layer (1–3), first-frame bitrate kbps, sample rate,
    * channels, frame count from the actual frame walk, and duration
    * in integer ms (frames · samplesPerFrame · 1000 / rate). */
  final case class Mp3Info(version: Int, layer: Int, bitrateKbps: Int,
                           sampleRate: Int, channels: Int,
                           nFrames: Long, durationMs: Long)

  /** REAL pure-JVM MPEG-audio frame walk — skips a leading ID3v2 tag
    * (syncsafe size), then steps frame to frame via each header's own
    * computed length (bitrate/samplerate tables per ISO 11172-3 /
    * 13818-3), so nFrames and duration come from the BYTES, not a
    * CBR guess. Stops at the first non-sync position (trailing junk
    * tolerated once past the first frame); reserved bitrate (15) or
    * samplerate (3) indices and free-format (0) refuse the frame.
    * Hostile posture: forward-only cursor, `maxFrames` fence. */
  def parseMp3(bytes: Array[Byte], maxFrames: Int = 1 << 20): Option[Mp3Info] = {
    if (bytes == null || bytes.length < 4) return None
    def u8(i: Int) = bytes(i) & 0xff
    var i = 0L
    // ID3v2: "ID3" ver(2) flags(1) syncsafe-size(4)
    if (bytes.length >= 10 && u8(0) == 'I' && u8(1) == 'D' && u8(2) == '3') {
      val sz = ((u8(6) & 0x7f) << 21) | ((u8(7) & 0x7f) << 14) |
        ((u8(8) & 0x7f) << 7) | (u8(9) & 0x7f)
      i = 10L + sz
    }
    // kbps tables, indexed [version-group][layer][idx]; 0 = free/bad
    val v1 = Array(
      Array(0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448, 0), // L1
      Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384, 0),    // L2
      Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 0))     // L3
    val v2 = Array(
      Array(0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256, 0),    // L1
      Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0),         // L2
      Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, 0))         // L3
    val ratesV1 = Array(44100, 48000, 32000)
    var info: Option[Mp3Info] = None
    var samplesPerFrame = 0L
    var frames = 0L
    var done = false
    while (!done && frames < maxFrames && i + 4 <= bytes.length) {
      val h = i.toInt
      if (!(u8(h) == 0xff && (u8(h + 1) & 0xe0) == 0xe0)) done = true
      else {
        val verBits = (u8(h + 1) >> 3) & 3   // 0=2.5, 2=MPEG2, 3=MPEG1
        val layerBits = (u8(h + 1) >> 1) & 3 // 1=III, 2=II, 3=I
        val brIdx = (u8(h + 2) >> 4) & 15
        val srIdx = (u8(h + 2) >> 2) & 3
        val padding = (u8(h + 2) >> 1) & 1
        val chMode = (u8(h + 3) >> 6) & 3
        if (verBits == 1 || layerBits == 0 || brIdx == 0 || brIdx == 15 ||
            srIdx == 3) done = true
        else {
          val layer = 4 - layerBits            // 1, 2, 3
          val mpeg1 = verBits == 3
          val kbps = (if (mpeg1) v1 else v2)(layer - 1)(brIdx)
          val rate = verBits match {
            case 3 => ratesV1(srIdx)
            case 2 => ratesV1(srIdx) / 2
            case _ => ratesV1(srIdx) / 4
          }
          val frameLen =
            if (layer == 1) (12 * kbps * 1000 / rate + padding) * 4
            else if (layer == 3 && !mpeg1) 72 * kbps * 1000 / rate + padding
            else 144 * kbps * 1000 / rate + padding
          if (frameLen < 4 || i + frameLen > bytes.length) done = true
          else {
            if (info.isEmpty) {
              samplesPerFrame =
                if (layer == 1) 384
                else if (layer == 2) 1152
                else if (mpeg1) 1152 else 576
              info = Some(Mp3Info(
                if (verBits == 3) 1 else if (verBits == 2) 2 else 25,
                layer, kbps, rate, if (chMode == 3) 1 else 2, 0L, 0L))
            }
            frames += 1
            i += frameLen
          }
        }
      }
    }
    info.map(x => x.copy(nFrames = frames,
      durationMs = frames * samplesPerFrame * 1000 / x.sampleRate))
  }

  /** Per-payload MP3 stream facts over a media frame (null fields for
    * non-MP3 payloads). Map-only, same contract as the other
    * describe* kernels. */
  def describeMp3(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        parseMp3(p) match {
          case Some(x) =>
            (id, Some(x.version), Some(x.layer), Some(x.bitrateKbps),
              Some(x.sampleRate), Some(x.channels), Some(x.nFrames),
              Some(x.durationMs))
          case None =>
            (id, None: Option[Int], None: Option[Int], None: Option[Int],
              None: Option[Int], None: Option[Int], None: Option[Long],
              None: Option[Long])
        }
      }
      .toDF("media_id", "version", "layer", "bitrate_kbps", "sample_rate",
        "channels", "n_frames", "duration_ms")
  }

  /** One parsed MP4 track — the per-track tier below
    * [[parseAvHeader]]'s movie-level mvhd walk: trak/tkhd id +
    * presentation dims (16.16 fixed → integer part), mdia/mdhd
    * timescale+duration, hdlr handler class (`vide`/`soun`),
    * stbl/stsd first-entry codec fourcc, stbl/stsz sample count.
    * Container metadata is plain bytes — no codec library — exactly
    * like the image-header tier. */
  final case class Mp4Track(trackId: Long, handler: String,
                            codec: String, width: Int, height: Int,
                            nSamples: Long, durationMs: Long)

  /** REAL pure-JVM ISO-BMFF per-track metadata walk
    * (moov → trak → {tkhd, mdia → {mdhd, hdlr, minf → stbl →
    * {stsd, stsz}}}). Same hostile-byte posture as [[parseAvHeader]]:
    * Long cursors (u32 sizes from untrusted bytes), every box
    * advances ≥ its header size, every field read bounds-checked;
    * malformed sub-boxes degrade to empty/zero fields, a file with
    * no parseable trak returns None. Reference surface:
    * ISO/IEC 14496-12 box layouts. */
  def parseMp4Tracks(bytes: Array[Byte]): Option[Seq[Mp4Track]] = {
    if (bytes == null || bytes.length < 12) return None
    def u8(i: Int) = bytes(i) & 0xff
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def fourcc(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (fourcc(4) != "ftyp") return None
    def boxBounds(o: Long): (Long, Long) = {
      val sz = be32(o.toInt)
      if (sz == 1 && o + 16 <= bytes.length)
        (o + 16, o + math.max(16L, be64(o.toInt + 8)))
      else if (sz == 0) (o + 8, bytes.length.toLong)
      else (o + 8, o + math.max(8L, sz))
    }
    // walk the child boxes of [start, end) — bounds clamped to the
    // payload so a lying parent size can't read past the buffer
    def children(start: Long, end: Long)(f: (String, Long, Long) => Unit): Unit = {
      var i = start
      val e = math.min(end, bytes.length.toLong)
      while (i + 8 <= e) {
        val (c, b) = boxBounds(i)
        f(fourcc(i.toInt + 4), c, math.min(b, e))
        i = b
      }
    }
    var out = List.empty[Mp4Track]
    children(0, bytes.length.toLong) { (name, c, e) =>
      if (name == "moov") children(c, e) { (n2, c2, e2) =>
        if (n2 == "trak") {
          var tid = -1L; var w = 0; var h = 0
          var handler = ""; var codec = ""
          var ts = 0L; var dur = 0L; var ns = 0L
          children(c2, e2) { (n3, c3, e3) =>
            if (n3 == "tkhd" && c3 + 4 <= bytes.length) {
              val v1 = u8(c3.toInt) == 1 // v1: 64-bit ctime/mtime/duration
              val tidOff = c3 + (if (v1) 20 else 12)
              if (tidOff + 4 <= bytes.length) tid = be32(tidOff.toInt)
              val wOff = c3 + (if (v1) 88 else 76)
              if (wOff + 8 <= bytes.length) {
                w = (be32(wOff.toInt) >> 16).toInt      // 16.16 fixed
                h = (be32(wOff.toInt + 4) >> 16).toInt
              }
            } else if (n3 == "mdia") children(c3, e3) { (n4, c4, e4) =>
              if (n4 == "mdhd") {
                if (c4 + 4 <= bytes.length && u8(c4.toInt) == 1 && c4 + 32 <= bytes.length) {
                  ts = be32(c4.toInt + 20); dur = be64(c4.toInt + 24)
                } else if (c4 + 24 <= bytes.length && u8(c4.toInt) == 0) {
                  ts = be32(c4.toInt + 12); dur = be32(c4.toInt + 16)
                }
              } else if (n4 == "hdlr" && c4 + 12 <= bytes.length) {
                handler = fourcc(c4.toInt + 8)
              } else if (n4 == "minf") children(c4, e4) { (n5, c5, e5) =>
                if (n5 == "stbl") children(c5, e5) { (n6, c6, _) =>
                  if (n6 == "stsd" && c6 + 16 <= bytes.length)
                    codec = fourcc(c6.toInt + 12) // first sample entry's format
                  else if (n6 == "stsz" && c6 + 12 <= bytes.length)
                    ns = be32(c6.toInt + 8)       // sample_count
                }
              }
            }
          }
          if (tid >= 0)
            out ::= Mp4Track(tid, handler, codec, w, h, ns,
              if (ts > 0) dur * 1000 / ts else 0L)
        }
      }
    }
    if (out.isEmpty) None else Some(out.reverse)
  }

  /** Parsed AVI main header (`avih` inside `LIST hdrl`): canvas dims,
    * total frames, µs per frame, stream count. `durationMs` =
    * frames · µsPerFrame / 1000, overflow-clamped to 0 for hostile
    * u32 pairs whose product exceeds Long range. */
  final case class AviHeader(width: Int, height: Int, nFrames: Long,
                             usPerFrame: Long, streams: Int,
                             durationMs: Long)

  /** REAL pure-JVM AVI header parse — RIFF `AVI ` chunk walk to
    * `LIST hdrl` → `avih` (MainAVIHeader layout: µsPerFrame @0,
    * totalFrames @16, streams @24, width @32, height @36). Same
    * Long-cursor / word-aligned-advance posture as the WAV walk in
    * [[parseAvHeader]]. */
  def parseAviHeader(bytes: Array[Byte]): Option[AviHeader] = {
    if (bytes == null || bytes.length < 12) return None
    def u8(i: Int) = bytes(i) & 0xff
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def fourcc(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (!(fourcc(0) == "RIFF" && fourcc(8) == "AVI ")) return None
    var i = 12L
    while (i + 12 <= bytes.length) {
      val id = fourcc(i.toInt); val sz = le32(i.toInt + 4)
      if (id == "LIST" && fourcc(i.toInt + 8) == "hdrl") {
        var j = i + 12
        val end = math.min(i + 8 + sz, bytes.length.toLong)
        while (j + 8 <= end) {
          val id2 = fourcc(j.toInt); val sz2 = le32(j.toInt + 4)
          if (id2 == "avih" && j + 8 + 40 <= bytes.length) {
            val c = (j + 8).toInt
            val usf = le32(c); val frames = le32(c + 16)
            val durMs =
              if (frames > 0 && usf > Long.MaxValue / frames) 0L
              else frames * usf / 1000
            return Some(AviHeader(le32(c + 32).toInt, le32(c + 36).toInt,
              frames, usf, le32(c + 24).toInt, durMs))
          }
          j += 8L + sz2 + (sz2 & 1)
        }
        return None // hdrl without avih: malformed, not media
      }
      i += 8L + sz + (sz & 1)
    }
    None
  }

  /** REAL pure-JVM Matroska/WebM (EBML) metadata walk — EBML header
    * DocType, Segment → Info {TimestampScale, Duration} and Segment →
    * Tracks → TrackEntry {TrackNumber, TrackType, CodecID,
    * Video{PixelWidth, PixelHeight}}. Returns the DocType plus tracks
    * shaped as [[Mp4Track]] (handler `vide`/`soun` from TrackType,
    * segment duration stamped on every track; EBML headers carry no
    * per-track sample count → 0). Varint lengths and element sizes
    * come from untrusted bytes: Long cursors, every element advances
    * past its header, unknown-size (all-ones) elements extend to the
    * enclosing end — same hostile posture as [[parseMp4Tracks]].
    * Reference surface: RFC 8794 (EBML) + Matroska element IDs. */
  def parseMkvTracks(bytes: Array[Byte]): Option[(String, Seq[Mp4Track])] = {
    if (bytes == null || bytes.length < 8) return None
    def u8(i: Int) = bytes(i) & 0xff
    // EBML varint at i → (value, byteLen); marker bit kept for IDs,
    // stripped for sizes. Null on truncation or a zero lead byte.
    def vint(i: Long, keepMarker: Boolean): Option[(Long, Int)] = {
      if (i + 1 > bytes.length) return None
      val b = u8(i.toInt)
      if (b == 0) return None
      val len = java.lang.Integer.numberOfLeadingZeros(b) - 23
      if (i + len > bytes.length) return None
      var v = if (keepMarker) b.toLong else (b & (0xff >>> len)).toLong
      var k = 1
      while (k < len) { v = (v << 8) | u8((i + k).toInt); k += 1 }
      Some((v, len))
    }
    def uintAt(c: Long, e: Long): Long = {
      var v = 0L; var i = c
      val stop = math.min(e, math.min(c + 8, bytes.length.toLong))
      while (i < stop) { v = (v << 8) | u8(i.toInt); i += 1 }
      v
    }
    def floatAt(c: Long, e: Long): Double = (e - c) match {
      case 4 if e <= bytes.length =>
        java.lang.Float.intBitsToFloat(uintAt(c, e).toInt).toDouble
      case 8 if e <= bytes.length =>
        java.lang.Double.longBitsToDouble(uintAt(c, e))
      case _ => 0.0
    }
    def strAt(c: Long, e: Long): String =
      if (e <= bytes.length && e > c)
        new String(bytes, c.toInt, (e - c).toInt, "US-ASCII").takeWhile(_ != 0)
      else ""
    // walk child elements of [start, end): f(id, contentStart, contentEnd)
    def walk(start: Long, end: Long)(f: (Long, Long, Long) => Unit): Unit = {
      var i = start
      val e = math.min(end, bytes.length.toLong)
      var ok = true
      while (ok && i < e) {
        (for { id <- vint(i, keepMarker = true)
               sz <- vint(i + id._2, keepMarker = false) } yield (id, sz)) match {
          case Some(((idv, idLen), (szv, szLen))) =>
            val content = i + idLen + szLen
            val unknown = szv == (1L << (7 * szLen)) - 1
            val next = if (unknown) e else content + szv
            f(idv, content, math.min(next, e))
            i = math.max(next, content) // size 0: advance past the header
            if (unknown) ok = false     // unknown-size child owns the rest
          case None => ok = false
        }
      }
    }
    if (!(u8(0) == 0x1a && u8(1) == 0x45 && u8(2) == 0xdf && u8(3) == 0xa3))
      return None
    var docType = "matroska"
    var scaleNs = 1000000L
    var durTicks = 0.0
    var tracks = List.empty[(Long, Long, String, Int, Int)] // num, type, codec, w, h
    walk(0, bytes.length.toLong) { (id, c, e) =>
      if (id == 0x1a45dfa3L) walk(c, e) { (id2, c2, e2) =>
        if (id2 == 0x4282L) docType = strAt(c2, e2)
      } else if (id == 0x18538067L) walk(c, e) { (id2, c2, e2) =>
        if (id2 == 0x1549a966L) walk(c2, e2) { (id3, c3, e3) =>
          if (id3 == 0x2ad7b1L) scaleNs = uintAt(c3, e3)
          else if (id3 == 0x4489L) durTicks = floatAt(c3, e3)
        } else if (id2 == 0x1654ae6bL) walk(c2, e2) { (id3, c3, e3) =>
          if (id3 == 0xaeL) { // TrackEntry
            var num = -1L; var ttype = 0L; var codec = ""
            var w = 0; var h = 0
            walk(c3, e3) { (id4, c4, e4) =>
              if (id4 == 0xd7L) num = uintAt(c4, e4)
              else if (id4 == 0x83L) ttype = uintAt(c4, e4)
              else if (id4 == 0x86L) codec = strAt(c4, e4)
              else if (id4 == 0xe0L) walk(c4, e4) { (id5, c5, e5) =>
                if (id5 == 0xb0L) w = uintAt(c5, e5).toInt
                else if (id5 == 0xbaL) h = uintAt(c5, e5).toInt
              }
            }
            if (num >= 0) tracks ::= ((num, ttype, codec, w, h))
          }
        }
      }
    }
    if (tracks.isEmpty) None
    else {
      val durMs = (durTicks * scaleNs / 1e6).toLong
      Some((docType, tracks.reverse.map { case (num, t, codec, w, h) =>
        Mp4Track(num,
          if (t == 1) "vide" else if (t == 2) "soun" else "",
          codec, w, h, 0L, durMs)
      }))
    }
  }

  /** Per-payload VIDEO container metadata over a media frame — the
    * sniff-and-route entry for the video tier: MP4 reports its FIRST
    * video track (handler `vide`, falling back to the first track)
    * plus the container's track count; AVI reports the main header.
    * Null fields where the payload is neither. Map-only, payload
    * bytes never cross a shuffle — the [[inspectMedia]] contract. */
  def describeVideo(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        val mp4 = parseMp4Tracks(p)
        val mkv = if (mp4.isEmpty) parseMkvTracks(p) else None
        val avi = if (mp4.isEmpty && mkv.isEmpty) parseAviHeader(p) else None
        (mp4, mkv, avi) match {
          case (Some(tracks), _, _) =>
            val t = tracks.find(_.handler == "vide").getOrElse(tracks.head)
            (id, Some("mp4"), Some(t.width), Some(t.height),
              Some(t.nSamples), Some(t.durationMs),
              Some(t.codec), Some(tracks.size))
          case (_, Some((doc, tracks)), _) =>
            val t = tracks.find(_.handler == "vide").getOrElse(tracks.head)
            // EBML headers carry no per-track sample count → null
            (id, Some(if (doc == "webm") "webm" else "mkv"),
              Some(t.width), Some(t.height), None: Option[Long],
              Some(t.durationMs), Some(t.codec), Some(tracks.size))
          case (_, _, Some(a)) =>
            (id, Some("avi"), Some(a.width), Some(a.height),
              Some(a.nFrames), Some(a.durationMs),
              None: Option[String], Some(a.streams))
          case _ =>
            (id, None: Option[String], None: Option[Int], None: Option[Int],
              None: Option[Long], None: Option[Long],
              None: Option[String], None: Option[Int])
        }
      }
      .toDF("media_id", "format", "width", "height", "n_samples",
        "duration_ms", "codec", "n_tracks")
  }

  /** One decoded video frame: index in stream order, source codec
    * ("mjpeg" or "dib"), geometry and integer channel sums — the
    * per-frame analog of [[JpegStats]]/[[BmpStats]]. */
  final case class VideoFrame(frameIdx: Int, codec: String, width: Int,
                              height: Int, nPixels: Long,
                              sumR: Long, sumG: Long, sumB: Long)

  /** REAL pure-JVM AVI video FRAME decode — the tier that closes the
    * "video pixel decode is stubbed" boundary for the two codecs a
    * JVM can decode from spec: MJPEG (each `##dc` chunk is a complete
    * baseline JPEG — decoded by [[parseJpegPixels]]'s own T.81
    * machinery) and uncompressed BI_RGB 24bpp DIB (`##db` chunks,
    * bottom-up 4-byte-padded rows like [[parseBmpPixels]]). Walks
    * `LIST hdrl` for the FIRST `vids` stream's index and its `strf`
    * BITMAPINFOHEADER (compression fourcc + dims), then `LIST movi` —
    * including one level of `rec ` grouping — decoding that stream's
    * frame chunks in file order. A frame chunk that fails to decode is
    * skipped (cursor still advances); anything that is not an AVI with
    * a decodable-codec video stream returns None. Hostile posture
    * matches the sibling walks: Long cursors, word-aligned advance,
    * `maxFrames` fence, per-frame bounds checks, never a throw.
    *
    * Reference anchor: the reference ships no media decoders; this
    * extends SURVEY §2's multimodal tier (AVI RIFF layout from the
    * OpenDML/MSDN AVI spec, MJPEG per ISO/IEC 10918-1). */
  def parseAviFrames(bytes: Array[Byte],
                     maxFrames: Int = 1 << 12): Option[Seq[VideoFrame]] = {
    val out = Seq.newBuilder[VideoFrame]
    aviWalkFrames(bytes, maxFrames) { (idx, codec, body, dibW, dibH) =>
      if (codec == "mjpeg") parseJpegPixels(body) match {
        case Some(s) =>
          out += VideoFrame(idx, codec, s.width, s.height, s.nPixels,
            s.sumR, s.sumG, s.sumB)
          true
        case None => false
      } else {
        // bare DIB pixel array: strf dims, bottom-up padded rows
        val rowBytes = ((dibW.toLong * 3 + 3) / 4) * 4
        val h = math.abs(dibH)
        if (dibW > 0 && h > 0 && rowBytes * h <= body.length) {
          var sr = 0L; var sg = 0L; var sb = 0L
          var row = 0
          while (row < h) {
            val base = (row.toLong * rowBytes).toInt
            var x = 0
            while (x < dibW) {
              val o = base + x * 3
              sb += body(o) & 0xff; sg += body(o + 1) & 0xff
              sr += body(o + 2) & 0xff
              x += 1
            }
            row += 1
          }
          out += VideoFrame(idx, codec, dibW, h, dibW.toLong * h, sr, sg, sb)
          true
        } else false
      }
    }.map(_ => out.result())
  }

  /** Per-frame packed RGB grids of an AVI's first video stream —
    * the pixel-materializing sibling of [[parseAviFrames]] for the
    * video perceptual tier: MJPEG frames through [[jpegRgbGrid]],
    * DIB frames through the padded bottom-up row layout (negative
    * strf height = top-down, normalized here). Frames above
    * `maxPixels` are skipped, like any other undecodable frame. */
  def aviFrameGrids(bytes: Array[Byte], maxFrames: Int = 1 << 12,
                    maxPixels: Int = 1 << 20)
      : Option[Seq[(Int, Int, Int, Array[Int])]] = {
    val out = Seq.newBuilder[(Int, Int, Int, Array[Int])]
    aviWalkFrames(bytes, maxFrames) { (idx, codec, body, dibW, dibH) =>
      if (codec == "mjpeg") jpegRgbGrid(body, maxPixels) match {
        case Some((w, h, g)) => out += ((idx, w, h, g)); true
        case None => false
      } else {
        val rowBytes = ((dibW.toLong * 3 + 3) / 4) * 4
        val h = math.abs(dibH)
        val topDown = dibH < 0
        if (dibW > 0 && h > 0 && rowBytes * h <= body.length &&
            dibW.toLong * h <= maxPixels) {
          val grid = new Array[Int](dibW * h)
          var row = 0
          while (row < h) {
            val y = if (topDown) row else h - 1 - row
            val base = (row.toLong * rowBytes).toInt
            var x = 0
            while (x < dibW) {
              val o = base + x * 3
              grid(y * dibW + x) = ((body(o + 2) & 0xff) << 16) |
                ((body(o + 1) & 0xff) << 8) | (body(o) & 0xff)
              x += 1
            }
            row += 1
          }
          out += ((idx, dibW, h, grid))
          true
        } else false
      }
    }.map(_ => out.result())
  }

  /** REAL pure-JVM MP4/MOV video FRAME decode — the sample-table
    * sibling of [[parseAviFrames]], covering the dominant container:
    * the first `vide` track whose sample description is the
    * JVM-decodable MJPEG family (`jpeg`/`mjpa` QuickTime photo-JPEG —
    * every sample is a complete baseline JPEG) has its samples
    * located through the ISO/IEC 14496-12 sample tables (stsc
    * sample-to-chunk runs × stco/co64 chunk offsets × stsz sizes) and
    * decoded by [[parseJpegPixels]]'s T.81 machinery. Inter-frame
    * codecs (avc1/vp09/av01) stay metadata-only by contract — they
    * need a codec library. Undecodable samples are skipped (the walk
    * continues); not an MP4 with a decodable video track → None. */
  def parseMp4Frames(bytes: Array[Byte],
                     maxFrames: Int = 1 << 12): Option[Seq[VideoFrame]] = {
    val out = Seq.newBuilder[VideoFrame]
    mp4WalkSamples(bytes, maxFrames) { (idx, body) =>
      parseJpegPixels(body) match {
        case Some(s) =>
          out += VideoFrame(idx, "mjpeg", s.width, s.height, s.nPixels,
            s.sumR, s.sumG, s.sumB)
          true
        case None => false
      }
    }.map(_ => out.result())
  }

  /** Per-frame packed RGB grids of an MP4's first MJPEG video track —
    * [[aviFrameGrids]]'s sample-table sibling, feeding the same
    * perceptual tier (dHash, near-dup, scene cuts). */
  def mp4FrameGrids(bytes: Array[Byte], maxFrames: Int = 1 << 12,
                    maxPixels: Int = 1 << 20)
      : Option[Seq[(Int, Int, Int, Array[Int])]] = {
    val out = Seq.newBuilder[(Int, Int, Int, Array[Int])]
    mp4WalkSamples(bytes, maxFrames) { (idx, body) =>
      jpegRgbGrid(body, maxPixels) match {
        case Some((w, h, g)) => out += ((idx, w, h, g)); true
        case None => false
      }
    }.map(_ => out.result())
  }

  /** The ISO-BMFF sample walk behind [[parseMp4Frames]] /
    * [[mp4FrameGrids]]: moov → first trak with hdlr `vide` and an
    * MJPEG-family stsd entry → its stsz/stsc/stco (or co64) tables →
    * each sample's absolute file extent, handed to `decode(idx,
    * body)` in sample order (decode returns whether the frame
    * counted). Table entry counts are clamped to what the payload
    * can physically hold (a lying count cannot allocate), cursors
    * are Long, every read is bounds-checked — the hostile posture of
    * every walker in this file. None = no decodable video track. */
  private def mp4WalkSamples(bytes: Array[Byte], maxFrames: Int)
      (decode: (Int, Array[Byte]) => Boolean): Option[Unit] = {
    if (bytes == null || bytes.length < 12) return None
    def u8(i: Int) = bytes(i) & 0xff
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) |
        (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def fourcc(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (fourcc(4) != "ftyp") return None
    def boxBounds(o: Long): (Long, Long) = {
      val sz = be32(o.toInt)
      if (sz == 1 && o + 16 <= bytes.length)
        (o + 16, o + math.max(16L, be64(o.toInt + 8)))
      else if (sz == 0) (o + 8, bytes.length.toLong)
      else (o + 8, o + math.max(8L, sz))
    }
    def children(start: Long, end: Long)(f: (String, Long, Long) => Unit): Unit = {
      var i = start
      val e = math.min(end, bytes.length.toLong)
      while (i + 8 <= e) {
        val (c, b) = boxBounds(i)
        f(fourcc(i.toInt + 4), c, math.min(b, e))
        i = b
      }
    }
    // entry-count clamp: a table can't hold more entries than its
    // box (or the file) has bytes for
    def clampN(n: Long, at: Long, bytesPer: Int): Int =
      math.min(n, math.max(0L, (bytes.length - at) / bytesPer)).toInt

    // first vide trak with an MJPEG-family sample description
    var found = false
    var uniformSize = 0L
    var sizes: Array[Long] = null
    var chunkOffs: Array[Long] = null
    var stscFirst: Array[Long] = null
    var stscSpc: Array[Long] = null
    var nSamples = 0L
    children(0, bytes.length.toLong) { (name, c, e) =>
      if (name == "moov" && !found) children(c, e) { (n2, c2, e2) =>
        if (n2 == "trak" && !found) {
          var isVide = false
          var codecOk = false
          var tUniform = 0L
          var tSizes: Array[Long] = null
          var tChunks: Array[Long] = null
          var tFirst: Array[Long] = null
          var tSpc: Array[Long] = null
          var tN = 0L
          children(c2, e2) { (n3, c3, e3) =>
            if (n3 == "mdia") children(c3, e3) { (n4, c4, e4) =>
              if (n4 == "hdlr" && c4 + 12 <= bytes.length)
                isVide = fourcc(c4.toInt + 8) == "vide"
              else if (n4 == "minf") children(c4, e4) { (n5, c5, e5) =>
                if (n5 == "stbl") children(c5, e5) { (n6, c6, e6) =>
                  if (n6 == "stsd" && c6 + 16 <= bytes.length) {
                    val fc = fourcc(c6.toInt + 12).toLowerCase(java.util.Locale.ROOT)
                    codecOk = fc == "jpeg" || fc == "mjpa"
                  } else if (n6 == "stsz" && c6 + 12 <= bytes.length) {
                    tUniform = be32(c6.toInt + 4)
                    tN = be32(c6.toInt + 8)
                    if (tUniform == 0) {
                      val k = clampN(tN, c6 + 12, 4)
                      tSizes = Array.tabulate(k)(i => be32(c6.toInt + 12 + 4 * i))
                    }
                  } else if (n6 == "stsc" && c6 + 8 <= bytes.length) {
                    val k = clampN(be32(c6.toInt + 4), c6 + 8, 12)
                    tFirst = Array.tabulate(k)(i => be32(c6.toInt + 8 + 12 * i))
                    tSpc = Array.tabulate(k)(i => be32(c6.toInt + 12 + 12 * i))
                  } else if (n6 == "stco" && c6 + 8 <= bytes.length) {
                    val k = clampN(be32(c6.toInt + 4), c6 + 8, 4)
                    tChunks = Array.tabulate(k)(i => be32(c6.toInt + 8 + 4 * i))
                  } else if (n6 == "co64" && c6 + 8 <= bytes.length) {
                    val k = clampN(be32(c6.toInt + 4), c6 + 8, 8)
                    tChunks = Array.tabulate(k)(i => be64(c6.toInt + 8 + 8 * i))
                  }
                }
              }
            }
          }
          // tFirst/tSpc are always assigned together from the same
          // stsc branch, so tFirst alone carries the null check; the
          // nonEmpty is the guard that keeps a zero-entry stsc box
          // from indexing stscFirst(0) in the chunk walk below
          if (isVide && codecOk && tChunks != null && tFirst != null &&
              tFirst.nonEmpty && tN > 0 && (tUniform > 0 || tSizes != null)) {
            found = true
            uniformSize = tUniform; sizes = tSizes; chunkOffs = tChunks
            stscFirst = tFirst; stscSpc = tSpc
            // a lying sample_count can't make the walk spin: samples
            // are at least a byte each, and a non-uniform table can't
            // name more samples than it has size entries
            nSamples = math.min(tN, bytes.length.toLong)
            if (tUniform == 0) nSamples = math.min(nSamples, tSizes.length.toLong)
          }
        }
      }
    }
    if (!found) return None
    // chunk-by-chunk sample walk: per chunk c (1-based), the
    // applicable stsc run is the last entry with first_chunk <= c
    var idx = 0
    var sample = 0L
    var ci = 0
    var run = 0
    while (ci < chunkOffs.length && sample < nSamples && idx < maxFrames) {
      while (run + 1 < stscFirst.length && stscFirst(run + 1) <= ci + 1) run += 1
      val spc = if (stscFirst(run) <= ci + 1) stscSpc(run) else 0L
      var off = chunkOffs(ci)
      var s = 0L
      while (s < spc && sample < nSamples && idx < maxFrames) {
        val sz = if (uniformSize > 0) uniformSize
          else if (sample < sizes.length) sizes(sample.toInt) else 0L
        if (sz > 0 && off >= 0 && off + sz <= bytes.length) {
          val body = java.util.Arrays.copyOfRange(bytes, off.toInt, (off + sz).toInt)
          if (decode(idx, body)) idx += 1
        }
        off += sz
        sample += 1
        s += 1
      }
      ci += 1
    }
    Some(())
  }

  /** The shared AVI container walk behind [[parseAviFrames]] /
    * [[aviFrameGrids]]: hdrl scan for the first `vids` stream
    * (stream index + strf codec/dims), then the movi chunk walk —
    * one `rec ` grouping level included — handing each of that
    * stream's frame chunk bodies to `decode(idx, codec, body, dibW,
    * dibH)`; decode returns whether the frame counted (advancing
    * idx). None = not an AVI with a decodable-codec video stream. */
  private def aviWalkFrames(bytes: Array[Byte], maxFrames: Int)
      (decode: (Int, String, Array[Byte], Int, Int) => Boolean): Option[Unit] = {
    if (bytes == null || bytes.length < 12) return None
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) |
        (u8(i + 3).toLong << 24)
    def fourcc(i: Int) = new String(bytes, i, 4, "US-ASCII")
    if (!(fourcc(0) == "RIFF" && fourcc(8) == "AVI ")) return None
    // ---- hdrl walk: first vids stream index + its strf ------------
    var streamNo = -1   // index among ALL streams (chunk-id prefix)
    var codec: String = null
    var dibW = 0; var dibH = 0
    var i = 12L
    var seen = 0
    while (streamNo < 0 && i + 12 <= bytes.length) {
      val id = fourcc(i.toInt); val sz = le32(i.toInt + 4)
      if (id == "LIST" && fourcc(i.toInt + 8) == "hdrl") {
        var j = i + 12
        val end = math.min(i + 8 + sz, bytes.length.toLong)
        while (streamNo < 0 && j + 12 <= end) {
          val sz2 = le32(j.toInt + 4)
          if (fourcc(j.toInt) == "LIST" && fourcc(j.toInt + 8) == "strl") {
            // strh fccType at +12+8, strf payload follows its header
            var k = j + 12
            val lend = math.min(j + 8 + sz2, end)
            var isVids = false
            while (streamNo < 0 && k + 8 <= lend) {
              val cid = fourcc(k.toInt); val csz = le32(k.toInt + 4)
              if (cid == "strh" && k + 12 <= lend)
                isVids = fourcc(k.toInt + 8) == "vids"
              else if (cid == "strf" && isVids && k + 8 + 20 <= lend) {
                val c = (k + 8).toInt
                dibW = le32(c + 4).toInt; dibH = le32(c + 8).toInt
                val comp = le32(c + 16)
                val bpp = le16(c + 14)
                if (comp == le32Of('M', 'J', 'P', 'G')) codec = "mjpeg"
                else if (comp == 0L && bpp == 24) codec = "dib"
                streamNo = seen
              }
              k += 8L + csz + (csz & 1)
            }
            if (streamNo < 0) seen += 1 // a non-vids (or malformed) stream
          }
          j += 8L + sz2 + (sz2 & 1)
        }
        if (streamNo < 0) return None // hdrl without a vids strl
      }
      i += 8L + sz + (sz & 1)
    }
    if (streamNo < 0 || codec == null) return None
    val tag = f"$streamNo%02d"
    // ---- movi walk: decode this stream's frame chunks -------------
    var idx = 0
    def frameChunk(at: Long, sz: Long): Unit = {
      if (idx >= maxFrames || at + sz > bytes.length) return
      val body = java.util.Arrays.copyOfRange(bytes, at.toInt, (at + sz).toInt)
      if (decode(idx, codec, body, dibW, dibH)) idx += 1
    }
    def walkChunks(from: Long, to: Long, depth: Int): Unit = {
      var p = from
      while (idx < maxFrames && p + 8 <= to) {
        val cid = fourcc(p.toInt); val csz = le32(p.toInt + 4)
        if (cid == "LIST" && depth == 0 && p + 12 <= to &&
            fourcc(p.toInt + 8) == "rec ")
          walkChunks(p + 12, math.min(p + 8 + csz, to), 1)
        else if ((cid == tag + "dc" || cid == tag + "db") && csz >= 0)
          frameChunk(p + 8, csz)
        p += 8L + csz + (csz & 1)
      }
    }
    i = 12L
    while (i + 12 <= bytes.length) {
      val id = fourcc(i.toInt); val sz = le32(i.toInt + 4)
      if (id == "LIST" && fourcc(i.toInt + 8) == "movi")
        walkChunks(i + 12, math.min(i + 8 + sz, bytes.length.toLong), 0)
      i += 8L + sz + (sz & 1)
    }
    Some(())
  }

  private def le32Of(a: Char, b: Char, c: Char, d: Char): Long =
    a.toLong | (b.toLong << 8) | (c.toLong << 16) | (d.toLong << 24)

  /** Per-FRAME decoded video stats over a media frame: one row per
    * decoded frame of each payload's first video stream — AVI
    * ([[parseAviFrames]] — real MJPEG / raw-DIB decode) or MP4/MOV
    * ([[parseMp4Frames]] — MJPEG samples through the ISO-BMFF sample
    * tables), container-sniffed per payload; payloads that are
    * neither contribute no rows. flatMap kernel, payload bytes never
    * cross a shuffle; per-frame output is a handful of integers. */
  def describeVideoFrames(media: DataFrame,
                          maxFrames: Int = 1 << 12): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        parseAviFrames(p, maxFrames)
          .orElse(parseMp4Frames(p, maxFrames)) // container-sniffed
          .getOrElse(Nil).map(f =>
            (id, f.frameIdx, f.codec, f.width, f.height, f.nPixels,
              f.sumR, f.sumG, f.sumB))
      }
      .toDF("media_id", "frame_idx", "codec", "width", "height",
        "n_pixels", "sum_r", "sum_g", "sum_b")
  }

  /** Per-FRAME perceptual hashes over a video media frame —
    * [[describeImageHash]] lifted to video: one row per decoded frame
    * ([[aviFrameGrids]], or [[mp4FrameGrids]] for MP4/MOV payloads —
    * the whole perceptual tier covers both containers) carrying its
    * [[imageDHash]]; frames too small
    * to hash (w<9 or h<8) contribute a null hash but keep their row,
    * so downstream frame counts still reflect the decoded stream.
    * flatMap kernel — payload bytes never cross a shuffle; per-frame
    * output is (id, idx, 64-bit hash). */
  def describeVideoHashes(media: DataFrame, maxFrames: Int = 1 << 12,
                          maxPixels: Int = 1 << 20): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, p) =>
        aviFrameGrids(p, maxFrames, maxPixels)
          .orElse(mp4FrameGrids(p, maxFrames, maxPixels)) // container-sniffed
          .getOrElse(Nil).map {
            case (idx, w, h, g) => (id, idx, imageDHash(w, h, g))
          }
      }
      .toDF("media_id", "frame_idx", "dhash")
  }

  /** The (vid, fi, vh, ci, cv) chunk table behind
    * [[videoNearDupPairs]] and [[videoHotBuckets]]. */
  private def videoChunkRows(hashed: DataFrame): DataFrame =
    hashed.select(col("vid"), col("fi"), col("vh"),
      chunk16Explode("vh").as("c"))
      .select(col("vid"), col("fi"), col("vh"), col("c.ci"), col("c.cv"))

  /** Over-occupied (frame_idx, chunk) buckets that
    * [[videoNearDupPairs]] fences out, with member counts — black
    * lead-in frames and title cards land here at crawl scale. */
  def videoHotBuckets(frameHashes: DataFrame,
                      maxBucketSize: Int = graft.llm.Dedup.DefaultMaxBucketSize): DataFrame = {
    val hashed = frameHashes.where(col("dhash").isNotNull)
      .select(col("media_id").cast("long").as("vid"),
        col("frame_idx").cast("int").as("fi"), col("dhash").as("vh"))
    graft.llm.Dedup.hotBuckets(videoChunkRows(hashed), Seq("fi", "ci", "cv"), maxBucketSize)
  }

  /** Video near-dup pairs from per-frame perceptual hashes — the
    * video analog of [[hammingPairs64]]: candidates come from the
    * same 4×16-bit pigeonhole chunk join, but keyed by (frame_idx,
    * chunk) so only ALIGNED frames of two videos can meet (any
    * aligned frame pair within Hamming `maxHamming` ≤ 3 shares an
    * exact chunk). Per video pair, count aligned frames within the
    * Hamming gate; a pair is a near-dup when at least half the
    * shorter video's hashed frames match — integer math
    * (`2·matched ≥ min(n1,n2)`), no ratio column. Output (id1, id2,
    * matched_frames, n1, n2), id1 < id2.
    * Scale: (frame_idx, chunk) buckets larger than `maxBucketSize`
    * are excluded by [[graft.llm.Dedup.bucketPairs]]' fence — the fence
    * matters MORE here than for stills, because black lead-in frames
    * shared by every video in a crawl put the whole corpus into one
    * (frame_idx=0, chunk=0) bucket; without the fence the join is
    * corpus-quadratic on that bucket. A fenced frame can still match
    * through its video's OTHER frames (the half-frames gate is per
    * video pair, not per frame), so near-dup videos that share any
    * non-degenerate footage still surface; inspect
    * [[videoHotBuckets]] for what was fenced. Frame counts are one
    * partial-agg shuffle over ids. */
  def videoNearDupPairs(frameHashes: DataFrame, maxHamming: Int = 3,
                        maxBucketSize: Int = graft.llm.Dedup.DefaultMaxBucketSize): DataFrame = {
    val hashed = frameHashes.where(col("dhash").isNotNull)
      .select(col("media_id").cast("long").as("vid"),
        col("frame_idx").cast("int").as("fi"), col("dhash").as("vh"))
    val counts = hashed.groupBy(col("vid")).agg(count(lit(1)).as("nf"))
    // the Hamming gate runs before the dedup exchange: without it,
    // q266's neardup leg spent 33 of its 67 cpu-s shuffling candidate
    // rows just to drop them (optimization r20)
    val framePairs = graft.llm.Dedup.bucketPairs(videoChunkRows(hashed),
      Seq("fi", "ci", "cv"), "vid", maxBucketSize,
      measures = Seq(col("a.fi").as("fi"),
        bit_count(col("a.vh").bitwiseXOR(col("b.vh"))).as("hamming")),
      gate = Some(col("hamming") <= maxHamming),
      identity = Seq("id1", "id2", "fi"))
    framePairs.groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("matched_frames"))
      .join(counts.withColumnRenamed("vid", "id1").withColumnRenamed("nf", "n1"), "id1")
      .join(counts.withColumnRenamed("vid", "id2").withColumnRenamed("nf", "n2"), "id2")
      .where(col("matched_frames") * 2 >= least(col("n1"), col("n2")))
      .select(col("id1"), col("id2"), col("matched_frames"),
        col("n1"), col("n2"))
  }

  /** Scene segmentation from per-frame perceptual hashes — the
    * keyframe-selection primitive a multimodal training pipeline
    * needs (sample one frame per scene instead of every frame): a
    * frame starts a new scene when its dHash sits more than
    * `cutHamming` bits from the previous frame's. One row per scene
    * with its first frame (the keyframe) and length. Frames whose
    * hash is null (too small to hash) never cut — the XOR comparison
    * is null and the cut flag defaults 0 — and a null-hash frame also
    * shields the NEXT comparison (documented: hash gaps read as scene
    * continuation, the conservative choice for sampling).
    * Scale: ONE window shuffle keyed by video id (frames of a video
    * are a bounded sequence), then a partial-agg scene rollup. */
  def sceneCuts(frameHashes: DataFrame, cutHamming: Int = 10): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("media_id")).orderBy(col("frame_idx"))
    frameHashes
      .withColumn("prev_hash", lag(col("dhash"), 1).over(w))
      .withColumn("is_cut",
        when(bit_count(col("dhash").bitwiseXOR(col("prev_hash"))) > cutHamming,
          lit(1)).otherwise(lit(0)))
      .withColumn("scene_idx", sum(col("is_cut")).over(w))
      .groupBy(col("media_id"), col("scene_idx"))
      .agg(min(col("frame_idx")).as("start_frame"),
        count(lit(1)).as("n_frames"))
  }

  /** One entry point for a MIXED media column — the API a corpus
    * pipeline actually wants: sniff each payload's magic and route to
    * the matching REAL decoder (PNG / JPEG baseline+progressive / GIF
    * / BMP / TIFF / ICO / WAV / AU / AIFF), returning one unified row
    * of image fields (dims + channel sums) or audio fields (rate,
    * frames, integer 16-bit-unit peak/sum-of-squares — WAV included;
    * its normalized double stats remain with [[describePcm]]).
    * Unrecognized or undecodable payloads yield a
    * null `format`. Per-partition kernel, no shuffle — payload bytes
    * never leave their partition at any corpus size. */
  def inspectMedia(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    def none(id: Long): MediaInspectRow = MediaInspectRow(id,
      None, None, None, None, None, None, None, None, None, None, None)
    def img(id: Long, fmt: String, w: Int, h: Int, np: Long,
            sr: Long, sg: Long, sb: Long): MediaInspectRow =
      MediaInspectRow(id, Some(fmt), Some(w), Some(h), Some(np),
        Some(sr), Some(sg), Some(sb), None, None, None, None)
    media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        if (p == null || p.length < 12) none(id)
        else {
          def u8(i: Int) = p(i) & 0xff
          if (u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G')
            parsePngPixels(p).fold(none(id))(s =>
              img(id, "png", s.width, s.height, s.nPixels, s.sumR, s.sumG, s.sumB))
          else if (u8(0) == 0xff && u8(1) == 0xd8)
            parseJpegPixels(p).fold(none(id))(s =>
              img(id, "jpeg", s.width, s.height, s.nPixels, s.sumR, s.sumG, s.sumB))
          else if (u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F')
            parseGifPixels(p).fold(none(id))(s =>
              img(id, "gif", s.frameW, s.frameH, s.nPixels, s.sumR, s.sumG, s.sumB))
          else if (u8(0) == 'B' && u8(1) == 'M')
            parseBmpPixels(p).fold(none(id))(s =>
              img(id, "bmp", s.width, s.height, s.nPixels, s.sumR, s.sumG, s.sumB))
          else if ((u8(0) == 'I' && u8(1) == 'I') || (u8(0) == 'M' && u8(1) == 'M'))
            parseTiffPixels(p).fold(none(id))(s =>
              img(id, "tiff", s.width, s.height, s.nPixels, s.sumR, s.sumG, s.sumB))
          else if (u8(0) == 0 && u8(1) == 0 && u8(2) == 1 && u8(3) == 0)
            parseIcoPixels(p).fold(none(id))(s =>
              img(id, "ico", s.width, s.height, s.nPixels, s.sumR, s.sumG, s.sumB))
          else if (u8(0) == '.' && u8(1) == 's' && u8(2) == 'n' && u8(3) == 'd')
            parseAu(p).fold(none(id))(s =>
              MediaInspectRow(id, Some(s.format), None, None, None, None, None,
                None, Some(s.sampleRate), Some(s.nFrames), Some(s.peakRaw),
                Some(s.sumSq)))
          else if (u8(0) == 'F' && u8(1) == 'O' && u8(2) == 'R' && u8(3) == 'M')
            parseAiff(p).fold(none(id))(s =>
              MediaInspectRow(id, Some(s.format), None, None, None, None, None,
                None, Some(s.sampleRate), Some(s.nFrames), Some(s.peakRaw),
                Some(s.sumSq)))
          else if (Webp.looksLikeWebp(p))
            // both forms decode to pixels: VP8L losslessly, VP8
            // through the full keyframe decoder (non-keyframe or
            // corrupt VP8 payloads degrade to header geometry)
            Webp.parseWebp(p).fold(none(id))(s =>
              if (s.nPixels > 0)
                img(id, "webp", s.width, s.height, s.nPixels,
                  s.sumR, s.sumG, s.sumB)
              else MediaInspectRow(id, Some("webp"), Some(s.width),
                Some(s.height), None, None, None, None, None, None,
                None, None))
          else if (u8(0) == 'R' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == 'F' &&
                   p.length >= 12 && u8(8) == 'W' && u8(9) == 'A' && u8(10) == 'V')
            parseWavPcm(p).fold(none(id))(s =>
              MediaInspectRow(id, Some("wav"), None, None, None, None, None,
                None, Some(s.sampleRate), Some(s.nFrames),
                Some(s.peakRaw), Some(s.sumSq)))
          else if (Flac.looksLikeFlac(p))
            // lossless audio: full sample decode ([[Flac]]); stats in
            // the stream's native bit depth
            Flac.decodeFlac(p).fold(none(id)) { d =>
              val n = if (d.samples.isEmpty) 0L else d.samples(0).length.toLong
              var peak = 0L; var sq = 0L
              d.samples.foreach { a =>
                var i = 0
                while (i < a.length) {
                  val v = a(i).toLong
                  if (math.abs(v) > peak) peak = math.abs(v)
                  sq += v * v; i += 1
                }
              }
              MediaInspectRow(id, Some("flac"), None, None, None, None, None,
                None, Some(d.sampleRate), Some(n), Some(peak), Some(sq))
            }
          else if (Heif.looksLikeHeif(p))
            // modern still-image container: brand + primary extents
            // (AV1/HEVC pixel decode is the inter-frame-codec-class
            // non-goal; geometry is what curation filters on)
            Heif.parseHeif(p).fold(none(id)) { h =>
              MediaInspectRow(id,
                Some(if (h.brand == "heix" || h.brand == "hevc") "heic"
                  else h.brand),
                if (h.width > 0) Some(h.width.toInt) else None,
                if (h.height > 0) Some(h.height.toInt) else None,
                None, None, None, None, None, None, None, None)
            }
          else if (Ogg.looksLikeOgg(p))
            // streaming-audio container: name it so curation routes
            // the payload to [[Ogg.describeOgg]] (codec payloads are
            // the MP3-class non-goal; container facts live there)
            MediaInspectRow(id, Some("ogg"), None, None, None, None, None,
              None, None, None, None, None)
          else if (Pdf.looksLikePdf(p))
            // document carrier: name it so curation can route the
            // payload to [[Pdf.describePdf]]; stats stay None (text
            // extraction is that tier's job, not this sniffer's)
            MediaInspectRow(id, Some("pdf"), None, None, None, None, None,
              None, None, None, None, None)
          else if (u8(0) == 0xd0 && u8(1) == 0xcf && u8(2) == 0x11 &&
                   u8(3) == 0xe0) {
            // OLE2/CFB compound file: name the legacy Office carrier
            // by its directory streams so curation can route it to
            // [[Ole2.docToText]]/xlsToText/pptToText
            val names = Ole2.readCfb(p).map(_.map(_.name).toSet)
              .getOrElse(Set.empty[String])
            val fmt =
              if (names.contains("WordDocument")) "doc"
              else if (names.contains("Workbook") || names.contains("Book")) "xls"
              else if (names.contains("PowerPoint Document")) "ppt"
              else "cfb"
            MediaInspectRow(id, Some(fmt), None, None, None, None, None,
              None, None, None, None, None)
          }
          else if (u8(0) == 'P' && u8(1) == 'K' &&
                   (u8(2) == 3 || u8(2) == 5 || u8(2) == 7)) {
            // ZIP family: name the document containers so curation can
            // route them to [[OfficeText.describeOfficeText]]
            val names = Archives.parseZipEntries(p).map(_.map(_.name).toSet)
              .getOrElse(Set.empty[String])
            val fmt =
              if (names.contains("word/document.xml")) "docx"
              else if (names.exists(_.startsWith("ppt/slides/"))) "pptx"
              else if (names.contains("xl/workbook.xml")) "xlsx"
              else if (names.contains("META-INF/container.xml")) "epub"
              else if (names.contains("content.xml") &&
                names.contains("META-INF/manifest.xml")) "odt"
              else "zip"
            MediaInspectRow(id, Some(fmt), None, None, None, None, None,
              None, None, None, None, None)
          } else none(id)
        }
      }
      .toDF("media_id", "format", "width", "height", "n_pixels",
        "sum_r", "sum_g", "sum_b", "sample_rate", "n_frames",
        "peak_raw", "sum_sq")
  }

  /** Unified [[inspectMedia]] row: image fields or audio fields set,
    * the rest None; `format` None for unrecognized payloads. */
  final case class MediaInspectRow(
      mediaId: Long, format: Option[String], width: Option[Int],
      height: Option[Int], nPixels: Option[Long], sumR: Option[Long],
      sumG: Option[Long], sumB: Option[Long], sampleRate: Option[Int],
      nFrames: Option[Long], peakRaw: Option[Long], sumSq: Option[Long])

  /** STUB decode: deterministic fake image decode. A real kernel
    * would parse the codec header; the stub derives stable pseudo
    * dimensions from a payload hash so plumbing (schema, nulls,
    * pruning) is fully exercised. */
  def decodeImageStub(payload: Column): Column = {
    val h = xxhash64(payload)
    struct(
      (pmod(h, lit(1920L)).cast("int") + 1).as("width"),
      (pmod(shiftright(h, 16), lit(1080L)).cast("int") + 1).as("height"),
      lit(3).as("channels"))
  }

  /** STUB feature extraction: fixed-length pseudo-embedding from
    * payload bytes (stable per payload). Real kernel: model inference
    * per partition-batch. */
  def featureStub(payload: Column, dim: Int = 8): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => pmod(xxhash64(payload, i), lit(1000L)).cast("double") / 1000.0)

  /** STUB frame sampling for video payloads: every `everyMs`
    * millisecond up to `durationMs`, emit a (frame_ts_ms, frame_hash)
    * struct — the batch shape a real decoder would produce. */
  def frameSampleStub(payload: Column, durationMs: Column, everyMs: Int): Column =
    transform(
      sequence(lit(0L), greatest(durationMs - 1, lit(0L)), lit(everyMs.toLong)),
      t => struct(t.as("frame_ts_ms"), xxhash64(payload, t).as("frame_hash")))

  /** Decode+extract pipeline over a media frame: adds decoded metadata
    * and features, preserving partitioning (no shuffle). */
  def extractFeatures(media: DataFrame): DataFrame =
    media
      .withColumn("decoded", decodeImageStub(col("payload")))
      .withColumn("features", featureStub(col("payload")))

  /** Batch-kernel variant: the `mapInPandas`-equivalent shape for
    * kernels that amortize per-batch setup (model load, codec init).
    * `kernel` receives payload batches of ≤ `batchSize` and returns one
    * feature vector per payload, order-preserving — exactly the
    * contract a GPU/ffmpeg-backed implementation needs; the stub
    * kernel here is deterministic bytes-math. Runs per partition, no
    * shuffle, memory bounded by `batchSize` payloads. */
  def extractFeaturesBatched(media: DataFrame, batchSize: Int = 64)(
      kernel: Seq[Array[Byte]] => Seq[Array[Double]] = stubBatchKernel): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val out = media.select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // per-batch setup would happen here (model/codec init)
          val features = kernel(batch.map(_._2))
          require(features.length == batch.length,
            "kernel must return one feature row per payload")
          batch.map(_._1).zip(features)
        }
      }
    out.toDF("media_id", "features")
  }

  /** STUB batch kernel: stable per-payload pseudo-features. */
  def stubBatchKernel(payloads: Seq[Array[Byte]]): Seq[Array[Double]] =
    payloads.map { bytes =>
      var h = 0xcbf29ce484222325L
      bytes.foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
      Array.tabulate(8)(i => ((h >>> (i * 8)) & 0xff).toDouble / 255.0)
    }
}
