package graft.sources

/** VP8 (lossy WebP) intra-frame decoder: RFC 6386 keyframes to YUV
  * 4:2:0 pixels — the dominant still-WebP form on the real web.
  *
  * Implements the full keyframe path: the boolean arithmetic decoder
  * (§7), frame header incl. segmentation / quantizer deltas / token
  * partitions / coefficient-probability updates (§9), keyframe
  * intra-mode decoding with the published default trees and
  * probabilities (§11), DCT/WHT token decoding with contexts and
  * category extra bits (§13), per-segment dequantization (§14.1),
  * the exact integer inverse WHT + DCT (§14.3-14.4), every intra
  * predictor: 16x16 / chroma 8x8 DC/V/H/TM and all ten 4x4 B modes
  * (§12), and the full in-loop deblocking filter — both the normal
  * (MB-edge DoFilter6 / inner DoFilter4 with hev) and simple forms,
  * with per-segment levels, lf deltas, and sharpness (§15).
  *
  * Scale posture: a per-row flatMap byte kernel like [[Webp]]'s VP8L
  * path — bounded by the same MaxPixels fence, pixels never shuffle.
  *
  * The deterministic [[buildLossyWebp]] writer emits MB-flat images
  * whose quantized residuals are exact (DC-only blocks at a quantizer
  * step that divides the residual), so decode(write(f)) == f and the
  * DuckDB oracle can replay the formula. Independent validation:
  * WebpVp8Spec pins bitstreams produced by the system reference
  * encoder (libwebp) against that codec's own decoded planes.
  */
private[sources] object Vp8 {

  /** Decoded keyframe: Y at `w`x`h`, U/V at ceil(w/2) x ceil(h/2),
    * row-major, values 0..255 (stored as bytes). */
  final case class Frame(width: Int, height: Int,
                         y: Array[Byte], u: Array[Byte], v: Array[Byte])

  private val MaxPixels = 1L << 26

  private final class Bail extends RuntimeException(null, null, false, false)
  private def bail(): Nothing = throw new Bail

  // ---------------------------------------------------------------
  // Boolean arithmetic coder (RFC 6386 §7 reference algorithm)
  // ---------------------------------------------------------------

  private[sources] final class BoolDec(b: Array[Byte], start: Int, end: Int) {
    private var value = 0
    private var range = 255
    private var bitCount = 0
    private var pos = start
    value = (nextByte() << 8) | nextByte()

    private def nextByte(): Int =
      if (pos < end) { val v = b(pos) & 0xff; pos += 1; v } else 0

    def bit(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      val ret =
        if (value >= bigSplit) { range -= split; value -= bigSplit; 1 }
        else { range = split; 0 }
      while (range < 128) {
        value <<= 1
        range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= nextByte() }
      }
      ret
    }

    def flag(): Int = bit(128)

    /** n-bit unsigned literal, MSB first (§9 header fields). */
    def literal(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(128); i += 1 }
      v
    }

    /** magnitude-then-sign (§9). */
    def signed(n: Int): Int = {
      val v = literal(n)
      if (bit(128) == 1) -v else v
    }
  }

  private[sources] final class BoolEnc {
    private val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var range = 255
    private var bottom = 0L
    private var bitCount = 24

    private def carry(): Unit = {
      var q = out.length - 1
      while (q >= 0 && out(q) == -1) { out(q) = 0; q -= 1 }
      if (q >= 0) out(q) = (out(q) + 1).toByte
    }

    def bit(prob: Int, v: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (v != 0) { bottom += split; range -= split }
      else range = split
      while (range < 128) {
        range <<= 1
        if ((bottom & (1L << 31)) != 0) carry()
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          out += ((bottom >>> 24) & 0xff).toByte
          bottom &= (1L << 24) - 1
          bitCount = 8
        }
      }
    }

    def literal(n: Int, v: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit(128, (v >> i) & 1); i -= 1 }
    }

    def signed(n: Int, v: Int): Unit = {
      literal(n, math.abs(v))
      bit(128, if (v < 0) 1 else 0)
    }

    def flush(): Array[Byte] = {
      var c = bitCount
      var v = bottom
      if ((v & (1L << (32 - c))) != 0) carry()
      v = (v << (c & 7)) & 0xffffffffL
      c >>= 3
      while (c > 0) { v = (v << 8) & 0xffffffffL; c -= 1 }
      c = 4
      while (c > 0) {
        out += ((v >>> 24) & 0xff).toByte
        v = (v << 8) & 0xffffffffL
        c -= 1
      }
      out.toArray
    }
  }

  // ---------------------------------------------------------------
  // Fixed decode tables (RFC 6386 §13.2-13.3)
  // ---------------------------------------------------------------

  // coefficient band per position (17th entry: lookahead at n+1 == 16)
  private val kBands = Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7, 0)
  private val kZigzag = Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
  // extra-bit probabilities for DCT categories 3..6 (§13.2)
  private val kCat: Array[Array[Int]] = Array(
    Array(173, 148, 140),
    Array(176, 155, 140, 135),
    Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))

  // intra modes: 0 DC, 1 V, 2 H, 3 TM, 4 B_PRED (luma 16x16 coding)
  private val BPred = 4
  // 4x4 modes: 0 B_DC, 1 B_TM, 2 B_VE, 3 B_HE, 4 B_LD, 5 B_RD,
  //            6 B_VR, 7 B_VL, 8 B_HD, 9 B_HU
  private def impliedBMode(ymode: Int): Int = ymode match {
    case 0 => 0 // DC -> B_DC
    case 1 => 2 // V  -> B_VE
    case 2 => 3 // H  -> B_HE
    case _ => 1 // TM -> B_TM
  }

  private def le24(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16)

  // ---------------------------------------------------------------
  // Keyframe decode
  // ---------------------------------------------------------------

  /** Decodes one VP8 keyframe payload at [off, end). Throws (caught
    * by callers into None) on anything malformed, non-key, or over
    * the pixel fence. */
  def decodeFrame(bytes: Array[Byte], off: Int, end: Int): Frame = {
    if (off + 10 > end) bail()
    val tag = le24(bytes, off)
    if ((tag & 1) != 0) bail() // keyframes only
    val part0Len = tag >>> 5
    if ((bytes(off + 3) & 0xff) != 0x9d || (bytes(off + 4) & 0xff) != 0x01 ||
        (bytes(off + 5) & 0xff) != 0x2a) bail()
    val w = ((bytes(off + 6) & 0xff) | ((bytes(off + 7) & 0xff) << 8)) & 0x3fff
    val h = ((bytes(off + 8) & 0xff) | ((bytes(off + 9) & 0xff) << 8)) & 0x3fff
    if (w == 0 || h == 0 || w.toLong * h > MaxPixels) bail()
    val part0Start = off + 10
    if (part0Len <= 0 || part0Start + part0Len > end) bail()
    val part0End = part0Start + part0Len
    val bd = new BoolDec(bytes, part0Start, part0End)

    bd.flag() // color space (0 for compliant streams)
    bd.flag() // clamping type

    // segmentation (§9.3)
    var segEnabled = false
    var segUpdateMap = false
    var segAbs = false
    val segTreeProbs = Array(255, 255, 255)
    val segQ = new Array[Int](4)
    val segLfD = new Array[Int](4)
    if (bd.flag() == 1) {
      segEnabled = true
      segUpdateMap = bd.flag() == 1
      val updateData = bd.flag() == 1
      if (updateData) {
        segAbs = bd.flag() == 1
        var i = 0
        while (i < 4) { if (bd.flag() == 1) segQ(i) = bd.signed(7); i += 1 }
        i = 0
        while (i < 4) { if (bd.flag() == 1) segLfD(i) = bd.signed(6); i += 1 }
      }
      if (segUpdateMap) {
        var i = 0
        while (i < 3) {
          if (bd.flag() == 1) segTreeProbs(i) = bd.literal(8)
          i += 1
        }
      }
    }

    // loop filter header (§9.4)
    val filterSimple = bd.flag() == 1
    val filterLevel = bd.literal(6)
    val sharpness = bd.literal(3)
    var lfDeltaEnabled = false
    var refLfDelta0 = 0 // intra-frame ref delta (the only one on keyframes)
    var modeLfDelta0 = 0 // the B_PRED mode delta (the only keyframe mode)
    if (bd.flag() == 1) {
      lfDeltaEnabled = true
      if (bd.flag() == 1) { // update
        var i = 0
        while (i < 4) {
          if (bd.flag() == 1) { val v = bd.signed(6); if (i == 0) refLfDelta0 = v }
          i += 1
        }
        i = 0
        while (i < 4) {
          if (bd.flag() == 1) { val v = bd.signed(6); if (i == 0) modeLfDelta0 = v }
          i += 1
        }
      }
    }

    // token partitions (§9.5)
    val nParts = 1 << bd.literal(2)
    val sizesAt = part0End
    val tokenStart = sizesAt + 3 * (nParts - 1)
    if (tokenStart > end) bail()
    val partOff = new Array[Int](nParts)
    val partEnd = new Array[Int](nParts)
    var cur = tokenStart
    var pi = 0
    while (pi < nParts - 1) {
      val sz = le24(bytes, sizesAt + 3 * pi)
      partOff(pi) = cur
      partEnd(pi) = cur + sz
      cur += sz
      if (sz < 0 || cur > end) bail()
      pi += 1
    }
    partOff(nParts - 1) = cur
    partEnd(nParts - 1) = end
    val parts = Array.tabulate(nParts)(i =>
      new BoolDec(bytes, partOff(i), partEnd(i)))

    // quantizers (§9.6, §14.1)
    val yacQi = bd.literal(7)
    def qDelta(): Int = if (bd.flag() == 1) bd.signed(4) else 0
    val ydcD = qDelta(); val y2dcD = qDelta(); val y2acD = qDelta()
    val uvdcD = qDelta(); val uvacD = qDelta()
    def clip127(v: Int): Int = if (v < 0) 0 else if (v > 127) 127 else v
    val dcQ = Vp8Tables.DcQLookup
    val acQ = Vp8Tables.AcQLookup
    val qY1dc = new Array[Int](4); val qY1ac = new Array[Int](4)
    val qY2dc = new Array[Int](4); val qY2ac = new Array[Int](4)
    val qUVdc = new Array[Int](4); val qUVac = new Array[Int](4)
    var seg = 0
    while (seg < 4) {
      val base = if (segEnabled) {
        if (segAbs) segQ(seg) else yacQi + segQ(seg)
      } else yacQi
      val q = clip127(base)
      qY1dc(seg) = dcQ(clip127(q + ydcD))
      qY1ac(seg) = acQ(q)
      qY2dc(seg) = dcQ(clip127(q + y2dcD)) * 2
      qY2ac(seg) = { val v = acQ(clip127(q + y2acD)) * 155 / 100
        if (v < 8) 8 else v }
      // the uv dc index is clamped at 117 (value cap 132, §14.1)
      qUVdc(seg) = dcQ(math.min(clip127(q + uvdcD), 117))
      qUVac(seg) = acQ(clip127(q + uvacD))
      seg += 1
    }

    bd.flag() // refresh entropy probs (keyframe: ignored)

    // coefficient probability updates (§13.4)
    val probs = new Array[Int](1056)
    var i = 0
    while (i < 1056) {
      probs(i) =
        if (bd.bit(Vp8Tables.CoeffUpdateProbs(i) & 0xff) == 1) bd.literal(8)
        else Vp8Tables.CoeffProbs(i) & 0xff
      i += 1
    }

    val useSkip = bd.flag() == 1
    val skipProb = if (useSkip) bd.literal(8) else 0

    // ---- macroblock mode pass (all in the first partition, §11) ----
    val mbW = (w + 15) >> 4
    val mbH = (h + 15) >> 4
    val nMb = mbW * mbH
    val segIds = new Array[Byte](nMb)
    val skips = new Array[Boolean](nMb)
    val ymodes = new Array[Byte](nMb)
    val uvmodes = new Array[Byte](nMb)
    val bmodes = new Array[Byte](nMb * 16)
    val aboveBm = new Array[Byte](mbW * 4)
    val leftBm = new Array[Byte](4)
    val bmP = Vp8Tables.KfBModeProbs

    def readBMode(above: Int, left: Int): Int = {
      val o = (above * 10 + left) * 9
      def p(k: Int) = bmP(o + k) & 0xff
      if (bd.bit(p(0)) == 0) 0
      else if (bd.bit(p(1)) == 0) 1
      else if (bd.bit(p(2)) == 0) 2
      else if (bd.bit(p(3)) == 0) {
        if (bd.bit(p(4)) == 0) 3
        else if (bd.bit(p(5)) == 0) 5
        else 6
      } else {
        if (bd.bit(p(6)) == 0) 4
        else if (bd.bit(p(7)) == 0) 7
        else if (bd.bit(p(8)) == 0) 8
        else 9
      }
    }

    var my = 0
    while (my < mbH) {
      java.util.Arrays.fill(leftBm, 0.toByte)
      var mx = 0
      while (mx < mbW) {
        val idx = my * mbW + mx
        if (segEnabled && segUpdateMap) {
          val id = if (bd.bit(segTreeProbs(0)) == 0) bd.bit(segTreeProbs(1))
                   else 2 + bd.bit(segTreeProbs(2))
          segIds(idx) = id.toByte
        }
        if (useSkip) skips(idx) = bd.bit(skipProb) == 1
        // keyframe ymode tree, probs {145, 156, 163, 128} (§11.2)
        val ym =
          if (bd.bit(145) == 0) BPred
          else if (bd.bit(156) == 0) { if (bd.bit(163) == 0) 0 else 1 }
          else { if (bd.bit(128) == 0) 2 else 3 }
        ymodes(idx) = ym.toByte
        if (ym == BPred) {
          var sb = 0
          while (sb < 16) {
            val bx = sb & 3
            val by = sb >> 2
            val above =
              if (by == 0) aboveBm(mx * 4 + bx) else bmodes(idx * 16 + sb - 4)
            val left =
              if (bx == 0) leftBm(by) else bmodes(idx * 16 + sb - 1)
            bmodes(idx * 16 + sb) = readBMode(above, left).toByte
            sb += 1
          }
          var k = 0
          while (k < 4) {
            aboveBm(mx * 4 + k) = bmodes(idx * 16 + 12 + k)
            leftBm(k) = bmodes(idx * 16 + 4 * k + 3)
            k += 1
          }
        } else {
          val im = impliedBMode(ym).toByte
          var k = 0
          while (k < 4) { aboveBm(mx * 4 + k) = im; leftBm(k) = im; k += 1 }
        }
        // uv mode tree, probs {142, 114, 183} (§11.2)
        uvmodes(idx) = (
          if (bd.bit(142) == 0) 0
          else if (bd.bit(114) == 0) 1
          else if (bd.bit(183) == 0) 2
          else 3).toByte
        mx += 1
      }
      my += 1
    }

    // ---- residual decode + reconstruction, raster (§13, §12, §14) --
    val ps = mbW * 16 // padded luma stride
    val cs = mbW * 8 // padded chroma stride
    val yP = new Array[Byte](ps * mbH * 16)
    val uP = new Array[Byte](cs * mbH * 8)
    val vP = new Array[Byte](cs * mbH * 8)

    val aboveNzY = new Array[Boolean](mbW * 4)
    val aboveNzU = new Array[Boolean](mbW * 2)
    val aboveNzV = new Array[Boolean](mbW * 2)
    val aboveNzY2 = new Array[Boolean](mbW)
    val leftNzY = new Array[Boolean](4)
    val leftNzU = new Array[Boolean](2)
    val leftNzV = new Array[Boolean](2)
    var leftNzY2 = false

    val coeffs = new Array[Int](25 * 16) // 24 blocks + Y2 at 24*16
    val tmp = new Array[Int](16)
    val tr4 = new Array[Int](4) // saved above-right for B_PRED
    // per-MB: any coded coefficient (gates inner-edge filtering, §15.2)
    val hasCoeffs = new Array[Boolean](nMb)

    def clamp8(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v

    /** token decode of one block (§13.3); returns the EOB position. */
    def decodeCoeffs(td: BoolDec, tpe: Int, ctx0: Int, first: Int,
                     dqDc: Int, dqAc: Int, outOff: Int): Int = {
      var n = first
      var p = tpe * 264 + kBands(n) * 33 + ctx0 * 11
      while (n < 16) {
        if (td.bit(probs(p)) == 0) return n // EOB
        while (td.bit(probs(p + 1)) == 0) { // zero token (no EOB after)
          n += 1
          if (n == 16) return 16
          p = tpe * 264 + kBands(n) * 33
        }
        val nextBase = tpe * 264 + kBands(n + 1) * 33
        var v = 0
        if (td.bit(probs(p + 2)) == 0) { v = 1; p = nextBase + 11 }
        else {
          if (td.bit(probs(p + 3)) == 0) {
            v = if (td.bit(probs(p + 4)) == 0) 2
                else 3 + td.bit(probs(p + 5))
          } else {
            if (td.bit(probs(p + 6)) == 0) {
              v = if (td.bit(probs(p + 7)) == 0) 5 + td.bit(159)
                  else 7 + 2 * td.bit(165) + td.bit(145)
            } else {
              val b1 = td.bit(probs(p + 8))
              val b0 = td.bit(probs(p + 9 + b1))
              val cat = 2 * b1 + b0
              val tab = kCat(cat)
              v = 0
              var k = 0
              while (k < tab.length) { v += v + td.bit(tab(k)); k += 1 }
              v += 3 + (8 << cat)
            }
          }
          p = nextBase + 22
        }
        val mag = if (td.bit(128) == 1) -v else v
        coeffs(outOff + kZigzag(n)) = mag * (if (n > 0) dqAc else dqDc)
        n += 1
      }
      16
    }

    // exact inverse WHT (§14.3): Y2 block -> the 16 luma DCs
    def iwht(in: Int): Unit = {
      var c = 0
      while (c < 4) {
        val a0 = coeffs(in + c) + coeffs(in + 12 + c)
        val a1 = coeffs(in + 4 + c) + coeffs(in + 8 + c)
        val a2 = coeffs(in + 4 + c) - coeffs(in + 8 + c)
        val a3 = coeffs(in + c) - coeffs(in + 12 + c)
        tmp(c) = a0 + a1
        tmp(8 + c) = a0 - a1
        tmp(4 + c) = a3 + a2
        tmp(12 + c) = a3 - a2
        c += 1
      }
      var r = 0
      while (r < 4) {
        val dc = tmp(4 * r) + 3
        val a0 = dc + tmp(4 * r + 3)
        val a1 = tmp(4 * r + 1) + tmp(4 * r + 2)
        val a2 = tmp(4 * r + 1) - tmp(4 * r + 2)
        val a3 = dc - tmp(4 * r + 3)
        coeffs((4 * r) * 16) = (a0 + a1) >> 3
        coeffs((4 * r + 1) * 16) = (a3 + a2) >> 3
        coeffs((4 * r + 2) * 16) = (a0 - a1) >> 3
        coeffs((4 * r + 3) * 16) = (a3 - a2) >> 3
        r += 1
      }
    }

    // exact inverse DCT (§14.4) added onto the prediction in `plane`
    def mul1(a: Int): Int = ((a * 20091) >> 16) + a
    def mul2(a: Int): Int = (a * 35468) >> 16
    def idctAdd(in: Int, plane: Array[Byte], st: Int, dst: Int): Unit = {
      var c = 0
      while (c < 4) {
        val a = coeffs(in + c) + coeffs(in + 8 + c)
        val b = coeffs(in + c) - coeffs(in + 8 + c)
        val cc = mul2(coeffs(in + 4 + c)) - mul1(coeffs(in + 12 + c))
        val d = mul1(coeffs(in + 4 + c)) + mul2(coeffs(in + 12 + c))
        tmp(c) = a + d
        tmp(4 + c) = b + cc
        tmp(8 + c) = b - cc
        tmp(12 + c) = a - d
        c += 1
      }
      var r = 0
      while (r < 4) {
        val dc = tmp(4 * r) + 4
        val a = dc + tmp(4 * r + 2)
        val b = dc - tmp(4 * r + 2)
        val cc = mul2(tmp(4 * r + 1)) - mul1(tmp(4 * r + 3))
        val d = mul1(tmp(4 * r + 1)) + mul2(tmp(4 * r + 3))
        val o = dst + r * st
        plane(o) = clamp8((plane(o) & 0xff) + ((a + d) >> 3)).toByte
        plane(o + 1) = clamp8((plane(o + 1) & 0xff) + ((b + cc) >> 3)).toByte
        plane(o + 2) = clamp8((plane(o + 2) & 0xff) + ((b - cc) >> 3)).toByte
        plane(o + 3) = clamp8((plane(o + 3) & 0xff) + ((a - d) >> 3)).toByte
        r += 1
      }
    }

    // ---- intra predictors (§12) -----------------------------------
    // virtual borders: above-out-of-frame = 127, left-out-of-frame
    // = 129; the corner follows the row when above is virtual.
    def predBlock(plane: Array[Byte], st: Int, o: Int, size: Int,
                  mode: Int, mbx: Int, mby: Int): Unit = {
      val hasA = mby > 0
      val hasL = mbx > 0
      def a(c: Int): Int = if (hasA) plane(o - st + c) & 0xff else 127
      def l(r: Int): Int = if (hasL) plane(o - 1 + r * st) & 0xff else 129
      val tl = if (!hasA) 127 else if (!hasL) 129 else plane(o - st - 1) & 0xff
      mode match {
        case 0 => // DC
          var sum = 0
          var cnt = 0
          if (hasA) { var c = 0; while (c < size) { sum += a(c); c += 1 }; cnt += size }
          if (hasL) { var r = 0; while (r < size) { sum += l(r); r += 1 }; cnt += size }
          val dc = if (cnt == 0) 128 else (sum + cnt / 2) / cnt
          var r = 0
          while (r < size) {
            java.util.Arrays.fill(plane, o + r * st, o + r * st + size, dc.toByte)
            r += 1
          }
        case 1 => // V
          var r = 0
          while (r < size) {
            var c = 0
            while (c < size) { plane(o + r * st + c) = a(c).toByte; c += 1 }
            r += 1
          }
        case 2 => // H
          var r = 0
          while (r < size) {
            java.util.Arrays.fill(plane, o + r * st, o + r * st + size, l(r).toByte)
            r += 1
          }
        case _ => // TM
          var r = 0
          while (r < size) {
            val lr = l(r)
            var c = 0
            while (c < size) {
              plane(o + r * st + c) = clamp8(lr + a(c) - tl).toByte
              c += 1
            }
            r += 1
          }
      }
    }

    def avg2(x: Int, y: Int): Int = (x + y + 1) >> 1
    def avg3(x: Int, y: Int, z: Int): Int = (x + 2 * y + z + 2) >> 2

    /** one 4x4 B_PRED predictor at plane offset o; px/py are the
      * absolute pixel coords (for border rules); trIdx supplies the
      * above-right 4 pixels (the MB-saved quirk for bx == 3). */
    def pred4(o: Int, mode: Int, px: Int, py: Int, bx: Int): Unit = {
      val hasA = py > 0
      val hasL = px > 0
      val A = new Array[Int](8)
      var k = 0
      while (k < 4) {
        A(k) = if (hasA) yP(o - ps + k) & 0xff else 127
        k += 1
      }
      if (bx == 3) { // right MB edge: the saved above-right row
        A(4) = tr4(0); A(5) = tr4(1); A(6) = tr4(2); A(7) = tr4(3)
      } else {
        k = 4
        while (k < 8) {
          A(k) = if (hasA) yP(o - ps + k) & 0xff else 127
          k += 1
        }
      }
      val L = new Array[Int](4)
      k = 0
      while (k < 4) {
        L(k) = if (hasL) yP(o - 1 + k * ps) & 0xff else 129
        k += 1
      }
      val X = if (!hasA) 127 else if (!hasL) 129 else yP(o - ps - 1) & 0xff
      @inline def set(c: Int, r: Int, v: Int): Unit =
        yP(o + r * ps + c) = v.toByte
      mode match {
        case 0 => // B_DC: always /8 with virtual borders
          val dc = (A(0) + A(1) + A(2) + A(3) + L(0) + L(1) + L(2) + L(3) + 4) >> 3
          var r = 0
          while (r < 4) {
            java.util.Arrays.fill(yP, o + r * ps, o + r * ps + 4, dc.toByte)
            r += 1
          }
        case 1 => // B_TM
          var r = 0
          while (r < 4) {
            var c = 0
            while (c < 4) { set(c, r, clamp8(L(r) + A(c) - X)); c += 1 }
            r += 1
          }
        case 2 => // B_VE
          val v0 = avg3(X, A(0), A(1)); val v1 = avg3(A(0), A(1), A(2))
          val v2 = avg3(A(1), A(2), A(3)); val v3 = avg3(A(2), A(3), A(4))
          var r = 0
          while (r < 4) { set(0, r, v0); set(1, r, v1); set(2, r, v2); set(3, r, v3); r += 1 }
        case 3 => // B_HE
          val h0 = avg3(X, L(0), L(1)); val h1 = avg3(L(0), L(1), L(2))
          val h2 = avg3(L(1), L(2), L(3)); val h3 = avg3(L(2), L(3), L(3))
          var r = 0
          val hs = Array(h0, h1, h2, h3)
          while (r < 4) {
            java.util.Arrays.fill(yP, o + r * ps, o + r * ps + 4, hs(r).toByte)
            r += 1
          }
        case 4 => // B_LD (down-left)
          set(0, 0, avg3(A(0), A(1), A(2)))
          val t1 = avg3(A(1), A(2), A(3)); set(1, 0, t1); set(0, 1, t1)
          val t2 = avg3(A(2), A(3), A(4)); set(2, 0, t2); set(1, 1, t2); set(0, 2, t2)
          val t3 = avg3(A(3), A(4), A(5)); set(3, 0, t3); set(2, 1, t3); set(1, 2, t3); set(0, 3, t3)
          val t4 = avg3(A(4), A(5), A(6)); set(3, 1, t4); set(2, 2, t4); set(1, 3, t4)
          val t5 = avg3(A(5), A(6), A(7)); set(3, 2, t5); set(2, 3, t5)
          set(3, 3, avg3(A(6), A(7), A(7)))
        case 5 => // B_RD (down-right)
          set(0, 3, avg3(L(1), L(2), L(3)))
          val t1 = avg3(L(0), L(1), L(2)); set(0, 2, t1); set(1, 3, t1)
          val t2 = avg3(X, L(0), L(1)); set(0, 1, t2); set(1, 2, t2); set(2, 3, t2)
          val t3 = avg3(A(0), X, L(0)); set(0, 0, t3); set(1, 1, t3); set(2, 2, t3); set(3, 3, t3)
          val t4 = avg3(A(1), A(0), X); set(1, 0, t4); set(2, 1, t4); set(3, 2, t4)
          val t5 = avg3(A(2), A(1), A(0)); set(2, 0, t5); set(3, 1, t5)
          set(3, 0, avg3(A(3), A(2), A(1)))
        case 6 => // B_VR (vertical-right)
          set(0, 3, avg3(L(2), L(1), L(0)))
          set(0, 2, avg3(L(1), L(0), X))
          val t1 = avg3(L(0), X, A(0)); set(0, 1, t1); set(1, 3, t1)
          val t2 = avg2(X, A(0)); set(0, 0, t2); set(1, 2, t2)
          val t3 = avg3(X, A(0), A(1)); set(1, 1, t3); set(2, 3, t3)
          val t4 = avg2(A(0), A(1)); set(1, 0, t4); set(2, 2, t4)
          val t5 = avg3(A(0), A(1), A(2)); set(2, 1, t5); set(3, 3, t5)
          val t6 = avg2(A(1), A(2)); set(2, 0, t6); set(3, 2, t6)
          set(3, 1, avg3(A(1), A(2), A(3)))
          set(3, 0, avg2(A(2), A(3)))
        case 7 => // B_VL (vertical-left)
          set(0, 0, avg2(A(0), A(1)))
          set(0, 1, avg3(A(0), A(1), A(2)))
          val t1 = avg2(A(1), A(2)); set(1, 0, t1); set(0, 2, t1)
          val t2 = avg3(A(1), A(2), A(3)); set(1, 1, t2); set(0, 3, t2)
          val t3 = avg2(A(2), A(3)); set(2, 0, t3); set(1, 2, t3)
          val t4 = avg3(A(2), A(3), A(4)); set(2, 1, t4); set(1, 3, t4)
          val t5 = avg2(A(3), A(4)); set(3, 0, t5); set(2, 2, t5)
          val t6 = avg3(A(3), A(4), A(5)); set(3, 1, t6); set(2, 3, t6)
          set(3, 2, avg3(A(4), A(5), A(6)))
          set(3, 3, avg3(A(5), A(6), A(7)))
        case 8 => // B_HD (horizontal-down)
          val t1 = avg2(L(0), X); set(0, 0, t1); set(2, 1, t1)
          val t2 = avg2(L(1), L(0)); set(0, 1, t2); set(2, 2, t2)
          val t3 = avg2(L(2), L(1)); set(0, 2, t3); set(2, 3, t3)
          set(0, 3, avg2(L(3), L(2)))
          set(3, 0, avg3(A(0), A(1), A(2)))
          set(2, 0, avg3(X, A(0), A(1)))
          val t4 = avg3(L(0), X, A(0)); set(1, 0, t4); set(3, 1, t4)
          val t5 = avg3(X, L(0), L(1)); set(1, 1, t5); set(3, 2, t5)
          val t6 = avg3(L(0), L(1), L(2)); set(1, 2, t6); set(3, 3, t6)
          set(1, 3, avg3(L(1), L(2), L(3)))
        case _ => // B_HU (horizontal-up)
          set(0, 0, avg2(L(0), L(1)))
          set(1, 0, avg3(L(0), L(1), L(2)))
          val t1 = avg2(L(1), L(2)); set(2, 0, t1); set(0, 1, t1)
          val t2 = avg3(L(1), L(2), L(3)); set(3, 0, t2); set(1, 1, t2)
          val t3 = avg2(L(2), L(3)); set(2, 1, t3); set(0, 2, t3)
          val t4 = avg3(L(2), L(3), L(3)); set(3, 1, t4); set(1, 2, t4)
          set(2, 2, L(3)); set(3, 2, L(3))
          set(0, 3, L(3)); set(1, 3, L(3)); set(2, 3, L(3)); set(3, 3, L(3))
      }
    }

    my = 0
    while (my < mbH) {
      java.util.Arrays.fill(leftNzY, false)
      java.util.Arrays.fill(leftNzU, false)
      java.util.Arrays.fill(leftNzV, false)
      leftNzY2 = false
      val td = parts(my % nParts)
      var mx = 0
      while (mx < mbW) {
        val idx = my * mbW + mx
        val seg = segIds(idx) & 0xff
        val hasY2 = (ymodes(idx) & 0xff) != BPred
        java.util.Arrays.fill(coeffs, 0)
        if (skips(idx)) {
          var k = 0
          while (k < 4) { aboveNzY(mx * 4 + k) = false; leftNzY(k) = false; k += 1 }
          k = 0
          while (k < 2) {
            aboveNzU(mx * 2 + k) = false; leftNzU(k) = false
            aboveNzV(mx * 2 + k) = false; leftNzV(k) = false
            k += 1
          }
          if (hasY2) { aboveNzY2(mx) = false; leftNzY2 = false }
        } else {
          if (hasY2) {
            val ctx = (if (aboveNzY2(mx)) 1 else 0) + (if (leftNzY2) 1 else 0)
            val n = decodeCoeffs(td, 1, ctx, 0, qY2dc(seg), qY2ac(seg), 24 * 16)
            val nz = n > 0
            aboveNzY2(mx) = nz
            leftNzY2 = nz
            if (nz) hasCoeffs(idx) = true
          }
          val first = if (hasY2) 1 else 0
          val tpe = if (hasY2) 0 else 3
          var by = 0
          while (by < 4) {
            var bx = 0
            while (bx < 4) {
              val b = by * 4 + bx
              val ctx = (if (aboveNzY(mx * 4 + bx)) 1 else 0) +
                (if (leftNzY(by)) 1 else 0)
              val n = decodeCoeffs(td, tpe, ctx, first,
                qY1dc(seg), qY1ac(seg), b * 16)
              val nz = n > first
              aboveNzY(mx * 4 + bx) = nz
              leftNzY(by) = nz
              if (nz) hasCoeffs(idx) = true
              bx += 1
            }
            by += 1
          }
          var pl = 0
          while (pl < 2) {
            val aboveNzC = if (pl == 0) aboveNzU else aboveNzV
            val leftNzC = if (pl == 0) leftNzU else leftNzV
            var cy = 0
            while (cy < 2) {
              var cx = 0
              while (cx < 2) {
                val b = 16 + pl * 4 + cy * 2 + cx
                val ctx = (if (aboveNzC(mx * 2 + cx)) 1 else 0) +
                  (if (leftNzC(cy)) 1 else 0)
                val n = decodeCoeffs(td, 2, ctx, 0,
                  qUVdc(seg), qUVac(seg), b * 16)
                val nz = n > 0
                aboveNzC(mx * 2 + cx) = nz
                leftNzC(cy) = nz
                if (nz) hasCoeffs(idx) = true
                cx += 1
              }
              cy += 1
            }
            pl += 1
          }
          if (hasY2) iwht(24 * 16)
        }

        // reconstruction
        val yOff = my * 16 * ps + mx * 16
        if (hasY2) {
          predBlock(yP, ps, yOff, 16, ymodes(idx) & 0xff, mx, my)
          var b = 0
          while (b < 16) {
            idctAdd(b * 16, yP, ps, yOff + (b >> 2) * 4 * ps + (b & 3) * 4)
            b += 1
          }
        } else {
          // saved above-right row for the bx == 3 subblocks
          if (my == 0) { tr4(0) = 127; tr4(1) = 127; tr4(2) = 127; tr4(3) = 127 }
          else if (mx == mbW - 1) {
            val v = yP(yOff - ps + 15) & 0xff
            tr4(0) = v; tr4(1) = v; tr4(2) = v; tr4(3) = v
          } else {
            var k = 0
            while (k < 4) { tr4(k) = yP(yOff - ps + 16 + k) & 0xff; k += 1 }
          }
          var b = 0
          while (b < 16) {
            val bx = b & 3
            val by = b >> 2
            val o = yOff + by * 4 * ps + bx * 4
            pred4(o, bmodes(idx * 16 + b) & 0xff,
              mx * 16 + bx * 4, my * 16 + by * 4, bx)
            idctAdd(b * 16, yP, ps, o)
            b += 1
          }
        }
        val cOff = my * 8 * cs + mx * 8
        predBlock(uP, cs, cOff, 8, uvmodes(idx) & 0xff, mx, my)
        predBlock(vP, cs, cOff, 8, uvmodes(idx) & 0xff, mx, my)
        var b = 0
        while (b < 4) {
          val d = cOff + (b >> 1) * 4 * cs + (b & 1) * 4
          idctAdd((16 + b) * 16, uP, cs, d)
          idctAdd((20 + b) * 16, vP, cs, d)
          b += 1
        }
        mx += 1
      }
      my += 1
    }

    // ---- in-loop deblocking filter (§15) ---------------------------
    // runs after full reconstruction (intra prediction reads the
    // UNfiltered pixels, so ordering is exact), MB raster order,
    // each MB: left edge, inner vertical, top edge, inner horizontal.
    if (filterLevel > 0) {
      def sclip1(v: Int): Int = if (v < -128) -128 else if (v > 127) 127 else v
      // MB-edge / inner common adjust with outer taps (§15.2)
      def doFilter2(p: Array[Byte], o: Int, st: Int): Unit = {
        val p1 = p(o - 2 * st) & 0xff; val p0 = p(o - st) & 0xff
        val q0 = p(o) & 0xff; val q1 = p(o + st) & 0xff
        val a = sclip1(3 * (q0 - p0) + sclip1(p1 - q1))
        val f1 = sclip1(a + 4) >> 3
        val f2 = sclip1(a + 3) >> 3
        p(o - st) = clamp8(p0 + f2).toByte
        p(o) = clamp8(q0 - f1).toByte
      }
      def doFilter4(p: Array[Byte], o: Int, st: Int): Unit = {
        val p1 = p(o - 2 * st) & 0xff; val p0 = p(o - st) & 0xff
        val q0 = p(o) & 0xff; val q1 = p(o + st) & 0xff
        val a = sclip1(3 * (q0 - p0))
        val f1 = sclip1(a + 4) >> 3
        val f2 = sclip1(a + 3) >> 3
        val a3 = (f1 + 1) >> 1
        p(o - 2 * st) = clamp8(p1 + a3).toByte
        p(o - st) = clamp8(p0 + f2).toByte
        p(o) = clamp8(q0 - f1).toByte
        p(o + st) = clamp8(q1 - a3).toByte
      }
      def doFilter6(p: Array[Byte], o: Int, st: Int): Unit = {
        val p2 = p(o - 3 * st) & 0xff; val p1 = p(o - 2 * st) & 0xff
        val p0 = p(o - st) & 0xff; val q0 = p(o) & 0xff
        val q1 = p(o + st) & 0xff; val q2 = p(o + 2 * st) & 0xff
        val a = sclip1(3 * (q0 - p0) + sclip1(p1 - q1))
        val a1 = (27 * a + 63) >> 7
        val a2 = (18 * a + 63) >> 7
        val a3 = (9 * a + 63) >> 7
        p(o - 3 * st) = clamp8(p2 + a3).toByte
        p(o - 2 * st) = clamp8(p1 + a2).toByte
        p(o - st) = clamp8(p0 + a1).toByte
        p(o) = clamp8(q0 - a1).toByte
        p(o + st) = clamp8(q1 - a2).toByte
        p(o + 2 * st) = clamp8(q2 - a3).toByte
      }
      def needsFilter(p: Array[Byte], o: Int, st: Int, t2: Int): Boolean = {
        val p1 = p(o - 2 * st) & 0xff; val p0 = p(o - st) & 0xff
        val q0 = p(o) & 0xff; val q1 = p(o + st) & 0xff
        4 * math.abs(p0 - q0) + math.abs(p1 - q1) <= t2
      }
      def needsFilter2(p: Array[Byte], o: Int, st: Int, t2: Int,
                       it: Int): Boolean = {
        val p3 = p(o - 4 * st) & 0xff; val p2 = p(o - 3 * st) & 0xff
        val p1 = p(o - 2 * st) & 0xff; val p0 = p(o - st) & 0xff
        val q0 = p(o) & 0xff; val q1 = p(o + st) & 0xff
        val q2 = p(o + 2 * st) & 0xff; val q3 = p(o + 3 * st) & 0xff
        if (4 * math.abs(p0 - q0) + math.abs(p1 - q1) > t2) false
        else math.abs(p3 - p2) <= it && math.abs(p2 - p1) <= it &&
          math.abs(p1 - p0) <= it && math.abs(q3 - q2) <= it &&
          math.abs(q2 - q1) <= it && math.abs(q1 - q0) <= it
      }
      def hev(p: Array[Byte], o: Int, st: Int, t: Int): Boolean = {
        val p1 = p(o - 2 * st) & 0xff; val p0 = p(o - st) & 0xff
        val q0 = p(o) & 0xff; val q1 = p(o + st) & 0xff
        math.abs(p1 - p0) > t || math.abs(q1 - q0) > t
      }
      // an edge run: `along` pixels, stepping `alongSt` between
      // lines, filtering across the edge with pixel step `st`
      def edge(p: Array[Byte], o0: Int, alongSt: Int, st: Int, n: Int,
               t2: Int, it: Int, hevT: Int, mbEdge: Boolean): Unit = {
        var k = 0
        var o = o0
        while (k < n) {
          if (needsFilter2(p, o, st, t2, it)) {
            if (hev(p, o, st, hevT)) doFilter2(p, o, st)
            else if (mbEdge) doFilter6(p, o, st) else doFilter4(p, o, st)
          }
          k += 1
          o += alongSt
        }
      }
      def simpleEdge(p: Array[Byte], o0: Int, alongSt: Int, st: Int,
                     n: Int, t2: Int): Unit = {
        var k = 0
        var o = o0
        while (k < n) {
          if (needsFilter(p, o, st, t2)) doFilter2(p, o, st)
          k += 1
          o += alongSt
        }
      }

      // per-(segment, i4x4) strengths (§15.1-15.2)
      val fLevel = Array.ofDim[Int](4, 2)
      val fILevel = Array.ofDim[Int](4, 2)
      val fHev = Array.ofDim[Int](4, 2)
      var s = 0
      while (s < 4) {
        var i4 = 0
        while (i4 < 2) {
          var lvl =
            if (segEnabled) {
              if (segAbs) segLfD(s) else filterLevel + segLfD(s)
            } else filterLevel
          if (lfDeltaEnabled) {
            lvl += refLfDelta0
            if (i4 == 1) lvl += modeLfDelta0
          }
          lvl = if (lvl < 0) 0 else if (lvl > 63) 63 else lvl
          var il = lvl
          if (sharpness > 0) {
            il = if (sharpness > 4) il >> 2 else il >> 1
            if (il > 9 - sharpness) il = 9 - sharpness
          }
          if (il < 1) il = 1
          fLevel(s)(i4) = lvl
          fILevel(s)(i4) = il
          fHev(s)(i4) = if (lvl >= 40) 2 else if (lvl >= 15) 1 else 0
          i4 += 1
        }
        s += 1
      }

      var fy = 0
      while (fy < mbH) {
        var fx = 0
        while (fx < mbW) {
          val idx = fy * mbW + fx
          val i4 = if ((ymodes(idx) & 0xff) == BPred) 1 else 0
          val seg = segIds(idx) & 0xff
          val lvl = fLevel(seg)(i4)
          if (lvl > 0) {
            val il = fILevel(seg)(i4)
            val hevT = fHev(seg)(i4)
            val inner = i4 == 1 || hasCoeffs(idx)
            // threshold form: 4|p0-q0| + |p1-q1| <= 2*limit + 1
            // (inner limit = 2*lvl + il; MB edge = (lvl+2)*2 + il)
            val tIn = 2 * (2 * lvl + il) + 1
            val tMb = tIn + 8
            val yo = fy * 16 * ps + fx * 16
            val co = fy * 8 * cs + fx * 8
            if (filterSimple) {
              if (fx > 0) simpleEdge(yP, yo, ps, 1, 16, tMb)
              if (inner) {
                simpleEdge(yP, yo + 4, ps, 1, 16, tIn)
                simpleEdge(yP, yo + 8, ps, 1, 16, tIn)
                simpleEdge(yP, yo + 12, ps, 1, 16, tIn)
              }
              if (fy > 0) simpleEdge(yP, yo, 1, ps, 16, tMb)
              if (inner) {
                simpleEdge(yP, yo + 4 * ps, 1, ps, 16, tIn)
                simpleEdge(yP, yo + 8 * ps, 1, ps, 16, tIn)
                simpleEdge(yP, yo + 12 * ps, 1, ps, 16, tIn)
              }
            } else {
              if (fx > 0) {
                edge(yP, yo, ps, 1, 16, tMb, il, hevT, mbEdge = true)
                edge(uP, co, cs, 1, 8, tMb, il, hevT, mbEdge = true)
                edge(vP, co, cs, 1, 8, tMb, il, hevT, mbEdge = true)
              }
              if (inner) {
                edge(yP, yo + 4, ps, 1, 16, tIn, il, hevT, mbEdge = false)
                edge(yP, yo + 8, ps, 1, 16, tIn, il, hevT, mbEdge = false)
                edge(yP, yo + 12, ps, 1, 16, tIn, il, hevT, mbEdge = false)
                edge(uP, co + 4, cs, 1, 8, tIn, il, hevT, mbEdge = false)
                edge(vP, co + 4, cs, 1, 8, tIn, il, hevT, mbEdge = false)
              }
              if (fy > 0) {
                edge(yP, yo, 1, ps, 16, tMb, il, hevT, mbEdge = true)
                edge(uP, co, 1, cs, 8, tMb, il, hevT, mbEdge = true)
                edge(vP, co, 1, cs, 8, tMb, il, hevT, mbEdge = true)
              }
              if (inner) {
                edge(yP, yo + 4 * ps, 1, ps, 16, tIn, il, hevT, mbEdge = false)
                edge(yP, yo + 8 * ps, 1, ps, 16, tIn, il, hevT, mbEdge = false)
                edge(yP, yo + 12 * ps, 1, ps, 16, tIn, il, hevT, mbEdge = false)
                edge(uP, co + 4 * cs, 1, cs, 8, tIn, il, hevT, mbEdge = false)
                edge(vP, co + 4 * cs, 1, cs, 8, tIn, il, hevT, mbEdge = false)
              }
            }
          }
          fx += 1
        }
        fy += 1
      }
    }

    // crop the padded planes
    val cw = (w + 1) / 2
    val ch = (h + 1) / 2
    val y = new Array[Byte](w * h)
    var r = 0
    while (r < h) { System.arraycopy(yP, r * ps, y, r * w, w); r += 1 }
    val u = new Array[Byte](cw * ch)
    val v = new Array[Byte](cw * ch)
    r = 0
    while (r < ch) {
      System.arraycopy(uP, r * cs, u, r * cw, cw)
      System.arraycopy(vP, r * cs, v, r * cw, cw)
      r += 1
    }
    Frame(w, h, y, u, v)
  }

  /** Never-throw wrapper. */
  def decode(bytes: Array[Byte], off: Int, end: Int): Option[Frame] =
    try Some(decodeFrame(bytes, off, end))
    catch { case _: Throwable => None }

  // ---------------------------------------------------------------
  // Deterministic lossy writer (fixture + oracle synthesis)
  // ---------------------------------------------------------------

  /** Builds a RIFF-wrapped VP8 keyframe whose image is MB-flat:
    * `yuv(mbx, mby)` gives each 16x16 macroblock's constant (Y, U, V).
    * Residuals are DC-only at quantizer index 4 (y1dc = 8, y2dc = 16,
    * uvdc = 8), where every needed step divides exactly — so
    * decode(build(f)) == f bit-exactly and a SQL oracle can replay
    * the formula. Variants pick the intra mode used by EVERY MB:
    * "dc" | "v" | "h" | "tm" (16x16 + matching chroma mode) or
    * "bpred" (all-B_DC 4x4, exercising the no-Y2 token type and the
    * keyframe bmode coding). The writer mirrors the decoder's
    * context/prediction bookkeeping but shares no decode-side state.
    */
  def buildLossyWebp(mbW: Int, mbH: Int,
                     yuv: (Int, Int) => (Int, Int, Int),
                     variant: String): Array[Byte] = {
    require(mbW >= 1 && mbH >= 1 && mbW * mbH <= (1 << 12), "fixture size")
    val w = mbW * 16
    val h = mbH * 16
    val mode = variant match {
      case "dc" => 0
      case "v" => 1
      case "h" => 2
      case "tm" => 3
      case "bpred" => BPred
      case other => throw new IllegalArgumentException(other)
    }
    val probs = Vp8Tables.CoeffProbs
    def p(tpe: Int, band: Int, ctx: Int, node: Int): Int =
      probs(tpe * 264 + band * 33 + ctx * 11 + node) & 0xff

    // magnitude layout shared with the decoder's token tree
    def emitMagnitude(e: BoolEnc, tpe: Int, band: Int, ctx: Int,
                      v: Int): Unit = {
      def pp(node: Int) = p(tpe, band, ctx, node)
      if (v == 1) e.bit(pp(2), 0)
      else {
        e.bit(pp(2), 1)
        if (v <= 4) {
          e.bit(pp(3), 0)
          if (v == 2) e.bit(pp(4), 0)
          else { e.bit(pp(4), 1); e.bit(pp(5), v - 3) }
        } else if (v <= 10) {
          e.bit(pp(3), 1); e.bit(pp(6), 0)
          if (v <= 6) { e.bit(pp(7), 0); e.bit(159, v - 5) }
          else { e.bit(pp(7), 1)
            e.bit(165, (v - 7) >> 1); e.bit(145, (v - 7) & 1) }
        } else {
          e.bit(pp(3), 1); e.bit(pp(6), 1)
          val cat = if (v <= 18) 0 else if (v <= 34) 1
                    else if (v <= 66) 2 else 3
          require(v <= 66 + 2048, s"magnitude $v")
          e.bit(pp(8), cat >> 1)
          e.bit(pp(9 + (cat >> 1)), cat & 1)
          val tab = kCat(cat)
          val rem = v - (3 + (8 << cat))
          var k = 0
          while (k < tab.length) {
            e.bit(tab(k), (rem >> (tab.length - 1 - k)) & 1)
            k += 1
          }
        }
      }
    }

    /** one DC-only block: token at `first`, EOB after. Returns nz. */
    def emitBlock(e: BoolEnc, tpe: Int, ctx: Int, first: Int,
                  level: Int): Boolean = {
      val b0 = kBands(first)
      if (level == 0) { e.bit(p(tpe, b0, ctx, 0), 0); false }
      else {
        e.bit(p(tpe, b0, ctx, 0), 1) // not EOB
        e.bit(p(tpe, b0, ctx, 1), 1) // not zero
        val v = math.abs(level)
        emitMagnitude(e, tpe, b0, ctx, v)
        e.bit(128, if (level < 0) 1 else 0)
        val nctx = if (v > 1) 2 else 1
        e.bit(p(tpe, kBands(first + 1), nctx, 0), 0) // EOB
        true
      }
    }

    def clamp8(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
    // MB-flat predictions with the decoder's virtual borders
    def predFlat(m: Int, a: Int, l: Int, tl: Int,
                 hasA: Boolean, hasL: Boolean): Int = m match {
      case 0 =>
        if (hasA && hasL) (a + l + 1) >> 1
        else if (hasA) a else if (hasL) l else 128
      case 1 => if (hasA) a else 127
      case 2 => if (hasL) l else 129
      case _ =>
        val aa = if (hasA) a else 127
        val ll = if (hasL) l else 129
        val tt = if (!hasA) 127 else if (!hasL) 129 else tl
        clamp8(ll + aa - tt)
    }

    val skipProb = 128
    val head = new BoolEnc // part0: header + modes + skip flags
    val tok = new BoolEnc // the single token partition

    // frame header (§9), all features off, quantizer index 4
    head.bit(128, 0) // color space
    head.bit(128, 0) // clamping
    head.bit(128, 0) // segmentation off
    head.bit(128, 0) // filter type
    head.literal(6, 0) // filter level 0
    head.literal(3, 0) // sharpness
    head.bit(128, 0) // lf deltas off
    head.literal(2, 0) // one token partition
    head.literal(7, 4) // yac qindex = 4
    (0 until 5).foreach(_ => head.bit(128, 0)) // no quant deltas
    head.bit(128, 1) // refresh entropy
    var i = 0
    while (i < 1056) { // keep every default token probability
      head.bit(Vp8Tables.CoeffUpdateProbs(i) & 0xff, 0)
      i += 1
    }
    head.bit(128, 1) // mb_no_coeff_skip
    head.literal(8, skipProb)

    // per-MB residual levels (from targets + exact predictions), then
    // modes+skips into part0 and tokens into the token partition —
    // tracking the decoder's nonzero contexts
    val aboveNzY2 = new Array[Boolean](mbW)
    val aboveNzU = new Array[Boolean](mbW * 2)
    val aboveNzV = new Array[Boolean](mbW * 2)
    // Y blocks are always zero in i16 variants; in bpred their nz
    // matters per subblock column
    val aboveNzY = new Array[Boolean](mbW * 4)
    val leftNzY = new Array[Boolean](4)
    val leftNzU = new Array[Boolean](2)
    val leftNzV = new Array[Boolean](2)
    var leftNzY2 = false

    def emitChroma(rU: Int, rV: Int, mx: Int): Unit = {
      // the chroma plane is MB-flat, so all four 4x4 blocks of each
      // plane carry the same DC residual
      var pl = 0
      while (pl < 2) {
        val r = if (pl == 0) rU else rV
        val aboveNzC = if (pl == 0) aboveNzU else aboveNzV
        val leftNzC = if (pl == 0) leftNzU else leftNzV
        var cy = 0
        while (cy < 2) {
          var cx = 0
          while (cx < 2) {
            val ctx = (if (aboveNzC(mx * 2 + cx)) 1 else 0) +
              (if (leftNzC(cy)) 1 else 0)
            val nz = emitBlock(tok, 2, ctx, 0, r)
            aboveNzC(mx * 2 + cx) = nz
            leftNzC(cy) = nz
            cx += 1
          }
          cy += 1
        }
        pl += 1
      }
    }
    def clearCtx(mx: Int, clearY2: Boolean): Unit = {
      var k = 0
      while (k < 4) { aboveNzY(mx * 4 + k) = false; leftNzY(k) = false; k += 1 }
      k = 0
      while (k < 2) {
        aboveNzU(mx * 2 + k) = false; leftNzU(k) = false
        aboveNzV(mx * 2 + k) = false; leftNzV(k) = false
        k += 1
      }
      if (clearY2) { aboveNzY2(mx) = false; leftNzY2 = false }
    }

    var my = 0
    while (my < mbH) {
      leftNzY2 = false
      java.util.Arrays.fill(leftNzY, false)
      java.util.Arrays.fill(leftNzU, false)
      java.util.Arrays.fill(leftNzV, false)
      var mx = 0
      while (mx < mbW) {
        val (ty, tu, tv) = yuv(mx, my)
        val hasA = my > 0
        val hasL = mx > 0
        val (ay, au, av) = if (hasA) yuv(mx, my - 1) else (0, 0, 0)
        val (ly, lu, lv) = if (hasL) yuv(mx - 1, my) else (0, 0, 0)
        val (tly, tlu, tlv) =
          if (hasA && hasL) yuv(mx - 1, my - 1) else (0, 0, 0)
        val cm = if (mode == BPred) 0 else mode
        val rU = tu - predFlat(cm, au, lu, tlu, hasA, hasL)
        val rV = tv - predFlat(cm, av, lv, tlv, hasA, hasL)

        if (mode != BPred) {
          val rY = ty - predFlat(mode, ay, ly, tly, hasA, hasL)
          val l2 = 4 * rY
          val allZero = l2 == 0 && rU == 0 && rV == 0
          head.bit(skipProb, if (allZero) 1 else 0)
          head.bit(145, 1) // not B_PRED
          mode match {
            case 0 => head.bit(156, 0); head.bit(163, 0)
            case 1 => head.bit(156, 0); head.bit(163, 1)
            case 2 => head.bit(156, 1); head.bit(128, 0)
            case _ => head.bit(156, 1); head.bit(128, 1)
          }
          mode match {
            case 0 => head.bit(142, 0)
            case 1 => head.bit(142, 1); head.bit(114, 0)
            case 2 => head.bit(142, 1); head.bit(114, 1); head.bit(183, 0)
            case _ => head.bit(142, 1); head.bit(114, 1); head.bit(183, 1)
          }
          if (allZero) clearCtx(mx, clearY2 = true)
          else {
            val ctx2 = (if (aboveNzY2(mx)) 1 else 0) + (if (leftNzY2) 1 else 0)
            val nz2 = emitBlock(tok, 1, ctx2, 0, l2)
            aboveNzY2(mx) = nz2
            leftNzY2 = nz2
            // 16 all-zero Y blocks (type 0, first 1): EOB each, and
            // their nz contexts stay false
            var b = 0
            while (b < 16) { emitBlock(tok, 0, 0, 1, 0); b += 1 }
            emitChroma(rU, rV, mx)
          }
        } else {
          // B_PRED: per-subblock B_DC residuals (flat targets, so
          // each subblock's prediction is (above + left + 1) >> 1)
          val rSub = new Array[Int](16)
          var allZero = rU == 0 && rV == 0
          var sb = 0
          while (sb < 16) {
            val bx = sb & 3
            val by = sb >> 2
            val a = if (by > 0) ty else if (hasA) ay else 127
            val l = if (bx > 0) ty else if (hasL) ly else 129
            rSub(sb) = ty - ((a + l + 1) >> 1)
            if (rSub(sb) != 0) allZero = false
            sb += 1
          }
          head.bit(skipProb, if (allZero) 1 else 0)
          head.bit(145, 0) // B_PRED
          // all 16 submodes are B_DC; every neighbor context is B_DC
          // (implied by non-coded edges and by construction inside)
          var k = 0
          while (k < 16) { head.bit(bmP(0) & 0xff, 0); k += 1 }
          head.bit(142, 0) // uv DC
          if (allZero) clearCtx(mx, clearY2 = false)
          else {
            var by = 0
            while (by < 4) {
              var bx = 0
              while (bx < 4) {
                val ctx = (if (aboveNzY(mx * 4 + bx)) 1 else 0) +
                  (if (leftNzY(by)) 1 else 0)
                val nz = emitBlock(tok, 3, ctx, 0, rSub(by * 4 + bx))
                aboveNzY(mx * 4 + bx) = nz
                leftNzY(by) = nz
                bx += 1
              }
              by += 1
            }
            emitChroma(rU, rV, mx)
          }
        }
        mx += 1
      }
      my += 1
    }

    // assemble: frame tag + start code + dims, part0, token partition
    val part0 = head.flush()
    val tokens = tok.flush()
    val tag = part0.length << 5 | (1 << 4) // keyframe, version 0, show
    val vp8 = new java.io.ByteArrayOutputStream()
    vp8.write(tag & 0xff); vp8.write((tag >> 8) & 0xff)
    vp8.write((tag >> 16) & 0xff)
    vp8.write(0x9d); vp8.write(0x01); vp8.write(0x2a)
    vp8.write(w & 0xff); vp8.write((w >> 8) & 0x3f)
    vp8.write(h & 0xff); vp8.write((h >> 8) & 0x3f)
    vp8.write(part0, 0, part0.length)
    vp8.write(tokens, 0, tokens.length)
    val payload = vp8.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit =
      (0 until 4).foreach(k => out.write((v >> (8 * k)) & 0xff))
    out.write("RIFF".getBytes("ISO-8859-1"))
    w32(4 + 8 + payload.length + (payload.length & 1))
    out.write("WEBP".getBytes("ISO-8859-1"))
    out.write("VP8 ".getBytes("ISO-8859-1"))
    w32(payload.length)
    out.write(payload, 0, payload.length)
    if ((payload.length & 1) == 1) out.write(0)
    out.toByteArray
  }

  /** mirrors the decoder's bmode probability table for the writer */
  private def bmP = Vp8Tables.KfBModeProbs
}
