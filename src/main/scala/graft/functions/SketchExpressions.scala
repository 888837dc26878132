package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the sketch hot loops.
  *
  * The `Column`-tier sketches in [[graft.llm.Dedup]] are built from
  * higher-order functions (`aggregate`/`zip_with`), which evaluate
  * interpreted and allocate an array per element — fine for
  * correctness, ~10× too slow for a 100 TB corpus scan. These
  * expressions do the same math as one JIT-compiled primitive loop per
  * row (CodegenFallback costs one virtual call per row; the loop body
  * itself is plain JVM code).
  */

/** MinHash signature from a 31-bit shingle-hash array:
  * sig[i] = min over shingles of (a_i·h + b_i) mod p, p = 2^31-1.
  * Empty input → all-sentinel (p) signature, matching the fold tier.
  *
  * The modulus must be ~the same width as the inputs: with a, b, h all
  * < 2^31, the product a·h (< 2^62) wraps the 2^31-1 modulus ~2^31
  * times, giving proper avalanche. (An earlier p = 2^61-1 wrapped at
  * most twice, leaving v nearly monotonic in h — the min was then
  * always attained by the numerically smallest shingle hashes and all
  * 64 components were correlated, wrecking the Jaccard estimate.) */
case class MinHashSignature(child: Expression, a: Seq[Long], b: Seq[Long])
    extends UnaryExpression with UnaryKernelCodegen {

  private val p = (1L << 31) - 1
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val k = a.length
    val sig = Array.fill(k)(p)
    val aArr = a.toArray; val bArr = b.toArray
    var j = 0
    while (j < arr.numElements()) {
      // null elements (possible from arbitrary SQL input) are skipped
      if (arr.isNullAt(j)) { j += 1 }
      else {
      val h = arr.getLong(j); var i = 0
      while (i < k) {
        // exact Mersenne reduction of (a·h+b) mod p for any x ≥ 0 —
        // 2^31 ≡ 1 (mod p), so fold hi+lo twice and conditionally
        // subtract; identical to the hardware %, minus the division
        // (optimization r20; PackedSketchSpec pins the equality).
        // x < 0 (out-of-contract SQL input overflowing the product)
        // keeps the old Java % semantics bit-for-bit.
        val x = aArr(i) * h + bArr(i)
        var v = if (x >= 0) {
          val f1 = (x & p) + (x >>> 31)
          (f1 & p) + (f1 >>> 31)
        } else x % p
        if (v >= p) v -= p
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
      }
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The shared shingle byte-walk behind [[ShingleHashes]] and
  * [[MinHashSketch]]: single-space tokenization straight off the
  * UTF8String bytes (0x20 never occurs inside a UTF-8 multibyte
  * sequence, so the byte split equals `split(text, " ", -1)`), FNV-1a
  * over each n-token window with NUL separators, dedup via an
  * open-addressed primitive table that preserves FIRST-OCCURRENCE
  * order (the LinkedHashSet contract the packed/stored sketches
  * inherited). `mask` is applied BEFORE dedup (the mask31 tier
  * dedups masked values — two 64-bit hashes colliding in the low 31
  * bits are ONE element there). Returns null when tokens < n.
  *
  * Input contract: valid UTF-8, which is what stored sketches were
  * built from. Tokens are hashed as raw bytes; on valid UTF-8 that
  * equals the String route (decode, `split(" ", -1)`, re-encode with
  * `getBytes("UTF-8")`). On ill-formed bytes (a UTF8String cast from
  * arbitrary binary) token boundaries still agree, but the walk hashes
  * the raw bytes where the String route hashes U+FFFD replacements,
  * so such sketches do not match String-built ones (PackedSketchSpec
  * pins the difference). */
private[functions] object ShingleWalk {
  /** Largest power-of-two JVM array length (2^30). */
  val MaxTableCapacity: Int = 1 << 30

  /** Dedup-table size for `windows` hashes: the smallest power of two
    * ≥ 2·windows (at least 16), sized in `Long` so the doubling
    * cannot wrap `Int`. Past [[MaxTableCapacity]] (more than 2^29
    * windows) it fails with a clear error rather than loop. */
  def tableCapacity(windows: Int): Int = {
    val need = 2L * windows
    require(need <= MaxTableCapacity,
      s"ShingleWalk: $windows shingle windows need a $need-slot dedup " +
        s"table, past the $MaxTableCapacity-slot maximum array size")
    var cap = 16L
    while (cap < need) cap <<= 1
    cap.toInt
  }

  /** (first-occurrence-ordered distinct hashes, count), or null. */
  def distinctWindowHashes(bytes: Array[Byte], n: Int, mask: Long): (Array[Long], Int) = {
    var tokens = 1; var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) tokens += 1; i += 1 }
    if (tokens < n) return null
    val starts = new Array[Int](tokens + 1)
    var t = 1; i = 0
    while (i < bytes.length) {
      if (bytes(i) == 0x20) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(tokens) = bytes.length + 1 // end of token j is starts(j+1)-1
    val windows = tokens - n + 1
    val cap = tableCapacity(windows)
    val table = new Array[Long](cap); val used = new Array[Boolean](cap)
    val order = new Array[Long](windows); var cnt = 0
    var w = 0
    while (w < windows) {
      var h = 0xcbf29ce484222325L
      var tok = w
      while (tok < w + n) {
        var bi = starts(tok)
        val end = starts(tok + 1) - 1
        while (bi < end) { h ^= (bytes(bi) & 0xffL); h *= 0x100000001b3L; bi += 1 }
        h *= 0x100000001b3L // NUL separator (h ^= 0 is a no-op)
        tok += 1
      }
      val v = h & mask
      var slot = java.lang.Long.hashCode(v * 0x9E3779B97F4A7C15L) & (cap - 1)
      var isNew = true; var probing = true
      while (probing) {
        if (!used(slot)) probing = false
        else if (table(slot) == v) { isNew = false; probing = false }
        else slot = (slot + 1) & (cap - 1)
      }
      if (isNew) {
        used(slot) = true; table(slot) = v
        order(cnt) = v; cnt += 1
      }
      w += 1
    }
    (order, cnt)
  }
}

/** Fused MinHash sketch: ONE tokenize+hash pass over the text emitting
  * BOTH packed sketches [[graft.llm.Dedup.sketchFrame]] caches —
  * `sigb` (packed 64-long MinHash signature) and `shhb` (packed
  * distinct 64-bit shingle-hash set, first-occurrence order).
  * Bit-identical to
  * `pack_longs(minhash_signature(shingle_hashes(text)))` +
  * `pack_longs(shingle_hashes64(text))` (PackedSketchSpec pins it):
  * the byte-level single-space split equals `split(text, " ", -1)`
  * because 0x20 never occurs inside a UTF-8 multibyte sequence; the
  * FNV-1a window hash (NUL-separated tokens) reads the same bytes;
  * the signature min runs over DISTINCT 64-bit hashes only (min is
  * multiset-invariant, and masking to 31 bits commutes with the
  * dedup for the min's purposes); and `(a·h+b) mod (2^31-1)` is
  * computed by exact Mersenne reduction (2^31 ≡ 1 mod p: fold
  * hi+lo twice, one conditional subtract) instead of a hardware
  * division per (shingle × hash). Replaces: two full tokenize+hash
  * passes over the text, a String[] per row, per-window UTF-8
  * re-encoding, LinkedHashSet boxing, and two GenericArrayData
  * materializations. Valid-UTF-8 input contract: see [[ShingleWalk]]
  * (ill-formed bytes are hashed raw, not as U+FFFD). */
case class MinHashSketch(child: Expression, n: Int, a: Seq[Long], b: Seq[Long])
    extends UnaryExpression with UnaryKernelCodegen {

  private val p = (1L << 31) - 1
  private val aArr = a.toArray
  private val bArr = b.toArray

  override def dataType: DataType = StructType(Seq(
    StructField("sigb", BinaryType, nullable = false),
    StructField("shhb", BinaryType, nullable = false)))
  override def prettyName: String = "minhash_sketch"

  private def packLE(vals: Array[Long], count: Int): Array[Byte] = {
    val out = new Array[Byte](count * 8)
    var i = 0
    while (i < count) {
      var v = vals(i); var k = 0
      while (k < 8) { out(i * 8 + k) = (v & 0xff).toByte; v >>>= 8; k += 1 }
      i += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val k = aArr.length
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, p)
    // distinct 64-bit window hashes, first-occurrence order (the shhb
    // contract — the incremental sketch index stores these bytes)
    val walked = ShingleWalk.distinctWindowHashes(bytes, n, -1L)
    if (walked == null) {
      // matches ShingleHashes' empty output: empty shhb, all-sentinel
      // signature (the MinHashSignature fold over zero shingles)
      return org.apache.spark.sql.catalyst.InternalRow(
        packLE(sig, k), Array.emptyByteArray)
    }
    val (order, cnt) = walked
    // the signature min runs per DISTINCT 64-bit hash (min is
    // multiset-invariant, and masking commutes with the min's dedup)
    var i = 0
    while (i < cnt) {
      val h31 = order(i) & 0x7FFFFFFFL
      var j = 0
      while (j < k) {
        // same guarded Mersenne reduction as [[MinHashSignature]]
        // (in-contract x = a·h31+b < 2^62 never takes the % branch)
        val x = aArr(j) * h31 + bArr(j)
        var v = if (x >= 0) {
          val f1 = (x & p) + (x >>> 31)
          (f1 & p) + (f1 >>> 31)
        } else x % p
        if (v >= p) v -= p
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(packLE(sig, k), packLE(order, cnt))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash from a token array: per bit, majority vote of 64-bit
  * FNV-1a token hashes. One pass over tokens, primitive counters. */
case class SimHash64(child: Expression) extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val counts = new Array[Int](64)
    var j = 0
    while (j < n) {
      if (toks.isNullAt(j)) { j += 1 } // skip null tokens (SQL input)
      else {
      val bytes = toks.getUTF8String(j).getBytes
      // FNV-1a 64-bit
      var h = 0xcbf29ce484222325L
      var bi = 0
      while (bi < bytes.length) { h ^= (bytes(bi) & 0xffL); h *= 0x100000001b3L; bi += 1 }
      var i = 0
      while (i < 64) { if (((h >>> i) & 1L) != 0L) counts(i) += 1 else counts(i) -= 1; i += 1 }
      j += 1
      }
    }
    var out = 0L; var i = 0
    while (i < 64) { if (counts(i) >= 0) out |= (1L << i); i += 1 }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct hashes of word n-gram shingles, straight from the text:
  * tokenize on single spaces (keeping empty tokens, exactly like Spark
  * SQL `split(text, ' ')` — the column tier this must agree with), hash
  * each n-token window with FNV-1a (tokens separated by NUL), dedup in
  * a hash set. Never materializes shingle strings — the dominant cost
  * of the `transform`+`concat_ws` column tier (~20× slower at corpus
  * scale).
  *
  * `mask31` = true (default) folds each hash to 31 bits — the width
  * [[MinHashSignature]]'s affine family needs (see its modulus note).
  * `mask31` = false keeps the full 64-bit hash: used when the hash SET
  * itself stands in for the shingle set (exact-Jaccard verification),
  * where 31-bit cross-doc collisions (~1e-4 per pair at 500 shingles)
  * would perturb the intersection count; at 64 bits the collision odds
  * per pair are ~1e-14.
  *
  * Valid-UTF-8 input contract: see [[ShingleWalk]] (ill-formed bytes
  * are hashed raw, not as U+FFFD). */
case class ShingleHashes(child: Expression, n: Int, mask31: Boolean = true)
    extends UnaryExpression with UnaryKernelCodegen {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any = {
    // one byte walk via [[ShingleWalk]] (optimization r20): same
    // tokenization, same FNV window hash, same first-occurrence
    // order as the String.split + LinkedHashSet form this replaces —
    // minus the String[] per row, the per-window UTF-8 re-encode and
    // the boxing (PackedSketchSpec pins the equality transitively)
    val walked = ShingleWalk.distinctWindowHashes(
      input.asInstanceOf[UTF8String].getBytes, n,
      if (mask31) 0x7FFFFFFFL else -1L)
    if (walked == null) new GenericArrayData(Array.emptyLongArray)
    else {
      val (order, cnt) = walked
      new GenericArrayData(java.util.Arrays.copyOf(order, cnt))
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Little-endian packing of an array<long> into binary. Array columns
  * in the columnar cache are reassembled element-by-element on every
  * read (measured ~14 executor-seconds for 5000 rows × ~116 longs at
  * sf0.1); a binary column is one memcpy. The packed form is the cache/
  * shuffle representation of sketches; [[SigAgreeCount]],
  * [[PackedIntersectCount]] and [[BandKeys]] consume it directly. */
case class PackLongs(child: Expression) extends UnaryExpression with UnaryKernelCodegen {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pack_longs"
  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Byte](n * 8)
    var i = 0
    while (i < n) {
      var v = arr.getLong(i); var k = 0
      while (k < 8) { out(i * 8 + k) = (v & 0xff).toByte; v >>>= 8; k += 1 }
      i += 1
    }
    out
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

private object Packed {
  /** Long at element index i of a little-endian packed array. */
  def longAt(b: Array[Byte], i: Int): Long = {
    var v = 0L; var k = 7
    while (k >= 0) { v = (v << 8) | (b(i * 8 + k) & 0xffL); k -= 1 }
    v
  }
}

/** Number of positions where two equal-length packed long arrays agree —
  * the MinHash signature-agreement count (Jaccard estimate × width). */
case class SigAgreeCount(left: Expression, right: Expression)
    extends BinaryExpression with BinaryKernelCodegen {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_agree_count"
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[Array[Byte]]; val b = r.asInstanceOf[Array[Byte]]
    val n = math.min(a.length, b.length) / 8
    var c = 0; var i = 0
    while (i < n) {
      if (Packed.longAt(a, i) == Packed.longAt(b, i)) c += 1
      i += 1
    }
    c
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** |A ∩ B| of two packed distinct-long sets, via an open-addressed
  * primitive hash probe — no boxing, no per-row collection churn. */
case class PackedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with BinaryKernelCodegen {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "packed_intersect_count"
  override def nullSafeEval(l: Any, r: Any): Any = {
    var a = l.asInstanceOf[Array[Byte]]; var b = r.asInstanceOf[Array[Byte]]
    if (a.length > b.length) { val t = a; a = b; b = t } // build on smaller
    val n = a.length / 8
    if (n == 0) 0
    else {
      var cap = 16
      while (cap < n * 2) cap <<= 1
      val table = new Array[Long](cap); val used = new Array[Boolean](cap)
      var i = 0
      while (i < n) {
        val v = Packed.longAt(a, i)
        var slot = (java.lang.Long.hashCode(v * 0x9E3779B97F4A7C15L) & (cap - 1))
        while (used(slot) && table(slot) != v) slot = (slot + 1) & (cap - 1)
        used(slot) = true; table(slot) = v
        i += 1
      }
      val m = b.length / 8
      var c = 0; var j = 0
      while (j < m) {
        val v = Packed.longAt(b, j)
        var slot = (java.lang.Long.hashCode(v * 0x9E3779B97F4A7C15L) & (cap - 1))
        var hit = false; var cont = true
        while (cont && used(slot)) {
          if (table(slot) == v) { hit = true; cont = false }
          else slot = (slot + 1) & (cap - 1)
        }
        if (hit) c += 1
        j += 1
      }
      c
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** |A ∩ B| of two packed SORTED distinct-long sets via a linear merge
  * walk — ZERO allocation per row. [[PackedIntersectCount]] builds an
  * open-addressed table per evaluation (~1 KB of fresh arrays); at
  * millions of candidate pairs (the SetSimJoin verification stage)
  * that is gigabytes of pure GC churn for sets the merge walks in
  * ~|A|+|B| compares. Inputs MUST be ascending-sorted (signed long
  * order, i.e. `pack_longs(sort_array(...))`) — [[graft.llm
  * .SetSimJoin]]'s blobs are by construction; [[graft.llm.Dedup]]'s
  * `shhb` blobs are NOT (insertion order, persisted in the
  * incremental sketch index), so they keep the hash form. */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression with BinaryKernelCodegen {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[Array[Byte]]; val b = r.asInstanceOf[Array[Byte]]
    val n = a.length / 8; val m = b.length / 8
    var i = 0; var j = 0; var c = 0
    while (i < n && j < m) {
      val va = Packed.longAt(a, i); val vb = Packed.longAt(b, j)
      if (va == vb) { c += 1; i += 1; j += 1 }
      else if (va < vb) i += 1
      else j += 1
    }
    c
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** LSH band keys from a packed MinHash signature: one int key per band,
  * mixing that band's `rowsPerBand` signature words. Output array<int>
  * of length `bands` — posexplode gives (band, key) rows without any
  * per-band array slicing. */
case class BandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with UnaryKernelCodegen {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "band_keys"
  override def nullSafeEval(input: Any): Any = {
    val sig = input.asInstanceOf[Array[Byte]]
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L
      var k = 0
      while (k < rowsPerBand) {
        var v = Packed.longAt(sig, b * rowsPerBand + k)
        var byteI = 0
        while (byteI < 8) { h ^= (v & 0xffL); h *= 0x100000001b3L; v >>>= 8; byteI += 1 }
        k += 1
      }
      out(b) = (h ^ (h >>> 32)).toInt
      b += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SketchExpressions {
  def shingleHashes(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), n))

  /** Full-64-bit shingle hashes — the collision-safe stand-in for the
    * shingle string set in exact-Jaccard verification. */
  def shingleHashes64(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), n, mask31 = false))

  def packLongs(arr: Column): Column =
    ColumnBridge.column(PackLongs(ColumnBridge.expression(arr)))

  def sigAgreeCount(a: Column, b: Column): Column =
    ColumnBridge.column(SigAgreeCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def packedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(PackedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Merge-walk intersection for ASCENDING-SORTED packed sets only. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def bandKeys(packedSig: Column, bands: Int, rowsPerBand: Int): Column =
    ColumnBridge.column(BandKeys(ColumnBridge.expression(packedSig), bands, rowsPerBand))

  def minHashSignature(hashes: Column, a: Seq[Long], b: Seq[Long]): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(hashes), a, b))

  /** Fused one-pass (sigb, shhb) sketch — see [[MinHashSketch]]. */
  def minHashSketch(text: Column, n: Int, a: Seq[Long], b: Seq[Long]): Column =
    ColumnBridge.column(MinHashSketch(ColumnBridge.expression(text), n, a, b))

  def simHash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))
}
