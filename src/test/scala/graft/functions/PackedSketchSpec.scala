package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the packed (binary) sketch expressions against their
  * array-tier equivalents: [[PackLongs]] layout, [[SigAgreeCount]] vs
  * zip_with, [[PackedIntersectCount]] vs array_intersect, and
  * [[BandKeys]] bucketing behavior. These carry q27's cache/shuffle
  * representation, so bit-equivalence with the column tier is the
  * correctness contract.
  */
class PackedSketchSpec extends SparkSpec {
  import spark.implicits._
  private val SE = SketchExpressions

  private val rnd = new scala.util.Random(7)
  private val arrays: Seq[(Seq[Long], Seq[Long])] = Seq.fill(50) {
    val n1 = rnd.nextInt(40); val n2 = rnd.nextInt(40)
    // overlapping distinct sets from a small value domain
    (rnd.shuffle((0L until 60L).toList).take(n1).distinct,
     rnd.shuffle((0L until 60L).toList).take(n2).distinct)
  }

  test("PackLongs is little-endian, length-preserving, empty-safe") {
    val df = Seq(Seq(1L, -2L, Long.MaxValue), Seq.empty[Long]).toDF("a")
    val rows = df.select(SE.packLongs(col("a")).as("b")).collect()
    val b = rows(0).getAs[Array[Byte]]("b")
    assert(b.length == 24)
    // word 0 == 1L little-endian
    assert(b(0) == 1.toByte && b.slice(1, 8).forall(_ == 0.toByte))
    // word 1 == -2L: 0xFE then 0xFF...
    assert(b(8) == 0xFE.toByte && b.slice(9, 16).forall(_ == 0xFF.toByte))
    assert(rows(1).getAs[Array[Byte]]("b").isEmpty)
  }

  test("SigAgreeCount equals the zip_with agreement count") {
    val df = arrays.map { case (a, b) =>
      val n = math.min(a.length, b.length); (a.take(n), b.take(n))
    }.toDF("a", "b")
    val got = df.select(
      SE.sigAgreeCount(SE.packLongs(col("a")), SE.packLongs(col("b"))).as("packed"),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), p => p)).as("tier"))
    assert(got.where(col("packed") =!= col("tier")).count() == 0)
  }

  test("SortedIntersectCount equals PackedIntersectCount on sorted sets") {
    val df = arrays.toDF("a", "b")
    val got = df.select(
      SE.sortedIntersectCount(
        SE.packLongs(sort_array(col("a"))),
        SE.packLongs(sort_array(col("b")))).as("merged"),
      SE.packedIntersectCount(SE.packLongs(col("a")), SE.packLongs(col("b"))).as("hashed"))
    assert(got.where(col("merged") =!= col("hashed")).count() == 0)
    // negative longs sort before positive in the signed order the
    // merge walk assumes — pin it explicitly
    val neg = Seq((Seq(-5L, -1L, 3L, Long.MaxValue), Seq(Long.MinValue, -1L, 3L)))
      .toDF("a", "b")
    val n = neg.select(SE.sortedIntersectCount(
      SE.packLongs(sort_array(col("a"))),
      SE.packLongs(sort_array(col("b")))).as("c")).head.getInt(0)
    assert(n == 2)
    // empty-side safety
    val e = Seq((Seq.empty[Long], Seq(1L, 2L))).toDF("a", "b")
    assert(e.select(SE.sortedIntersectCount(
      SE.packLongs(col("a")), SE.packLongs(col("b")))).head.getInt(0) == 0)
  }

  test("PackedIntersectCount equals size(array_intersect) on distinct sets") {
    val df = arrays.toDF("a", "b")
    val got = df.select(
      SE.packedIntersectCount(SE.packLongs(col("a")), SE.packLongs(col("b"))).as("packed"),
      size(array_intersect(col("a"), col("b"))).as("tier"))
    assert(got.where(col("packed") =!= col("tier")).count() == 0)
    // empty sides
    val e = Seq((Seq.empty[Long], Seq(1L, 2L))).toDF("a", "b")
      .select(SE.packedIntersectCount(SE.packLongs(col("a")), SE.packLongs(col("b"))))
    assert(e.head().getInt(0) == 0)
  }

  test("MinHashSketch fused pass is bit-identical to the two-pass composition") {
    val seeded = new scala.util.Random(13)
    val texts: Seq[String] = Seq(
      "", " ", "  ", "a", "a b", "a b c", "a b c d e f g h",
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      "a a a a a a a a", "tab\tkept and  double  spaces", "unicode é ü 中文 字 word mix",
      "trailing space ", " leading space", "a  b   c d") ++
      Seq.fill(40)(Seq.fill(3 + seeded.nextInt(40))(
        seeded.nextInt(9).toString * (1 + seeded.nextInt(3))).mkString(" "))
    val A = graft.llm.Dedup.hashFamilyA
    val B = graft.llm.Dedup.hashFamilyB
    for (n <- Seq(1, 2, 3, 5)) {
      val got = texts.toDF("text").select(
        SE.minHashSketch(col("text"), n, A, B).as("sk"),
        SE.packLongs(SE.minHashSignature(SE.shingleHashes(col("text"), n), A, B)).as("sigb0"),
        SE.packLongs(SE.shingleHashes64(col("text"), n)).as("shhb0"))
      assert(got.where(col("sk.sigb") =!= col("sigb0") ||
        col("sk.shhb") =!= col("shhb0")).count() == 0, s"n=$n")
    }
  }

  test("MinHashSignature's Mersenne reduction equals the hardware modulo") {
    val p = (1L << 31) - 1
    val rnd = new scala.util.Random(11)
    // in-contract 31-bit hashes plus boundary values
    val hs: Seq[Long] = Seq(0L, 1L, p - 1, p) ++
      Seq.fill(100)(rnd.nextLong() & 0x7FFFFFFFL)
    val a = Seq(1L, p - 1, 0x7FFFFFFEL, 12345L)
    val b = Seq(0L, p - 1, 1L, 67890L)
    val got = Seq(hs).toDF("h")
      .select(SE.minHashSignature(col("h"), a, b).as("sig"))
      .head.getSeq[Long](0)
    val want = a.indices.map { i =>
      hs.map(h => (a(i) * h + b(i)) % p).min
    }
    assert(got == want)
    // out-of-contract (negative / overflowing) inputs keep Java %
    // semantics: compare against a direct scalar recomputation
    val wild: Seq[Long] = Seq(Long.MaxValue, Long.MinValue, -1L, 1L << 62)
    val gotW = Seq(wild).toDF("h")
      .select(SE.minHashSignature(col("h"), a, b).as("sig"))
      .head.getSeq[Long](0)
    val wantW = a.indices.map { i =>
      wild.map(h => (a(i) * h + b(i)) % p).min
    }
    assert(gotW == wantW)
  }

  test("ShingleWalk table sizing: Long arithmetic, clear error past 2^29 windows") {
    // ADVICE r20: `while (cap < windows * 2)` wrapped Int above 2^29
    // windows and never ended; sizing is now its own function, so the
    // bounds are checked without a multi-GB input
    import ShingleWalk.{tableCapacity, MaxTableCapacity}
    assert(tableCapacity(0) == 16 && tableCapacity(8) == 16)
    assert(tableCapacity(9) == 32 && tableCapacity(1000) == 2048)
    assert(tableCapacity(1 << 28) == (1 << 29))
    assert(tableCapacity((1 << 29) - 1) == MaxTableCapacity)
    assert(tableCapacity(1 << 29) == MaxTableCapacity)
    for (w <- Seq((1 << 29) + 1, 1 << 30, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException](tableCapacity(w))
      assert(e.getMessage.contains("maximum array size"), e.getMessage)
    }
  }

  test("BandKeys: equal band words collide, differing band words (almost surely) do not") {
    val sig1 = (0L until 64L).toArray
    val sig2 = sig1.clone; sig2(10) = 999L // band 5 of 32×2 differs
    val df = Seq((sig1.toSeq, sig2.toSeq)).toDF("s1", "s2")
    val row = df.select(
      SE.bandKeys(SE.packLongs(col("s1")), 32, 2).as("k1"),
      SE.bandKeys(SE.packLongs(col("s2")), 32, 2).as("k2")).head()
    val k1 = row.getSeq[Int](0); val k2 = row.getSeq[Int](1)
    assert(k1.length == 32 && k2.length == 32)
    (0 until 32).foreach { b =>
      if (b == 5) assert(k1(b) != k2(b), s"band $b should differ")
      else assert(k1(b) == k2(b), s"band $b should collide")
    }
  }
}
