package graft

import org.apache.spark.sql.functions._

/** Byte-exact parity pin for the [[TagWords]] fixture kernel against
  * the r19 `regexp_replace(text, "(\\S+)", concat("r", rep, "x$1"))`
  * form it replaces: the four x10 bench entries' inputs must be
  * IDENTICAL to r19's or their scale-trend numbers measure a
  * different corpus. */
class BenchFixtureSpec extends SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox",
    "",
    " ",
    "  leading and  double  gaps trailing ",
    "tabs\tsplit\twords\ttoo",
    "newlines\nare\nseparators",
    "\r vertical formfeed cr",
    "unicode café straße 你好",
    "emoji 😀 run",
    "one",
    "punct!only?  $1 backref-bait \\S")

  test("TagWords is byte-exact with the regexp_replace form") {
    val df = texts.toDF("text")
      .crossJoin(spark.range(10).select(col("id").as("rep")))
    val bad = df.select(
        TagWords(col("text"), col("rep")).as("native"),
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("r"), col("rep"), lit("x$1"))).as("regex"))
      .where(!(col("native") <=> col("regex")))
    assert(bad.count() == 0, bad.collect().take(5).mkString("\n"))
  }

  test("TagWords matches on the fixture corpus itself") {
    val docs = graft.core.Tables.documents(spark, sf).limit(200)
      .crossJoin(spark.range(3).select(col("id").as("rep")))
    val bad = docs.select(
        TagWords(col("text"), col("rep")).as("native"),
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("r"), col("rep"), lit("x$1"))).as("regex"))
      .where(!(col("native") <=> col("regex")))
    assert(bad.count() == 0)
  }

  test("x10 fixtures hold the same rows at 4 and at 32 partitions") {
    val fixtures = Seq(
      "docsX10" -> ((p: Int) => Bench.docsX10(spark, sf, p)),
      "embX10" -> ((p: Int) => Bench.embX10(spark, sf, p)))
    for ((name, fx) <- fixtures) {
      val (at4, at32) = (fx(4), fx(32))
      assert(at4.rdd.getNumPartitions == 4, name)
      assert(at32.rdd.getNumPartitions == 32, name)
      assert(at4.count() == at32.count(), name)
      assert(at4.exceptAll(at32).isEmpty && at32.exceptAll(at4).isEmpty, name)
    }
  }

  test("TagWords null text yields null") {
    val df = Seq[(Option[String], Long)]((None, 1L)).toDF("text", "rep")
    assert(df.select(TagWords(col("text"), col("rep"))).head.isNullAt(0))
  }

  test("warc stream fixture: file 0 matches the bytes of its hand-framed writer") {
    // SHA-256 over an 8-byte big-endian length and the bytes (the
    // FixtureBytesSpec convention), taken from the writer that framed
    // each record by hand before it moved onto SparkEntry's framer
    val b = Bench.warcStreamBytes(0L)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(java.nio.ByteBuffer.allocate(8).putLong(b.length.toLong).array())
    md.update(b)
    assert(b.length == 4068864)
    assert(md.digest().map(x => f"${x & 0xff}%02x").mkString ==
      "4cd0f04f959e8c95cd292acfd5ceb33ce015affe670bc6d5cc44e60c82dea68e")
  }
}
