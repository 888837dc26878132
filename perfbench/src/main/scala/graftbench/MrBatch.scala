package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.agg.ValueAggregators
import graft.jobs.{Jobs, TeraSort}
import graft.ops.{DataJoin, SecondarySort}
import Util._

/** The Hadoop canon on seeded data: TeraSort with TeraValidate and a
  * parquet sink, WordCount over Zipf text, a reduce-side tagged join,
  * a secondary sort and a descriptor aggregation over skewed
  * key/value data. Wide uniform rows, exchange- and sort-bound, with
  * almost no text kernels. */
object MrBatch extends Workload {
  val name = "mr_batch"

  private val TeraRows = 200000
  private val TextDocs = 8000
  private val Vocab = 20000
  private val JoinKeys = 6000
  private val Parts = 8

  private def in(dir: File, t: String) = new File(dir, s"in/$t").getPath
  private def exp(dir: File, t: String) = new File(dir, s"expected/$t")

  def setup(spark: SparkSession, dir: File, seed: Long, scale: Double): Unit = {
    import spark.implicits._
    val rows = math.max(1000L, (TeraRows * scale).toLong)
    // TeraGen, seeded: 10-hex-char key, 90-char payload
    val tera = spark.range(0, rows, 1, Parts).select(
      substring(md5(concat(lit(s"$seed:"), col("id").cast("string"))), 1, 10).as("key"),
      rpad(concat(lit(s"row-$seed-"), col("id").cast("string")), 90, "x").as("value"))
    tera.write.parquet(in(dir, "teragen"))
    val written = spark.read.parquet(in(dir, "teragen"))
    val checksum = written.select(xxhash64(col("key"), col("value"))).as[Long]
      .rdd.fold(0L)(_ ^ _)

    // WordCount text: Zipf words, 20-59 per document
    val r = new java.util.Random(seed)
    val vocab = vocabulary(Vocab, r)
    val zipf = new Zipf(Vocab, 1.0)
    val counts = mutable.HashMap.empty[String, Long]
    val docs = (0 until math.max(50, (TextDocs * scale).toInt)).map { d =>
      val ws = Array.fill(20 + r.nextInt(40))(vocab(zipf.sample(r)))
      ws.foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1)
      (d.toLong, ws.mkString(" "))
    }
    spark.sparkContext.parallelize(docs, Parts).toDF("doc_id", "text").write.parquet(in(dir, "text"))
    writeLines(exp(dir, "wordcount.tsv"),
      counts.toSeq.sortBy { case (w, c) => (-c, w) }.map { case (w, c) => s"$w\t$c" })

    // skewed key/value sources A and B; a key holds at most 90 values
    // in total, so the join's per-key value cap never drops a value
    val a = mutable.ArrayBuffer.empty[(Long, Long)]
    val b = mutable.ArrayBuffer.empty[(Long, Long)]
    val keyZipf = new Zipf(60, 1.2)
    for (k <- 0L until math.max(100L, (JoinKeys * scale).toLong)) {
      val na = 1 + keyZipf.sample(r)
      val nb = r.nextInt(1 + math.min(30, 90 - na))
      for (_ <- 0 until na) a += ((k, r.nextInt(Int.MaxValue).toLong))
      for (_ <- 0 until nb) b += ((k, r.nextInt(Int.MaxValue).toLong))
    }
    spark.sparkContext.parallelize(a.toSeq, Parts).toDF("key", "v").write.parquet(in(dir, "kv_a"))
    spark.sparkContext.parallelize(b.toSeq, Parts).toDF("key", "v").write.parquet(in(dir, "kv_b"))
    val aBy = a.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSeq }
    val bBy = b.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSeq }
    var joinRows = 0L; var joinSum = 0L
    for ((k, as) <- aBy; bs <- bBy.get(k); x <- as; y <- bs) {
      joinRows += 1; joinSum += mix(k, x, y)
    }
    var sortSum = 0L; var aggSum = 0L
    for ((k, vs) <- aBy) {
      sortSum += mix(k, vs.size.toLong, vs.max)
      aggSum += mix(mix(k, vs.sum, vs.size.toLong), vs.max, vs.min)
    }
    writeProps(exp(dir, "expected.properties"), Seq(
      "tera_rows" -> rows, "tera_checksum" -> checksum,
      "join_rows" -> joinRows, "join_sum" -> joinSum,
      "sort_keys" -> aBy.size, "sort_sum" -> sortSum,
      "agg_keys" -> aBy.size, "agg_sum" -> aggSum))
  }

  def pass(spark: SparkSession, dir: File, spans: Spans, checks: Checks): Unit = {
    import spark.implicits._
    val e = readProps(exp(dir, "expected.properties")).map { case (k, v) => k -> v.toLong }
    val out = new File(dir, "out/terasort").getPath

    // TeraSort: sort (materialized once), TeraValidate on the sorted
    // rows, parquet sink of the same rows, read-back content check
    checks.job("terasort") {
      val sorted = TeraSort.sort(spark.read.parquet(in(dir, "teragen")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val n = spans("jobs.terasort.sort") { sorted.count() }
        spans.put("jobs.terasort.sort", "rows_out", n.toDouble)
        val (rows, sum) = spans("jobs.terasort.validate") {
          TeraSort.validate(sorted, e("tera_checksum"), e("tera_rows"))
        }
        spans.put("jobs.terasort.validate", "rows_out", rows.toDouble)
        spans("sink.parquet") { sorted.write.mode("overwrite").parquet(out) }
        spans.put("sink.parquet", "rows_out", n.toDouble)
        spans.put("sink.parquet", "write_mb", sizeMb(new File(out)))
        val back = spans("bench.check") {
          spark.read.parquet(out).select(xxhash64(col("key"), col("value"))).as[Long]
            .rdd.fold(0L)(_ ^ _)
        }
        rows == e("tera_rows") && sum == e("tera_checksum") && back == sum
      } finally sorted.unpersist()
    }

    checks.job("wordcount") {
      val expected = readLines(exp(dir, "wordcount.tsv")).map { l =>
        val Array(w, c) = l.split("\t"); (w, c.toLong)
      }
      val got = spans("jobs.wordcount") {
        Jobs.wordCount(spark.read.parquet(in(dir, "text")), col("text"))
          .as[(String, Long)].collect().toVector
      }
      spans.put("jobs.wordcount", "rows_out", got.size.toDouble)
      got == expected
    }

    val a = spark.read.parquet(in(dir, "kv_a"))
    checks.job("datajoin") {
      val b = spark.read.parquet(in(dir, "kv_b"))
      def tag(df: DataFrame, t: String) = df.select(col("key"), lit(t).as("tag"), col("v"))
      val tagged = tag(a, "A").unionByName(tag(b, "B")).as[(Long, String, Long)]
      val (n, sum) = spans("ops.datajoin") {
        digest(DataJoin.taggedJoin(tagged, maxValuesPerKey = 100L) {
          (k: Long, tags: IndexedSeq[String], vs: IndexedSeq[Long]) =>
            if (tags.size == 2) Some((k, vs(0), vs(1))) else None
        })(t => mix(t._1, t._2, t._3))
      }
      spans.put("ops.datajoin", "rows_out", n.toDouble)
      n == e("join_rows") && sum == e("join_sum")
    }

    checks.job("secondarysort") {
      val (n, sum) = spans("ops.secondarysort") {
        // values arrive per key in descending order: the first is the
        // max and the sequence never rises
        digest(SecondarySort.groupedSorted(a, "key", Seq(col("v").desc), Parts)(
          r => r.getLong(0),
          (k: Long, it: Iterator[org.apache.spark.sql.Row]) => {
            var count = 0L; var first = 0L; var prev = Long.MaxValue; var ok = true
            it.foreach { r =>
              val v = r.getLong(1)
              if (count == 0) first = v
              if (v > prev) ok = false
              prev = v; count += 1
            }
            Iterator.single((k, count, first, ok))
          }))(t => if (t._4) mix(t._1, t._2, t._3) else 0L)
      }
      spans.put("ops.secondarysort", "rows_out", n.toDouble)
      n == e("sort_keys") && sum == e("sort_sum")
    }

    checks.job("aggregate") {
      val (n, sum) = spans("agg.aggregate") {
        digest(ValueAggregators.aggregate(a, Seq("key"),
            Seq("sum:v:s", "count:v:c", "max:v:mx", "min:v:mn"))
          .as[(Long, Long, Long, Long, Long)])(t => mix(mix(t._1, t._2, t._3), t._4, t._5))
      }
      spans.put("agg.aggregate", "rows_out", n.toDouble)
      n == e("agg_keys") && sum == e("agg_sum")
    }
  }
}
