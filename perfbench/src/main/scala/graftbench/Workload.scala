package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{Dataset, SparkSession}

/** One benchmark workload: untimed input generation with expected
  * outputs written beside the inputs, and a pass that runs the
  * engine's public calls over those inputs and checks every output. */
trait Workload {
  def name: String

  /** Writes the seeded inputs under `dir/in` and the expected outputs
    * under `dir/expected`. `scale` shrinks the inputs (the self-test
    * runs at a tiny scale). */
  def setup(spark: SparkSession, dir: File, seed: Long, scale: Double): Unit

  /** One closed-loop pass: each call waits for its result, which is
    * checked against the expected outputs under `dir/expected`. */
  def pass(spark: SparkSession, dir: File, spans: Spans, checks: Checks): Unit
}

object Workload {
  val all: Seq[Workload] = Seq(MrBatch, LlmCorpus)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** The LLM-curation half of the engine in one workload: the crawl
  * pipeline ([[CrawlCurate]]) and the near-duplicate corpus
  * ([[NearDupCorpus]]) run one after the other in every pass, each on
  * its own inputs under its own directory. */
object LlmCorpus extends Workload {
  val name = "llm_corpus"
  private val parts = Seq(CrawlCurate, NearDupCorpus)

  def setup(spark: SparkSession, dir: File, seed: Long, scale: Double): Unit =
    parts.foreach(p => p.setup(spark, new File(dir, p.name), seed, scale))

  def pass(spark: SparkSession, dir: File, spans: Spans, checks: Checks): Unit =
    parts.foreach(p => p.pass(spark, new File(dir, p.name), spans, checks))
}

/** Outcome of every checked job: attempted, failed (threw or failed
  * its output check), and the planted near-duplicate pairs MinHash
  * found out of those expected (`dedup_recall`). */
final class Checks {
  var attempted = 0L
  var failed = 0L
  var recallFound = 0L
  var recallExpected = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Runs one job; it fails if it throws or `body` returns false. */
  def job(name: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case NonFatal(e) =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
        false
    }
    if (!ok) {
      failed += 1
      if (!failures.lastOption.exists(_.startsWith(name + ":")))
        failures += s"$name: output differs from the expected output"
    }
  }

  def recall(found: Long, expected: Long): Unit = {
    recallFound += found; recallExpected += expected
  }
}

object Util {
  /** 64-bit finalizer (splitmix64) for order-free output digests. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def mix(a: Long, b: Long): Long = mix(mix(a) ^ b)
  def mix(a: Long, b: Long, c: Long): Long = mix(mix(a, b) ^ c)

  /** (row count, wrapping sum of `f` over rows) in one action. */
  def digest[T](ds: Dataset[T])(f: T => Long): (Long, Long) =
    ds.rdd.mapPartitions { it =>
      var n = 0L; var s = 0L
      it.foreach { t => n += 1; s += f(t) }
      Iterator.single((n, s))
    }.collect().foldLeft((0L, 0L)) { case ((n, s), (a, b)) => (n + a, s + b) }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def sizeMb(f: File): Double = {
    def bytes(x: File): Long =
      if (x.isDirectory) Option(x.listFiles).map(_.map(bytes).sum).getOrElse(0L)
      else x.length
    bytes(f) / 1048576.0
  }

  def writeLines(f: File, lines: Iterable[String]): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  def readLines(f: File): Vector[String] =
    new String(Files.readAllBytes(f.toPath), UTF_8).split("\n").filter(_.nonEmpty).toVector

  /** Expected scalar outputs, one `key=value` per line. */
  def writeProps(f: File, kv: Seq[(String, Any)]): Unit =
    writeLines(f, kv.map { case (k, v) => s"$k=$v" })

  def readProps(f: File): Map[String, String] =
    readLines(f).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap

  /** The self-test's negative control: perturbs every expected-output
    * file in an `expected` directory under `dir` (a table loses its first row, a
    * properties file's first value grows by one), so a live check fails. */
  def corruptExpected(dir: File): Unit =
    expectedFiles(dir).foreach { f =>
      val lines = readLines(f)
      if (f.getName.endsWith(".properties")) {
        val (k, v) = lines.head.splitAt(lines.head.indexOf('=') + 1)
        writeLines(f, (k + (BigDecimal(v) + 1)) +: lines.tail)
      } else writeLines(f, lines.drop(1))
    }

  private def expectedFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.getName == "expected") Option(f.listFiles).toSeq.flatten
      else if (f.isDirectory) expectedFiles(f) else Nil
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Seeded Zipf sampler over ranks 0 until n (exponent s). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** `n` distinct seeded lowercase pseudo-words of 3 to 9 letters. */
  def vocabulary(n: Int, r: java.util.Random): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      seen += new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    seen.toArray
  }
}
