package graftbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec}
import org.apache.spark.storage.StorageLevel
import graft.llm.{Dedup, SetSimJoin}
import Util._

/** A seeded web-like corpus: Zipf vocabulary, planted near-duplicate
  * clusters at known word-3-gram Jaccard values, and a boilerplate
  * footer shared by a fixed share of documents (the hot token behind
  * the per-token posting-list skew). Runs MinHash-LSH verified pairs,
  * connected components over them, and the exact set-similarity join.
  * Sketch kernels, candidate generation and narrow skewed pair
  * exchanges dominate. */
object NearDupCorpus extends Workload {
  val name = "neardup_corpus"

  private val Docs = 700
  private val Vocab = 50000
  private val FooterShare = 0.3
  private val ClusterShare = 0.25
  /** Word edits per variant; 100-word documents land near Jaccard
    * 0.9, 0.75, 0.6, 0.5, 0.4 and 0.3. */
  private val Edits = Array(1, 3, 6, 8, 10, 14)
  private val N = 3

  private def exp(dir: File, t: String) = new File(dir, s"expected/$t")
  private def corpus(dir: File) = new File(dir, "in/corpus").getPath

  /** Distinct word 3-grams — the shingle sets both join operators compare. */
  private def shingles(words: Array[String]): Set[String] =
    words.sliding(N).map(_.mkString(" ")).toSet

  def setup(spark: SparkSession, dir: File, seed: Long, scale: Double): Unit = {
    import spark.implicits._
    val r = new java.util.Random(seed)
    val vocab = vocabulary(Vocab, r)
    val zipf = new Zipf(Vocab, 1.0)
    val footer = Array.fill(15)(vocab(r.nextInt(Vocab)))
    def body(): Array[String] = Array.fill(60 + r.nextInt(60))(vocab(zipf.sample(r)))
    val n = math.max(200, (Docs * scale).toInt)
    val docs = mutable.ArrayBuffer.empty[(Array[String], Int)] // (words, cluster or -1)
    var cluster = 0
    while (docs.size < n) {
      val base = body() ++ (if (r.nextDouble() < FooterShare) footer else Array.empty[String])
      if (r.nextDouble() < ClusterShare) {
        docs += ((base, cluster))
        for (_ <- 0 until 1 + r.nextInt(4)) {
          val v = base.clone()
          for (_ <- 0 until Edits(r.nextInt(Edits.length)))
            v(r.nextInt(v.length)) = vocab(r.nextInt(Vocab))
          docs += ((v, cluster))
        }
        cluster += 1
      } else docs += ((base, -1))
    }
    // ids in shuffled order, so clusters are not contiguous
    val order = scala.util.Random.javaRandomToRandom(r).shuffle(docs.indices.toVector)
    val byId = order.map(docs(_))
    byId.zipWithIndex.map { case ((ws, _), id) => (id.toLong, ws.mkString(" ")) }
      .toDF("id", "text").write.parquet(corpus(dir))

    // exact Jaccard of every within-cluster pair; other pairs share
    // only the footer and chance 3-grams, far below the threshold
    val sets = byId.map { case (ws, _) => shingles(ws) }
    val expected = byId.zipWithIndex.filter(_._1._2 >= 0).groupBy(_._1._2).values.toSeq
      .flatMap { members =>
        val ids = members.map(_._2).sorted
        for (i <- ids; j <- ids if i < j) yield {
          val inter = (sets(i) intersect sets(j)).size
          (i, j, inter, sets(i).size, sets(j).size)
        }
      }
      .filter { case (_, _, inter, n1, n2) => 2 * inter >= n1 + n2 - inter }
      .sortBy(p => (p._1, p._2))
    writeLines(exp(dir, "pairs.tsv"), expected.map(_.productIterator.mkString("\t")))
  }

  def pass(spark: SparkSession, dir: File, spans: Spans, checks: Checks): Unit = {
    import spark.implicits._
    val expected = readLines(exp(dir, "pairs.tsv")).map { l =>
      val Array(a, b, i, n1, n2) = l.split("\t").map(_.toLong); (a, b, i, n1, n2)
    }
    val expectedJ = expected.map { case (a, b, i, n1, n2) =>
      (a, b) -> BigDecimal(i.toDouble / (n1 + n2 - i)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val docs = spark.read.parquet(corpus(dir))

    var candPairs = 0L
    if (spans.enabled) {
      // the stages minHashVerifiedPairs runs internally, as separate
      // calls: the sketch pass, and LSH candidates over the public
      // signature and band-table functions with the same 32x2 banding
      spans("functions.sketch") {
        Dedup.sketchFrame(docs, "id", "text", N).write.format("noop").mode("overwrite").save()
      }
      spans.put("functions.sketch", "rows_out", docs.count().toDouble)
      val sigs = Dedup.signatures(docs, "id", "text", N).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val cand = spans("llm.dedup.candidates") {
          Dedup.bandedPairs(sigs, 32, 2, Dedup.DefaultMaxBucketSize).count()
        }
        // pair emissions before de-duplication: k(k-1)/2 per bucket
        val emitted = spans("bench.check") {
          Dedup.bandRows(sigs, 32, 2).groupBy("band", "bkey").count()
            .where(col("count") <= Dedup.DefaultMaxBucketSize)
            .select(sum(col("count") * (col("count") - 1) / 2).cast("double")).as[Double].head()
        }
        candPairs = cand
        spans.put("llm.dedup.candidates", "rows_out", cand.toDouble)
        spans.put("llm.dedup.candidates", "cand_pairs", cand.toDouble)
        spans.put("llm.dedup.candidates", "band_rows", emitted)
        spans.put("llm.dedup.candidates", "emit_factor", emitted / math.max(1L, cand))
      } finally sigs.unpersist()
    }

    var found: Seq[(Long, Long)] = Nil
    checks.job("minhash_verified") {
      val got = spans("llm.dedup.verified") {
        Dedup.minHashVerifiedPairs(docs, "id", "text", N, 0.5)
          .as[(Long, Long, Double)].collect().toVector
      }
      spans.put("llm.dedup.verified", "rows_out", got.size.toDouble)
      spans.put("llm.dedup.verified", "out_pairs", got.size.toDouble)
      spans.put("llm.dedup.verified", "verify_yield", got.size.toDouble / math.max(1L, candPairs))
      found = got.map(p => (p._1, p._2))
      val hits = got.count(p => expectedJ.get((p._1, p._2)).contains(p._3))
      checks.recall(hits, expected.size)
      // every pair found is planted with its exact Jaccard; the LSH
      // stage may miss a planted pair (counted in dedup_recall only)
      hits == got.size && found.distinct.size == got.size
    }

    checks.job("components") {
      val pairs = found.toDF("id1", "id2")
      val got = spans("llm.dedup.components") {
        Dedup.components(pairs).as[(Long, Long)].collect().toMap
      }
      spans.put("llm.dedup.components", "rows_out", got.size.toDouble)
      got == unionFind(found)
    }

    checks.job("setsim") {
      val got = spans("llm.setsim") {
        SetSimJoin.jaccardPairs(docs, "id", "text", 1, 2, ngram = N)
          .as[(Long, Long, Long, Long, Long)].collect().toVector.sortBy(p => (p._1, p._2))
      }
      spans.put("llm.setsim", "rows_out", got.size.toDouble)
      spans.put("llm.setsim", "out_pairs", got.size.toDouble)
      // rows entering the exact verification, read from the SQL
      // metrics of the operator applying the intersect count: a filter,
      // or the join the optimizer pushed that predicate into
      val verifyIn = spans.plans("llm.setsim").flatMap(Tracer.nodes).collectFirst {
        case f: FilterExec if f.condition.sql.contains(VerifyFn) => rowsInto(f.child)
        case j: ShuffledHashJoinExec if j.condition.exists(_.sql.contains(VerifyFn)) =>
          rowsInto(if (j.buildSide == BuildLeft) j.right else j.left)
        case j: BaseJoinExec if j.condition.exists(_.sql.contains(VerifyFn)) => rowsInto(j.left)
      }.flatten
      verifyIn.foreach(n => spans.put("llm.setsim", "verify_in_rows", n.toDouble))
      got == expected
    }
  }

  private val VerifyFn = "sorted_intersect_count"

  /** Rows produced by the nearest node at or below `p` that counts them. */
  private def rowsInto(p: SparkPlan): Option[Long] =
    Iterator.iterate(p)(Tracer.children(_).headOption.orNull).takeWhile(_ != null)
      .flatMap(n => Tracer.metric(n, "numOutputRows").orElse(Tracer.metric(n, "shuffleRecordsWritten")))
      .nextOption()

  /** Connected components by union-find: id -> smallest id of its component. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
