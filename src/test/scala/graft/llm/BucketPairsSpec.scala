package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BitwiseCount, Expression}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._

/** Pins [[Dedup.bucketPairs]], the one banded-pair operator, in the
  * shape each of its six callers uses: MinHash bands, the incremental
  * new-vs-index join, SimHash chunks, image dHash chunks, video
  * (frame, chunk) keys and multi-probe cosine buckets. Each fixture
  * forces one bucket over a cap of 3: its members must emit no pairs,
  * and every other bucket's pairs must be exactly those the unfenced
  * join emits. Two plan checks pin the fence and the gate's place in
  * `simHashPairs` and `cosineNearDupsLsh`. */
class BucketPairsSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = 3
  private val NoCap = Int.MaxValue

  private def ids(df: DataFrame, identity: Seq[String]): Set[Seq[Long]] =
    df.select(identity.map(col): _*).collect()
      .map(r => identity.indices.map(i => r.getAs[Number](i).longValue)).toSet

  /** Fenced output == unfenced output minus the hot bucket's pairs. */
  private def assertFence(identity: Seq[String], inHot: Seq[Long] => Boolean)
                         (run: Int => DataFrame): Unit = {
    val all = ids(run(NoCap), identity)
    val fenced = ids(run(Cap), identity)
    assert(all.exists(inHot), s"fixture must pair the hot bucket's members: $all")
    assert(!fenced.exists(inHot), s"hot bucket leaked pairs: $fenced")
    assert(fenced.nonEmpty && fenced == all.filterNot(inHot),
      s"other buckets' pairs changed: $fenced vs $all")
  }

  /** The 4×16-bit pigeonhole chunk rows of (id, hash) pairs. */
  private def chunkRows(hashes: Seq[(Long, Long)], id: String, hash: String): DataFrame =
    hashes.flatMap { case (i, h) => (0 until 4).map(c => (i, h, c, (h >>> (16 * c)) & 0xFFFFL)) }
      .toDF(id, hash, "ci", "cv")

  private def hamming(hash: String) =
    bit_count(col(s"a.$hash").bitwiseXOR(col(s"b.$hash"))).as("hamming")

  test("MinHash bands: a hot (band, bkey) bucket emits no pairs") {
    val rows = (Seq(1L, 2, 3, 4, 5).map((_, 0, 7)) ++ Seq((10L, 0, 8), (11L, 0, 8)) ++
      Seq(12L, 13, 14).map((_, 1, 9)) ++ Seq((15L, 1, 7), (16L, 1, 7)))
      .toDF("doc_id", "band", "bkey")
    assertFence(Seq("id1", "id2"), _.exists(_ <= 5)) { cap =>
      Dedup.bucketPairs(rows, Seq("band", "bkey"), "doc_id", cap)
    }
  }

  test("incremental: occupancy is counted on the index, ids never pair with themselves") {
    val fresh = (Seq((1L, 0, 7), (2L, 0, 7), (3L, 0, 8), (5L, 1, 1)) ++
      Seq(6L, 7, 8, 9).map((_, 2, 2))).toDF("doc_id", "band", "bkey")
    // (0, 7) holds 4 index rows: hot. (2, 2) holds 4 NEW rows but one
    // index row: not hot, because only the index side is counted.
    val index = (Seq(100L, 101, 102, 103).map((_, 0, 7)) ++
      Seq((104L, 0, 8), (5L, 1, 1), (105L, 1, 1), (106L, 2, 2)))
      .toDF("doc_id", "band", "bkey")
    def run(cap: Int) = Dedup.bucketPairs(fresh, Seq("band", "bkey"), "doc_id", cap,
      identity = Seq("new_id", "hist_id"), against = Some(index), idOrder = _ =!= _)
    assertFence(Seq("new_id", "hist_id"), p => p.head <= 2)(run)
    val fenced = ids(run(Cap), Seq("new_id", "hist_id"))
    assert(!fenced.contains(Seq(5L, 5L)), fenced)
    assert(Seq(6L, 7, 8, 9).forall(n => fenced.contains(Seq(n, 106L))), fenced)
  }

  test("SimHash chunks: identical simhashes fill every chunk bucket and emit no pairs") {
    val y = 0x5555666677778888L
    val rows = chunkRows(Seq(1L, 2, 3, 4).map((_, 0x1111222233334444L)) ++
      Seq((10L, y), (11L, y ^ 1L), (12L, y ^ 0xF0000L)), "doc_id", "sh")
    assertFence(Seq("id1", "id2"), _.exists(_ <= 4)) { cap =>
      Dedup.bucketPairs(rows, Seq("ci", "cv"), "doc_id", cap,
        measures = Seq(hamming("sh")), gate = Some(col("hamming") <= 3))
    }
    // the gate drops (10, 12) at Hamming 4 although it shares 3 chunks
    assert(ids(Dedup.bucketPairs(rows, Seq("ci", "cv"), "doc_id", Cap,
      measures = Seq(hamming("sh")), gate = Some(col("hamming") <= 3)),
      Seq("id1", "id2")) == Set(Seq(10L, 11L)))
  }

  test("image chunks: a flat-thumbnail dHash cluster emits no pairs") {
    val h = 0x0123456789ABCDEFL
    val rows = chunkRows(Seq(1L, 2, 3, 4).map((_, 0L)) ++
      Seq((10L, h), (11L, h ^ (1L << 40)), (12L, h ^ 3L)), "hp_id", "hp_hash")
    assertFence(Seq("id1", "id2"), _.exists(_ <= 4)) { cap =>
      Dedup.bucketPairs(rows, Seq("ci", "cv"), "hp_id", cap,
        measures = Seq(hamming("hp_hash")), gate = Some(col("hamming") <= 3))
    }
  }

  test("video (fi, chunk): black lead-in frames are fenced, later frames still pair") {
    val h = 0x0F0F0F0F0F0F0F0FL
    val frames = Seq(1L, 2, 3, 4).map(v => (v, 0, 0L)) ++
      Seq((1L, 1, h), (2L, 1, h ^ 2L), (3L, 1, ~h), (4L, 2, ~h))
    val rows = frames.flatMap { case (v, fi, vh) =>
      (0 until 4).map(c => (v, fi, vh, c, (vh >>> (16 * c)) & 0xFFFFL))
    }.toDF("vid", "fi", "vh", "ci", "cv")
    val identity = Seq("id1", "id2", "fi")
    assertFence(identity, _(2) == 0) { cap =>
      Dedup.bucketPairs(rows, Seq("fi", "ci", "cv"), "vid", cap,
        measures = Seq(col("a.fi").as("fi"), hamming("vh")),
        gate = Some(col("hamming") <= 3), identity = identity)
    }
  }

  test("cosine buckets: a hot exact bucket emits no pairs, probes still reach neighbours") {
    // 3 planes: probes are the exact bucket and its 3 one-bit flips.
    // Bucket 0 (hot) has no occupied neighbour; 6 and 7 are neighbours.
    val exact = (Seq(1L, 2, 3, 4).map(i => (i, Array(1f, 0f), 0)) ++
      Seq((10L, Array(0f, 1f), 7), (11L, Array(0.05f, 1f), 7), (12L, Array(0f, 1f), 6),
        (13L, Array(1f, 0f), 5)))
      .toDF("vec_id", "embedding", "blk")
    val probes = exact.select(col("vec_id"), col("embedding"),
      explode(array(col("blk") +: Seq(1, 2, 4).map(col("blk").bitwiseXOR(_)): _*)).as("blk"))
    assertFence(Seq("id1", "id2"), _.exists(_ <= 4)) { cap =>
      Dedup.bucketPairs(probes, Seq("blk"), "vec_id", cap,
        measures = Seq(graft.functions.VectorFunctions.cosineFast(
          col("a.embedding"), col("b.embedding")).as("s")),
        gate = Some(col("s") >= 0.9), against = Some(exact))
    }
  }

  /** The executed plan's tree: a broadcast left-anti fence, and every
    * node evaluating the gate sits under the dedup exchange (the hash
    * exchange on id1, id2). */
  private def assertFencedAndGatedBelowDedup(df: DataFrame)
                                            (isGate: Expression => Boolean): Unit = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.find {
      case j: BroadcastHashJoinExec => j.joinType == LeftAnti
      case _ => false
    }.isDefined, s"no broadcast left-anti fence:\n$plan")
    val dedup = plan.collectFirst {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == Seq("id1", "id2")
        case _ => false
      }) => e
    }.getOrElse(fail(s"no dedup exchange on (id1, id2):\n$plan"))
    def gates(p: SparkPlan): Boolean = (p match {
      case f: FilterExec => Some(f.condition)
      case j: BaseJoinExec => j.condition
      case _ => None
    }).exists(_.find(isGate).isDefined)
    val gated = plan.collect { case p if gates(p) => p }
    assert(gated.nonEmpty, s"gate not found:\n$plan")
    gated.foreach(g => assert(dedup.find(_ eq g).isDefined, s"gate above the dedup exchange:\n$plan"))
  }

  test("simHashPairs plan: fenced, Hamming gate below the dedup exchange") {
    val docs = graft.core.Tables.documents(spark, sf)
    assertFencedAndGatedBelowDedup(Dedup.simHashPairs(docs, "doc_id", "text", 6)) {
      case _: BitwiseCount => true
      case _ => false
    }
  }

  test("cosineNearDupsLsh plan: fenced, similarity gate below the dedup exchange") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    assertFencedAndGatedBelowDedup(Similarity.cosineNearDupsLsh(emb, 64, 0.35)) {
      case _: graft.functions.CosineSimilarity => true
      case _ => false
    }
  }
}
