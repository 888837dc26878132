package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). LLM-pipeline extension surface (the reference has
  * no vector capability).
  *
  * Two tiers:
  *  - [[bruteTopK]]: exact top-k by cosine — broadcast the (small)
  *    query set against the full corpus; one scan, no shuffle except
  *    the final per-query top-k (`Window` + `row_number`, which AQE
  *    executes as a partial top-k per partition). This is the
  *    correctness baseline and is also the right plan at 100 TB when
  *    the query set is small (queries broadcast; corpus never moves).
  *  - [[lshTopK]]: random-hyperplane LSH — bucket corpus and queries by
  *    sign-pattern, join only matching buckets (plus optional
  *    multi-probe neighbors), then exact-rank within candidates. Scale
  *    path: turns the all-pairs scan into a hash join whose cost tracks
  *    bucket occupancy, not corpus size.
  */
object Similarity {

  /** The shared ranking tail: per-qid top-k by similarity, ties by
    * vec_id, rounded sim. ONE definition so the exact, LSH and
    * quantized paths can never diverge on the ranking contract. */
  private[llm] def rankTopK(sims: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("s").desc, col("vec_id"))
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("vec_id"), col("rank"), round(col("s"), 4).as("sim"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Exact cosine top-k of each query id against the whole corpus
    * (self-pairs excluded). Output: (qid, vec_id, rank, sim). */
  def bruteTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
                fast: Boolean = true): DataFrame = {
    val cosFn: (Column, Column) => Column =
      if (fast) VectorFunctions.cosineFast else VectorFunctions.cosine
    val q = emb.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val sims = emb.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), cosFn(col("qe"), col("embedding")).as("s"))
    rankTopK(sims, k)
  }

  /** (vec_id, qv) int8-blob view of an embedding frame — the form to
    * PERSIST (or write to parquet) when the scan itself should shrink:
    * stored blobs are 8× smaller than array<double> in file, cache
    * and broadcast. Quantizing inline (what [[bruteTopKQuantized]]
    * does when handed raw embeddings) shrinks only the broadcast and
    * the per-pair compute, not the source scan. */
  def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      VectorFunctions.quantizeInt8(col("embedding")).as("qv"))

  /** [[bruteTopK]] over int8 blobs, ranked with the codegen'd integer
    * cosine — per-vector scales cancel, so nothing dequantizes.
    * Accepts either raw embeddings (quantizes on the fly) or a
    * pre-quantized [[quantized]] frame (the stored-blob scan path).
    * Approximate only through rounding; recall vs the exact ranking
    * is pinned in `QuantizedSimSpec`. */
  def bruteTopKQuantized(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val qz = if (emb.columns.contains("qv")) emb else quantized(emb)
    val q = qz.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("qv").as("qqv"))
    val sims = qz.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosineInt8(col("qqv"), col("qv")).as("s"))
    rankTopK(sims, k)
  }

  /** Default number of random hyperplanes (bucket bits = 2^planes
    * buckets). A selectivity knob: candidates per probe scale with
    * corpus/2^planes, so raise it as the corpus grows (e.g. ~20 at
    * 100 TB for million-row buckets) and lower it for small or weakly
    * clustered corpora where recall matters more than pruning. */
  val DefaultPlanes = 8

  /** Deterministic pseudo-random hyperplanes (seeded), dim `d`. */
  private def planes(d: Int, n: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(n)(Array.fill(d)(rnd.nextGaussian()))
  }

  /** The exact plane values [[lshBucket]] uses — exported so an oracle
    * can recompute the same buckets in another engine (the family is
    * seeded, so these are stable across runs and JVMs). */
  def planeFamily(d: Int, n: Int): Array[Array[Double]] = planes(d, n)

  /** Sign-pattern bucket id of an embedding under the hyperplanes.
    * Fails loudly when the embedding length doesn't match `dim` —
    * zip_with would otherwise null-pad, fold every projection to null,
    * and silently collapse all mismatched vectors into bucket 0. */
  def lshBucket(emb: Column, dim: Int, nPlanes: Int = DefaultPlanes): Column = {
    val ps = planes(dim, nPlanes)
    val bits = (0 until nPlanes).map { i =>
      val p = array(ps(i).toIndexedSeq.map(lit): _*)
      val proj = aggregate(zip_with(VectorFunctions.toDoubleArray(emb), p, (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)
      when(proj >= 0, lit(1 << i)).otherwise(lit(0))
    }
    when(size(emb) === dim, bits.reduce(_ + _))
      .otherwise(raise_error(concat(
        lit("lshBucket: embedding length "), size(emb).cast("string"),
        lit(s" != expected dim $dim"))))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, blocked
    * by a caller-supplied coarse key (`blockCol`, e.g. a cluster or
    * semantic label): exact within blocks, but the pair space is
    * (block size)² — with a coarse key (few labels) each block is a
    * corpus-sized all-pairs join. **Scale default is
    * [[cosineNearDupsLsh]]**, which blocks by hyperplane LSH bucket so
    * block occupancy — and hence the pair space — shrinks
    * geometrically with `nPlanes`. Use this variant only when the
    * block key is known to be fine-grained.
    *
    * Guard: any block larger than `maxBlockSize` FAILS the job inside
    * the plan (raise_error) instead of silently running its quadratic
    * join — cannot drop or truncate, because this variant's contract
    * is exactness within blocks; the fix at that point is the LSH
    * sibling, not a bigger cluster. */
  def cosineNearDups(emb: DataFrame, blockCol: String, threshold: Double,
                     maxBlockSize: Int = 100000): DataFrame = {
    val sizes = emb.groupBy(col(blockCol).as("blk")).agg(count(lit(1)).as("__bc"))
    val guard = when(col("__bc") <= maxBlockSize, col("id1"))
      .otherwise(raise_error(concat(
        lit(s"cosineNearDups: block '"), col("blk").cast("string"),
        lit(s"' has "), col("__bc").cast("string"),
        lit(s" members (> maxBlockSize=$maxBlockSize), i.e. "),
        // the offending block's OWN pair count n(n-1)/2, not the
        // maxBlockSize bound — the message sizes the actual problem
        (col("__bc") * (col("__bc") - 1) / 2).cast("string"),
        lit(" candidate pairs - use cosineNearDupsLsh at this scale"))))
    val a = emb.select(col("vec_id").as("id1"), col("embedding").as("e1"), col(blockCol).as("blk"))
      .join(sizes, Seq("blk")).withColumn("id1", guard).drop("__bc")
    val b = emb.select(col("vec_id").as("id2"), col("embedding").as("e2"), col(blockCol).as("blk"))
    a.join(b, Seq("blk"))
      .where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        VectorFunctions.cosineFast(col("e1"), col("e2")).as("s"))
      .where(col("s") >= threshold)
      .select(col("id1"), col("id2"), round(col("s"), 4).as("sim"))
  }

  /** Near-dup pairs blocked by hyperplane LSH bucket — the scale-safe
    * default: no trusted caller key, block occupancy ~ corpus/2^nPlanes.
    * One side is exploded to its exact bucket plus all single-bit
    * flips (multi-probe), so pairs split by exactly one hyperplane are
    * still compared; pairs differing in ≥2 sign bits are the LSH
    * recall loss (rare at near-dup similarity: P(plane splits a pair)
    * = angle/π ≈ 0.14 at cos 0.9, so P(≥2 of 8 planes split) is
    * small). Exact buckets larger than [[Dedup.DefaultMaxBucketSize]]
    * are fenced by [[Dedup.bucketPairs]] (no pair forms through
    * them), so candidate volume is bounded by (nPlanes+1)·corpus·cap,
    * never corpus². Output: (id1, id2, sim), id1 < id2,
    * sim ≥ threshold.
    *
    * `scopeCols` (optional) join the bucket key: pairs form only
    * WITHIN equal scope values — the language-/tenant-/shard-scoped
    * dedup a multilingual corpus runs ("near-dups within each
    * language, never across"), which also shrinks bucket occupancy by
    * the scope's cardinality. Scope columns must exist in `emb`. */
  def cosineNearDupsLsh(emb: DataFrame, dim: Int, threshold: Double,
                        nPlanes: Int = DefaultPlanes,
                        scopeCols: Seq[String] = Nil): DataFrame = {
    // The bucketed frame feeds BOTH sides of the pair self-join:
    // persist so the corpus is scanned and bucketed once. The cache is
    // released by Spark's ContextCleaner when the result frame is no
    // longer referenced (same contract as Dedup.minHashCandidates);
    // callers running repeated near-dup rounds over one corpus should
    // bucket once themselves and manage the persistence lifecycle
    // explicitly.
    val b = emb.withColumn("blk", lshBucket(col("embedding"), dim, nPlanes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exact = b.select(col("vec_id") +: col("embedding") +: col("blk") +:
      scopeCols.map(col): _*)
    val probes = b.select(col("vec_id") +: col("embedding") +:
      explode(array((col("blk") +: (0 until nPlanes).map(i =>
        col("blk").bitwiseXOR(lit(1 << i)))): _*)).as("blk") +:
      scopeCols.map(col): _*)
    // Occupancy is counted on the exact buckets. The similarity gate
    // runs before the multi-probe dedup, so its exchange carries 3
    // scalars per surviving pair, not two dim-length arrays (~40× less
    // at dim=64; pinned by LshNearDupSpec).
    Dedup.bucketPairs(probes, "blk" +: scopeCols, "vec_id", Dedup.DefaultMaxBucketSize,
        measures = Seq(VectorFunctions.cosineFast(col("a.embedding"), col("b.embedding")).as("s")),
        gate = Some(col("s") >= threshold), against = Some(exact))
      .select(col("id1"), col("id2"), round(col("s"), 4).as("sim"))
  }

  /** LSH-bucketed ANN top-k: candidates = corpus rows in any of the
    * query's probe buckets (exact bucket + single-bit flips when
    * `multiProbe`), ranked exactly within candidates. Recall < 1 by
    * construction; tune `nPlanes`/`multiProbe` per corpus. */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int, dim: Int,
              multiProbe: Boolean = true, nPlanes: Int = DefaultPlanes): DataFrame = {
    val bucketed = emb.withColumn("bucket", lshBucket(col("embedding"), dim, nPlanes))
    val probes: Column => Column = b =>
      if (multiProbe) array((b +: (0 until nPlanes).map(i => b.bitwiseXOR(lit(1 << i)))): _*)
      else array(b)
    val q = bucketed.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(probes(col("bucket"))).as("bucket"))
    val cands = bucketed.join(broadcast(q), Seq("bucket"))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorFunctions.cosineFast(col("qe"), col("embedding")).as("s"))
      .dropDuplicates("qid", "vec_id")
    rankTopK(cands, k)
  }
}
