package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One Lloyd (k-means) iteration over an embedding column, built so a
  * second engine can replay it bit-for-bit — the distributed-ML step a
  * training-data pipeline runs for cluster-balanced sampling or coarse
  * IVF codebook training ([[Ivf]] consumes exactly such centroids).
  *
  * Determinism strategy: embeddings quantize to integer grids
  * (round(e·scale)), centroids stay as EXACT integer (sum, count)
  * pairs — never a floating mean — and the squared distance
  *   ‖x‖² − 2(x·S)/n + ‖S‖²/n²
  * is evaluated from integer dot products in a fixed operation order,
  * so every divide/add is the same IEEE-754 double on any engine.
  * Ties broken by centroid id. No floating aggregation anywhere: the
  * only SUMs are over longs (order-free), the doubles appear in
  * per-row scalar expressions only.
  *
  * Scale posture: one shuffle (the d·k-cell centroid aggregate, map-
  * side combined); assignment is map-only against the BROADCAST k×d
  * centroid table — vectors never shuffle, and the k·d cells are
  * orders of magnitude below any data size. 100 TB of vectors is one
  * pass + a broadcast, per iteration.
  *
  * Reference capability twin: iterative cluster assignment jobs users
  * chained as MapReduce rounds (driver re-submitting with the previous
  * round's centroid file in the DistributedCache — the
  * hadoop-mapreduce-client-core DistributedCache.java:65 idiom);
  * here the "cache file" is a broadcast frame and the round is one
  * declarative plan.
  */
object Clustering {

  /** Integer-grid quantization of a float/double array column. */
  def quantize(vec: Column, scale: Int): Column =
    transform(vec, e => round(e.cast("double") * scale).cast("long"))

  private def dotL(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  /** Result of [[lloyd]]: the final per-vector assignment, the final
    * centroids as doubles (S/n — the form [[Ivf]] consumes), how many
    * rounds ran, and whether the state reached its fixed point before
    * `maxIter`. `release()` unpersists the internal quantized-corpus
    * cache `assign` is rooted at — call it once `assign` is
    * materialized (or unused, e.g. a centroids-only [[Pq.train]]);
    * before that, releasing would force downstream actions to re-read
    * and re-quantize the corpus. */
  case class LloydResult(assign: DataFrame, centroids: Map[Long, Array[Double]],
                         rounds: Int, converged: Boolean,
                         release: () => Unit = () => ())

  /** Run one assignment step: seed centroids from `labelCol` (the
    * previous iteration's assignment), return one row per vector with
    * the previous and the newly assigned centroid label.
    *
    * Output: (idCol, labelCol, assigned) — `assigned` is the id of
    * the nearest seed-centroid under the quantized metric. */
  def lloydStep(emb: DataFrame, idCol: String, vecCol: String,
                labelCol: String, dim: Int, scale: Int = 1000): DataFrame = {
    val guarded = when(size(col(vecCol)) === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit("lloydStep: embedding length "), size(col(vecCol)).cast("string"),
        lit(s" != expected dim $dim"))))
    val qv = emb.select(col(idCol), col(labelCol).cast("long").as("__old"),
      quantize(guarded, scale).as("__q"))

    // exact integer centroids: per-(label, position) sums — d·k cells,
    // map-side combined — plus per-label counts; rebuilt as an array
    // ordered by position so the dot product below is one fused pass
    val cells = qv.select(col("__old").as("__c"), posexplode(col("__q")))
      .groupBy("__c", "pos").agg(sum("col").as("s"))
    val cent = cells.groupBy("__c")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        p => p.getField("s")).as("__sv"))
    val counts = qv.groupBy(col("__old").as("__c")).agg(count(lit(1)).as("__n"))

    // fixed-order scalar double math over exact integer dots: identical
    // IEEE results on any engine, so argmin (tie → lowest centroid id)
    // is portable
    val nD = col("__n").cast("double")
    val dist = col("__xx").cast("double") -
      (lit(2.0) * dotL(col("__q"), col("__sv")).cast("double")) / nD +
      dotL(col("__sv"), col("__sv")).cast("double") / (nD * nD)
    val scored = qv.withColumn("__xx", dotL(col("__q"), col("__q")))
      .crossJoin(broadcast(cent))
      .join(broadcast(counts), "__c")
      .select(col(idCol), col("__old"), col("__c"), dist.as("__dist"))
    // argmin as min_by over the (dist, centroid-id) struct: the SAME
    // deterministic tie rule as an ORDER BY (dist, c) — struct
    // comparison is lexicographic, and __c is unique within a group so
    // the ordering key never ties — but executed as an AGGREGATE with
    // map-side partial merge (partial_min_by): each id's k fanned rows
    // reduce to one BEFORE the exchange, where a row_number window
    // sort-shuffled all n·k rows. Spark lowers struct-ordered min_by
    // to SortAggregate (struct agg buffers aren't mutable, and
    // MaxMinBy is declarative, so neither Hash- nor ObjectHashAggregate
    // applies) — that residual sort is PARTITION-LOCAL, below the
    // partial agg; nothing k-fanned crosses the wire. Plan pinned
    // (partial_min_by present, no Window) in ClusteringSpec.
    scored.groupBy(col(idCol))
      .agg(min_by(struct(col("__old"), col("__c")),
        struct(col("__dist"), col("__c"))).as("__m"))
      .select(col(idCol), col("__m.__old").as(labelCol),
        col("__m.__c").as("assigned"))
  }

  /** Result of [[iterateSteps]]: the final (idCol, labelCol)
    * assignment — rooted at its own checkpoint, independent of the
    * internal vector cache — and a `release()` that unpersists that
    * cache (safe to call as soon as the result is the only thing
    * needed; the final checkpoint blocks stay until the frame is
    * unreferenced, the [[Dedup.components]] lifecycle). */
  case class ChainedResult(assign: DataFrame, rounds: Int,
                           release: () => Unit)

  /** Iterated [[lloydStep]] rounds with the lineage discipline a
    * production loop needs — the chained path for k beyond [[lloyd]]'s
    * literal-inlining bound, packaged so callers stop hand-rolling the
    * fold (q226 unrolled three rounds inline; its comment promised
    * this helper). Per round: one lloydStep (one d·k-cell partial-agg
    * shuffle + broadcast centroid join against the ONE persisted
    * vector table), then the (id, label) assignment — and only it —
    * is eagerly localCheckpoint'ed with an explicit RDD handle, so
    * the next round's plan starts from a flat scan instead of
    * compounding (an iterative join otherwise grows the plan
    * per round), and each round frees the previous round's
    * checkpoint blocks instead of leaking one per iteration for the
    * session's life. Vectors never checkpoint — they're cached once
    * and re-joined by id each round. localCheckpoint blocks live in
    * executor storage: an executor loss fails the job rather than
    * silently recomputing; on an unreliable cluster swap in
    * `checkpoint()` here — one place.
    *
    * Runs a FIXED number of rounds (the caller owns convergence —
    * chain-scale k makes the per-round collect [[lloyd]] uses for its
    * fixed-point test the thing this path exists to avoid). Bounded
    * plan depth across any round count is spec-pinned in
    * ClusteringSpec. */
  def iterateSteps(emb: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, rounds: Int, dim: Int,
                   scale: Int = 1000): ChainedResult = {
    require(rounds >= 1, s"iterateSteps: rounds must be >= 1, got $rounds")
    val spark = emb.sparkSession
    val vecs = emb.select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cur = emb.select(col(idCol), col(vecCol), col(labelCol))
    var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    var labels: DataFrame = null
    for (_ <- 1 to rounds) {
      val stepped = lloydStep(cur, idCol, vecCol, labelCol, dim, scale)
        .select(col(idCol), col("assigned").as(labelCol))
      // Cut EVERY round: an uncut 3-round chain measured ~2× the CPU
      // (optimization r20 §4), and the last cut keeps the result
      // checkpoint-rooted, so release() is safe.
      val rdd = stepped.rdd.localCheckpoint()
      rdd.count() // eager: materialize before freeing the previous cut
      if (prevRdd != null)
        prevRdd.unpersist() // previous round's checkpoint blocks freed
      prevRdd = rdd
      labels = spark.createDataFrame(rdd, stepped.schema)
      cur = labels.join(vecs, idCol)
    }
    ChainedResult(labels, rounds, () => { vecs.unpersist(); () })
  }

  /** Iterated Lloyd to a fixed point — the full k-means driver over
    * the same determinism contract as [[lloydStep]] (integer-grid
    * vectors, exact integer (S, n) centroid state, fixed-order double
    * distances, ties to the lowest centroid id).
    *
    * Loop shape (the BpeTrainer discipline — BpeTrainer.scala's
    * persist-once + tiny-collect-per-round): the quantized corpus
    * persists ONCE; each round is one d·k-cell aggregate (map-side
    * combined) whose k·(dim+1) longs — and nothing else — reach the
    * driver, and assignment is a map-only scalar expression over the
    * centroid LITERALS (the DistributedCache-file idiom with the
    * "file" inlined into the plan). Vectors never shuffle and never
    * land on the driver; per round the wire carries O(d·k·partitions)
    * partial cells.
    *
    * Convergence = the integer centroid state repeating EXACTLY.
    * Assignment is a pure function of the (S, n) state and the state a
    * pure function of the assignment, so a repeated state is a fixed
    * point: every later round would reproduce it verbatim. Integer
    * equality makes the test exact (no epsilon), and it subsumes the
    * zero-reassignment test one extra count job would buy.
    *
    * Seeding: initial labels are `pmod(xxhash64(id), k)` — the
    * data-independent pseudo-shuffle [[Ivf.buildCentroids]] uses for
    * seed ORDER, here as a balanced random-partition init (classic
    * random-partition Lloyd; Lloyd 1982).
    *
    * This driver-loop form inlines k·dim literals per round into the
    * plan, so it is for codebook-scale k (IVF coarse quantizers, 8 —
    * few thousand). Beyond that, chain [[lloydStep]] rounds: the
    * centroid table stays distributed (broadcast-joined), trading
    * literal-free plans for one extra shuffle per round. */
  def lloyd(emb: DataFrame, idCol: String, vecCol: String, k: Int,
            maxIter: Int, dim: Int, scale: Int = 1000): LloydResult = {
    require(k >= 1, s"lloyd: k must be >= 1, got $k")
    require(k.toLong * dim <= (1L << 18),
      s"lloyd: k*dim = ${k.toLong * dim} literal cells would bloat the plan - " +
        "chain lloydStep rounds (distributed centroid table) at this k")
    val guarded = when(size(col(vecCol)) === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit("lloyd: embedding length "), size(col(vecCol)).cast("string"),
        lit(s" != expected dim $dim"))))
    val q = emb.select(col(idCol), quantize(guarded, scale).as("__q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // exact integer centroid state, one aggregate per round: per-(c,
    // pos) sums; n rides along as the per-cell count (every vector
    // contributes exactly one element per position)
    def state(assigned: DataFrame): Map[Long, (Array[Long], Long)] = {
      val rows = assigned.select(col("__c"), posexplode(col("__q")))
        .groupBy("__c", "pos")
        .agg(sum("col").as("s"), count(lit(1)).as("n"))
        .collect()
      rows.groupBy(_.getLong(0)).map { case (c, rs) =>
        val sv = new Array[Long](dim); var n = 0L
        rs.foreach { r => sv(r.getInt(1)) = r.getLong(2); n = r.getLong(3) }
        c -> ((sv, n))
      }
    }

    // nearest centroid of the CURRENT state as one scalar expression:
    // same fixed-order double math as lloydStep, argmin via least()
    // over (dist, c) structs (lexicographic - ties to lowest c)
    def assignExpr(st: Map[Long, (Array[Long], Long)]): Column = {
      val cand = st.toSeq.sortBy(_._1).map { case (c, (sv, n)) =>
        val svCol = array(sv.toIndexedSeq.map(lit): _*)
        val ss = sv.foldLeft(0L)((acc, x) => acc + x * x)
        val nD = lit(n).cast("double")
        val d = col("__xx").cast("double") -
          (lit(2.0) * dotL(col("__q"), svCol).cast("double")) / nD +
          lit(ss).cast("double") / (nD * nD)
        struct(d.as("d"), lit(c).as("c"))
      }
      if (cand.size == 1) cand.head.getField("c")
      else least(cand: _*).getField("c")
    }

    def eq(a: Map[Long, (Array[Long], Long)], b: Map[Long, (Array[Long], Long)]): Boolean =
      a.keySet == b.keySet && a.forall { case (c, (sv, n)) =>
        val (bv, bn) = b(c); n == bn && java.util.Arrays.equals(sv, bv)
      }

    val seeded = q.withColumn("__c", pmod(xxhash64(col(idCol)), lit(k)).cast("long"))
    var st = state(seeded)
    var assigned = seeded
    var rounds = 0
    var converged = false
    while (rounds < maxIter && !converged) {
      assigned = q.withColumn("__xx", dotL(col("__q"), col("__q")))
        .withColumn("__c", assignExpr(st))
      // empty clusters keep their previous centroid (Ivf convention)
      val next = st.map { case (c, v) => c -> v } ++ state(assigned)
      converged = eq(next, st)
      st = next
      rounds += 1
    }
    val out = assigned.select(col(idCol), col("__c").as("cluster"))
    val cents = st.map { case (c, (sv, n)) =>
      c -> sv.map(_.toDouble / (n.toDouble * scale))
    }
    // q stays persisted: the returned `assign` frame is LAZY and
    // rooted at q — unpersisting here would force every downstream
    // action to re-read and re-quantize the corpus from scratch.
    // The caller releases via the handle once done (or the harness
    // clearCache / ContextCleaner reclaims it).
    LloydResult(out, cents, rounds, converged, () => { q.unpersist(); () })
  }
}
