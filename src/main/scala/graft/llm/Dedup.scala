package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication operators for large-scale text corpora: exact,
  * n-gram-Jaccard, MinHash+LSH, and SimHash. The reference engine has
  * no dedup surface (closest idiom: identity reduce on a hash key);
  * this module is part of the LLM-pipeline extension the engine is
  * specified to carry.
  *
  * Scale posture: every operator is a pure DataFrame pipeline whose
  * only wide dependencies are hash-keyed `groupBy`s and a
  * candidate-bucket join. Nothing here ever compares all-pairs: exact
  * and prefix dedup group on a fingerprint; Jaccard joins only pairs
  * sharing a shingle; MinHash-LSH joins only pairs sharing a band
  * bucket. Hot shingles are capped by `dfCap` and hot buckets are
  * fenced by [[Dedup.bucketPairs]]: AQE's skew join would only split a
  * hot bucket, and a split bucket's self-join stays quadratic.
  */
object Dedup {

  /** Distinct fingerprints the partial-aggregate map holds before
    * flushing partials downstream — bounds task heap on mostly-unique
    * corpora (where keys ≈ rows and a map with no cap would hold the
    * whole partition as boxed objects, with no spill path). Flushing
    * early is always correct: the final merge combines any number of
    * partials per key (count sums; smallest-N of smallest-Ns is the
    * global smallest-N). */
  val ExactGroupsFlushKeys = 1 << 16

  /** Exact duplicate groups on a full-text fingerprint. The id list is
    * capped at the `maxIds` SMALLEST ids per group (count stays exact):
    * a billion-fold duplicated boilerplate doc must not materialize a
    * billion-element array in one row — callers needing every member
    * join back on `h`.
    *
    * Plan shape: a per-partition partial aggregate (mapPartitions)
    * keeps the exact count and the smallest `maxIds` ids per
    * fingerprint — memory O(keys × maxIds) regardless of duplication —
    * then ONE groupBy merges the partials. The smallest-N property is
    * associative, so the merged result equals the global smallest N
    * and the output is deterministic. (An earlier row_number window
    * formulation shipped and sorted EVERY duplicate row of a hot
    * fingerprint through one task — a disk-spilling straggler at
    * exactly the billion-fold-dup scale this caps.) */
  def exactGroups(df: DataFrame, idCol: String, textCol: String,
                  maxIds: Int = 100): DataFrame = {
    import org.apache.spark.sql.types._
    val idType = df.schema(idCol).dataType
    // the partial comparator must agree with the final array_sort or a
    // partition heap could evict a globally-smallest id: strings sort
    // by UTF-8 bytes in Spark (not UTF-16 code units — they differ for
    // supplementary-plane characters), numerics/date/timestamp agree
    // with Comparable
    val cmp: (Any, Any) => Int = idType match {
      case StringType => (a, b) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
      case _: NumericType | DateType | TimestampType | BooleanType =>
        (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
      case other => throw new IllegalArgumentException(
        s"exactGroups: unsupported id type $other (need string/numeric/date/timestamp/boolean)")
    }
    val pre = df.select(col(idCol).as("id"), TextFunctions.fingerprint(col(textCol)).as("h"))
    val partialSchema = StructType(Seq(
      StructField("h", StringType),
      StructField("ids", ArrayType(idType, containsNull = false)),
      StructField("c", LongType, nullable = false)))
    val flushKeys = ExactGroupsFlushKeys
    val partial = pre.mapPartitions { it =>
      // max-heap of size ≤ maxIds per key: evict the largest, keep
      // duplicates (multiplicity is part of the contract)
      val heapOrd = Ordering.fromLessThan[Any]((a, b) => cmp(a, b) < 0)
      def emit(acc: scala.collection.mutable.HashMap[String, (scala.collection.mutable.PriorityQueue[Any], Array[Long])]) =
        acc.iterator.map { case (h, (heap, cnt)) =>
          org.apache.spark.sql.Row(h, heap.toSeq, cnt(0))
        }.toVector // materialize before the map is cleared/reused
      new Iterator[Vector[org.apache.spark.sql.Row]] {
        def hasNext: Boolean = it.hasNext
        def next(): Vector[org.apache.spark.sql.Row] = {
          val acc = scala.collection.mutable.HashMap
            .empty[String, (scala.collection.mutable.PriorityQueue[Any], Array[Long])]
          while (it.hasNext && acc.size < flushKeys) {
            val r = it.next()
            val id = r.get(0); val h = r.getString(1)
            val (heap, cnt) = acc.getOrElseUpdate(h,
              (scala.collection.mutable.PriorityQueue.empty[Any](heapOrd), Array(0L)))
            cnt(0) += 1
            if (heap.size < maxIds) heap.enqueue(id)
            else if (cmp(id, heap.head) < 0) { heap.dequeue(); heap.enqueue(id) }
          }
          emit(acc)
        }
      }.flatten
    }(org.apache.spark.sql.Encoders.row(partialSchema))
    partial.groupBy("h")
      .agg(sum("c").as("c"),
        slice(array_sort(flatten(collect_list(col("ids")))), 1, maxIds).as("ids"))
      .where(col("c") > 1)
      .select(col("h"), col("c"), col("ids"))
  }

  /** Cross-document LINE dedup — the RefinedWeb/C4-style boilerplate
    * scrub that runs before whole-document dedup: a line occurring in
    * more than `maxDf` DISTINCT documents (site chrome, license
    * headers, cookie banners) is removed from EVERY document, and each
    * document's surviving lines are reassembled in original order.
    * Returns `idCol, textCol, n_lines` — one row per input document,
    * `("", 0)` when everything was boilerplate (dropping such docs
    * silently would hide exactly the documents the scrub gutted).
    *
    * Scale shape: the DF count shuffles one row per DISTINCT
    * (doc, line) pair — the postings discipline, line bytes ∝ corpus.
    * The common set is bounded by construction (|common| ≤ Σ distinct
    * lines per doc / maxDf) and broadcast for an exchange-free anti
    * join on the wide side; `broadcastCommon = false` plans the same
    * anti join as a shuffle for pathological (tiny-maxDf) calls.
    * Reassembly groups the SURVIVING lines by document — a corpus-sized
    * shuffle, the honest cost of any pass that rewrites text (the
    * alternative, re-filtering per-row against a driver-collected
    * common array, holds O(common) on the driver and in every task).
    * `sep` is a literal separator, split with -1 so trailing empties
    * don't shift positions; blank lines are not counted or deduped and
    * do not survive reassembly (same normalization as the quality
    * signals). */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                maxDf: Long, sep: String = "\n",
                broadcastCommon: Boolean = true): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1: $maxDf")
    val lines = widen(df).select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1)))
      .withColumnRenamed("pos", "__pos").withColumnRenamed("col", "__line")
      .where(length(trim(col("__line"))) > 0)
    val common0 = lines.select(col(idCol), col("__line")).distinct()
      .groupBy("__line").agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxDf)
      .select("__line")
    val common = if (broadcastCommon) broadcast(common0) else common0
    val kept = lines.join(common, Seq("__line"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line"))).as("__text"))
    df.select(col(idCol)).join(kept, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__text"), lit("")).as(textCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"))
  }

  /** Duplicate-prefix groups (first `nWords` tokens) — catches
    * truncated/extended near-copies. */
  def prefixGroups(df: DataFrame, textCol: String, nWords: Int): DataFrame =
    df.select(TextFunctions.prefixFingerprint(col(textCol), nWords).as("h"))
      .groupBy("h").agg(count("*").as("c"))
      .where(col("c") > 1)

  /** Default shingle document-frequency cap for [[ngramJaccardPairs]]:
    * far above any test fixture's DF (results unchanged there) but a
    * hard ceiling on the self-join fan-out at web scale. */
  val DefaultDfCap = 100000

  /** Exact word-`n`-gram Jaccard over all pairs sharing ≥1 shingle.
    * Output: (id1, id2, jaccard) with id1 < id2, jaccard ≥ threshold.
    * This is the exact oracle the sketch methods approximate.
    *
    * Scale guard: a shingle shared by k documents contributes k² rows
    * to the gram self-join, so one boilerplate shingle ("all rights
    * reserved" in every page footer) would be quadratic in corpus
    * size. Shingles with document frequency > `dfCap` are dropped from
    * the similarity computation entirely — intersection AND union, so
    * Jaccard stays a true set similarity over the surviving shingles —
    * via a broadcast anti-join on the (tiny, usually empty) hot-gram
    * list. Standard practice in web-scale dedup; near-universal grams
    * carry no discriminating signal anyway. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        dfCap: Int = DefaultDfCap): DataFrame = {
    val postings = df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.wordShingles(col(textCol), n)).as("gram"))
    val (g, pairs) = postingsPairs(postings, "gram", dfCap)
    val sz = g.groupBy("doc_id").agg(count("*").as("n"))
    pairs
      .join(sz.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(sz.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .withColumn("jaccard", col("inter").cast("double") / (col("n1") + col("n2") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Asymmetric CONTAINMENT pairs (Broder's "roughly contained"
    * relation): emit (sub_id, sup_id, containment) whenever at least
    * `thresholdPct`% of `sub`'s word-`n`-grams also occur in `sup` —
    * the detector for SUB-DOCUMENT duplication (a tweet quoted inside
    * an article, a doc truncated into another, boilerplate wrapping a
    * copy), which symmetric Jaccard dilutes: a 100-gram doc fully
    * contained in a 10,000-gram doc scores jaccard ≈ 0.01 but
    * containment 1.0. Both directions of every co-shingled pair are
    * tested; a pair of near-identical docs yields two rows.
    *
    * The keep rule is pure integer arithmetic
    * (`inter · 100 ≥ pct · |sub|`) — no double threshold to disagree
    * across engines. Scale shape: identical to [[ngramJaccardPairs]]
    * (same fenced postings self-join via [[postingsPairs]], same
    * `dfCap` guard); the direction fan-out is 2× the pair count,
    * after aggregation. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, thresholdPct: Int = 90,
                       dfCap: Int = DefaultDfCap): DataFrame = {
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"containmentPairs: thresholdPct must be in [1,100]: $thresholdPct")
    val postings = df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.wordShingles(col(textCol), n)).as("gram"))
    val (g, pairs) = postingsPairs(postings, "gram", dfCap)
    val sz = g.groupBy("doc_id").agg(count("*").as("n"))
    val directions = pairs
      .select(col("id1").as("sub_id"), col("id2").as("sup_id"), col("inter"))
      .unionAll(pairs
        .select(col("id2").as("sub_id"), col("id1").as("sup_id"), col("inter")))
    directions
      .join(sz.select(col("doc_id").as("sub_id"), col("n")), "sub_id")
      .where(col("inter") * 100 >= col("n") * thresholdPct)
      // RAW double, not ROUND(·,4): one division of two exact integers
      // is bit-identical across engines, while rounding a ratio that
      // lands exactly on a half-boundary (1/32 = 0.03125) is not —
      // the r7 ROUND-parity lesson
      .select(col("sub_id"), col("sup_id"),
        (col("inter").cast("double") / col("n")).as("containment"))
  }

  /** Shared postings discipline for the pair generators: persist the
    * (doc_id, key) postings so the corpus is tokenized once, fence
    * keys present in more than `dfCap` documents via a broadcast
    * anti-join BEFORE the self-join can square them, then count
    * shared keys per `id1 < id2` pair. Postings must be distinct
    * per document, so count(*) per key == document frequency.
    * Returns (fenced postings, pair counts as `id1, id2, inter`).
    * The postings cache is released by the ContextCleaner when the
    * returned frames are garbage-collected (the
    * [[minHashCandidates]] lifecycle contract). */
  private def postingsPairs(postings: DataFrame, keyCol: String,
                            dfCap: Int): (DataFrame, DataFrame) = {
    val p0 = postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = p0.groupBy(keyCol).agg(count("*").as("df"))
      .where(col("df") > dfCap).select(keyCol)
    val p = p0.join(broadcast(hot), Seq(keyCol), "left_anti")
    val pairs = p.alias("a")
      .join(p.alias("b"),
        col(s"a.$keyCol") === col(s"b.$keyCol") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count("*").as("inter"))
    (p, pairs)
  }

  /** SUBSTRING-level near-dup pairs via shared winnowing fingerprints
    * ([[graft.functions.RollingWinnow]]): documents sharing at least
    * `minShared` window-min rolling hashes — the detector for partial
    * plagiarism/quotation overlap, where n-gram Jaccard (whole-doc
    * ratio) and MinHash (Jaccard sketch) both dilute a long shared
    * passage inside otherwise-different documents. Any shared
    * substring of `w + k - 1` characters contributes at least one
    * shared fingerprint, so `minShared` roughly thresholds the number
    * of independent shared passages (or the length of one).
    *
    * Scale shape: same postings discipline as [[ngramJaccardPairs]] —
    * fingerprints join only within equal hash values; fingerprints
    * appearing in more than `dfCap` documents (site boilerplate) are
    * fenced out via a broadcast anti-join before the self-join can
    * square them. */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, w: Int = 4, minShared: Int = 3,
                  dfCap: Int = DefaultDfCap): DataFrame = {
    val postings = df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.rollingFingerprints(col(textCol), k, w)).as("fp"))
    val (_, pairs) = postingsPairs(postings, "fp", dfCap)
    pairs.withColumnRenamed("inter", "n_shared")
      .where(col("n_shared") >= minShared)
  }

  // ---------------------------------------------------------------- MinHash

  /** Number of hash functions in a MinHash signature. */
  val NumHashes = 64
  /** LSH banding: bandsCount * rowsPerBand == NumHashes. 16 bands of 4
    * targets the ~0.5+ Jaccard regime (s-curve threshold ≈ (1/16)^(1/4) ≈ 0.5). */
  val NumBands = 16
  val RowsPerBand = 4

  private val MersennePrime = (1L << 31) - 1
  /** Deterministic affine hash family h_i(x) = (a_i·x + b_i) mod p,
    * p = 2^31-1, with a_i, b_i, x < 2^31 — a_i·x < 2^62 never
    * overflows a long, and the product wraps the modulus ~2^31 times
    * (see [[graft.functions.MinHashSignature]] for why the modulus
    * must match the input width). Seeded — signatures are stable
    * across runs.
    * THE single definition: the SQL registration
    * (core.GraftExtensions) reuses these, so SQL and DataFrame
    * signatures can never drift apart. */
  private val (hashA, hashB) = {
    val rnd = new scala.util.Random(42)
    (Array.fill(NumHashes)(rnd.nextInt(Int.MaxValue - 1).toLong + 1),
     Array.fill(NumHashes)(rnd.nextInt(Int.MaxValue).toLong))
  }
  def hashFamilyA: Seq[Long] = hashA.toSeq
  def hashFamilyB: Seq[Long] = hashB.toSeq

  /** Distinct 31-bit base hashes of the word n-gram shingles, via the
    * native fused expression (tokenize+hash+dedup in one loop). */
  private def shingleHashes(textCol: Column, n: Int): Column =
    graft.functions.SketchExpressions.shingleHashes(textCol, n)

  /** MinHash signature: array of NumHashes minima, computed by the
    * native [[graft.functions.MinHashSignature]] expression — one
    * JIT-compiled loop per row, no shuffle, no per-shingle allocation.
    * (An equivalent `aggregate`-fold of pure column functions ran ~4×
    * slower; 64 separate `array_min(transform(…))` columns ~40× —
    * they re-inline shingle hashing per hash function.) */
  def minHashSignature(textCol: Column, n: Int = 3): Column =
    graft.functions.SketchExpressions.minHashSignature(
      shingleHashes(textCol, n), hashA.toSeq, hashB.toSeq)

  /** LSH candidate pairs + signature-estimated Jaccard.
    * Output: (id1, id2, est_jaccard), id1 < id2, est ≥ minEst.
    *
    * Plan shape: map (signature) → explode NumBands (band, bucket-key)
    * rows carrying ids only → self equi-join on (band, key) →
    * distinct pairs → join signatures back for estimation. The
    * ids-only band table keeps the bucket shuffle narrow (no 64-long
    * signature payload), the self-join lets AQE split hot buckets
    * (boilerplate corpora) like any skewed join, and no bucket member
    * list is ever materialized — measured ~40% faster than a
    * collect_list/explode² formulation and structurally safer at
    * 100 TB. */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minEst: Double = 0.5,
                        bands: Int = NumBands, rowsPerBand: Int = RowsPerBand): DataFrame = {
    // The signature frame feeds three join branches (bands, sig1,
    // sig2); persist it so the corpus is scanned and sketched ONCE.
    // The cache is released by Spark's ContextCleaner when the result
    // frame is no longer referenced; callers doing repeated dedup
    // rounds should build signatures(…) themselves and manage the
    // persistence lifecycle explicitly.
    val sigs = signatures(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    candidatesFromSignatures(sigs, minEst, bands = bands, rowsPerBand = rowsPerBand)
  }

  /** One row per doc: (doc_id, sig). The map-only sketch pass.
    * Docs with no shingles (fewer than n tokens by the native
    * expression's own tokenization) carry the all-sentinel signature;
    * they are filtered on that very basis — a separate token-count
    * filter with subtly different split semantics once let empty-sig
    * docs through, where they all LSH-collided with est_jaccard=1.0. */
  def signatures(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    df.select(col(idCol).as("doc_id"), minHashSignature(col(textCol), n).as("sig"))
      .where(col("sig").getItem(0) =!= MersennePrime)

  /** Default band-bucket size cap for [[candidatesFromSignatures]]:
    * a bucket of k members yields k²/2 candidate pairs, so one
    * boilerplate cluster would dominate the join at web scale. Far
    * above any fixture bucket (results unchanged there). */
  val DefaultMaxBucketSize = 100000

  /** Candidate pairs from a (doc_id, sig) frame — persist `sigs`
    * before calling: it is referenced by three join branches.
    *
    * Scale guard: band buckets with more than `maxBucketSize` members
    * are excluded from the pair join (broadcast anti-join on the tiny
    * hot-bucket list). A bucket that large is a boilerplate cluster —
    * at 100 TB it would contribute k² pairs; the right treatment is a
    * per-bucket representative pass, not the pairwise join. Pairs in a
    * dropped bucket can still surface via their other NumBands-1
    * bands. */
  def candidatesFromSignatures(sigs: DataFrame, minEst: Double,
                               maxBucketSize: Int = DefaultMaxBucketSize,
                               bands: Int = NumBands,
                               rowsPerBand: Int = RowsPerBand): DataFrame =
    bandedPairs(sigs, bands, rowsPerBand, maxBucketSize)
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y), b => b))
          .cast("double") / lit(NumHashes.toDouble))
      .where(col("est_jaccard") >= minEst)
      .select(col("id1"), col("id2"), round(col("est_jaccard"), 4).as("est_jaccard"))

  /** Distinct candidate (id1, id2) pairs sharing ≥1 band bucket, from a
    * frame carrying (doc_id, sig) — the LSH core shared by
    * [[candidatesFromSignatures]] and [[minHashVerifiedPairs]]. Persist
    * the input: it feeds the two sides of the bucket self-join. The
    * bucket shuffle ships ids only (no signature payload); buckets
    * larger than `maxBucketSize` are excluded via a broadcast anti-join
    * on the (tiny, usually empty) hot-bucket list — see
    * [[candidatesFromSignatures]]'s scale note. */
  def bandedPairs(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                               maxBucketSize: Int): DataFrame =
    bucketPairs(bandRows(sigs, bands, rowsPerBand), Seq("band", "bkey"), "doc_id",
      maxBucketSize)

  /** The (doc_id, band, bkey) band table: `bands` rows per doc, ids and
    * two ints only — the narrow frame every candidate branch consumes. */
  def bandRows(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands * rowsPerBand <= NumHashes,
      s"banding $bands×$rowsPerBand exceeds the $NumHashes-hash signature")
    sigs.select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bkey"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Over-occupied buckets of `rows` keyed by `keys`: one row per
    * bucket whose member count exceeds `maxBucketSize`, with the count
    * as `bucket_size`. This is the hot-bucket side output of
    * [[bucketPairs]]' fence — at crawl scale a bucket this large is a
    * boilerplate cluster (identical templates, flat thumbnails, black
    * lead-in frames) whose right treatment is a per-bucket
    * representative pass, not a pairwise join. The frame is tiny
    * (usually empty) by construction: it is the tail of a partial-agg
    * count above a large threshold. */
  def hotBuckets(rows: DataFrame, keys: Seq[String],
                 maxBucketSize: Int): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucketSize)

  /** The ONE banded-pair operator behind every bucket join in the
    * engine — MinHash bands ([[bandedPairs]], [[minHashVerifiedPairs]],
    * [[incrementalNearDupsFrame]]), 16-bit hash chunks
    * ([[simHashPairs]], [[graft.sources.Multimodal.hammingPairs64]],
    * `videoNearDupPairs`) and multi-probe cosine buckets
    * ([[Similarity.cosineNearDupsLsh]]): fence → join on the bucket
    * key → project → gate → ONE `dropDuplicates(identity)`.
    *
    *  - Sides: `rows` is side `a`; side `b` is `against` when that is
    *    another frame (the incremental index, the exact cosine
    *    buckets), else the fenced `rows` (a self-join). `measures` and
    *    `gate` read both as `a.<col>` / `b.<col>`.
    *  - Fence: buckets with more than `maxBucketSize` members on side
    *    `b` leave side `a` by a left anti join against the broadcast
    *    hot list ([[hotBuckets]] lists them). The join is an equi-join
    *    on `keys`, so no pair forms through a hot bucket, and a
    *    bucket's candidates are at most its `a` rows × cap — never
    *    corpus².
    *  - Join: equal `keys` and `idOrder(a.id, b.id)`: `<` emits each
    *    unordered pair once, `=!=` every cross pair of two frames.
    *  - Output: `a.id`, `b.id` named by the first two `identity`
    *    names, then `measures`, filtered by `gate` BEFORE the dedup.
    *    Duplicates of a pair differ only in the bucket that matched,
    *    never in its measures, so the gate commutes with the dedup —
    *    and drops the non-matching majority map-side, before the
    *    exchange. */
  def bucketPairs(rows: DataFrame, keys: Seq[String], id: String,
                  maxBucketSize: Int,
                  measures: Seq[Column] = Nil,
                  gate: Option[Column] = None,
                  identity: Seq[String] = Seq("id1", "id2"),
                  against: Option[DataFrame] = None,
                  idOrder: (Column, Column) => Column = _ < _): DataFrame = {
    val hot = hotBuckets(against.getOrElse(rows), keys, maxBucketSize)
      .select(keys.map(col): _*)
    val fenced = rows.join(broadcast(hot), keys, "left_anti")
    // the id order is a filter, not join-condition text, so it stays
    // AHEAD of the gate when the optimizer pushes both into the join:
    // the cheap comparison then skips the gate on half the candidates
    val pairs = fenced.alias("a")
      .join(against.getOrElse(fenced).alias("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _))
      .where(idOrder(col(s"a.$id"), col(s"b.$id")))
      .select(col(s"a.$id").as(identity(0)) +: col(s"b.$id").as(identity(1)) +: measures: _*)
    gate.fold(pairs)(pairs.where).dropDuplicates(identity)
  }

  /** Sketch→verify near-dup pipeline: MinHash-LSH proposes candidate
    * pairs (cheap, approximate), then each candidate is verified with
    * the EXACT n-gram Jaccard — computed per pair by intersecting the
    * two shingle sets, linear in candidate count, never a self-join.
    * Output: (id1, id2, jaccard) with id1 < id2, exact jaccard ≥
    * `threshold` — i.e. [[ngramJaccardPairs]] semantics, minus any
    * true pair the LSH stage missed. The candidate stage runs a
    * recall-oriented banding — 32 bands of 2 (s-curve threshold
    * ≈ 0.18), so P(miss) = (1−s²)³² ≤ 1e-4 at s=0.5 — and a loose
    * `minEst` gate; the exact verification, not the sketch, draws the
    * output boundary. This is the production shape at 100 TB: the
    * quadratic exact oracle is replaced by bucketed candidates +
    * per-pair verification.
    *
    * EAGER: construction runs two jobs (sketch + band table are
    * persisted and materialized before the plan fans out — see the
    * inline notes for why). Build this frame when you intend to
    * execute it, like an MLlib `fit`; for plan inspection without the
    * corpus passes, compose the stages ([[signatures]],
    * [[bandedPairs]]) directly. */
  def minHashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.5,
                           minEst: Double = 0.2): DataFrame = {
    import graft.functions.{SketchExpressions => SE}
    // ONE corpus scan computes both sketches side by side: the MinHash
    // signature (drives candidates) and the 64-bit shingle-hash set
    // (stands in for the shingle set at verification — collision odds
    // ~1e-14/pair, vs the string-shingle frame this replaces, whose
    // array materialization was ~20× the cost of the fused hash loop).
    // Both are cached PACKED as binary: array-typed columns are
    // reassembled element-by-element on every columnar-cache read
    // (measured ~14 executor-seconds at sf0.1), binary is one memcpy.
    // Persist BEFORE the no-shingle filter: a `.where` on the computed
    // column is pushed below the projection into the scan, evaluating
    // the whole sketch twice (observed in the plan).
    val sketch = sketchFrame(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Materialize the sketch ONCE before the plan fans out: AQE submits
    // the downstream shuffle stages as concurrent jobs, and uncached
    // racing branches each recompute the whole corpus sketch (observed:
    // 4 concurrent ~1 s sketch jobs at sf0.1 before this count).
    sketch.count()
    // docs with no shingles (< n tokens) have an empty shingle set and
    // the all-sentinel signature; drop them here (they would all
    // LSH-collide) — length() on the cached binary, nothing recomputed
    val base = sketch.where(length(col("shhb")) > 0)
    // The band table is consumed by three branches (bucket-size count,
    // both self-join sides); it is tiny (id + 2 ints, `bands` rows per
    // doc) and primitive-typed, so cache it too. Recall-oriented 32×2
    // banding — see the s-curve note in the scaladoc.
    val banded = packedBandRows(base)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    banded.count()
    val cand = bucketPairs(banded, Seq("band", "bkey"), "doc_id", DefaultMaxBucketSize)
    cand
      .join(base.select(col("doc_id").as("id1"), col("sigb").as("sig1"), col("shhb").as("sh1")), "id1")
      .join(base.select(col("doc_id").as("id2"), col("sigb").as("sig2"), col("shhb").as("sh2")), "id2")
      // cheap 64-word signature gate first: And short-circuits, so the
      // O(|sh1|+|sh2|) exact intersection runs only on survivors
      .withColumn("est", SE.sigAgreeCount(col("sig1"), col("sig2"))
        .cast("double") / lit(NumHashes.toDouble))
      .where(col("est") >= minEst)
      .withColumn("inter", SE.packedIntersectCount(col("sh1"), col("sh2")))
      .withColumn("jaccard", col("inter").cast("double") /
        ((length(col("sh1")) + length(col("sh2"))) / 8 - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** The (doc_id, band, bkey) table of a packed-signature frame: the
    * recall-oriented 32×2 banding of [[minHashVerifiedPairs]] and the
    * incremental join. */
  private def packedBandRows(sketch: DataFrame): DataFrame =
    sketch.select(col("doc_id"),
        posexplode(graft.functions.SketchExpressions.bandKeys(col("sigb"), 32, 2)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")

  /** Sketch passes are CPU-bound map work — spread small inputs over
    * the cores; see [[graft.core.Engine.widen]] for the policy. */
  private def widen(df: DataFrame): DataFrame = graft.core.Engine.widen(df)

  /** Persist the MinHash sketch index for INCREMENTAL dedup:
    * (doc_id, sigb, shhb) — the packed 64-hash signature and the
    * packed 64-bit shingle-hash set, exactly the two caches
    * [[minHashVerifiedPairs]] computes per run, written once. At
    * 100 TB this is the difference between sketching the whole corpus
    * per ingest batch and sketching each batch once: history text is
    * never re-read. Written unfiltered (no-shingle docs keep a row —
    * their stored sketch is bytes-empty and they are filtered on READ,
    * where the filter touches stored bytes; filtering here would push
    * the predicate into the scan and evaluate the whole sketch twice,
    * the [[minHashVerifiedPairs]] lesson). Grow the index by appending
    * each verified batch's sketches ([[sketchFrame]] + append). */
  def writeSketchIndex(df: DataFrame, idCol: String, textCol: String,
                       n: Int, path: String): Unit =
    // shingle_n is constant per index (dictionary/RLE-encoded to ~nothing
    // on disk) and lets the query side REFUSE a mismatched n — sketches
    // built from different shingle sizes band-join into garbage silently
    sketchFrame(df, idCol, textCol, n).withColumn("shingle_n", lit(n))
      .write.mode("overwrite").parquet(path)

  /** The packed (doc_id, sigb, shhb) sketch pass shared by
    * [[minHashVerifiedPairs]] and the incremental index. UNFILTERED:
    * callers persist/materialize first and drop no-shingle docs with a
    * `length(shhb) > 0` on the cached/stored column. */
  def sketchFrame(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import graft.functions.{SketchExpressions => SE}
    // ONE fused tokenize+hash pass emits both packed sketches
    // (optimization r20: the two-expression form tokenized and
    // FNV-hashed every text twice — mask31 and 64-bit passes — plus
    // String[]/LinkedHashSet churn; [[graft.functions.MinHashSketch]]
    // is bit-identical by PackedSketchSpec). The two struct-field
    // projections share the single evaluation via whole-stage
    // subexpression elimination (plan-checked: one minhash_sketch
    // call in the generated project).
    widen(df).select(col(idCol).as("doc_id"),
        SE.minHashSketch(col(textCol), n, hashA.toSeq, hashB.toSeq).as("sk"))
      .select(col("doc_id"), col("sk.sigb").as("sigb"), col("sk.shhb").as("shhb"))
  }

  /** Near-dups of an INCREMENT against a persisted sketch index —
    * cross pairs only (new × history): sketch the new batch, band-join
    * its bucket keys against the index's, gate on signature agreement,
    * verify with the exact packed-shingle intersection. Same
    * sketch→verify semantics as [[minHashVerifiedPairs]], but history
    * contributes only its stored sketches (no text re-read, no
    * history × history work — those pairs were found when history was
    * ingested). Output `(new_id, hist_id, jaccard)`, jaccard ≥
    * `threshold`.
    *
    * Scale: the band join ships ids+two ints per band row; hot buckets
    * are fenced on the INDEX side (history is the big side — a new
    * batch large enough to need its own fence should be split into
    * smaller increments). */
  def incrementalNearDups(newDocs: DataFrame, indexPath: String,
                          idCol: String, textCol: String,
                          n: Int = 3, threshold: Double = 0.5,
                          minEst: Double = 0.2,
                          maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val spark = newDocs.sparkSession
    // filters run over STORED/cached sketch bytes, nothing recomputed
    val idx0 = spark.read.parquet(indexPath)
    validateSketchIndex(idx0, indexPath, n)
    incrementalNearDupsFrame(newDocs, idx0, idCol, textCol, n, threshold,
      minEst, maxBucketSize)
  }

  /** An index sketched with a different shingle size would band-join
    * and intersect incomparable sketches — wrong pairs, no error.
    * The check reads one row's metadata column, not the corpus. An
    * EMPTY index (a no-doc micro-batch's schema-only segment) passes
    * on the column check alone — there is nothing to mis-join, and a
    * bare `.head` here would throw inside foreachBatch and kill the
    * stream. */
  private def validateSketchIndex(idx0: DataFrame, what: String, n: Int): Unit = {
    require(idx0.columns.contains("shingle_n"),
      s"incrementalNearDups: $what is not a sketch index " +
        "(no shingle_n column; write it with writeSketchIndex)")
    idx0.select("shingle_n").head(1).foreach { r =>
      val idxN = r.getInt(0)
      require(idxN == n,
        s"incrementalNearDups: index $what was sketched with n=$idxN, " +
          s"but n=$n was requested; re-sketch one side")
    }
  }

  /** [[incrementalNearDups]] against an already-loaded sketch-index
    * frame (doc_id, sigb, shhb[, shingle_n]) — the body both the
    * path-based API and the streaming leg share. Callers are
    * responsible for shingle-size agreement (the path/stream wrappers
    * validate `shingle_n`). */
  def incrementalNearDupsFrame(newDocs: DataFrame, idxSketch: DataFrame,
                               idCol: String, textCol: String,
                               n: Int = 3, threshold: Double = 0.5,
                               minEst: Double = 0.2,
                               maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    import graft.functions.{SketchExpressions => SE}
    val idx = idxSketch.where(length(col("shhb")) > 0)
    val inc0 = sketchFrame(newDocs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    inc0.count() // materialize once: the plan fans out below
    val inc = inc0.where(length(col("shhb")) > 0)
    // hot buckets are counted on the index (history is the big side)
    val cand = bucketPairs(packedBandRows(inc), Seq("band", "bkey"), "doc_id",
      maxBucketSize, identity = Seq("new_id", "hist_id"),
      against = Some(packedBandRows(idx)), idOrder = _ =!= _)
    cand
      .join(inc.select(col("doc_id").as("new_id"), col("sigb").as("sig1"), col("shhb").as("sh1")), "new_id")
      .join(idx.select(col("doc_id").as("hist_id"), col("sigb").as("sig2"), col("shhb").as("sh2")), "hist_id")
      .withColumn("est", SE.sigAgreeCount(col("sig1"), col("sig2"))
        .cast("double") / lit(NumHashes.toDouble))
      .where(col("est") >= minEst)
      .withColumn("inter", SE.packedIntersectCount(col("sh1"), col("sh2")))
      .withColumn("jaccard", col("inter").cast("double") /
        ((length(col("sh1")) + length(col("sh2"))) / 8 - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("hist_id"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Streaming ingest-time near-dup — the [[incrementalNearDups]]
    * index pattern as a Structured Streaming leg, with the
    * [[graft.ops.Merge.applyChangesStream]] idempotency discipline.
    * Each micro-batch `b`:
    *
    *  1. finds its WITHIN-batch pairs ([[minHashVerifiedPairs]]),
    *  2. LSH-joins its sketches against every strictly-earlier
    *     index segment (seed segments + `b0 … b(b−1)`) for the
    *     CROSS pairs — history text is never re-read,
    *  3. writes both pair sets to `pairsDir/b<b>` and its own
    *     sketches to `indexDir/b<b>`, each mode-overwrite — an
    *     idempotent function of (earlier segments, replayed batch),
    *     so foreachBatch's at-least-once replay rewrites the same
    *     segment instead of double-appending; a replayed batch never
    *     joins the sketches its failed attempt may have written
    *     (only segments `< b` are read).
    *
    * Every unordered near-dup pair of the concatenated stream is
    * found exactly once — in the batch where its later document
    * arrives — so the union of `pairsDir/b*` equals the one-shot
    * [[minHashVerifiedPairs]] of all batches concatenated
    * (cross pairs are emitted as (id1, id2) = (min, max) to make the
    * equality literal; parity is spec-pinned in StreamingDedupSpec).
    * The one deliberate divergence at web scale: hot-bucket fencing
    * sees per-segment bucket sizes, not the concatenated corpus's, so
    * a bucket that only becomes hot across many batches is fenced
    * later than a one-shot run would fence it.
    *
    * Seed history by [[writeSketchIndex]]-ing it to
    * `indexDir/<anything not b<digits>>` before starting. Pass a
    * fresh `checkpointDir` per lineage (batch ids must start at 0).
    * Read results with `spark.read.parquet(pairsDir + "/b*")`. */
  def incrementalNearDupsStream(newDocs: DataFrame, indexDir: String,
                                pairsDir: String, checkpointDir: String,
                                idCol: String, textCol: String,
                                n: Int = 3, threshold: Double = 0.5,
                                minEst: Double = 0.2,
                                maxBucketSize: Int = DefaultMaxBucketSize)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    newDocs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val within = minHashVerifiedPairs(b, idCol, textCol, n, threshold, minEst)
        // strictly-earlier segments only: bK with K < batchId, plus
        // any non-batch-named seed segment
        val batchSeg = "b(\\d+)".r
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
        val dir = new org.apache.hadoop.fs.Path(indexDir)
        val prior: Seq[String] =
          if (!fs.exists(dir)) Nil
          else fs.listStatus(dir).toSeq.filter(_.isDirectory).flatMap { st =>
            st.getPath.getName match {
              case batchSeg(k) if k.toLong >= batchId => None
              case _ => Some(st.getPath.toString)
            }
          }
        val pairs =
          if (prior.isEmpty) within
          else {
            val idx = spark.read.parquet(prior: _*)
            validateSketchIndex(idx, s"$indexDir (${prior.size} segments)", n)
            val cross = incrementalNearDupsFrame(b, idx, idCol, textCol,
                n, threshold, minEst, maxBucketSize)
              .select(least(col("new_id"), col("hist_id")).as("id1"),
                greatest(col("new_id"), col("hist_id")).as("id2"),
                col("jaccard"))
            within.unionByName(cross)
          }
        pairs.write.mode("overwrite").parquet(s"$pairsDir/b$batchId")
        sketchFrame(b, idCol, textCol, n).withColumn("shingle_n", lit(n))
          .write.mode("overwrite").parquet(s"$indexDir/b$batchId")
        b.unpersist()
        ()
      }
      .start()
  }

  /** Compact an [[incrementalNearDupsStream]] index directory:
    * coalesce the seed segments plus the batch segments `bK` with
    * `K < upToBatch` into ONE new seed segment (`seed_c<n>`), leaving
    * later batch segments in place. At 100 TB the per-batch layout is
    * the WRITE path, not the steady state — thousands of micro-batch
    * segments mean thousands of child dirs listed and small parquet
    * files opened per ingest join; compaction restores O(1) segments.
    * It changes no answer: prior segments were already read as one
    * union at ingest time, so the hot-bucket fence was already
    * computed over their concatenated occupancy (spec-pinned below —
    * SCALE.md's earlier per-segment-fence note described the
    * within-batch leg, not this join). Dedup is over WHOLE ROWS, so
    * only byte-identical duplicates collapse (the crash-heal case
    * below); a doc re-ingested with different text keeps both its
    * sketch rows, exactly as the uncompacted union would.
    *
    * Safety: foreachBatch is at-least-once — a replayed batch `K`
    * must see exactly the segments `< K`, so only compact batches the
    * checkpoint has committed past. `upToBatch` is REQUIRED (an
    * earlier default of Long.MaxValue was the unsafe choice: it would
    * fold a not-yet-committed batch's segment into the seed, and its
    * replay would then join against its own prior sketches, emitting
    * self/duplicate pairs); derive it from the stream's checkpoint
    * with [[committedBatchBound]] — the last committed batch id + 1 —
    * or pass the stream's known next batch id. That bound covers
    * REPLAY, not the listing race: a
    * micro-batch in flight during the rename→delete window could
    * list history twice or hit deleted files — run compaction while
    * the stream is STOPPED or between triggers, like any other
    * table-maintenance operation. Write order is tmp (outside the
    * index dir) → rename into place under a fresh name → delete the
    * folded segments; a crash between the last two steps leaves
    * byte-identical duplicate sketches, which the next compaction's
    * whole-row dedup heals. `targetPartitions` 0 keeps the shuffle's
    * natural partitioning (the at-scale default); pass 1 only for
    * small indexes where one output file is worth a single writer. */
  def compactSketchIndex(spark: SparkSession, indexDir: String,
                         upToBatch: Long,
                         targetPartitions: Int = 0): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(indexDir)
    if (!fs.exists(dir)) return
    val batchSeg = "b(\\d+)".r
    val all = fs.listStatus(dir).toSeq.filter(_.isDirectory)
    val (later, compactable) = all.partition { st =>
      st.getPath.getName match {
        case batchSeg(k) => k.toLong >= upToBatch
        case _ => false
      }
    }
    if (compactable.size <= 1) return // already compact
    val maxBatch = compactable.map(_.getPath.getName).collect {
      case batchSeg(k) => k.toLong
    }.foldLeft(-1L)(math.max)
    val merged = spark.read.parquet(compactable.map(_.getPath.toString): _*)
      .dropDuplicates() // whole-row: heals crash copies, keeps re-ingests
    val out = if (targetPartitions > 0) merged.coalesce(targetPartitions) else merged
    val tmp = new org.apache.hadoop.fs.Path(
      indexDir.stripSuffix("/") + ".compacting")
    fs.delete(tmp, true)
    out.write.mode("overwrite").parquet(tmp.toString)
    // fresh destination name (never one of the sources), then swap
    var ci = maxBatch + 1
    var dest = new org.apache.hadoop.fs.Path(dir, s"seed_c$ci")
    while (fs.exists(dest)) {
      ci += 1; dest = new org.apache.hadoop.fs.Path(dir, s"seed_c$ci")
    }
    require(fs.rename(tmp, dest),
      s"compactSketchIndex: rename $tmp -> $dest failed")
    compactable.foreach(st => fs.delete(st.getPath, true))
    val _ = later // later batch segments stay untouched by design
  }

  /** The replay-safe `upToBatch` bound for [[compactSketchIndex]],
    * derived from the stream's own checkpoint: Structured Streaming
    * writes one `commits/<batchId>` file per COMMITTED micro-batch,
    * so (max committed id + 1) is exactly the first batch id that
    * could still replay — every segment below it is final. No
    * commits yet (fresh/missing checkpoint) → 0: nothing batch-named
    * compacts, only seed segments. */
  def committedBatchBound(spark: SparkSession, checkpointDir: String): Long = {
    val commits = new org.apache.hadoop.fs.Path(
      checkpointDir.stripSuffix("/") + "/commits")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(checkpointDir), spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(commits)) return 0L
    fs.listStatus(commits).toSeq
      .flatMap(st => st.getPath.getName.toLongOption)
      .foldLeft(-1L)(math.max) + 1L
  }

  /** [[compactSketchIndex]] with the bound read from `checkpointDir`
    * via [[committedBatchBound]] — the one-call maintenance entry
    * point for a stopped [[incrementalNearDupsStream]]. */
  def compactSketchIndexCommitted(spark: SparkSession, indexDir: String,
                                  checkpointDir: String,
                                  targetPartitions: Int = 0): Unit =
    compactSketchIndex(spark, indexDir,
      committedBatchBound(spark, checkpointDir), targetPartitions)

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over word tokens: per bit, majority vote of 64-bit
    * FNV-1a token hashes, computed by the native
    * [[graft.functions.SimHash64]] expression (one primitive loop per
    * row — see MinHash note above for why not a column fold). */
  def simHash(textCol: Column): Column =
    graft.functions.SketchExpressions.simHash64(TextFunctions.tokens(textCol))

  /** Hamming distance between two simhash longs. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via banded chunk join: split the 64-bit
    * simhash into 4 chunks of 16 bits; any pair within Hamming
    * distance 3 shares ≥1 exact chunk (pigeonhole), so candidates are
    * found with a hash join on (chunk index, chunk value) — never an
    * all-pairs scan. `maxHamming` then exact-filters candidates,
    * before the pair dedup. Chunk buckets larger than
    * [[DefaultMaxBucketSize]] are fenced out by [[bucketPairs]]: a
    * template family sharing one simhash chunk would otherwise pair
    * quadratically. Output: (id1, id2, hamming), id1 < id2. */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // the simhash frame feeds both sides of the chunk self-join:
    // persist so the corpus is hashed once. Blank docs are excluded —
    // they would all share the degenerate all-ones simhash and pair
    // quadratically.
    val sh = df.where(length(trim(col(textCol))) > 0)
      .select(col(idCol).as("doc_id"), simHash(col(textCol)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunked = sh.select(col("doc_id"), col("sh"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("ci"),
          shiftright(col("sh"), i * 16).bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)).as("ch"))
      .select(col("doc_id"), col("sh"), col("ch.ci"), col("ch.cv"))
    bucketPairs(chunked, Seq("ci", "cv"), "doc_id", DefaultMaxBucketSize,
      measures = Seq(hammingDistance(col("a.sh"), col("b.sh")).as("hamming")),
      gate = Some(col("hamming") <= maxHamming))
  }

  // ------------------------------------------------------- components

  /** Lineage cut with an explicit RDD handle, shared by the two
    * component loops: Dataset.localCheckpoint hides its cached RDD,
    * so a loop over it LEAKS one checkpoint's storage per iteration
    * for the life of the session. Holding the RDD ourselves lets each
    * round free the previous round's blocks. (On an unreliable
    * cluster swap localCheckpoint for checkpoint here — ONE place.) */
  private def cutCheckpoint(df: DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val rdd = df.rdd.localCheckpoint()
    rdd.count() // eager: materialize before the source frame changes
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Resolve near-dup PAIRS into duplicate GROUPS — the step a real
    * dedup pipeline runs after any pair generator above (keep one
    * canonical doc per group, drop the rest). Connected components by
    * iterative min-label propagation: every node's label converges to
    * the smallest id reachable from it, so `comp_id` is stable,
    * content-determined, and directly usable as the canonical id.
    *
    * Output: (id, comp_id) for every id appearing in `pairs`.
    *
    * Scale shape: one shuffle (edge join + min-aggregate) per
    * iteration; iterations = graph diameter. Near-dup graphs are
    * dense clusters of copies — diameter is small regardless of corpus
    * size. Lineage is cut with an eager localCheckpoint per iteration
    * (an iterative join otherwise compounds the plan exponentially);
    * localCheckpoint blocks live in executor storage, so an executor
    * loss fails the job rather than silently recomputing — on an
    * unreliable cluster set a checkpoint dir and swap in
    * `checkpoint()` for strict recoverability.
    * If `maxIter` rounds don't converge the method THROWS rather than
    * return wrong groups — at that point the graph is chain-shaped and
    * the right tool is the O(log²n)-round large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond"), not silent truncation. */
  def components(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
                 maxIter: Int = 25): DataFrame = {
    // ids keep their source type: min/least order strings and numerics
    // alike (a cast would silently null non-numeric ids)
    // Symmetrize with ONE scan of `pairs` + explode, not a union of
    // two scans: `pairs` is typically an expensive unpersisted subplan
    // (the MinHash verify join), and a union would execute it twice
    // when edges first materializes.
    val edges = pairs
      .select(explode(array(
        struct(col(id1).as("a"), col(id2).as("b")),
        struct(col(id2).as("a"), col(id1).as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Initial labels (1-hop neighborhood min) are NOT checkpointed as
    // a separate job: round 0 fuses init + first propagation into ONE
    // query, so the common case — dense near-dup clusters where the
    // 1-hop min is already the fixed point and round 0 merely
    // verifies it — pays a single job instead of two jobs + an extra
    // checkpoint/RDD round-trip. The init subplan appears twice in
    // round 0's plan (frontier leg + labels leg); its shuffle is
    // deduped by exchange reuse, and the duplicated agg over the
    // persisted edges is far cheaper than the checkpoint job it
    // replaces (profiled: ~0.5 s fixed cost per job at bench scale).
    val init = edges.groupBy(col("a"))
      .agg(min(col("b")).as("mb"))
      .select(col("a").as("id"), least(col("a"), col("mb")).as("comp"))
    // Delta propagation: only labels that CHANGED last round can
    // improve a neighbor this round — min is monotone, so an
    // unchanged node's contribution was already folded in the round
    // after it last improved. Round 0 treats every initial label as
    // changed; the frontier then SHRINKS as components settle, so
    // late rounds join edges against the still-active rim only
    // instead of re-shuffling every settled label.
    var labels: DataFrame = init
    var labelsRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    var frontier = init
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // ONE join per round: the merged frame carries old and new labels
      // side by side, so convergence is a scan of the checkpointed
      // result (the `chg` column), not a second next-vs-labels join job
      val prop = edges.join(frontier, edges("a") === frontier("id"))
        .select(col("b").as("id"), col("comp"))
        .groupBy("id").agg(min("comp").as("pc"))
      // prop's ids ⊆ labels' ids (edges are symmetric, so every node
      // already has a label) — the left join loses nothing
      val merged = labels.select(col("id"), col("comp").as("oldc"))
        .join(prop, Seq("id"), "left")
        .select(col("id"),
          least(col("oldc"), coalesce(col("pc"), col("oldc"))).as("comp"),
          (coalesce(col("pc"), col("oldc")) < col("oldc")).as("chg"))
      // ONE action materializes the checkpoint AND counts changed
      // labels — no separate convergence scan job
      val mergedRdd = merged.rdd.localCheckpoint()
      val changed = mergedRdd
        .mapPartitions(it => Iterator.single(it.count(_.getBoolean(2)).toLong))
        .sum()
      converged = changed == 0
      if (labelsRdd != null)
        labelsRdd.unpersist() // previous round's checkpoint blocks freed
      val mergedDf = pairs.sparkSession.createDataFrame(mergedRdd, merged.schema)
      labels = mergedDf.select("id", "comp")
      frontier = mergedDf.where(col("chg")).select("id", "comp")
      labelsRdd = mergedRdd
      iter += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"components: not converged after $maxIter rounds — graph diameter " +
          "exceeds maxIter; raise it or use a star-contraction algorithm")
    // the FINAL checkpoint stays cached — the result reads from it;
    // ContextCleaner releases it when the frame is no longer referenced
    labels.select(col("id"), col("comp").as("comp_id"))
  }

  /** INCREMENTAL connected components — the group-maintenance
    * consumer of [[incrementalNearDupsStream]]'s pair segments: fold
    * a batch of NEW pairs into an existing (id, comp_id) assignment
    * without replaying history pairs. The existing assignment
    * re-enters as star edges (each id — its component minimum: the
    * transitively-sufficient summary of everything resolved so far),
    * the new pairs add their edges, and one [[components]] run over
    * that union resolves the merged groups — so the per-batch cost
    * tracks |existing ids| + |new pairs|, never the full pair
    * history. Singleton ids (assigned to themselves, touched by no
    * new pair) keep their row. Component ids stay the component-min
    * id, so a batch that BRIDGES two groups relabels both to the
    * smaller minimum — ids are stable except across genuine merges
    * (exactly the batch semantics; parity spec-pinned: folding
    * batches equals one-shot components of all pairs ever seen).
    *
    * Scale: the star summary is one row per known id regardless of
    * how many pairs built it; label propagation over stars + a batch
    * converges in few rounds (stars have diameter 2). */
  def incrementalComponents(assign: DataFrame, newPairs: DataFrame,
                            id1: String = "id1", id2: String = "id2",
                            maxIter: Int = 25): DataFrame = {
    val starEdges = assign
      .select(col("id").as(id1), col("comp_id").as(id2))
      .where(col(id1) =!= col(id2))
    val merged = components(
      starEdges.unionByName(newPairs.select(col(id1), col(id2))),
      id1, id2, maxIter)
    // singletons (self-assigned, untouched by any edge) keep rows
    val allIds = assign.select(col("id"))
      .unionByName(newPairs.select(col(id1).as("id")))
      .unionByName(newPairs.select(col(id2).as("id")))
      .distinct()
    allIds.join(merged, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp_id"), col("id")).as("comp_id"))
  }

  /** Connected components by large-star/small-star alternation
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * the CHAIN-GRAPH escape hatch [[components]]' scaladoc promises:
    * label propagation needs diameter rounds, which for a path graph
    * is the node count; the star alternation contracts any graph in
    * O(log² n) rounds regardless of diameter.
    *
    * Per round: LARGE-STAR connects every neighbor larger than `u` to
    * `u`'s minimum (min of the neighborhood and `u`), SMALL-STAR
    * re-points every smaller-or-equal neighbor there; iterated to a
    * fixed point the edge set is a star per component, each node
    * pointing at the component minimum. Same output contract as
    * [[components]]: (id, comp_id = component-min id), one row per id
    * in `pairs` — property-pinned to agree with [[components]] on
    * random graphs.
    *
    * Per round cost: two grouped shuffles over the (shrinking) edge
    * list plus a fixed-point signature check; lineage cut per round
    * exactly as in [[components]]. */
  def componentsStar(pairs: DataFrame, id1: String = "id1", id2: String = "id2",
                     maxIter: Int = 50): DataFrame = {
    // drop self-loops, dedup on the UNDIRECTED form
    def canon(e: DataFrame): DataFrame =
      e.where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      canon(sym.join(mins, "a").where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b")))
    }

    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge big -> small, then point each node's
      // smaller neighbors (and itself) at its minimum
      val oriented = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val mins = oriented.groupBy("a").agg(min("b").as("m"))
      canon(
        oriented.join(mins, "a")
          .select(col("b").as("a"), col("m").as("b"))
          .union(mins.select(col("a"), col("m").as("b"))))
    }

    def signature(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: full-range xxhash64 values overflow an ANSI
      // long sum; xor is order-independent and cannot overflow
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }

    var (edges, edgesRdd) = cutCheckpoint(canon(
      pairs.select(col(id1).as("a"), col(id2).as("b"))))
    var sig = signature(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val (next, nextRdd) = cutCheckpoint(smallStar(largeStar(edges)))
      val nextSig = signature(next)
      converged = nextSig == sig
      edgesRdd.unpersist()
      edges = next; edgesRdd = nextRdd; sig = nextSig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"componentsStar: not converged after $maxIter rounds")
    // fixed point: stars stored in canonical (min, member) order — `a`
    // IS the component min; minima label their own component. The two
    // branches are disjoint (a != b throughout) and each is already
    // duplicate-free, so no outer distinct. Nodes whose only edges
    // were self-loops never enter the edge set — the left join from
    // the PAIR node universe restores them as their own singleton
    // component (components() emits them too; same contract).
    val starLabels = edges.select(col("b").as("id"), col("a").as("comp_id"))
      .union(edges.select(col("a").as("id"), col("a").as("comp_id")).distinct())
    pairs.select(col(id1).as("id")).union(pairs.select(col(id2).as("id"))).distinct()
      .join(starLabels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp_id"), col("id")).as("comp_id"))
  }
}
