package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Prefix-filtered EXACT set-similarity self-join — the PPJoin/
  * AllPairs prefix principle (Chaudhuri et al.'s SSJoin / Xiao et
  * al.'s PPJoin, both public): two token sets with Jaccard ≥ t must
  * share at least one token among each set's first
  * `n − ceil(t·n) + 1` tokens when every set is ordered by GLOBAL
  * token rarity (ascending document frequency). Joining only on
  * those prefix tokens is therefore COMPLETE — unlike MinHash-LSH
  * ([[Dedup.minHashVerifiedPairs]]) there is no recall loss — while
  * the join fan-out stays tiny because prefixes are, by
  * construction, each document's RAREST tokens. Two further standard
  * PPJoin prunes keep low-cardinality vocabularies (where every
  * token is common and the prefix principle alone does nothing)
  * tractable:
  *  · length filter — |A| and |B| within factor t of each other;
  *  · positional filter — PPJoin's ACCUMULATED form (optimization
  *    r20; the r19 form tested one prefix match at a time): per
  *    candidate pair, aggregate the count `c` of shared prefix
  *    tokens with the first/last match positions, and bound the
  *    total overlap twice — both bounds must reach
  *    alpha = ceil(num·(n1+n2)/(num+den)). See [[candidatesFromDocs]]
  *    for the completeness argument.
  * Both only discard pairs that provably cannot reach t.
  *
  * The threshold is a rational `num/den` and every keep decision is
  * integer arithmetic (`den·|A∩B| ≥ num·(|A|+|B|−|A∩B|)`): no double
  * compare can disagree between engines ([[graft.ops.Sampling]]'s
  * integer-rule discipline).
  *
  * Scale posture: postings are (id, 64-bit hash) primitive rows for
  * `ngram ≥ 2` (the [[Dedup.minHashVerifiedPairs]] lesson — string
  * grams in shuffles/caches cost more than the joins); the global df
  * table never materializes as a join (document frequency rides the
  * posting-list aggregate — optimization r20); the candidate join
  * touches only prefix postings; and verification intersects PACKED
  * sorted-hash blobs ([[graft.functions.SketchExpressions
  * .packedIntersectCount]], collision odds ~1e-14/pair) restricted
  * to surviving candidates — never all-pairs. The rarity ordering is
  * (df, token): fully deterministic, so results are reproducible
  * across engines and runs.
  */
object SetSimJoin {

  /** Exact token-set Jaccard pairs at threshold `num/den`.
    *
    * `ngram = 1` compares lower-cased word SETS (strings end to end);
    * `ngram ≥ 2` compares word-shingle sets in the q25/q27 gram
    * family, hashed to 64 bits — far more discriminative, which is
    * what keeps the exact answer tractable on template-heavy corpora
    * whose unigram sets form giant near-identical cliques.
    *
    * @return (id1, id2, inter, n1, n2) for every pair with
    *         den·inter ≥ num·(n1 + n2 − inter), id1 < id2
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   num: Int, den: Int, ngram: Int = 1): DataFrame = {
    require(num >= 1 && den >= 1 && num <= den,
      s"setSimJoin: threshold num/den must be in (0, 1]: $num/$den")
    require(ngram >= 1, s"setSimJoin: ngram must be >= 1: $ngram")
    if (ngram == 1) {
      val toks = df
        .select(col(idCol).as("id"),
          explode(split(lower(col(textCol)), " ")).as("tok"))
        .where(col("tok") =!= "").distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val cands = candidates(toks, num, den)
      val t1 = toks.select(col("id").as("id1"), col("tok"))
      val t2 = toks.select(col("id").as("id2"), col("tok"))
      cands.join(t1, "id1").join(t2, Seq("id2", "tok"))
        .groupBy("id1", "id2", "n1", "n2")
        .agg(count(lit(1)).as("inter"))
        .where(col("inter") * den >= (col("n1") + col("n2") - col("inter")) * num)
        .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"))
    } else {
      import graft.functions.{SketchExpressions => SE}
      // primitive (id, hash) postings; single consumer (the posting-
      // list aggregate below), so no persist — the rows stream from
      // the scan straight into the by-token aggregate (r20: the r19
      // persist+count cost a full extra pass and cache build for a
      // cache only one operator ever read)
      val toks = graft.core.Engine.widen(df)
        .select(col(idCol).as("id"),
          explode(SE.shingleHashes64(col(textCol), ngram)).as("tok"))
      // ONE per-id subtree feeds BOTH the prefix generation and the
      // verification blobs: `arr` is the full rarity-sorted token
      // set, so the blob (hash-sorted packed set) is a projection of
      // it — instead of shuffling the postings by id twice (r20,
      // guide §2.4). Persisted because exchange reuse alone would
      // re-run the per-doc sort aggregate once per consumer (~20
      // cpu-s at the x10 scale, CPU-profiled); one row per DOCUMENT,
      // so the cache is tiny relative to the postings it replaces.
      val docs = docsRarity(toks).persist(StorageLevel.MEMORY_AND_DISK)
      val cands = candidatesFromDocs(docs, num, den)
      // shingleHashes64 is distinct per doc, so re-sorting the tok
      // field of `arr` is exactly the blob packedIntersectCount
      // expects (identical to packing sort_array(collect_list(tok)))
      val blobs = docs.select(col("id"),
        SE.packLongs(sort_array(col("arr").getField("tok"))).as("blob"))
      // candidate rows are narrow (4 longs); the blob tables build
      // compact per-partition hash maps — shuffled-hash beats
      // sorting the million-candidate side twice (guide §3.1)
      cands
        .join(blobs.select(col("id").as("id1"), col("blob").as("b1"))
          .hint("SHUFFLE_HASH"), "id1")
        .join(blobs.select(col("id").as("id2"), col("blob").as("b2"))
          .hint("SHUFFLE_HASH"), "id2")
        // blobs are hash-sorted by construction → allocation-free
        // merge intersect (packedIntersectCount builds a ~1 KB hash
        // table per pair; ~GBs of GC churn at millions of candidates)
        .withColumn("inter", SE.sortedIntersectCount(col("b1"), col("b2")).cast("long"))
        .where(col("inter") * den >= (col("n1") + col("n2") - col("inter")) * num)
        .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"))
    }
  }

  /** Per-document rarity-sorted token arrays: (id, arr, n) where
    * `arr` is the doc's distinct tokens as (dfc, tok) structs sorted
    * ascending by global document frequency then token, and `n` its
    * size. Document frequency rides the posting-list aggregate —
    * `collect_list(id)` per token, dfc = size of the list — instead
    * of a df-table join back onto the postings (r20: the join
    * shuffled and sorted the full posting table a second time; the
    * aggregate form reuses the rows it already grouped). `toks` must
    * be distinct (id, tok) postings. */
  private def docsRarity(toks: DataFrame): DataFrame =
    toks.groupBy("tok").agg(collect_list(col("id")).as("ids"))
      .select(size(col("ids")).cast("long").as("dfc"), col("tok"),
        explode(col("ids")).as("id"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("dfc"), col("tok")))).as("arr"),
        count(lit(1)).as("n"))

  /** Shared candidate generation: rarity-ordered prefixes + the
    * length filter + PPJoin's accumulated positional filter.
    * Returns (id1, n1, id2, n2) with id1 < id2.
    *
    * The pair aggregation replaces the r19 `distinct()` and
    * single-match positional filter: per pair it counts the shared
    * prefix tokens `c` and keeps the first (min) and last (max)
    * match positions. Under the global (df, tok) order, a document's
    * position column is monotone in that order, so the globally
    * first/last shared prefix token attains (min pa, min pb) /
    * (max pa, max pb) SIMULTANEOUSLY. Completeness of the two prunes:
    *  · last-match bound — any shared token NOT among the c counted
    *    ones is outside at least one prefix, hence sorts globally
    *    after the last counted token w* (else it would sit inside
    *    both prefixes and be counted), hence occupies a position
    *    > pa* in doc1 AND > pb* in doc2: at most
    *    min(n1 − pa*, n2 − pb*) such tokens exist, so
    *    overlap ≤ c + min(n1 − max(pa), n2 − max(pb));
    *  · first-match bound — every shared token other than the
    *    globally first shared prefix token w1 sorts after w1, so
    *    overlap ≤ 1 + min(n1 − min(pa), n2 − min(pb)) (the r19
    *    per-row filter, evaluated at the one row where it is
    *    tightest).
    * Both are upper bounds on |A∩B|, so requiring each to reach
    * alpha = ceil(num·(n1+n2)/(num+den)) never drops a true pair;
    * `bound ≥ ceil(x/y) ⟺ bound·y ≥ x` keeps the test integral. */
  private def candidates(toks: DataFrame, num: Int, den: Int): DataFrame =
    candidatesFromDocs(docsRarity(toks), num, den)

  private def candidatesFromDocs(docs: DataFrame, num: Int,
                                 den: Int): DataFrame = {
    // probing prefix length n − ceil(t·n) + 1, ceil by integer division
    val prefixLen = expr(s"CAST(n - ((n * $num + ${den - 1}) DIV $den) + 1 AS INT)")
    val prefix = docs
      .select(col("id"), col("n"),
        posexplode(slice(col("arr").getField("tok"), lit(1), prefixLen))
          .as(Seq("p0", "tok")))
      .select(col("id"), col("n"), (col("p0") + 1).as("p"), col("tok"))
    // (an AllPairs asymmetric indexing-prefix variant — the smaller
    // side of a pair only needs its first n − ceil(2t/(1+t)·n) + 1
    // tokens — was built and MEASURED in r20: it pruned only 1.3% of
    // candidates on the template-heavy fixture corpus (near-dups
    // share their rarest tokens, which sit at the front of both
    // prefixes) while its b-side filter broke the self-join's
    // exchange reuse; reverted per guide §1.1)
    val a = prefix.select(col("id").as("id1"), col("n").as("n1"),
      col("p").as("pa"), col("tok"))
    val b = prefix.select(col("id").as("id2"), col("n").as("n2"),
      col("p").as("pb"), col("tok"))
    a.join(b.hint("SHUFFLE_HASH"), Seq("tok"))
      .where(col("id1") < col("id2") &&
        col("n1") * num <= col("n2") * den &&
        col("n2") * num <= col("n1") * den)
      .groupBy("id1", "id2", "n1", "n2")
      .agg(count(lit(1)).as("c"),
        max(col("pa")).as("pam"), max(col("pb")).as("pbm"),
        min(col("pa")).as("pa1"), min(col("pb")).as("pb1"))
      .where(
        (col("c") + least(col("n1") - col("pam"), col("n2") - col("pbm")))
          * (num + den) >= (col("n1") + col("n2")) * num &&
        (least(col("n1") - col("pa1"), col("n2") - col("pb1")) + 1)
          * (num + den) >= (col("n1") + col("n2")) * num)
      .select(col("id1"), col("n1"), col("id2"), col("n2"))
  }
}
