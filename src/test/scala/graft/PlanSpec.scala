package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SimpleMode

/** Physical-plan regressions: the properties that make the declared
  * queries survive a 100×–1000× scale-up. A green result here means
  * Catalyst is doing the work Hadoop users did by hand (SURVEY.md §4);
  * a regression (filter not reaching the scan, a broadcast turning
  * into a shuffle, top-k becoming a global sort) is a scale bug even
  * while row counts stay correct. */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.explainString(SimpleMode)

  /** ADVICE r19: the round-robin exemption in the payload-never-
    * shuffles pins must not silently cover a payload-bearing
    * repartition. Checks, in FORMATTED mode (node detail blocks carry
    * the Input column list), that every RoundRobinPartitioning
    * exchange in the query's plan shuffles exactly the bare doc_id —
    * the r19 pre-synthesis widening exchange and nothing else. */
  private def assertRoundRobinCarriesOnlyDocId(q: String): Unit = {
    val fp = SparkEntry.queries(q)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    fp.split("\n\n").filter(_.contains("Arguments: RoundRobinPartitioning"))
      .foreach { b =>
        val in = b.linesIterator.find(_.startsWith("Input [")).getOrElse("?")
        assert(in.matches("Input \\[1\\]: \\[doc_id#\\d+L?\\]"),
          s"$q: round-robin exchange carries more than the bare doc_id:\n$b")
      }
  }

  test("q01: predicates are pushed into the parquet scan") {
    val p = plan("q01_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    assert(p.contains("LessThan(l_shipdate"), p)
  }

  test("q01: scan is column-pruned to the referenced columns") {
    val p = plan("q01_filter_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_returnflag"), readSchema)
  }

  test("q06: dimension side is broadcast, not shuffled") {
    assert(plan("q06_join_inner").contains("BroadcastHashJoin"), plan("q06_join_inner"))
  }

  test("q07: aggregation is partial+final (map-side combine)") {
    val p = plan("q07_join_outer_nway")
    assert(p.contains("partial_count"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q10: limit+sort compiles to top-k, not a global sort") {
    assert(plan("q10_total_sort").contains("TakeOrderedAndProject"), plan("q10_total_sort"))
  }

  test("q02: aggregate reads only the five needed lineitem columns") {
    val p = plan("q02_tpch_q1")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_partkey"), readSchema)
  }

  test("point lookup pushes the equality predicate into the scan") {
    val li = graft.core.Tables.lineitem(spark, sf)
    val p = graft.ops.Lookup.pointLookup(li, org.apache.spark.sql.functions.col("l_orderkey"), 1L)
      .queryExecution.explainString(SimpleMode)
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)"), p)
  }

  test("q46: rollup is Expand + partial/final aggregate, not N re-scans") {
    val p = plan("q46_rollup")
    assert(p.contains("Expand"), p)
    assert(p.contains("partial_sum") || p.contains("partial count"), p)
    // one scan feeds all grouping sets — the reference would run 3 jobs
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
  }

  test("q47: salted aggregation aggregates on (key, salt) before the final key agg") {
    val p = plan("q47_salted_agg")
    // two aggregate stages around the salt column, each itself partial+final
    assert(p.contains("__salt"), p)
    assert(p.contains("partial_sum"), p)
  }

  test("q54: deterministic sample plans as distributed top-k, not a global sort") {
    assert(plan("q54_det_sample").contains("TakeOrderedAndProject"), plan("q54_det_sample"))
  }

  test("q53: bucketed join never shuffles on the bucket key") {
    val p = plan("q53_bucketed_join")
    // at sf0.001 the small side broadcasts (also shuffle-free); with
    // broadcast off the bucketed no-Exchange SMJ is pinned in
    // BucketingSpec — either way the key must not hash-partition
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p)
    assert(p.contains("Bucketed: true"), p)
  }

  test("q64: repetition signals are map-only — no exchange, no join, one scan") {
    val p = plan("q64_repetition")
    assert(!p.contains("Join"), s"repetition signals should not join:\n$p")
    // the per-document fold must not ship exploded units anywhere: the
    // only allowed exchanges are the input-widening roundrobin (a
    // no-op once the scan has >= slots splits — Engine.widen) and the
    // final presentation ORDER BY. Never a hash exchange: that would
    // mean a groupBy/join snuck into the fold.
    assert(!p.contains("Exchange hashpartitioning"),
      s"no aggregation/join exchange expected in the fold plan:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 2, s"expected at most widen + orderBy exchanges, got $exchanges:\n$p")
    assert(!p.contains("Generate"), s"no explode expected in the fold plan:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"repetition signals should scan the corpus once:\n$p")
  }

  test("q85: boilerplate common set broadcasts into the anti join") {
    val p = plan("q85_line_dedup")
    // the wide (corpus lines) side must never shuffle for the scrub
    // itself: the bounded common set crosses as a broadcast
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("q86: stratified sample is one hash shuffle, no global sort") {
    val p = plan("q86_stratified_sample")
    // per-stratum ranks partition by lang; the only sorts are inside
    // those hash partitions (and the presentation orderBy) — a
    // partition-less window would collapse the corpus onto one task
    assert(p.contains("Exchange hashpartitioning(lang"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q20: query side of the similarity scan is broadcast") {
    assert(plan("q20_cosine_topk").contains("BroadcastNestedLoopJoin") ||
      plan("q20_cosine_topk").contains("BroadcastExchange"), plan("q20_cosine_topk"))
  }

  test("q90: quota table joins back as a broadcast, rank is one hash shuffle") {
    val p = plan("q90_temperature_sample")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Exchange hashpartitioning(lang"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q95: skew report tops out as per-partition heaps, not a global sort") {
    val p = plan("q95_skew_report")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p) // map-side combine before the shuffle
  }

  test("q97: funnel is hash aggs + joins — no per-user event sort") {
    val p = plan("q97_funnel")
    // partial aggregation of the per-stage MINs (map-side combine)
    assert(p.contains("partial_min"), p)
    // no window operator: the conditional-MIN chain must not have
    // turned into a sort-based window walk
    assert(!p.contains("Window"), p)
  }

  test("q102: ntile window partitions by user — never a single partition") {
    val p = plan("q102_ntile")
    assert(p.contains("Exchange hashpartitioning(user_id"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q94: mixture replication is a broadcast probe + generator, no shuffle") {
    val p = plan("q94_mix_epochs")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Generate"), p) // the explode(sequence(...))
    // presentation orderBy aside, the plan must not hash-shuffle the corpus
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 0, s"expected no hash exchange, got $hashEx:\n$p")
  }

  test("q117: 90-day rolling spend is ONE window pass — no self-join") {
    val p = plan("q117_range_frame")
    assert(!p.contains("Join"), s"range frame must not become a self-join:\n$p")
    assert(p.contains("Exchange hashpartitioning(o_custkey"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
  }

  test("q115: vocabulary fence broadcasts into the pair join") {
    val p = plan("q115_pmi")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q121: CDC chunk hashing is map-only up to the single global agg") {
    val p = plan("q121_cdc_dedup")
    assert(!p.contains("Join"), s"chunking must not join:\n$p")
    // one scan; partial_count proves map-side combine ran before the
    // single-row final aggregation
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    assert(p.contains("partial_count"), p)
  }

  test("q123: z-value is pure codegen'd arithmetic — no UDF, no fallback expr") {
    val p = plan("q123_zorder")
    assert(p.contains("TakeOrderedAndProject"), p) // top-k, not global sort
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("q124: salted join replicates the dim side, never a single partition") {
    val p = plan("q124_salted_join")
    assert(p.contains("Generate"), p) // explode(sequence(0, factor-1))
    assert(!p.contains("Exchange SinglePartition") ||
      p.contains("TakeOrderedAndProject"), p)
  }

  test("q125: transition matrix is one window pass + hash aggs, partitioned by user") {
    val p = plan("q125_transitions")
    assert(p.contains("Exchange hashpartitioning(user_id"), p)
    assert(!p.contains("Join"), p)
  }

  test("q129: both SCD2 window passes ride ONE custkey shuffle") {
    val p = plan("q129_scd2")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"change-detect and interval-close windows should share one exchange, got $hashEx:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q128: BM25 corpus scalars and df ride broadcasts; ranking is top-k") {
    val p = plan("q128_bm25")
    // stats (1 row), dfq (vocab-bounded) and the small joined sides all
    // broadcast — the only shuffles are the tf/len aggregations
    assert(p.linesIterator.count(_.contains("BroadcastExchange")) >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q130: windows AND session groupBy share ONE user_id shuffle") {
    val p = plan("q130_sessionize")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // HashPartitioning(user_id) satisfies the (user_id, session_id)
    // grouping's ClusteredDistribution — no re-shuffle after the windows
    assert(hashEx == 1,
      s"lag window, sum window and session groupBy should share one exchange, got $hashEx:\n$p")
  }

  test("q131: basket self-join is an equi-join on the order key, never nested-loop") {
    val p = plan("q131_basket_pairs")
    // broadcast at this fixture size, shuffle-equi at scale — either
    // way the p1 < p2 pairing must stay a residual condition on an
    // orderkey equi-join, NOT the join condition of a nested loop
    assert(p.contains("HashJoin [ok#") || p.contains("SortMergeJoin [ok#"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q136: CDC compaction is one user_id shuffle, no join, no global sort before the filter") {
    val p = plan("q136_cdc_compact")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected the single version-window exchange, got $hashEx:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q139: histogram stats ride a broadcast, counting is partial+final") {
    val p = plan("q139_histogram")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_count"), p)
    // the only key shuffle is the final (prio, bin) aggregation
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"got $hashEx hash exchanges:\n$p")
  }

  test("q137: fenced pair join never degenerates to a nested loop") {
    val p = plan("q137_item_cosine")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q143: follows-pairs self-join is a user_id equi-join with the fence below it") {
    val p = plan("q143_follows_pairs")
    assert(p.contains("HashJoin [user_id") || p.contains("SortMergeJoin [user_id"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the ≤1000-events fence (count window) must be computed BEFORE the
    // quadratic fan-out, i.e. a Window node below the join
    assert(p.indexOf("Window") > p.indexOf("Join"), p)
  }

  test("q154: reset-counter segment windows ride ONE user_id shuffle") {
    val p = plan("q154_since_marker")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // the (user_id, seg) window's ClusteredDistribution is satisfied by
    // HashPartitioning(user_id) — same reuse as q130's groupBy
    assert(hashEx == 1, s"expected one exchange, got $hashEx:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("q158: session windows and per-session groupBy share the user shuffle; only the ordinal rollup re-shuffles") {
    val p = plan("q158_session_conversion")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 2, s"expected user_id + session_ordinal exchanges only, got $hashEx:\n$p")
  }

  test("q169: partition-column predicate prunes directories, not rows") {
    val p = plan("q169_partition_prune")
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("event_type"), scanLine)
    // the predicate must NOT fall through to a row-level Filter on
    // the partition column (pruning happens at listing time)
    assert(scanLine.contains("purchase") || p.contains("(event_type#"), scanLine)
  }

  test("q176: correlated scalar subquery decorrelates to aggregate+join, not per-row re-scan") {
    val p = plan("q176_correlated_subquery")
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
    assert(p.contains("Join"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q134: allocation join and all three window passes share the order-key shuffles") {
    val p = plan("q134_allocation")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // two input shuffles feed the join; wsum/rem/row_number windows
    // reuse that partitioning — no extra exchange downstream
    assert(hashEx <= 2,
      s"windows should reuse the join partitioning, got $hashEx exchanges:\n$p")
  }

  test("q208: correlated LATERAL limit decorrelates to a group-limit window, not per-row subqueries") {
    val p = plan("q208_lateral_topk")
    // WindowGroupLimit with a Partial stage = map-side top-k per key
    // BEFORE the shuffle; the outer join side broadcasts
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q210: ten-threshold sweep reads the table exactly once") {
    val p = plan("q210_threshold_sweep")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    // fan-out is absorbed before the shuffle by a partial aggregate
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
  }

  test("q211: count-min probe joins broadcast the d*w sketch, never shuffle it") {
    val p = plan("q211_countmin_sketch")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q209: cluster-rep split never shuffles full text — scan prunes to id/chars + tokens") {
    val p = plan("q209_leakage_safe_splits")
    // the documents scan feeding the split audit reads only the two
    // audited columns; text is read once by the MinHash pair pipeline
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.exists(s => s.contains("doc_id") && s.contains("n_chars")
      && !s.contains("text")), schemas.mkString("\n"))
  }

  test("q217: exact-substring pipeline never goes quadratic and counts map-side") {
    val p = plan("q217_exact_substring_dups")
    // no all-pairs anything: every join is a hash join on gh/doc keys
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the corpus-wide gram occurrence count is partial+final — the
    // whole-corpus frequency surface reduces before its exchange
    assert(p.contains("partial_count"), p)
  }

  test("q218: scrub keeps per-doc removal ranges aggregated, no token-range row explosion") {
    val p = plan("q218_substring_scrub")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // removal spans reach tokens as one collected array per doc
    // (exists() over the array), never as an exploded range join
    assert(p.contains("exists"), p)
  }

  test("q221: both correlated subqueries decorrelate to one semi + one anti join") {
    val p = plan("q221_multi_exists")
    // RewritePredicateSubquery must leave no per-row subquery behind
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.toLowerCase.contains("subquery"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q223: skyline is group-max + frame scan, never the quadratic dominance join") {
    val p = plan("q223_skyline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // per-price maxima combine map-side before the exchange
    assert(p.contains("partial_max"), p)
    // exactly one scan of part feeds both the group pass and the join back
    assert(p.linesIterator.count(_.contains("FileScan parquet")) <= 2, p)
  }

  test("q222: grid generation is sequence+explode off per-user extents, not a time cross join") {
    val p = plan("q222_gapfill_interp")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("sequence("), p)
  }

  test("q224: attribution is one window over one events scan, never a self-join") {
    val p = plan("q224_attribution")
    // the naive form joins events to events per purchase (quadratic on
    // hot users); the window form reads the table once and sorts only
    // within user partitions
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // the type filter must NOT be pushed below the window (it would
    // drop the non-purchase cause rows the frame reads)
    assert(!p.contains("EqualTo(event_type,purchase)"), p)
  }

  test("q225: PSI drift audit is one documents scan + a 10-row spine") {
    val p = plan("q225_psi")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    // bin counts combine map-side before the exchange
    assert(p.contains("partial_sum"), p)
    // scan prunes to the two audited columns
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(rs.exists(s => s.contains("source") && s.contains("n_chars")
      && !s.contains("text")), rs.mkString("\n"))
  }

  test("q231: quantile sketch reduces to bins in one partial-agg pass, windows only the histogram") {
    val p = plan("q231_binned_quantiles")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    // the data-size aggregation combines map-side; everything after
    // operates on the <=64-bins-per-group histogram
    assert(p.contains("partial_count"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), p)
  }

  test("q237: eval set broadcasts; the corpus max combines map-side (scale plan)") {
    val p = plan("q237_semantic_decon")
    // the eval side rides a BroadcastExchange into the cross join —
    // the corpus never shuffles vectors
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BroadcastExchange"), p)
    // partial max before the one id-keyed exchange
    assert(p.contains("partial_max"), p)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 2, p)
  }

  test("q236: bucket counts partial-agg; the weight table broadcasts to scoring") {
    val p = plan("q236_dsir_importance")
    assert(p.contains("partial_count"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q238: text folding is map-only up to the presentation sort") {
    val p = plan("q238_text_fold")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    // ONE exchange total: the final ORDER BY range partitioning —
    // no aggregation/join shuffles in a per-row fold
    assert(p.linesIterator.count(l => l.trim.startsWith("+- Exchange") ||
      l.trim.startsWith(":- Exchange")) <= 1, p)
    assert(!p.contains("Join"), p)
  }

  test("q239: per-domain quota is a partial group-limit window over host, one scan") {
    val p = plan("q239_domain_quota")
    // map-side top-k per host BEFORE the exchange, then the final cut
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.toLowerCase.contains("partial"), p)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q241: snapshot diff is ONE id-keyed full-outer join; hashes map-side") {
    val p = plan("q241_corpus_diff")
    assert(p.contains("FullOuter"), p)
    // exactly one join in the whole plan — the diff never self-joins
    // per status or re-reads a side
    assert(p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) == 1, p)
    assert(!p.contains("CartesianProduct"), p)
    // md5 is computed below the exchange (map-side), so only the
    // 16-byte hash + id cross the one shuffle, never text
    val exchangeAt = p.linesIterator.indexWhere(_.contains("Exchange"))
    assert(exchangeAt >= 0, p)
    assert(p.contains("md5"), p)
  }

  test("media decode queries are map-only: one scan, no join, one presentation exchange") {
    Seq("q243_jpeg_decode", "q245_gif_decode", "q247_tiff_decode",
        "q248_audio_decode", "q249_ico_decode", "q250_media_inspect",
        "q251_image_dhash", "q253_audio_fingerprint",
        "q254_video_metadata", "q255_mkv_metadata",
        "q256_exif", "q257_mp3_metadata", "q258_video_frames",
        "q261_subtitles", "q267_html_extract", "q268_archive_entries",
        "q269_archive_media", "q270_warc_records",
        "q271_warc_text").foreach { q =>
      val p = plan(q)
      // payload bytes never cross a shuffle: the ONLY data exchange is
      // the final ORDER BY's range partitioning, after stats are
      // integers. The round-robin REPARTITION_BY_NUM below the
      // synthesis map is the r19 input-widening exchange and carries
      // BARE doc_ids (pre-synthesis, pre-decode) — assert that is the
      // only other kind.
      assert(p.linesIterator.count(l =>
        l.contains("Exchange") && !l.contains("RoundRobinPartitioning"))
        == 1, s"$q:\n$p")
      assertRoundRobinCarriesOnlyDocId(q) // ADVICE r19: exemption is doc_id-only
      assert(!p.contains("Join") && !p.contains("CartesianProduct"), q)
      assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, q)
    }
  }

  test("q252: image near-dup candidates come from the chunk hash join, never all pairs") {
    val p = plan("q252_image_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("Join"), p) // the banded chunk self-join IS a hash/merge join
  }

  test("q259/q260: frame hashes map-only; video near-dup joins keyed, never all pairs") {
    val ph = plan("q259_video_framehash")
    // one data exchange (presentation sort); the round-robin widening
    // exchange shuffles bare doc_ids only (r19)
    assert(ph.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("RoundRobinPartitioning"))
      == 1, ph)
    assertRoundRobinCarriesOnlyDocId("q259_video_framehash")
    assert(!ph.contains("Join") && !ph.contains("CartesianProduct"), ph)
    val p = plan("q260_video_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("Join"), p) // (frame_idx, chunk)-keyed hash/merge join
  }

  test("q263: cue-frame align joins on media id, range as residual — never a cross product") {
    val p = plan("q263_cue_frame_align")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("Join"), p)
    assert(p.contains("Window"), p) // the per-cue argmin rank
  }

  test("q266: v6 pipeline reuses the persisted hash fork, never a cross product") {
    val p = plan("q266_curation_v6")
    // decode runs ONCE: every downstream leg (near-dup pairs, scene
    // cuts, frame alignment) reads the persisted hashes
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("q273: v7 web pipeline is two keyed windows, no join, no cross product") {
    val p = plan("q273_curation_v7")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    // both dedup windows key on their column — never a global window
    assert(p.contains("hashpartitioning(url_canon") ||
      p.contains("hashpartitioning(content_md5"), p)
  }

  test("q281: v8 web pipeline is keyed reassemblies + two keyed windows, no join") {
    val p = plan("q281_curation_v8")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    // the two extraction stages reassemble per page (keyed partial
    // agg), the two dedup windows key on their columns — never a
    // global (unpartitioned) window or sort before the final ORDER BY
    assert(p.contains("hashpartitioning(url_canon") ||
      p.contains("hashpartitioning(text"), p)
    assert(p.contains("HashAggregate"), p) // grouped ordered reassembly
  }

  test("q292: v9 multi-carrier pipeline is one kernel + two keyed windows, no join") {
    val p = plan("q292_curation_v9")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    // both dedup windows key on their column — never a global window
    assert(p.contains("hashpartitioning(url_canon") ||
      p.contains("hashpartitioning(text"), p)
  }

  test("q291: notebook extraction is one codegen'd projection, no shuffle before the sort") {
    val p = plan("q291_notebook_text")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    // from_json -> transform -> array_join all fuse into the scan's
    // projection; the only exchange is the final ORDER BY's range
    assert(p.contains("from_json"), p)
    // ≤1 data exchange; the doc_id round-robin widening exchange (r19)
    // is below the synthesis map and carries no payload bytes
    val exchanges = p.split("\n").count(l =>
      l.contains("Exchange") && !l.contains("RoundRobinPartitioning"))
    assert(exchanges <= 1, p)
    assertRoundRobinCarriesOnlyDocId("q291_notebook_text")
  }

  test("q262: scene cuts are one keyed window + rollup, no join") {
    val p = plan("q262_scene_cuts")
    assert(p.contains("Window"), p)
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), p)
    // window keyed by media_id — never a global (unpartitioned) sort
    assert(p.contains("hashpartitioning(media_id"), p)
  }

  test("q226: rounds are checkpoint-cut; the result plan is agg over a flat RDD scan") {
    // Round 10: q226 runs through Clustering.iterateSteps, which
    // EXECUTES each lloydStep round eagerly and localCheckpoints the
    // assignment — so the declared query's plan is the final
    // aggregation over the checkpoint scan, NOT a 3-round lazy chain
    // (the r9 shape this test used to pin; an uncut chain compounding
    // per round is exactly what the helper exists to prevent). The
    // per-round broadcast + partial_min_by shape is pinned on
    // lloydStep itself in ClusteringSpec ("argmin is a hash
    // aggregate"); bounded depth across rounds in ClusteringSpec's
    // iterateSteps plan test.
    val p = plan("q226_kmeans_iter")
    assert(p.contains("ExistingRDD"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("FileScan"), p)
  }

  test("q337: the v14 capstone projection executes INSIDE WholeStageCodegen") {
    // r16 verdict item 6: canonical_url (and the html kernels) were
    // CodegenFallback, breaking whole-stage codegen for the capstone
    // projection on every routed row. AQE prints plans pre-execution
    // without codegen ids, so this pin EXECUTES the query and reads
    // the final plan: the Project evaluating canonical_url must sit
    // in a codegen stage (its line carries the "*(n)" marker).
    val df = SparkEntry.queries("q337_curation_v14")(spark, sf)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    val canonLines = s.linesIterator.filter(l =>
      l.contains("canonical_url") && l.contains("Project")).toSeq
    assert(canonLines.nonEmpty, s.take(800))
    // the AQE string echoes the pre-codegen "Initial Plan" too — the
    // EXECUTED occurrence is the one carrying the "*(n)" stage marker
    assert(canonLines.exists(l => l.indexOf("*(") >= 0 &&
        l.indexOf("*(") < l.indexOf("Project")),
      s"canonical_url projection outside WholeStageCodegen:\n" +
        canonLines.mkString("\n"))
    spark.catalog.clearCache()
  }

  test("q353: v16 decodes ONCE (diamond fork), joins keyed, never a cross product") {
    val p = plan("q353_curation_v16")
    // page rows AND redirect edges come from ONE persisted walk —
    // separate readers would gunzip every container twice. Since r20
    // the edges leg consumes the cache EAGERLY inside
    // Redirects.resolve(cutLineage = true) (its jump levels
    // materialize at construction), so the final plan shows the
    // pages-side cache read plus the resolve's checkpoint scans —
    // the un-cached second decode walk would appear as a second
    // MapPartitions leg with no InMemoryRelation above it.
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 1, p)
    assert(p.contains("InMemoryRelation"), p)
    // the cut resolve feeds back as flat checkpoint scans
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("Redirects.resolve is pointer-doubled: join depth logarithmic in maxHops") {
    // r18 verdict: the naive walk carried maxHops−1 sequential join
    // barriers (PLANS §q353 showed a 9-deep nested join chain at
    // maxHops=8). Pointer doubling hangs the jump-table builds off
    // the build SIDES; the critical chain is ⌈log₂⌉ advances +
    // outgoing. Depth here counts the longest root-to-leaf run of
    // Join nodes in the optimized plan — the barrier chain.
    import spark.implicits._
    def joinDepth(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = {
      val kid = if (p.children.isEmpty) 0 else p.children.map(joinDepth).max
      p match {
        case _: org.apache.spark.sql.catalyst.plans.logical.Join => 1 + kid
        case _ => kid
      }
    }
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val d8 = joinDepth(graft.ops.Redirects.resolve(edges, "src", "dst",
      maxHops = 8).queryExecution.optimizedPlan)
    // 3 advances + outgoing, with the deepest jump build (2) under
    // the first advance: 6. The naive walk was 8 (7 advances +
    // outgoing).
    assert(d8 <= 6, s"join depth $d8 at maxHops=8 - resolve regressed " +
      "to the sequential one-edge walk?")
    val d64 = joinDepth(graft.ops.Redirects.resolve(edges, "src", "dst",
      maxHops = 64).queryExecution.optimizedPlan)
    assert(d64 <= 12, s"join depth $d64 at maxHops=64 (naive would be 64)")
    spark.catalog.clearCache()
  }

  test("q337/q344: the curation capstone decodes the WARC router exactly ONCE") {
    // r17 verdict item 1: the blocklist branch was a suffix-explode
    // semi-join whose build side RE-EXECUTED the whole WARC router
    // (a second MapPartitions leg) just to read `url` — doubling the
    // pipeline's dominant decode cost at 100 TB. The blocklist is now
    // a map-side OR of host/suffix comparisons over the O(list)
    // literal: exactly one MapPartitions (the router kernel) and ZERO
    // joins in both plans.
    for (q <- Seq("q337_curation_v14", "q344_curation_v15")) {
      val p = plan(q)
      val nMapPartitions = p.linesIterator.count(_.contains("MapPartitions"))
      assert(nMapPartitions == 1,
        s"$q: expected ONE MapPartitions router leg, got $nMapPartitions:\n$p")
      assert(!p.contains("Join"), s"$q: capstone must be join-free:\n$p")
    }
  }
}
