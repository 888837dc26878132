package graft

import org.apache.spark.sql.SparkSession

/** `regexp_replace(text, "(\\S+)", concat("r", rep, "x$1"))` as one
  * native byte pass (`tag_words`) — the docsX10 fixture's
  * word-tagging. The regex form Java-regex-scans and StringBuffer-
  * rebuilds every document inside FOUR timed x10 entries (~1.5 s wall
  * / ~40 cpu-s per bench entry at sf0.1, all fixture apparatus, none
  * of it the operator under test — optimization r20). Byte-exact
  * parity with the regex form is pinned by BenchFixtureSpec: a word
  * is a maximal run of non-[ \t\n\f\r] bytes (Java `\S`;
  * UTF-8 continuation bytes are never those, so the byte walk is
  * codepoint-safe), each prefixed with `r<rep>x`. Null in → null out. */
private[graft] case class TagWords(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with graft.functions.BinaryKernelCodegen {
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.StringType
  override def prettyName: String = "tag_words"
  private def isWs(b: Byte): Boolean =
    b == 0x20 || b == 0x09 || b == 0x0A || b == 0x0B || b == 0x0C || b == 0x0D
  override def nullSafeEval(t: Any, r: Any): Any = {
    val s = t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    val tag = ("r" + r.asInstanceOf[Long] + "x").getBytes("US-ASCII")
    // exact output size: one tag per ws→word boundary
    var words = 0; var i = 0; var prevWs = true
    while (i < s.length) {
      val ws = isWs(s(i))
      if (!ws && prevWs) words += 1
      prevWs = ws; i += 1
    }
    val out = new Array[Byte](s.length + words * tag.length)
    var o = 0; i = 0; prevWs = true
    while (i < s.length) {
      val ws = isWs(s(i))
      if (!ws && prevWs) {
        System.arraycopy(tag, 0, out, o, tag.length); o += tag.length
      }
      out(o) = s(i); o += 1
      prevWs = ws; i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromBytes(out)
  }
  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(left = l, right = r)
}

private[graft] object TagWords {
  def apply(text: org.apache.spark.sql.Column,
            rep: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graft.ColumnBridge.column(TagWords(
      org.apache.spark.sql.graft.ColumnBridge.expression(text),
      org.apache.spark.sql.graft.ColumnBridge.expression(rep)))
}

/** Benchmark main. Runs the headline query subset (BASELINE.md: Q2
  * aggregation, Q6 join, Q10 total-order sort, plus wordcount and the
  * LLM dedup/similarity ops) against SPARK_GRAFT_SF_DIR, and a
  * TeraSort-equivalent (1M × 100-byte records, self-validated), then
  * prints ONE JSON line for the driver.
  *
  * The drift gate has one confirming rule. An entry that [[tripped]]
  * against its `gate_wall` in the first pass runs once more at the end
  * of the round, behind a settle wait; an entry that still trips is
  * re-measured in a positively quiet window, and [[remeasureVerdict]]
  * alone decides whether it is `regressed` (exit 1), `contended`
  * (unconfirmed) or recovered. Wall, process CPU, loadavg, the
  * [[ConcProbe]] witness, GC and steal time are recorded per entry as
  * evidence; none of them votes. The JSON is printed and written
  * BEFORE any nonzero exit. SCALE.md ("Bench contention discipline")
  * has the recorded runs that shaped the rule.
  */
object Bench {

  /** Parse one `"section":{"name":num,...}` map out of a previous
    * BENCH_OUT.json — whitespace-tolerant (a json.dump'd baseline
    * writes `": "` / `": {"` separators), and empty unless the
    * baseline measured the same SF dir. Factored out of main so
    * BenchGateSpec can pin both tolerances: an intolerant match here
    * silently disables the whole drift gate. */
  private[graft] def parseSection(txt: String, section: String,
                                  sfDir: String): Map[String, Double] = try {
    val sameSf = ("\"sf\":\\s*\"" + java.util.regex.Pattern.quote(sfDir) + "\"").r
      .findFirstIn(txt).isDefined
    val secStart = ("\"" + section + "\":\\s*\\{").r.findFirstMatchIn(txt)
    if (!sameSf || secStart.isEmpty) Map.empty
    else {
      val open = secStart.get.end
      val body = txt.substring(open, txt.indexOf('}', open))
      """"([A-Za-z0-9_]+)":\s*(-?[0-9.]+(?:[Ee][+-]?[0-9]+)?)""".r
        .findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  } catch { case _: Throwable => Map.empty }

  /** Drift-gate trip rule for one entry: past 1.5× its gate reference
    * AND past an absolute +0.3 s grace. The multiplicative rule alone
    * forced noise re-runs on sub-second entries (r9 judge run: q14 at
    * 0.194 s and q37 4 ms over the line tripped on pure JIT jitter). */
  private[graft] def tripped(v: Double, gate: Double): Boolean =
    v > 0 && gate > 0 && v > gate * 1.5 + 0.3

  /** Final-quiet-re-measure verdict for one suspect: the one rule that
    * can confirm a regression. Inputs are the min of the two re-runs
    * taken after a bounded load-drain wait:
    * - `wall <= 0` (runner died) → "regressed": the original verdict
    *   stands, a broken re-run is not exculpatory;
    * - window not POSITIVELY quiet (after-sample past `loadThreshold`,
    *   or no during-run ConcProbe witness within 1.15× + 1 ms of its
    *   clean reference) → "unconfirmed": absence of a quiet
    *   measurement never confirms a regression — the entry parks in
    *   contended;
    * - quiet and still past the trip line → "confirmed", but only when
    *   the PRE-run loadavg (pure external load: the entry's own burst
    *   has not happened yet) is at most `confirmMargin` and the two
    *   attempts agree within 15% (drain inflation is unstable
    *   run-to-run, a real regression reproduces tightly); otherwise
    *   "unconfirmed";
    * - quiet and back under it → "recovered" (the clean wall is the
    *   honest number to record), whatever the pre-run load.
    * The caller bounds the after-sample at the busy margin plus the
    * entry's own burst EMA ([[ownBurstLoad]]): a wide entry's
    * just-finished run raises the 1-min EMA past the margin on an idle
    * box, and a flat margin would park every wide regression in
    * `unconfirmed` forever. BenchGateSpec replays the r16–r18 false
    * confirms each bar closed. */
  private[graft] def remeasureVerdict(wall: Double, gate: Double,
                                      postLoad: Double, loadThreshold: Double,
                                      concNow: Double, concGate: Double,
                                      preLoad: Double = 0.0,
                                      confirmMargin: Double = 0.5,
                                      attemptsAgree: Boolean = true): String =
    if (wall <= 0) "regressed"
    else if (!(postLoad <= loadThreshold && concGate > 0 && concNow > 0 &&
        concNow <= concGate * 1.15 + 0.001)) "unconfirmed"
    else if (tripped(wall, gate)) {
      if (preLoad <= confirmMargin && attemptsAgree) "confirmed"
      else "unconfirmed"
    }
    else "recovered"

  /** The 1-min loadavg contribution the entry's OWN just-finished
    * burst leaves in the after-sample: `width` runnable threads for
    * `burstSec` seconds move the EMA by width·(1−e^(−t/60)). Bounding
    * the re-measure after-sample at margin + this keeps the bound
    * TIGHT for short/narrow entries (a 0.5 s burst allows ~0.3 extra)
    * without parking wide long entries in `unconfirmed` forever (the
    * documented full-width blind spot a flat margin bound would
    * reintroduce). Width ≤ 0 (no baseline) assumes full width. */
  private[graft] def ownBurstLoad(width: Double, cpus: Double,
                                  burstSec: Double): Double = {
    val w = if (width > 0) math.min(width, cpus) else cpus
    if (burstSec <= 0) 0.0 else w * (1.0 - math.exp(-burstSec / 60.0))
  }

  /** Next round's gate reference for one entry: its measurement —
    * unless THIS round left the entry regressed or contended, in
    * which case the prior clean gate carries forward (never the
    * suspect wall). r11's recorded run violated this for regressed
    * entries and polluted q150_x10's gate from 7.11 to 14.58,
    * which would have masked a real regression up to ~22 s.
    *
    * Round 18 (r17 verdict item 5b): `loadedWindow` extends the
    * carry to ANY entry whose own measurement window was loaded,
    * suspect or not — non-suspect entries measured under load still
    * ratcheted their gates upward (q27_x10 8.25→11.29, q298
    * 11.27→11.75 in r17 while the quiet truth was 4.78/10.08). And a
    * FIRST-TIME entry (no prior gate) measured under load gets NO
    * gate at all (-1, absent next round) rather than a loose
    * first-ever gate: q344's committed first gate was 134.7 s against
    * a quiet truth of ~10.7 (item 5a) — a gate is only ever born in
    * a quiet window. */
  private[graft] def gateCarry(v: Double, prevGate: Double,
                               suspect: Boolean,
                               loadedWindow: Boolean = false): Double =
    if ((suspect || loadedWindow) && prevGate > 0) math.min(v, prevGate)
    else if (loadedWindow) -1.0
    else v

  /** The DURING-run machine-speed witness: one daemon thread sampling
    * a small fixed ALU + 64 MB strided-walk kernel (~15–30 ms clean)
    * in a loop for as long as one timed attempt runs. SMT sharing and
    * memory-bandwidth pressure from ANY source — the entry's own
    * threads plus whatever else the box is running — slow every
    * sample; comparing the
    * median against the same entry's fastest-known clean-round median
    * (`gate_conc`) isolates the EXTERNAL part, because the entry's
    * own pressure is present in both. The median (not min) is the
    * statistic: a scheduling gap at plan time would hand the min a
    * quiet sample that misrepresents the run. The probe's own CPU is
    * measured per-thread and returned so the caller can subtract it
    * from the entry's process-CPU delta — the witness must not
    * pollute the measurement it guards. */
  private[graft] final class ConcProbe {
    @volatile private var stopReq = false
    @volatile private var cpuSec = 0.0
    private val samples = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
    private val thread = new Thread(() => {
      val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      val mem = new Array[Long](1 << 23) // 64 MB, allocated once per window
      var i = 0
      while (i < mem.length) { mem(i) = (i * 2862933555777941757L) >>> 3; i += 1 }
      var first = true
      while (!stopReq) {
        val t0 = System.nanoTime()
        var x = 1469598103934665603L
        var idx = 0
        var n = 0
        while (n < 2000000) {
          x = x * 1099511628211L + mem(idx)
          idx = (idx + 4099) & (mem.length - 1)
          n += 1
        }
        if (x == 42) System.err.print("") // defeat dead-code elimination
        if (first) first = false // warm sample (page faults, JIT): dropped
        else samples.add((System.nanoTime() - t0) / 1e9)
      }
      cpuSec = try {
        val t = tmx.getCurrentThreadCpuTime
        if (t < 0) 0.0 else t / 1e9
      } catch { case _: Throwable => 0.0 }
    }, "bench-conc-probe")
    thread.setDaemon(true)

    def start(): this.type = { thread.start(); this }

    /** (median sample sec or -1 when fewer than 3 samples landed,
      * probe-thread CPU seconds to subtract from the entry's delta). */
    def finish(): (Double, Double) = {
      stopReq = true
      thread.join(10000)
      val arr = samples.toArray(Array.empty[java.lang.Double]).map(_.doubleValue).sorted
      val med = if (arr.length < 3) -1.0 else arr(arr.length / 2)
      (med, cpuSec)
    }
  }

  // 10× documents for the dedup-family scale trends: replica-tagged
  // ids AND replica-tagged words (see the q27_x10 comment in main).
  // Word tagging is the native [[TagWords]] byte pass — byte-exact
  // with the r19 regexp_replace form (BenchFixtureSpec pins it),
  // minus the per-document Java-regex scan the four x10 entries
  // were paying inside their timed windows (optimization r20).
  // Spread over `partitions` (main passes the session's parallelism —
  // executor cores on a cluster): the base fixture is one parquet
  // file = one task.
  private[graft] def docsX10(spark: SparkSession, dir: String,
                             partitions: Int) = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$dir/documents.parquet")
      .crossJoin(spark.range(10).select(col("id").as("rep")))
      .select((col("doc_id") * 10 + col("rep")).as("doc_id"),
        TagWords(col("text"), col("rep")).as("text"))
      .repartition(partitions)
  }

  // 10× embeddings: replicas carry their replica id as a SCOPE
  // column (q37_x10 passes it as cosineNearDupsLsh's scopeCols), so
  // cross-replica pairs are STRUCTURALLY impossible — the pair
  // structure replicates exactly 10× (the embedding analogue of
  // docsX10's word tagging; an earlier sign-flip-only construction
  // was merely statistical). The per-replica sign flips remain so
  // the ten replicas don't produce ten identical bucket histograms
  // (same per-scope occupancy, more realistic key spread). Within a
  // replica both vectors of a pair flip identically — every cosine
  // is preserved exactly.
  private[graft] def embX10(spark: SparkSession, dir: String,
                            partitions: Int) = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$dir/embeddings.parquet")
      .crossJoin(spark.range(10).select(col("id").as("rep")))
      .select((col("vec_id") * 10 + col("rep")).as("vec_id"), col("rep"),
        transform(col("embedding"), (x, i) =>
          (x * (pmod(hash(col("rep"), i), lit(2)) * 2 - 1)).cast("float"))
          .as("embedding"))
      .repartition(partitions)
  }

  /** One file of the on-disk WARC stream fixture: 20,000 `200 OK`
    * html pages (~880 B each inflated, ~17.7 MB a file), each its own
    * gzip member as Common Crawl ships them, framed by SparkEntry's
    * one record framer. Pure, so BenchFixtureSpec can pin its bytes;
    * main writes 8 of them once and caches them by existence. */
  private[graft] def warcStreamBytes(g: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1 << 22)
    val filler = ("lorem ipsum dolor sit amet " * 8).trim
    var r = 0
    while (r < 20000) {
      val body = s"<h1>Doc $g/$r</h1>" + s"<p>$filler &amp; tail $r</p>" * 3
      out.write(SparkEntry.gzipBytes(SparkEntry.warcRespRec(
        s"http://bench.example/$g/$r", "text/html", body.getBytes("UTF-8"))))
      r += 1
    }
    out.toByteArray
  }

  /** One timed attempt: wall seconds (-1 when the runner failed),
    * process CPU seconds net of the probe's own, the [[ConcProbe]]
    * median, and the JVM's GC seconds and the host's steal seconds
    * over the attempt (-1 where unreadable). */
  private final case class Attempt(wall: Double, cpu: Double, conc: Double,
                                   gc: Double, steal: Double)

  /** The faster of two attempts; a failed attempt never wins. */
  private def faster(a: Attempt, b: Attempt): Attempt =
    if (b.wall >= 0 && (a.wall < 0 || b.wall < a.wall)) b else a

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 1/5/15-minute load averages — the contention witness. Recorded
    // at start AND end: a clean start with a loaded end explains a
    // slow tail entry without anyone re-running the round.
    def loadavg(): String =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .trim.split(" ").take(3).mkString(" ")
      catch { case _: Throwable => "" }
    def load1(): Double =
      try loadavg().split(" ").head.toDouble catch { case _: Throwable => -1.0 }
    val loadStart = loadavg()
    // Busy-box threshold: an entry whose pre-window 1-min load is past
    // a quarter of the cores was measured while other work competed
    // for SMT siblings and memory bandwidth, so its wall may not
    // raise or birth a gate ([[gateCarry]]).
    val loadThreshold = cpus.toDouble / 4.0

    // q37 (LSH-blocked embedding near-dup) and q49 (pair→group
    // connected components) track the LLM-pipeline ops a training
    // corpus actually runs at scale, alongside the MinHash family
    // (q27); q64 (repetition quality signals) tracks the pre-dedup
    // filter scan, q65 the two-phase prefix-sum packing.
    val headline = Seq(
      "q02_tpch_q1", "q03_wordcount", "q06_join_inner", "q10_total_sort",
      "q14_grep", "q19_dedup_exact", "q20_cosine_topk", "q27_minhash_neardup",
      "q37_embed_neardup_lsh", "q49_dup_components", "q64_repetition",
      "q65_seq_packing", "q68_curation_v2", "q85_line_dedup",
      // round-7 additions: the shuffled shard export (prefix-scan
      // positioning) and the two-pass unigram quality signal
      "q91_shuffle_shard", "q92_unigram_rarity",
      // round-7 session-3 additions: exact prefix-filtered set
      // similarity (the deterministic MinHash sibling) and the
      // bigram-LM perplexity scan
      "q150_setsim_pairs", "q147_bigram_ppl",
      // round-9: exact duplicated-substring extents (the Lee et al.
      // rule) — the new heavy text op, tracked from its first round
      "q217_exact_substring_dups",
      // round-9 session 3: the chained 3-round k-means (iterative-job
      // cost envelope) and the map-only hashed-feature classifier
      // (pure scan throughput indicator)
      "q226_kmeans_iter", "q230_quality_classifier",
      // round-10: the full curation v5 composition (scrub → re-chunk
      // → re-pack) — the heaviest new end-to-end pipeline — and the
      // DSIR importance scorer (two feature-count aggregates + a
      // broadcast-weight scoring pass), both tracked from their
      // first round
      "q232_curation_v5", "q236_dsir_importance",
      // round-11: the mixed-media sniff-and-decode entry point — one
      // pass over synthesized PNG/JPEG/GIF/BMP/TIFF/ICO/AU/AIFF/WAV
      // payloads through every REAL decoder; tracks the byte-kernel
      // throughput of the whole decode surface in one number
      "q250_media_inspect",
      // round-11 session 2: the two new end-to-end pipelines —
      // curation v6 (video decode → near-dup prune → scenes → cue
      // alignment; the persisted-hash diamond) and the Common-Crawl
      // pass (WARC walk → HTTP gate → html_to_text), tracked from
      // their first round
      "q266_curation_v6", "q271_warc_text",
      // round-12: curation v8 — the modern web chain (raw pages →
      // main-content blocks → C4 lines → URL + content dedup)
      "q281_curation_v8",
      // round-14: the document-carrier tier — PDF container decode
      // (xref/Flate/content-stream interpretation; byte-kernel
      // throughput like q250), the multi-carrier WARC router
      // (html + pdf in one record-stream pass), and curation v9
      // (the router feeding the URL + content dedup chain)
      "q285_pdf_text", "q289_warc_doc_text", "q292_curation_v9",
      // round-15: the Type0/CMap PDF generation (the modern-font
      // decode path — CMap parse + 2-byte decode on top of q285's
      // container work), the LaTeX carrier's char-walk cleaner
      // through the WARC router, and the zstd WARC door (the
      // compression Common Crawl actually distributes; tracks
      // decompressor-filter overhead against the gzip-door q271)
      "q295_pdf_type0", "q297_latex_text", "q298_warc_zst",
      // round-15 session 2: the WebP decode kernel (all four VP8L
      // variants per id class — tracks the newest byte-kernel like
      // q250/q285 did at their introduction)
      "q307_webp_decode",
      // round-16: the lossy VP8 keyframe decoder (bool-coded tokens +
      // intra prediction + IDCT + loop filter — the heaviest
      // per-byte decode kernel in the media tier)
      "q311_webp_lossy",
      // round-16 session 2: the FLAC decode kernel (the audio tier's
      // newest byte kernel — Rice + LPC + stereo decorrelation per
      // sample) and curation v12, the full-signal streaming capstone
      // now carrying the extraction-confidence gate (supersedes v11
      // as the tracked end-to-end pipeline)
      "q321_flac_decode", "q320_curation_v12",
      // round-17: the HTTP wire-form decode in the WARC walk
      // (de-chunk + gzip/deflate inside the record kernel — tracks
      // the added per-body decompression against the q271/q289
      // doors) and curation v15, the capstone with the
      // per-registered-domain dominance cap (supersedes v12 as the
      // tracked end-to-end pipeline; adds the PSL expression + one
      // more keyed WindowGroupLimit)
      "q340_warc_http_decode", "q344_curation_v15",
      // round-19: curation v16, the redirect-identity capstone
      // (supersedes v15 as the tracked end-to-end pipeline; v15
      // stays as the no-redirect twin for isolation). Gate born in
      // a quiet window per the r18 first-gate discipline. v17
      // (q359) is deliberately NOT a separate entry: its plan is
      // v16's with one more codegen'd map-side expression (the
      // strip-tracking fold), so v16's gate covers it — a drift
      // that only shows in v17 would have to live in the fold's
      // string walk, which StripTracking's specs pin functionally.
      "q353_curation_v16")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // the x10 fixtures' partition count: one task per core
    val parallelism = spark.sparkContext.defaultParallelism

    // On-disk WARC fixture for the split-streaming front door: 8
    // member-per-record .warc.gz files ([[warcStreamBytes]], ~141 MB
    // inflated in all), written by the one fixture writer. Generated
    // once in executors, cached by existence across runs; the timed
    // entry reads ONLY.
    def warcStreamFixture(): Seq[String] = {
      import spark.implicits._
      SparkEntry.fixtureFiles(spark.range(8).as[Long], new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_bench_warc_v1"),
        "cc%02d.warc.gz")(warcStreamBytes)
    }
    val warcStreamPaths = try warcStreamFixture() catch {
      case e: Throwable =>
        System.err.println(s"[bench] warc fixture generation failed: ${e.getMessage}")
        Nil
    }

    // One timed steady-state run per entry; the pass policy (min-of-2,
    // recovery re-run) lives below, outside the runners. Spark's cache
    // is cleared before every timed run — operators that persist
    // intermediates (minhash signatures) must not serve run 2 from
    // run 1's cache.
    // Construction is deliberately INSIDE the timed region: iterative
    // entries (q49's component loop, q226's k-means rounds) do their
    // real work in construction-time actions, and timing only the
    // result-frame write would let a loop regression escape the gate
    // entirely. One-time fixture generation is instead paid by the
    // UNTIMED pre-construction pass below (r17 verdict item 5a).
    def noopRun(f: => org.apache.spark.sql.DataFrame): Double = {
      spark.catalog.clearCache()
      time(f.write.mode("overwrite").format("noop").save())
    }
    val runners: Seq[(String, () => Double)] = headline.map { name =>
      name -> (() => noopRun(SparkEntry.queries(name)(spark, sfDir)))
    } ++ Seq[(String, () => Double)](
      // Scale-trend entries: the same ops at 10× the row count, so
      // round-over-round scaling (not just the sf0.1 point) is visible.
      // q02_x10 replicates lineitem 10-fold before the identical agg —
      // a ~sf1-equivalent aggregation input without needing sf1 files.
      "q02_x10" -> (() => noopRun {
        import org.apache.spark.sql.functions._
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .crossJoin(spark.range(10).select(col("id").as("rep")))
          .filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum("l_quantity"), sum("l_extendedprice"), avg("l_discount"), count(lit(1)))
      }),
      // Map-only scale trend: the fused repetition scan on 10× the
      // documents (replicated, then spread over the cores — the base
      // fixture is one parquet file = one task, so the x10 also shows
      // what the partitioned layout buys). Linear per-doc cost is the
      // claim; wall-clock should grow ~10× divided by the session
      // parallelism.
      "q64_x10" -> (() => noopRun {
        import org.apache.spark.sql.functions._
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
          .crossJoin(spark.range(10).select(col("id").as("rep")))
          .select((col("doc_id") * 10 + col("rep")).as("doc_id"), col("text"))
          .repartition(parallelism)
        graft.llm.Repetition.signals(d, "doc_id", "text")
      }),
      // Dedup-family scale trends: MinHash sketch→verify and the
      // pair→group components at 10× the corpus. Each replica prefixes
      // EVERY word with its replica tag, so no shingle crosses
      // replicas: the near-dup pair structure replicates 10× (the
      // honest linear scale-up) instead of every doc gaining 9
      // near-identical twins (a quadratic pair explosion that would
      // measure a different workload, not scaling).
      "q27_x10" -> (() => noopRun {
        graft.llm.Dedup.minHashVerifiedPairs(
          docsX10(spark, sfDir, parallelism), "doc_id", "text", 3, 0.5)
      }),
      "q49_x10" -> (() => noopRun {
        import org.apache.spark.sql.functions._
        graft.llm.Dedup.components(
          graft.llm.Dedup.minHashVerifiedPairs(
            docsX10(spark, sfDir, parallelism), "doc_id", "text", 3, 0.5))
          .groupBy("comp_id")
          .agg(count(lit(1)).as("n_docs"), sum("id").as("id_sum"))
      }),
      // Exact set-similarity at 10×: candidate volume tracks prefix
      // postings (each gram's DF is per-replica, postings grow 10×),
      // so the claim under test is linear pair growth.
      "q150_x10" -> (() => noopRun {
        import org.apache.spark.sql.functions._
        graft.llm.SetSimJoin.jaccardPairs(docsX10(spark, sfDir, parallelism),
            "doc_id", "text", 1, 2, ngram = 3)
          .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"))
      }),
      // LSH near-dup at 10×, operated per its own scale posture
      // (Similarity.DefaultPlanes doc): bucket count must track corpus
      // size to hold occupancy — candidate volume is Σ bucket², so
      // fixed planes at 10× rows would measure a 100× candidate blow-up
      // (a different workload), while nPlanes 8→12 (256→4096 buckets)
      // keeps per-bucket occupancy at the base run's level and tests
      // the engine's actual 100 TB recipe: more planes, same math.
      "q37_x10" -> (() => noopRun {
        graft.llm.Similarity.cosineNearDupsLsh(
          embX10(spark, sfDir, parallelism), 64, 0.35, nPlanes = 12,
          scopeCols = Seq("rep"))
      }),
      // Exact-substring extents at 10×: docsX10's replica-tagged words
      // mean no gram crosses replicas, so the duplicated-extent
      // structure replicates exactly 10× (structural, not
      // statistical) — the claim under test is the 3-bounded-shuffle
      // plan's linear growth in corpus positions.
      "q217_x10" -> (() => noopRun {
        graft.llm.ExactSubstring.duplicatedExtents(
          docsX10(spark, sfDir, parallelism), "doc_id", "text", 8)
      }),
      // The split-streaming crawl front door: 160,000 member-per-record
      // gzip WARC records across 8 on-disk files (~141 MB inflated; the
      // entry keeps its historical name), streamed record-by-record
      // through the HTTP gate + charset decode + html_to_text. One
      // task per file; per-record bounded memory by construction.
      "warc_stream_320mb" -> (() => noopRun {
        require(warcStreamPaths.nonEmpty, "warc fixture unavailable")
        graft.sources.Warc.warcPathsHtmlText(spark, warcStreamPaths)
      }),
      "terasort_1m" -> (() => graft.jobs.TeraSort.run(spark, 1000000L)),
      "terasort_10m" -> (() => graft.jobs.TeraSort.run(spark, 10000000L)),
      // MRBench equivalent (…/mapred/MRBench.java:40): the SAME
      // minimal job run 50 times back to back — the framework's
      // per-job overhead metric. The reference pays JVM spin-up + AM
      // scheduling per run (tens of seconds each on a real cluster);
      // here the plan is reused and each run is one scheduled,
      // executed, collected Spark job.
      "mrbench_50" -> (() => {
        val job = spark.range(100).selectExpr("sum(id)")
        job.collect() // plan + codegen once, outside the timed runs
        val t0 = System.nanoTime()
        (1 to 50).foreach(_ => job.collect())
        (System.nanoTime() - t0) / 1e9
      }))
    val runnerMap = runners.toMap

    // Warm each headline plan once on the smallest SF so measured times
    // reflect steady-state execution, not first-plan codegen/classload.
    headline.foreach { name =>
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        .write.mode("overwrite").format("noop").save()
      catch { case scala.util.control.NonFatal(_) => () }
    }

    // Process CPU seconds: recorded per entry as evidence (entries run
    // serially, so each delta is attributable); no gate rule reads it.
    def cpuNow(): Double = try {
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          val t = os.getProcessCpuTime
          if (t < 0) -1.0 else t / 1e9
        case _ => -1.0
      }
    } catch { case _: Throwable => -1.0 }
    // JVM GC seconds so far, summed over the collectors (-1 when none
    // reports a time)
    def gcNow(): Double = {
      val ts = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
        .map(_.getCollectionTime).filter(_ >= 0)
      if (ts.isEmpty) -1.0 else ts.sum / 1000.0
    }
    // host steal seconds since boot: the steal column of /proc/stat's
    // all-CPU line, in USER_HZ ticks (100 a second on Linux); -1 when
    // unreadable. Read only.
    def stealNow(): Double = try {
      val f = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f(0) == "cpu" && f.length > 8) f(8).toLong / 100.0 else -1.0
    } catch { case _: Throwable => -1.0 }
    def delta(a: Double, b: Double): Double =
      if (a < 0 || b < 0) -1.0 else math.max(0.0, b - a)
    // One timed attempt. A ConcProbe sibling thread runs for the whole
    // attempt — the during-run contention witness — and its own
    // thread-CPU is subtracted from the CPU delta. For entries whose
    // runner returns an INTERNAL timing (terasort's sort-only window,
    // mrbench's 50-collect loop) the CPU, GC and steal deltas span the
    // whole runner call — a superset of the wall metric's work, the
    // same superset every run.
    def attempt(run: () => Double): Attempt = {
      val probe = new ConcProbe().start()
      val c0 = cpuNow(); val g0 = gcNow(); val s0 = stealNow()
      val w = try run() catch { case _: Throwable => -1.0 }
      val c1 = cpuNow(); val g1 = gcNow(); val s1 = stealNow()
      val (concMed, probeCpu) = probe.finish()
      Attempt(w,
        if (w < 0 || c0 < 0 || c1 < 0) -1.0 else math.max(0.0, c1 - c0 - probeCpu),
        concMed, delta(g0, g1), delta(s0, s1))
    }

    // UNTIMED fixture pre-generation at the TARGET sfDir (r17 verdict
    // item 5a: q344's first-ever gate was 134.7 s because its
    // 3×~5,000-file WARC fixture generation ran inside the timed
    // window — the sf0.001 warm pass above never generates the sf0.1
    // fixtures, their caches are keyed by sfDir). Every headline
    // CONSTRUCTION runs once here: the path-fixture builders
    // generate-and-cache on first construction (existence-keyed), so
    // no timed attempt below ever pays one-time fixture cost. The
    // construction-time work of iterative entries runs once extra —
    // acceptable, and it doubles as a JIT warm for the loop bodies.
    headline.foreach { name =>
      // NonFatal only (ADVICE r18): swallowing an OutOfMemoryError
      // here would leave a corrupted JVM and mis-attribute the
      // failure to the later timed attempt — fatal errors abort the
      // bench loudly instead.
      try { SparkEntry.queries(name)(spark, sfDir); () }
      catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.catalog.clearCache()

    // best of 2: one run absorbs residual warmup/GC noise, the min is
    // the steady-state number. (min-of-2 applies uniformly — terasort
    // single runs swung ±50% round-over-round with no code change.)
    // The kept attempt's CPU, witness, GC and steal travel with its
    // wall; a winning retry or re-measure replaces the kept attempt.
    // 1-min loadavg sampled BEFORE and after each entry's runs — the
    // JSON carries per-entry contention evidence, so a future judge
    // can adjudicate a slow entry from the artifact alone (r9
    // required a manual re-run to prove q147's 2.54 s was load, not
    // code). The before-sample exists because the after-sample is
    // confounded by the entry's own 32-thread work.
    var entryLoadPre: Map[String, Double] = Map.empty
    var entryLoad: Map[String, Double] = Map.empty
    var kept: Map[String, Attempt] = runners.map { case (name, run) =>
      entryLoadPre += name -> load1()
      val a = attempt(run); val b = attempt(run)
      entryLoad += name -> load1()
      name -> faster(a, b)
    }.toMap

    // Drift gate: compare against the PREVIOUS round's JSON (the same
    // file this run overwrites below) and flag any entry past 1.5× its
    // prior time. q27 drifted silently in r6, q49 in r7 — the harness
    // itself now names the third one instead of waiting for the judge.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    val prevTxt: String = try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(outPath)), "UTF-8")
      catch { case _: Throwable => "" }
    val prev: Map[String, Double] = parseSection(prevTxt, "queries", sfDir)
    // The gate compares against the best-known-CLEAN reference, not
    // the raw previous measurement: a contended entry records its
    // inflated wall in `queries` (the honest measurement) but carries
    // the unpolluted number forward in `gate_wall`, so one noisy
    // round cannot mask the NEXT round's real regression behind an
    // inflated baseline. Per-entry: gate_wall overrides queries.
    val prevGate: Map[String, Double] =
      prev ++ parseSection(prevTxt, "gate_wall", sfDir)
    // fastest-known clean during-run probe median per entry
    val prevConcGate: Map[String, Double] = parseSection(prevTxt, "gate_conc", sfDir)
    def r3(x: Double) = math.round(x * 1000) / 1000.0
    // entries whose kept wall trips the gate, in runner order
    def trippedNow(): Seq[String] = runners.map(_._1).filter { k =>
      tripped(kept(k).wall, prevGate.getOrElse(k, -1.0))
    }
    // Contention recovery (r8 lesson: the recorded run shipped q37 at
    // 11.8× with zero plan change — machine contention, flagged by the
    // gate but still recorded). Tripped entries get ONE more run
    // each, DEFERRED to the very end of the round (round 14: the
    // retry used to run straight after the first pass, when the
    // 1-min loadavg EMA still carried the bench's own drain plus
    // whatever external load caused the trip — r12's q266 confirm
    // retry ran at loadavg 6.9 and just re-measured the contention).
    // Running the retries after the ANN-recall block behind a
    // margin-gated settle wait gives the EMA minutes to drain; keep
    // the min. An entry still past the line goes to the final quiet
    // re-measure below.
    val trippedFirst = trippedNow()
    var loadAtRetry = -1.0
    def confirmRetries(): Unit =
      if (trippedFirst.nonEmpty) {
        System.err.println(
          s"[bench] drift gate tripped (${trippedFirst.mkString(", ")}); " +
            "re-running after settle, keeping min")
        System.gc()
        Thread.sleep(3000)
        // settle to the busy margin (max(1, cpus/16)), not just the
        // flat cpus/4 threshold: a wide entry retried under cpus/4 of
        // residual load just re-measures the contention
        val settleTarget = math.max(1.0, cpus.toDouble / 16.0)
        var waited = 0
        while (load1() > settleTarget && waited < 240) {
          System.err.println(
            s"[bench] box busy (loadavg ${load1()} > $settleTarget); waiting for settle")
          Thread.sleep(15000); waited += 15
        }
        loadAtRetry = load1()
        trippedFirst.foreach { name =>
          val r = attempt(runnerMap(name))
          val postLoad = load1()
          if (r.wall > 0 && r.wall < kept(name).wall) {
            kept += name -> r // the retry won: its evidence rides along
            entryLoad += name -> postLoad
          }
        }
      }

    // === ANN quality: recall@10 beside the wall times ===
    // Wall time alone would pass a silent nPlanes/probe regression
    // (faster AND worse); recall vs the exact ground truth rides in
    // the JSON like TeraValidate ships correctness beside the sort
    // benchmark. Deterministic on fixed data (query set = the 16
    // smallest vec_ids ≡ 0 mod 97; every stage is the deterministic
    // path), so any drop on unchanged testdata is a CODE change —
    // named in `recall_drift` below. Ground truth is metric-matched:
    // exact cosine for the cosine-LSH index, exact squared-L2 for the
    // L2 IVF-PQ index (different metrics rank different neighbors on
    // unnormalized vectors — a cross-metric "recall" would measure
    // the metric gap, not the index).
    //
    // PLANTED NEIGHBORS (r10 VERDICT task 4): on uniform random
    // embeddings true top-10 structure is near-chance, so recall sat
    // at noise (11-12/160) and only a catastrophic regression could
    // move it. Each query now gets 12 deterministic near-duplicates
    // (per-element relative perturbation ±5%, scale-free for both
    // cosine and L2) unioned in at fresh vec_ids — true neighbors are
    // unambiguous, recall sits far above chance, and a real
    // nPlanes/nProbe mistuning shows as a measurable drop. The
    // fixture files stay untouched; planting is an O(16·12·64)
    // driver-side union at bench time.
    var annCacheStatus = "off" // "hit"/"miss" once the recall block runs
    def annRecall(): Map[String, Long] = try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      spark.catalog.clearCache()
      val base = graft.core.Tables.embeddings(spark, sfDir)
      val qids = base.select("vec_id").where(col("vec_id") % 97 === 0)
        .orderBy("vec_id").limit(16)
        .collect().map(_.getLong(0)).toSeq
      val qvecs = base.where(col("vec_id").isin(qids: _*))
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val plantBase = 50000000L // past any fixture vec_id at any sf
      val planted = qvecs.zipWithIndex.flatMap { case ((_, qv), qi) =>
        (0 until 12).map { j =>
          val e = qv.zipWithIndex.map { case (v, kk) =>
            // modulus 13 > 12 keeps all twelve j-patterns distinct
            // (a 7-modulus made j and j+7 bit-identical)
            (v * (1.0 + 0.05 * (((qi * 131 + j * 31 + kk * 17) % 13) - 6) / 6.0)).toFloat
          }
          (plantBase + qi * 100L + j, e, 0)
        }
      }.toSeq
      val emb = base.select(col("vec_id"), col("embedding"), col("label"))
        .unionByName(spark.createDataFrame(planted)
          .toDF("vec_id", "embedding", "label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val k10 = 10
      def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select("qid", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val truthCos = pairSet(graft.llm.Similarity.bruteTopK(emb, qids, k10))
      val lsh = pairSet(graft.llm.Similarity.lshTopK(emb, qids, k10, 64))
      // exact L2 ground truth for the IVF-PQ side
      val qdf = emb.where(col("vec_id").isin(qids: _*))
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val l2 = aggregate(zip_with(col("qe"), col("embedding"),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
      val wL2 = Window.partitionBy(col("qid")).orderBy(col("d"), col("vec_id"))
      val truthL2 = pairSet(emb.crossJoin(broadcast(qdf))
        .where(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), l2.as("d"))
        .withColumn("r", row_number().over(wL2)).where(col("r") <= k10))
      // trained index: Lloyd coarse cells + per-subspace codebooks —
      // the real 100 TB path, deterministic by the lloydStep contract.
      // Training is ~1 min of the bench wall, and deterministic on a
      // fixed fixture — so the trained model is CACHED by (sf dir,
      // params, fixture fingerprint); the driver regenerating
      // testdata changes the fingerprint and invalidates. Doubles are
      // stored as raw bits, so a cache hit replays the exact model
      // and recall values are bit-identical to a fresh train.
      val params = "coarse16x3x64|pq64x4x16x2|plant12v2"
      val cacheFile = {
        val fpMd = java.security.MessageDigest.getInstance("MD5")
        def walk(f: java.io.File): Unit =
          if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(walk)
          else fpMd.update(
            s"${f.getName}:${f.length}:${f.lastModified}|".getBytes("UTF-8"))
        walk(new java.io.File(sfDir, "embeddings.parquet"))
        fpMd.update(s"$sfDir|$params".getBytes("UTF-8"))
        // the TRAINING CODE is part of the key: a warm cache must not
        // mask a regression in Lloyd/PQ training, so hash the compiled
        // classes implementing it into the fingerprint
        Seq(graft.llm.Pq.getClass, graft.llm.Ivf.getClass,
            graft.llm.Clustering.getClass).foreach { c =>
          val res = "/" + c.getName.replace('.', '/') + ".class"
          val in = c.getResourceAsStream(res)
          if (in != null) try fpMd.update(in.readAllBytes()) finally in.close()
        }
        val key = fpMd.digest().map(b => f"$b%02x").mkString
        val dir = new java.io.File("target/bench-ann-cache")
        dir.mkdirs()
        new java.io.File(dir, s"ivfpq_$key.txt")
      }
      def hex(a: Array[Double]): String =
        a.map(d => java.lang.Double.doubleToRawLongBits(d).toHexString).mkString(",")
      def unhex(s: String): Array[Double] =
        s.split(',').map(t => java.lang.Double.longBitsToDouble(
          java.lang.Long.parseUnsignedLong(t, 16)))
      val cached: Option[(Seq[Array[Double]], graft.llm.Pq.Model)] =
        if (!cacheFile.exists) None
        else try {
          val lines = java.nio.file.Files.readAllLines(cacheFile.toPath)
          val it = lines.iterator()
          require(it.next() == s"params $params")
          val coarseN = it.next().stripPrefix("coarse ").toInt
          val cs = (0 until coarseN).map(_ => unhex(it.next()))
          val pqHdr = it.next().stripPrefix("pq ").split(' ').map(_.toInt)
          val pm = pqHdr(0); val pk = pqHdr(1)
          val books = (0 until pm).map(_ => (0 until pk).map(_ => unhex(it.next())))
          Some((cs, graft.llm.Pq.Model(64, pm, pk, books)))
        } catch { case _: Exception => None } // stale/corrupt: retrain
      annCacheStatus = if (cached.isDefined) "hit" else "miss"
      val (coarse, model) = cached.getOrElse {
        val cs = graft.llm.Ivf.buildCentroidsLloyd(emb, 16, 3, 64)
        val md = graft.llm.Pq.train(emb, "vec_id", "embedding",
          dim = 64, m = 4, k = 16, maxIter = 2)
        val out = new StringBuilder()
        out ++= s"params $params\n"
        out ++= s"coarse ${cs.length}\n"
        cs.foreach(c => out ++= hex(c) + "\n")
        out ++= s"pq ${md.m} ${md.k}\n"
        md.codebooks.foreach(_.foreach(c => out ++= hex(c) + "\n"))
        java.nio.file.Files.write(cacheFile.toPath, out.toString.getBytes("UTF-8"))
        (cs, md)
      }
      // refine=4: the IVFADC+R exact re-rank of the ADC shortlist —
      // r11 measured pure-ADC recall at 132/160 with the planted
      // neighbors IN the shortlist but ADC-tied (16-bit codes can't
      // order 12 near-duplicates); the re-rank reads 44 full vectors
      // per query and fixes the order
      val ivf = graft.llm.Pq.ivfAdcTopK(emb, "vec_id", "embedding",
          coarse, model, qids, nProbe = 4, topK = k10 + 1, refine = 4)
        .where(col("vec_id") =!= col("qid")) // self-pair rides rank 1
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
          rs.sortBy(_._3).take(k10).map(t => (t._1, t._2)).toSeq
        }.toSet
      emb.unpersist()
      Map(
        "lsh_top10" -> lsh.count(truthCos).toLong,
        "ivfpq_top10" -> ivf.count(truthL2).toLong,
        "denom" -> (qids.size * k10).toLong)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ANN recall block failed: ${e.getMessage}")
      Map("lsh_top10" -> -1L, "ivfpq_top10" -> -1L, "denom" -> -1L)
    }
    val recall = annRecall()
    val prevRecall = parseSection(prevTxt, "recall", sfDir)
    // deterministic metric: ANY drop vs the previous round on the
    // same sf dir is named (data regeneration between rounds can move
    // it without a code change, so it is evidence, not an rc gate)
    val recallDrift = Seq("lsh_top10", "ivfpq_top10").filter { m =>
      recall.getOrElse(m, -1L) >= 0 && prevRecall.getOrElse(m, -1.0) > 0 &&
        recall(m).toDouble < prevRecall(m)
    }
    if (recallDrift.nonEmpty)
      System.err.println(s"[bench] ANN recall DROPPED vs previous run: " +
        recallDrift.map(m => s"$m ${prevRecall(m).toLong} -> ${recall(m)}")
          .mkString(", "))

    // deferred confirm retries run HERE — after the recall block, as
    // far from the first pass's loadavg drain as the round gets
    confirmRetries()

    // ---- FINAL quiet re-measure, the one rule that confirms a
    // regression (r16: a busy box inflates wall AND CPU together, the
    // exact signature of a code regression, and BENCH_r16 shipped
    // rc=1 on healthy code). Every entry still past the line after
    // the retry re-runs twice after a bounded load-drain wait, and
    // [[remeasureVerdict]] on that window decides: confirmed →
    // `regressed`; unconfirmed (window not positively quiet, or
    // attempts that disagree) → `contended`, also named in
    // `unconfirmed_quiet`; back under the line → recovered, with the
    // clean wall recorded. The wait is bounded per round, not per
    // entry: once one suspect's wait runs out, later suspects
    // re-measure at once and their own pre-window decides.
    val suspects = trippedNow()
    var remeasured = Map.empty[String, Double]
    var regressedR = List.empty[String]
    var contendedR = List.empty[String]
    if (suspects.nonEmpty) {
      System.err.println(
        s"[bench] still past the gate after the retry (${suspects.mkString(", ")}); " +
          "final quiet re-measure before the verdict ships")
      System.gc()
      Thread.sleep(3000)
      val margin = math.max(1.0, cpus.toDouble / 16.0)
      // settle target is the CONFIRM margin (~0.5 external runnable
      // threads — r18 verdict item 1): a confirming verdict needs a
      // genuinely quiet pre-window. Between it and the busy margin the
      // attempts still run (a RECOVERY is still exculpatory), but the
      // verdict caps at `unconfirmed`.
      val confirmMargin = 0.5
      var settleRanOut = false
      suspects.foreach { name =>
        val gate = prevGate.getOrElse(name, -1.0)
        var waited = 0
        while (!settleRanOut && load1() > confirmMargin) {
          if (waited >= 300) {
            settleRanOut = true
            System.err.println("[bench] settle wait ran out; later suspects " +
              "re-measure without waiting")
          } else {
            System.err.println(s"[bench] re-measure of $name waiting " +
              s"for settle (loadavg ${load1()} > $confirmMargin)")
            Thread.sleep(15000); waited += 15
          }
        }
        val preLoad = load1()
        if (preLoad > margin) {
          contendedR ::= name
          System.err.println(s"[bench] $name: box never settled " +
            s"(loadavg $preLoad) - contended, regression UNCONFIRMED")
        } else {
          // MIN of two attempts (r17 verdict item 3: one attempt under
          // residual drain re-confirmed the contention it was supposed
          // to rule out)
          val run = runnerMap(name)
          val a1 = attempt(run); val a2 = attempt(run)
          val a = faster(a1, a2)
          val postLoad = load1()
          if (a.wall > 0) {
            remeasured += name -> a.wall
            kept += name -> a
            entryLoad += name -> postLoad
            entryLoadPre += name -> preLoad
          }
          val concGate = prevConcGate.getOrElse(name, -1.0)
          // the after-sample may carry the entry's OWN burst, taken at
          // full width, plus at most ~a busy margin of external load
          val bound = margin + ownBurstLoad(cpus.toDouble, cpus.toDouble,
            a1.wall.max(0) + a2.wall.max(0))
          val agree = a1.wall > 0 && a2.wall > 0 &&
            math.abs(a1.wall - a2.wall) <= 0.15 * math.min(a1.wall, a2.wall)
          remeasureVerdict(a.wall, gate, postLoad, bound, a.conc, concGate,
            preLoad, confirmMargin, agree) match {
            case "regressed" => regressedR ::= name // re-run died
            case "unconfirmed" =>
              contendedR ::= name
              System.err.println(s"[bench] $name: re-measure window not " +
                s"positively quiet or not reproducible (load $preLoad->$postLoad, " +
                s"bound ${r3(bound)}, conc ${r3(a.conc)} vs gate ${r3(concGate)}, " +
                s"attempts ${r3(a1.wall)}/${r3(a2.wall)}s) - contended, " +
                "regression UNCONFIRMED")
            case "confirmed" =>
              regressedR ::= name
              System.err.println(s"[bench] $name: CONFIRMED regressed on " +
                s"a quiet box - ${r3(a.wall)}s vs gate ${r3(gate)}s")
            case _ =>
              System.err.println(s"[bench] $name: RECOVERED on the quiet " +
                s"re-measure (${r3(a.wall)}s) - the loaded first pass was " +
                "contention; clean wall recorded")
          }
        }
      }
    }
    val regressed = regressedR.reverse
    val contended = contendedR.reverse

    val names = runners.map(_._1)
    def wall(k: String): Double = kept(k).wall
    def obj(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // one section over every entry, in runner order
    def perEntry(f: String => Any): String = obj(names.map(k => k -> f(k)))
    def list(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = names.map(wall).filter(_ >= 0).sum
    val ratios = names.collect {
      case k if wall(k) > 0 && prev.getOrElse(k, -1.0) > 0 => k -> r3(wall(k) / prev(k))
    }

    // x10 scale-trend entries, per-row-normalized: x10/base time ratio
    // (ideal ≤ 10 at full parallelism; >10 means superlinear = bad).
    val scaleup = Seq("q02", "q27", "q37", "q49", "q64", "q150", "q217").flatMap { p =>
      val base = names.find(k => k.startsWith(p + "_") && !k.endsWith("_x10") && wall(k) > 0)
      val x10 = kept.get(p + "_x10").map(_.wall).getOrElse(-1.0)
      base.filter(_ => x10 > 0).map(b => p -> r3(x10 / wall(b)))
    }
    // regressed AND contended entries carry the clean reference
    // forward (monotone under suspicion — round 12; the r11 run let a
    // regressed verdict write its inflated wall as the gate);
    // everything else's gate reference IS its measurement — a
    // RECOVERED entry (quiet re-measure back under the line) records
    // its clean re-measured wall. Round 18 (r17 item 5b): ANY entry
    // whose own pre-window was loaded also carries min(v, prevGate)
    // — non-suspect entries under load ratcheted gates upward — and
    // a FIRST-TIME entry measured under load gets no gate at all
    // (gates are only born in quiet windows; re-measured entries use
    // their re-measure window's pre-sample). The flat threshold on
    // the pre-sample is deliberate: between back-to-back entries the
    // 1-min EMA carries the bench's OWN just-finished burst, so a
    // tighter test would read nearly every window loaded even on a
    // quiet box and freeze every gate forever.
    val gateJson = perEntry { k =>
      r3(gateCarry(wall(k), prevGate.getOrElse(k, -1.0),
        contended.contains(k) || regressed.contains(k),
        loadedWindow = entryLoadPre.getOrElse(k, -1.0) > loadThreshold))
    }
    // during-run witness sections: the kept window's probe median and
    // the fastest-known clean reference. gate_conc keeps the MIN of
    // history and a usable current sample — the machine's best
    // witnessed speed for this entry's window; a loaded round can
    // therefore never weaken next round's contention detection.
    val gateConcJson = perEntry { k =>
      val now = kept(k).conc
      val g = prevConcGate.getOrElse(k, -1.0)
      r3(if (now > 0 && g > 0) math.min(now, g) else math.max(now, g))
    }
    // Ratio against the gate reference that actually fires (prevGate,
    // i.e. the carried-forward clean baseline) — for an entry
    // contended two rounds running, prev_ratio vs the raw previous
    // wall reads ~1.0 while the gate trips vs the clean number; this
    // section is the evidence that matches the gate (ADVICE r9).
    val gateRatios = names.collect {
      case k if wall(k) > 0 && prevGate.getOrElse(k, -1.0) > 0 =>
        k -> r3(wall(k) / prevGate(k))
    }
    // the settle evidence of the deferred retry
    val retryJson = s"""{"load_threshold":$loadThreshold,""" +
      s""""load_at_retry":${r3(loadAtRetry)}}"""
    if (contended.nonEmpty) {
      val ev = contended.map { k =>
        val v = wall(k)
        val vsPrev = prev.get(k).filter(_ > 0).map(p => r3(v / p)).getOrElse(-1.0)
        val vsGate = prevGate.get(k).filter(_ > 0).map(p => r3(v / p)).getOrElse(-1.0)
        s"$k(vs_prev=$vsPrev, vs_gate=$vsGate, " +
          s"load=${r3(entryLoadPre.getOrElse(k, -1.0))}->${r3(entryLoad.getOrElse(k, -1.0))}, " +
          s"gc_s=${r3(kept(k).gc)}, steal_s=${r3(kept(k).steal)})"
      }
      System.err.println(
        s"[bench] wall-slow but the quiet re-measure did not confirm it (likely " +
          s"external contention - gate ratio and host noise named per entry): " +
          ev.mkString(", "))
    }
    if (regressed.nonEmpty)
      System.err.println(
        s"[bench] REGRESSED >1.5x wall, confirmed on a POSITIVELY quiet " +
          s"final re-measure: " + regressed.mkString(", "))
    val recallJson = obj(Seq("lsh_top10", "ivfpq_top10", "denom")
      .map(m => m -> recall.getOrElse(m, -1L)))
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":${perEntry(wall)},""" +
      s""""cpu_sec":${perEntry(k => r3(kept(k).cpu))},"gate_wall":$gateJson,""" +
      s""""gc_s":${perEntry(k => r3(kept(k).gc))},""" +
      s""""steal_s":${perEntry(k => r3(kept(k).steal))},""" +
      s""""conc_probe":${perEntry(k => r3(kept(k).conc))},""" +
      s""""gate_conc":$gateConcJson,"prev_ratio":${obj(ratios)},""" +
      s""""gate_ratio":${obj(gateRatios)},""" +
      s""""entry_loadavg":${perEntry(k => r3(entryLoad.getOrElse(k, -1.0)))},""" +
      s""""entry_loadavg_pre":${perEntry(k => r3(entryLoadPre.getOrElse(k, -1.0)))},""" +
      s""""retry":$retryJson,""" +
      s""""recall":$recallJson,"recall_drift":${list(recallDrift)},""" +
      s""""ann_cache":"$annCacheStatus",""" +
      s""""regressed":${list(regressed)},"contended":${list(contended)},""" +
      s""""remeasured":${obj(remeasured.toSeq.map { case (k, v) => k -> r3(v) })},""" +
      s""""unconfirmed_quiet":${list(contended)},""" +
      s""""x10_scaleup":${obj(scaleup)},""" +
      s""""loadavg_start":"$loadStart","loadavg_end":"${loadavg()}","sf":"$sfDir"}"""
    // The driver parses captured stdout, but sbt prefixes every line
    // with [info]/[error] noise (BENCH_r01.json came back parsed:null).
    // Write the same single JSON line to a stable file path too.
    println(json)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), (json + "\n").getBytes("UTF-8"))
    spark.stop()
    // Confirmed regression (the first pass and the deferred retry both
    // tripped, and the positively-quiet re-measure confirmed): loud
    // exit AFTER the record is written, so the number ships with its
    // evidence.
    if (regressed.nonEmpty) sys.exit(1)
  }
}
