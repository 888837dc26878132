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
  * Contention discipline (rounds 9–10): a shared box can contaminate
  * the record — r8's end-of-round run measured q37 at 11.8× its
  * mid-round time, and r9's shipped a false rc=1 on q147 because
  * whole-box load inflated even this JVM's CPU-seconds (11.3 → 25.5
  * with zero code change). Defenses: (a) /proc/loadavg at run
  * start/end AND per entry so a judge can adjudicate from the
  * artifact alone; (b) any entry the drift gate flags (>1.5× its
  * gate reference + 0.3 s absolute grace) is automatically RE-RUN
  * once, DEFERRED to the very end of the round (round 14 — after the
  * ANN-recall block, behind a GC pause and a settle wait down to the
  * width margin, up to 4 min), so the 1-min loadavg EMA has drained
  * the bench's own work plus the transient that tripped it; (c)
  * machine speed is witnessed by ONE mechanism (round 14): the
  * [[ConcProbe]] thread that samples DURING every timed attempt —
  * SMT / memory-bandwidth contention that inflates entry CPU
  * inflates the witness equally, and the entry's CPU is deflated by
  * conc_probe/gate_conc before corroboration (the start-of-run and
  * retry-adjacent spinProbe runs this superseded are retired); (d)
  * `regressed` (→ nonzero exit) requires ALL of: wall-slow in both
  * passes, witness-normalized CPU corroboration, a quiet box (loadavg
  * below cpus/4 at start and retry time), (round 11) at least
  * one of the ENTRY's own measurement windows quiet — loadavg is
  * sampled before/after every entry and before/after every retry, so
  * a loaded tail the global samples never saw still disqualifies
  * itself — AND (round 17) a FINAL re-measure in a POSITIVELY quiet
  * window (load at the width margin before the run, width-aware
  * after-sample, during-run ConcProbe at the clean reference) that
  * still trips; r16 proved a busy box can inflate wall and CPU
  * together past every earlier bar, and the quiet re-run is the one
  * measurement that can't be — anything less lands in `contended`,
  * NAMED with its gate ratio and load evidence (plus
  * `unconfirmed_quiet` when the box never settled), never dropped;
  * `gate_wall` carries the clean reference forward so contended
  * entries re-trip every round until a human reads them.
  *
  * Round 12 closes the remaining DURING-run blind spot (r11's
  * q150_x10 false rc=1: the entry started at loadavg 6.22 — under
  * every between-runs threshold — and the retry-adjacent probe ran in
  * a quiet GAP, yet the 18-core-wide entry itself then shared SMT
  * siblings and memory bandwidth with the residual load and inflated
  * both wall and CPU-seconds; no witness measured between runs can
  * see that): (e) a [[ConcProbe]] sibling thread now runs
  * CONCURRENTLY with every timed attempt, sampling a small fixed
  * ALU+memory kernel; its median sample is the during-run
  * machine-speed witness, recorded per entry (`conc_probe`) with a
  * fastest-known clean reference carried forward (`gate_conc`). A
  * wall regression can only be CONFIRMED when the kept window's
  * concurrent witness reads quiet vs that reference (ratio ≤ 1.25);
  * no reference yet (first round of the feature, or a too-short
  * window) means no trustworthy during-run witness exists and the
  * entry lands in `contended` — conservative toward contended, never
  * toward a false rc=1. The conc ratio also deflates the entry's CPU
  * before corroboration (the probe thread's own CPU is subtracted
  * from the entry's delta via ThreadMXBean, so the witness never
  * pollutes the measurement it guards); (f) the per-window load test
  * is entry-width-aware: a window is also loaded when load1 + the
  * entry's own baseline width (prevCpu/prevWall) oversubscribes the
  * box — loadavg 6 is "quiet" for a 2-core entry and saturating for
  * a 28-core one; (g) `gate_wall` is monotone under suspicion: a
  * regressed- OR contended-classified entry carries its PRIOR clean
  * gate forward (r11's recorded run had polluted q150_x10's gate to
  * its inflated wall, masking real regressions up to ~22 s).
  *
  * Round 14 closes the r12 false rc=1 (q266: wall 1.62× / CPU 1.91×
  * at entry loadavg 12.0→6.2 with a quiet one-thread probe — the
  * probe found an idle core while the 32-thread entry fought for the
  * rest): (h) the window-load width is PEAK-aware ([[peakWidth]]:
  * baseline cpu/wall > 2 counts as full-width — load competes with
  * the burst, not the average), with a busy MARGIN (max(1, cpus/16))
  * under which any width reads quiet, so a settled retry can still
  * confirm a full-width regression (ADVICE r13); (i) the
  * [[smtCoupled]] signature — CPU-seconds inflating ≥1.3× more than
  * wall — classifies as contended even under a quiet witness: more
  * work inflates wall at least proportionally to CPU, only slower
  * cycles can inflate CPU disproportionately (r10's q217_x10 shape).
  *
  * Known blind spot, accepted: a purely I/O-bound regression (e.g. a
  * broadcast flipping to a spilling sort-merge) adds wall but little
  * CPU and lands in `contended` — its twin ("CPU-dense entry lands
  * in regressed under load", r9) is closed by (c)+(d)+(e). The JSON
  * is printed and written BEFORE any nonzero exit.
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

  /** Is a wall-clock regression corroborated by the CPU axis?
    * True when current CPU > previous×1.3 + 0.5 s — the absolute
    * grace keeps sub-second entries' CPU noise (±0.1 s of JIT/GC
    * swing is a 1.5× "ratio" on a 0.2 s entry) from masquerading as
    * regressions; a real plan regression adds CPU SECONDS. With no
    * usable CPU history the wall axis alone decides (true).
    *
    * `speedRatio` (round 10) closes the r9 blind spot: under
    * whole-box SMT/memory contention CPU-seconds inflate too (q147's
    * CPU went 11.3 → 25.5 s with zero code change under loadavg 3.8),
    * violating the r9 assumption that "contention inflates wall but
    * not this JVM's CPU". Since round 14 the ratio is the during-run
    * [[ConcProbe]] witness (conc_probe / gate_conc) — the one
    * machine-speed mechanism — and the current CPU is DEFLATED by it
    * before comparing, so a slower box can't manufacture a CPU
    * confirmation. Clamped ≥ 1: a faster box never inflates. */
  private[graft] def cpuCorroborated(cur: Double, prev: Double,
                                     speedRatio: Double = 1.0): Boolean = {
    val norm = if (speedRatio > 1.0 && cur > 0) cur / speedRatio else cur
    !(prev > 0 && cur > 0 && norm <= prev * 1.3 + 0.5)
  }

  /** Drift-gate trip rule for one entry: past 1.5× its gate reference
    * AND past an absolute +0.3 s grace. The multiplicative rule alone
    * forced noise re-runs on sub-second entries (r9 judge run: q14 at
    * 0.194 s and q37 4 ms over the line tripped on pure JIT jitter);
    * the grace mirrors [[cpuCorroborated]]'s +0.5 s CPU grace. */
  private[graft] def tripped(v: Double, gate: Double): Boolean =
    v > 0 && gate > 0 && v > gate * 1.5 + 0.3

  /** Split wall-regressed entries into (regressed, contended).
    * `loadHigh` short-circuits everything to contended: when the
    * 1-min loadavg at run start or at confirm-retry time exceeds
    * cpus/4 the box is measurably busy, and NO per-entry evidence
    * gathered under that load can confirm a regression — the r9
    * false-rc=1 (q147) happened exactly this way.
    *
    * Round 11 closes the PER-ENTRY blind spot (r10's q217_x10 false
    * rc=1: run start at loadavg 3.44, the entry itself measured at
    * 25.21 — a loaded TAIL the start/retry-time global samples never
    * saw): `entryLoadHigh` says whether BOTH of an entry's own
    * measurement windows (first pass and confirming retry) were
    * loaded past threshold — such an entry has no trustworthy
    * measurement at all and can only be `contended`. `speedRatio` is
    * now per-entry too: a tripped entry's CPU deflates by the probe
    * re-run next to its RETRY (where the contention actually is),
    * not the start-of-run probe that predates the load.
    *
    * Round 12: `concQuiet` is the DURING-run witness (r11's q150_x10
    * false rc=1: every between-runs sample read quiet while the run
    * itself shared the box) — true only when the sibling [[ConcProbe]]
    * that ran concurrently with the entry's kept window measured the
    * box at its clean reference speed. An entry with no such positive
    * witness (no reference yet, window too short) can only be
    * `contended`: absence of evidence never confirms a regression. */
  private[graft] def classify(wallRegressed: Seq[String],
                              cpuNow: Map[String, Double],
                              cpuPrev: Map[String, Double],
                              speedRatio: String => Double,
                              loadHigh: Boolean,
                              entryLoadHigh: String => Boolean,
                              concQuiet: String => Boolean,
                              smtSignature: String => Boolean = _ => false)
      : (Seq[String], Seq[String]) =
    if (loadHigh) (Nil, wallRegressed)
    else wallRegressed.partition { k =>
      !entryLoadHigh(k) && concQuiet(k) && !smtSignature(k) &&
        cpuCorroborated(cpuNow.getOrElse(k, -1.0), cpuPrev.getOrElse(k, -1.0),
          speedRatio(k))
    }

  /** Is one measurement window loaded? Past the flat threshold
    * (cpus/4), OR — round 12, width-aware — when the background load
    * plus the ENTRY's own width (its baseline cpu/wall parallelism)
    * oversubscribes the box: loadavg 6 is quiet for a 2-core entry
    * and saturating for a 28-core one on 32 cpus. Width ≤ 0 (no
    * baseline) falls back to the flat test alone.
    *
    * Round 14 (ADVICE r12/r13): the width leg requires load1 past a
    * BUSY margin (max(1, cpus/16) — 2.0 on 32 cpus). Without it a
    * full-width entry read "loaded" at ANY load1 > 0, which made a
    * regression on the widest entries unconfirmable forever; with it
    * a genuinely settled box (load1 under the margin) counts as
    * quiet for every width, so the deferred confirm retry can still
    * confirm a real full-width regression. */
  private[graft] def windowLoaded(load1: Double, threshold: Double,
                                  width: Double, cpus: Double): Boolean =
    load1 > threshold ||
      (width > 0 && cpus > 0 && load1 > math.max(1.0, cpus / 16.0) &&
        load1 + width > cpus)

  /** An entry's parallel width for the window-load test, PEAK-aware
    * (round 14, r12 verdict task): the baseline average cpu/wall
    * understates bursty plans — a 32-thread scan stage behind a
    * single-threaded tail averages ~4 but competes for all 32 cpus
    * during the scan. Any average above 2 therefore counts as
    * full-width: background load competes with the BURST, not the
    * average. (r12's q266 false rc=1: avg width 3.94 read the loaded
    * 6.2–12.0 windows as quiet; full-width reads them loaded →
    * contended.) No baseline → -1 (flat threshold test alone). */
  private[graft] def peakWidth(baselineCpu: Double, baselineWall: Double,
                               cpus: Double): Double =
    if (baselineCpu <= 0 || baselineWall <= 0) -1.0
    else { val avg = baselineCpu / baselineWall; if (avg > 2.0) cpus else avg }

  /** Final-quiet-re-measure verdict for one suspect (round 17 — the
    * r16 false rc=1 closer). Inputs are the ONE re-run taken after
    * the bounded load-drain wait (the pre-window is at the margin by
    * construction — the caller only re-runs once load1 settled):
    * - `wall <= 0` (runner died) → "regressed": the original verdict
    *   stands, a broken re-run is not exculpatory;
    * - window not POSITIVELY quiet (after-sample past the flat
    *   threshold, or no clean during-run ConcProbe witness at the
    *   reference) → "unconfirmed": absence of a quiet measurement
    *   never confirms a regression — the entry parks in contended;
    * - quiet AND still past the trip line → "confirmed";
    * - quiet and back under it → "recovered" (the clean wall is the
    *   honest number to record).
    * Deliberately the FLAT threshold on the after-sample, not the
    * width-aware test: a full-width entry's own just-finished burst
    * raises the 1-min EMA past the margin on an otherwise idle box,
    * which would park every wide regression in unconfirmed forever;
    * the during-run probe is the witness that actually saw the
    * measurement window.
    *
    * Round 18 (r17 verdict item 3 — the r17 re-measure CONFIRMED a
    * regression the judge's quiet box refuted: entry loadavg 4.4
    * during the re-run passed the flat cpus/4=8.0 bound, and its
    * ConcProbe squeaked by at 1.21× of the 1.25× bound): the caller
    * now passes `loadThreshold` = busy margin (~cpus/16) PLUS the
    * entry's own expected EMA contribution ([[ownBurstLoad]]) — the
    * after-sample may carry the entry's just-finished burst but no
    * more than ~a margin of external load — and the witness bar
    * tightens to 1.15× with a 1 ms slack: the classification path's
    * 1.25×+5 ms bound let r17's 0.029-vs-0.024 (1.21×) probe pass
    * because the ABSOLUTE slack dominates at ~25 ms probe medians.
    * The FINAL exculpatory-or-confirming measurement demands a
    * genuinely clean witness; a merely-plausible one parks the entry
    * in `unconfirmed`, which is always safe (named, never rc=1). The
    * caller also re-runs TWICE and passes the MIN (residual drain
    * inflates any single re-run). */
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
      // Round 19 (r18 verdict item 1 — the r18 re-measure CONFIRMED
      // q289 at 2.472 s under ~1.7 runnable threads of external load
      // while the quiet truth was 1.41 s = 1.13× gate): a CONFIRMING
      // verdict additionally requires (a) the PRE-run loadavg — pure
      // external load, the entry's own burst hasn't happened yet — at
      // ≤ ~0.5 runnable threads (the after-sample bound alone admits
      // ~a busy margin of external load, which on a 32-way 1.4 s
      // entry is enough for a 75% inflation), and (b) the TWO
      // re-measure attempts agreeing within 15% (drain inflation is
      // unstable run-to-run; a real regression reproduces tightly).
      // Failing either parks the entry in `unconfirmed` — always
      // safe: named in the artifact, never rc=1, gate carried.
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

  /** SMT-sibling signature (round 14, r12 verdict task): CPU-seconds
    * inflated ≥1.3× MORE than wall did (+0.1 absolute slack on the
    * ratio-of-ratios). More work at unchanged machine speed inflates
    * wall at least proportionally to CPU (the entry's parallelism
    * doesn't grow because the plan got slower); cycles-getting-slower
    * (SMT core sharing, memory bandwidth) inflates every worker
    * thread's CPU-seconds while wall partially hides behind scheduler
    * slack. The during-run probe can MISS that sharing when its one
    * thread lands on an idle physical core — r10's q217_x10 false
    * rc=1 had exactly this shape: CPU 4.3× vs wall 2.3× with quiet
    * probes. A genuine 2× regression (wall 2×, CPU 2×) stays below
    * the coupling bound and still trips. */
  private[graft] def smtCoupled(wallNow: Double, wallRef: Double,
                                cpuNow: Double, cpuRef: Double): Boolean =
    wallNow > 0 && wallRef > 0 && cpuNow > 0 && cpuRef > 0 &&
      (cpuNow / cpuRef) > (wallNow / wallRef) * 1.3 + 0.1

  /** Next round's gate reference for one entry: its measurement —
    * unless THIS round classified the entry regressed or contended,
    * in which case the prior clean gate carries forward (never the
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

  /** The DURING-run machine-speed witness (round 12; since round 14
    * the ONLY machine-speed probe — the start-of-run and
    * retry-adjacent spinProbe runs it superseded are retired): one
    * daemon thread sampling a small fixed ALU + 64 MB strided-walk
    * kernel (~15–30 ms clean) in a loop for as
    * long as one timed attempt runs. SMT sharing and memory-bandwidth
    * pressure from ANY source — the entry's own threads plus whatever
    * else the box is running — slow every sample; comparing the
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
    val load1Start = load1()
    // Busy-box threshold for rc / classification decisions: a 1-min
    // load past a quarter of the cores means other work is competing
    // for SMT siblings and memory bandwidth — nothing measured under
    // it can confirm a regression.
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
    // member-per-record .warc.gz files, ~40 MB inflated each (~320 MB
    // total — far past the 64 MB cell fence, the scale the streaming
    // reader exists for). Generated once in executors, cached by
    // existence across runs; the timed entry reads ONLY.
    def warcStreamFixture(): Seq[String] = {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_bench_warc_v1")
      spark.range(8).as[Long].map { g =>
        val f = new java.io.File(dir, f"cc$g%02d.warc.gz")
        if (!f.exists) {
          dir.mkdirs()
          val tmp = java.io.File.createTempFile("ccpart", ".part", dir)
          val out = new java.io.BufferedOutputStream(
            new java.io.FileOutputStream(tmp), 1 << 16)
          val filler = ("lorem ipsum dolor sit amet " * 8).trim
          var r = 0
          while (r < 20000) { // ~2 KB/record -> ~40 MB inflated
            val body = s"<h1>Doc $g/$r</h1>" +
              s"<p>${filler} &amp; tail $r</p>" * 3
            val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
            val rec = s"WARC/1.0\r\nWARC-Type: response\r\n" +
              s"WARC-Target-URI: http://bench.example/$g/$r\r\n" +
              s"Content-Length: ${http.getBytes("UTF-8").length}\r\n\r\n" +
              http + "\r\n\r\n"
            val bos = new java.io.ByteArrayOutputStream(1024)
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(rec.getBytes("UTF-8"))
            gz.close() // one gzip member per record (the CC form)
            out.write(bos.toByteArray)
            r += 1
          }
          out.close()
          if (!tmp.renameTo(f)) tmp.delete()
        }
        f.getAbsolutePath
      }.collect().toSeq.sorted
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
      // The split-streaming crawl front door at its design scale:
      // ~320 MB of member-per-record gzip WARC across 8 on-disk files
      // (5× past the 64 MB cell fence), streamed record-by-record
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

    // Process CPU seconds — the contention discriminator: a noisy
    // neighbor inflates wall-clock but cannot add CPU time to THIS
    // JVM (entries run serially, so each delta is attributable).
    def cpuNow(): Double = try {
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          val t = os.getProcessCpuTime
          if (t < 0) -1.0 else t / 1e9
        case _ => -1.0
      }
    } catch { case _: Throwable => -1.0 }
    // one timed attempt: (wall sec, cpu sec, concurrent-probe median);
    // wall/cpu are -1 on failure. A ConcProbe sibling thread runs for
    // the whole attempt — the during-run contention witness (round
    // 12) — and its own thread-CPU is subtracted from the delta. For
    // entries whose runner returns an INTERNAL timing (terasort's
    // sort-only window, mrbench's 50-collect loop) the CPU delta spans
    // the whole runner call — a superset of the wall metric's work.
    // Still comparable run-over-run (same superset every time), which
    // is all the corroboration rule needs.
    def attempt(run: () => Double): (Double, Double, Double) = {
      val probe = new ConcProbe().start()
      val c0 = cpuNow()
      val w = try run() catch { case _: Throwable => -1.0 }
      val c1 = cpuNow()
      val (concMed, probeCpu) = probe.finish()
      (w,
        if (w < 0 || c0 < 0 || c1 < 0) -1.0 else math.max(0.0, c1 - c0 - probeCpu),
        concMed)
    }

    // best of 2: one run absorbs residual warmup/GC noise, the min is
    // the steady-state number. (min-of-2 applies uniformly — terasort
    // single runs swung ±50% round-over-round with no code change.)
    // The kept entry's CPU seconds travel with its wall time.
    // 1-min loadavg sampled BEFORE and after each entry's runs — the
    // JSON carries per-entry contention evidence, so a future judge
    // can adjudicate a slow entry from the artifact alone (r9
    // required a manual re-run to prove q147's 2.54 s was load, not
    // code). The before-sample exists because the after-sample is
    // confounded by the entry's own 32-thread work; an entry's
    // first-pass window counts as LOADED only when both samples
    // exceed threshold (r10: q217_x10's own samples read 25+ while
    // the run-start sample read 3.44 — the gate never saw it).
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

    var entryLoadPre: Map[String, Double] = Map.empty
    var entryLoad: Map[String, Double] = Map.empty
    val firstPassFull: Seq[(String, (Double, Double, Double))] =
      runners.map { case (name, run) =>
        entryLoadPre += name -> load1()
        val a = attempt(run); val b = attempt(run)
        entryLoad += name -> load1()
        name -> (if (b._1 >= 0 && (a._1 < 0 || b._1 < a._1)) b else a)
      }
    val firstPass = firstPassFull.map { case (n, (w, _, _)) => n -> w }
    var cpuMap: Map[String, Double] =
      firstPassFull.map { case (n, (_, c, _)) => n -> c }.toMap
    // during-run witness of the KEPT window (retry overwrites on win)
    var concMap: Map[String, Double] =
      firstPassFull.map { case (n, (_, _, cc)) => n -> cc }.toMap
    // first-pass window samples, snapshotted BEFORE any retry can
    // overwrite the after-samples; the loaded verdict itself is
    // computed below once the baseline widths are parsed.
    val firstPassLoadSamples: Map[String, (Double, Double)] =
      firstPassFull.map { case (n, _) =>
        n -> ((entryLoadPre.getOrElse(n, -1.0), entryLoad.getOrElse(n, -1.0)))
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
    val prevCpu: Map[String, Double] = parseSection(prevTxt, "cpu_sec", sfDir)
    // The gate compares against the best-known-CLEAN reference, not
    // the raw previous measurement: a contended entry records its
    // inflated wall in `queries` (the honest measurement) but carries
    // the unpolluted number forward in `gate_wall`, so one noisy
    // round cannot mask the NEXT round's real regression behind an
    // inflated baseline. Per-entry: gate_wall overrides queries.
    val prevGate: Map[String, Double] =
      prev ++ parseSection(prevTxt, "gate_wall", sfDir)
    // fastest-known clean during-run probe median per entry (round 12)
    val prevConcGate: Map[String, Double] = parseSection(prevTxt, "gate_conc", sfDir)
    // The entry's own baseline parallelism (cpu/wall) — how many cores
    // the entry itself occupies when healthy; feeds the width-aware
    // window-load test.
    def entryWidth(k: String): Double =
      peakWidth(prevCpu.getOrElse(k, -1.0), prevGate.getOrElse(k, -1.0),
        cpus.toDouble)
    // A first-pass window counts as LOADED only when BOTH its samples
    // (before/after) fail the width-aware test — the after-sample is
    // confounded by the entry's own 32-thread work, so one loaded
    // sample alone is not evidence.
    val firstPassLoaded: Map[String, Boolean] = firstPassLoadSamples.map {
      case (n, (pre, post)) =>
        n -> (windowLoaded(pre, loadThreshold, entryWidth(n), cpus.toDouble) &&
          windowLoaded(post, loadThreshold, entryWidth(n), cpus.toDouble))
    }
    def r3(x: Double) = math.round(x * 1000) / 1000.0
    def trippedOf(res: Seq[(String, Double)]): Seq[String] = res.collect {
      case (k, v) if tripped(v, prevGate.getOrElse(k, -1.0)) => k
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
    // the min. An entry still >1.5× after that is a double-confirmed
    // regression → nonzero exit below.
    val trippedFirst = trippedOf(firstPass)
    var loadAtRetry = -1.0
    var retryLoaded: Map[String, Boolean] = Map.empty
    def confirmRetries(): Seq[(String, Double)] =
      if (trippedFirst.isEmpty) firstPass
      else {
        System.err.println(
          s"[bench] drift gate tripped (${trippedFirst.mkString(", ")}); " +
            "re-running after settle, keeping min")
        System.gc()
        Thread.sleep(3000)
        // settle to the WIDTH margin (max(1, cpus/16)), not just the
        // flat cpus/4 threshold: the retry's loaded verdict for a
        // full-width entry uses the margin, so waiting only to cpus/4
        // would hand every wide entry a pre-loaded retry window and
        // park it in contended forever.
        val settleTarget = math.max(1.0, cpus.toDouble / 16.0)
        var waited = 0
        while (load1() > settleTarget && waited < 240) {
          System.err.println(
            s"[bench] box busy (loadavg ${load1()} > $settleTarget); waiting for settle")
          Thread.sleep(15000); waited += 15
        }
        loadAtRetry = load1()
        val retried = trippedFirst.flatMap { name =>
          runnerMap.get(name).map { run =>
            val preLoad = load1()
            val r = attempt(run)
            val postLoad = load1()
            retryLoaded += name ->
              (windowLoaded(preLoad, loadThreshold, entryWidth(name), cpus.toDouble) &&
                windowLoaded(postLoad, loadThreshold, entryWidth(name), cpus.toDouble))
            name -> ((r, postLoad))
          }
        }.toMap
        firstPass.map { case (name, v) =>
          retried.get(name) match {
            case Some(((rw, rc, rcc), postLoad)) if rw > 0 && v > 0 && rw < v =>
              cpuMap += name -> rc // the retry won: its CPU rides along
              concMap += name -> rcc // …and its during-run witness
              entryLoad += name -> postLoad
              name -> rw
            case _ => name -> v
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
    val results: Seq[(String, Double)] = confirmRetries()

    val cur = results.toMap
    // An entry that survived the recovery re-run is only a REGRESSION
    // if the speed-normalized CPU axis corroborates it AND the box
    // was demonstrably quiet at both measurement opportunities
    // ([[classify]]); wall-slow under load or with flat normalized
    // CPU is external contention — named, not a failure.
    val wallRegressed = trippedOf(results) // survived the recovery re-run
    val loadHigh = load1Start > loadThreshold ||
      (loadAtRetry > 0 && loadAtRetry > loadThreshold)
    // During-run witness ratio: the kept window's concurrent-probe
    // median vs this entry's fastest-known clean reference. > 1 means
    // the box was measurably slower WHILE this entry ran than during
    // its clean baseline window — the external share, since the
    // entry's own pressure is present in both.
    val concRatio: String => Double = { k =>
      val now = concMap.getOrElse(k, -1.0); val g = prevConcGate.getOrElse(k, -1.0)
      if (now > 0 && g > 0) math.max(1.0, now / g) else 1.0
    }
    // Positive quiet witness: a usable during-run sample exists AND
    // reads at the clean reference (≤1.25× + 5 ms sampling grace).
    // No reference yet / too-short window → false → contended.
    val concQuiet: String => Boolean = { k =>
      val now = concMap.getOrElse(k, -1.0); val g = prevConcGate.getOrElse(k, -1.0)
      now > 0 && g > 0 && now <= g * 1.25 + 0.005
    }
    // Per-entry CPU deflator (round 14: ONE mechanism): the during-run
    // concurrent ratio — the only witness that can see contention
    // INSIDE the measurement window. The start-of-run/retry-adjacent
    // spinProbe runs it used to max with are retired: every case they
    // caught (r9 whole-box slowness, r10 loaded tail) is covered by
    // concRatio when a gate_conc reference exists, and by concQuiet's
    // no-positive-witness → contended rule when it doesn't.
    val entrySpeedRatio: String => Double = concRatio
    // Entry-level load verdict: both of the entry's own windows
    // (first pass, retry) measured loaded → nothing trustworthy was
    // recorded for it. Missing retry evidence counts as loaded —
    // conservative toward contended, never toward a false rc=1.
    val entryLoadHigh: String => Boolean = { k =>
      firstPassLoaded.getOrElse(k, false) && retryLoaded.getOrElse(k, true)
    }
    // SMT-sibling signature (round 14): CPU-seconds inflating ≥1.3×
    // MORE than wall is cycles-getting-slower, not more work — the
    // shape of r10's q217_x10 (CPU 4.3× vs wall 2.3×), which a
    // one-thread probe on an idle physical core cannot see.
    val smtSignature: String => Boolean = { k =>
      smtCoupled(cur.getOrElse(k, -1.0), prevGate.getOrElse(k, -1.0),
        cpuMap.getOrElse(k, -1.0), prevCpu.getOrElse(k, -1.0))
    }
    val (regressed, contended) =
      classify(wallRegressed, cpuMap, prevCpu, entrySpeedRatio, loadHigh,
        entryLoadHigh, concQuiet, smtSignature)
    // ADVICE r14: the smt veto is unconditional by design (the
    // one-thread witness cannot see SMT core sharing, so its quiet
    // reading is not exculpatory for this shape) — but a PERSISTENT
    // CPU-dominant regression would hide behind it forever. Surface
    // the entries that would have confirmed but for the veto in a
    // dedicated artifact field, so the same name recurring across
    // rounds is visible to the round-over-round reader.
    val smtVetoed = wallRegressed.filter { k =>
      !loadHigh && !entryLoadHigh(k) && concQuiet(k) && smtSignature(k) &&
        cpuCorroborated(cpuMap.getOrElse(k, -1.0), prevCpu.getOrElse(k, -1.0),
          entrySpeedRatio(k))
    }
    if (smtVetoed.nonEmpty)
      System.err.println(
        s"[bench] wall+CPU slow but CPU inflated >=1.3x MORE than wall " +
          s"(SMT-coupled shape, classified contended; recurring across " +
          s"rounds would mean a real CPU-dominant regression): " +
          smtVetoed.mkString(", "))

    // ---- FINAL quiet re-measure (r16 verdict item 1/2: the fourth
    // loaded-box round finally fooled the corroboration bar — a busy
    // box inflates wall AND CPU together, the exact signature the
    // gate reads as code regression, and BENCH_r16 shipped rc=1 on
    // healthy code). A `regressed` verdict now additionally requires
    // a measurement taken in a POSITIVELY quiet window: the suspect
    // re-runs once after a bounded load-drain wait, and the verdict
    // stands only when (a) load1 was at the width margin before the
    // run, (b) the after-sample passes the width-aware load test,
    // (c) the during-run ConcProbe read at the clean reference, AND
    // (d) the quiet wall still trips the gate. A quiet wall back
    // under the line RECOVERS the entry (the clean number is
    // recorded); a box that never yields a quiet window leaves the
    // entry `contended` under `unconfirmed_quiet` — absence of a
    // quiet measurement never confirms a regression.
    var remeasured = Map.empty[String, Double]
    var unconfirmedQuiet = List.empty[String]
    var regressedF = List.empty[String]
    var contendedF = contended.toList
    if (regressed.nonEmpty) {
      System.err.println(
        s"[bench] regression classified for ${regressed.mkString(", ")}; " +
          "final quiet re-measure before the verdict ships")
      System.gc()
      Thread.sleep(3000)
      val margin = math.max(1.0, cpus.toDouble / 16.0)
      regressed.foreach { name =>
        runnerMap.get(name) match {
          case None => contendedF ::= name // no runner to re-measure
          case Some(run) =>
            // settle target is the CONFIRM margin (~0.5 external
            // runnable threads — r18 verdict item 1), not just the
            // busy margin: a confirming verdict needs a genuinely
            // quiet pre-window. If the box drains below the busy
            // margin but not to 0.5 within the bounded wait, the
            // attempts still run (a RECOVERY is still exculpatory)
            // but the verdict caps at `unconfirmed`.
            val confirmMargin = 0.5
            var waited = 0
            while (load1() > confirmMargin && waited < 300) {
              System.err.println(s"[bench] re-measure of $name waiting " +
                s"for settle (loadavg ${load1()} > $confirmMargin)")
              Thread.sleep(15000); waited += 15
            }
            val preLoad = load1()
            if (preLoad > margin) {
              contendedF ::= name; unconfirmedQuiet ::= name
              System.err.println(s"[bench] $name: box never settled " +
                s"(loadavg $preLoad) - contended, regression UNCONFIRMED")
            } else {
              // MIN of two re-measure attempts (r17 verdict item 3:
              // one attempt under residual drain re-confirmed the
              // contention it was supposed to rule out); the min
              // attempt's CPU and during-run witness ride along
              val a1 = attempt(run)
              val a2 = attempt(run)
              val (w, c, cc) =
                if (a2._1 >= 0 && (a1._1 < 0 || a2._1 < a1._1)) a2 else a1
              val postLoad = load1()
              if (w > 0) {
                remeasured += name -> w
                cpuMap += name -> c
                concMap += name -> cc
                entryLoad += name -> postLoad
                entryLoadPre += name -> preLoad
              }
              val g = prevConcGate.getOrElse(name, -1.0)
              // the re-measure after-sample allows the entry's OWN
              // burst EMA plus at most ~a busy margin of external
              // load — far tighter than the flat cpus/4 the r17
              // false-confirm slid under
              val burst = a1._1.max(0) + a2._1.max(0)
              val bound = margin + ownBurstLoad(entryWidth(name),
                cpus.toDouble, burst)
              // two agreeing attempts (within 15%) are required for a
              // CONFIRMED verdict — drain inflation is unstable
              // run-to-run, a real regression reproduces tightly
              val agree = a1._1 > 0 && a2._1 > 0 &&
                math.abs(a1._1 - a2._1) <= 0.15 * math.min(a1._1, a2._1)
              remeasureVerdict(w, prevGate.getOrElse(name, -1.0),
                postLoad, bound, cc, g, preLoad, confirmMargin,
                agree) match {
                case "regressed" => regressedF ::= name // re-run died
                case "unconfirmed" =>
                  contendedF ::= name; unconfirmedQuiet ::= name
                  System.err.println(s"[bench] $name: re-measure window not " +
                    s"positively quiet (load $postLoad, conc ${r3(cc)} vs " +
                    s"gate ${r3(g)}) - contended, regression UNCONFIRMED")
                case "confirmed" =>
                  regressedF ::= name
                  System.err.println(s"[bench] $name: CONFIRMED regressed on " +
                    s"a quiet box - ${r3(w)}s vs gate " +
                    s"${r3(prevGate.getOrElse(name, -1.0))}s")
                case _ =>
                  System.err.println(s"[bench] $name: RECOVERED on the quiet " +
                    s"re-measure (${r3(w)}s) - the loaded first pass was " +
                    "contention; clean wall recorded")
              }
            }
        }
      }
    }
    val regressedFinal: Seq[String] = regressedF.reverse
    val contendedFinal: Seq[String] = contendedF.reverse.distinct
    // re-measured (quiet) walls replace the loaded first-pass numbers
    val resultsF: Seq[(String, Double)] =
      results.map { case (k, v) => k -> remeasured.getOrElse(k, v) }
    val curF = resultsF.toMap
    val qs = resultsF.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = resultsF.map(_._2).filter(_ >= 0).sum
    val ratios = resultsF.collect {
      case (k, v) if v > 0 && prev.getOrElse(k, -1.0) > 0 =>
        k -> r3(v / prev(k))
    }

    // x10 scale-trend entries, per-row-normalized: x10/base time ratio
    // (ideal ≤ 10 at full parallelism; >10 means superlinear = bad).
    val scaleup = Seq("q02", "q27", "q37", "q49", "q64", "q150", "q217").flatMap { p =>
      val base = curF.collectFirst { case (k, v) if k.startsWith(p + "_") && !k.endsWith("_x10") && v > 0 => v }
      val x10 = curF.getOrElse(p + "_x10", -1.0)
      base.filter(_ => x10 > 0).map(b => p -> r3(x10 / b))
    }
    val cpuJson = resultsF.map { case (k, _) =>
      "\"" + k + "\":" + r3(cpuMap.getOrElse(k, -1.0)) }.mkString("{", ",", "}")
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
    // their re-measure window's pre-sample).
    // flat threshold on the pre-sample, deliberately NOT the
    // width-aware test: between back-to-back entries the 1-min EMA
    // carries the bench's OWN just-finished burst, so the width test
    // would read nearly every window loaded even on a quiet box and
    // freeze every gate forever
    val gateJson = resultsF.map { case (k, v) =>
      val loadedPre = entryLoadPre.getOrElse(k, -1.0) > loadThreshold
      val g = gateCarry(v, prevGate.getOrElse(k, -1.0),
        contendedFinal.contains(k) || regressedFinal.contains(k),
        loadedWindow = loadedPre)
      "\"" + k + "\":" + r3(g)
    }.mkString("{", ",", "}")
    // during-run witness sections: the kept window's probe median and
    // the fastest-known clean reference. gate_conc keeps the MIN of
    // history and a usable current sample — the machine's best
    // witnessed speed for this entry's window; a loaded round can
    // therefore never weaken next round's contention detection.
    val concJson = resultsF.map { case (k, _) =>
      "\"" + k + "\":" + r3(concMap.getOrElse(k, -1.0)) }.mkString("{", ",", "}")
    val gateConcJson = resultsF.map { case (k, _) =>
      val now = concMap.getOrElse(k, -1.0)
      val g = prevConcGate.getOrElse(k, -1.0)
      val kept = if (now > 0 && g > 0) math.min(now, g) else math.max(now, g)
      "\"" + k + "\":" + r3(kept)
    }.mkString("{", ",", "}")
    val ratioJson = ratios.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // Ratio against the gate reference that actually fires (prevGate,
    // i.e. the carried-forward clean baseline) — for an entry
    // contended two rounds running, prev_ratio vs the raw previous
    // wall reads ~1.0 while the gate trips vs the clean number; this
    // section is the evidence that matches the gate (ADVICE r9).
    val gateRatios = resultsF.collect {
      case (k, v) if v > 0 && prevGate.getOrElse(k, -1.0) > 0 =>
        k -> r3(v / prevGate(k))
    }
    val gateRatioJson = gateRatios.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val regJson = regressedFinal.map("\"" + _ + "\"").mkString("[", ",", "]")
    val contJson = contendedFinal.map("\"" + _ + "\"").mkString("[", ",", "]")
    val remeasuredJson = remeasured.map { case (k, v) =>
      "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val unconfirmedJson = unconfirmedQuiet.reverse
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val scaleJson = scaleup.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val loadJson = resultsF.map { case (k, _) =>
      "\"" + k + "\":" + r3(entryLoad.getOrElse(k, -1.0)) }.mkString("{", ",", "}")
    val loadPreJson = resultsF.map { case (k, _) =>
      "\"" + k + "\":" + r3(entryLoadPre.getOrElse(k, -1.0)) }.mkString("{", ",", "}")
    // round 14: the retry_probe / calib (probe_sec, speed_ratio)
    // sections are retired with the spinProbe machinery they recorded
    // — the during-run ConcProbe witness (conc_probe/gate_conc) is
    // the one speed mechanism. The settle evidence stays:
    val retryJson = s"""{"load_threshold":$loadThreshold,""" +
      s""""load_at_retry":${r3(loadAtRetry)}}"""
    if (contendedFinal.nonEmpty) {
      val ev = contendedFinal.map { k =>
        val v = curF.getOrElse(k, -1.0)
        val vsPrev = prev.get(k).filter(_ > 0).map(p => r3(v / p)).getOrElse(-1.0)
        val vsGate = prevGate.get(k).filter(_ > 0).map(p => r3(v / p)).getOrElse(-1.0)
        s"$k(vs_prev=$vsPrev, vs_gate=$vsGate, " +
          s"load=${r3(entryLoadPre.getOrElse(k, -1.0))}->${r3(entryLoad.getOrElse(k, -1.0))}, " +
          s"entry_loaded=${entryLoadHigh(k)}, conc_ratio=${r3(concRatio(k))}, " +
          s"conc_witness=${concQuiet(k)})"
      }
      System.err.println(
        s"[bench] wall-slow but not CPU/load-confirmed (likely external contention; " +
          s"could be an I/O-bound plan change - gate ratio named per entry): ${ev.mkString(", ")}")
    }
    if (regressedFinal.nonEmpty)
      System.err.println(
        s"[bench] REGRESSED >1.5x wall AND >1.3x witness-normalized CPU, " +
          s"re-confirmed on a POSITIVELY quiet final re-measure: " +
          regressedFinal.mkString(", "))
    val recallJson = Seq("lsh_top10", "ivfpq_top10", "denom")
      .map(m => "\"" + m + "\":" + recall.getOrElse(m, -1L)).mkString("{", ",", "}")
    val recallDriftJson = recallDrift.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""cpu_sec":$cpuJson,"gate_wall":$gateJson,""" +
      s""""conc_probe":$concJson,"gate_conc":$gateConcJson,"prev_ratio":$ratioJson,""" +
      s""""gate_ratio":$gateRatioJson,"entry_loadavg":$loadJson,""" +
      s""""entry_loadavg_pre":$loadPreJson,"retry":$retryJson,""" +
      s""""recall":$recallJson,"recall_drift":$recallDriftJson,""" +
      s""""ann_cache":"$annCacheStatus",""" +
      s""""regressed":$regJson,"contended":$contJson,""" +
      s""""remeasured":$remeasuredJson,"unconfirmed_quiet":$unconfirmedJson,""" +
      s""""smt_vetoed":${smtVetoed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""x10_scaleup":$scaleJson,""" +
      s""""loadavg_start":"$loadStart","loadavg_end":"${loadavg()}","sf":"$sfDir"}"""
    // The driver parses captured stdout, but sbt prefixes every line
    // with [info]/[error] noise (BENCH_r01.json came back parsed:null).
    // Write the same single JSON line to a stable file path too.
    println(json)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath), (json + "\n").getBytes("UTF-8"))
    spark.stop()
    // Triple-confirmed regression (two loaded-tolerant passes PLUS
    // the positively-quiet final re-measure): loud exit AFTER the
    // record is written, so the number ships with its evidence.
    if (regressedFinal.nonEmpty) sys.exit(1)
  }
}
