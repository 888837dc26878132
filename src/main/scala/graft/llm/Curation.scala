package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The curation-v14 chain as a REUSABLE operator — the q337 capstone
  * (URL gate → X-Robots → length → extraction-confidence → LangId →
  * quality → canonical-URL keep-first → content keep-first) factored
  * out of the query so it runs as EITHER one batch pass or a
  * Structured Streaming `foreachBatch` leg with the
  * [[graft.ops.Merge.applyChangesStream]] idempotency discipline
  * (r16 verdict item 7: the capstone was batch-only).
  *
  * Input schema: the [[graft.sources.Warc]] doc-text router's
  * columns plus `media_id` — (media_id, record_idx, url, carrier,
  * text, x_robots, type0_codes, type0_unmapped, canonical).
  *
  * Scale posture: the gate stage is per-record — pushed URL/length/
  * confidence predicates, the LangId/quality kernels, and a MAP-SIDE
  * label-boundary blocklist expression (no join, and exactly ONE
  * scan of the WARC router — the r17 suffix-explode semi-join
  * re-decoded every record a second time just to read `url`);
  * the ONLY cross-record state is the two keep-first keys
  * (canonical URL, text), which stream as bounded per-batch key
  * segments exactly like the incremental-dedup index
  * ([[Dedup.incrementalNearDupsStream]]). */
object Curation {

  /** The per-record gate stage — a PURE function of its input rows
    * (no cross-record state): URL gate (label-boundary domain
    * blocklist as a MAP-SIDE expression — `host = d OR
    * endsWith(host, '.' || d)` per blocked domain `d`; no join, and
    * critically no second scan of `pages`: the r17 suffix-explode
    * semi-join re-executed the whole WARC router just to read `url`,
    * doubling the pipeline's dominant decode cost — r17 verdict
    * item 1), X-Robots noindex, length, Type0 extraction-confidence
    * ratio, confident-foreign LangId drop, quality score; survivors
    * carry their canonical-URL dedup key (canonical link preferred —
    * the v13 consolidation).
    *
    * Host extraction runs on `lower(url)` so an upper/mixed-case
    * scheme or host (`HTTP://Sub.BAD.example/x`) cannot bypass the
    * blocklist (ADVICE r17), and blocklist entries fold to
    * lower-case for the same reason. The blocklist test is a plain
    * OR of string comparisons, not a `transform` over the host's
    * label suffixes: a higher-order function would take the whole
    * gate filter out of whole-stage codegen. It is a true suffix
    * test; the earlier `slice(labels, i, 100)` suffix window differed
    * from it only for hosts of more than 100 labels. */
  def v14Gates(pages: DataFrame, blockDomains: Seq[String]): DataFrame = {
    val withHost = pages.withColumn("host",
      regexp_extract(lower(col("url")), "^[a-z]+://([^/:]+)", 1))
    // label-boundary matching, never substring: the host IS a
    // blocked domain or ends in "." + one
    val host = col("host")
    val blocked = blockDomains.map(_.toLowerCase(java.util.Locale.ROOT))
      .distinct.map(d => host === d || host.endsWith("." + d))
      .reduceOption(_ || _).getOrElse(lit(false))
    val gated = withHost
      .where(!blocked)
      .where(!lower(col("url")).rlike("(xxx|casino|viagra)"))
      .where(!graft.functions.XRobotsTag.noindex(col("x_robots")))
      .where(length(col("text")) >= 20)
      .where(col("type0_unmapped") * 5 <= col("type0_codes"))
    LangId.withCrawlLang(gated, "text")
      .where(!(col("lang_total") >= 8 && col("pred_lang") =!= "en"))
      .where(graft.functions.TextFunctions.qualityScore(col("text")) >= 0.3)
      .withColumn("url_canon", graft.functions.CanonicalUrl(
        coalesce(col("canonical"), col("url"))))
      .select(col("media_id"), col("record_idx"), col("carrier"),
        col("url_canon"), col("text"))
  }

  private def keepFirstBy(rows: DataFrame, key: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col("media_id"), col("record_idx"))
    rows.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** One-shot v14: gates + canonical-URL keep-first + content
    * keep-first (the q337 shape — two WindowGroupLimit passes). */
  def v14Batch(pages: DataFrame, blockDomains: Seq[String]): DataFrame = {
    val gated = v14Gates(pages, blockDomains)
    keepFirstBy(keepFirstBy(gated, "url_canon"), "text")
      .select(col("media_id"), col("record_idx"), col("carrier"),
        col("url_canon").as("url"), col("text"))
  }

  /** Curation v15: v14 plus the PER-REGISTERED-DOMAIN dominance cap
    * (the FineWeb host-dominance rule): survivors key on eTLD+1 of
    * their canonical URL's host ([[graft.functions.RegisteredDomain]]
    * — the PSL algorithm, so every subdomain of a content farm
    * aggregates onto ONE key while `co.uk` itself never becomes
    * one), and each domain keeps its first `domainCap` survivors by
    * (media_id, record_idx). One more keyed WindowGroupLimit pass on
    * a LOWER-cardinality key than url_canon — no join, the PSL rules
    * are baked into the codegen'd expression. */
  def v15Batch(pages: DataFrame, blockDomains: Seq[String],
               domainCap: Int): DataFrame = {
    val kept = v14Batch(pages, blockDomains)
      .withColumn("domain", graft.functions.RegisteredDomain(
        regexp_extract(lower(col("url")), "^[a-z]+://([^/:]+)", 1)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(col("media_id"), col("record_idx"))
    kept.withColumn("domain_rank", row_number().over(w))
      .where(col("domain_rank") <= domainCap)
      .select(col("media_id"), col("record_idx"), col("carrier"),
        col("url"), col("domain"),
        col("domain_rank").cast("long").as("domain_rank"), col("text"))
  }

  /** Curation v16: v15 plus REDIRECT-AWARE URL identity. A crawl
    * stores page moves as 3xx captures; v15's keep-first keys on the
    * canonical FETCH URL, so content fetched at an old URL and its
    * new home counts as two identities. v16 resolves each survivor's
    * url_canon through the redirect graph
    * ([[graft.ops.Redirects.resolve]] over `redirects` = (src, dst)
    * canonicalized 3xx edges, e.g. [[graft.sources.Warc
    * .warcRedirects]]'s (CanonicalUrl(url), target)) and keeps first
    * by the LANDING identity. Discipline: only `terminal` resolutions
    * re-key (a chain cut by the hop bound — cycle or over-long — is
    * NOT an identity; such pages keep their fetch key and survive).
    *
    * Scale posture: ONE keyed left join of the gated pages against
    * the resolved edge map — edges are the crawl's 3xx fraction
    * (far smaller than pages), the join key is the canonical URL,
    * and the resolve itself is ~2·log₂(maxHops) pointer-doubled
    * keyed self-joins of the edge set alone (never touches page
    * rows). The dominance cap keys on the RESOLVED landing identity
    * too — a farm 301-ing throwaway fetch domains onto one landing
    * host counts against THAT host's quota (q356 pins it).
    * Everything else is v15's keyed WindowGroupLimit chain. */
  def v16Batch(pages: DataFrame, redirects: DataFrame,
               blockDomains: Seq[String], domainCap: Int): DataFrame =
    resolvedBatchBody(pages, redirects, blockDomains, domainCap,
      fold = c => c)

  /** Curation v17: v16 plus TRACKING-PARAMETER identity
    * ([[graft.functions.StripTrackingParams]]): the keep-first key,
    * the dominance-cap domain AND both redirect-edge endpoints fold
    * through `strip_tracking_params` after canonicalization, so the
    * same article referred via `utm_*`/`fbclid`/`gclid` variants —
    * or 301-moved with tracking params on either side of the
    * `Location` — is ONE identity. The fold applies to edges too:
    * a chain key must match whether the capture carried the params
    * or not. Same plan shape as v16 (the fold is one more map-side
    * codegen'd expression in the existing projections). */
  def v17Batch(pages: DataFrame, redirects: DataFrame,
               blockDomains: Seq[String], domainCap: Int): DataFrame =
    resolvedBatchBody(pages, redirects, blockDomains, domainCap,
      fold = graft.functions.StripTrackingParams.apply)

  /** The shared v16/v17 post-gate body: resolve the (already
    * canonicalized) edge graph, re-key TERMINAL resolutions onto
    * their landing identity, keep-first by URL then text, cap per
    * landing registered domain. `fold` maps a canonical URL to the
    * identity key (v16: identity; v17: strip_tracking_params) and
    * applies uniformly to page keys and BOTH edge endpoints so
    * chain joins stay aligned. */
  private def resolvedBatchBody(pages: DataFrame, redirects: DataFrame,
                                blockDomains: Seq[String], domainCap: Int,
                                fold: org.apache.spark.sql.Column =>
                                  org.apache.spark.sql.Column): DataFrame = {
    // cutLineage: the batch path runs resolve once per query, so the
    // jump levels materialize once instead of recomputing under each
    // broadcast build (2× on q353's resolve leg, r20-profiled); the
    // per-micro-batch streaming leg keeps the lazy default (its
    // checkpoint blocks would accumulate for the stream's life)
    val resolved = graft.ops.Redirects
      .resolve(redirects.select(fold(col("src")).as("src"),
        fold(col("dst")).as("dst")), "src", "dst", maxHops = 8,
        cutLineage = true)
      .where(col("terminal"))
      .select(col("src").as("url_canon"), col("final_url"))
    val gated = v14Gates(pages, blockDomains)
      .withColumn("url_canon", fold(col("url_canon")))
      .join(resolved, Seq("url_canon"), "left")
      .withColumn("url_canon",
        coalesce(col("final_url"), col("url_canon")))
      .drop("final_url")
    val kept = keepFirstBy(keepFirstBy(gated, "url_canon"), "text")
      .select(col("media_id"), col("record_idx"), col("carrier"),
        col("url_canon").as("url"), col("text"))
      .withColumn("domain", graft.functions.RegisteredDomain(
        regexp_extract(lower(col("url")), "^[a-z]+://([^/:]+)", 1)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain"))
      .orderBy(col("media_id"), col("record_idx"))
    kept.withColumn("domain_rank", row_number().over(w))
      .where(col("domain_rank") <= domainCap)
      .select(col("media_id"), col("record_idx"), col("carrier"),
        col("url"), col("domain"),
        col("domain_rank").cast("long").as("domain_rank"), col("text"))
  }

  /** The Structured Streaming leg. Each micro-batch `b`:
    *
    *  1. runs the per-record gate stage on the batch alone,
    *  2. anti-joins strictly-earlier URL keys (`keysDir/b0…b(b−1)`),
    *     keep-firsts within the batch on `url_canon`,
    *  3. anti-joins strictly-earlier TEXT keys, keep-firsts within
    *     the batch on `text`,
    *  4. writes survivors to `outDir/b<b>` and this batch's keys
    *     (every gate-passer's url_canon + every URL-survivor's text
    *     — the two sets the one-shot windows consult) to
    *     `keysDir/b<b>`, each mode-overwrite.
    *
    * Idempotency (the applyChangesStream discipline): each segment
    * is a pure function of (strictly-earlier segments, the replayed
    * batch) — at-least-once replay REWRITES `b<b>` instead of
    * double-appending, and a replayed batch never reads keys its
    * failed attempt may have written (only segments `< b`).
    *
    * Parity: when deliveries respect the batch order key
    * (media_id, record_idx) — micro-batch boundaries anywhere — the
    * union of `outDir/b*` equals [[v14Batch]] of the concatenated
    * input (spec-pinned in CurationStreamSpec). Out-of-order
    * delivery degrades keep-FIRST to keep-EARLIEST-ARRIVAL, the
    * honest streaming semantic. Pass a fresh `checkpointDir` per
    * lineage (batch ids must start at 0). */
  def v14Stream(pages: DataFrame, blockDomains: Seq[String],
                outDir: String, keysDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val gated = v14Gates(batch, blockDomains)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val (urlKept, survivors) =
            batchSurvivors(spark, gated, keysDir, batchId)
          survivors
            .select(col("media_id"), col("record_idx"), col("carrier"),
              col("url_canon").as("url"), col("text"))
            .write.mode("overwrite").parquet(s"$outDir/b$batchId")
          writeKeys(gated, urlKept, s"$keysDir/b$batchId")
        } finally { gated.unpersist(); () }
      }
      .start()
  }

  /** Strictly-earlier state segments `dir/b0 … b(upTo-1)`, resolved
    * through the Hadoop FileSystem API so HDFS/S3 state dirs work —
    * `java.io.File.exists` only sees the local filesystem, which
    * silently DISABLED cross-batch dedup and domain caps on any
    * non-local deployment (ADVICE r17). Every earlier batch commits
    * its segment before the checkpoint advances, so a missing one is
    * corrupt state: fail LOUDLY instead of quietly re-admitting
    * duplicates. */
  private def earlierSegments(spark: org.apache.spark.sql.SparkSession,
                              dir: String, upTo: Long): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    (0L until upTo).map { i =>
      val p = s"$dir/b$i"
      val path = new org.apache.hadoop.fs.Path(p)
      if (!path.getFileSystem(conf).exists(path))
        throw new IllegalStateException(
          s"curation stream state segment missing: $p (earlier batches " +
            "always commit their segment before the checkpoint advances " +
            "- state dir corrupted or wrong?)")
      p
    }
  }

  /** The shared per-batch keep-first body: anti-join strictly-earlier
    * URL keys, keep-first within the batch on url_canon, anti-join
    * earlier TEXT keys, keep-first on text. Returns (urlKept,
    * survivors). */
  private def batchSurvivors(spark: org.apache.spark.sql.SparkSession,
                             gated: DataFrame, keysDir: String,
                             batchId: Long): (DataFrame, DataFrame) = {
    import spark.implicits._
    val earlier = earlierSegments(spark, keysDir, batchId)
    val (priorUrl, priorText) =
      if (earlier.isEmpty)
        (Seq.empty[String].toDF("url_canon"), Seq.empty[String].toDF("text"))
      else {
        val k = spark.read.parquet(earlier: _*)
        (k.where(col("kind") === "url").select(col("key").as("url_canon")),
         k.where(col("kind") === "text").select(col("key").as("text")))
      }
    val urlKept = keepFirstBy(
      gated.join(priorUrl, Seq("url_canon"), "left_anti"), "url_canon")
    val survivors = keepFirstBy(
      urlKept.join(priorText, Seq("text"), "left_anti"), "text")
    (urlKept, survivors)
  }

  private def writeKeys(gated: DataFrame, urlKept: DataFrame,
                        segment: String): Unit =
    gated.select(lit("url").as("kind"), col("url_canon").as("key"))
      .distinct()
      .unionAll(urlKept.select(lit("text").as("kind"),
        col("text").as("key")).distinct())
      .write.mode("overwrite").parquet(segment)

  /** [[v15Batch]]'s streaming leg: v14's per-batch keep-first state
    * PLUS the per-registered-domain running count as one more
    * bounded cross-batch state segment. Each micro-batch ranks its
    * own survivors within each domain, offsets by the TOTAL
    * v14-survivor count of earlier batches for that domain (the
    * one-shot ROW_NUMBER restated as prior-count + in-batch rank —
    * counts persist UNCAPPED, because a row past the cap still
    * consumes rank positions every later row in its domain sits
    * above), and keeps ranks ≤ `domainCap`. Same idempotency
    * discipline: `countsDir/b<b>` is a pure function of the replayed
    * batch, and only segments `< b` are read. Parity with
    * [[v15Batch]] under in-order delivery is spec-pinned. */
  def v15Stream(pages: DataFrame, blockDomains: Seq[String], domainCap: Int,
                outDir: String, keysDir: String, countsDir: String,
                checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    pages.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val gated = v14Gates(batch, blockDomains)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try cappedBatchBody(spark, gated, batchId, domainCap,
          outDir, keysDir, countsDir)
        finally { gated.unpersist(); () }
      }
      .start()
  }

  /** The shared v15/v16 per-batch body AFTER the gate stage: the two
    * cross-batch keep-firsts, the null-safe per-domain running cap,
    * and the three idempotent segment writes. `gated` must carry the
    * batch's keep-first key in `url_canon` (v16 passes the
    * redirect-RESOLVED key). */
  private def cappedBatchBody(spark: org.apache.spark.sql.SparkSession,
                              gated: DataFrame, batchId: Long,
                              domainCap: Int, outDir: String,
                              keysDir: String, countsDir: String): Unit = {
    import spark.implicits._
    val (urlKept, survivors0) = batchSurvivors(spark, gated, keysDir, batchId)
    // NULL-SAFE domain key (ADVICE r17): NULL domains (IP-literal
    // hosts, hosts that ARE public suffixes) form ONE capped group in
    // v15Batch's window, but a null join key never matches - each
    // micro-batch would independently re-cap the null group at
    // domainCap, breaking the spec-pinned batch parity. The window,
    // the counts join AND the persisted counts all key on a
    // sentinel-coalesced `__dkey` (' ' can never be a registered
    // domain); the OUTPUT `domain` column stays honestly NULL.
    val nullKey = " "
    val withDomain = survivors0.withColumn("domain",
        graft.functions.RegisteredDomain(
          regexp_extract(col("url_canon"), "^[a-z]+://([^/:]+)", 1)))
      .withColumn("__dkey", coalesce(col("domain"), lit(nullKey)))
    val earlier = earlierSegments(spark, countsDir, batchId)
    val prior =
      if (earlier.isEmpty) Seq.empty[(String, Long)].toDF("__dkey", "n")
      else spark.read.parquet(earlier: _*)
        .groupBy("__dkey").agg(sum("n").as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__dkey"))
      .orderBy(col("media_id"), col("record_idx"))
    val ranked = withDomain
      .withColumn("__r", row_number().over(w))
      .join(broadcast(prior), Seq("__dkey"), "left")
      .withColumn("domain_rank",
        (col("__r") + coalesce(col("n"), lit(0L))).cast("long"))
    ranked.where(col("domain_rank") <= domainCap)
      .select(col("media_id"), col("record_idx"), col("carrier"),
        col("url_canon").as("url"), col("domain"), col("domain_rank"),
        col("text"))
      .write.mode("overwrite").parquet(s"$outDir/b$batchId")
    writeKeys(gated, urlKept, s"$keysDir/b$batchId")
    // UNCAPPED per-domain survivor counts - this batch's alone
    withDomain.groupBy("__dkey").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$countsDir/b$batchId")
  }

  /** [[v16Batch]]'s streaming leg: the input stream carries BOTH row
    * kinds ([[graft.sources.Warc.warcDocRows]]'s kind-discriminated
    * schema). Each micro-batch writes its own 3xx edges to
    * `edgesDir/b<b>` (a pure function of the batch - replay
    * rewrites), resolves the gate survivors' keys against ALL edges
    * seen so far (segments <= b, the batch's own included), and runs
    * the shared v15 keep-first/cap body on the RESOLVED key.
    *
    * Honest streaming semantic: identity resolution uses the edges
    * KNOWN AT ARRIVAL TIME - an edge arriving after its page does not
    * retro-rekey already-emitted survivors (no retraction under
    * at-least-once replay). Parity with [[v16Batch]] of the
    * concatenation holds when every page's edges arrive in its own
    * batch or earlier (spec-pinned); a crawl that interleaves 3xx
    * records with their targets satisfies this naturally. */
  def v16Stream(rows: DataFrame, blockDomains: Seq[String], domainCap: Int,
                outDir: String, keysDir: String, countsDir: String,
                edgesDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    resolvedStream(rows, blockDomains, domainCap, outDir, keysDir,
      countsDir, edgesDir, checkpointDir, fold = c => c)

  /** [[v17Batch]]'s streaming leg — v16's with the
    * strip-tracking-params identity fold on page keys and both edge
    * endpoints (persisted edge segments store the FOLDED form, so
    * cross-batch resolution keys align). Same idempotency and parity
    * discipline. */
  def v17Stream(rows: DataFrame, blockDomains: Seq[String], domainCap: Int,
                outDir: String, keysDir: String, countsDir: String,
                edgesDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    resolvedStream(rows, blockDomains, domainCap, outDir, keysDir,
      countsDir, edgesDir, checkpointDir,
      fold = graft.functions.StripTrackingParams.apply)

  private def resolvedStream(rows: DataFrame, blockDomains: Seq[String],
                             domainCap: Int, outDir: String,
                             keysDir: String, countsDir: String,
                             edgesDir: String, checkpointDir: String,
                             fold: org.apache.spark.sql.Column =>
                               org.apache.spark.sql.Column)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // persist the BATCH: the edges write and the gate stage are
        // two actions over it, and a WARC-backed source would decode
        // every container twice without the pin (decode-once
        // discipline, same as the batch query's warcDocRows diamond)
        val b0 = batch.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val pages = b0.where(col("kind") === "page")
          .drop("kind", "status", "target")
        b0.where(col("kind") === "redirect")
          .select(fold(graft.functions.CanonicalUrl(col("url"))).as("src"),
            fold(col("target")).as("dst"))
          .write.mode("overwrite").parquet(s"$edgesDir/b$batchId")
        val edgeSegs =
          earlierSegments(spark, edgesDir, batchId) :+ s"$edgesDir/b$batchId"
        val resolved = graft.ops.Redirects
          .resolve(spark.read.parquet(edgeSegs: _*), "src", "dst", maxHops = 8)
          .where(col("terminal"))
          .select(col("src").as("url_canon"), col("final_url"))
        val gated = v14Gates(pages, blockDomains)
          .withColumn("url_canon", fold(col("url_canon")))
          .join(resolved, Seq("url_canon"), "left")
          .withColumn("url_canon",
            coalesce(col("final_url"), col("url_canon")))
          .drop("final_url")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try cappedBatchBody(spark, gated, batchId, domainCap,
          outDir, keysDir, countsDir)
        finally { gated.unpersist(); b0.unpersist(); () }
      }
      .start()
  }
}
