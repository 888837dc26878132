package graft.cli

import org.apache.spark.sql.functions._
import graft.core.Engine
import graft.jobs.{Jobs, TeraSort}
import graft.ops.{Compaction, KeyFieldSort, Pipe}
import graft.sources.CompatSources

/** `Tool`/`ToolRunner`-style CLI (reference:
  * hadoop-common/.../util/ToolRunner.java:46,
  * GenericOptionsParser.java:121): `graft <job> [-Dk=v ...] args…`.
  *
  * Verbs mirror the reference's example drivers and streaming CLI:
  *
  *   wordcount <in.parquet> <textCol> <out>
  *   grep <in.parquet> <textCol> <pattern> <out>
  *   sort <in.text> <-k spec> <out>            (sort(1)-style key fields)
  *   pipe <in.parquet> <cmd...> -- <out>       (Hadoop Streaming)
  *   terasort <rows>                           (gen → sort → validate)
  *   compact <in.parquet-dir> <out>            (HAR-style small-file packing)
  *   copy <src-parquet> <dst>                  (DistCp-shaped rewrite copy)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val (confs, rest) = args.partition(_.startsWith("-D"))
    val spark = Engine.session("graft-cli")
    confs.map(_.stripPrefix("-D").split("=", 2)).foreach {
      case Array(k, v) => spark.conf.set(k, v)
      case other => sys.error(s"bad -D option: ${other.mkString("=")}")
    }
    try run(spark, rest.toList)
    finally spark.stop()
  }

  private def run(spark: org.apache.spark.sql.SparkSession, args: List[String]): Unit =
    args match {
      case "wordcount" :: in :: textCol :: out :: Nil =>
        Jobs.wordCount(spark.read.parquet(in), col(textCol))
          .write.mode("overwrite").parquet(out)

      case "grep" :: in :: textCol :: pattern :: out :: Nil =>
        Jobs.grep(spark.read.parquet(in), col(textCol), pattern)
          .write.mode("overwrite").parquet(out)

      case "sort" :: in :: spec :: out :: Nil =>
        KeyFieldSort.sorted(spark.read.text(in).toDF("line"), "line", spec)
          .write.mode("overwrite").text(out)

      // Hadoop Streaming CLI surface (StreamJob.java): map-side by
      // default; -reduce <keyCol> is the -reducer contract (co-locate +
      // sort so each key group arrives contiguous on the child's
      // stdin); -io typedbytes switches the framing to the binary
      // typed-bytes wire format (-schema <ddl> declares the child's
      // output shape; defaults to the input schema, the `cat` case).
      case "pipe" :: tail =>
        var reduceKey: Option[String] = None
        var io = "text"
        var schemaDdl: Option[String] = None
        var restArgs = tail
        var parsing = true
        while (parsing) restArgs match {
          case "-reduce" :: k :: t => reduceKey = Some(k); restArgs = t
          case "-io" :: fmt :: t => io = fmt; restArgs = t
          case "-schema" :: ddl :: t => schemaDdl = Some(ddl); restArgs = t
          case f :: _ if f.startsWith("-") =>
            System.err.println(s"pipe: unknown flag $f"); usage(); parsing = false
          case _ => parsing = false
        }
        val (cmdPart, outPart) = restArgs.span(_ != "--")
        (cmdPart, outPart.drop(1)) match {
          case (in :: c, out :: Nil) if c.nonEmpty =>
            val df = spark.read.parquet(in)
            io match {
              case "text" =>
                val piped = reduceKey match {
                  case Some(k) => Pipe.pipeReduce(df, c, Seq(k))
                  case None => Pipe.pipeMap(df, c)
                }
                piped.write.mode("overwrite").text(out)
              case "typedbytes" =>
                val schema = schemaDdl
                  .map(org.apache.spark.sql.types.StructType.fromDDL)
                  .getOrElse(df.schema)
                // reduce-side arrangement composes with the binary framing
                val arranged = reduceKey.fold(df)(k =>
                  df.repartition(col(k)).sortWithinPartitions(col(k)))
                Pipe.pipeTypedBytes(arranged, c, schema)
                  .write.mode("overwrite").parquet(out)
              case "rawbytes" =>
                // first two columns cross as length-prefixed raw bytes
                // (RawBytesInputWriter framing); output is binary
                // key/value — the binary-mapper contract
                val arranged = reduceKey.fold(df)(k =>
                  df.repartition(col(k)).sortWithinPartitions(col(k)))
                Pipe.pipeRawBytes(arranged, c)
                  .write.mode("overwrite").parquet(out)
              case other =>
                sys.error(s"pipe: unknown -io format '$other' (text|typedbytes|rawbytes)")
            }
          case _ => usage()
        }

      case "terasort" :: rows :: Nil =>
        val sec = TeraSort.run(spark, rows.toLong)
        println(f"terasort ${rows.toLong} rows: $sec%.2f s (validated)")

      case "compact" :: in :: out :: Nil =>
        val n = Compaction.compactParquet(spark, in, out)
        println(s"compacted $in -> $out ($n files)")

      // hadoop archive: pack a tree into a har:// readable archive.
      // -distributed lists the tree from executors (≥10M-entry trees
      // whose listing would not fit the driver — SCALE.md trade-off 4)
      case "archive" :: tail if tail.nonEmpty =>
        val dist = tail.contains("-distributed")
        tail.filter(_.startsWith("-")).filterNot(_ == "-distributed") match {
          case bad if bad.nonEmpty =>
            sys.error(s"archive: unknown flag(s) ${bad.mkString(" ")}")
          case _ => ()
        }
        tail.filterNot(_.startsWith("-")) match {
          case src :: dst :: Nil =>
            val r = graft.ops.Har.archive(spark, src, dst, distributedListing = dist)
            println(s"archived ${r.files} files (${r.bytes} bytes) + ${r.dirs} dirs " +
              s"into ${r.parts} parts at $dst (readable via har:// URIs)")
          case other => sys.error(s"archive: expected <src-tree> <dst.har>, got $other")
        }

      // DistCp: listing-based copy of an arbitrary file tree. -update
      // skips destination files that already match by size; -diff runs
      // the incremental sync (copy changed, DELETE removed); -bandwidth
      // caps each task's read rate in MB/s
      // (TOOLS/hadoop-distcp/.../SimpleCopyListing.java, CopyMapper.java,
      // DistCpSync.java, util/ThrottledInputStream.java).
      case "copy" :: tail =>
        var (update, diff, bw, crc, pres) = (false, false, 0.0, false, false)
        val paths = scala.collection.mutable.ListBuffer.empty[String]
        var restArgs = tail
        while (restArgs.nonEmpty) restArgs = restArgs match {
          case "-update" :: t => update = true; t
          case "-diff" :: t => diff = true; t
          case "-bandwidth" :: v :: t => bw = v.toDouble; t
          case "-p" :: t => pres = true; t
          // content-verify size-matched files on -update (the
          // reference's CRC check; off by default here because it
          // reads every matched pair on stores without native sums)
          case "-checksum" :: t => crc = true; t
          // unknown flags must be LOUD: a typo'd "-updtae" (or GNU-style
          // "--update") silently degrading to a full recopy is the
          // opposite of what the operator asked for
          case f :: _ if f.startsWith("-") =>
            System.err.println(s"copy: unknown flag $f"); usage(); Nil
          case p :: t => paths += p; t
          case Nil => Nil
        }
        paths.toList match {
          case src :: dst :: Nil if diff =>
            // -diff subsumes -update; -checksum and -p apply to the
            // sync exactly as they do to copy (no silently dropped
            // flags — the LOUD-flags contract above)
            val r = graft.ops.DistCp.sync(spark, src, dst, bandwidthMB = bw,
              checksum = crc, preserve = pres)
            println(s"synced $src -> $dst: copied ${r.copied} (${r.bytes} bytes), " +
              s"deleted ${r.deleted}, skipped ${r.skipped}")
          case src :: dst :: Nil =>
            val r = graft.ops.DistCp.copy(spark, src, dst,
              update = update, bandwidthMB = bw, checksum = crc, preserve = pres)
            println(s"copied ${r.copied} files (${r.bytes} bytes), skipped ${r.skipped}: $src -> $dst")
          case _ => usage()
        }

      // DistCh: parallel chmod over a tree (owner/group via ops.DistCh API)
      case "chmod" :: mode :: root :: Nil =>
        val r = graft.ops.DistCh.change(spark, root, perm = Some(mode))
        println(s"changed ${r.changed} paths under $root")

      // Train/val/test split: "train=0.98,val=0.01,test=0.01" spec;
      // output partitioned by split label so each lands in its own dir
      case "split" :: in :: idCol :: spec :: out :: Nil =>
        val weights = spec.split(',').toSeq.map { part =>
          part.split('=') match {
            case Array(name, w) => name -> w.toDouble
            case _ => sys.error(s"split: bad weight spec '$part' (want name=weight)")
          }
        }
        graft.ops.Sampling.hashSplit(spark.read.parquet(in), col(idCol), weights)
          .write.mode("overwrite").partitionBy("split").parquet(out)
        println(s"split $in by $idCol into ${weights.map(_._1).mkString("/")} under $out")

      // The old parquet-rewrite copy (recompress/recodec while copying)
      case "rewrite" :: src :: dst :: Nil =>
        spark.read.parquet(src).write.mode("overwrite").parquet(dst)
        println(s"rewrote $src -> $dst")

      case "kvtext" :: in :: out :: Nil =>
        CompatSources.kvText(spark, in).write.mode("overwrite").parquet(out)

      case "dedup" :: in :: textCol :: idCol :: threshold :: out :: Nil =>
        graft.llm.Dedup.minHashCandidates(
            spark.read.parquet(in), idCol, textCol, 3, threshold.toDouble)
          .write.mode("overwrite").parquet(out)

      // pair list (id1,id2 columns) → (id, comp_id) duplicate groups
      case "resolve" :: in :: out :: Nil =>
        graft.llm.Dedup.components(spark.read.parquet(in))
          .write.mode("overwrite").parquet(out)

      // quality signals: per-doc repetition stats + scores for filtering
      case "signals" :: in :: idCol :: textCol :: out :: Nil =>
        graft.llm.Repetition.signals(spark.read.parquet(in), idCol, textCol)
          .write.mode("overwrite").parquet(out)

      // token-window chunking: "32+8" = 32-token windows, 8 overlap
      case "chunk" :: in :: idCol :: textCol :: spec :: out :: Nil =>
        val (maxTok, overlap) = spec.split('+') match {
          case Array(m) => (m.toInt, 0)
          case Array(m, o) => (m.toInt, o.toInt)
          case _ => sys.error(s"chunk: bad window spec '$spec' (want max or max+overlap)")
        }
        graft.llm.Chunking.chunkTokens(spark.read.parquet(in), idCol, textCol, maxTok, overlap)
          .write.mode("overwrite").parquet(out)

      // token-budget packing: append pack_id walking idCol order
      case "pack" :: in :: idCol :: tokCol :: budget :: out :: Nil =>
        graft.llm.Packing.packSequences(spark.read.parquet(in), idCol, tokCol, budget.toLong)
          .write.mode("overwrite").parquet(out)

      // cross-document boilerplate line scrub (RefinedWeb/C4 shape):
      // lines in more than maxDf distinct docs removed everywhere
      case "scrub" :: in :: idCol :: textCol :: maxDf :: out :: Nil =>
        graft.llm.Dedup.lineDedup(spark.read.parquet(in), idCol, textCol, maxDf.toLong)
          .write.mode("overwrite").parquet(out)

      // persist the MinHash sketch index once per corpus increment…
      case "sketchindex" :: in :: idCol :: textCol :: n :: out :: Nil =>
        graft.llm.Dedup.writeSketchIndex(
          spark.read.parquet(in), idCol, textCol, n.toInt, out)
        println(s"sketch index for $in written to $out")

      // …then dedup each NEW batch against it without re-reading
      // history; <ngram> must match the index (validated against its
      // stored shingle_n — mismatched sketches join into garbage)
      case "dedup-inc" :: in :: index :: idCol :: textCol :: n :: threshold :: out :: Nil =>
        graft.llm.Dedup.incrementalNearDups(
            spark.read.parquet(in), index, idCol, textCol, n.toInt, threshold.toDouble)
          .write.mode("overwrite").parquet(out)

      // train/eval decontamination: n-gram overlap flags per train doc
      case "decon" :: train :: eval0 :: idCol :: textCol :: n :: out :: Nil =>
        graft.llm.Decontamination.overlapFlags(
            spark.read.parquet(train), spark.read.parquet(eval0),
            idCol, textCol, n.toInt)
          .write.mode("overwrite").parquet(out)

      // same, with the rare-overlap Bloom prefilter in the train scan
      case "decon-bloom" :: train :: eval0 :: idCol :: textCol :: n :: out :: Nil =>
        graft.llm.Decontamination.overlapFlagsBloom(
            spark.read.parquet(train), spark.read.parquet(eval0),
            idCol, textCol, n.toInt)
          .write.mode("overwrite").parquet(out)

      // one deterministic Lloyd assignment step: refine a labeled
      // embedding table toward its centroids (id, old label, assigned)
      case "kmeans-step" :: in :: idCol :: vecCol :: labelCol :: dim :: out :: Nil =>
        graft.llm.Clustering.lloydStep(
            spark.read.parquet(in), idCol, vecCol, labelCol, dim.toInt)
          .write.mode("overwrite").parquet(out)

      // full k-means to an exact integer fixed point (hash-seeded,
      // codebook-scale k): writes (id, cluster), reports rounds
      case "kmeans" :: in :: idCol :: vecCol :: k :: maxIter :: dim :: out :: Nil =>
        val r = graft.llm.Clustering.lloyd(spark.read.parquet(in),
          idCol, vecCol, k.toInt, maxIter.toInt, dim.toInt)
        r.assign.write.mode("overwrite").parquet(out)
        r.release()
        System.err.println(s"[kmeans] rounds=${r.rounds} converged=${r.converged}")

      // count-min sketch of a key column: d*w cells, mergeable across
      // shards by cellwise sum (build once per increment, union later)
      case "cmsketch" :: in :: keyCol :: d0 :: w0 :: out :: Nil =>
        graft.ops.CountMin.sketch(
            spark.read.parquet(in), keyCol, d0.toInt, w0.toInt)
          .write.mode("overwrite").parquet(out)

      // temperature-balanced (α=1/2) stratified sample of ~target rows
      case "tempsample" :: in :: strataCol :: idCol :: target :: out :: Nil =>
        graft.ops.Sampling.temperatureSample(
            spark.read.parquet(in), strataCol, col(idCol), target.toLong)
          .write.mode("overwrite").parquet(out)

      // deterministic global shuffle + round-robin shard assignment;
      // the output is partitioned BY shard so each shard is its own
      // file set, ready to feed a loader
      case "shard" :: in :: idCol :: nShards :: out :: Nil =>
        graft.llm.Shuffling.shard(spark.read.parquet(in), idCol, nShards.toInt)
          .write.mode("overwrite").partitionBy("shard").parquet(out)

      // data-mixture epoch plan: "src0=5,src1=3" relative weights
      case "mix" :: in :: srcCol :: spec :: target :: out :: Nil =>
        val weights = spec.split(',').filter(_.nonEmpty).map { kv =>
          kv.split('=') match {
            case Array(k, v) => k -> v.toLong
            case _ => sys.error(s"mix: bad weight '$kv' (want source=weight)")
          }
        }.toMap
        graft.llm.Mixing.epochPlan(spark.read.parquet(in), srcCol, weights, target.toLong)
          .write.mode("overwrite").parquet(out)

      // corpus unigram rarity quality signal per document
      case "rarity" :: in :: idCol :: textCol :: out :: Nil =>
        graft.llm.UnigramLM.raritySignals(spark.read.parquet(in), idCol, textCol)
          .write.mode("overwrite").parquet(out)

      // learn BPE merges over the corpus word-frequency table; the
      // output parquet is the ordered merge list (rank, a, b, freq)
      case "bpe-train" :: in :: textCol :: nMerges :: out :: Nil =>
        val words = spark.read.parquet(in)
          .select(explode(split(lower(col(textCol)), " ")).as("w"))
          .where(col("w") =!= "")
          .groupBy("w").agg(count(lit(1)).as("c"))
        val merges = graft.llm.BpeTrainer.learnMerges(words, "w", "c", nMerges.toInt)
        import spark.implicits._
        merges.zipWithIndex
          .map { case (m, i) => (i.toLong, m.a, m.b, m.freq) }
          .toDF("rank", "a", "b", "freq")
          .coalesce(1).write.mode("overwrite").parquet(out)

      // unigram-LM tokenizer trainer to a usage fixed point
      // (hard-EM + vocab-size schedule — graft.llm.Unigram.train)
      case "unigram-train" :: in :: textCol :: targetMulti :: maxRounds :: out :: Nil =>
        val words = spark.read.parquet(in)
          .select(explode(split(lower(col(textCol)), " ")).as("w"))
          .where(col("w") =!= "" && length(col("w")).between(2, 12))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val r = graft.llm.Unigram.train(words, "w", "c",
          targetMulti = targetMulti.toInt, maxRounds = maxRounds.toInt)
        System.err.println(
          s"[unigram-train] rounds=${r.rounds} converged=${r.converged} " +
            s"vocab=${r.vocab.size}")
        import spark.implicits._
        r.vocab.toDF("piece", "weight")
          .coalesce(1).write.mode("overwrite").parquet(out)

      // Streaming aggregation as a batch-bounded job: AvailableNow
      // processes everything currently in `in` through the streaming
      // engine (state, watermark, checkpoint) and terminates. Windows
      // still open at end-of-input are withheld by the watermark and
      // emit on the NEXT run over the same checkpoint — the
      // incremental/backfill form of the continuous pipeline.
      // deterministic weighted exactly-N sample (Efraimidis-Spirakis,
      // md5-derived uniforms — replayable, no RNG)
      case "wsample" :: in :: idCol :: wCol :: n :: out :: Nil =>
        graft.ops.Sampling.weightedSample(spark.read.parquet(in),
            col(idCol), wCol, n.toInt)
          .write.mode("overwrite").parquet(out)

      // single-pass column profile of any parquet table
      case "profile" :: in :: out :: Nil =>
        graft.ops.Profiler.profile(spark.read.parquet(in))
          .coalesce(1).write.mode("overwrite").parquet(out)

      // hashed-feature linear quality score per row (map-only;
      // synthetic oracle-pinned weights — swap in llm.HashedClassifier
      // for a trained table)
      case "quality" :: in :: idCol :: textCol :: out :: Nil =>
        graft.llm.HashedClassifier.score(spark.read.parquet(in), idCol, textCol)
          .write.mode("overwrite").parquet(out)

      // mergeable log2-binned quantile bounds per key: valueExpr is a
      // SQL expression producing a positive integer (e.g. cents)
      case "quantiles" :: in :: keyCol :: valueExpr :: qs :: out :: Nil =>
        val hist = graft.ops.QuantileSketch.histogram(
          spark.read.parquet(in), keyCol, expr(valueExpr))
        graft.ops.QuantileSketch.quantiles(hist, keyCol,
            qs.split(',').toIndexedSeq.map(_.trim.toInt))
          .coalesce(1).write.mode("overwrite").parquet(out)

      // exact prefix-filtered set-similarity dedup pairs (PPJoin
      // principle): threshold is a rational num/den so every keep
      // decision is integer arithmetic
      case "setsim" :: in :: idCol :: textCol :: num :: den :: out :: Nil =>
        graft.llm.SetSimJoin.jaccardPairs(spark.read.parquet(in),
            idCol, textCol, num.toInt, den.toInt)
          .write.mode("overwrite").parquet(out)

      // single-source BFS over an edge parquet (srcCol, dstCol)
      case "bfs" :: in :: srcCol :: dstCol :: source :: maxDepth :: out :: Nil =>
        graft.ops.Bfs.run(spark.read.parquet(in), srcCol, dstCol,
            source.toLong, maxDepth.toInt)
          .write.mode("overwrite").parquet(out)

      // dedup keep-list: near-dup components resolved to a canonical
      // representative per document (q148 shape)
      case "dedup-keep" :: in :: idCol :: textCol :: n :: threshold :: out :: Nil =>
        val d = spark.read.parquet(in)
        val comps = graft.llm.Dedup.components(
          graft.llm.Dedup.minHashVerifiedPairs(d, idCol, textCol,
            n.toInt, threshold.toDouble))
        d.select(col(idCol))
          .join(comps.select(col("id").as(idCol), col("comp_id")),
            Seq(idCol), "left")
          .select(col(idCol),
            coalesce(col("comp_id"), col(idCol)).as("rep_id"),
            when(coalesce(col("comp_id"), col(idCol)) =!= col(idCol), 1)
              .otherwise(0).as("is_dup"))
          .write.mode("overwrite").parquet(out)

      // tokenize with a trained merge table (bpe-train's output
      // parquet: rank, a, b, freq) via the single-pass native matcher
      case "bpe-tokenize" :: in :: idCol :: textCol :: mergesIn :: out :: Nil =>
        val merges = spark.read.parquet(mergesIn)
          .orderBy("rank").collect()
          .map(r => graft.llm.BpeTrainer.Merge(
            r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[Long]("freq")))
          .toIndexedSeq
        spark.read.parquet(in).select(col(idCol),
            explode(split(lower(col(textCol)), " ")).as("w"))
          .where(col("w") =!= "")
          .select(col(idCol), col("w"),
            graft.llm.BpeTrainer.segmentFast(col("w"), merges).as("tokens"))
          .write.mode("overwrite").parquet(out)

      // exact duplicated-substring extents / surgical scrub (Lee et
      // al. 2022 — the q217/q218 primitives)
      case "substring-dups" :: in :: idCol :: textCol :: minRun :: out :: Nil =>
        graft.llm.ExactSubstring.duplicatedExtents(
            spark.read.parquet(in), idCol, textCol, minRun.toInt)
          .write.mode("overwrite").parquet(out)
      case "substring-scrub" :: in :: idCol :: textCol :: minRun :: out :: Nil =>
        graft.llm.ExactSubstring.scrubText(
            spark.read.parquet(in), idCol, textCol, minRun.toInt)
          .write.mode("overwrite").parquet(out)

      // curation v5: substring-scrub -> drop empty -> chunk -> pack,
      // one run (the q232 composition); out gets chunks/ and packs/
      case "curate-v5" :: in :: idCol :: textCol :: minRun :: chunkSpec :: budget :: out :: Nil =>
        val (maxTok, overlap) = chunkSpec.split('+') match {
          case Array(m) => (m.toInt, 0)
          case Array(m, o) => (m.toInt, o.toInt)
          case _ => usage(); (0, 0)
        }
        val scrubbed = graft.llm.ExactSubstring.scrubText(
            spark.read.parquet(in), idCol, textCol, minRun.toInt)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val alive = scrubbed.where(col("n_kept") > 0)
        graft.llm.Chunking.chunkTokens(alive, "doc_id", "text", maxTok, overlap)
          .write.mode("overwrite").parquet(s"$out/chunks")
        graft.llm.Packing.packSequences(
            alive.select(col("doc_id"), col("n_kept").as("n_tok")),
            "doc_id", "n_tok", budget.toLong)
          .write.mode("overwrite").parquet(s"$out/packs")
        scrubbed.unpersist()

      // decoded media stats over (idCol, payloadCol) binary tables —
      // the codec-free real tiers (WAV/PCM audio, 24bpp BMP images)
      case "pcm-stats" :: in :: idCol :: payloadCol :: out :: Nil =>
        graft.sources.Multimodal.describePcm(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "audio"))
          .write.mode("overwrite").parquet(out)
      case "bmp-stats" :: in :: idCol :: payloadCol :: out :: Nil =>
        graft.sources.Multimodal.describeBmp(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "image"))
          .write.mode("overwrite").parquet(out)
      case "png-stats" :: in :: idCol :: payloadCol :: out :: Nil =>
        graft.sources.Multimodal.describePng(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "image"))
          .write.mode("overwrite").parquet(out)
      case "media-inspect" :: in :: idCol :: payloadCol :: out :: Nil =>
        // the mixed-column entry point: sniff + route to every real
        // decoder (PNG/JPEG/GIF/BMP/TIFF/ICO/WAV/AU/AIFF)
        graft.sources.Multimodal.inspectMedia(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "mixed"))
          .write.mode("overwrite").parquet(out)

      case "video-inspect" :: in :: idCol :: payloadCol :: out :: Nil =>
        // the video sibling: MP4 per-track metadata (first vide
        // track) / AVI main header, nulls for everything else
        graft.sources.Multimodal.describeVideo(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "video"))
          .write.mode("overwrite").parquet(out)

      case "warc" :: in :: idCol :: payloadCol :: out :: Nil =>
        // WARC record listing (plain or gzipped, Common-Crawl style)
        graft.sources.Warc.describeWarc(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "warc"))
          .write.mode("overwrite").parquet(out)

      case "warc-text" :: in :: idCol :: payloadCol :: out :: Nil =>
        // the Common-Crawl pass: 2xx text/html responses -> clean
        // text; fence drops print LOUD (a corrupt or non-WARC
        // container must never vanish silently)
        val (df, obs) = graft.sources.Warc.warcHtmlTextObserved(
          graft.sources.Multimodal.asMedia(
            spark.read.parquet(in), idCol, payloadCol, "warc"))
        df.write.mode("overwrite").parquet(out)
        printWarcFences("warc-text", obs)

      case "warc-paths" :: in :: out :: Nil =>
        // split-streaming record listing over FILES (one task per
        // path, per-record bounded memory — the multi-GB-WARC door);
        // <in> is a single file or a directory of *.warc / *.warc.gz
        val (ldf, lobs) =
          graft.sources.Warc.describeWarcPathsObserved(spark, warcPathList(in))
        ldf.write.mode("overwrite").parquet(out)
        printWarcFences("warc-paths", lobs)

      case "warc-paths-text" :: in :: out :: Nil =>
        val (tdf, tobs) =
          graft.sources.Warc.warcPathsHtmlTextObserved(spark, warcPathList(in))
        tdf.write.mode("overwrite").parquet(out)
        printWarcFences("warc-paths-text", tobs)

      case "warc2wet" :: in :: out :: Nil =>
        // the WET-generation workload (Common Crawl's WARC → extracted
        // conversion) as one verb: the streaming multi-carrier router
        // over FILES — every routed carrier (html/pdf/office/feed/…),
        // wire-form bodies decoded, per-record bounded memory — to
        // a (path, record_idx, url, carrier, encoding, text) table
        val (wdf, wobs) =
          graft.sources.Warc.warcPathsDocTextObserved(spark, warcPathList(in))
        wdf.select("path", "record_idx", "url", "carrier", "encoding", "text")
          .write.mode("overwrite").parquet(out)
        printWarcFences("warc2wet", wobs)

      case "warc-redirects" :: in :: idCol :: payloadCol :: out :: rest
          if rest.size <= 1 =>
        // the redirect-identity workload as one verb: 3xx + Location
        // edges (body-free walk) resolved through bounded keyed
        // self-joins to (src, final_url, hops, terminal) — the map a
        // dedup or quota stage joins to key on landing identities
        val maxHops = rest.headOption.map(_.toInt).getOrElse(8)
        val edges = graft.sources.Warc.warcRedirects(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "warc"))
          .select(graft.functions.CanonicalUrl(col("url")).as("src"),
            col("target").as("dst"))
        graft.ops.Redirects.resolve(edges, "src", "dst", maxHops)
          .write.mode("overwrite").parquet(out)

      case "warc-doc-text" :: in :: idCol :: payloadCol :: out :: Nil =>
        // multi-carrier crawl text: html AND application/pdf bodies
        // route to extractors in one pass; fences print LOUD
        val (ddf, dobs) = graft.sources.Warc.warcDocTextObserved(
          graft.sources.Multimodal.asMedia(
            spark.read.parquet(in), idCol, payloadCol, "warc"))
        ddf.write.mode("overwrite").parquet(out)
        printWarcFences("warc-doc-text", dobs)

      case "pdf-text" :: in :: idCol :: payloadCol :: out :: Nil =>
        // PDF payloads -> extracted text (xref walk, Flate, WinAnsi)
        graft.sources.Pdf.describePdf(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "doc"))
          .write.mode("overwrite").parquet(out)

      case "office-text" :: in :: idCol :: payloadCol :: out :: Nil =>
        // docx/epub containers -> training text
        graft.sources.OfficeText.describeOfficeText(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "doc"))
          .write.mode("overwrite").parquet(out)

      case "tar-media" :: in :: out :: Nil =>
        // split-streaming TAR members -> sniff-and-decode media stats;
        // the tar_paths_fences counters print after every run, so an
        // over-fence or corrupt file is a visible count, not silence
        val (mdf, mobs) = graft.sources.Archives.tarPathMembersObserved(
          spark, archivePathList(in, ".tar", ".tar.gz", ".tgz", ".tar.zst", ".tar.bz2", ".tar.xz"))
        graft.sources.Multimodal.inspectMedia(
            mdf.where(!col("is_dir") && !col("truncated"))
              .withColumn("media_id",
                xxhash64(col("path"), col("entry_idx")))
              .select(col("media_id"), col("payload")))
          .write.mode("overwrite").parquet(out)
        printArchiveFences("tar-media", mobs)

      case "zip-media" :: in :: out :: Nil =>
        // split-streaming ZIP members -> the same media pipeline;
        // zip_paths_fences print after every run
        val (zdf, zobs) = graft.sources.Archives.zipPathEntriesObserved(
          spark, archivePathList(in, ".zip"))
        graft.sources.Multimodal.inspectMedia(
            zdf.where(!col("is_dir") && !col("truncated"))
              .withColumn("media_id",
                xxhash64(col("path"), col("entry_idx")))
              .select(col("media_id"), col("payload")))
          .write.mode("overwrite").parquet(out)
        printArchiveFences("zip-media", zobs)

      case "archives" :: in :: idCol :: payloadCol :: out :: Nil =>
        // ZIP/TAR/GZIP member listing (central directory / ustar / header)
        graft.sources.Archives.describeArchives(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "archive"))
          .write.mode("overwrite").parquet(out)

      case "unzip" :: in :: idCol :: payloadCol :: out :: Nil =>
        // ZIP members extracted to payload rows (stored + deflate)
        graft.sources.Archives.extractZipEntries(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "archive"))
          .write.mode("overwrite").parquet(out)

      case "subtitles" :: in :: idCol :: payloadCol :: out :: Nil =>
        // SRT/WebVTT → one row per cue, markup stripped to training text
        graft.sources.Subtitles.describeSubtitles(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(in), idCol, payloadCol, "subtitle"),
            stripMarkup = true)
          .write.mode("overwrite").parquet(out)

      case "video-text" :: vids :: subs :: idCol :: vidCol :: subCol :: msPerFrame :: out :: Nil =>
        // the q266 pipeline as a verb: decode AVI frames → per-frame
        // dHashes (persisted once) → drop near-dup videos (keep lower
        // id) → scene-cut survivors → align stripped cues to midpoint
        // keyframes → (video, cue, text, keyframe, scene) pairs
        val hashes = graft.sources.Multimodal.describeVideoHashes(
            graft.sources.Multimodal.asMedia(
              spark.read.parquet(vids), idCol, vidCol, "video"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val dropped = graft.sources.Multimodal.videoNearDupPairs(hashes, 3)
          .select(col("id2").as("media_id")).distinct()
        val kept = hashes.join(dropped, Seq("media_id"), "left_anti")
        val scenes = graft.sources.Multimodal.sceneCuts(kept, 10)
          .select(col("media_id").as("s_vid"), col("scene_idx"),
            col("start_frame"), col("n_frames"))
        val cues = graft.sources.Subtitles.describeSubtitles(
          graft.sources.Multimodal.asMedia(
            spark.read.parquet(subs), idCol, subCol, "subtitle"),
          stripMarkup = true)
        val aligned = graft.sources.Subtitles.alignCuesToFrames(
          cues, kept.select(col("media_id"), col("frame_idx")), msPerFrame.toInt)
        aligned.join(scenes,
            aligned("media_id") === col("s_vid") &&
              col("key_frame") >= col("start_frame") &&
              col("key_frame") < col("start_frame") + col("n_frames"))
          .select(aligned("media_id"), col("cue_idx"), col("text"),
            col("key_frame"), col("scene_idx"))
          .write.mode("overwrite").parquet(out)

      case "stream-window" :: in :: keyCol :: size :: out :: Nil =>
        val schema = spark.read.parquet(in).schema
        val stream = spark.readStream.schema(schema).parquet(in)
        val q = graft.streaming.Windows.tumbling(stream, keyCol, size, Some("1 minute"))
          .writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", s"$out/_checkpoint")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()

      case _ => usage()
    }

  /** Fence-drop loudness shared by every WARC command: a container
    * that contributed zero rows must be a printed number, never a
    * silent absence. */
  private def printWarcFences(cmd: String,
                              obs: org.apache.spark.sql.Observation): Unit = {
    val m = obs.get
    println(s"[$cmd] containers=${m("containers")} " +
      s"rows_out=${m("rows_out")} dropped=${m("containers_dropped")} " +
      s"truncated=${m("containers_truncated")} " +
      s"record_capped=${m("records_capped")} " +
      s"bodies_truncated=${m("bodies_truncated")}")
  }

  private def printArchiveFences(cmd: String,
                                 obs: org.apache.spark.sql.Observation): Unit = {
    val m = obs.get
    println(s"[$cmd] files=${m("files")} members_out=${m("members_out")} " +
      s"dropped=${m("files_dropped")} corrupt=${m("files_corrupt")} " +
      s"entry_capped=${m("entry_capped")} " +
      s"members_truncated=${m("members_truncated")}")
  }

  /** Paths for the split-streaming archive commands: a directory
    * (members matching the given suffixes) or a single file. */
  private def archivePathList(in: String, suffixes: String*): Seq[String] = {
    val f = new java.io.File(in)
    if (f.isDirectory)
      // listFiles() is null on an unreadable directory — fail with a
      // usage error naming the path instead of an NPE (ADVICE r14)
      Option(f.listFiles())
        .getOrElse(sys.error(s"cannot list directory '$in' (unreadable)"))
        .toSeq
        .filter(x => suffixes.exists(x.getName.endsWith))
        .map(_.getAbsolutePath).sorted
    else if (!f.exists())
      sys.error(s"no such file or directory: '$in'")
    else Seq(f.getAbsolutePath)
  }

  /** Paths for the split-streaming WARC commands: a directory (its
    * *.warc / *.warc.gz members) or a single file. */
  private def warcPathList(in: String): Seq[String] =
    archivePathList(in, ".warc", ".warc.gz", ".warc.zst", ".warc.bz2", ".warc.xz")

  private def usage(): Unit = {
    System.err.println(
      """usage: graft <job> [-Dk=v ...] <args>
        |  wordcount <in.parquet> <textCol> <out>
        |  grep <in.parquet> <textCol> <pattern> <out>
        |  sort <in.text> "<-k spec>" <out>
        |  pipe [-reduce <keyCol>] [-io typedbytes|rawbytes] [-schema <ddl>] <in.parquet> <cmd> [arg...] -- <out>
        |  terasort <rows>
        |  compact <in-dir> <out-dir>
        |  archive [-distributed] <src-tree> <dst.har>
        |  copy [-update] [-checksum] [-diff] [-p] [-bandwidth <MB/s>] <src-tree> <dst>
        |  chmod <mode> <tree>
        |  split <in.parquet> <idCol> name=w,name=w,... <out>
        |  rewrite <src.parquet> <dst>
        |  kvtext <in.text> <out>
        |  dedup <in.parquet> <textCol> <idCol> <threshold> <out>
        |  resolve <pairs.parquet> <out>   (id1,id2 pairs -> id,comp_id groups)
        |  signals <in.parquet> <idCol> <textCol> <out>   (repetition quality stats)
        |  chunk <in.parquet> <idCol> <textCol> <max[+overlap]> <out>
        |  pack <in.parquet> <idCol> <tokCol> <budget> <out>
        |  decon <train.parquet> <eval.parquet> <idCol> <textCol> <ngram> <out>
        |  decon-bloom <train.parquet> <eval.parquet> <idCol> <textCol> <ngram> <out>
        |  tempsample <in.parquet> <strataCol> <idCol> <target> <out>
        |  shard <in.parquet> <idCol> <numShards> <out>   (shuffled, partitioned by shard)
        |  mix <in.parquet> <srcCol> src=w,src=w,... <target> <out>
        |  rarity <in.parquet> <idCol> <textCol> <out>   (unigram LM quality signal)
        |  bpe-train <in.parquet> <textCol> <nMerges> <out>   (learn tokenizer merges)
        |  profile <in.parquet> <out>   (single-pass column metrics)
        |  wsample <in.parquet> <idCol> <weightCol> <n> <out>   (weighted exact-N sample)
        |  setsim <in.parquet> <idCol> <textCol> <num> <den> <out>   (exact Jaccard >= num/den pairs)
        |  bfs <edges.parquet> <srcCol> <dstCol> <source> <maxDepth> <out>
        |  dedup-keep <in.parquet> <idCol> <textCol> <ngram> <threshold> <out>   (doc -> representative)
        |  scrub <in.parquet> <idCol> <textCol> <maxDf> <out>
        |  sketchindex <in.parquet> <idCol> <textCol> <ngram> <out.index>
        |  dedup-inc <new.parquet> <index> <idCol> <textCol> <ngram> <threshold> <out>
        |  kmeans-step <in.parquet> <idCol> <vecCol> <labelCol> <dim> <out>
        |  kmeans <in.parquet> <idCol> <vecCol> <k> <maxIter> <dim> <out>
        |  cmsketch <in.parquet> <keyCol> <d> <w> <out>   (mergeable count-min cells)
        |  quality <in.parquet> <idCol> <textCol> <out>   (hashed-feature linear score)
        |  quantiles <in.parquet> <keyCol> "<posIntExpr>" <q,q,...> <out>   (log2-binned bounds)
        |  bpe-tokenize <in.parquet> <idCol> <textCol> <merges.parquet> <out>
        |  substring-dups <in.parquet> <idCol> <textCol> <minRun> <out>   (exact dup extents)
        |  substring-scrub <in.parquet> <idCol> <textCol> <minRun> <out>   (canonical-keeper scrub)
        |  curate-v5 <in.parquet> <idCol> <textCol> <minRun> <max[+overlap]> <budget> <out>
        |  pcm-stats <in.parquet> <idCol> <payloadCol> <out>   (WAV decode: peak/rms/frames)
        |  bmp-stats <in.parquet> <idCol> <payloadCol> <out>   (BMP decode: channel sums)
        |  png-stats <in.parquet> <idCol> <payloadCol> <out>   (PNG decode: zlib + unfilter)
        |  media-inspect <in.parquet> <idCol> <payloadCol> <out>  (sniff + decode ALL formats)
        |  video-inspect <in.parquet> <idCol> <payloadCol> <out>  (MP4 track / AVI metadata)
        |  warc <in.parquet> <idCol> <payloadCol> <out>        (WARC record listing)
        |  warc-text <in.parquet> <idCol> <payloadCol> <out>   (crawl -> clean training text; prints fence counters)
        |  warc-paths <fileOrDir> <out>        (split-streaming record listing over *.warc[.gz] files)
        |  warc-paths-text <fileOrDir> <out>   (split-streaming crawl -> clean training text)
        |  warc-doc-text <in.parquet> <idCol> <payloadCol> <out>  (html + pdf carriers in one pass; prints fences)
        |  pdf-text <in.parquet> <idCol> <payloadCol> <out>     (PDF -> extracted text)
        |  office-text <in.parquet> <idCol> <payloadCol> <out>  (docx/epub -> training text)
        |  tar-media <fileOrDir> <out>   (streamed *.tar[.gz] members -> media stats; prints tar_paths_fences)
        |  zip-media <fileOrDir> <out>   (streamed *.zip members -> media stats; prints zip_paths_fences)
        |  archives <in.parquet> <idCol> <payloadCol> <out>    (ZIP/TAR/GZIP member listing)
        |  unzip <in.parquet> <idCol> <payloadCol> <out>       (ZIP members -> payload rows)
        |  subtitles <in.parquet> <idCol> <payloadCol> <out>   (SRT/VTT cues, markup stripped)
        |  video-text <vids.parquet> <subs.parquet> <idCol> <vidCol> <subCol> <msPerFrame> <out>
        |                                      (dedup + scenes + cue-keyframe pairs)
        |  stream-window <in.parquet-dir> <keyCol> <size> <out>""".stripMargin)
    sys.exit(2)
  }
}
