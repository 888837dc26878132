package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the engine's scale-oriented defaults.
  *
  * Hadoop's execution machinery (sort-spill buffers, combiners, merge
  * fan-in, speculative execution — reference
  * hadoop-mapreduce-client-core/.../mapred/MapTask.java:889-1861) is all
  * supplied by Tungsten/AQE; what we own is the configuration posture:
  * AQE on (runtime coalesce + skew-join), zstd-compressed parquet
  * output (shuffle blocks keep Spark's default lz4 codec), shuffle
  * partitions sized for the active cluster rather than the 200
  * default.
  */
object Engine {
  /** Executor-side Hadoop Configuration, constructed ONCE per JVM.
    * `new Configuration()` parses core-site.xml & friends off the
    * classpath every call (~tens of ms); the streaming path doors
    * (WARC/tar/zip) used to pay that PER FILE, which dominated their
    * wall time on many-small-file corpora (optimization r19 — q298's
    * 5000-file fixture spent ~8 of its 9 s here). Scheme resolution is
    * unchanged: hdfs://, s3a:// and file:// resolve exactly as before,
    * and Hadoop's own FileSystem cache keys on (scheme, authority,
    * ugi), so one shared Configuration is the intended use.
    * READ-ONLY BY CONTRACT (ADVICE r19, hence `private[graft]`): it
    * is shared JVM-wide, so setting a property on it would leak into
    * every WARC/tar/zip reader; a caller needing per-job overrides
    * must take `new Configuration(executorHadoopConf)` instead. */
  private[graft] lazy val executorHadoopConf: org.apache.hadoop.conf.Configuration =
    new org.apache.hadoop.conf.Configuration()

  def session(appName: String = "graft",
              master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
              shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(master)
      .withExtensions(new GraftExtensions) // SQL names for native exprs
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // BloomMapFile's capability (io/BloomMapFile.java:54): prune the
      // probe side of large joins with a runtime-built bloom filter.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate() silently ignores withExtensions and every .config
    // when a session already exists in the JVM (tests, notebooks,
    // thriftserver). Register the SQL functions the live session lacks
    // and re-assert the runtime-settable confs so the engine posture
    // holds either way; warn on the ones fixed at session build.
    GraftExtensions.register(spark)
    Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.parquet.compression.codec" -> "zstd",
      "spark.sql.session.timeZone" -> "UTC",
    ).foreach { case (k, v) =>
      try {
        // a reused session may carry deliberate owner settings: surface
        // every value this re-assertion actually changes
        val prev = spark.conf.getOption(k)
        spark.conf.set(k, v)
        if (prev.exists(_ != v))
          System.err.println(s"[graft] reused session: overriding $k=${prev.get} -> $v")
      } catch { case _: org.apache.spark.sql.AnalysisException =>
        System.err.println(s"[graft] reused session: cannot set $k=$v")
      }
    }
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** CPU-bound map passes (sketching, repetition stats, chunking) are
    * only as parallel as their input has splits; a small input (one
    * parquet file — the local-bench shape, or any small-file corpus)
    * would run them single-threaded. Widen only when the scan has fewer
    * splits than a modest byte-based target (~4 MB of input per task,
    * min 8, capped at the cluster's slots): at 100 TB the scan already
    * has more splits than slots and NO shuffle is added, while a tiny
    * input is neither serialized on one core nor burdened with `slots`
    * near-empty shuffle-map tasks (per-task fixed cost dominates below
    * a few MB per task). */
  def widen(df: DataFrame): DataFrame = {
    // a streaming Dataset has no .rdd (and its parallelism is the
    // source's micro-batch partitioning) — widening is a no-op there,
    // which keeps the map-only ops stream-composable
    if (df.isStreaming) return df
    val slots = df.sparkSession.sparkContext.defaultParallelism
    val parts = df.rdd.getNumPartitions
    if (parts >= slots) df
    else {
      // Hadoop FS for sizes: works on any scheme (java.io.File returns
      // a silent 0 for hdfs:// paths — under-widening exactly the
      // remote inputs this targets); unknown → assume big
      val bytes = try {
        val conf = df.sparkSession.sparkContext.hadoopConfiguration
        df.inputFiles.map { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          path.getFileSystem(conf).getFileStatus(path).getLen
        }.sum
      } catch { case _: Exception => Long.MaxValue }
      val target = math.max(math.min(slots.toLong, bytes / (4L << 20) + 1).toInt,
        math.min(8, slots))
      if (parts >= target) df else df.repartition(target)
    }
  }
}
