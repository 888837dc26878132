package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Point lookup on a keyed table — `MapFileOutputFormat.getEntry`
  * (.../lib/output/MapFileOutputFormat.java:49,115): the reference
  * keeps a sparse in-file index next to sorted data and seeks.
  *
  * Columnar equivalent: an equality filter. Parquet min/max row-group
  * statistics (plus the column index) skip every row group whose key
  * range excludes the value, so the read cost is O(matching row
  * groups), not O(table) — the same skip the MapFile index bought,
  * without maintaining a second structure. Sorting/bucketing the table
  * on the key (ops.Bucketing) tightens the min/max ranges and thus the
  * skip. */
object Lookup {

  def pointLookup(df: DataFrame, key: Column, value: Any): DataFrame =
    df.where(key === value)

  /** BloomMapFile analog (io/BloomMapFile.java:54): the reference bolts
    * a DynamicBloomFilter onto MapFile so a miss is answered without
    * touching the sorted data. Columnar equivalent: write the table
    * with a parquet BLOOM FILTER on the key column — a point-predicate
    * scan then skips row groups whose filter excludes the key, which
    * min/max statistics alone cannot do for high-cardinality keys with
    * overlapping ranges (the exact case BloomMapFile exists for).
    * `ndv` sizes the filter (reference: `io.mapfile.bloom.size`); it is
    * per ROW GROUP, so the default holds far beyond one file. */
  def bloomWrite(df: DataFrame, path: String, keyCol: String,
                 ndv: Long = 1000000L): Unit =
    df.write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$keyCol", ndv.toString)
      .parquet(path)

  /** Columns that carry a bloom filter in every row group of every
    * part file under `path` — the spec's proof that [[bloomWrite]]
    * really produced filters (a silently-dropped writer option would
    * otherwise degrade misses back to full row-group reads). */
  def bloomFilterColumns(spark: SparkSession, path: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    require(parts.nonEmpty, s"no part files under $path")
    parts.map { st =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        blocks.flatMap(_.getColumns.asScala)
          .groupBy(_.getPath.toDotString)
          .collect { case (c, chunks)
            if chunks.forall(_.getBloomFilterOffset >= 0) => c }
          .toSet
      } finally reader.close()
    }.reduce(_ intersect _)
  }
}
