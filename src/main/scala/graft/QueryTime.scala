package graft

import org.apache.spark.sql.SparkSession

/** Per-query timing harness for DIFFERENTIAL experiments (r17 verdict
  * item 2: bench two builds — e.g. KernelCodegen bridge vs
  * CodegenFallback — on the same entries without running the whole
  * 50-entry Bench): `runMain graft.QueryTime <sfDir> <nRuns> <q1,q2,…>`
  * prints one JSON line of per-query MIN wall seconds over nRuns
  * steady-state runs, each query first warmed by nRuns untimed runs
  * (after one warm-up the walls kept falling for 5–10 runs at sf0.1
  * on 4 cores: q353 3.37 → 1.54 s). Uses Bench's measurement
  * discipline: noop sink, cache cleared before every run, query
  * CONSTRUCTION (fixture generation) untimed. */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, nRunsS, qlist) = args.take(3)
    val nRuns = nRunsS.toInt
    val names = qlist.split(',').toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      def run(): Double = {
        spark.catalog.clearCache()
        val d = fn(spark, sfDir) // construction + fixture gen: untimed
        time(d.write.mode("overwrite").format("noop").save())
      }
      (0 until nRuns).foreach(_ => run()) // warm-up (JIT): discarded
      name -> (0 until nRuns).map(_ => run())
    }
    def r3(x: Double) = math.round(x * 1000) / 1000.0
    val json = results.map { case (n, ws) =>
      s""""$n":{"min":${r3(ws.min)},"runs":[${ws.map(r3).mkString(",")}]}"""
    }.mkString("{", ",", "}")
    println(s"""{"sf":"$sfDir","queries":$json}""")
    spark.stop()
  }
}
