package graft

import graft.core.Engine

/** Pins the getOrCreate() reuse path: when a SparkSession already
  * exists in the JVM (exactly this test harness's situation),
  * `withExtensions` and builder configs are silently ignored —
  * Engine.session must still deliver the SQL-registered native
  * functions and the runtime-settable engine confs. */
class EngineSpec extends SparkSpec {

  test("Engine.session on a pre-existing session still registers SQL functions") {
    // the shared TestSpark session was built WITHOUT GraftExtensions
    val s = Engine.session(shufflePartitions = 8) // keep the harness posture
    assert(s eq spark, "getOrCreate must reuse the existing session")
    val sh = s.sql("SELECT simhash64(array('alpha','beta')) AS h").head.getLong(0)
    val direct = s.range(1).select(
      graft.functions.SketchExpressions.simHash64(
        org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit("alpha"),
          org.apache.spark.sql.functions.lit("beta")))).head.getLong(0)
    assert(sh == direct)
    assert(s.sql("SELECT cosine_similarity(array(1.0,0.0), array(1.0,0.0)) AS c")
      .head.getDouble(0) == 1.0)
    // the round-6 expressions are SQL functions too
    assert(s.sql("SELECT repetition_stats('a a a a', 2, 2).dup_gram_chars AS d")
      .head.getLong(0) > 0)
    val fps = s.sql("SELECT rolling_winnow('abcdefghijkl', 8, 4) AS f")
      .head.getSeq[Long](0)
    assert(fps.nonEmpty)
  }

  test("Engine.session registers only the SQL functions the session lacks") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    graft.core.GraftExtensions.register(spark)
    val names = graft.core.GraftExtensions.definitions.map(_._1)
    val before = names.map(n => n -> registry.lookupFunction(FunctionIdentifier(n)).get).toMap
    registry.dropFunction(FunctionIdentifier("simhash64"))
    Engine.session(shufflePartitions = 8)
    // a registered function is left as it is (replacing it logs a WARN
    // per function on every session start) ...
    names.filterNot(_ == "simhash64").foreach { n =>
      assert(registry.lookupFunction(FunctionIdentifier(n)).get eq before(n), n)
    }
    // ... and a missing one is registered again
    assert(spark.sql("SELECT simhash64(array('alpha')) AS h").count() == 1)
  }

  test("Engine.session re-asserts runtime confs on a reused session") {
    val s = Engine.session(shufflePartitions = 8)
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.parquet.compression.codec") == "zstd")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "8")
  }

  test("Engine.widen spreads a few-split scan, no-ops when wide or streaming") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a one-file scan (the local-bench fixture shape) widens to >= the
    // small-input floor so CPU-bound map passes don't run one task
    val docs = graft.core.Tables.documents(spark, TestSpark.sf)
    val narrow = docs.coalesce(1)
    assert(narrow.rdd.getNumPartitions == 1)
    val widened = Engine.widen(narrow)
    val floor = math.min(8, spark.sparkContext.defaultParallelism)
    assert(widened.rdd.getNumPartitions >= floor, widened.rdd.getNumPartitions)
    // rows are only moved, never changed
    assert(widened.count() == docs.count())
    // already-wide input: identical frame back, no added exchange
    val wide = docs.repartition(spark.sparkContext.defaultParallelism)
    assert(Engine.widen(wide) eq wide)
    // streaming input: .rdd does not exist there — must pass through
    implicit val sqlCtx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val stream = ms.toDS().toDF("text")
    assert(Engine.widen(stream) eq stream)
  }
}
