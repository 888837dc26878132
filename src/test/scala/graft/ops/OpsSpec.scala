package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class FieldSelectionSpec extends SparkSpec {
  import FieldSelection._

  test("spec parser handles singles, ranges, open ranges") {
    assert(parseSpec("4,3,0") == Seq(Single(4), Single(3), Single(0)))
    assert(parseSpec("1-3,7-") == Seq(Range(1, 3), OpenRange(7)))
    assert(parseSpec("0") == Seq(Single(0)))
  }

  test("selectFields reorders and slices delimited text") {
    import spark.implicits._
    val df = Seq("a\tb\tc\td\te").toDF("line")
    def sel(spec: String) =
      df.select(selectFields(col("line"), spec).as("out")).head.getString(0)
    assert(sel("2,0") == "c\ta")
    assert(sel("1-3") == "b\tc\td")
    assert(sel("3-") == "d\te")
    assert(sel("0,2-") == "a\tc\td\te")
  }

  test("out-of-range single yields empty field") {
    import spark.implicits._
    val df = Seq("a\tb").toDF("line")
    assert(df.select(selectFields(col("line"), "5").as("o")).head.getString(0) == "")
  }
}

class KeyFieldSortSpec extends SparkSpec {
  import KeyFieldSort._

  test("parses -k specs with numeric/reverse flags") {
    assert(parse("-k2,2nr -k1") ==
      Seq(KeySpec(2, Some(2), numeric = true, reverse = true),
        KeySpec(1, None, numeric = false, reverse = false)))
  }

  test("sorts text numerically and reversed per spec") {
    import spark.implicits._
    val df = Seq("b\t2", "a\t10", "c\t2").toDF("line")
    val out = sorted(df, "line", "-k2,2nr -k1").as[String].collect()
    assert(out.toSeq == Seq("a\t10", "b\t2", "c\t2"))
  }

  test("numeric keys tolerate malformed/missing fields (no ANSI crash)") {
    import spark.implicits._
    val df = Seq("a\tnot-a-number", "b\t5", "c").toDF("line")
    val out = sorted(df, "line", "-k2,2n").as[String].collect()
    assert(out.length == 3 && out.contains("b\t5"))
  }

  test("open-ended -k spec compares through end of line, like sort(1)") {
    import spark.implicits._
    val df = Seq("a\tb", "a\ta").toDF("line")
    val out = sorted(df, "line", "-k1").as[String].collect()
    assert(out.toSeq == Seq("a\ta", "a\tb"))
  }
}

class SamplingSpec extends SparkSpec {
  lazy val li = graft.core.Tables.lineitem(spark, sf)

  test("modFilter keeps exactly keys ≡ 0 (mod f)") {
    val out = Sampling.modFilter(li, col("l_orderkey"), 10)
    assert(out.where(col("l_orderkey") % 10 =!= 0).count() == 0)
    assert(out.count() > 0)
  }

  test("percentFilter samples deterministically at roughly 1/f") {
    val n = li.count()
    val s = Sampling.percentFilter(li, col("l_orderkey"), 10).count()
    assert(s == Sampling.percentFilter(li, col("l_orderkey"), 10).count()) // stable
    assert(s > n / 30 && s < n / 3) // loose 1/10 bound
  }

  test("md5Filter keeps keys whose 7-hex-digit md5 prefix is ≡ 0 (mod f)") {
    import spark.implicits._
    val keys = (0 until 2000).map(i => s"key-$i")
    def keep(k: String, f: Int): Boolean = {
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(k.getBytes("UTF-8"))
      java.lang.Long.parseLong(md5.map("%02x".format(_)).mkString.take(7), 16) % f == 0
    }
    val got = Sampling.md5Filter(keys.toDF("k"), col("k"), 7).as[String].collect().toSet
    assert(got.nonEmpty && got.size < keys.size)
    assert(got == keys.filter(keep(_, 7)).toSet)
  }

  test("randomSample is a seeded Bernoulli sample without replacement") {
    import spark.implicits._
    val base = spark.range(20000).toDF("id")
    val s = Sampling.randomSample(base, 0.1).as[Long].collect()
    // the default seed is 42 and a seed replays the same rows
    assert(s.toSeq == Sampling.randomSample(base, 0.1, 42L).as[Long].collect().toSeq)
    assert(Sampling.randomSample(base, 0.1, 7L).as[Long].collect().toSet != s.toSet)
    assert(s.distinct.length == s.length && s.forall(i => i >= 0 && i < 20000))
    // per-row Bernoulli(0.1): 2000 expected, sd ≈ 42
    assert(math.abs(s.length - 2000) < 300, s.length)
    assert(Sampling.randomSample(base, 0.0).count() == 0)
    assert(Sampling.randomSample(base, 1.0).count() == 20000)
  }

  test("regexFilter matches pattern") {
    val docs = graft.core.Tables.documents(spark, sf)
    val out = Sampling.regexFilter(docs, col("text"), "spark")
    assert(out.count() > 0)
    assert(out.where(!col("text").contains("spark")).count() == 0)
  }

  test("splitSample bounds records per partition") {
    val out = Sampling.splitSample(li.repartition(4), 5)
    assert(out.count() <= 20)
  }

  test("hashSplit is exhaustive, disjoint, deterministic, and ~proportional") {
    val docs = graft.core.Tables.documents(spark, sf)
    val n = docs.count()
    val split = Sampling.hashSplit(docs, col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // exhaustive: every row labeled, only the three labels
    assert(split.where(col("split").isNull).count() == 0)
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts.values.sum == n)
    // ~proportional (loose: 500 docs, 16-bit buckets)
    assert(counts("train") > n * 6 / 10 && counts("train") < n * 95 / 100)
    // deterministic and order-independent: shuffling input rows
    // reassigns nothing
    val again = Sampling.hashSplit(docs.orderBy(rand(7)), col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split")
    assert(split.select("doc_id", "split").except(again).count() == 0)
  }

  test("hashSplit fails loudly on null ids instead of polluting a split") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L), Row(null)), 1), schema)
    val e = intercept[Exception] {
      Sampling.hashSplit(df, col("id"), Seq("a" -> 0.5, "b" -> 0.5)).collect()
    }
    def mentions(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("null id")) || mentions(t.getCause))
    assert(mentions(e), s"got $e")
  }

  test("hashSplit refuses an input that already has the split column") {
    val docs = graft.core.Tables.documents(spark, sf)
      .withColumn("split", lit("precious"))
    val e = intercept[IllegalArgumentException] {
      Sampling.hashSplit(docs, col("doc_id"), Seq("a" -> 0.5, "b" -> 0.5))
    }
    assert(e.getMessage.contains("already has"))
  }

  test("hashSplit normalizes weights (2/1/1 == 0.5/0.25/0.25)") {
    val docs = graft.core.Tables.documents(spark, sf)
    val a = Sampling.hashSplit(docs, col("doc_id"),
      Seq("a" -> 2.0, "b" -> 1.0, "c" -> 1.0)).select("doc_id", "split")
    val b = Sampling.hashSplit(docs, col("doc_id"),
      Seq("a" -> 0.5, "b" -> 0.25, "c" -> 0.25)).select("doc_id", "split")
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("stratifiedExact keeps exactly ceil(n*num/den) per stratum, order-independent") {
    val docs = graft.core.Tables.documents(spark, sf)
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = Sampling.stratifiedExact(docs, "lang", col("doc_id"), 1, 5)
    val got = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact ceil(n/5) per class — not Bernoulli's expected-count
    assert(got == perLang.view.mapValues(n => (n + 4) / 5).toMap, (got, perLang))
    // content-stable: a shuffled input picks the SAME rows
    val again = Sampling.stratifiedExact(docs.orderBy(rand(11)), "lang",
      col("doc_id"), 1, 5).select("doc_id")
    assert(out.select("doc_id").except(again).count() == 0)
    // full fraction is the identity; degenerate args are loud
    assert(Sampling.stratifiedExact(docs, "lang", col("doc_id"), 1, 1).count()
      == docs.count())
    intercept[IllegalArgumentException] {
      Sampling.stratifiedExact(docs, "lang", col("doc_id"), 3, 2)
    }
  }

  test("stratified sampling respects per-class fractions") {
    val docs = graft.core.Tables.documents(spark, sf)
    val langs = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fracs: Map[Any, Double] = langs.keys.map {
      case l if l == langs.keys.head => (l: Any) -> 1.0
      case l => (l: Any) -> 0.0
    }.toMap
    val out = Sampling.stratified(docs, "lang", fracs)
    // fraction 1.0 keeps every row of that class; 0.0 drops the rest
    assert(out.where(col("lang") === langs.keys.head).count() == langs(langs.keys.head))
    assert(out.where(col("lang") =!= langs.keys.head).count() == 0)
  }

  test("weightedSample: exact n, deterministic, weight-skewed, loud on bad weights") {
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars"))
    val s1 = Sampling.weightedSample(docs, col("doc_id"), "n_chars", 50)
    assert(s1.count() == 50)
    assert(s1.collect().map(_.getLong(0)).toSet ==
      Sampling.weightedSample(docs, col("doc_id"), "n_chars", 50)
        .collect().map(_.getLong(0)).toSet) // replayable
    // a weight ~1e6 times everything else must be selected
    val skew = (1L to 200L).map(i => (i, if (i == 7L) 1000000L else 1L))
      .toDF("doc_id", "w")
    val got = Sampling.weightedSample(skew, col("doc_id"), "w", 10)
      .collect().map(_.getLong(0)).toSet
    assert(got.contains(7L), got.toString)
    // sampled mean weight exceeds the population mean (weights bias up)
    val popMean = docs.agg(avg(col("n_chars"))).head().getDouble(0)
    val smpMean = s1.agg(avg(col("n_chars"))).head().getDouble(0)
    assert(smpMean > popMean, s"$smpMean !> $popMean")
    val bad = Seq((1L, 0L)).toDF("doc_id", "w")
    intercept[Exception] {
      Sampling.weightedSample(bad, col("doc_id"), "w", 1).collect()
    }
  }
}

class CompactionSpec extends SparkSpec {
  test("targetFileCount scales with bytes") {
    assert(Compaction.targetFileCount(100, 1000) == 1)
    assert(Compaction.targetFileCount(5000, 1000) == 5)
    assert(Compaction.targetFileCount(5001, 1000) == 6)
  }

  test("compactParquet rewrites a directory into one file") {
    val tmp = java.nio.file.Files.createTempDirectory("compact").toString
    graft.core.Tables.nation(spark, sf).repartition(8).write.parquet(s"$tmp/in")
    val n = Compaction.compactParquet(spark, s"$tmp/in", s"$tmp/out")
    assert(n == 1)
    val files = new java.io.File(s"$tmp/out").listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 1)
    assert(spark.read.parquet(s"$tmp/out").count() ==
      graft.core.Tables.nation(spark, sf).count())
  }
}
