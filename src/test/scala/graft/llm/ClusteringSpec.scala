package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[Clustering.lloydStep]]: assignments are nearest-centroid
  * optimal (verified against a driver-side replay), well-separated
  * clusters are a fixed point, and the dimension guard is loud. */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def mk(rows: Seq[(Long, Seq[Float], Int)]) =
    rows.toDF("vec_id", "embedding", "label")

  test("well-separated clusters with correct seeds are a fixed point") {
    val rows = (0L until 30L).map { i =>
      val c = (i % 3).toInt
      val base = Array.fill(4)(c * 10.0f)
      base(0) += (i / 3 % 5) * 0.01f // tiny within-cluster jitter
      (i, base.toSeq, c)
    }
    val out = Clustering.lloydStep(mk(rows), "vec_id", "embedding",
      "label", dim = 4, scale = 1000)
    assert(out.where(col("label") =!= col("assigned")).count() == 0)
  }

  test("swapped seed labels converge back to the true clusters") {
    // two tight blobs, every label deliberately WRONG (swapped):
    // centroids still land between their true members, so one step
    // reassigns everything to the majority-correct centroid
    val rows = (0L until 20L).map { i =>
      val c = (i % 2).toInt
      (i, Seq.fill(3)(c * 100.0f), 1 - c)
    }
    val out = Clustering.lloydStep(mk(rows), "vec_id", "embedding",
      "label", dim = 3, scale = 1000)
      .select("vec_id", "assigned").as[(Long, Long)].collect().toMap
    // all vectors of one blob land in the SAME centroid, blobs differ
    val byBlob = (0L until 20L).groupBy(_ % 2).map { case (b, ids) =>
      b -> ids.map(out).toSet
    }
    assert(byBlob(0L).size == 1 && byBlob(1L).size == 1)
    assert(byBlob(0L) != byBlob(1L))
  }

  test("assignments match a driver-side exact replay") {
    val rnd = new scala.util.Random(11)
    val rows = (0L until 60L).map { i =>
      (i, Seq.fill(6)(rnd.nextFloat() * 2 - 1), rnd.nextInt(4))
    }
    val got = Clustering.lloydStep(mk(rows), "vec_id", "embedding",
      "label", dim = 6, scale = 1000)
      .select("vec_id", "assigned").as[(Long, Long)].collect().toMap
    // replay: same quantization, exact integer sums, same double order.
    // HALF_UP in java.math terms = half-away-from-zero, matching Spark
    // round() and DuckDB ROUND; Scala math.round is half-toward-
    // positive-infinity and diverges at negative .5 (ADVICE r8).
    def roundAway(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
    val q = rows.map { case (id, v, l) =>
      (id, v.map(e => roundAway(e.toDouble * 1000)), l.toLong)
    }
    val sums = q.groupBy(_._3).map { case (l, vs) =>
      l -> (vs.map(_._2).transpose.map(_.sum), vs.size.toLong)
    }
    q.foreach { case (id, x, _) =>
      val xx = x.map(a => a * a).sum.toDouble
      val best = sums.toSeq.map { case (l, (s, n)) =>
        val dot = x.zip(s).map { case (a, b) => a * b }.sum.toDouble
        val ss = s.map(a => a * a).sum.toDouble
        (xx - (2.0 * dot) / n + ss / (n.toDouble * n.toDouble), l)
      }.min
      assert(got(id) == best._2, s"vec $id: got ${got(id)}, want ${best._2}")
    }
  }

  test("argmin is a hash aggregate, not a window sort (scale plan)") {
    val rows = (0L until 30L).map { i =>
      (i, Seq.fill(4)((i % 3) * 10.0f), (i % 3).toInt)
    }
    val p = Clustering.lloydStep(mk(rows), "vec_id", "embedding",
        "label", dim = 4, scale = 1000)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    // the argmin over the k-fanned frame must reduce map-side
    // (partial_min_by before the exchange), not sort-shuffle n·k rows
    // under a row_number window; the SortAggregate Spark picks for
    // struct-ordered min_by keeps its sorts partition-local
    assert(p.contains("partial_min_by"), p)
    assert(!p.contains("Window"), p)
  }

  test("lloyd converges on separated blobs and recovers the blob partition") {
    // 4 tight blobs of 10 vectors in distinct orthants — any sane
    // k-means run with k=4 must end with clusters == blobs
    val rnd = new scala.util.Random(5)
    val dirs = Seq(Seq(1f, 1f, 1f, 1f), Seq(-1f, -1f, 1f, 1f),
      Seq(1f, -1f, -1f, 1f), Seq(-1f, 1f, -1f, -1f))
    val rows = (0L until 40L).map { i =>
      val b = (i % 4).toInt
      (i, dirs(b).map(x => x * 50f + rnd.nextFloat()), b)
    }
    val r = Clustering.lloyd(mk(rows), "vec_id", "embedding",
      k = 4, maxIter = 20, dim = 4)
    assert(r.converged, s"did not converge in ${r.rounds} rounds")
    val got = r.assign.select("vec_id", "cluster")
      .as[(Long, Long)].collect().toMap
    val byBlob = (0L until 40L).groupBy(_ % 4)
      .map { case (b, ids) => b -> ids.map(got).toSet }
    assert(byBlob.values.forall(_.size == 1), s"blob split: $byBlob")
    assert(byBlob.values.flatten.toSet.size == 4, s"blobs merged: $byBlob")
  }

  test("lloyd's fixed point is a lloydStep fixed point (differential)") {
    // the driver loop (literal centroids, least() argmin) and the
    // distributed step (broadcast centroid table, min_by argmin) share
    // one contract: feeding lloyd's converged labels back through
    // lloydStep must reassign nothing
    val rnd = new scala.util.Random(7)
    val rows = (0L until 50L).map { i =>
      (i, Seq.fill(4)(rnd.nextFloat() * 2 - 1), 0)
    }
    val r = Clustering.lloyd(mk(rows).drop("label"), "vec_id", "embedding",
      k = 3, maxIter = 30, dim = 4)
    assert(r.converged)
    val relabeled = mk(rows).drop("label")
      .join(r.assign.withColumnRenamed("cluster", "label"), "vec_id")
    val moved = Clustering.lloydStep(relabeled, "vec_id", "embedding",
      "label", dim = 4)
      .where(col("label") =!= col("assigned")).count()
    assert(moved == 0, s"$moved vectors moved under lloydStep replay")
  }

  test("lloyd membership matches Ivf's internal Lloyd on separated blobs (differential)") {
    // different metric (quantized euclidean vs float cosine) and
    // different seeding — on well-separated data both must land on the
    // same PARTITION of the points (cluster ids may differ)
    val rnd = new scala.util.Random(9)
    val dirs = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f), Seq(0f, 0f, 1f, 0f))
    val rows = (0L until 30L).map { i =>
      val b = (i % 3).toInt
      (i, dirs(b).map(x => x * 20f + rnd.nextFloat() * 0.1f), 0)
    }
    val emb = mk(rows).drop("label")
    val viaLloyd = Clustering.lloyd(emb, "vec_id", "embedding",
        k = 3, maxIter = 20, dim = 4)
      .assign.select("vec_id", "cluster").as[(Long, Long)].collect()
    val cents = Ivf.buildCentroids(emb, 3, 5)
    val viaIvf = Ivf.assign(emb, cents)
      .select("vec_id", "cluster").as[(Long, Int)].collect()
    def partition(xs: Seq[(Long, AnyVal)]): Set[Set[Long]] =
      xs.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    assert(partition(viaLloyd.toSeq) == partition(viaIvf.toSeq))
  }

  test("buildCentroidsLloyd centroids drive Ivf.assign to the same clusters") {
    val rnd = new scala.util.Random(13)
    val dirs = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f))
    val rows = (0L until 20L).map { i =>
      val b = (i % 2).toInt
      (i, dirs(b).map(x => x * 20f + rnd.nextFloat() * 0.1f), 0)
    }
    val emb = mk(rows).drop("label")
    val cents = Ivf.buildCentroidsLloyd(emb, k = 2, maxIter = 20, dim = 4)
    assert(cents.size == 2)
    val got = Ivf.assign(emb, cents)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    val byBlob = (0L until 20L).groupBy(_ % 2)
      .map { case (b, ids) => b -> ids.map(got).toSet }
    assert(byBlob.values.forall(_.size == 1) &&
      byBlob(0L) != byBlob(1L), s"$byBlob")
  }

  test("dimension mismatch fails loudly in-plan") {
    val bad = mk(Seq((1L, Seq(1.0f, 2.0f), 0)))
    val e = intercept[Exception] {
      Clustering.lloydStep(bad, "vec_id", "embedding", "label", dim = 3)
        .collect()
    }
    assert(e.getMessage.contains("lloydStep") ||
      e.getCause.getMessage.contains("lloydStep"))
  }

  private def blobs(): org.apache.spark.sql.DataFrame = mk(
    (0L until 40L).map { i =>
      val c = (i % 4).toInt
      val base = Array.fill(4)(c * 10.0f)
      base((i % 4).toInt) += (i / 4 % 5) * 0.02f
      // seed labels deliberately scrambled so every round does work
      (i, base.toSeq, ((i * 7 + 3) % 4).toInt)
    })

  test("iterateSteps equals the hand-rolled lloydStep chain (differential)") {
    val d = blobs()
    val chained = Clustering.iterateSteps(d, "vec_id", "embedding", "label",
      rounds = 3, dim = 4)
    val inline = (1 to 3).foldLeft(d) { (cur, _) =>
      Clustering.lloydStep(cur, "vec_id", "embedding", "label", dim = 4)
        .select(col("vec_id"), col("assigned").as("label"))
        .join(d.select("vec_id", "embedding"), "vec_id")
    }.select(col("vec_id"), col("label").cast("long").as("label"))
    val got = chained.assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exp = inline.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    chained.release()
    assert(got == exp)
    spark.catalog.clearCache()
  }

  test("iterateSteps keeps plan depth BOUNDED across rounds (checkpoint lineage cut)") {
    def planNodes(rounds: Int): Int = {
      val r = Clustering.iterateSteps(blobs(), "vec_id", "embedding", "label",
        rounds, dim = 4)
      val n = r.assign.queryExecution.optimizedPlan.collect { case p => p }.size
      r.release()
      n
    }
    val n1 = planNodes(1)
    val n5 = planNodes(5)
    // the result is rooted at its own checkpoint: the plan is a flat
    // scan regardless of round count — an uncut chain would compound
    // (join + step subtree) per round
    assert(n5 == n1, s"round-5 plan has $n5 nodes vs round-1 $n1 - lineage not cut")
    assert(n1 <= 3, s"expected a flat checkpoint scan, got $n1 nodes")
    spark.catalog.clearCache()
  }

  test("iterateSteps result survives release() (checkpoint-rooted, not cache-rooted)") {
    val r = Clustering.iterateSteps(blobs(), "vec_id", "embedding", "label",
      rounds = 2, dim = 4)
    r.release() // BEFORE any action on the result
    val rows = r.assign.collect()
    assert(rows.length == 40 && rows.forall(x => x.getLong(1) >= 0 && x.getLong(1) < 4))
    spark.catalog.clearCache()
  }
}
