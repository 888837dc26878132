package graft

import java.nio.file.{Files, Paths}

/** Per-query formatted-plan dumps for the optimization-round
  * evidence files (`plans/rNN/<query>_{before,after}.txt`):
  * `runMain graft.PlanDump <outDir> <suffix> <q1,q2,…>` writes one
  * `<outDir>/<query>_<suffix>.txt` per named query at sf0.001, in
  * [[Plans]]' session. Measurement tooling only. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, qlist) = args.take(3)
    val spark = Plans.planSession()
    Files.createDirectories(Paths.get(outDir))
    qlist.split(',').foreach { q =>
      Files.writeString(Paths.get(s"$outDir/${q}_$suffix.txt"),
        Plans.planText(spark, q) + "\n")
      System.err.println(s"[plandump] wrote $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
