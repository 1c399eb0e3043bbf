package graft

/** Optimization-evidence tool (round 14): dump `.explain("formatted")`
  * for a comma-separated list of declared queries to one file each —
  * the `plans/r<n>/<query>_{before,after}.txt` artifacts the
  * optimization rounds commit. Plans only; no query is executed beyond
  * what plan CONSTRUCTION itself runs (trained-model loops inside some
  * query builders, and the store fixtures a query declares).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    for (n <- names.split(',').map(_.trim).filter(_.nonEmpty)) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt")
      java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
