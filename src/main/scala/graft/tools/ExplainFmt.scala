package graft.tools

import graft.core.DDFManager

/** Plan-capture main (dev tool, not part of the driver contract): run
  * SparkEntry queries by name and write each `.explain("formatted")`
  * output to `<outDir>/<name>_<suffix>.txt` — the before/after plan
  * evidence the optimization rounds commit under `plans/`.
  * `runMain graft.tools.ExplainFmt <outDir> <suffix> <q1,q2,...> [sfDir]`.
  * Uses the bench session recipe (local[$SPARK_GRAFT_CPUS], AQE on) so
  * the captured plan is the one the bench actually runs; each query is
  * EXECUTED first (noop-equivalent collect of the hash fold) so AQE's
  * final plan is what prints.
  */
object ExplainFmt {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = DDFManager.localSession(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      spark.sparkContext.setJobDescription(s"explain: $name")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save() // execute: AQE final plan
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[explainfmt] wrote $outDir/${name}_$suffix.txt")
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
