package graft
import graft.core.DDFManager
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = DDFManager.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // Optional fast-iteration filter (unset → all queries, driver default)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Per-query failure isolation: one broken query must cost ONE board
    // row, not the whole round (round 7: a testdata schema change threw
    // in every query's table registration and the gate read an empty
    // dir as {} — "nothing verified" must be loud, not quiet-green).
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (failures.isEmpty) e.printStackTrace() // full trace once
        failures(name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    if (failures.nonEmpty) {
      writeJson(s"$outDir/errors.json", failures)
      System.err.println(s"[verify] ${failures.size}/${selected.size} queries failed")
    }
    spark.stop()
    // a run where NOTHING verified is a harness failure, not a result
    if (selected.nonEmpty && failures.size == selected.size) sys.exit(1)
    // local-mode Spark occasionally leaves non-daemon threads (the
    // BenchSf1 lesson — this session's full sf0.01 run idled 15+ min
    // after oracle_sql.json was written); every artifact is on disk,
    // so exit decisively
    sys.exit(0)
  }

  /** A name → string map as one JSON object, written by [[Bench]]'s Jackson
    * writer: a tab or CR in an oracle's SQL must not break the reader.
    */
  private[graft] def writeJson(path: String, m: Iterable[(String, String)]): Unit =
    Files.writeString(Paths.get(path), Bench.write(Bench.obj(m)))
}
