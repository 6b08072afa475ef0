package graft.tools

import graft.core.DDFManager
import org.apache.spark.sql.functions._

/** Dev probe: build the bench's 10×-blown sf1 corpus and run the given
  * queries (SPARK_GRAFT_OPS, default the sf1-tier additions) against it
  * one by one with per-query attribution — the bench's tier-level
  * try/catch reports a failure without naming the query. Not part of
  * the driver contract.
  */
object Sf1Probe {
  def main(args: Array[String]): Unit = {
    val spark = DDFManager.localSession(32)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("SPARK_GRAFT_OPS", "p05_curation_corpus_build")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val dir = graft.Bench.buildSf1(spark, sfDir)
    println(s"[sf1probe] built $dir")
    try names.foreach { n =>
      val t0 = System.nanoTime()
      try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        val cnt = df.count()
        println(f"[sf1probe] $n OK rows=$cnt wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        println(s"[sf1probe] $n FAILED: $e")
        e.printStackTrace()
      }
    } finally Cleanup.deleteRecursively(dir)
    spark.stop()
  }
}
