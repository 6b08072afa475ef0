package graft.tools

import graft.core.DDFManager

/** Plan-audit main (dev tool, not part of the driver contract): run a
  * SparkEntry query by name and print its executed physical plan —
  * `runMain graft.tools.Explain <queryName> [sfDir]`. Use to check
  * pushdown (`PushedFilters`), join strategy (BroadcastHashJoin vs
  * SortMergeJoin), and codegen spans after changing a query.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = DDFManager.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.collect() // execute so AQE's final plan is what prints
    println(s"=== $name @ $sfDir ===")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
