package graft

import graft.tools.Profile

/** The query profiler's recorder: what Spark's job events and SQL status
  * store say about one run of a registry query.
  */
class ProfileSpec extends SparkTestBase {

  test("Profile.record: scan rows match the table, outside-SQL jobs show, every job is attributed") {
    val sfDir = smokeSfDir
    def run(q: String) =
      Profile.record(spark)(Bench.materialize(SparkEntry.queries(q)(spark, sfDir)))

    val q1 = run("q10_tpch_q1")
    val rows = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    val scans = q1.executions.flatMap(_.nodes)
      .filter(n => n.name.startsWith("Scan") && n.desc.contains("lineitem"))
    assert(scans.nonEmpty, s"no lineitem scan among ${q1.executions.flatMap(_.nodes).map(_.name)}")
    assert(scans.exists(_.rows == rows), s"lineitem scans read ${scans.map(_.rows)}, table has $rows")

    // budgetSelect's sample and boundary passes run on the RDD, outside any SQL execution
    val budget = run("q92_budget_select")
    assert(budget.outside.nonEmpty, "q92 recorded no job outside a SQL execution")

    for ((q, rec) <- Seq("q10_tpch_q1" -> q1, "q92_budget_select" -> budget)) {
      assert(rec.total.jobs > 0, s"$q recorded no job")
      assert(rec.attributed == rec.total,
        s"$q: executions + outside jobs ${rec.attributed} != listener totals ${rec.total}")
    }
  }
}
