package graft.tools

import graft.core.DDFManager
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe (r13 verdict ask #7): p08's chain with and without
  * materializing the normalized/deduped/budgeted frame (`sel`) that
  * matchDistribution reads multiple times (stats pass + the two output
  * branches). Variants, min-of-N each at the given dir:
  *   - rebuild: the committed shape — sel's lineage re-executes per read
  *   - persist: sel.persist(MEMORY_AND_DISK) + unpersist after action
  *   - localckpt: sel.localCheckpoint(eager) + release after action
  * The bench sink (hash-materialize, graft.Bench.materialize's shape)
  * consumes every column.
  */
object P08Probe {
  def main(args: Array[String]): Unit = {
    val spark = DDFManager.localSession(32)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val m = graft.core.DDFManager(spark)
    Seq("documents").foreach(t => spark.read.parquet(s"$sfDir/$t.parquet")
      .createOrReplaceTempView(t))

    def selOf(): DataFrame = {
      val docs = spark.table("documents")
      val keep = Seq(col("lang"), col("source"), col("n_chars"))
      val variants = docs.select(col("doc_id") +:
          concat(col("text"), lit(" café")).as("text") +: keep: _*)
        .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id") +:
          concat(col("text"), lit(" café")).as("text") +: keep: _*))
      val canon = variants.withColumn("text",
        graft.functions.VectorFunctions.unicodeNormalize(col("text")))
      val surv = graft.pipeline.Dedup.exactSurvivors(canon, "text", "doc_id")
      graft.operators.Views.budgetSelectByGroup(surv, "source",
        Seq(col("n_chars").desc, col("doc_id").asc), "n_chars",
        budgets = Map("src1" -> 5000L, "src7" -> 0L), defaultBudget = 3000L)
    }
    def finish(sel: DataFrame): Unit = {
      val docs = spark.table("documents")
      val target = docs.filter(col("source").isin("src0", "src1", "src2"))
      val out = graft.operators.Views.matchDistribution(
          m.register(sel), "lang", "doc_id", target)
        .df.select("doc_id", "source", "lang", "n_chars").orderBy("doc_id")
      out.select(xxhash64(out.columns.map(col): _*).as("__h"))
        .agg(expr("bit_xor(__h)")).collect()
    }
    def timed(label: String)(body: => Unit): Unit = {
      var best = Double.MaxValue
      (1 to runs).foreach { _ =>
        val t0 = System.nanoTime()
        body
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.sharedState.cacheManager.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
      println(f"[p08probe] $label%-10s min-of-$runs = $best%6.2f s")
    }

    finish(selOf()) // warmup
    timed("rebuild") { finish(selOf()) }
    timed("persist") {
      val sel = selOf().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try finish(sel) finally sel.unpersist(blocking = false)
    }
    timed("localckpt") {
      val sel = selOf().localCheckpoint(eager = true)
      try finish(sel) finally graft.core.Checkpoints.release(sel)
    }
    // checkpoint placement variants: materialize the pre-budget survivor
    // frame (the expensive dedup chain) instead of / in addition to the
    // post-budget selection
    def survOf(): DataFrame = {
      val docs = spark.table("documents")
      val keep = Seq(col("lang"), col("source"), col("n_chars"))
      val variants = docs.select(col("doc_id") +:
          concat(col("text"), lit(" café")).as("text") +: keep: _*)
        .unionByName(docs.select((col("doc_id") + 1000000L).as("doc_id") +:
          concat(col("text"), lit(" café")).as("text") +: keep: _*))
      val canon = variants.withColumn("text",
        graft.functions.VectorFunctions.unicodeNormalize(col("text")))
      graft.pipeline.Dedup.exactSurvivors(canon, "text", "doc_id")
    }
    def selFrom(surv: DataFrame): DataFrame =
      graft.operators.Views.budgetSelectByGroup(surv, "source",
        Seq(col("n_chars").desc, col("doc_id").asc), "n_chars",
        budgets = Map("src1" -> 5000L, "src7" -> 0L), defaultBudget = 3000L)
    timed("ckpt_surv") {
      val surv = survOf().localCheckpoint(eager = true)
      try finish(selFrom(surv)) finally graft.core.Checkpoints.release(surv)
    }
    timed("ckpt_both") {
      val surv = survOf().localCheckpoint(eager = true)
      try {
        val sel = selFrom(surv).localCheckpoint(eager = true)
        try finish(sel) finally graft.core.Checkpoints.release(sel)
      } finally graft.core.Checkpoints.release(surv)
    }
    spark.stop()
  }
}
