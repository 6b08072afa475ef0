package graft.tools

import graft.core.DDFManager
import org.apache.spark.sql.functions._

/** Dev probe: p05's stage-by-stage row counts at a given dir (default:
  * the bench's blown sf1 corpus) — finds which stage drains the chain.
  */
object P05Probe {
  def main(args: Array[String]): Unit = {
    val spark = DDFManager.localSession(32)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir =
      if (sys.env.contains("SPARK_GRAFT_NO_BLOW")) sfDir
      else graft.Bench.buildSf1(spark, sfDir)
    println(s"[p05probe] dir=$dir")
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      println(s"[p05probe] docs=${docs.count()}")
      val selIds = graft.pipeline.Dsir.resample(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "text", "doc_id", k = 300, buckets = 4096)
        .select(col("id").as("doc_id"))
      val sel = docs.join(broadcast(selIds), Seq("doc_id"))
      println(s"[p05probe] sel=${sel.count()}")
      val surv = graft.pipeline.Dedup.exactSurvivors(sel, "text", "doc_id")
      println(s"[p05probe] surv=${surv.count()}")
      val dups = graft.pipeline.Dedup.minhashDedup(surv, "text", "doc_id",
          threshold = 0.7, portable = true)
        .select(col("id2").as("doc_id")).distinct()
      val nodup = surv.join(dups, Seq("doc_id"), "left_anti")
      println(s"[p05probe] nodup=${nodup.count()}")
      val benches = docs.filter(col("doc_id") % 37 === 0)
        .select(concat(lit("b"), (col("doc_id") % 3).cast("string")).as("bench_id"),
          col("text"))
      val clean = graft.pipeline.TextAnalysis.decontaminatedAll(
        nodup, benches, "text", "doc_id", "bench_id", n = 3)
      println(s"[p05probe] clean=${clean.count()}")
    } finally if (!sys.env.contains("SPARK_GRAFT_NO_BLOW")) Cleanup.deleteRecursively(dir)
    spark.stop()
  }
}
