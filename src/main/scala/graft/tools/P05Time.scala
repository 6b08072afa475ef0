package graft.tools

import graft.core.DDFManager
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe (r17 optimization round): p05's composed chain with each
  * stage CHECKPOINT-ISOLATED and timed — unlike P05Probe (row counts),
  * this measures where the 8 s goes. Stage inputs are eagerly
  * materialized, so a stage's time is its own work only.
  */
object P05Time {
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[p05time] $label%-30s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DDFManager.localSession(32)
    for (round <- 1 to 2) {
      println(s"--- round $round")
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val selIds = time("1 dsir resample") {
        graft.pipeline.Dsir.resample(
            docs.filter(col("doc_id") % 7 =!= 0),
            docs.filter(col("doc_id") % 7 === 0),
            "text", "doc_id", k = 300, buckets = 4096)
          .select(col("id").as("doc_id")).localCheckpoint(eager = true)
      }
      val sel = docs.join(broadcast(selIds), Seq("doc_id"))
      val surv = time("2 exact survivors") {
        graft.pipeline.Dedup.exactSurvivors(sel, "text", "doc_id")
          .localCheckpoint(eager = true)
      }
      val nodup = time("3 minhash dedup") {
        val dups = graft.pipeline.Dedup.minhashDedup(surv, "text", "doc_id",
            threshold = 0.7, portable = true)
          .select(col("id2").as("doc_id")).distinct()
        surv.join(dups, Seq("doc_id"), "left_anti").localCheckpoint(eager = true)
      }
      val benches = docs.filter(col("doc_id") % 37 === 0)
        .select(concat(lit("b"), (col("doc_id") % 3).cast("string")).as("bench_id"),
          col("text"))
      val clean = time("4 decontaminate") {
        graft.pipeline.TextAnalysis.decontaminatedAll(
          nodup, benches, "text", "doc_id", "bench_id", n = 3)
          .localCheckpoint(eager = true)
      }
      val ordered = time("5 curriculum order") {
        graft.pipeline.TextAnalysis.curriculumOrder(
          clean.select(col("doc_id"),
            graft.pipeline.TextAnalysis.tokenCount("text").cast("double").as("score")),
          "score", "doc_id", cutoffs = Seq(30.0, 60.0, 90.0))
          .localCheckpoint(eager = true)
      }
      val packed = time("6 pack chunks") {
        graft.pipeline.TextAnalysis.packChunks(
          ordered.select(col("ord").as("id"), lit(0L).as("chunk_id"),
            col("score").cast("long").as("n_tokens"), col("id").as("doc_id")),
          budgetTokens = 256, nBuckets = 8)
          .localCheckpoint(eager = true)
      }
      val tmp = java.nio.file.Files.createTempDirectory("p05time").toString
      try {
        val out = packed.withColumn("shard", shiftright(col("seq_id"), 33))
        // r18: the query's fused one-scan publish (manifest + profile)
        val prof = time("7 write+manifest+profile") {
          graft.sources.Manifest.writeWithManifestAndProfile(out, s"$tmp/corpus",
            partitionCols = Seq("shard"))._2
        }
        time("9 verify manifest") {
          graft.sources.Manifest.verifyManifest(spark, s"$tmp/corpus")
            .agg(coalesce(sum(when(col("ok"), 0L).otherwise(1L)), lit(0L)))
            .first().getLong(0)
        }
        time("10 published_docs from returned profile") {
          prof.filter(col("col_name") === "doc_id")
            .select("row_count").first().getLong(0)
        }
        time("11 final groupBy readback") {
          spark.read.parquet(s"$tmp/corpus")
            .groupBy("seq_id")
            .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
              min(col("id")).as("first_ord"), min("doc_id").as("min_doc_id"))
            .collect().length
        }
      } finally Cleanup.deleteRecursively(tmp)
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
