package graft.tools

import graft.core.DDFManager
import graft.pipeline.Dedup
import org.apache.spark.sql.functions._

/** Stage-level probe of the incremental-minhash (d11) shape at the
  * ScaleSmoke 10× scale — attributes the wall time of the worst-case
  * dup-heavy split (25k-doc index, 25k-doc batch, 10-sibling clusters)
  * to individual stages. Inputs are written to parquet first so every
  * stage reads storage like production, not a 10-way union lineage.
  * Dev tool — not part of the driver contract.
  */
object ProbeD11 {
  def main(args: Array[String]): Unit = {
    val spark = DDFManager.localSession(32)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val f = sys.env.getOrElse("SPARK_GRAFT_FACTOR", "10").toInt
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val blown = (0 until f).map(i =>
      docs.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        concat(col("text"), lit(" v" + i)).as("text")))
      .reduce(_ unionAll _)
    val base = java.nio.file.Files.createTempDirectory("probe_d11").toString
    blown.filter(col("doc_id") % 2 === 0).write.parquet(s"$base/old")
    blown.filter(col("doc_id") % 2 === 1).write.parquet(s"$base/batch")
    val old = spark.read.parquet(s"$base/old")
    val batch = spark.read.parquet(s"$base/batch")

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[d11] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    timed("index build (cold)")(Dedup.bandRows(
      Dedup.minhashSignaturesFromShingles(Dedup.shingled(old, "text", "doc_id"))).count())
    val index = timed("index build+checkpoint")(Dedup.bandRows(
      Dedup.minhashSignaturesFromShingles(Dedup.shingled(old, "text", "doc_id")))
      .localCheckpoint())

    val sh = Dedup.shingled(batch, "text", "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    timed("batch shingled (persist)")(sh.count())
    val sigs = Dedup.minhashSignaturesFromShingles(sh)
    val rows = Dedup.bandRows(sigs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    timed("batch sigs+bandRows (persist)")(rows.count())
    val cand = timed("cand self-join+checkpoint")(
      Dedup.candidatePairsFromBandRows(rows).localCheckpoint())
    println(s"[d11] cand pairs = ${cand.count()}")
    val members = cand.select(col("id1").as("id"))
      .unionAll(cand.select(col("id2").as("id"))).distinct()
    val losers = Dedup.jaccardOnShingledPairs(cand, sh.join(members, Seq("id"), "left_semi"))
      .filter(col("jaccard") >= 0.5)
      .select(col("id2").as("doc_id")).distinct()
    timed("verify (jaccard) + losers")(losers.count())
    val dupIds = rows
      .join(index.select(col("band"), col("sig")), Seq("band", "sig"), "left_semi")
      .select(col("id").as("doc_id")).distinct()
    timed("index probe (dupIds)")(dupIds.count())
    val kept = batch.join(losers.unionAll(dupIds).distinct(), Seq("doc_id"), "left_anti")
    timed("anti-join kept")(kept.count())
    timed("full incrementalMinhash call")(
      Dedup.incrementalMinhash(batch, index, "text", "doc_id", threshold = 0.5)._1.count())
    spark.stop()
    Cleanup.deleteRecursively(base)
  }
}
