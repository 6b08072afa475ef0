package graft.tools

import graft.core.DDFManager
import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

/** Scratch micro-benchmark main (not part of the driver contract):
  * native vector expressions vs interpreted HOF on the ANN scoring loop.
  */
object Probe {
  def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val spark = DDFManager.localSession(8)
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").cache()
    println(s"[probe] vectors: ${emb.count()}")
    val queries = emb.filter(col("vec_id") < 20)
      .withColumnRenamed("vec_id", "qid").withColumnRenamed("embedding", "qv").cache()
    queries.count()

    def run(label: String, scoreCol: org.apache.spark.sql.Column): Unit =
      time(label) {
        emb.crossJoin(broadcast(queries))
          .select(col("qid"), col("vec_id"), scoreCol.as("c"))
          .agg(sum("c")).collect()
      }

    // warm both paths once, then measure
    run("native warmup", Similarity.cosine(col("qv"), col("embedding")))
    run("hof warmup", Similarity.cosineHof(col("qv"), col("embedding")))
    run("native cosine 20x2000", Similarity.cosine(col("qv"), col("embedding")))
    run("hof cosine 20x2000", Similarity.cosineHof(col("qv"), col("embedding")))
    spark.stop()
  }
}
