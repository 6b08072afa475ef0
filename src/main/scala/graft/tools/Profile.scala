package graft.tools

import graft.core.DDFManager
import graft.pipeline.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Scratch profiler for the heavy pipeline queries (d02 minhash, a01
  * brute ANN, t01 text enrich) — times each stage separately (3 runs
  * each; min + all samples printed) so regressions are attributable and
  * host-noise spikes are visible. Not part of the driver contract.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DDFManager.localSession(32)

    def timed[T](name: String)(f: => T): T = {
      var last: Option[T] = None
      val samples = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        last = Some(f)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[profile] $name%-28s min ${samples.min}%8.2f s   " +
        samples.map(s => f"$s%.2f").mkString("(", ", ", ")"))
      last.get
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    timed("docs read+count")(docs.count())

    // --- d02 minhash stages ---
    timed("shingled")(Dedup.shingled(docs, "text", "doc_id").count())
    timed("signatures")(Dedup.minhashSignatures(docs, "text", "doc_id").count())
    // candidates/full are EAGER (localCheckpoint inside) — time construction
    timed("candidates")(Dedup.minhashCandidates(docs, "text", "doc_id").count())
    timed("full_dedup")(Dedup.minhashDedup(docs, "text", "doc_id", threshold = 0.5).count())
    spark.sharedState.cacheManager.clearCache()

    // --- d11 incremental-minhash stages (50/50 split — the worst case:
    // index and batch each hold half the corpus) ---
    {
      val old = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
      timed("d11 index build")(Dedup.bandRows(
        Dedup.minhashSignaturesFromShingles(Dedup.shingled(old, "text", "doc_id"))).count())
      val index = Dedup.bandRows(
        Dedup.minhashSignaturesFromShingles(Dedup.shingled(old, "text", "doc_id")))
        .localCheckpoint()
      timed("d11 probe (incl. in-batch)")(
        Dedup.incrementalMinhash(batch, index, "text", "doc_id", threshold = 0.5)._1.count())
      spark.sharedState.cacheManager.clearCache()
    }

    // --- t01 text-enrich stages ---
    // count() lets Catalyst PRUNE the computed columns — force each
    // metric to materialize by hashing it into an aggregate instead.
    def force(df: org.apache.spark.sql.DataFrame): Long =
      df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .agg(expr("bit_xor(h)")).collect()(0).getLong(0)
    val toksCol = expr(TextAnalysis.tokensExpr("text")).as("__toks")
    timed("t01 full select")(force(
      TextAnalysis.enrich(docs, "text").select(col("doc_id"), col("token_count"),
        col("subword_count"), col("lang_pred"), round(col("quality"), 6), col("fingerprint"))))
    timed("tokens only")(force(docs.select(toksCol)))
    timed("langId HOF (ref)")(force(docs.select(toksCol).select(TextAnalysis.langIdOf("__toks").as("v"))))
    timed("langId native")(force(docs.select(toksCol).select(TextAnalysis.langIdCol(col("__toks")).as("v"))))
    timed("subword only")(force(docs.select(toksCol).select(TextAnalysis.subwordCountEstimateOf("__toks").as("v"))))
    timed("quality only")(force(docs.select(col("text"), toksCol)
      .select(TextAnalysis.qualityScoreOf("text", "__toks").as("v"))))
    timed("fingerprint only")(force(docs.select(TextAnalysis.fingerprintMd5("text").as("v"))))

    // --- a01 brute ANN stages ---
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("embedding"))
    timed("emb cast+count")(emb.count())
    val queries = emb.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "qid")
    timed("ann_brute")(
      Similarity.bruteForceTopK(emb, queries, "embedding", "vec_id", "qid", 10).count())
    val embF = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queriesF = embF.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "qid")
    timed("ann_brute(float,no-cast)")(
      Similarity.bruteForceTopK(embF, queriesF, "embedding", "vec_id", "qid", 10).count())

    spark.stop()
  }
}
