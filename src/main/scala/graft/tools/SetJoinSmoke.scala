package graft.tools

import graft.core.DDFManager
import graft.pipeline.SetJoin

/** Measures the prefix filter's pruning power and wall time on the real
  * documents corpus at a given sf dir + threshold. Prints one JSON line.
  * Run: sbt "runMain graft.tools.SetJoinSmoke [sfDir] [threshold] [nDocs]"
  */
object SetJoinSmoke {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val t = args.lift(1).map(_.toDouble).getOrElse(0.8)
    val nDocs = args.lift(2).map(_.toLong).getOrElse(Long.MaxValue)
    val spark = DDFManager.localSession(32)
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < nDocs)
    val n = docs.count()
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val (nCands, tc) = timed(SetJoin.candidates(docs, "text", "doc_id", t).count())
    val (nPairs, tv) = timed(SetJoin.exactJaccardJoin(docs, "text", "doc_id", t).count())
    val allPairs = n * (n - 1) / 2
    println(f"""{"docs":$n,"threshold":$t,"all_pairs":$allPairs,""" +
      f""""candidates":$nCands,"cand_frac":${nCands.toDouble / allPairs}%.4f,""" +
      f""""result_pairs":$nPairs,"cand_s":$tc%.2f,"join_s":$tv%.2f}""")
    spark.stop()
  }
}
