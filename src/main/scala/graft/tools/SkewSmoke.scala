package graft.tools

import graft.core.DDFManager
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures the skewed-join story SCALE.md asserts: one Zipf-hot key
  * owning ~20% of the fact side (the q21 shape), joined to a
  * non-broadcastable dim, under three plans:
  *
  *   - `plain`  : AQE off — the single monster reduce partition;
  *   - `aqe`    : AQE skew-join split (the default production path for
  *                sort-merge joins);
  *   - `salted` : [[graft.operators.Joins.saltedJoin]] with
  *                SPARK_GRAFT_SALT (default 16) — the explicit tool for
  *                when AQE can't help (hash aggs, pre-shuffle stages).
  *
  * Broadcast is disabled throughout: a broadcast join has no reduce
  * partition to skew, and at production dim sizes broadcast isn't
  * available anyway — that's exactly when skew hurts.
  *
  * Prints min-of-SPARK_GRAFT_RUNS wall times; SPARK_GRAFT_ROWS scales
  * the fact side (default 8 M rows, hot key = 20%).
  */
object SkewSmoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rows = sys.env.getOrElse("SPARK_GRAFT_ROWS", "8000000").toLong
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val saltF = sys.env.getOrElse("SPARK_GRAFT_SALT", "16").toInt
    val nKeys = 100000L
    val spark = DDFManager.localSession(cpus.toInt)

    // fact: 20% of rows carry key 0; the rest spread uniformly. The
    // payload column gives each row weight so the skewed task cost is
    // row-processing, not just row-counting. Deterministic (id-derived).
    val fact = spark.range(rows).select(
      when(col("id") % 5 === 0, 0L)
        .otherwise(pmod(xxhash64(col("id")), lit(nKeys - 1)) + 1).as("k"),
      concat(lit("payload_"), col("id")).as("pay"))
    val dim = spark.range(nKeys).select(col("id").as("k"),
      concat(lit("attr_"), col("id")).as("attr"))
    // unique workspace + finally-cleanup: concurrent or failed runs must
    // neither collide on a shared path nor leave stale parquet behind
    val work = java.nio.file.Files.createTempDirectory("graft_skew").toString
    try {
      fact.write.mode("overwrite").parquet(s"$work/fact")
      dim.write.mode("overwrite").parquet(s"$work/dim")
      val f = spark.read.parquet(s"$work/fact")
      val d = spark.read.parquet(s"$work/dim")

      def conf(k: String, v: String): Unit = spark.conf.set(k, v)
      def materialize(df: DataFrame): Long =
        df.agg(sum(length(col("pay")) + length(col("attr")))).first().getLong(0)

      def timeIt(name: String)(thunk: => Long): Unit = {
        var best = Double.MaxValue; var out = 0L
        for (_ <- 1 to runs) {
          val t0 = System.nanoTime()
          out = thunk
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
        println(f"[skew] $name%-8s min=$best%6.2f s  (checksum=$out)")
      }

      conf("spark.sql.autoBroadcastJoinThreshold", "-1")

      conf("spark.sql.adaptive.enabled", "false")
      timeIt("plain") { materialize(f.join(d, Seq("k"))) }

      conf("spark.sql.adaptive.enabled", "true")
      conf("spark.sql.adaptive.skewJoin.enabled", "true")
      timeIt("aqe") { materialize(f.join(d, Seq("k"))) }

      conf("spark.sql.adaptive.enabled", "false")
      timeIt("salted") {
        materialize(graft.operators.Joins.saltedJoin(f, d, Seq("k"), saltF))
      }
    } finally {
      spark.stop()
      Cleanup.deleteRecursively(work)
    }
  }
}
