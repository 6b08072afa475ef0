package graft.tools

import graft.core.DDFManager
import graft.sources.Layout
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Measures what Z-order clustering buys over a linear sort: per-file
  * span geometry and actual rows scanned under a 2-D range predicate
  * (parquet row-group skipping via footer stats). Prints one JSON line.
  *
  * Run: sbt "runMain graft.tools.ZorderSmoke [nRows] [nFiles]"
  */
object ZorderSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val files = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = DDFManager.localSession(32)
    spark.sparkContext.setLogLevel("ERROR")

    val side = math.sqrt(n.toDouble).toInt
    val df = spark.range(0, side.toLong * side).select(col("id"),
      (col("id") % side).as("x"), (col("id") / side).cast("long").as("y"),
      (col("id") * 7 % 1000).as("payload"))
    val dir = Files.createTempDirectory("graft_zsmoke").toString
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    df.count() // JVM/codegen warmup so the first timed write isn't penalized
    val (_, tz) = timed(Layout.zorderWrite(df, Seq("x", "y"), s"$dir/z", files))
    val (_, tl) = timed(df.repartitionByRange(files, col("x"))
      .sortWithinPartitions("x").write.mode("overwrite").parquet(s"$dir/linear"))

    def meanSpan(path: String, c: String): Double =
      Layout.fileSpans(spark, path, Seq("x", "y"))
        .agg(avg(col(s"hi_$c") - col(s"lo_$c"))).first().getDouble(0) / (side - 1).toDouble

    // selective 2-D box: ~1% of the domain on each axis product
    val lo = side / 10; val hi = side / 10 + side / 10
    def scanned(path: String): (Long, Long, Double) = {
      val q = spark.read.parquet(path)
        .filter(col("x").between(lo, hi) && col("y").between(lo, hi))
      // metrics live on THIS query's executed plan — collect it directly;
      // min-of-3 so cold-read warmup doesn't charge one layout
      val runs = (1 to 3).map(_ => timed(q.collect().length.toLong))
      val res = runs.head._1
      val t = runs.map(_._2).min
      val rows = q.queryExecution.executedPlan.collectLeaves().collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
      (res, rows, t)
    }
    val (zRes, zRows, zT) = scanned(s"$dir/z")
    val (lRes, lRows, lT) = scanned(s"$dir/linear")
    require(zRes == lRes, s"result mismatch: $zRes vs $lRes")
    println(f"""{"n":$n,"files":$files,"write_s":{"z":$tz%.2f,"linear":$tl%.2f},""" +
      f""""mean_span_frac":{"z_x":${meanSpan(s"$dir/z", "x")}%.3f,"z_y":${meanSpan(s"$dir/z", "y")}%.3f,""" +
      f""""lin_x":${meanSpan(s"$dir/linear", "x")}%.3f,"lin_y":${meanSpan(s"$dir/linear", "y")}%.3f},""" +
      f""""box_matches":$zRes,"rows_scanned":{"z":$zRows,"linear":$lRows},""" +
      f""""scan_s":{"z":$zT%.2f,"linear":$lT%.2f}}""")
    spark.stop()
  }
}
