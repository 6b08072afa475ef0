package graft

import graft.sources.Layout
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Z-order layout: content preservation, span geometry, and the actual
  * row-group skipping a clustered write buys.
  */
class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  private def grid(n: Int) = {
    // uniform 2-D grid, deliberately uncorrelated dims
    val side = math.sqrt(n.toDouble).toInt
    (0 until side * side).map(i => (i.toLong, (i % side).toLong, (i / side).toLong))
      .toDF("id", "x", "y")
  }

  test("zvalue interleaves bits with dim 0 in the high positions") {
    val df = Seq((0L, 0L), (3L, 0L), (0L, 3L), (3L, 3L)).toDF("a", "b")
    val z = df.select(Layout.zvalue(Seq(col("a"), col("b")), Seq((0.0, 3.0), (0.0, 3.0)), 2)
      .as("z")).collect().map(_.getLong(0)).toSeq
    // 2-bit quantization maps 0->0, 3->3; morton(a=3,b=0)=0b1010, (0,3)=0b0101
    assert(z == Seq(0L, 10L, 5L, 15L), s"got $z")
  }

  test("zorderWrite preserves content exactly and bounds per-file spans on BOTH dims") {
    val df = grid(4096)
    withTempDir("graft_zorder") { dir =>
      Layout.zorderWrite(df, Seq("x", "y"), s"$dir/z", numFiles = 16)
      df.sparkSession.read.parquet(s"$dir/z").createOrReplaceTempView("zback")
      // content round-trip
      val back = spark.table("zback").orderBy("id").collect()
      val orig = df.orderBy("id").collect()
      assert(back.length == orig.length && back.sameElements(orig))

      // linear sort on x for comparison
      df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(s"$dir/linear")

      def meanSpan(path: String, c: String): Double = {
        val s = Layout.fileSpans(spark, path, Seq("x", "y"))
          .agg(avg(col(s"hi_$c") - col(s"lo_$c"))).first().getDouble(0)
        s / 63.0 // domain is [0, 63]
      }
      // z-order: each file covers a modest window of BOTH dims
      assert(meanSpan(s"$dir/z", "x") < 0.5, "z layout must bound x spans")
      assert(meanSpan(s"$dir/z", "y") < 0.5, "z layout must bound y spans")
      // linear layout: x is tight but y is the whole domain
      assert(meanSpan(s"$dir/linear", "x") < 0.2)
      assert(meanSpan(s"$dir/linear", "y") > 0.9,
        "sort-by-x cannot bound the second dimension")
    }
  }

  test("row-group stats skip most of the data for a 2-D range predicate") {
    val df = grid(40000) // 200x200
    withTempDir("graft_zskip") { dir =>
      Layout.zorderWrite(df, Seq("x", "y"), s"$dir/z", numFiles = 16)
      df.repartitionByRange(16, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(s"$dir/linear")

      def scannedRows(path: String): Long = {
        val q = spark.read.parquet(path)
          .filter(col("x").between(10, 30) && col("y").between(10, 30))
        q.collect()
        q.queryExecution.executedPlan.collectLeaves().collect {
          case s: FileSourceScanExec => s.metrics("numOutputRows").value
        }.sum
      }
      val zRows = scannedRows(s"$dir/z")
      val linRows = scannedRows(s"$dir/linear")
      // both return the same 441 matches; z-order's footer stats let the
      // reader skip row groups the linear layout must scan for the y bound
      assert(zRows <= linRows,
        s"z-order scanned $zRows rows vs linear $linRows")
      assert(zRows < 40000 / 2, s"z layout should skip most row groups, scanned $zRows")
    }
  }

  test("compact refuses nested in/out paths (overwrite would eat the source)") {
    // r14 review: exact-equality was the only in-place guard, but an
    // ancestor outPath is deleted by mode("overwrite") BEFORE the lazy
    // scan reads a source file, and a descendant pollutes the input dir
    withTempDir("graft_compact_guard") { dir =>
      spark.range(10).write.parquet(s"$dir/t/day=1")
      val up = intercept[IllegalArgumentException](
        graft.sources.Layout.compact(spark, s"$dir/t/day=1", s"$dir/t", 1024L))
      assert(up.getMessage.contains("nested"), up.getMessage)
      val down = intercept[IllegalArgumentException](
        graft.sources.Layout.compact(spark, s"$dir/t/day=1", s"$dir/t/day=1/out", 1024L))
      assert(down.getMessage.contains("nested"), down.getMessage)
      // source untouched by both refusals
      assert(spark.read.parquet(s"$dir/t/day=1").count() == 10)
    }
  }

  test("compact merges a small-file explosion to the byte-sized target, content intact") {
    import java.nio.file.Files
    val df = grid(4096)
    withTempDir("graft_compact") { dir =>
      df.repartition(64).write.parquet(s"$dir/frag")
      // measure actual bytes, target ~quarter of them -> ~4 files
      val p = new org.apache.hadoop.fs.Path(s"$dir/frag")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val total = fs.listStatus(p).filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_")).map(_.getLen).sum
      val (before, after) = Layout.compact(spark, s"$dir/frag", s"$dir/out", total / 4)
      assert(before == 64 && after >= 4 && after <= 6, s"got $before -> $after")
      val back = spark.read.parquet(s"$dir/out").orderBy("id").collect()
      assert(back.sameElements(df.orderBy("id").collect()))
      // shuffle=true path also round-trips
      val (_, afterS) = Layout.compact(spark, s"$dir/frag", s"$dir/outS", total / 4,
        shuffle = true)
      assert(afterS >= 4 && afterS <= 6)
      assert(spark.read.parquet(s"$dir/outS").count() == 4096)
      intercept[IllegalArgumentException](
        Layout.compact(spark, s"$dir/frag", s"$dir/x", 0))
    }
  }
}
