package graft

import graft.core.DDFManager
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = DDFManager.localSession(4)
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The sf dir of the corpus that `SparkEntry.entry`'s smoke query reads. */
  lazy val smokeSfDir: String = {
    val lineitem = new java.io.File(new java.net.URI(SparkEntry.entry(spark).inputFiles.head))
    Iterator.iterate(lineitem)(_.getParentFile).find(_.getName == "lineitem.parquet").get.getParent
  }

  /** Runs `body` on a new temp dir whose name starts with `prefix`, then
    * deletes the dir and everything in it, whether or not the body threw.
    */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir) finally graft.tools.Cleanup.deleteRecursively(dir)
  }
}
