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
}
