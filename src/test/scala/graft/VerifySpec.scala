package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The JSON files the correctness dump writes for the DuckDB compare. */
class VerifySpec extends AnyFunSuite {

  test("oracle_sql.json round-trips every oracle and a string of control characters") {
    val m = SparkEntry.oracleSql + ("escapes" -> "tab\there, cr\rthere, \"quoted\", back\\slash, \u0001")
    val f = java.nio.file.Files.createTempFile("graft_oracle_sql", ".json")
    try {
      Verify.writeJson(f.toString, m)
      val back = new ObjectMapper().readValue(f.toFile, classOf[java.util.Map[String, String]])
      assert(back.asScala.toMap == m)
    } finally java.nio.file.Files.deleteIfExists(f)
  }
}
