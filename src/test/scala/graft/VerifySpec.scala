package graft

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The driver-contract dump: result dirs plus the oracle JSON file. */
class VerifySpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private def readOracle(path: String): Map[String, String] =
    new ObjectMapper().readValue(new File(path), classOf[java.util.Map[String, String]])
      .asScala.toMap

  test("Verify.run with a query list writes exactly those results and their oracles") {
    val out = util.TempDirs.create("graft_verify_")
    val only = Set("q08_star_join", "q11_filter_project")
    Verify.run(spark, sf, out, Some(only))
    assert(new File(out).list().toSet == only + "oracle_sql.json")
    only.foreach { q =>
      assert(spark.read.parquet(s"$out/$q").count() > 0, s"$q wrote no rows")
    }
    assert(readOracle(s"$out/oracle_sql.json") == SparkEntry.oracleSql.filter(q => only(q._1)))
  }

  test("oracle JSON writer round-trips quote, backslash and control characters") {
    val path = util.TempDirs.create("graft_oracle_json_") + "/oracle_sql.json"
    val sql = Map(
      "q\"x\\" -> "SELECT '\"a\\b'\t\r\n\u0001 AS c",
      "plain" -> "SELECT 1")
    Verify.writeOracleSql(path, sql)
    assert(readOracle(path) == sql)
  }
}
