package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** `Verify.oracleJson` writes the oracle map the DuckDB compare reads. */
class VerifySpec extends AnyFunSuite {

  private def parse(json: String): Map[String, String] =
    new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]])
      .asScala.toMap

  test("the declared oracles round-trip through a JSON parser") {
    assert(parse(Verify.oracleJson(SparkEntry.oracleSql)) == SparkEntry.oracleSql)
  }

  test("control chars, quote, backslash and U+2028 are escaped") {
    val nasty = (0 until 0x20).map(_.toChar).mkString + "\"\\ \u2028"
    val m = Map("q_" + nasty -> ("SELECT '" + nasty + "'"), "plain" -> "")
    val json = Verify.oracleJson(m)
    assert(json.forall(_ >= ' '), json)
    assert(parse(json) == m)
  }
}
