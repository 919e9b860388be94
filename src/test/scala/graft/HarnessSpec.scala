package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The `oracle_sql.json` contract Verify and RoutedDump share: whatever an
  * oracle's SQL contains, a real JSON parser reads back the exact string. */
class HarnessSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val nasty = "SELECT \"a\\b\" FROM t\nWHERE x = '\r\t'\u0001 -- é"

  test("jsonString round-trips quotes, backslashes and control chars through a JSON parser") {
    val lit = Harness.jsonString(nasty)
    assert(!lit.exists(c => c < ' '), lit) // no raw control char survives
    assert(mapper.readValue(lit, classOf[String]) == nasty)
  }

  test("oracleJson parses back to the same name -> SQL entries") {
    val oracles = Seq("q_plain" -> "SELECT 1", "q_nasty" -> nasty)
    val tree = mapper.readTree(Verify.oracleJson(oracles))
    assert(tree.size == oracles.size)
    oracles.foreach { case (k, v) => assert(tree.get(k).asText == v, k) }
  }
}
