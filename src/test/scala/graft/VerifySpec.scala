package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one JSON string escaper that writes oracle_sql.json (Verify)
  * and the DuckDB baseline's oracle file (Bench).
  */
class VerifySpec extends AnyFunSuite {

  test("jsonString escapes quote, backslash, \\n, \\r, \\t and other control chars") {
    assert(Verify.jsonString("a\"b\\c\nd\re\tf\u0001g") ==
      "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    assert(Verify.jsonString("") == "\"\"")
    // a strict JSON parser reads every escaped string back unchanged
    val s = "SELECT '\"x\"' AS \\q\n\r\t\u0000\u0001\u001f é"
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(m.readTree(Verify.jsonString(s)).asText() == s)
  }
}
