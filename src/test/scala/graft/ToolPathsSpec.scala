package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** [[ToolPaths.jsonString]] writes literals a JSON parser reads back
  * unchanged, whatever an error message or oracle SQL text holds.
  */
class ToolPathsSpec extends AnyFunSuite {

  test("jsonString round-trips quotes, backslashes and control characters through Jackson") {
    val mapper = new ObjectMapper
    Seq("say \"hi\"", "C:\\tmp\\x", "a\tb", "line\r\nnext", "bell\u0001end",
      "all: \" \\ \t \r \n \u0001 \u001f é").foreach { s =>
      val lit = ToolPaths.jsonString(s)
      assert(!lit.exists(_ < ' '), lit)
      assert(mapper.readValue(lit, classOf[String]) == s, lit)
      val rec = mapper.readTree(s"""{"error":$lit}""")
      assert(rec.get("error").asText == s)
    }
  }
}
