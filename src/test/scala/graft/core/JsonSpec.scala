package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** [[Json.quote]] output parses back to the input (snakeyaml reads JSON,
  * as NotificationStore.readDeclaration does) and keeps the exact escape
  * spelling Bench and Verify have always printed. */
class JsonSpec extends AnyFunSuite {
  private def parse(doc: String): AnyRef = new org.yaml.snakeyaml.Yaml().load[AnyRef](doc)

  test("every control char, quote and backslash round-trips") {
    val chars = (0 until 0x20).map(_.toChar) ++ Seq('"', '\\')
    chars.foreach { c =>
      val s = s"a${c}b"
      assert(parse(s"""{"k": ${Json.quote(s)}}""") ==
        java.util.Map.of("k", s), f"char 0x${c.toInt}%02x")
    }
    val all = chars.mkString
    assert(parse(Json.quote(all)) == all)
  }

  test("escape spelling is fixed") {
    assert(Json.quote("plain") == "\"plain\"")
    assert(Json.quote("q\"b\\n\nr\rt\tx\u0001") ==
      "\"q\\\"b\\\\n\\nr\\rt\\tx\\u0001\"")
    assert(Json.quote("\u001f é") == "\"\\u001f é\"")
  }
}
