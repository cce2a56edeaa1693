package graft

import graft.blob.{Bloblang, Interp}
import graft.conn.Lua
import graft.conn.Lua.LStr
import graft.core.Json
import graft.functions.Codecs
import org.scalatest.funsuite.AnyFunSuite

/** One JSON string escaper ([[Json.quote]]) backs Bloblang's
  * `format_json`, Lua's `cjson.encode` and the msgpack→JSON codec. The
  * table pins its exact output through each of the three, control
  * characters and non-ASCII included. */
class JsonQuoteSpec extends AnyFunSuite {

  // (input string, the exact JSON literal every writer must emit)
  private val table: Seq[(String, String)] = Seq(
    "\"" -> "\"\\\"\"",
    "\\" -> "\"\\\\\"",
    "\n" -> "\"\\n\"",
    "\r" -> "\"\\r\"",
    "\t" -> "\"\\t\"",
    "\u0000" -> "\"\\u0000\"",
    "\u001f" -> "\"\\u001f\"",
    "\u007f" -> "\"\u007f\"",
    "é" -> "\"é\"",
    "\uD835\uDC9C" -> "\"\uD835\uDC9C\"", // 𝒜, a surrogate pair
    "" -> "\"\"",
    "a\"b\\c\u0001d" -> "\"a\\\"b\\\\c\\u0001d\"")

  test("Json.quote escapes quote, backslash and control characters only") {
    for ((in, out) <- table) assert(Json.quote(in) == out, s"input ${in.map(_.toInt)}")
  }

  test("Bloblang format_json emits the table's literals") {
    val m = Bloblang.parse("""root = env("S").format_json()""")
    for ((in, out) <- table)
      assert(Interp.run(m, "{}", Map.empty, Map("S" -> in)) == Some(out),
        s"input ${in.map(_.toInt)}")
  }

  test("Lua cjson.encode emits the table's literals") {
    val chunk = Lua.compile("return cjson.encode(s)")
    for ((in, out) <- table)
      assert(Lua.run(chunk, Map("s" -> LStr(in))) == Vector(LStr(out)),
        s"input ${in.map(_.toInt)}")
  }

  test("msgpack→JSON codec emits the table's literals") {
    for ((in, out) <- table) {
      val utf8 = in.getBytes("UTF-8")
      // msgpack fixstr: 0xa0 | length, then the UTF-8 bytes (all inputs < 32 bytes)
      val packed = (0xa0 | utf8.length).toByte +: utf8
      assert(Codecs.msgpackToJson(packed) == out, s"input ${in.map(_.toInt)}")
    }
  }
}
