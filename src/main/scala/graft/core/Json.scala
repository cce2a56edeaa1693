package graft.core

/** The one JSON string-literal encoder: Bloblang's `format_json`, Lua's
  * `cjson.encode`, the msgpack→JSON codec, `Verify`'s oracle_sql.json and
  * the harness receipt lines all write strings through [[quote]]. */
object Json {
  private val hex = "0123456789abcdef"

  /** `s` as a quoted JSON string. `"` and `\` are backslash-escaped,
    * newline, CR and tab take their short forms, every other control
    * character below U+0020 becomes `\u00xx` (lowercase hex). Everything
    * else passes through unchanged: U+007F, non-ASCII and surrogate
    * pairs included. */
  def quote(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb += '"'
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"'  => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= "\\u00" += hex(c >> 4) += hex(c & 0xf)
        case c => sb += c
      }
      i += 1
    }
    (sb += '"').toString
  }
}
