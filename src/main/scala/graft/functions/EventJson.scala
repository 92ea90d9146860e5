package graft.functions

import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.unsafe.types.UTF8String

/** The `event_json` kernel: serialize an open-schema event map to the
  * reference's NDJSON line format (log-ship/src/plugins/file.rs:859-871 —
  * `event.to_string()` + '\n'): serde_json with the default BTreeMap event
  * map, i.e. COMPACT output with keys in ascending byte order, string
  * values JSON-escaped exactly like serde_json (`"` `\` and C0 controls
  * only; \b \t \n \f \r shorthands, \u00xx lowercase otherwise). A `t`
  * whose value is a canonical integer is emitted as a bare JSON number: the
  * reference inserts `t` as i64 and everything else of the map as strings
  * (fortinet.rs:90,105; syslog.rs:55-64; the numeric proc_id is the
  * documented string deviation, see PatternDictionary's knowing deviations).
  */
object EventJson {

  private val NumericKey = UTF8String.fromString("t")

  /** serde_json-compatible string escape into `sb`. */
  private def appendEscaped(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case x if x < 0x20 =>
          sb.append("\\u")
          sb.append(f"${x.toInt}%04x")
        case x => sb.append(x)
      }
      i += 1
    }
    sb.append('"')
  }

  /** Canonical i64 check: what serde_json would have produced for an i64
    * (optional '-', digits, no leading zeros unless the value is 0).
    */
  private def isCanonicalInt(v: UTF8String): Boolean = {
    val s = v.toString
    val body = if (s.startsWith("-")) s.substring(1) else s
    body.nonEmpty && body.length <= 19 && body.forall(_.isDigit) &&
      (body.length == 1 || body.charAt(0) != '0')
  }

  def serialize(map: MapData): UTF8String = {
    val n = map.numElements()
    val ka = map.keyArray(); val va = map.valueArray()
    // ascending byte order = Rust String Ord = serde_json BTreeMap order
    // (UTF8String.compareTo is unsigned byte-wise)
    val keys = Array.tabulate(n)(ka.getUTF8String)
    val order = Array.tabulate(n)(identity)
      .sortWith((a, b) => keys(a).compareTo(keys(b)) < 0)
    val sb = new java.lang.StringBuilder(64 + n * 24)
    sb.append('{')
    var first = true
    var oi = 0
    while (oi < order.length) {
      val i = order(oi)
      if (!first) sb.append(',')
      first = false
      appendEscaped(sb, keys(i).toString)
      sb.append(':')
      if (va.isNullAt(i)) sb.append("null")
      else {
        val v = va.getUTF8String(i)
        if (keys(i).equals(NumericKey) && isCanonicalInt(v))
          sb.append(v.toString)
        else appendEscaped(sb, v.toString)
      }
      oi += 1
    }
    sb.append('}')
    UTF8String.fromString(sb.toString)
  }
}
