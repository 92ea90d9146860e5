package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The logfmt kernels: parse a logfmt-formatted string into
  * `map<string,string>` (null value = key present without `=value`).
  *
  * Built because `str_to_map` cannot handle double-quoted values containing
  * spaces / `=` / delimiters, which the reference's data has everywhere
  * (e.g. `msg="Network.Service: SSL,"` in
  * /root/reference/log-ship/samples/fortinet_log.syslog:1). Semantics match
  * the `logfmt` crate as used by the reference transforms
  * (/root/reference/log-ship/src/plugins/logfmt.rs:75-95 and
  * fortinet.rs:78-92):
  *
  *   - `key=value` bare values end at whitespace; `key=` yields `""`
  *   - `key="quoted value"` may contain spaces/`=`/commas; `\"` and `\\`
  *     escapes are unescaped
  *   - a bare `key` token (no `=`) maps to null (the crate's `val: None`;
  *     logfmt.rs inserts it as JSON null, fortinet.rs drops it)
  *   - duplicate keys: last occurrence wins (serde_json Map insert)
  *
  * One static entry point per registered flavour, each a `KernelCall` in
  * [[GraftFunctions]], so the parse stays inside WholeStageCodegen (no UDF,
  * no interpreter fallback on the hot parse path).
  */
object LogfmtParse {

  private val NoExclude = new java.util.HashSet[String]()

  /** Keys fortinet.rs:80-88 pulls out for the timestamp stitch. */
  private val FortinetExclude = {
    val s = new java.util.HashSet[String]()
    s.add("date"); s.add("time")
    s
  }

  /** `logfmt_parse`: bare keys kept as null values (logfmt.rs:84
    * `Value::from(pair.val)`).
    */
  def logfmt(input: UTF8String): MapData = parse(input, false, NoExclude)

  /** `logfmt_parse_fortinet`: bare keys dropped (fortinet.rs:85-88 `if let
    * Some(val) = pair.val`), date/time kept out of the map.
    */
  def fortinet(input: UTF8String): MapData = parse(input, true, FortinetExclude)

  /** `logfmt_parse_sd`: RFC5424 structured-data params. k="v" pairs are
    * logfmt-compatible, and dropping valueless keys discards the bare SD-id
    * tokens.
    */
  def structuredData(input: UTF8String): MapData = parse(input, true, NoExclude)

  def parse(
      input: UTF8String,
      dropNullValues: Boolean,
      exclude: java.util.HashSet[String]): MapData = {
    val s = input.toString
    // insertion-ordered, last-wins on duplicate keys
    val keys = mutable.ArrayBuffer.empty[String]
    val vals = mutable.HashMap.empty[String, String] // null value allowed
    val n = s.length
    var i = 0
    while (i < n) {
      // skip inter-token whitespace
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      if (i < n) {
        // key: run of chars that are not whitespace, '=' or '"'
        val keyStart = i
        while (i < n && !Character.isWhitespace(s.charAt(i)) &&
               s.charAt(i) != '=' && s.charAt(i) != '"') i += 1
        val key = s.substring(keyStart, i)
        if (key.isEmpty) {
          // garbage ('=' or '"' with no key): skip one char
          i += 1
        } else if (i < n && s.charAt(i) == '=') {
          i += 1
          var value: String = null
          if (i < n && s.charAt(i) == '"') {
            // quoted value with \" and \\ escapes
            i += 1
            val sb = new java.lang.StringBuilder()
            var closed = false
            while (i < n && !closed) {
              val c = s.charAt(i)
              if (c == '\\' && i + 1 < n &&
                  (s.charAt(i + 1) == '"' || s.charAt(i + 1) == '\\')) {
                sb.append(s.charAt(i + 1)); i += 2
              } else if (c == '"') {
                closed = true; i += 1
              } else {
                sb.append(c); i += 1
              }
            }
            value = sb.toString
          } else {
            // bare value: up to whitespace (possibly empty)
            val vStart = i
            while (i < n && !Character.isWhitespace(s.charAt(i))) i += 1
            value = s.substring(vStart, i)
          }
          if (!exclude.contains(key)) {
            if (!vals.contains(key)) keys += key
            vals(key) = value
          }
        } else {
          // bare key, no '=': value is null (logfmt crate val: None)
          if (!dropNullValues && !exclude.contains(key)) {
            if (!vals.contains(key)) keys += key
            vals(key) = null
          }
        }
      }
    }
    val keyArr = new Array[Any](keys.length)
    val valArr = new Array[Any](keys.length)
    var j = 0
    while (j < keys.length) {
      val k = keys(j)
      keyArr(j) = UTF8String.fromString(k)
      val v = vals(k)
      valArr(j) = if (v == null) null else UTF8String.fromString(v)
      j += 1
    }
    new ArrayBasedMapData(new GenericArrayData(keyArr), new GenericArrayData(valArr))
  }
}
