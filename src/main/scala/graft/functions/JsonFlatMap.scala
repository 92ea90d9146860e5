package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(text, map<string,string>)` as a CODEGEN'D kernel: the
  * `json_flat_map` function, null for malformed input.
  *
  * Spark's own JsonToStructs is CodegenFallback, and whole-stage codegen
  * EXCLUDES any operator containing a fallback expression — so the single
  * from_json inside the parse projection (the `{`-gated JSON format branch,
  * plugins/file.rs:136-151) silently pushed the ENTIRE fused
  * parse/enrich/route projection out of WholeStageCodegen. This kernel
  * restores fusion; the parse itself replicates JacksonParser's
  * StringType-value semantics:
  *
  *   - top-level value must be an object; anything else (array, scalar,
  *     malformed, empty) -> null (PERMISSIVE-mode corrupt record)
  *   - string values -> their text; null -> null
  *   - any other value (number, bool, nested object/array) -> its
  *     re-serialized JSON text (Jackson copyCurrentStructure, exactly the
  *     path Spark takes for non-string tokens under a StringType target)
  *   - duplicate keys preserved in order (Spark's map builder does not
  *     dedupe parsed JSON)
  *   - trailing content after the closing brace is ignored (Spark reads
  *     one root value and stops)
  */
object JsonFlatMap {

  private val factory = new JsonFactory()

  /** null on anything that is not a JSON object (the warn+drop policy —
    * never throws).
    */
  def parse(s: UTF8String): MapData = {
    val bytes = s.getBytes
    var parser: JsonParser = null
    try {
      parser = factory.createParser(bytes, 0, bytes.length)
      if (parser.nextToken() != JsonToken.START_OBJECT) return null
      val keys = new java.util.ArrayList[Any](8)
      val vals = new java.util.ArrayList[Any](8)
      var t = parser.nextToken()
      while (t != JsonToken.END_OBJECT) {
        if (t != JsonToken.FIELD_NAME) return null
        val k = UTF8String.fromString(parser.currentName())
        val v = parser.nextToken() match {
          case JsonToken.VALUE_STRING => UTF8String.fromString(parser.getText)
          case JsonToken.VALUE_NULL => null
          case _ =>
            // numbers, booleans, nested objects/arrays: re-serialize the
            // subtree, mirroring JacksonParser's StringType fallthrough
            val out = new java.io.ByteArrayOutputStream(32)
            val gen = factory.createGenerator(out)
            try gen.copyCurrentStructure(parser) finally gen.close()
            UTF8String.fromBytes(out.toByteArray)
        }
        keys.add(k)
        vals.add(v)
        t = parser.nextToken()
      }
      new ArrayBasedMapData(
        new GenericArrayData(keys.toArray), new GenericArrayData(vals.toArray))
    } catch {
      case _: Exception => null
    } finally {
      if (parser != null) parser.close()
    }
  }
}
