package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.parse.PatternDictionary

/** Edge-case pins for the full parse_syslog fidelity surface
  * (/root/reference/log-ship/src/plugins/syslog.rs:22-97) beyond the
  * driver's generated line mix: multi-block structured data (last id wins,
  * all params merged), nil-everything RFC5424 headers, body JSON merging
  * overwriting header keys, pri values past local7 (facility omitted), and
  * the fortinet transform's no-'>' fallback.
  */
class SyslogSpec extends SparkSpec {

  private val RunTs = 1717200000000L

  /** The pipeline parse of one syslog line: its `fields` map, after
    * checking that the line was recognized as syslog.
    */
  private def parseOne(line: String): Map[String, String] = {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val row = PatternDictionary.parse(Seq(line).toDF("text"), RunTs)
      .select("format", "fields").head()
    assert(row.getString(0) === "syslog", line)
    row.getMap[String, String](1).toMap
  }

  test("RFC5424 multi-block SD: last id wins, all params merged") {
    val m = parseOne(
      """<165>1 2024-06-01T00:00:00Z host app 77 mid9 [first@1 a="x"][second@2 b="y z" a="x2"] hello""")
    assert(m("id") === "second@2")
    assert(m("a") === "x2") // later block's param overwrites (serde insert)
    assert(m("b") === "y z")
    assert(m("+message") === "hello")
    assert(m("msg_id") === "mid9")
    assert(m("facility") === "local4") // 165 >> 3 = 20
    assert(m("severity") === "notice") // 165 & 7 = 5
    assert(m("proc_id") === "77")
  }

  test("RFC5424 nil header fields are omitted; nil ts -> run clock") {
    val m = parseOne("""<34>1 - - app - - - {"k": "v", "hostname": "fromBody"}""")
    assert(!m.contains("proc_id") && !m.contains("msg_id") && !m.contains("id"))
    assert(m("t") === RunTs.toString)
    assert(m("k") === "v")
    // body JSON overwrites header keys (here: inserts hostname the nil
    // header omitted) — syslog.rs:81-87 insert semantics
    assert(m("hostname") === "fromBody")
    assert(!m.contains("+message"))
  }

  test("RFC3164 with non-object body keeps raw +message; facility named") {
    val m = parseOne("<13>Jun 05 04:03:02 h1 cron[7]: [1,2,3]")
    assert(m("facility") === "user" && m("severity") === "notice")
    assert(m("app_name") === "cron" && m("proc_id") === "7")
    assert(m("+message") === "[1,2,3]") // JSON array is not an object
  }

  test("pri past local7 omits facility but keeps severity") {
    val m = parseOne("<250>Jun 05 04:03:02 h1 app[1]: x") // 250>>3 = 31 > 23
    assert(!m.contains("facility"))
    assert(m("severity") === "crit") // 250 & 7 = 2
  }

  test("RFC5424 fractional-second timestamps parse (not run-clock fallback)") {
    val m3 = parseOne("<34>1 2024-06-01T12:00:00.123Z h app - - - hi")
    assert(m3("t") === "1717243200123")
    val m6 = parseOne("<34>1 2024-06-01T12:00:00.123456+02:00 h app - - - hi")
    assert(m6("t") === "1717236000123") // truncated to millis, tz applied
  }

  test("fortinet line with a literal t= key: stitched t overwrites, no throw") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq("<190>date=2024-06-01 time=00:00:00 t=bogus action=pass")
      .toDF("text").select(
        PatternDictionary.fortinetTransform(col("text"), RunTs).as("m"))
    val m = df.head().getMap[String, String](0).toMap
    assert(m("t") === "1717200000") // stitched epoch-sec wins over t=bogus
    assert(m("action") === "pass")
  }

  test("fortinet transform: '>' anywhere triggers pri-strip+logfmt; none -> syslog fallback") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val noPri = "date=2024-06-01 time=00:00:00 devname=F1 action=pass"
    val df = Seq("<190>" + noPri, noPri).toDF("text").select(
      PatternDictionary.fortinetTransform(col("text"), RunTs).as("m"))
    val Array(withPri, without) = df.collect().map(
      (r: Row) => r.getMap[String, String](0).toMap)
    assert(withPri("devname") === "F1" && withPri("t") === "1717200000") // epoch SECONDS
    // fallback: parse_syslog's loose map, run-clock millis + the raw line
    assert(without === Map("t" -> RunTs.toString, "+message" -> noPri))
  }
}
