package graft.functions

import java.time.{Instant, ZoneId, ZoneOffset}

import org.apache.spark.sql.catalyst.util.{Iso8601TimestampFormatter, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.unsafe.types.UTF8String

/** The `transcript_line` kernel: the text of one synthetic transcript turn
  * (FIXTURES.md §2) from its events columns, in one of eight formats drawn
  * from the reference's production parsers. `pipeline.Transcripts` picks
  * the format (`event_id % 8` for the mix) and the DuckDB oracles rebuild
  * the same lines in SQL.
  *
  * Built as Catalyst `concat`/`date_format`/`CASE` trees, the eight formats
  * compiled into a ~10 KB generated method: past HotSpot's 8,000-byte JIT
  * limit, so every query over the transcripts ran its text synthesis (and
  * whatever Spark fused with it) interpreted.
  *
  * The conversions are Spark's: longs print as `CAST(x AS STRING)`,
  * `pmod` is a floor modulus, `%` a remainder, and each date piece is
  * `date_format(ts, pattern)` in the session zone (the wall-clock time,
  * formatted by Spark's `TimestampFormatter` as UTC). A line is null where
  * the Catalyst `concat` would be: when a column its format prints is null.
  * Nullable columns therefore arrive with a placeholder value and a bit in
  * `nulls`; a null `event_id` nulls every format, so it is the one column
  * the call's null handling covers.
  */
object TranscriptText {

  /** Bits of `nulls`: which of the nullable envelope columns are null. */
  val UserNull = 1
  val TypeNull = 2
  val ValueNull = 4
  val TsNull = 8

  private def fixed(pattern: String): TimestampFormatter =
    new Iso8601TimestampFormatter(pattern, ZoneOffset.UTC, TimestampFormatter.defaultLocale,
      LegacyDateFormats.SIMPLE_DATE_FORMAT, false)

  private val Date = fixed("yyyy-MM-dd")
  private val Time = fixed("HH:mm:ss")
  private val Rfc3164 = fixed("MMM dd HH:mm:ss")
  private val Rfc5424 = fixed("yyyy-MM-dd'T'HH:mm:ss'Z'")
  private val Clf = fixed("dd/MMM/yyyy:HH:mm:ss")
  private val ErrorStamp = fixed("EEE MMM dd HH:mm:ss")
  private val Micros = fixed("SSSSSS")
  private val Year = fixed("yyyy")
  private val Kern = fixed("MMM d HH:mm:ss")

  private def pmod(a: Long, n: Long): Long = Math.floorMod(a, n)

  /** `lpad(s, n, '0')`: zero-padded, or cut, to `n` characters. */
  private def lpad(v: Long, n: Int): String = {
    val s = v.toString
    if (s.length >= n) s.substring(0, n) else "0" * (n - s.length) + s
  }

  private def method(e: String): String = e match {
    case "click" => "GET"
    case "view" => "POST"
    case "error" => "DELETE"
    case _ => "PUT"
  }

  private def level(e: String): String = e match {
    case "error" => "error"
    case "click" => "notice"
    case "view" => "info"
    case _ => "warn"
  }

  /** Formats 0-7: fortinet, syslog, combined, error, kern, json, mini,
    * malformed. `ts` is the turn's timestamp in micros, `zone` the session
    * time zone's id.
    */
  def line(format: Int, k: Long, u: Long, eventType: UTF8String, value: Double, ts: Long,
      nulls: Int, zone: UTF8String): UTF8String = {
    def has(bits: Int) = (nulls & bits) == 0
    val e = eventType.toString
    // the wall-clock time as UTC micros, which the UTC formatters print
    lazy val local = {
      val z = ZoneId.of(zone.toString)
      val offset = z.getRules.getOffset(Instant.ofEpochSecond(Math.floorDiv(ts, 1000000L)))
      ts + offset.getTotalSeconds * 1000000L
    }
    def d(f: TimestampFormatter) = f.format(local)
    def jsonBody = s"""{"etype": "$e", "k": "$k"}"""
    def plainBody = s"evt $e $k"
    val text = format match {
      case 0 if has(TsNull | UserNull | TypeNull) =>
        s"<190>date=${d(Date)} time=${d(Time)} devname=FGT$u devid=FGT$u logid=$k" +
          s" type=${if (k % 3 == 0) "event" else "utm"}" +
          s""" subtype=app-ctrl level=information vd="root" user="u$u"""" +
          s" srcip=192.168.1.${pmod(u, 250)} srcport=${1024 + pmod(k, 60000)}" +
          s""" dstport=443 proto=6 service="HTTPS" action=${if (k % 7 == 0) "block" else "pass"}""" +
          s""" msg="$e: SSL," apprisk=elevated"""
      // syslog, by event_id % 5: 0,1 RFC 3164 with a plain body; 2 RFC
      // 3164 with a JSON-object body; 3 RFC 5424 with msg_id, structured
      // data and a plain body; 4 RFC 5424 with a nil stamp, hostname and
      // procid and a JSON-object body
      case 1 =>
        val pri = pmod(k, 192)
        val m5 = pmod(k, 5)
        lazy val head = s"<$pri>${d(Rfc3164)} host$u app${pmod(k, 7)}[${pmod(k, 30000)}]: "
        if (m5 == 4)
          if (has(TypeNull)) s"<$pri>1 - - app${pmod(k, 7)} - mid${pmod(k, 9)} - $jsonBody"
          else null
        else if (!has(TsNull | UserNull | TypeNull)) null
        else if (m5 <= 1) head + plainBody
        else if (m5 == 2) head + jsonBody
        else s"<$pri>1 ${d(Rfc5424)} host$u app${pmod(k, 7)} ${pmod(k, 30000)}" +
          s""" mid${pmod(k, 9)} [exampleSDID@32473 iut="${pmod(k, 4)}" eventSource="$e"] """ +
          plainBody
      case 2 if has(TsNull | UserNull | ValueNull) =>
        val user = if (u % 3 == 0) "-" else s"u$u"
        val ref = if (k % 4 == 0) "-" else s"http://r/${pmod(k, 10)}"
        val size = Math.floor(Math.abs(value) * 100.0).toLong
        s"h${pmod(u, 50)} - $user [${d(Clf)} +0000] " +
          s""""${method(e)} /p/$k HTTP/1.1" ${200 + pmod(k, 5) * 100} $size "$ref" "Mozilla/5.0 (test)""""
      case 3 if has(TsNull | TypeNull) && (k % 3 == 0 || has(UserNull)) =>
        val tid = if (k % 2 == 0) s":tid ${pmod(k, 500)}" else ""
        val client =
          if (k % 3 != 0) s"[client 10.0.0.${pmod(u, 250)}:${1024 + pmod(k, 50000)}] " else ""
        s"[${d(ErrorStamp)}.${d(Micros)} ${d(Year)}] [core:${level(e)}] [pid ${pmod(k, 30000)}" +
          s"$tid] ${client}AH${lpad(pmod(k, 100000), 5)}: $e happened"
      case 4 if has(TsNull | UserNull | TypeNull) =>
        s"${d(Kern)} host$u kernel: [$k.${lpad(pmod(k, 1000000), 6)}] ACPI: $e stopped"
      case 5 if has(TypeNull) => jsonBody
      case 6 => s"${method(e)} /p/$k ${200 + pmod(k, 5) * 100}"
      case 7 => s"###$k"
      case _ => null
    }
    if (text == null) null else UTF8String.fromString(text)
  }
}
