package graft.functions

import java.text.ParseException
import java.time.{DateTimeException, LocalDateTime, ZoneId, ZoneOffset}
import java.time.temporal.ChronoField
import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData,
  Iso8601TimestampFormatter, LegacyDateFormats, MapData, TimestampFormatter}
import org.apache.spark.unsafe.types.UTF8String

/** The field kernels of the pattern dictionary: one static method per
  * format, each building that format's `fields` map from the capture-group
  * array its hoisted `regexp_groups` call returned (1-based groups, null
  * for a group that did not participate).
  *
  * They replace per-format Catalyst trees (`try_to_timestamp`, `try_cast`,
  * `compact_map`, the logfmt and JSON calls) that together compiled into
  * one ~30 KB `processNext` method. HotSpot never JIT-compiles a method
  * over 8,000 bytes of bytecode, and Spark does not split expression code
  * inside whole-stage codegen, so every parse ran interpreted. A kernel
  * call is a few lines of generated code, and the kernel itself is
  * ordinary compiled Scala.
  *
  * Every conversion matches the expression it replaces:
  *   - a timestamp is Spark's own `TimestampFormatter.parse`, null where
  *     `try_to_timestamp` gives null (a `DateTimeException` or a
  *     `ParseException`), then `unix_millis` / `unix_timestamp` (floor
  *     division of the micros). Fixed patterns are constants built for
  *     UTC; a pattern without an offset is read as a wall-clock time and
  *     placed in the session zone, which arrives as the literal `zone`
  *     parameter. Patterns with an offset (combined, RFC 5424) carry
  *     their own zone.
  *   - a long is `try_cast(s AS BIGINT)`: `UTF8String.toLongExact`, null
  *     where it throws, printed back as a string;
  *   - null values are dropped as `compact_map` drops them, and the
  *     message-body and structured-data merges are [[MergeMaps.merge]].
  */
object ParseFields {

  private def utf(s: String): UTF8String = UTF8String.fromString(s)

  private val T = utf("t"); private val Facility = utf("facility")
  private val Severity = utf("severity"); private val Hostname = utf("hostname")
  private val AppName = utf("app_name"); private val ProcId = utf("proc_id")
  private val MsgId = utf("msg_id"); private val Id = utf("id")
  private val Message = utf("message"); private val PlusMessage = utf("+message")
  private val Host = utf("host"); private val User = utf("user")
  private val Method = utf("method"); private val Path = utf("path")
  private val Proto = utf("proto"); private val Status = utf("status")
  private val Size = utf("size"); private val Ref = utf("ref")
  private val UserAgent = utf("user_agent"); private val Level = utf("level")
  private val Pid = utf("pid"); private val Tid = utf("tid")
  private val Client = utf("client"); private val SinceSec = utf("since_start_sec")
  private val SinceNs = utf("since_start_ns")

  private val Dash = utf("-"); private val Gt = utf(">")
  private val OpenBrace = utf("{"); private val HttpPrefix = utf("HTTP/")

  /** RFC 5424 facility/severity names (syslog_loose's `as_str`). */
  private val FacilityNames = Array(
    "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
    "uucp", "cron", "authpriv", "ftp", "ntp", "audit", "alert", "clockd",
    "local0", "local1", "local2", "local3", "local4", "local5", "local6",
    "local7").map(utf)
  private val SeverityNames = Array(
    "emerg", "alert", "crit", "err", "warning", "notice", "info", "debug").map(utf)

  private def fixed(pattern: String): TimestampFormatter =
    new Iso8601TimestampFormatter(pattern, ZoneOffset.UTC, TimestampFormatter.defaultLocale,
      LegacyDateFormats.SIMPLE_DATE_FORMAT, true)

  private val FortinetStamp = fixed("yyyy-MM-dd HH:mm:ss")
  private val Rfc3164Stamp = fixed("yyyy MMM d HH:mm:ss")
  // RFC 5424: 0-6 fraction digits; X covers Z/+02/+0200, XXX the RFC's ±HH:MM
  private val Rfc5424Stamp = fixed("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]X")
  private val Rfc5424StampColon = fixed("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]XXX")
  private val CombinedStamp = fixed("dd/MMM/yyyy:HH:mm:ss Z")
  private val ErrorStamp = fixed("MMM dd HH:mm:ss.SSSSSS yyyy")

  /** The id of each `[id k="v" ...]` structured-data block. */
  private val SdIdRe = Pattern.compile("\\[([^\\s\\]]+)")

  /** No timestamp: `try_to_timestamp`'s null. Unreachable as micros, which
    * are a whole number of seconds times 10^6 plus a non-negative micro.
    */
  private val NoTs = Long.MinValue

  /** `try_to_timestamp(s, f)` in micros, NoTs for null. */
  private def micros(f: TimestampFormatter, s: String): Long =
    if (s == null) NoTs
    else try f.parse(s) catch { case _: DateTimeException | _: ParseException => NoTs }

  /** A wall-clock time parsed as UTC, placed in `zone` instead. */
  private def inZone(us: Long, zone: UTF8String): Long =
    if (us == NoTs) NoTs
    else ZoneId.of(zone.toString).normalized() match {
      case o: ZoneOffset => us - o.getTotalSeconds * 1000000L
      case z =>
        val utc = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
        val zoned = utc.atZone(z)
        Math.addExact(Math.multiplyExact(zoned.toEpochSecond, 1000000L),
          zoned.get(ChronoField.MICRO_OF_SECOND).toLong)
    }

  /** `unix_millis` / `unix_timestamp` of a parse, or `orElse` for null. */
  private def epoch(us: Long, unit: Long, orElse: Long): Long =
    if (us == NoTs) orElse else Math.floorDiv(us, unit)

  private def str(v: Long): UTF8String =
    if (v == NoTs) null else UTF8String.fromString(java.lang.Long.toString(v))

  /** `try_cast(s AS BIGINT)` cast back to a string: ANSI's exact parse
    * (no fraction), null where it throws.
    */
  private def long(s: UTF8String): UTF8String =
    if (s == null) null
    else try UTF8String.fromString(java.lang.Long.toString(s.toLongExact()))
    catch { case _: NumberFormatException => null }

  /** 1-based group `i`, null if it did not participate. */
  private def g(gs: ArrayData, i: Int): UTF8String =
    if (i < 1 || i > gs.numElements() || gs.isNullAt(i - 1)) null
    else gs.getUTF8String(i - 1)

  private def emptyToNull(s: UTF8String): UTF8String =
    if (s == null || s.numBytes() == 0) null else s

  private def dashToNull(s: UTF8String): UTF8String =
    if (s == null || s == Dash) null else s

  /** `compact_map`'s build: keys in put order, null values skipped. */
  private final class Fields(capacity: Int) {
    private val keys = new Array[Any](capacity)
    private val vals = new Array[Any](capacity)
    private var n = 0
    def put(k: UTF8String, v: UTF8String): Unit =
      if (v != null) { keys(n) = k; vals(n) = v; n += 1 }
    def result: MapData = CompactMap.build(keys, vals, n)
  }

  /** `map(k, v)`: one entry, kept when `v` is null. */
  private def single(k: UTF8String, v: UTF8String): MapData =
    new ArrayBasedMapData(new GenericArrayData(Array[Any](k)), new GenericArrayData(Array[Any](v)))

  /** `regexp_replace(s, ' +', ' ')`. */
  private def collapseSpaces(s: UTF8String): String = {
    val in = s.toString
    val sb = new java.lang.StringBuilder(in.length)
    var i = 0
    while (i < in.length) {
      val c = in.charAt(i)
      if (c != ' ' || i == 0 || in.charAt(i - 1) != ' ') sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** The RFC 3164 / kern.log stamp (`MMM [d]d HH:mm:ss`) in the session
    * zone. The wire format has no year; syslog_loose takes the current
    * clock's, and the run clock's `year` keeps replays deterministic
    * (SURVEY.md §7.4.2).
    */
  private def rfc3164Micros(stamp: UTF8String, year: UTF8String, zone: UTF8String): Long =
    if (stamp == null) NoTs
    else inZone(micros(Rfc3164Stamp, s"$year ${collapseSpaces(stamp)}"), zone)

  /** Named facility and severity of a `<pri>` (syslog.rs:43,67 via
    * syslog_loose's `as_str`). A facility past local7 gets no key, as
    * syslog_loose yields None for it.
    */
  private def putPri(f: Fields, priText: UTF8String): Unit = {
    if (priText != null) try {
      val pri = priText.toLongExact()
      val facility = pri >> 3
      if (facility >= 0 && facility < FacilityNames.length)
        f.put(Facility, FacilityNames(facility.toInt))
      f.put(Severity, SeverityNames((pri & 7).toInt))
    } catch { case _: NumberFormatException => }
  }

  /** A `{` body that parses as a JSON object is merged into the event;
    * anything else lands raw under `+message`.
    */
  private def withMessageBody(base: MapData, msg: UTF8String): MapData = {
    val json = if (msg != null && msg.startsWith(OpenBrace)) JsonFlatMap.parse(msg) else null
    MergeMaps.merge(base, if (json != null) json else single(PlusMessage, msg))
  }

  /** `fortinet_fields` (fortinet.rs:73-105): the line after its first `>`
    * logfmt-parsed, with `t` the date=/time= stitch in epoch seconds (the
    * run clock's second, standing in for Local::now(), when either is
    * missing or unparseable). A literal `t=` key is overwritten by the
    * stitch (insert-overwrite, fortinet.rs:105). `date`/`time` are the
    * groups of the `date=` and `time=` regexes, empty when they did not
    * match.
    */
  def fortinet(text: UTF8String, date: ArrayData, time: ArrayData, zone: UTF8String,
      runTsMillis: Long): MapData = {
    val body = text.substringSQL(text.indexOf(Gt, 0) + 2, text.numChars())
    val d = emptyToNull(g(date, 1)); val tm = emptyToNull(g(time, 1))
    val stamp =
      if (d == null) (if (tm == null) "" else tm.toString)
      else if (tm == null) d.toString
      else s"$d $tm"
    val t = epoch(inZone(micros(FortinetStamp, stamp), zone), 1000000L, runTsMillis / 1000L)
    MergeMaps.merge(LogfmtParse.fortinet(body), single(T, str(t)))
  }

  /** `syslog3164_fields` (syslog.rs:22-97): `<pri>MMM [d]d HH:mm:ss host
    * app[pid]: msg` groups. The stamp takes the run clock's `year` and
    * falls back to the run clock.
    */
  def syslog3164(gs: ArrayData, year: UTF8String, zone: UTF8String,
      runTsMillis: Long): MapData = {
    val f = new Fields(6)
    f.put(T, str(epoch(rfc3164Micros(g(gs, 2), year, zone), 1000L, runTsMillis)))
    putPri(f, g(gs, 1))
    f.put(Hostname, emptyToNull(g(gs, 3)))
    f.put(AppName, emptyToNull(g(gs, 4)))
    f.put(ProcId, emptyToNull(g(gs, 5)))
    withMessageBody(f.result, g(gs, 6))
  }

  /** `syslog5424_fields`: `<pri>1 TIMESTAMP HOST APP PROCID MSGID SD [MSG]`
    * groups, `-` for nil. The last SD block's id lands under `id`, every
    * block's params are merged in, then the body (syslog.rs:70-94).
    */
  def syslog5424(gs: ArrayData, runTsMillis: Long): MapData = {
    val f = new Fields(7)
    val tsRaw = dashToNull(g(gs, 2))
    val raw = if (tsRaw == null) null else tsRaw.toString
    val us0 = micros(Rfc5424Stamp, raw)
    val us = if (us0 != NoTs) us0 else micros(Rfc5424StampColon, raw)
    f.put(T, str(epoch(us, 1000L, runTsMillis)))
    putPri(f, g(gs, 1))
    f.put(Hostname, dashToNull(g(gs, 3)))
    f.put(AppName, dashToNull(g(gs, 4)))
    f.put(ProcId, dashToNull(g(gs, 5)))
    f.put(MsgId, dashToNull(g(gs, 6)))
    val sd = dashToNull(g(gs, 7))
    val header = f.result
    val withSd = if (sd == null) header else {
      val m = SdIdRe.matcher(sd.toString)
      var id: String = null
      while (m.find()) id = m.group(1)
      val withId = if (id == null) header else MergeMaps.merge(header, single(Id, utf(id)))
      MergeMaps.merge(withId, LogfmtParse.structuredData(
        utf(sd.toString.replace('[', ' ').replace(']', ' '))))
    }
    val msg = g(gs, 8)
    withMessageBody(withSd, if (msg == null) UTF8String.EMPTY_UTF8 else msg)
  }

  /** `combined_fields`: Apache/Nginx access-log groups (web_servers.py:
    * 7-51); `-` means an absent user or referrer.
    */
  def combined(gs: ArrayData): MapData = {
    val f = new Fields(10)
    val stamp = g(gs, 4)
    val proto = g(gs, 7)
    f.put(Host, g(gs, 1))
    f.put(User, dashToNull(g(gs, 3)))
    f.put(T, str(epoch(micros(CombinedStamp, if (stamp == null) null else stamp.toString),
      1000L, NoTs)))
    f.put(Method, g(gs, 5))
    f.put(Path, g(gs, 6))
    f.put(Proto, if (proto != null && proto.startsWith(HttpPrefix))
      proto.substring(HttpPrefix.numChars(), proto.numChars()) else proto)
    f.put(Status, long(g(gs, 8)))
    f.put(Size, long(g(gs, 9)))
    f.put(Ref, dashToNull(g(gs, 10)))
    f.put(UserAgent, g(gs, 11))
    f.result
  }

  /** `error_fields`: Apache httpd error-log groups (web_servers.py:54-89).
    * A leading day-of-week is dropped before the stamp parse.
    */
  def error(gs: ArrayData, zone: UTF8String): MapData = {
    val f = new Fields(6)
    val stamp = g(gs, 1)
    f.put(T, str(epoch(inZone(micros(ErrorStamp,
      if (stamp == null) null else withoutWeekday(stamp.toString)), zone), 1000L, NoTs)))
    f.put(Level, g(gs, 2))
    f.put(Pid, long(g(gs, 3)))
    f.put(Tid, long(emptyToNull(g(gs, 4))))
    f.put(Client, emptyToNull(g(gs, 5)))
    f.put(Message, g(gs, 6))
    f.result
  }

  /** `regexp_replace(s, '^[A-Za-z]{3} ', '')`. */
  private def withoutWeekday(s: String): String = {
    def letter(c: Char) = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
    if (s.length >= 4 && letter(s.charAt(0)) && letter(s.charAt(1)) &&
        letter(s.charAt(2)) && s.charAt(3) == ' ') s.substring(4)
    else s
  }

  /** `kern_fields`: kern.log groups (kern.py:13-33); the stamp takes the
    * run clock's `year`, with no fallback.
    */
  def kern(gs: ArrayData, year: UTF8String, zone: UTF8String): MapData = {
    val f = new Fields(4)
    val msg = g(gs, 5)
    f.put(T, str(epoch(rfc3164Micros(g(gs, 1), year, zone), 1000L, NoTs)))
    f.put(SinceSec, long(g(gs, 3)))
    f.put(SinceNs, long(g(gs, 4)))
    f.put(Message, if (msg == null) null else msg.trim())
    f.result
  }

  /** `mini_fields`: the int_tests three-token format; status stays a
    * string (test_input1.py:11).
    */
  def mini(gs: ArrayData): MapData = {
    val f = new Fields(3)
    f.put(Method, g(gs, 1))
    f.put(Path, g(gs, 2))
    f.put(Status, g(gs, 3))
    f.result
  }

  /** `format_spec_fields`: a config-declared format ([[graft.model.FormatSpec]]).
    * `names`/`groups`/`longs` list its fields. `tsGroup` 0 means no `t`;
    * otherwise `t` is that group read with `tsPattern` (a long cast when
    * the pattern is empty) in millis or, with `tsSeconds`, seconds, and
    * with `tsFallback` the run clock stands in for an unparseable stamp.
    */
  def spec(gs: ArrayData, names: ArrayData, groups: ArrayData, longs: ArrayData,
      tsGroup: Int, tsPattern: UTF8String, tsSeconds: Boolean, tsFallback: Boolean,
      zone: UTF8String, runTsMillis: Long): MapData = {
    val n = names.numElements()
    val f = new Fields(n + 1)
    if (tsGroup > 0) {
      val raw = emptyToNull(g(gs, tsGroup))
      val parsed =
        if (tsPattern.numBytes() == 0) long(raw)
        else if (raw == null) null
        else {
          // a config pattern is not a constant: build it as try_to_timestamp
          // does, in the session zone
          val fmt = TimestampFormatter(tsPattern.toString, ZoneId.of(zone.toString),
            LegacyDateFormats.SIMPLE_DATE_FORMAT, true)
          str(epoch(micros(fmt, raw.toString), if (tsSeconds) 1000000L else 1000L, NoTs))
        }
      f.put(T, if (parsed != null || !tsFallback) parsed
        else str(if (tsSeconds) runTsMillis / 1000L else runTsMillis))
    }
    var i = 0
    while (i < n) {
      val raw = g(gs, groups.getInt(i))
      f.put(names.getUTF8String(i), if (longs.getBoolean(i)) long(raw) else raw)
      i += 1
    }
    f.result
  }
}
