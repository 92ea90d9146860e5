package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._
import graft.model.{FieldSpec, FormatSpec, TsSpec}

/** The dictionary's field kernels ([[graft.functions.ParseFields]]) against
  * the Catalyst expressions they replace: the same keys, in the same order,
  * with the same values, on edge inputs, under three session time zones and
  * two run clocks (2024, a leap year, and 2023). The inputs are group
  * arrays as `regexp_groups` returns them, built by hand so groups the
  * regexes never produce (a non-numeric pri, a nil stamp) are covered too.
  */
class ParseFieldsSpec extends SparkSpec {

  private val Run2024 = 1717200000000L // 2024-06-01T00:00:00Z
  private val Run2023 = 1685577600000L // 2023-06-01T00:00:00Z

  private def session(zone: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", zone)
    GraftFunctions.ensureRegistered(s)
    s
  }

  private lazy val sessions = Seq(session("UTC"), session("America/Los_Angeles"),
    session("+05:30"))

  // ---- the Catalyst builders the kernels replace ----

  private def ga(gs: Column, i: Int): Column = get(gs, lit(i - 1))
  private def emptyToNull(c: Column): Column = when(c =!= "", c)
  private def nilToNull(c: Column): Column = when(c =!= "-", c)
  private def tryLong(c: Column): Column = c.try_cast("long")
  private def toMap(cols: Seq[(String, Column)]): Column =
    compact_map(cols.flatMap { case (k, v) => Seq(lit(k), v.cast("string")) }: _*)

  private val FacilityNames = Seq(
    "kern", "user", "mail", "daemon", "auth", "syslog", "lpr", "news",
    "uucp", "cron", "authpriv", "ftp", "ntp", "audit", "alert", "clockd",
    "local0", "local1", "local2", "local3", "local4", "local5", "local6",
    "local7")
  private val SeverityNames = Seq(
    "emerg", "alert", "crit", "err", "warning", "notice", "info", "debug")
  private def facilityName(pri: Column): Column =
    get(array(FacilityNames.map(lit): _*), shiftright(pri, 3).cast("int"))
  private def severityName(pri: Column): Column =
    get(array(SeverityNames.map(lit): _*), (pri bitwiseAND lit(7L)).cast("int"))

  private def year(run: Long): Column = date_format(timestamp_millis(lit(run)), "yyyy")

  private def rfc3164Millis(dateStr: Column, defaultYear: Column): Column =
    unix_millis(try_to_timestamp(
      concat_ws(" ", defaultYear, regexp_replace(dateStr, " +", " ")),
      lit("yyyy MMM d HH:mm:ss")))

  private def withMessageBody(base: Column, msg: Column): Column =
    coalesce(when(msg.startsWith("{"), merge_maps(base, json_flat_map(msg))),
      merge_maps(base, map(lit("+message"), msg)))

  private def oldFortinet(text: Column, gd: Column, gt: Column, run: Long): Column = {
    val t = coalesce(
      unix_timestamp(try_to_timestamp(
        concat_ws(" ", emptyToNull(ga(gd, 1)), emptyToNull(ga(gt, 1))),
        lit("yyyy-MM-dd HH:mm:ss"))),
      lit(run / 1000L))
    merge_maps(
      logfmt_parse_fortinet(text.substr(instr(text, ">") + 1, length(text))),
      map(lit("t"), t.cast("string")))
  }

  private def old3164(gs: Column, run: Long): Column = {
    val pri = tryLong(ga(gs, 1))
    withMessageBody(toMap(Seq(
      "t" -> coalesce(rfc3164Millis(ga(gs, 2), year(run)), lit(run)),
      "facility" -> facilityName(pri),
      "severity" -> severityName(pri),
      "hostname" -> emptyToNull(ga(gs, 3)),
      "app_name" -> emptyToNull(ga(gs, 4)),
      "proc_id" -> emptyToNull(ga(gs, 5)))), ga(gs, 6))
  }

  private def old5424(gs: Column, run: Long): Column = {
    val pri = tryLong(ga(gs, 1))
    val tsRaw = nilToNull(ga(gs, 2))
    val ts = unix_millis(coalesce(
      try_to_timestamp(tsRaw, lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]X")),
      try_to_timestamp(tsRaw, lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]XXX"))))
    val base = toMap(Seq(
      "t" -> coalesce(ts, lit(run)),
      "facility" -> facilityName(pri),
      "severity" -> severityName(pri),
      "hostname" -> nilToNull(ga(gs, 3)),
      "app_name" -> nilToNull(ga(gs, 4)),
      "proc_id" -> nilToNull(ga(gs, 5)),
      "msg_id" -> nilToNull(ga(gs, 6))))
    val sdPart = nilToNull(ga(gs, 7))
    val sdId = emptyToNull(try_element_at(
      regexp_extract_all(sdPart, lit("\\[([^\\s\\]]+)"), lit(1)), lit(-1)))
    val sdParams = logfmt_parse_sd(
      regexp_replace(coalesce(sdPart, lit("")), "[\\[\\]]", " "))
    val withSd = merge_maps(
      when(sdId.isNotNull, merge_maps(base, compact_map(lit("id"), sdId)))
        .otherwise(base),
      sdParams)
    withMessageBody(withSd, coalesce(ga(gs, 8), lit("")))
  }

  private def oldCombined(gs: Column): Column = {
    val user = ga(gs, 3)
    val ref = ga(gs, 10)
    toMap(Seq(
      "host" -> ga(gs, 1),
      "user" -> when(user =!= "-", user),
      "t" -> unix_millis(try_to_timestamp(ga(gs, 4), lit("dd/MMM/yyyy:HH:mm:ss Z"))),
      "method" -> ga(gs, 5),
      "path" -> ga(gs, 6),
      "proto" -> regexp_replace(ga(gs, 7), "^HTTP/", ""),
      "status" -> tryLong(ga(gs, 8)),
      "size" -> tryLong(ga(gs, 9)),
      "ref" -> when(ref =!= "-", ref),
      "user_agent" -> ga(gs, 11)))
  }

  private def oldError(gs: Column): Column = toMap(Seq(
    "t" -> unix_millis(try_to_timestamp(
      regexp_replace(ga(gs, 1), "^[A-Za-z]{3} ", ""),
      lit("MMM dd HH:mm:ss.SSSSSS yyyy"))),
    "level" -> ga(gs, 2),
    "pid" -> tryLong(ga(gs, 3)),
    "tid" -> tryLong(emptyToNull(ga(gs, 4))),
    "client" -> emptyToNull(ga(gs, 5)),
    "message" -> ga(gs, 6)))

  private def oldKern(gs: Column, run: Long): Column = toMap(Seq(
    "t" -> rfc3164Millis(ga(gs, 1), year(run)),
    "since_start_sec" -> tryLong(ga(gs, 3)),
    "since_start_ns" -> tryLong(ga(gs, 4)),
    "message" -> trim(ga(gs, 5))))

  private def oldMini(gs: Column): Column =
    toMap(Seq("method" -> ga(gs, 1), "path" -> ga(gs, 2), "status" -> ga(gs, 3)))

  private def oldSpec(spec: FormatSpec, gs: Column, run: Long): Column = {
    val ts = spec.ts.map { t =>
      val raw = emptyToNull(ga(gs, t.group))
      val parsed =
        if (t.pattern.isEmpty) tryLong(raw)
        else if (t.unit == "seconds") unix_timestamp(try_to_timestamp(raw, lit(t.pattern)))
        else unix_millis(try_to_timestamp(raw, lit(t.pattern)))
      val fallback = if (t.unit == "seconds") lit(run / 1000L) else lit(run)
      "t" -> (if (t.fallbackRunClock) coalesce(parsed, fallback) else parsed)
    }
    toMap(ts.toSeq ++ spec.fields.map { f =>
      val raw = ga(gs, f.group)
      f.name -> (if (f.cast == "long") tryLong(raw) else raw)
    })
  }

  // ---- the comparison ----

  /** Each map's entries in order, for the old and the new build, over
    * per-row group arrays (an RDD scan, so nothing constant-folds).
    */
  private def compare(label: String, groups: Seq[Seq[String]])(
      build: (Column, Long) => (Column, Column)): Unit =
    for (s <- sessions; run <- Seq(Run2024, Run2023)) {
      val schema = StructType(Seq(StructField("gs", ArrayType(StringType))))
      val df = s.createDataFrame(
        s.sparkContext.parallelize(groups.map(g => Row(g)), 2), schema)
      val (oldMap, newMap) = build(col("gs"), run)
      val rows = df.select(col("gs"), map_entries(oldMap).as("o"),
        map_entries(newMap).as("n")).collect()
      assert(rows.length === groups.length)
      rows.foreach { r =>
        assert(r.getSeq[Row](2) === r.getSeq[Row](1),
          s"$label under ${s.conf.get("spark.sql.session.timeZone")}, run clock $run, groups ${r.getSeq[String](0)}")
      }
    }

  private val syslog3164Groups = for {
    pri <- Seq("13", "190", "0", "200", "abc", "99999999999999999999")
    stamp <- Seq("Feb 29 10:00:00", "Jun  5 04:03:02", "Jun 5 04:03:02",
      "Mar 10 02:30:00", "Nov  3 01:30:00", "Foo 31 99:99:99")
    (procId, body) <- Seq[(String, String)]((null, "plain text"),
      ("42", "{\"a\":1,\"b\":null}"), (null, "{not json"), ("7", ""),
      (null, "{\"hostname\":\"over\",\"k\":\"v\"}"))
  } yield Seq(pri, stamp, "host1", "app", procId, body)

  test("syslog3164_fields matches the Catalyst RFC 3164 build") {
    compare("3164", syslog3164Groups) { (gs, run) =>
      (old3164(gs, run), syslog3164_fields(gs, year(run), run))
    }
  }

  test("syslog5424_fields matches the Catalyst RFC 5424 build") {
    val stamps = Seq("-", "2024-06-01T12:00:00Z", "2024-06-01T12:00:00+02",
      "2024-06-01T12:00:00+02:00", "2024-06-01T12:00:00+0200",
      "2024-02-29T12:00:00Z", "2023-02-29T12:00:00Z", "2024-13-01T00:00:00Z",
      "garbage") ++ (1 to 6).map(n => s"2024-06-01T12:00:00.${"123456".take(n)}-07:00")
    val groups = stamps.zipWithIndex.map { case (ts, i) =>
      val pri = Seq("165", "abc", "200", "99999999999999999999")(i % 4)
      val sd = Seq("-", "[id@1 k=\"v w\"]", "[a@1 x=\"1\"][b@2 y=\"2\" x=\"3\"]", "[]")(i % 4)
      val msg = Seq(null, "hello", "{\"k\":\"v\",\"id\":\"j\"}", "{bad", "")(i % 5)
      val nil = if (i % 2 == 0) "-" else "x"
      Seq(pri, ts, nil, "app", nil, if (i % 3 == 0) "-" else "mid", sd, msg)
    }
    compare("5424", groups) { (gs, run) => (old5424(gs, run), syslog5424_fields(gs, run)) }
  }

  test("combined_fields, error_fields, kern_fields and mini_fields match their builds") {
    val combined = for {
      ts <- Seq("10/Oct/2000:13:55:36 -0700", "29/Feb/2024:00:00:00 +0000",
        "29/Feb/2023:00:00:00 +0000", "32/Oct/2000:13:55:36 -0700", "nope")
      (user, ref, proto) <- Seq(("-", "-", "HTTP/1.1"), ("bob", "http://r/", "SPDY/3"))
      (status, size) <- Seq("200" -> "2326", "0404" -> "99999999999999999999")
    } yield Seq("1.2.3.4", "-", user, ts, "GET", "/a b", proto, status, size, ref, "ua/1")
    compare("combined", combined) { (gs, _) => (oldCombined(gs), combined_fields(gs)) }

    val error = for {
      ts <- Seq("Wed Oct 11 14:32:52.123456 2000", "Oct 11 14:32:52.123456 2000",
        "Thu Feb 29 00:00:00.000001 2024", "Wed Feb 29 00:00:00.000001 2023",
        "Sun Mar 10 02:30:00.500000 2024", "garbage")
      (tid, client) <- Seq[(String, String)]((null, null), ("77", "10.0.0.1"), ("", ""))
    } yield Seq(ts, "core:error", "1234", tid, client, "File does not exist")
    compare("error", error) { (gs, _) => (oldError(gs), error_fields(gs)) }

    val kern = for {
      ts <- Seq("Feb 29 10:00:00", "Jun  5 04:03:02", "Jun 5 04:03:02",
        "Nov  3 01:30:00", "Foo 31 99:99:99")
      msg <- Seq("  padded \t", "plain", "")
    } yield Seq(ts, "host", "12", "000345", msg)
    compare("kern", kern) { (gs, run) =>
      (oldKern(gs, run), kern_fields(gs, year(run)))
    }

    compare("mini", Seq(Seq("GET", "/p/1", "200"), Seq("a", "b", "c"))) { (gs, _) =>
      (oldMini(gs), mini_fields(gs))
    }
  }

  test("fortinet_fields matches the Catalyst fortinet build") {
    val groups = Seq(
      Seq("<190>date=2024-06-01 time=10:20:30 devname=F1 action=pass", "2024-06-01", "10:20:30"),
      Seq("<190>date=2024-02-29 time=23:59:59 t=bogus", "2024-02-29", "23:59:59"),
      Seq("<190>date=2023-02-29 time=00:00:00 vd=root", "2023-02-29", "00:00:00"),
      Seq("<190>date=2024-03-10 time=02:30:00 vd=root", "2024-03-10", "02:30:00"),
      Seq("<190>date=2024-06-01 vd=root", "2024-06-01", null),
      Seq("<190>vd=root msg=\"a b\"", null, null),
      Seq("no pri date=2024-06-01 time=00:00:00", "2024-06-01", "00:00:00"))
    compare("fortinet", groups) { (gs, run) =>
      val text = ga(gs, 1)
      def arr(i: Int) = when(ga(gs, i).isNotNull, array(ga(gs, i)))
      (oldFortinet(text, arr(2), arr(3), run),
        fortinet_fields(text, coalesce(arr(2), typedlit(Seq.empty[String])),
          coalesce(arr(3), typedlit(Seq.empty[String])), run))
    }
  }

  test("format_spec_fields matches the Catalyst FormatSpec build") {
    val fields = Seq(FieldSpec("kind", 1), FieldSpec("n", 2, "long"), FieldSpec("t", 1))
    val specs = Seq(
      FormatSpec("millis", "", fields, Some(TsSpec(3, "yyyy-MM-dd HH:mm:ss"))),
      FormatSpec("seconds", "", fields,
        Some(TsSpec(3, "yyyy-MM-dd HH:mm:ss", unit = "seconds"))),
      FormatSpec("strict", "", fields,
        Some(TsSpec(3, "yyyy-MM-dd HH:mm:ss", fallbackRunClock = false))),
      FormatSpec("epoch", "", fields, Some(TsSpec(3))),
      FormatSpec("epoch_seconds", "", fields, Some(TsSpec(3, unit = "seconds"))),
      FormatSpec("offset", "", fields, Some(TsSpec(3, "yyyy-MM-dd HH:mm:ssXXX"))),
      FormatSpec("no_ts", "", fields))
    val groups = for {
      n <- Seq("42", "12.5", " 7 ", "+3", "abc", "99999999999999999999")
      ts <- Seq("2024-02-29 10:00:00", "2023-02-29 10:00:00", "2024-03-10 02:30:00",
        "2024-06-01 10:00:00+02:00", "1717200000123", "", null)
    } yield Seq("click", n, ts)
    specs.foreach { spec =>
      compare(s"spec ${spec.name}", groups) { (gs, run) =>
        (oldSpec(spec, gs, run), format_spec_fields(gs, spec, run))
      }
    }
  }
}
