package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{logfmt_parse_fortinet, regexp_groups}

/** The compiled pattern dictionary — the Spark-native replacement for the
  * reference's per-row Python transform (log-ship/src/plugins/python.rs) and
  * native parsers (syslog.rs, fortinet.rs, logfmt.rs). Each entry compiles a
  * fixed parse recipe to a Catalyst `Column` tree (`regexp_groups`,
  * `try_to_timestamp`, casts, the logfmt kernel calls) so the
  * whole parse stage runs inside WholeStageCodegen with no per-row UDF — the
  * exact optimization the reference docs beg operators to do by hand
  * (site/docs/config.md:166-174,214-217).
  *
  * Recipes (reference provenance):
  *   - fortinet: pri-strip + logfmt + date/time stitch (fortinet.rs:73-111)
  *   - syslog:   RFC3164 header + pri -> facility/severity (syslog.rs:22-97)
  *   - combined: Apache/Nginx access log (cargo_deb/assets/scripts/web_servers.py:7,10-51)
  *   - error:    Apache httpd error log (web_servers.py:54-89)
  *   - kern:     /var/log/kern.log (cargo_deb/assets/scripts/kern.py:9-37)
  *   - json:     parse_json path of the file input (file.rs:136-151)
  *   - mini:     int_tests 3-token format (int_tests/test_input1.py)
  *
  * All timestamps land as epoch values matching the reference: millis for
  * syslog/combined/error/kern (e.g. web_servers.py:33), SECONDS for fortinet
  * (fortinet.rs:105 `.timestamp()`). Unparseable rows are tagged
  * `malformed`, never dropped silently (warn+drop+count policy,
  * file.rs:142-147 — here: quarantine sink + count).
  *
  * The public surface is `Formats`, `parse` (the format tag and `fields`
  * map the pipeline and every single-format parse query read) and
  * `fortinetTransform` (the fortinet route transform, whose no-'>' lines
  * get the loose fallback). The regexes and extractors are private to them.
  */
object PatternDictionary {

  val Formats: Seq[String] =
    Seq("fortinet", "syslog", "combined", "error", "kern", "json", "mini")

  // ---- detection ----
  // Detection and extraction share ONE regex execution per format: the
  // RegexpGroups expression returns all capture groups in a single match
  // (null = no match), and `parse` hoists each format's match into one
  // column that both the `format` tag and the field extraction read.

  // Each regex is additionally GATED behind a cheap prefix/contains test
  // implied by the pattern itself (e.g. fortinet/syslog lines must start
  // with '<'): at 10^12 turns the per-row detection cost is dominated by
  // regex executions on NON-matching formats, and the gates let a row skip
  // most of the dictionary in a few byte comparisons.

  private def isFortinet(text: Column): Column =
    text.startsWith("<") && text.rlike("^<\\d+>date=")

  // ---- regexes (shared by detect + extract) ----

  // RFC3164: <pri>MMM [d]d HH:mm:ss host app[pid]: msg   (syslog.rs:22-97)
  private val SyslogRe: String =
    "^<(\\d+)>([A-Z][a-z]{2} +\\d{1,2} \\d{2}:\\d{2}:\\d{2}) (\\S+) ([^:\\[\\s]+)(?:\\[(\\d+)\\])?: (.*)$"

  // RFC5424: <pri>1 TIMESTAMP HOSTNAME APP-NAME PROCID MSGID SD [MSG]
  // ('-' = nil; SD = '-' or one-or-more [id k="v" ...] blocks)
  private val Syslog5424Re: String =
    "^<(\\d+)>1 (\\S+) (\\S+) (\\S+) (\\S+) (\\S+) (-|(?:\\[[^\\]]*\\])+)(?: (.*))?$"

  // host ident user [ts] "METHOD path proto" status size "ref" "ua"
  // (web_servers.py:7 anchored combined_pattern + the split(' ', 3) prefix)
  private val CombinedRe: String =
    "^(\\S+) (\\S+) (\\S+) \\[(.+)\\] \"([A-Z]+) (.+) (.+)\" (\\d+) (\\d+) \"(.+)\" \"(.+)\"$"

  // [ts] [module:level] [pid N(:tid M)?] ([client IP] )?message
  // (web_servers.py:54-89 split('] ', 3) recipe)
  private val ErrorRe: String =
    "^\\[([^\\]]+)\\] \\[([^\\]]+)\\] \\[pid (\\d+)(?::tid (\\d+))?\\] (?:\\[client ([^\\]]+)\\] )?(.*)$"

  // MMM [d]d HH:mm:ss host kernel: [sec.frac] message   (kern.py:13-33)
  private val KernRe: String =
    "^([A-Z][a-z]{2} +\\d{1,2} \\d{2}:\\d{2}:\\d{2}) (\\S+) kernel: \\[(\\d+)\\.(\\d+)\\] (.*)$"

  // exactly three space-separated tokens (test_input1.py:4-12)
  private val MiniRe: String = "^(\\S+) (\\S+) (\\S+)$"

  // ---- per-format extractors ----
  // Guarded casts use try_* so rows that matched the cheap regex but carry
  // garbage in a group degrade to null instead of throwing under ANSI mode.
  //
  // EVALUATION DISCIPLINE (the engine's hottest code): every extractor (the
  // private *G names, called only by `parse`; `fortinetMap`, called by
  // `parse` and `fortinetTransform`) takes regexp_groups ARRAY columns, and
  // `parse` hoists each format's (gated) regex into ONE intermediate
  // projection column that the format tag and all field extractions then
  // read. Spark's codegen subexpression elimination does NOT look inside
  // CASE WHEN branches, so the previous text-based composition re-executed
  // the format regex once per extracted field (~9x per syslog row, measured
  // in the generated code: 298 regex call sites, zero subexpressions).
  // CollapseProject keeps the hoisted aliases un-inlined because they are
  // non-trivial and multiply referenced, and both projections fuse into
  // the same WholeStageCodegen stage.
  //
  // ga(gs, i) is 1-based like regexp_extract; unparticipating optional
  // groups are null (Java regex), not "" (a fidelity improvement over
  // regexp_extract, matching Python's m.group(i) in the reference scripts).

  /** 1-based group read off a hoisted regexp_groups array column. */
  private def ga(gs: Column, i: Int): Column = get(gs, lit(i - 1))

  private def emptyToNull(c: Column): Column = when(c =!= "", c)

  private val FortinetDateRe = "date=(\\S+)"
  private val FortinetTimeRe = "(?:^|\\s)time=(\\S+)"

  /** fortinet event (fortinet.rs:73-105): strip `<pri>`, logfmt the rest,
    * and set `t` to the date+time stitch in epoch seconds, read off the
    * date=/time= group arrays `gd`/`gt`. merge_maps (not map_concat): a
    * line carrying a literal t= logfmt key is overwritten by the stitched
    * timestamp instead of throwing under Spark's default DUPLICATED_MAP_KEY
    * policy (insert-overwrite, fortinet.rs:105).
    */
  private def fortinetMap(text: Column, gd: Column, gt: Column,
      runTsMillis: Long): Column = {
    val t = coalesce(
      unix_timestamp(try_to_timestamp(
        concat_ws(" ", emptyToNull(ga(gd, 1)), emptyToNull(ga(gt, 1))),
        lit("yyyy-MM-dd HH:mm:ss"))),
      lit(runTsMillis / 1000L)) // Local::now() fallback -> injected run clock
    mergeMaps(
      logfmt_parse_fortinet(text.substr(instr(text, ">") + 1, length(text))),
      map(lit("t"), t.cast("string")))
  }

  /** The loose fallback event ({t: run clock, +message: line}). */
  private def looseMap(text: Column, runTsMillis: Long): Column =
    map(lit("t"), lit(runTsMillis).cast("string"), lit("+message"), text)

  /** The full fortinet ROUTE-TRANSFORM semantics (fortinet.rs:73-111): a
    * line containing '>' is pri-stripped (everything after the FIRST '>')
    * and logfmt-parsed with the date/time → epoch-seconds stitch; a line
    * with no '>' at all falls back to parse_syslog ("parse as syslog, and
    * hope for the best", fortinet.rs:108-111). Both syslog forms start
    * `<pri>`, so parse_syslog gives such a line the loose map.
    */
  def fortinetTransform(text: Column, runTsMillis: Long): Column =
    when(instr(text, ">") > 0,
      fortinetMap(text, regexp_groups(text, FortinetDateRe),
        regexp_groups(text, FortinetTimeRe), runTsMillis))
      .otherwise(looseMap(text, runTsMillis))

  /** RFC3164 year resolution: the wire format has no year; syslog_loose
    * resolves against the current clock — we inject the run clock's year for
    * replay determinism (SURVEY.md §7.4.2).
    */
  private def rfc3164Millis(dateStr: Column, defaultYear: Column): Column =
    unix_millis(try_to_timestamp(
      concat_ws(" ", defaultYear, regexp_replace(dateStr, " +", " ")),
      lit("yyyy MMM d HH:mm:ss")))

  // ---- syslog (full parse_syslog fidelity, syslog.rs:22-97) ----

  /** RFC5424 facility/severity names as inserted by the reference
    * (syslog.rs:43,67 `facility.as_str()` / `severity.as_str()` via the
    * syslog_loose crate). pri values whose facility exceeds local7 get no
    * facility key (syslog_loose yields None), matching the null-dropping
    * map build here.
    */
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

  /** Merge `upper` into `lower` with upper winning on key collision (the
    * reference's serde_json `insert` overwrite, syslog.rs:70-94).
    */
  private def mergeMaps(lower: Column, upper: Column): Column =
    graft.functions.GraftFunctions.merge_maps(lower, upper)

  /** Message-body treatment (syslog.rs:81-94): a body that parses as a JSON
    * object has its keys merged into the event (overwriting); anything else
    * lands raw under `+message`. (Bare JSON scalars serialize identically
    * either way for numbers/bools; a quoted-string body keeps its quotes
    * here — the one knowing deviation, as Spark's from_json cannot target
    * bare scalars.)
    */
  private def withMessageBody(base: Column, msg: Column): Column =
    // startsWith gate: only a {...} body can be a JSON object, and the
    // gate spares the (expensive) JSON parse on every plain-text message.
    // coalesce form: merge_maps null-propagates, so a non-object body makes
    // the first branch null and the parse runs ONCE (an isNotNull test on
    // the json subtree would evaluate it a second time for the merge — CSE
    // does not dedupe inside conditionals)
    coalesce(
      when(msg.startsWith("{"),
        mergeMaps(base, graft.functions.GraftFunctions.json_flat_map(msg))),
      mergeMaps(base, map(lit("+message"), msg)))

  /** RFC3164 event map: header fields + named facility/severity + body
    * JSON-merge; missing/unparseable timestamp falls back to the run clock
    * (syslog.rs:31-35 `Utc::now()` → injected clock).
    *
    * KNOWING DEVIATION (the third, with the quoted-string body and logfmt
    * collision rename): the reference emits `proc_id` as a JSON i64 when
    * the value is numeric and a string otherwise (syslog.rs:55-64); the
    * open-schema map here is map<string,string>, so proc_id is always a
    * string. Numeric-typed filtering on proc_id must cast downstream.
    */
  private def syslog3164MapG(gs: Column, defaultYear: Column, runTsMillis: Long): Column = {
    val pri = try_cast_long(ga(gs, 1))
    val base = toMap(Seq(
      "t" -> coalesce(rfc3164Millis(ga(gs, 2), defaultYear),
        lit(runTsMillis)),
      "facility" -> facilityName(pri),
      "severity" -> severityName(pri),
      "hostname" -> emptyToNull(ga(gs, 3)),
      "app_name" -> emptyToNull(ga(gs, 4)),
      "proc_id" -> emptyToNull(ga(gs, 5))))
    withMessageBody(base, ga(gs, 6))
  }

  private def nilToNull(c: Column): Column = when(c =!= "-", c)

  /** RFC5424 event map: header (nil-aware) + msg_id + structured-data
    * flattening (last block's id under `id`, every block's params merged —
    * syslog.rs:70-78) + body JSON-merge. Nil timestamp → run clock.
    */
  private def syslog5424MapG(gs: Column, runTsMillis: Long): Column = {
    val pri = try_cast_long(ga(gs, 1))
    // RFC5424 allows fractional seconds (TIME-SECFRAC, up to 6 digits) and
    // the offset is Z or ±HH:MM; syslog_loose parses both. [.SSSSSS]
    // accepts 0-6 fraction digits; X covers Z/+02/+0200 (loose inputs),
    // XXX covers the RFC's ±HH:MM. Millis truncation matches unix_millis.
    val tsRaw = nilToNull(ga(gs, 2))
    val ts = unix_millis(coalesce(
      try_to_timestamp(tsRaw, lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]X")),
      try_to_timestamp(tsRaw, lit("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]XXX"))))
    val base = toMap(Seq(
      "t" -> coalesce(ts, lit(runTsMillis)),
      "facility" -> facilityName(pri),
      "severity" -> severityName(pri),
      "hostname" -> nilToNull(ga(gs, 3)),
      "app_name" -> nilToNull(ga(gs, 4)),
      "proc_id" -> nilToNull(ga(gs, 5)),
      "msg_id" -> nilToNull(ga(gs, 6))))
    val sdPart = nilToNull(ga(gs, 7))
    // SD ids are the first token of each [block]; params are k="v" pairs —
    // logfmt-compatible, and the fortinet-flavor parse (drop valueless
    // keys) discards the bare id tokens from the param map for free
    val sdId = emptyToNull(try_element_at(
      regexp_extract_all(sdPart, lit("\\[([^\\s\\]]+)"), lit(1)), lit(-1)))
    val sdParams = graft.functions.GraftFunctions.logfmt_parse_sd(
      regexp_replace(coalesce(sdPart, lit("")), "[\\[\\]]", " "))
    val withSd = mergeMaps(
      when(sdId.isNotNull,
        mergeMaps(base, graft.functions.GraftFunctions.compact_map(lit("id"), sdId)))
        .otherwise(base),
      sdParams)
    withMessageBody(withSd, coalesce(ga(gs, 8), lit("")))
  }

  /** `parse_syslog` off hoisted (gated) group columns, at least one of
    * them non-null: 5424 first, else 3164.
    */
  private def syslogMapG(g5424: Column, g3164: Column, defaultYear: Column,
      runTsMillis: Long): Column =
    when(g5424.isNotNull, syslog5424MapG(g5424, runTsMillis))
      .otherwise(syslog3164MapG(g3164, defaultYear, runTsMillis))

  private def combinedColsG(gs: Column): Seq[(String, Column)] = {
    val user = ga(gs, 3)
    val ref = ga(gs, 10)
    Seq(
      "host" -> ga(gs, 1),
      // '-' means absent (web_servers.py:25-26,44-45)
      "user" -> when(user =!= "-", user),
      "t" -> unix_millis(try_to_timestamp(ga(gs, 4), lit("dd/MMM/yyyy:HH:mm:ss Z"))),
      "method" -> ga(gs, 5),
      "path" -> ga(gs, 6),
      "proto" -> regexp_replace(ga(gs, 7), "^HTTP/", ""),
      "status" -> try_cast_long(ga(gs, 8)),
      "size" -> try_cast_long(ga(gs, 9)),
      "ref" -> when(ref =!= "-", ref),
      "user_agent" -> ga(gs, 11)
    )
  }

  private def errorColsG(gs: Column): Seq[(String, Column)] = Seq(
    // day-of-week is redundant for parsing and Spark's formatter rejects a
    // parse-side EEE; strip it (dateutil in web_servers.py:68 ignores it too)
    "t" -> unix_millis(try_to_timestamp(
      regexp_replace(ga(gs, 1), "^[A-Za-z]{3} ", ""),
      lit("MMM dd HH:mm:ss.SSSSSS yyyy"))),
    "level" -> ga(gs, 2),
    "pid" -> try_cast_long(ga(gs, 3)),
    "tid" -> try_cast_long(emptyToNull(ga(gs, 4))),
    "client" -> emptyToNull(ga(gs, 5)),
    "message" -> ga(gs, 6)
  )

  private def kernColsG(gs: Column, defaultYear: Column): Seq[(String, Column)] = Seq(
    "t" -> rfc3164Millis(ga(gs, 1), defaultYear),
    "since_start_sec" -> try_cast_long(ga(gs, 3)),
    "since_start_ns" -> try_cast_long(ga(gs, 4)),
    "message" -> trim(ga(gs, 5))
  )

  private def miniColsG(gs: Column): Seq[(String, Column)] = Seq(
    "method" -> ga(gs, 1),
    "path" -> ga(gs, 2),
    // status stays a string (test_input1.py:11 returns it unconverted)
    "status" -> ga(gs, 3)
  )

  private def try_cast_long(c: Column): Column = c.try_cast("long")

  // ---- config-declared formats (FormatSpec -> the same Column trees) ----

  /** Cheap pre-regex gate of a config format (startsWith/contains AND-ed);
    * no gate declared = always probe (like the built-in mini entry).
    */
  private def specGate(spec: graft.model.FormatSpec, text: Column): Column =
    (spec.gatePrefix.map(p => text.startsWith(p)) ++
      spec.gateContains.map(c => text.contains(c)))
      .reduceOption(_ && _).getOrElse(lit(true))

  /** Field + ts recipes of a config format off its hoisted group array —
    * identical discipline to the built-in *G extractors (the regex ran once
    * in the hoist stage; this only reads array slots).
    */
  private def specColsG(spec: graft.model.FormatSpec, gs: Column,
      runTsMillis: Long): Seq[(String, Column)] = {
    val ts = spec.ts.map { t =>
      val raw = emptyToNull(ga(gs, t.group))
      val parsed =
        if (t.pattern.isEmpty) try_cast_long(raw)
        else if (t.unit == "seconds")
          unix_timestamp(try_to_timestamp(raw, lit(t.pattern)))
        else unix_millis(try_to_timestamp(raw, lit(t.pattern)))
      val fallback =
        if (t.unit == "seconds") lit(runTsMillis / 1000L) else lit(runTsMillis)
      "t" -> (if (t.fallbackRunClock) coalesce(parsed, fallback) else parsed)
    }
    ts.toSeq ++ spec.fields.map { f =>
      val raw = ga(gs, f.group)
      f.name -> (if (f.cast == "long") try_cast_long(raw) else raw)
    }
  }

  // ---- unified parse: format tag + open-schema fields map ----

  /** Map form of an extractor: stringify values, drop null-valued entries
    * (reference events are flat JSON objects that simply omit absent keys).
    * CompactMap builds the row's map in one allocation — the map_concat
    * chain it replaces was the pipeline's dominant GC pressure.
    */
  private def toMap(cols: Seq[(String, Column)]): Column =
    graft.functions.GraftFunctions.compact_map(
      cols.flatMap { case (k, v) => Seq(lit(k), v.cast("string")) }: _*)

  /** Adds `format` (dictionary entry that matched, or 'malformed') and
    * `fields` (map<string,string> of extracted keys) to a DataFrame with a
    * `text` column.
    *
    * TWO staged projections inside one WholeStageCodegen: the first
    * evaluates each format's GATED regex (and the JSON parse) exactly once
    * per row into intermediate group-array columns; the second builds the
    * format tag and the fields map by reading those arrays. Codegen CSE
    * cannot dedupe subtrees inside CASE WHEN branches, so the previous
    * single-projection form re-ran the matched format's regex once per
    * extracted field (~9x per syslog row). CollapseProject leaves the
    * stages split because the hoisted aliases are non-trivial and
    * multiply referenced. The cheap prefix/contains gates still let a row
    * skip every regex that cannot match it.
    */
  def parse(df: DataFrame, runTsMillis: Long,
      extras: Seq[graft.model.FormatSpec] = Nil): DataFrame = {
    val text = col("text")
    val year = date_format(timestamp_millis(lit(runTsMillis)), "yyyy")

    val isf = col("_isf")
    val g5424 = col("_g5424"); val g3164 = col("_g3164")
    val gcomb = col("_gcomb"); val gerr = col("_gerr")
    val gkern = col("_gkern"); val gjson = col("_gjson")
    val gmini = col("_gmini")
    // chained stages (each withColumns is one projection; a column may only
    // reference columns from an EARLIER stage); all fuse into one
    // WholeStageCodegen
    val staged = df
      .withColumn("_isf", isFortinet(text))
      .withColumns(scala.collection.immutable.ListMap(
        "_g5424" -> when(!isf && text.startsWith("<") && text.contains(">1 "),
          regexp_groups(text, Syslog5424Re)),
        "_g3164" -> when(!isf && text.startsWith("<"),
          regexp_groups(text, SyslogRe)),
        "_gcomb" -> when(text.contains("] \""), regexp_groups(text, CombinedRe)),
        "_gerr" -> when(text.startsWith("["), regexp_groups(text, ErrorRe)),
        "_gkern" -> when(text.contains(" kernel: ["), regexp_groups(text, KernRe)),
        // json_flat_map, not from_json: JsonToStructs is CodegenFallback
        // and ONE fallback expression excludes the whole fused parse
        // projection from WholeStageCodegen (measured: the parse stage ran
        // as an un-fused Project until this was replaced)
        "_gjson" -> when(text.startsWith("{"),
          graft.functions.GraftFunctions.json_flat_map(text)),
        "_gfd" -> when(isf, regexp_groups(text, FortinetDateRe)),
        "_gft" -> when(isf, regexp_groups(text, FortinetTimeRe))))
      // mini only if nothing above matched — the regex never runs for a
      // row another dictionary entry already claimed
      .withColumn("_gmini", when(!isf && g5424.isNull && g3164.isNull &&
        gcomb.isNull && gerr.isNull && gkern.isNull && gjson.isNull,
        regexp_groups(text, MiniRe)))
      // CONFIG-DECLARED entries (FormatSpec): hoisted in a further chained
      // stage (they may read _gmini), gated on their own cheap gate AND on
      // no built-in having claimed the row — still one fused
      // WholeStageCodegen with one regex execution per (row, format)
      .withColumns(scala.collection.immutable.ListMap(
        extras.zipWithIndex.map { case (sp, i) =>
          s"_gx$i" -> when(!isf && g5424.isNull && g3164.isNull &&
            gcomb.isNull && gerr.isNull && gkern.isNull && gjson.isNull &&
            gmini.isNull && specGate(sp, text),
            regexp_groups(text, sp.regex))
        }: _*))

    val formatBuiltin = when(isf, "fortinet")
      .when(g5424.isNotNull || g3164.isNotNull, "syslog")
      .when(gcomb.isNotNull, "combined")
      .when(gerr.isNotNull, "error")
      .when(gkern.isNotNull, "kern")
      .when(gjson.isNotNull, "json")
      .when(gmini.isNotNull, "mini")
    val format = extras.zipWithIndex.foldLeft(formatBuiltin) {
      case (acc, (sp, i)) => acc.when(col(s"_gx$i").isNotNull, sp.name)
    }.otherwise("malformed")

    val fieldsBuiltin = when(isf,
        fortinetMap(text, col("_gfd"), col("_gft"), runTsMillis))
      .when(g5424.isNotNull || g3164.isNotNull,
        syslogMapG(g5424, g3164, year, runTsMillis))
      .when(gcomb.isNotNull, toMap(combinedColsG(gcomb)))
      .when(gerr.isNotNull, toMap(errorColsG(gerr)))
      .when(gkern.isNotNull, toMap(kernColsG(gkern, year)))
      .when(gjson.isNotNull, gjson)
      .when(gmini.isNotNull, toMap(miniColsG(gmini)))
    val fields = extras.zipWithIndex.foldLeft(fieldsBuiltin) {
      case (acc, (sp, i)) => acc.when(col(s"_gx$i").isNotNull,
        toMap(specColsG(sp, col(s"_gx$i"), runTsMillis)))
    }.otherwise(map().cast("map<string,string>"))

    staged.withColumn("format", format).withColumn("fields", fields)
      .drop(Seq("_isf", "_g5424", "_g3164", "_gcomb", "_gerr", "_gkern",
        "_gjson", "_gmini", "_gfd", "_gft") ++
        extras.indices.map(i => s"_gx$i"): _*)
  }
}
