package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{combined_fields, error_fields, format_spec_fields,
  fortinet_fields, json_flat_map, kern_fields, mini_fields, regexp_groups,
  syslog3164_fields, syslog5424_fields}

/** The compiled pattern dictionary — the Spark-native replacement for the
  * reference's per-row Python transform (log-ship/src/plugins/python.rs) and
  * native parsers (syslog.rs, fortinet.rs, logfmt.rs). Each entry is a
  * gated `regexp_groups` match, hoisted so it runs once per row, and one
  * field kernel call ([[graft.functions.ParseFields]]) that builds the
  * entry's fields map from the match's groups. The whole parse stage runs
  * inside WholeStageCodegen with no per-row UDF — the exact optimization
  * the reference docs beg operators to do by hand
  * (site/docs/config.md:166-174,214-217) — and its generated method stays
  * under HotSpot's 8,000-byte JIT limit, so it is compiled, not
  * interpreted.
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
  * get the loose fallback). The regexes are private to them.
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

  // ---- per-format field kernels ----
  // Each format's `fields` map is ONE kernel call (graft.functions.
  // ParseFields) on the format's hoisted group array: the conversions
  // (timestamps, long casts, the logfmt, structured-data and JSON-body
  // merges) run as compiled Scala. Built from Catalyst expressions, the
  // dictionary's `fields` CASE WHEN compiled into a ~30 KB processNext,
  // and HotSpot interprets any method over 8,000 bytes of bytecode
  // (HugeMethodLimit); with the kernel calls every generated method of the
  // fused stage stays far below that (DictionarySpec pins it).
  //
  // KNOWING DEVIATIONS from the reference: proc_id is always a string,
  // where syslog.rs:55-64 emits a JSON i64 for numeric values (the
  // open-schema map is map<string,string>; cast downstream), and a
  // quoted-string message body is not a JSON object, so it lands raw
  // under `+message` with its quotes.

  private val FortinetDateRe = "date=(\\S+)"
  private val FortinetTimeRe = "(?:^|\\s)time=(\\S+)"

  /** A date=/time= regex's groups; empty, not null, where it does not
    * match, so the fortinet kernel still runs and falls back to the run
    * clock.
    */
  private def fortinetGroups(text: Column, re: String): Column =
    coalesce(regexp_groups(text, re), typedlit(Seq.empty[String]))

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
      fortinet_fields(text, fortinetGroups(text, FortinetDateRe),
        fortinetGroups(text, FortinetTimeRe), runTsMillis))
      .otherwise(looseMap(text, runTsMillis))

  // ---- config-declared formats (FormatSpec -> the same hoist + a kernel) ----

  /** Cheap pre-regex gate of a config format (startsWith/contains AND-ed);
    * no gate declared = always probe (like the built-in mini entry).
    */
  private def specGate(spec: graft.model.FormatSpec, text: Column): Column =
    (spec.gatePrefix.map(p => text.startsWith(p)) ++
      spec.gateContains.map(c => text.contains(c)))
      .reduceOption(_ && _).getOrElse(lit(true))

  // ---- unified parse: format tag + open-schema fields map ----

  /** Adds `format` (dictionary entry that matched, or 'malformed') and
    * `fields` (map<string,string> of extracted keys) to a DataFrame with a
    * `text` column.
    *
    * TWO staged projections inside one WholeStageCodegen: the first
    * evaluates each format's GATED regex (and the JSON parse) exactly once
    * per row into intermediate group-array columns; the second builds the
    * format tag and, through one field kernel per format, the fields map
    * by reading those arrays. Codegen CSE cannot dedupe subtrees inside
    * CASE WHEN branches, so without the hoist the matched format's regex
    * would run once per extracted field. CollapseProject leaves the
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
          json_flat_map(text)),
        "_gfd" -> when(isf, fortinetGroups(text, FortinetDateRe)),
        "_gft" -> when(isf, fortinetGroups(text, FortinetTimeRe))))
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
        fortinet_fields(text, col("_gfd"), col("_gft"), runTsMillis))
      .when(g5424.isNotNull, syslog5424_fields(g5424, runTsMillis))
      .when(g3164.isNotNull, syslog3164_fields(g3164, year, runTsMillis))
      .when(gcomb.isNotNull, combined_fields(gcomb))
      .when(gerr.isNotNull, error_fields(gerr))
      .when(gkern.isNotNull, kern_fields(gkern, year))
      .when(gjson.isNotNull, gjson)
      .when(gmini.isNotNull, mini_fields(gmini))
    val fields = extras.zipWithIndex.foldLeft(fieldsBuiltin) {
      case (acc, (sp, i)) => acc.when(col(s"_gx$i").isNotNull,
        format_spec_fields(col(s"_gx$i"), sp, runTsMillis))
    }.otherwise(map().cast("map<string,string>"))

    staged.withColumn("format", format).withColumn("fields", fields)
      .drop(Seq("_isf", "_g5424", "_g3164", "_gcomb", "_gerr", "_gkern",
        "_gjson", "_gmini", "_gfd", "_gft") ++
        extras.indices.map(i => s"_gx$i"): _*)
  }
}
