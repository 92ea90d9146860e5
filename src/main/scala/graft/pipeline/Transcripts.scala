package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Deterministic transcripts table derived from the driver-provided `events`
  * parquet (TESTDATA.md) — no external data. Every derivation here is a pure
  * function of events columns so the DuckDB oracle can compute the EXPECTED
  * parse output directly from the base columns without reimplementing the
  * parsers (strong oracle: construction and parsing can't share a bug).
  *
  * text payload mix follows FIXTURES.md §2 (formats drawn from the
  * reference's production parsers); the format of row k is chosen by
  * `event_id % 8`.
  */
object Transcripts {

  /** Fixed run clock for determinism (reference uses wall-clock,
    * insert_ts.rs:82-87 / fortinet.rs:103 — replay equality demands an
    * injected clock). 2024-06-01T00:00:00Z, same year as the events data so
    * RFC3164 year resolution reconstructs the original ts.
    */
  val RunTsMillis: Long = 1717200000000L

  def events(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")

  // ---- shared derivations (mirrored 1:1 in the oracle SQL) ----

  private val K = col("event_id")
  private val U = col("user_id")
  private val E = col("event_type")

  def method: Column = when(E === "click", "GET")
    .when(E === "view", "POST")
    .when(E === "error", "DELETE")
    .otherwise("PUT")

  def status: Column = (lit(200) + pmod(K, lit(5)) * 100).cast("string")

  /** The text of each turn in `format` (an int column: 0 fortinet, 1
    * syslog, 2 combined, 3 error, 4 kern, 5 json, 6 mini, 7 malformed),
    * built by the `transcript_line` kernel (graft.functions.TranscriptText,
    * which documents each format). The nullable columns reach it with a
    * placeholder and a bit of `nulls`, so a null prints as null text
    * exactly where `concat` would give one. The line columns call a graft
    * function, so their session must be registered (`fromEvents` and
    * `withText` register it).
    */
  private def line(format: Column): Column = {
    import graft.functions.TranscriptText._
    val ts = col("ts").cast("timestamp")
    val nulls = Seq(U -> UserNull, E -> TypeNull, col("value") -> ValueNull, ts -> TsNull)
      .map { case (c, bit) => when(c.isNull, bit).otherwise(0) }.reduce(_ bitwiseOR _)
    GraftFunctions.transcript_line(format.cast("int"), K,
      coalesce(U, lit(0L)), coalesce(E, lit("")), coalesce(col("value"), lit(0.0)),
      coalesce(ts, timestamp_micros(lit(0L))), nulls)
  }

  def fortinetLine: Column = line(lit(0))

  /** Syslog mix covering the reference's full parse_syslog surface
    * (syslog.rs:22-97): RFC 3164 and RFC 5424 variants by event_id % 5.
    */
  def syslogLine: Column = line(lit(1))

  /** Fortinet ROUTE input mix: 4/5 normal pri-prefixed lines, 1/5 with no
    * '>' at all — exercising the transform's parse_syslog fallback
    * (fortinet.rs:108-111; such lines get {t: run clock, +message: line}).
    */
  def fortinetRouteLine: Column =
    when(pmod(K, lit(5)) === 4, regexp_replace(fortinetLine, "^<190>", ""))
      .otherwise(fortinetLine)

  def combinedLine: Column = line(lit(2))

  def errorLine: Column = line(lit(3))

  def kernLine: Column = line(lit(4))

  def jsonLine: Column = line(lit(5))

  def miniLine: Column = line(lit(6))

  /** The transcript envelope (input_hint schema) over events: one turn per
    * event, text by the format mix, conversation = user.
    */
  def transcripts(spark: SparkSession, sfDir: String): DataFrame =
    fromEvents(events(spark, sfDir))

  /** Same envelope over any events-shaped frame (event_id, ts, user_id,
    * event_type, value) — used by TranscriptGen for scaled synthetic data.
    * `textOverride` (a Column over the events columns) replaces the
    * standard format mix; the quarantine fuzz query uses it to plant
    * hostile lines inside the otherwise-normal envelope.
    */
  def fromEvents(ev: DataFrame, textOverride: Option[Column] = None): DataFrame = {
    GraftFunctions.ensureRegistered(ev.sparkSession)
    val text = textOverride.getOrElse(line(pmod(K, lit(8))))
    ev.select(
      concat(lit("conv-"), U).as("conv_id"),
      K.cast("int").as("turn_idx"),
      when(K % 4 === 0, "user").when(K % 4 === 1, "assistant")
        .when(K % 4 === 2, "tool").otherwise("system").as("role"),
      text.as("text"),
      when(K % 5 === 0, "none").when(K % 5 === 1, "bash")
        .when(K % 5 === 2, "search").when(K % 5 === 3, "browser")
        .otherwise("code").as("tool"),
      col("ts"))
  }

  /** Single-format text frames for the per-format parse queries: the raw
    * events columns are carried alongside so outputs can be keyed.
    */
  def withText(spark: SparkSession, sfDir: String, line: Column): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    events(spark, sfDir).withColumn("text", line)
  }
}
