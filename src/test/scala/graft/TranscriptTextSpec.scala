package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.pipeline.Transcripts

/** The `transcript_line` kernel ([[graft.functions.TranscriptText]])
  * against the Catalyst `concat` builders it replaces: the same text for
  * every format, on events rows with negative ids, DST-edge stamps and a
  * null in each nullable column, under three session time zones.
  */
class TranscriptTextSpec extends SparkSpec {

  // ---- the Catalyst builders the kernel replaces ----

  private val K = col("event_id")
  private val U = col("user_id")
  private val E = col("event_type")

  private def method: Column = when(E === "click", "GET").when(E === "view", "POST")
    .when(E === "error", "DELETE").otherwise("PUT")
  private def status: Column = (lit(200) + pmod(K, lit(5)) * 100).cast("string")
  private def sizeCol: Column = floor(abs(col("value")) * 100).cast("long")
  private def userStr: Column = when(U % 3 === 0, "-").otherwise(concat(lit("u"), U))
  private def hostStr: Column = concat(lit("h"), pmod(U, lit(50)))
  private def level: Column = when(E === "error", "error").when(E === "click", "notice")
    .when(E === "view", "info").otherwise("warn")
  private def d(fmt: String): Column = date_format(col("ts"), fmt)

  private def fortinetLine: Column = concat(
    lit("<190>date="), d("yyyy-MM-dd"), lit(" time="), d("HH:mm:ss"),
    lit(" devname=FGT"), U, lit(" devid=FGT"), U,
    lit(" logid="), K,
    lit(" type="), when(K % 3 === 0, "event").otherwise("utm"),
    lit(" subtype=app-ctrl level=information vd=\"root\" user=\"u"), U,
    lit("\" srcip=192.168.1."), pmod(U, lit(250)),
    lit(" srcport="), (lit(1024) + pmod(K, lit(60000))),
    lit(" dstport=443 proto=6 service=\"HTTPS\" action="),
    when(K % 7 === 0, "block").otherwise("pass"),
    lit(" msg=\""), E, lit(": SSL,\" apprisk=elevated"))

  private def syslogLine: Column = {
    val pri = pmod(K, lit(192))
    val jsonBody = concat(lit("{\"etype\": \""), E, lit("\", \"k\": \""), K, lit("\"}"))
    val plainBody = concat(lit("evt "), E, lit(" "), K)
    val m5 = pmod(K, lit(5))
    val rfc3164Head = concat(
      lit("<"), pri, lit(">"), d("MMM dd HH:mm:ss"),
      lit(" host"), U, lit(" app"), pmod(K, lit(7)),
      lit("["), pmod(K, lit(30000)), lit("]: "))
    when(m5 <= 1, concat(rfc3164Head, plainBody))
      .when(m5 === 2, concat(rfc3164Head, jsonBody))
      .when(m5 === 3, concat(
        lit("<"), pri, lit(">1 "), d("yyyy-MM-dd'T'HH:mm:ss'Z'"),
        lit(" host"), U, lit(" app"), pmod(K, lit(7)),
        lit(" "), pmod(K, lit(30000)), lit(" mid"), pmod(K, lit(9)),
        lit(" [exampleSDID@32473 iut=\""), pmod(K, lit(4)),
        lit("\" eventSource=\""), E, lit("\"] "), plainBody))
      .otherwise(concat(
        lit("<"), pri, lit(">1 - - app"), pmod(K, lit(7)),
        lit(" - mid"), pmod(K, lit(9)), lit(" - "), jsonBody))
  }

  private def combinedLine: Column = concat(
    hostStr, lit(" - "), userStr,
    lit(" ["), d("dd/MMM/yyyy:HH:mm:ss"), lit(" +0000] \""),
    method, lit(" /p/"), K, lit(" HTTP/1.1\" "), status, lit(" "), sizeCol,
    lit(" \""), when(K % 4 === 0, lit("-")).otherwise(concat(lit("http://r/"), pmod(K, lit(10)))),
    lit("\" \"Mozilla/5.0 (test)\""))

  private def errorLine: Column = concat(
    lit("["), d("EEE MMM dd HH:mm:ss"), lit("."), d("SSSSSS"), lit(" "), d("yyyy"),
    lit("] [core:"), level, lit("] [pid "), pmod(K, lit(30000)),
    when(K % 2 === 0, concat(lit(":tid "), pmod(K, lit(500)))).otherwise(lit("")),
    lit("] "),
    when(K % 3 =!= 0,
      concat(lit("[client 10.0.0."), pmod(U, lit(250)), lit(":"),
        lit(1024) + pmod(K, lit(50000)), lit("] "))).otherwise(lit("")),
    lit("AH"), lpad(pmod(K, lit(100000)).cast("string"), 5, "0"),
    lit(": "), E, lit(" happened"))

  private def kernLine: Column = concat(
    d("MMM d HH:mm:ss"), lit(" host"), U, lit(" kernel: ["), K, lit("."),
    lpad(pmod(K, lit(1000000)).cast("string"), 6, "0"),
    lit("] ACPI: "), E, lit(" stopped"))

  private def jsonLine: Column = concat(
    lit("{\"etype\": \""), E, lit("\", \"k\": \""), K, lit("\"}"))

  private def miniLine: Column = concat(method, lit(" /p/"), K, lit(" "), status)

  private def mix: Column = {
    val m = pmod(K, lit(8))
    when(m === 0, fortinetLine).when(m === 1, syslogLine).when(m === 2, combinedLine)
      .when(m === 3, errorLine).when(m === 4, kernLine).when(m === 5, jsonLine)
      .when(m === 6, miniLine).otherwise(concat(lit("###"), K))
  }

  // ---- the comparison ----

  private def session(zone: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", zone)
    GraftFunctions.ensureRegistered(s)
    s
  }

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** Events rows: ids -9..48 (every format and syslog variant, negative
    * remainders), stamps around the 2024 US DST switches and a leap day,
    * and each nullable column null on some rows.
    */
  private val rows: Seq[Row] = {
    val stamps = Seq("2024-03-10T02:30:00.5", "2024-11-03T01:30:00.000123",
      "2024-02-29T23:59:59.999999", "2024-06-01T00:00:00").map(java.time.LocalDateTime.parse)
    val types = Seq("click", "view", "error", "purchase")
    (-9L to 48L).map { k =>
      val i = (k + 9).toInt
      Row(k,
        if (i % 11 == 5) null else stamps(i % stamps.length),
        if (i % 13 == 7) null else java.lang.Long.valueOf(k * 37 - 100),
        if (i % 17 == 3) null else types(i % types.length),
        if (i % 19 == 2) null else java.lang.Double.valueOf(k * 1.37 - 20))
    } :+ Row(null, stamps.head, 1L, "click", 1.0)
  }

  test("transcript_line matches the Catalyst builders for every format and null") {
    for (zone <- Seq("UTC", "America/Los_Angeles", "+05:30")) {
      val s = session(zone)
      val events = s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
      val lines = Seq("mix" -> (mix, Transcripts.fromEvents(events).select("text")),
        "fortinet" -> (fortinetLine, events.select(Transcripts.fortinetLine)),
        "syslog" -> (syslogLine, events.select(Transcripts.syslogLine)),
        "combined" -> (combinedLine, events.select(Transcripts.combinedLine)),
        "error" -> (errorLine, events.select(Transcripts.errorLine)),
        "kern" -> (kernLine, events.select(Transcripts.kernLine)),
        "json" -> (jsonLine, events.select(Transcripts.jsonLine)),
        "mini" -> (miniLine, events.select(Transcripts.miniLine)))
      lines.foreach { case (name, (old, got)) =>
        val want = events.select(old).collect().map(_.getString(0)).toSeq
        assert(want.count(_ == null) < want.length, s"$name: all null")
        assert(got.collect().map(_.getString(0)).toSeq === want, s"$name under $zone")
      }
    }
  }

  test("transcripts build on a session no query has registered") {
    val fresh = spark.newSession()
    val df = graft.pipeline.TranscriptGen.transcripts(fresh, 16)
    assert(df.filter(col("text").isNotNull).count() === 16L)
  }
}
