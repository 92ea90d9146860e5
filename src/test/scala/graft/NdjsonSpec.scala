package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.model.PipelineConfig
import graft.parse.PatternDictionary
import graft.pipeline.{Pipeline, TranscriptGen, Transcripts}
import graft.state.NdjsonFormat

/** NDJSON output parity with the reference's file sink (file.rs:859-871:
  * `event.to_string()` + '\n' per event, serde_json over a BTreeMap event
  * map = compact JSON, keys in byte order, i64 `t`):
  *
  *   1. BYTE-level golden for the fortinet int test
  *      (int_tests/fortinet.toml:33-37 routes samples/fortinet_log.syslog
  *      through the fortinet transform into a .json file): the expected
  *      line is reconstructed in this spec from the raw sample text and
  *      serde_json's serialization rules, independently of the parser.
  *   2. The NdjsonFormat TableFormat binding: the same pipeline run fans
  *      out json-lines sinks with identical routed counts and resume
  *      semantics as the parquet binding.
  */
class NdjsonSpec extends SparkSpec {

  /** First line of the reference's samples/fortinet_log.syslog (the
    * `<190>` pri prefix, then the logfmt body LogfmtParseSpec quotes),
    * vendored as a test resource.
    */
  private val sampleResource = "/fortinet_log.syslog"

  /** Expected serde_json line built from hand-listed (key, value) pairs:
    * sorted unique keys, strings quoted, `t` bare. No value in the sample
    * needs escaping, so quoting is plain concatenation — the rule itself,
    * not our EventJson code.
    */
  private def serdeLine(pairs: Seq[(String, String)], tEpochSec: Long): String =
    (pairs :+ ("t" -> tEpochSec.toString)).sortBy(_._1)
      .map { case (k, v) => if (k == "t") s""""$k":$v""" else s""""$k":"$v"""" }
      .mkString("{", ",", "}")

  test("fortinet int test: event_json bytes match serde_json") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(sampleResource), "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    val out = lines.toDF("text")
      .select(GraftFunctions.event_json(
        PatternDictionary.fortinetTransform(col("text"),
          Transcripts.RunTsMillis)).as("j"))
      .as[String].collect()

    // first sample line, fields hand-copied from the raw text (date/time
    // dropped — they stitch into t; the reference parses the local-naive
    // timestamp in the HOST's zone, env-dependent; both engines here pin
    // UTC): 2023-07-07T14:02:12Z
    val t = java.time.LocalDateTime.of(2023, 7, 7, 14, 2, 12)
      .toEpochSecond(java.time.ZoneOffset.UTC)
    val expected = serdeLine(Seq(
      "devname" -> "FGT60D4Q16025343", "devid" -> "FGT60D4Q16025343",
      "logid" -> "1059028704", "type" -> "utm", "subtype" -> "app-ctrl",
      "eventtype" -> "app-ctrl-all", "level" -> "information",
      "vd" -> "root", "appid" -> "15895", "user" -> "",
      "srcip" -> "192.168.1.110", "srcport" -> "38348",
      "srcintf" -> "internal", "dstip" -> "74.6.231.19",
      "dstport" -> "443", "dstintf" -> "wan1", "proto" -> "6",
      "service" -> "HTTPS", "policyid" -> "1", "sessionid" -> "962",
      "applist" -> "default", "appcat" -> "Network.Service",
      "app" -> "SSL", "action" -> "pass", "hostname" -> "www.yahoo.com",
      "url" -> "/", "msg" -> "Network.Service: SSL,",
      "apprisk" -> "elevated"), t)
    assert(out.head === expected)
    // every sample line serializes with a bare numeric t and sorted keys
    out.foreach { j =>
      assert(j.matches(""".*"t":\d+[,}].*"""), j)
      val keys = """"([a-z_]+)":""".r.findAllMatchIn(j).map(_.group(1)).toSeq
      assert(keys === keys.sorted, j)
    }
  }

  test("NdjsonFormat: the pipeline fans out json-lines sinks with parquet-equal counts") {
    val root = Files.createTempDirectory("graft_ndjson").toString
    val n = 2000L
    // stage the input in BOTH bindings (run() reads input through the seam)
    TranscriptGen.transcripts(spark, n).write.parquet(s"$root/in_parquet")
    spark.read.parquet(s"$root/in_parquet").write.json(s"$root/in_json")

    val pq = Pipeline.run(spark,
      PipelineConfig.default(s"$root/in_parquet", s"$root/out_pq", Transcripts.RunTsMillis))
    val nd = Pipeline.run(spark,
      PipelineConfig.default(s"$root/in_json", s"$root/out_nd", Transcripts.RunTsMillis),
      NdjsonFormat)

    assert(nd.totalRows === pq.totalRows)
    assert(nd.sinks.map(s => s.sink -> s.rows).toMap ===
      pq.sinks.map(s => s.sink -> s.rows).toMap)
    // the data files really are text json-lines, one object per row
    val aFile = Files.walk(Paths.get(s"$root/out_nd/data")).iterator()
    val dataFiles = scala.jdk.CollectionConverters.IteratorHasAsScala(aFile)
      .asScala.filter(p => p.getFileName.toString.endsWith(".json")).toSeq
    assert(dataFiles.nonEmpty)
    val firstLine = scala.io.Source.fromFile(dataFiles.head.toFile)
      .getLines().next()
    assert(firstLine.startsWith("{") && firstLine.endsWith("}"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }
}
