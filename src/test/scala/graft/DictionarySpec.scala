package graft

import org.apache.spark.sql.functions._

import graft.model.{FieldSpec, FormatSpec, PipelineConfig, SinkRule, TsSpec}
import graft.parse.PatternDictionary
import graft.pipeline.Transcripts

/** Pins the CONFIG-TIME format registry (FormatSpec) — the reference's
  * add-a-parser-without-recompiling workflow (log-ship/src/main.rs:115-137
  * name->factory registry, config_file.rs:45-77 TOML bindings): a brand-new
  * format is declared as data, compiled into the same gated/hoisted Column
  * trees as the built-in dictionary entries, and validated at config time
  * (fail fast, config_file.rs:32-80), with built-in behavior unchanged.
  */
class DictionarySpec extends SparkSpec {

  // 2024-06-01T10:00:00Z (session tz is UTC; avoid JVM-default-tz parsing)
  private val tsMillis = 1717236000000L

  private val csvSpec = FormatSpec(
    name = "evtcsv",
    regex = "^EVT,([a-z]+),(\\d+),(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2})$",
    fields = Seq(FieldSpec("kind", 1), FieldSpec("n", 2, "long")),
    ts = Some(TsSpec(3, "yyyy-MM-dd HH:mm:ss")),
    gatePrefix = Some("EVT,"))

  private def parsed(lines: String*) = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    PatternDictionary.parse(
      lines.toSeq.toDF("text"), Transcripts.RunTsMillis, Seq(csvSpec))
      .select(col("text"), col("format"),
        try_element_at(col("fields"), lit("kind")).as("kind"),
        try_element_at(col("fields"), lit("n")).as("n"),
        try_element_at(col("fields"), lit("t")).as("t"))
      .collect()
  }

  test("a config-declared format parses purely from its spec") {
    val Array(r) = parsed("EVT,click,42,2024-06-01 10:00:00")
    assert(r.getString(1) === "evtcsv")
    assert(r.getString(2) === "click")
    assert(r.getString(3) === "42")
    assert(r.getString(4) === tsMillis.toString)
  }

  test("unparseable ts falls back to the injected run clock") {
    val Array(r) = parsed("EVT,view,7,9999-99-99 99:99:99")
    // the regex still matches (digit shapes), but try_to_timestamp rejects
    // the impossible date -> run clock, the deterministic Local::now()
    assert(r.getString(1) === "evtcsv")
    assert(r.getString(4) === "1717200000000")
  }

  test("built-in entries keep priority; unmatched rows stay malformed") {
    val rows = parsed(
      "GET /p/1 200", // built-in mini claims it (3 tokens)
      "{\"a\": \"1\"}", // built-in json
      "EVT,oops,notanumber,2024-06-01 10:00:00") // gate passes, regex fails
    assert(rows.map(_.getString(1)).toSeq ===
      Seq("mini", "json", "malformed"))
  }

  test("config validation rejects bad specs at plan-build time") {
    def cfgWith(f: FormatSpec) =
      PipelineConfig("/in", "/out", Seq(SinkRule("a", "format = 'mini'")),
        formats = Seq(f))
    assert(cfgWith(csvSpec.copy(regex = "(unclosed")).validate().isLeft)
    assert(cfgWith(csvSpec.copy(name = "mini")).validate().isLeft) // built-in collision
    assert(cfgWith(csvSpec.copy(fields = Seq(FieldSpec("x", 9)))).validate().isLeft)
    assert(cfgWith(csvSpec.copy(fields = Seq(FieldSpec("x", 1, "float")))).validate().isLeft)
    assert(cfgWith(csvSpec.copy(ts = Some(TsSpec(3, unit = "days")))).validate().isLeft)
    assert(cfgWith(csvSpec).validate().isRight)
  }

  test("the parse projection stays in whole-stage codegen") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    // text derived from spark.range, not literals: literal input
    // constant-folds the whole parse into a LocalTableScan
    val inputs = Seq(
      "config formats" -> (Seq(csvSpec), concat(lit("EVT,click,"), col("id"),
        lit(",2024-06-01 10:00:00"))),
      "built-in dictionary" -> (Seq.empty[FormatSpec],
        concat(lit("<13>Jun  5 04:03:02 h"), col("id"), lit(" cron[7]: hello"))))
    inputs.foreach { case (label, (formats, text)) =>
      val df = PatternDictionary.parse(
        spark.range(4).select(text.as("text")), Transcripts.RunTsMillis, formats)
      val plan = df.queryExecution.executedPlan.toString
      // the PROJECT must be starred: the Range under it prints "*(1) Range"
      // even when the parse projection falls out of codegen (one
      // CodegenFallback expression in the fused trees is enough for that)
      assert("""\*\(\d+\) Project""".r.findFirstIn(plan).nonEmpty,
        s"$label: parse projection not in a WholeStageCodegen span:\n$plan")
      assert("""(?m)^[\s:|+-]*Project \[""".r.findFirstIn(plan).isEmpty,
        s"$label: an un-fused Project survives in:\n$plan")
    }
  }
}
