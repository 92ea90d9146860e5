package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.enrich.Enrich
import graft.functions.GraftFunctions
import graft.model.PipelineConfig
import graft.parse.PatternDictionary
import graft.route.Router
import graft.streaming.StreamingPipeline

/** Driver-verified queries for the log-pipeline operator surface
  * (SURVEY.md §2.2-§2.5). Each query synthesizes its input text
  * deterministically from the `events` parquet columns (Transcripts), parses
  * it back with the pattern dictionary, and is checked against a DuckDB
  * oracle that computes the EXPECTED fields directly from the base columns —
  * construction and parsing cannot share a bug.
  */
object PipelineQueries {

  import Transcripts.RunTsMillis

  private def reg(s: SparkSession): Unit = GraftFunctions.ensureRegistered(s)

  private val year2024 = lit("2024")

  /** Default pipeline config used by the e2e queries (output paths unused
    * by the pure transform).
    */
  def e2eConfig: PipelineConfig = PipelineConfig.default("", "", RunTsMillis)

  /** The int_tests mini format (test_input1.py) extended with a numeric
    * duration and a timestamp column — declared as config DATA, compiled by
    * PatternDictionary into the same gated/hoisted trees as the built-ins.
    */
  val Mini4Spec: graft.model.FormatSpec = graft.model.FormatSpec(
    name = "mini4",
    regex = "^(\\S+) (\\S+) (\\d+) (\\d+) (\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2})$",
    fields = Seq(
      graft.model.FieldSpec("method", 1),
      graft.model.FieldSpec("path", 2),
      graft.model.FieldSpec("status", 3, "long"),
      graft.model.FieldSpec("duration_ms", 4, "long")),
    ts = Some(graft.model.TsSpec(5, "yyyy-MM-dd HH:mm:ss")),
    gateContains = Some(" /"))

  private def fmtQuery(line: Column, cols: Seq[(String, Column)])(
      s: SparkSession, dir: String): DataFrame = {
    reg(s)
    Transcripts.withText(s, dir, line)
      .select(col("event_id") +: cols.map { case (n, c) => c.as(n) }: _*)
      .orderBy("event_id")
  }

  /** fmtQuery with the shared parse result HOISTED into one intermediate
    * column: codegen CSE does not dedupe repeated subtrees, so extracting
    * 13 fields from `syslogMap(text)` directly re-built the whole map (and
    * re-ran its regexes) once per field. CollapseProject keeps the hoisted
    * alias because it is non-trivial and multiply referenced.
    */
  private def fmtQueryHoisted(line: Column, shared: Column,
      cols: Column => Seq[(String, Column)])(
      s: SparkSession, dir: String): DataFrame = {
    reg(s)
    Transcripts.withText(s, dir, line)
      .withColumn("_m", shared)
      .select(col("event_id") +:
        cols(col("_m")).map { case (n, c) => c.as(n) }: _*)
      .orderBy("event_id")
  }

  private def mapCols(kv: Column, names: Seq[String]): Seq[(String, Column)] =
    names.map(n => n -> try_element_at(kv, lit(n)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // full route-transform semantics incl. the no-'>' parse_syslog fallback
    // (fortinet.rs:73-111): 1/5 of the input lines carry no pri and land in
    // the loose fallback {t: run-clock millis, +message: raw line}
    "pipe_fortinet_parse" -> { (s, dir) =>
      fmtQueryHoisted(Transcripts.fortinetRouteLine,
        PatternDictionary.fortinetTransform(col("text"), year2024, RunTsMillis),
        kv => Seq("t" -> try_element_at(kv, lit("t")).try_cast("long")) ++
          mapCols(kv, Seq("devname", "subtype", "vd", "action")) ++
          Seq(
            "ftype" -> try_element_at(kv, lit("type")),
            "usr" -> try_element_at(kv, lit("user")),
            "srcport" -> try_element_at(kv, lit("srcport")).try_cast("long"),
            "msg" -> try_element_at(kv, lit("msg")),
            "pmsg" -> try_element_at(kv, lit("+message"))))(s, dir)
    },
    // full parse_syslog fidelity (syslog.rs:22-97): RFC3164 + RFC5424,
    // named facility/severity, msg_id, SD id+param flattening, JSON message
    // bodies merged, nil/unparseable timestamp -> run clock
    "pipe_syslog_parse" -> { (s, dir) =>
      fmtQueryHoisted(Transcripts.syslogLine,
        PatternDictionary.syslogMap(col("text"), year2024, RunTsMillis),
        m => {
          def f(k: String) = try_element_at(m, lit(k))
          Seq(
            "t" -> f("t").try_cast("long"),
            "facility" -> f("facility"),
            "severity" -> f("severity"),
            "hostname" -> f("hostname"),
            "app_name" -> f("app_name"),
            "proc_id" -> f("proc_id"),
            // the reference's int-or-string proc_id typing (syslog.rs:55-64)
            // recovered as a typed column from the all-string open map
            // (the documented third knowing deviation, PatternDictionary)
            "proc_id_int" -> f("proc_id").try_cast("long"),
            "msg_id" -> f("msg_id"),
            "sd_id" -> f("id"),
            "iut" -> f("iut"),
            "event_source" -> f("eventSource"),
            "etype" -> f("etype"),
            "k_merged" -> f("k"),
            "message" -> f("+message"))
        })(s, dir)
    },
    "pipe_combined_parse" -> { (s, dir) =>
      fmtQueryHoisted(Transcripts.combinedLine,
        graft.functions.GraftFunctions.regexp_groups(
          col("text"), PatternDictionary.CombinedRe),
        gs => PatternDictionary.combinedColsG(gs).map {
          case ("user", c) => ("usr", c)
          case ("size", c) => ("size_b", c)
          case other       => other
        })(s, dir)
    },
    "pipe_error_parse" -> { (s, dir) =>
      fmtQueryHoisted(Transcripts.errorLine,
        graft.functions.GraftFunctions.regexp_groups(
          col("text"), PatternDictionary.ErrorRe),
        gs => PatternDictionary.errorColsG(gs))(s, dir)
    },
    "pipe_kern_parse" -> { (s, dir) =>
      fmtQueryHoisted(Transcripts.kernLine,
        graft.functions.GraftFunctions.regexp_groups(
          col("text"), PatternDictionary.KernRe),
        gs => PatternDictionary.kernColsG(gs, year2024))(s, dir)
    },
    "pipe_json_parse" -> { (s, dir) =>
      fmtQueryHoisted(Transcripts.jsonLine,
        graft.functions.GraftFunctions.json_flat_map(col("text")),
        kv => mapCols(kv, Seq("etype", "k")))(s, dir)
    },
    "pipe_mini_parse" -> { (s, dir) =>
      fmtQueryHoisted(Transcripts.miniLine,
        graft.functions.GraftFunctions.regexp_groups(
          col("text"), PatternDictionary.MiniRe),
        gs => PatternDictionary.miniColsG(gs))(s, dir)
    },
    // the reference's add-a-format-WITHOUT-RECOMPILING workflow
    // (main.rs:115-137 name->factory registry + config_file.rs:45-77 TOML
    // bindings) as config data: a mini variant with a numeric duration and
    // a timestamp, declared as a FormatSpec + a route rule — zero code.
    // Even rows carry the new format (must parse + route to 'api'); odd
    // rows carry plain mini lines and must behave exactly as without the
    // spec (built-in priority unchanged).
    "pipe_custom_format" -> { (s, dir) =>
      reg(s)
      val k = col("event_id")
      val mini4Line = concat(Transcripts.method, lit(" /p/"), k, lit(" "),
        Transcripts.status, lit(" "), pmod(k, lit(997)), lit(" "),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      val cfg = e2eConfig.copy(
        formats = Seq(Mini4Spec),
        sinks = e2eConfig.sinks :+ graft.model.SinkRule("api", "format = 'mini4'"))
      cfg.validate().left.foreach(e => throw new IllegalArgumentException(e))
      val env = Transcripts.fromEvents(Transcripts.events(s, dir),
        Some(when(k % 2 === 0, mini4Line).otherwise(Transcripts.miniLine)))
      Pipeline.transform(env, cfg, Enrich.defaultLookup(s))
        .select(col("turn_idx").cast("long").as("event_id"), col("format"),
          col("sink"),
          try_element_at(col("fields"), lit("t")).try_cast("long").as("t"),
          try_element_at(col("fields"), lit("method")).as("method"),
          try_element_at(col("fields"), lit("path")).as("path"),
          try_element_at(col("fields"), lit("status")).try_cast("long").as("status"),
          try_element_at(col("fields"), lit("duration_ms")).try_cast("long")
            .as("duration_ms"))
        .orderBy("event_id")
    },
    "pipe_logfmt" -> { (s, dir) =>
      reg(s)
      import graft.functions.GraftFunctions.logfmt_parse
      val line = concat(
        lit("a="), col("event_id"), lit(" b=\""), col("event_type"),
        lit(" x=1\" c=\"\" d"))
      val kv = logfmt_parse(col("text"))
      fmtQuery(line, mapCols(kv, Seq("a", "b", "c")) :+
        ("d_is_null_value" -> (map_contains_key(kv, lit("d")) &&
          try_element_at(kv, lit("d")).isNull)))(s, dir)
    },
    "pipe_insert_field" -> { (s, dir) =>
      reg(s)
      val base = map(lit("etype"), col("event_type"))
      val keep = Enrich.insertMapField(base, "etype", lit("const"), overwrite = false)
      val over = Enrich.insertMapField(base, "etype", lit("const"), overwrite = true)
      val fresh = Enrich.insertMapField(base, "x", lit("const"), overwrite = false)
      Transcripts.events(s, dir).select(
        col("event_id"),
        try_element_at(keep, lit("etype")).as("v_keep"),
        try_element_at(over, lit("etype")).as("v_over"),
        try_element_at(fresh, lit("x")).as("v_new")
      ).orderBy("event_id")
    },
    "pipe_insert_ts" -> { (s, dir) =>
      reg(s)
      val base = map(lit("etype"), col("event_type"))
      Transcripts.events(s, dir).select(
        col("event_id"),
        try_element_at(Enrich.insertTs(base, "t", RunTsMillis, "epoch", true), lit("t")).as("t_epoch"),
        try_element_at(Enrich.insertTs(base, "t", RunTsMillis, "rfc3339", true), lit("t")).as("t_rfc3339"),
        try_element_at(Enrich.insertTs(base, "t", RunTsMillis, "rfc2822", true), lit("t")).as("t_rfc2822")
      ).orderBy("event_id")
    },
    // sonicwall enrich-in-place (T10, sonicwall.py:5-28): logfmt-split an
    // ALREADY-PARSED field and merge the pairs back into the event
    "pipe_sonicwall" -> { (s, dir) =>
      reg(s)
      import graft.functions.GraftFunctions.logfmt_parse
      val msg = concat(lit("sess="), col("event_id"),
        lit(" act=\""), col("event_type"), lit(" ok\" src=10.0.0."),
        pmod(col("user_id"), lit(250)))
      val base = map_concat(map(lit("message"), msg),
        map(lit("host"), concat(lit("h"), col("user_id"))))
      val enriched = map_concat(base,
        logfmt_parse(try_element_at(base, lit("message"))))
      Transcripts.events(s, dir).select(
        col("event_id"),
        try_element_at(enriched, lit("host")).as("host"),
        try_element_at(enriched, lit("sess")).as("sess"),
        try_element_at(enriched, lit("act")).as("act"),
        try_element_at(enriched, lit("src")).as("src")
      ).orderBy("event_id")
    },
    // logfmt TRANSFORM merge semantics (logfmt.rs:75-95): pop the field,
    // merge parsed pairs; collision rename "<field>.<key>" on
    // overwrite=false; renamed key overwrites a pre-existing
    // "<field>.<key>"; overwrite=true lets incoming pairs win
    "pipe_logfmt_merge" -> { (s, dir) =>
      reg(s)
      val attrsVal = concat(lit("a="), col("event_id"),
        lit(" b=\""), col("event_type"), lit(" v\" host=inner"))
      val base = map(
        lit("attrs"), attrsVal,
        lit("a"), lit("orig"),
        lit("attrs.a"), lit("pre"),
        lit("host"), concat(lit("h"), col("user_id")))
      val noOver = Enrich.logfmtMergeField(base, "attrs", overwrite = false)
      val over = Enrich.logfmtMergeField(base, "attrs", overwrite = true)
      Transcripts.events(s, dir).select(
        col("event_id"),
        try_element_at(noOver, lit("a")).as("a_keep"),
        try_element_at(noOver, lit("attrs.a")).as("attrs_a"),
        try_element_at(noOver, lit("b")).as("b"),
        try_element_at(noOver, lit("host")).as("host_keep"),
        try_element_at(noOver, lit("attrs.host")).as("attrs_host"),
        map_contains_key(noOver, lit("attrs")).as("attrs_still_there"),
        try_element_at(over, lit("a")).as("a_over"),
        try_element_at(over, lit("host")).as("host_over")
      ).orderBy("event_id")
    },
    // lumberjack v2 batch decode (S6/S7, lumberjack_decoder.rs:121-148):
    // each event synthesizes a 2-payload compressed frame, the codec
    // decodes it back, and payloads get the reference's JSON-object
    // treatment (plugins/lumberjack.rs:92-101). The decoder is additionally
    // pinned byte-level by LumberjackSpec against a hand-assembled frame.
    "pipe_lumberjack" -> { (s, dir) =>
      reg(s)
      import graft.functions.GraftFunctions.{lumberjack_decode, lumberjack_encode}
      val p1 = Transcripts.jsonLine
      val p2 = concat(lit("{\"etype\": \""), col("event_type"),
        lit("\", \"k\": \""), col("event_id") + 1000000, lit("\"}"))
      val decoded = lumberjack_decode(lumberjack_encode(array(p1, p2)))
      Transcripts.events(s, dir)
        // a shuffle-free job is as wide as its input SPLITS, and the events
        // table is ONE 2 MB file — the zlib codec (the whole cost here) ran
        // single-threaded. One cheap shuffle of the tiny base columns turns
        // the CPU-bound codec stage cluster-wide; at real scale a
        // lumberjack batch source has abundant splits and needs none.
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("event_id"), explode(decoded).as("e"))
        // hoist the parsed map: a multiply-referenced non-trivial alias stays
        // un-inlined (CollapseProject), so the JSON parse runs ONCE per row
        // instead of once per extracted key
        .select(col("event_id"), col("e.seq").as("seq"),
          graft.functions.GraftFunctions.json_flat_map(col("e.payload")).as("m"))
        .select(col("event_id"), col("seq"),
          try_element_at(col("m"), lit("etype")).as("etype"),
          try_element_at(col("m"), lit("k")).as("k"))
        .orderBy("event_id", "seq")
    },
    "pipe_enrich" -> { (s, dir) =>
      reg(s)
      val t = Transcripts.transcripts(s, dir)
      Enrich.withLookup(t, Enrich.defaultLookup(s))
        .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
          col("role_kind"), col("tool_category"))
        .orderBy("turn_idx")
    },
    "pipe_e2e_routed" -> { (s, dir) =>
      reg(s)
      val t = Transcripts.transcripts(s, dir)
      Pipeline.transform(t, e2eConfig, Enrich.defaultLookup(s))
        .select(col("conv_id"), col("turn_idx"), col("sink"), col("format"),
          try_element_at(col("fields"), lit("t")).try_cast("long").as("t"),
          col("role_kind"), col("tool_category"))
        .orderBy("turn_idx")
    },
    "pipe_e2e_counts" -> { (s, dir) =>
      reg(s)
      // the aggregate needs sink+format for EVERY row, so count() cannot
      // prune the parse (unlike pipe_e2e_routed) — and the events table is
      // ONE 2 MB file, so the shuffle-free parse stage ran on a single
      // split (the pipe_lumberjack lesson: a shuffle-free job is as wide
      // as its input splits). One cheap shuffle of the tiny envelope
      // spreads the regex-heavy parse cluster-wide; at real scale the
      // input has abundant splits and needs none.
      val t = Transcripts.transcripts(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
      val routed = Pipeline.transform(t, e2eConfig, Enrich.defaultLookup(s))
      Router.sinkAggregates(routed).orderBy("sink", "format")
    },
    // warn+drop+count policy under HOSTILE input (file.rs:142-147 lifted
    // to quarantine-and-count): odd rows carry fuzz-shaped lines — empty
    // string, a 5k single-token line (also a regex-linear-time probe: a
    // backtracking blowup on it would run minutes, not seconds), a
    // '<'-prefixed line with no parseable pri, truncated JSON, control
    // characters, a 2k '=' run that must NOT trip the fortinet gate —
    // all of which must land in the quarantine sink as 'malformed', while
    // the interleaved valid mini lines route normally. Total row count is
    // conserved: nothing is silently dropped.
    "pipe_quarantine_fuzz" -> { (s, dir) =>
      reg(s)
      val k = col("event_id")
      val v = pmod(k, lit(12))
      val fuzz = when(v === 1, lit(""))
        .when(v === 3, repeat(lit("x"), 5000))
        .when(v === 5, lit("<7garbage with no pri close"))
        .when(v === 7, concat(lit("{\"k\": \""), col("event_type")))
        .when(v === 9, lit("\u0007\u001b[2Jboom"))
        .otherwise(repeat(lit("="), 2000))
      // single-split input + the suite's most expensive per-row work (the
      // 5k single-token and 2k '='-run probe lines drag every format's
      // gate regex linearly): spread the probe 32-wide before the parse —
      // same repartition rationale as pipe_e2e_counts
      val env = Transcripts.fromEvents(
        Transcripts.events(s, dir).repartition(s.sparkContext.defaultParallelism),
        Some(when(k % 2 === 1, fuzz).otherwise(Transcripts.miniLine)))
      Pipeline.transform(env, e2eConfig, Enrich.defaultLookup(s))
        .groupBy("sink", "format").agg(count(lit(1)).as("n"))
        .orderBy("sink", "format")
    },
    // conversation-level fingerprint via the custom typed AGGREGATOR
    // (partial-mergeable SimHash votes — no group ever materializes its
    // token multiset). Rows-only driver check (custom hash kernel);
    // equality with the collect_list+simhash64 expression path and
    // determinism are pinned by AggSpec.
    "pipe_conv_fingerprint" -> { (s, dir) =>
      reg(s)
      // same partial-mergeable SimHash aggregator, driven through the
      // UNTYPED udaf surface: the groupByKey/mapValues typed pipeline
      // deserialized every row to Scala objects before the partial agg
      // (AggSpec pins the aggregator's semantics either way). The
      // repartition spreads the tokenize+64-bit-vote kernel off the one
      // 2 MB events split (pipe_lumberjack rationale).
      val fpAgg = udaf(graft.functions.SimHashAgg,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]())
      Transcripts.transcripts(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("conv_id"), split(lower(trim(col("text"))), "\\s+").as("toks"))
        .groupBy(col("conv_id"))
        .agg(fpAgg(col("toks")).as("fp"))
        .orderBy("conv_id")
    },
    // Structured Streaming driver gate: the SAME transform as a file-source
    // stream, watermarked hourly windows, run to completion synchronously —
    // the final table must equal the batch groupBy the oracle computes
    // (streaming was ScalaTest-only in round 1). ONE micro-batch for this
    // Complete-mode gate: a SECOND batch makes every partition RELOAD its
    // state store from the checkpoint (measured loadTimeMs up to ~6 s per
    // partition on a 32-core VM — 3.4 s -> 40+ s per run); cross-batch
    // behavior is pipe_stream_progress's job.
    "pipe_stream_counts" -> { (s, dir) =>
      reg(s)
      val name = s"stream_counts_${streamQueryN.incrementAndGet()}"
      StreamingPipeline.runOnce(s, name, OutputMode.Complete) {
        StreamingPipeline.windowedSinkCounts(StreamingPipeline.routedStream(
          s, stagedStreamInput(s, dir), e2eConfig, maxFilesPerTrigger = 10000))
      }.orderBy("w_start", "sink")
    },
    // the arbitrary-stateful-streaming surface (mapGroupsWithState),
    // driver-gated like pipe_stream_counts: run the per-conversation
    // progress stream over staged files, reduce the Update-mode output to
    // the final state per conversation, oracle = batch groupBy over events.
    // Update mode emits each touched conversation with its CUMULATIVE
    // state per micro-batch, so the memory table holds one row per conv
    // per touching batch; the final state is the row with max turns
    // (`turns` is monotone).
    "pipe_stream_progress" -> { (s, dir) =>
      reg(s)
      val name = s"stream_progress_${streamQueryN.incrementAndGet()}"
      val mem = StreamingPipeline.runOnce(s, name, OutputMode.Update) {
        StreamingPipeline.conversationProgress(
          StreamingPipeline.routedStream(s, stagedStreamInput(s, dir), e2eConfig))
      }
      mem.groupBy("conv_id")
        .agg(max(col("turns")).as("turns"),
          max(col("max_turn")).cast("long").as("max_turn"))
        .orderBy("conv_id")
    },
    // exactly-once from at-least-once: the staged input re-delivers every
    // 5th row in a planted repeat file; streaming dropDuplicates on the
    // event key must restore the exact un-duplicated per-sink counts
    // (oracle = the plain 1/10-subset counts, no duplicates visible) — the
    // reference's R5 "delivered only once" invariant (log-ship
    // site/docs/intro.md:39-40) lifted from per-source offset bookkeeping
    // to content keys. ONE micro-batch at gate scale: a second batch
    // reloads every partition's state store from the checkpoint (the
    // measured multi-second hazard). The production shape is
    // `dropDuplicatesWithinWatermark`, so dedup state stays bounded by the
    // re-delivery horizon instead of growing with the corpus.
    "pipe_stream_dedup" -> { (s, dir) =>
      reg(s)
      val name = s"stream_dedup_${streamQueryN.incrementAndGet()}"
      val mem = StreamingPipeline.runOnce(s, name, OutputMode.Append) {
        StreamingPipeline.routedStream(s, stagedDedupInput(s, dir), e2eConfig,
          maxFilesPerTrigger = 10000).dropDuplicates("conv_id", "turn_idx")
      }
      mem.groupBy("sink")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("conv_id")).as("n_conv"))
        .orderBy("sink")
    },
    // append-mode watermarked windows (emit-on-close — the production
    // streaming contract the Complete-mode gate can't show): a window row
    // reaches the sink exactly once, only after the watermark passes its
    // end, and its state is evicted. This gate needs >= 2 micro-batches by
    // construction (the watermark a batch EMITS against is computed from
    // the PREVIOUS batch's max event time): the staged input is the real
    // subset in 8 files plus a later-mtime sentinel turn 3 h in the future
    // (maxFilesPerTrigger=8, so the sentinel is batch 2 and its event time
    // closes every real window). Batch 2 reloads every state-store
    // provider from the checkpoint at a per-partition fixed cost, which
    // the runner's narrow state width keeps small. The result is bounded
    // to windows strictly closed by the REAL data's watermark (max real ts
    // − 30 min) — rows Spark MUST have emitted in batch 2 regardless of
    // boundary convention or a trailing no-data flush batch — so the
    // check is deterministic; the oracle is the same bound computed by
    // DuckDB over the batch subset.
    "pipe_stream_window_close" -> { (s, dir) =>
      reg(s)
      val name = s"stream_close_${streamQueryN.incrementAndGet()}"
      val mem = StreamingPipeline.runOnce(s, name, OutputMode.Append) {
        StreamingPipeline.windowedSinkCounts(StreamingPipeline.routedStream(
          s, stagedAppendInput(s, dir), e2eConfig, maxFilesPerTrigger = 8))
      }
      val bound = Transcripts.events(s, dir)
        .filter(pmod(col("event_id"), lit(10)) === 0)
        .agg((date_trunc("second", max(col("ts")))
          - expr("INTERVAL 30 MINUTES")).as("wm"))
      mem.crossJoin(broadcast(bound))
        .filter(col("w_start") + expr("INTERVAL 1 HOUR") < col("wm"))
        .select(col("w_start"), col("sink"), col("n"))
        .orderBy("w_start", "sink")
    }
  )

  private val streamQueryN = new java.util.concurrent.atomic.AtomicLong(0)

  /** Staged file-source input for the two streaming gates, written ONCE per
    * (session data dir) and shared — staging dominated both queries' wall
    * time when each staged its own copy per invocation (and the bench suite
    * invokes each twice). Deterministic 1/10 subset on tmpfs (the sandbox's
    * virtio disk throttles after bursts): the gates check stream==batch
    * equality, not volume. 16 files at maxFilesPerTrigger=8 -> >=2
    * micro-batches, so BOTH gates exercise cross-batch behavior (state
    * accumulation / watermark advance), not just one pass. Deleted at JVM
    * exit; testdata dirs are immutable within a run, which makes the memo
    * sound.
    */
  private val stagedStreams = scala.collection.concurrent.TrieMap.empty[String, String]
  private def stagedStreamInput(s: SparkSession, dir: String): String =
    stagedStreams.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/dev/shm"), "graft_stream").toString
      Transcripts.transcripts(s, dir)
        .filter(pmod(col("turn_idx"), lit(10)) === 0).coalesce(16)
        .write.mode("overwrite").parquet(tmp)
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))))
      tmp
    })

  /** At-least-once staging for the streaming dedup gate: the staged 1/10
    * subset (read back off tmpfs, not re-derived) PLUS a planted
    * "redelivered" file repeating every 5th staged row — the file-source
    * analogue of a source re-sending events after an un-acked write. The
    * dedup gate must restore exactly the un-duplicated counts.
    */
  private val stagedDedupStreams = scala.collection.concurrent.TrieMap.empty[String, String]
  private def stagedDedupInput(s: SparkSession, dir: String): String =
    stagedDedupStreams.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/dev/shm"), "graft_stream_dup").toString
      val base = s.read.parquet(stagedStreamInput(s, dir))
      base.coalesce(16).write.mode("overwrite").parquet(tmp)
      val dup = base.filter(pmod(col("turn_idx"), lit(50)) === 0)
      dup.coalesce(1).write.mode("append").parquet(tmp)
      // a fixture drift that empties the plant would turn the dedup gate
      // into a vacuous pass — fail staging loudly instead
      require(dup.count() > 0,
        s"stream-dedup staging planted no re-delivered rows for $dir")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))))
      tmp
    })

  /** Two-batch staging for the append-mode window gate: the real 1/10
    * subset as 8 files, then a sentinel "advance" transcript 3 h past the
    * subset's max event time as a SECOND file with a strictly later mtime
    * (the file source orders batches by modification time, and ties would
    * collapse both into one batch — emitting nothing). The sentinel is
    * built from a real event forced into the json format slot (full
    * timestamp fidelity, never quarantined) with its ts overridden, so it
    * parses and routes like any turn; its own window stays open and is
    * excluded by the caller's watermark bound.
    */
  private val stagedAppendStreams = scala.collection.concurrent.TrieMap.empty[String, String]
  private def stagedAppendInput(s: SparkSession, dir: String): String =
    stagedAppendStreams.getOrElseUpdate(dir, {
      val tmp = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("/dev/shm"), "graft_stream_app").toString
      // 8 real files = batch 1 at maxFilesPerTrigger=8 AND 8 parse splits
      // (a one-file batch runs the parse single-threaded — the
      // shuffle-free-width-equals-split-count rule applies per batch)
      s.read.parquet(stagedStreamInput(s, dir)).coalesce(8)
        .write.mode("overwrite").parquet(tmp)
      def parts() = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
      val before = parts()
      // sentinel from the FULL events table: the 1/10 subset contains no
      // json-slot row (event_id = 0 mod 10 and = 5 mod 8 has no solution)
      val all = Transcripts.events(s, dir)
      val sub = all.filter(pmod(col("event_id"), lit(10)) === 0)
      val sentinel = all.filter(col("event_id") % 8 === 5)
        .orderBy("event_id").limit(1)
        .crossJoin(broadcast(sub.agg(max(col("ts")).as("mxts"))))
        .withColumn("ts", col("mxts") + expr("INTERVAL 3 HOURS"))
        .drop("mxts")
      Transcripts.fromEvents(sentinel).coalesce(1)
        .write.mode("append").parquet(tmp)
      val added = (parts() -- before).toSeq
      require(added.nonEmpty,
        s"append-gate staging planted no sentinel file for $dir")
      val later = System.currentTimeMillis() + 60000
      added.foreach(p => new java.io.File(p).setLastModified(later))
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))))
      tmp
    })

  // ---- DuckDB oracle SQL: expected outputs computed directly from the
  // base events columns (never by re-parsing the text) ----

  private val tSec = "CAST(epoch(date_trunc('second', ts)) AS BIGINT)"
  private val tMs = "epoch_ms(date_trunc('second', ts))"
  private val methodSql =
    "CASE event_type WHEN 'click' THEN 'GET' WHEN 'view' THEN 'POST' WHEN 'error' THEN 'DELETE' ELSE 'PUT' END"
  private val levelSql =
    "CASE event_type WHEN 'error' THEN 'error' WHEN 'click' THEN 'notice' WHEN 'view' THEN 'info' ELSE 'warn' END"
  private val statusSql = "(200 + (event_id % 5) * 100)"

  val formatSql: String =
    "CASE (event_id % 8) WHEN 0 THEN 'fortinet' WHEN 1 THEN 'syslog' WHEN 2 THEN 'combined' " +
      "WHEN 3 THEN 'error' WHEN 4 THEN 'kern' WHEN 5 THEN 'json' WHEN 6 THEN 'mini' ELSE 'malformed' END"

  /** sink assignment mirrored from PipelineConfig.default rules. */
  val sinkSql: String =
    "CASE WHEN event_id % 8 = 7 THEN 'quarantine' " +
      "WHEN event_id % 8 = 0 AND event_id % 3 <> 0 THEN 'utm' " +
      "WHEN event_id % 8 = 2 THEN 'access' " +
      "WHEN event_id % 8 IN (1, 3, 4) THEN 'system' " +
      "ELSE 'other' END"

  // syslog rows (event_id % 8 = 1): the % 5 = 4 variant has a nil RFC5424
  // timestamp -> run-clock fallback
  private val syslogTSql =
    s"CASE WHEN event_id % 5 = 4 THEN 1717200000000 ELSE $tMs END"

  private val e2eTSql: String =
    s"CASE (event_id % 8) WHEN 0 THEN $tSec WHEN 1 THEN ($syslogTSql) WHEN 2 THEN $tMs " +
      s"WHEN 3 THEN epoch_ms(ts) WHEN 4 THEN $tMs ELSE NULL END"

  private val roleKindSql =
    "CASE (event_id % 4) WHEN 0 THEN 'human' WHEN 1 THEN 'model' WHEN 2 THEN 'machine' ELSE 'control' END"
  private val toolCatSql =
    "CASE (event_id % 5) WHEN 0 THEN 'n/a' WHEN 1 THEN 'shell' WHEN 2 THEN 'retrieval' WHEN 3 THEN 'web' ELSE 'editor' END"

  def oracleSql: Map[String, String] = Map(
    "pipe_fortinet_parse" ->
      s"""SELECT event_id,
          CASE WHEN event_id % 5 = 4 THEN 1717200000000 ELSE $tSec END AS t,
          CASE WHEN event_id % 5 = 4 THEN NULL ELSE 'FGT' || user_id END AS devname,
          CASE WHEN event_id % 5 = 4 THEN NULL ELSE 'app-ctrl' END AS subtype,
          CASE WHEN event_id % 5 = 4 THEN NULL ELSE 'root' END AS vd,
          CASE WHEN event_id % 5 = 4 THEN NULL
               WHEN event_id % 7 = 0 THEN 'block' ELSE 'pass' END AS action,
          CASE WHEN event_id % 5 = 4 THEN NULL
               WHEN event_id % 3 = 0 THEN 'event' ELSE 'utm' END AS ftype,
          CASE WHEN event_id % 5 = 4 THEN NULL ELSE 'u' || user_id END AS usr,
          CASE WHEN event_id % 5 = 4 THEN NULL
               ELSE 1024 + (event_id % 60000) END AS srcport,
          CASE WHEN event_id % 5 = 4 THEN NULL ELSE event_type || ': SSL,' END AS msg,
          CASE WHEN event_id % 5 = 4 THEN
            'date=' || strftime(ts, '%Y-%m-%d') || ' time=' || strftime(ts, '%H:%M:%S')
            || ' devname=FGT' || user_id || ' devid=FGT' || user_id
            || ' logid=' || event_id
            || ' type=' || CASE WHEN event_id % 3 = 0 THEN 'event' ELSE 'utm' END
            || ' subtype=app-ctrl level=information vd="root" user="u' || user_id
            || '" srcip=192.168.1.' || (user_id % 250)
            || ' srcport=' || (1024 + event_id % 60000)
            || ' dstport=443 proto=6 service="HTTPS" action='
            || CASE WHEN event_id % 7 = 0 THEN 'block' ELSE 'pass' END
            || ' msg="' || event_type || ': SSL," apprisk=elevated'
          ELSE NULL END AS pmsg
          FROM events ORDER BY event_id""",
    "pipe_syslog_parse" ->
      s"""SELECT event_id, ($syslogTSql) AS t,
          (['kern','user','mail','daemon','auth','syslog','lpr','news','uucp',
            'cron','authpriv','ftp','ntp','audit','alert','clockd','local0',
            'local1','local2','local3','local4','local5','local6','local7'])
            [((event_id % 192) // 8) + 1] AS facility,
          (['emerg','alert','crit','err','warning','notice','info','debug'])
            [((event_id % 192) % 8) + 1] AS severity,
          CASE WHEN event_id % 5 = 4 THEN NULL ELSE 'host' || user_id END AS hostname,
          'app' || (event_id % 7) AS app_name,
          CASE WHEN event_id % 5 = 4 THEN NULL
               ELSE CAST(event_id % 30000 AS VARCHAR) END AS proc_id,
          CASE WHEN event_id % 5 = 4 THEN NULL
               ELSE CAST(event_id % 30000 AS BIGINT) END AS proc_id_int,
          CASE WHEN event_id % 5 >= 3 THEN 'mid' || (event_id % 9) END AS msg_id,
          CASE WHEN event_id % 5 = 3 THEN 'exampleSDID@32473' END AS sd_id,
          CASE WHEN event_id % 5 = 3 THEN CAST(event_id % 4 AS VARCHAR) END AS iut,
          CASE WHEN event_id % 5 = 3 THEN event_type END AS event_source,
          CASE WHEN event_id % 5 IN (2, 4) THEN event_type END AS etype,
          CASE WHEN event_id % 5 IN (2, 4) THEN CAST(event_id AS VARCHAR) END AS k_merged,
          CASE WHEN event_id % 5 IN (2, 4) THEN NULL
               ELSE 'evt ' || event_type || ' ' || event_id END AS message
          FROM events ORDER BY event_id""",
    "pipe_logfmt_merge" ->
      """SELECT event_id, 'orig' AS a_keep, CAST(event_id AS VARCHAR) AS attrs_a,
         event_type || ' v' AS b, 'h' || user_id AS host_keep,
         'inner' AS attrs_host, FALSE AS attrs_still_there,
         CAST(event_id AS VARCHAR) AS a_over, 'inner' AS host_over
         FROM events ORDER BY event_id""",
    "pipe_combined_parse" ->
      s"""SELECT event_id, 'h' || (user_id % 50) AS host,
          CASE WHEN user_id % 3 = 0 THEN NULL ELSE 'u' || user_id END AS usr,
          $tMs AS t, $methodSql AS method, '/p/' || event_id AS path, '1.1' AS proto,
          $statusSql AS status, CAST(floor(abs("value") * 100) AS BIGINT) AS size_b,
          CASE WHEN event_id % 4 = 0 THEN NULL ELSE 'http://r/' || (event_id % 10) END AS ref,
          'Mozilla/5.0 (test)' AS user_agent
          FROM events ORDER BY event_id""",
    "pipe_error_parse" ->
      s"""SELECT event_id, epoch_ms(ts) AS t, 'core:' || $levelSql AS level,
          event_id % 30000 AS pid,
          CASE WHEN event_id % 2 = 0 THEN event_id % 500 ELSE NULL END AS tid,
          CASE WHEN event_id % 3 <> 0 THEN '10.0.0.' || (user_id % 250) || ':' || (1024 + event_id % 50000) ELSE NULL END AS client,
          'AH' || lpad(CAST(event_id % 100000 AS VARCHAR), 5, '0') || ': ' || event_type || ' happened' AS message
          FROM events ORDER BY event_id""",
    "pipe_kern_parse" ->
      s"""SELECT event_id, $tMs AS t, event_id AS since_start_sec,
          event_id % 1000000 AS since_start_ns,
          'ACPI: ' || event_type || ' stopped' AS message
          FROM events ORDER BY event_id""",
    "pipe_json_parse" ->
      """SELECT event_id, event_type AS etype, CAST(event_id AS VARCHAR) AS k
         FROM events ORDER BY event_id""",
    "pipe_mini_parse" ->
      s"""SELECT event_id, $methodSql AS method, '/p/' || event_id AS path,
          CAST($statusSql AS VARCHAR) AS status
          FROM events ORDER BY event_id""",
    "pipe_custom_format" ->
      s"""SELECT event_id,
          CASE WHEN event_id % 2 = 0 THEN 'mini4' ELSE 'mini' END AS format,
          CASE WHEN event_id % 2 = 0 THEN 'api' ELSE 'other' END AS sink,
          CASE WHEN event_id % 2 = 0 THEN $tMs ELSE NULL END AS t,
          $methodSql AS method,
          '/p/' || event_id AS path,
          CAST($statusSql AS BIGINT) AS status,
          CASE WHEN event_id % 2 = 0 THEN event_id % 997 ELSE NULL END AS duration_ms
          FROM events ORDER BY event_id""",
    "pipe_logfmt" ->
      """SELECT event_id, CAST(event_id AS VARCHAR) AS a,
         event_type || ' x=1' AS b, '' AS c, TRUE AS d_is_null_value
         FROM events ORDER BY event_id""",
    "pipe_insert_field" ->
      """SELECT event_id, event_type AS v_keep, 'const' AS v_over, 'const' AS v_new
         FROM events ORDER BY event_id""",
    "pipe_insert_ts" ->
      """SELECT event_id, '1717200000000' AS t_epoch,
         '2024-06-01T00:00:00Z' AS t_rfc3339,
         'Sat, 01 Jun 2024 00:00:00 +0000' AS t_rfc2822
         FROM events ORDER BY event_id""",
    "pipe_sonicwall" ->
      """SELECT event_id, 'h' || user_id AS host, CAST(event_id AS VARCHAR) AS sess,
         event_type || ' ok' AS act, '10.0.0.' || (user_id % 250) AS src
         FROM events ORDER BY event_id""",
    "pipe_lumberjack" ->
      """SELECT event_id, CAST(seq AS INT) AS seq, event_type AS etype,
         CAST(CASE WHEN seq = 1 THEN event_id ELSE event_id + 1000000 END AS VARCHAR) AS k
         FROM events CROSS JOIN (VALUES (1), (2)) t(seq)
         ORDER BY event_id, seq""",
    "pipe_enrich" ->
      s"""SELECT 'conv-' || user_id AS conv_id, CAST(event_id AS INT) AS turn_idx,
          CASE (event_id % 4) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' WHEN 2 THEN 'tool' ELSE 'system' END AS role,
          CASE (event_id % 5) WHEN 0 THEN 'none' WHEN 1 THEN 'bash' WHEN 2 THEN 'search' WHEN 3 THEN 'browser' ELSE 'code' END AS tool,
          $roleKindSql AS role_kind, $toolCatSql AS tool_category
          FROM events ORDER BY turn_idx""",
    "pipe_e2e_routed" ->
      s"""SELECT 'conv-' || user_id AS conv_id, CAST(event_id AS INT) AS turn_idx,
          $sinkSql AS sink, $formatSql AS format, $e2eTSql AS t,
          $roleKindSql AS role_kind, $toolCatSql AS tool_category
          FROM events ORDER BY turn_idx""",
    "pipe_e2e_counts" ->
      s"""SELECT sink, format, count(*) AS n, count(DISTINCT conv) AS n_conv,
          min(turn) AS min_turn, max(turn) AS max_turn
          FROM (SELECT $sinkSql AS sink, $formatSql AS format, user_id AS conv,
                event_id AS turn FROM events)
          GROUP BY sink, format ORDER BY sink, format""",
    "pipe_stream_counts" ->
      s"""SELECT date_trunc('hour', ts) AS w_start, $sinkSql AS sink,
          count(*) AS n
          FROM events WHERE event_id % 10 = 0
          GROUP BY 1, 2 ORDER BY w_start, sink""",
    "pipe_stream_progress" ->
      """SELECT 'conv-' || user_id AS conv_id, count(*) AS turns,
         CAST(max(event_id) AS BIGINT) AS max_turn
         FROM events WHERE event_id % 10 = 0
         GROUP BY 1 ORDER BY conv_id""",
    "pipe_stream_dedup" ->
      s"""SELECT sink, count(*) AS n, count(DISTINCT conv) AS n_conv
          FROM (SELECT $sinkSql AS sink, user_id AS conv FROM events
                WHERE event_id % 10 = 0)
          GROUP BY sink ORDER BY sink""",
    "pipe_stream_window_close" ->
      s"""SELECT date_trunc('hour', ts) AS w_start, $sinkSql AS sink,
          count(*) AS n
          FROM events WHERE event_id % 10 = 0
            AND date_trunc('hour', ts) + INTERVAL 1 HOUR <
              (SELECT date_trunc('second', max(ts)) - INTERVAL 30 MINUTE
               FROM events WHERE event_id % 10 = 0)
          GROUP BY 1, 2 ORDER BY w_start, sink""",
    // every hostile odd row must surface in quarantine as malformed (and
    // be COUNTED); every even mini row routes to the default sink — total
    // row conservation is the warn+drop+count pin
    "pipe_quarantine_fuzz" ->
      """SELECT sink, format, count(*) AS n FROM (
           SELECT CASE WHEN event_id % 2 = 1 THEN 'quarantine' ELSE 'other' END AS sink,
                  CASE WHEN event_id % 2 = 1 THEN 'malformed' ELSE 'mini' END AS format
           FROM events)
         GROUP BY sink, format ORDER BY sink, format"""
  )
}
