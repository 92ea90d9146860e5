package graft

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.functions.KernelCall

/** Pins for the graft functions that are one kernel call each
  * ([[graft.functions.KernelCall]]): both evaluation paths give the same
  * answer, nulls propagate, the argument types are checked at analysis,
  * and equal calls stay equal plans.
  */
class KernelCallSpec extends SparkSpec {

  /** A session that fails instead of falling back to the interpreter when
    * generated code does not compile, so a passing column case really ran
    * the generated call.
    */
  private lazy val strict: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.codegen.fallback", "false")
    graft.functions.GraftFunctions.ensureRegistered(s)
    s
  }

  private val toks = Seq("a", "b", "c", "a", "b", "d")
  private val vec = Seq(0.5f, -1.0f, 2.0f, 0.25f)
  private val sig = Seq(1L, -2L, 3L, 0x7fffL)

  /** Each function once: its literal arguments and the call on them. */
  private lazy val calls: Seq[(String, Seq[Column], Seq[Column] => Column)] = {
    val frame = strict.range(1).select(lumberjack_encode(typedlit(toks)))
      .head().getAs[Array[Byte]](0)
    Seq(
      ("minhash_sig", Seq(typedlit(toks)), a => minhash_sig(a(0), 8)),
      ("word_shingles", Seq(typedlit(toks)), a => word_shingles(a(0), 2)),
      ("simhash_multi", Seq(typedlit(toks)), a => simhash_multi(a(0), 3)),
      ("simhash64", Seq(typedlit(toks)), a => simhash64(a(0), 7L)),
      ("rp_sign", Seq(typedlit(vec)), a => rp_sign(a(0), 16, 5L)),
      ("rp_project", Seq(typedlit(vec)), a => rp_project(a(0), 3, 5L)),
      ("simhash_band_keys", Seq(typedlit(sig)), a => simhash_band_keys(a(0), 16)),
      ("simhash_probe_keys", Seq(typedlit(sig)), a => simhash_probe_keys(a(0), 16)),
      ("minhash_band_keys", Seq(typedlit(sig)), a => minhash_band_keys(a(0), 2)),
      ("hamming_total", Seq(typedlit(sig), typedlit(sig.reverse)),
        a => hamming_total(a(0), a(1))),
      ("match_count", Seq(typedlit(sig), typedlit(Seq(1L, 0L, 3L, 0L))),
        a => match_count(a(0), a(1))),
      ("cosine_sim", Seq(typedlit(vec), typedlit(vec.reverse)),
        a => cosine_sim(a(0), a(1))),
      ("fingerprint64", Seq(lit("hello world")), a => fingerprint64(a(0))),
      ("word_pairs", Seq(typedlit(toks)), a => word_pairs(a(0))),
      ("bpe_merge", Seq(typedlit(toks)), a => bpe_merge(a(0), "a", "b")),
      ("lumberjack_encode", Seq(typedlit(toks)), a => lumberjack_encode(a(0))),
      ("lumberjack_decode", Seq(lit(frame)), a => lumberjack_decode(a(0))),
      ("json_flat_map", Seq(lit("""{"k":"v","n":1,"o":{"x":[1,2]}}""")),
        a => json_flat_map(a(0))),
      ("merge_maps", Seq(typedlit(Map("a" -> "1", "b" -> "2")),
        typedlit(Map("b" -> "3", "c" -> "4"))), a => merge_maps(a(0), a(1))),
      ("logfmt_parse", Seq(lit("""a=1 b="x y" c""")), a => logfmt_parse(a(0))),
      ("logfmt_parse_fortinet", Seq(lit("date=2024-06-01 time=00:00:00 vd=root c")),
        a => logfmt_parse_fortinet(a(0))),
      ("logfmt_parse_sd", Seq(lit(""" id@1 k="v w" """)), a => logfmt_parse_sd(a(0))),
      ("event_json", Seq(typedlit(Map("t" -> "5", "b" -> "x\"y"))),
        a => event_json(a(0))),
      ("logfmt_merge_field", Seq(typedlit(Map("message" -> "a=1 b=2", "a" -> "keep"))),
        a => logfmt_merge_field(a(0), "message", overwrite = false)),
      ("fortinet_fields", Seq(lit("<190>date=2024-06-01 time=00:00:00 vd=root"),
        typedlit(Seq("2024-06-01")), typedlit(Seq("00:00:00"))),
        a => fortinet_fields(a(0), a(1), a(2), run)),
      ("syslog3164_fields",
        Seq(typedlit(Seq("13", "Jun  5 04:03:02", "h", "cron", "7", "{\"a\":\"1\"}"))),
        a => syslog3164_fields(a(0), lit("2024"), run)),
      ("syslog5424_fields", Seq(typedlit(Seq("165", "2024-06-01T00:00:00Z", "h", "app",
        "-", "mid", "[id@1 k=\"v\"]", "hi"))), a => syslog5424_fields(a(0), run)),
      ("combined_fields", Seq(typedlit(Seq("h", "-", "u", "10/Oct/2000:13:55:36 -0700",
        "GET", "/", "HTTP/1.1", "200", "5", "-", "ua"))), a => combined_fields(a(0))),
      ("error_fields", Seq(typedlit(Seq("Wed Oct 11 14:32:52.123456 2000", "core:error",
        "12", "3", "10.0.0.1", "msg"))), a => error_fields(a(0))),
      ("kern_fields", Seq(typedlit(Seq("Jun  5 04:03:02", "h", "12", "345", " x "))),
        a => kern_fields(a(0), lit("2024"))),
      ("mini_fields", Seq(typedlit(Seq("GET", "/p", "200"))), a => mini_fields(a(0))),
      ("format_spec_fields", Seq(typedlit(Seq("click", "42", "2024-06-01 10:00:00"))),
        a => format_spec_fields(a(0), spec, run)),
      ("transcript_line", Seq(lit(3L)), a => transcript_line(lit(3), a(0), lit(5L),
        lit("click"), lit(1.5), timestamp_micros(lit(run * 1000)), lit(0))))
  }

  private val run = 1717200000000L
  private val spec = graft.model.FormatSpec("evt", "", Seq(
    graft.model.FieldSpec("kind", 1), graft.model.FieldSpec("n", 2, "long")),
    Some(graft.model.TsSpec(3, "yyyy-MM-dd HH:mm:ss")))

  /** The same value as `c`, but read per row, so nothing constant-folds. */
  private def perRow(c: Column): Column = when(col("id") >= 0, c)

  private def one(c: Column): (DataFrame, Row) = {
    val df = strict.range(1).select(c.as("r"))
    (df, df.head())
  }

  private def kernelCalls(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.expressions
      .map(_.collect { case k: KernelCall => k }.size).sum

  test("every kernel call runs in one whole-stage-codegen projection") {
    val base = strict.range(8).select(col("id"),
      split(concat_ws(" ", lit("a b"), col("id").cast("string"), lit("a b c")), " ")
        .as("toks"),
      array(col("id").cast("float"), lit(1.0f), lit(-0.5f)).as("vec"),
      concat(lit("{\"k\":\""), col("id").cast("string"), lit("\"}")).as("js"),
      map(lit("a"), col("id").cast("string")).as("m"),
      concat(lit("a="), col("id").cast("string"), lit(" b=\"x y\" c")).as("lf"))
    val t = col("toks"); val v = col("vec"); val lf = col("lf")
    val df = base.select(
      minhash_band_keys(minhash_sig(t, 8), 2).as("mbk"),
      hamming_total(simhash_multi(t, 2), simhash_multi(t, 2)).as("ht"),
      match_count(minhash_sig(t, 8), minhash_sig(t, 8)).as("mc"),
      simhash_band_keys(simhash_multi(t, 2), 16).as("sbk"),
      simhash_probe_keys(simhash_multi(t, 2), 16).as("spk"),
      simhash64(t, 3L).as("sh"),
      rp_sign(v, 8, 1L).as("rs"),
      rp_project(v, 2, 1L).as("rp"),
      cosine_sim(v, v).as("cs"),
      fingerprint64(col("js")).as("fp"),
      word_shingles(t, 2).as("ws"),
      bpe_merge(word_pairs(t), "a", "b").as("bm"),
      lumberjack_decode(lumberjack_encode(t)).as("lj"),
      merge_maps(col("m"), json_flat_map(col("js"))).as("mm"),
      logfmt_parse(lf).as("lp"),
      logfmt_parse_fortinet(lf).as("lpf"),
      logfmt_parse_sd(lf).as("lps"),
      event_json(col("m")).as("ej"),
      logfmt_merge_field(map(lit("message"), lf, lit("a"), lit("keep")), "message",
        overwrite = false).as("lmf"),
      fortinet_fields(lf, t, t, run).as("ff"),
      syslog3164_fields(t, lit("2024"), run).as("s3"),
      syslog5424_fields(t, run).as("s5"),
      combined_fields(t).as("cf"),
      error_fields(t).as("erf"),
      kern_fields(t, lit("2024")).as("kf"),
      mini_fields(t).as("mf"),
      format_spec_fields(t, spec, run).as("sf"),
      transcript_line(lit(6), col("id"), col("id"), lit("view"), lit(1.0),
        timestamp_micros(col("id")), lit(0)).as("tl"))
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).nonEmpty, plan)
    assert("""(?m)^[\s:|+-]*Project \[""".r.findFirstIn(plan).isEmpty, plan)
    // by expression, not plan text: the printed Project stops at 25 fields
    val called = df.queryExecution.executedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case k: KernelCall => k.name }).toSet
    assert(calls.map(_._1).filterNot(called) === Nil)
    val rows = df.collect()
    assert(rows.length === 8)
    assert(rows.forall(r => r.getInt(2) == 8 && r.getInt(1) == 0))
    assert(rows.map(_.getMap[String, String](13)("k")).toSeq ===
      (0 until 8).map(_.toString))
    assert(rows.map(_.getMap[String, String](14)("a")).toSeq ===
      (0 until 8).map(_.toString))
    assert(rows.map(_.getMap[String, String](18)("message.a")).toSeq ===
      (0 until 8).map(_.toString))
    assert(rows.map(_.getMap[String, String](25)("status")).toSeq ===
      (0 until 8).map(_.toString))
    assert(rows.map(_.getString(27)).toSeq ===
      (0 until 8).map(i => s"POST /p/$i ${200 + i % 5 * 100}"))
  }

  test("constant-folded and generated calls agree for every function") {
    calls.foreach { case (name, args, f) =>
      val (folded, want) = one(f(args))
      assert(kernelCalls(folded) === 0, s"$name did not constant-fold")
      val (generated, got) = one(f(args.map(perRow)))
      assert("""\*\(\d+\) Project \[""".r.findFirstIn(
        generated.queryExecution.executedPlan.toString).nonEmpty &&
        kernelCalls(generated) === 1, s"$name is not a generated call")
      assert(!want.isNullAt(0), name)
      assert(got === want, name)
    }
  }

  test("a null argument or a malformed input gives null; map() is accepted") {
    calls.foreach { case (name, args, f) =>
      val nullFirst = when(lit(false), args.head) +: args.tail
      assert(one(f(nullFirst))._2.isNullAt(0), s"$name, folded")
      val perRowNull = when(col("id") < 0, args.head) +: args.tail.map(perRow)
      assert(one(f(perRowNull))._2.isNullAt(0), s"$name, generated")
    }
    // the two kernels that answer null for a non-null input, on a literal
    // and on a never-null per-row input
    val text = concat(lit("not json "), col("id").cast("string"))
    Seq(json_flat_map(lit("not json")), json_flat_map(text),
      lumberjack_decode(lit(Array[Byte](1, 2, 3))),
      lumberjack_decode(text.cast("binary")))
      .foreach(c => assert(one(c)._2.isNullAt(0), c.toString))
    val upper = typedlit(Map("a" -> "1"))
    Seq(map(), perRow(map())).foreach { lower =>
      assert(one(merge_maps(lower, upper))._2.getMap[String, String](0) ===
        Map("a" -> "1"))
    }
    // an event without the logfmt field comes back unchanged, not null
    Seq(upper, perRow(upper)).foreach { event =>
      assert(one(logfmt_merge_field(event, "message", overwrite = false))._2
        .getMap[String, String](0) === Map("a" -> "1"))
    }
  }

  test("kernel arguments are type-checked at analysis") {
    val nullable = array(col("id"), lit(null).cast("bigint"))
    val fails = Seq(
      "hamming_total" -> hamming_total(nullable, nullable),
      "match_count" -> match_count(nullable, nullable),
      "word_shingles" -> word_shingles(lit("a b c"), 2))
    fails.foreach { case (name, c) =>
      val e = intercept[AnalysisException](strict.range(1).select(c))
      assert(e.getMessage.contains(name), e.getMessage)
    }
  }

  test("repeated dedup cache builds stay one CacheManager entry each") {
    import graft.ops.TrainingOps
    val dir = sf("0.001")
    def cacheEntries: Int = {
      val cache = spark.sharedState.cacheManager
      cache.getClass.getMethod("numCachedEntries").invoke(cache).asInstanceOf[Int]
    }
    TrainingOps.releaseCaches(spark, dir)
    val before = cacheEntries
    try {
      (1 to 2).foreach { _ =>
        TrainingOps.simhashSigs(TrainingOps.docShingles(spark, dir))
        assert(cacheEntries === before + 2)
      }
    } finally TrainingOps.releaseCaches(spark, dir)
    assert(cacheEntries === before)
  }
}
