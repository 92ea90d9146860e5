package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.commons.io.FileUtils
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.functions.GraftFunctions
import graft.parse.PatternDictionary
import graft.enrich.Enrich
import graft.pipeline.Pipeline

/** The benchmark's JVM: runs one workload for a fixed time and writes the
  * raw run record (set-up times, one entry per operation, spans and counts)
  * as JSON. `run.py` turns the record into metrics.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *   --data DIR --expected FILE [--record-expected FILE]. The record is DIR/record.json.
  */
object Main {

  /** Turns in the pipeline input: a fresh run takes about 3 s on 4 cores. */
  val PipelineTurns = 100000L

  final case class OpRec(i: Int, warmup: Boolean, wall_s: Double, cpu_s: Double,
      run_s: Double, gc_s: Double, heap_mb: Double, parts: Map[String, Double],
      error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // many small input splits, as the program's own bench session uses
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.ensureRegistered(spark)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tally = new Tally
    spark.sparkContext.addSparkListener(tally)
    val tracer = new Tracer(spark, tally)
    val pipe = new PipelineFixture(spark, work, PipelineTurns, seed)
    val ops = new OpsFixture(spark, work, opt("data"))
    val expected = readExpected(opt.get("expected"))

    def make(name: String): Workload = name match {
      case "pipeline_fresh" => new PipelineFresh(pipe, work)
      case "pipeline_resume" => new PipelineResume(spark, pipe, work)
      case "ops_mix" => new OpsMix(ops, tracer, expected)
      case other => sys.error(s"unknown workload $other")
    }
    val w = make(workload)
    val setup = w.setup()

    opt.get("record-expected").foreach { path =>
      // pin the mix's and the stream gate's results: rows and fingerprint
      ops.stageStream()
      val results = (ops.queries :+ ops.funnel).map(q => q -> ops.run(q)) :+
        ("stream_dedup" -> ops.streamDedup())
      val lines = results.map { case (q, (n, fp)) => s"$q\t$n\t$fp" }
      Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcS: Double = gcBeans.map(_.getCollectionTime).sum / 1e3
    val mem = ManagementFactory.getMemoryMXBean

    def measure(wl: Workload, i: Int, warmup: Boolean): OpRec = {
      wl.prepare(i)
      PerfbenchBus.drain(spark.sparkContext)
      val mark = tally.mark
      val gc0 = gcS
      val t0 = System.nanoTime()
      val out = Try(wl.run(i))
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = gcS - gc0
      PerfbenchBus.drain(spark.sparkContext)
      val u = tally.usage(tally.jobsSince(mark))
      val error = out match {
        case Failure(e) => Some(e.toString)
        case Success(r) => Try(wl.check(i, r)).fold(e => Some(e.toString), identity)
      }
      // two collections around a pause: the first lets Spark's context
      // cleaner release what only weak references still held
      System.gc()
      Thread.sleep(200)
      System.gc()
      val heap = mem.getHeapMemoryUsage.getUsed / 1048576.0
      wl.cleanup(i)
      OpRec(i, warmup, wall, u.cpuS, u.runS, gc, heap, wl.parts, error)
    }

    val opsRun = mutable.ArrayBuffer.empty[OpRec]
    val warmS = Workload.timed((0 until w.warmups).foreach(i => opsRun += measure(w, i, true)))
    val budget = if (trace) seconds / 2 else seconds
    val t0 = System.nanoTime()
    var i = w.warmups
    while ((System.nanoTime() - t0) / 1e9 < budget) {
      opsRun += measure(w, i, false)
      i += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9

    val counts = mutable.LinkedHashMap.empty[String, Any]
    if (trace) {
      // the layer profile: every layer on this run's inputs, traced
      if (workload != "ops_mix") ops.stage() else { pipe.generate(); pipe.reference() }
      profile(spark, tracer, pipe, ops, work, counts, i, workload, expected)
    }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "input_rows" -> w.inputRows, "session_s" -> sessionS,
      "setup" -> setup.map { case (k, v) => Map("step" -> k, "s" -> v) },
      "warmup_s" -> warmS, "measure_s" -> measureS,
      "ops" -> opsRun, "spans" -> tracer.spans, "counts" -> counts)
    val json = Serialization.write(record)(DefaultFormats.preservingEmptyValues)
    Files.write(Paths.get(s"$work/record.json"), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def readExpected(path: Option[String]): Map[String, (Long, Long)] =
    path.filter(p => new File(p).exists).map { p =>
      Files.readAllLines(Paths.get(p)).asScala.filter(_.nonEmpty).map { l =>
        val Array(q, n, fp) = l.split("\t")
        q -> (n.toLong, fp.toLong)
      }.toMap
    }.getOrElse(Map.empty)

  /** Traced pass over every layer: the pipeline ladder, fresh and resumed
    * pipeline runs, one pass of the ops mix, the curation funnel and the
    * stream gate. Spans go
    * to `tracer`; counts that no span carries go to `counts`. Layers the
    * workload `warm` has not run yet get one untraced round first.
    */
  private def profile(spark: SparkSession, tracer: Tracer, pipe: PipelineFixture,
      ops: OpsFixture, work: String, counts: mutable.Map[String, Any], firstOp: Int,
      warm: String, expected: Map[String, (Long, Long)]): Unit = {
    var op = firstOp
    def nextOp(): Unit = { op += 1; tracer.op = op }
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // the ladder: each step adds one layer to the previous one
    val scan = spark.read.parquet(pipe.input)
    val parsed = PatternDictionary.parse(scan, pipe.cfg.runTsMillis, pipe.cfg.formats)
    val lookup = Enrich.defaultLookup(spark)
    val steps = Seq("scan" -> scan, "parse" -> parsed,
      "enrich" -> Enrich.withLookup(parsed, lookup),
      "route" -> Pipeline.transform(scan, pipe.cfg, lookup))
    // one untraced round first, so no layer is profiled cold
    steps.foreach { case (_, df) => force(df) }
    tracer.enabled = true
    for ((name, df) <- steps) { nextOp(); tracer.span(s"ladder.$name")(force(df)) }

    pipe.formatRows.foreach { case (f, n) => counts(s"parse.rows.$f") = n }
    pipe.sinkRows.foreach { case (s, n) => counts(s"route.rows.$s") = n }

    val fresh = new PipelineFresh(pipe, s"$work/traced")
    if (warm == "ops_mix") { fresh.run(0); fresh.cleanup(0) }
    nextOp()
    val report = tracer.span("pipeline.run")(fresh.run(1))
    fresh.check(1, report).foreach(e => sys.error(s"traced fresh run: $e"))
    val files = FileUtils.listFiles(new File(s"$work/traced/out/fresh-1/data"),
      Array("parquet"), true).asScala
    counts("write.files") = files.size
    counts("write.bytes") = files.map(_.length).sum
    fresh.cleanup(1)

    val resume = new PipelineResume(spark, pipe, s"$work/traced")
    resume.finish()
    resume.prepare(1)
    nextOp()
    val resumed = tracer.span("pipeline.resume")(tracer.span("pipeline.run")(resume.run(1)))
    resume.check(1, resumed).foreach(e => sys.error(s"traced resumed run: $e"))
    counts("manifest.pairs") = resume.pairs.size
    counts("resume.rows_parsed") = pipe.turns
    counts("resume.rows_written") = resumed.totalRows
    resume.cleanup(1)

    val mix = new OpsMix(ops, tracer, expected)
    def untraced[T](body: => T): T = {
      tracer.enabled = false
      try body finally tracer.enabled = true
    }
    if (warm != "ops_mix") untraced(mix.run(-1))
    mix.prepare(0)
    nextOp()
    val pass = tracer.span("ops.pass")(mix.run(0))
    mix.check(0, pass).foreach(e => sys.error(s"traced ops pass: $e"))

    // the curation funnel, not in the timed mix: one untraced run first
    ops.release()
    untraced(ops.run(ops.funnel))
    ops.release()
    nextOp()
    val curated = tracer.span(s"ops.${ops.funnel}")(ops.run(ops.funnel))
    if (!expected.get(ops.funnel).contains(curated))
      sys.error(s"${ops.funnel}: got $curated, expected ${expected.get(ops.funnel)}")

    ops.stageStream()
    untraced(ops.streamDedup())
    Seq(ops.streams.batches, ops.streams.batchMs, ops.streams.commitMs).foreach(_.clear())
    nextOp()
    val got = tracer.span("streaming.stream_dedup")(ops.streamDedup())
    if (!expected.get("stream_dedup").contains(got))
      sys.error(s"stream_dedup: got $got, expected ${expected.get("stream_dedup")}")
    counts("streaming.stream_dedup.batches") = ops.streams.batches("stream_dedup")
    counts("streaming.stream_dedup.batch_ms") = ops.streams.batchMs("stream_dedup")
    counts("streaming.stream_dedup.state_commit_ms") = ops.streams.commitMs("stream_dedup")
  }
}
