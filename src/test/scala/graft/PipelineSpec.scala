package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.enrich.Enrich
import graft.model.PipelineConfig
import graft.pipeline.{Pipeline, TranscriptGen, Transcripts}
import graft.route.Router
import graft.state.ManifestStore

/** End-to-end pipeline behavior: per-sink counts vs a scalar oracle,
  * routed-row ordering, manifest resume idempotence (the partition-level
  * analogue of the reference's state-file resume test, file.rs:738-813).
  */
class PipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val N = 5000L

  private def freshDirs(): (String, String) = {
    val root = Files.createTempDirectory("graft_pipe").toString
    (s"$root/input", s"$root/out")
  }

  /** Scalar oracle: sink assignment per turn id, straight reimplementation
    * of the route semantics over a local range (test-scale only).
    */
  private def expectedSinks(n: Long): Map[String, Long] =
    (0L until n).map { id =>
      (id % 8, id % 3) match {
        case (7, _) => "quarantine"
        case (0, r) => if (r != 0) "utm" else "other"
        case (2, _) => "access"
        case (m, _) if m == 1 || m == 3 || m == 4 => "system"
        case _ => "other"
      }
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("e2e: per-sink delivery counts match the scalar oracle") {
    val (in, out) = freshDirs()
    TranscriptGen.transcripts(spark, N).write.parquet(in)
    val cfg = PipelineConfig.default(in, out, Transcripts.RunTsMillis)
    val report = Pipeline.run(spark, cfg)

    assert(report.totalRows === N)
    val expected = expectedSinks(N)
    report.sinks.foreach { s =>
      assert(s.rows === expected.getOrElse(s.sink, 0L), s"sink ${s.sink}")
    }
    // aggregates table agrees
    val aggs = spark.read.parquet(s"$out/_aggregates")
      .groupBy("sink").agg(sum("n").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(aggs === expected)
  }

  test("e2e: routed rows are ordered by (conv_id, turn_idx) within files") {
    val (in, out) = freshDirs()
    TranscriptGen.transcripts(spark, N).write.parquet(in)
    val cfg = PipelineConfig.default(in, out, Transcripts.RunTsMillis)
    Pipeline.run(spark, cfg)

    val rows = spark.read.parquet(s"$out/data/sink=system")
      .select(input_file_name().as("f"), col("conv_id"), col("turn_idx"))
      .collect()
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val seq = rs.map(r => (r.getString(1), r.getInt(2))).toSeq
      assert(seq === seq.sorted, "rows within a file must be sorted")
    }
  }

  test("resume: committed buckets are skipped; rerun never duplicates") {
    val (in, out) = freshDirs()
    TranscriptGen.transcripts(spark, N).write.parquet(in)
    val cfg = PipelineConfig.default(in, out, Transcripts.RunTsMillis)

    val first = Pipeline.run(spark, cfg)
    assert(first.totalRows === N)

    // rerun: everything committed -> zero new rows, no duplicates on disk
    val second = Pipeline.run(spark, cfg)
    assert(second.totalRows === 0L)
    second.sinks.foreach(s => assert(s.skippedBuckets > 0, s"sink ${s.sink}"))
    val onDisk = first.sinks.map(s =>
      spark.read.parquet(s"$out/data/sink=${s.sink}").count()).sum
    assert(onDisk === N)
  }

  test("resume: a partially-committed sink reprocesses only missing buckets") {
    val (in, out) = freshDirs()
    TranscriptGen.transcripts(spark, N).write.parquet(in)
    val cfg = PipelineConfig.default(in, out, Transcripts.RunTsMillis)

    // pre-commit buckets 0..3 for sink 'system' (simulates a crash after
    // those buckets' data+manifest committed, before the rest)
    val manifest = new ManifestStore(spark, s"$out/_manifest")
    manifest.commit(cfg.runId, (0 to 3).map(b => ("system", b, 0L)),
      wallMs = 0L, committedAt = cfg.runTsMillis)

    val report = Pipeline.run(spark, cfg)
    val sys = report.sinks.find(_.sink === "system").get
    assert(sys.skippedBuckets === 4)
    assert(sys.buckets === cfg.saltBuckets - 4)
    // rows written = expected minus rows living in pre-committed buckets
    val expectedSystem = expectedSinks(N)("system")
    assert(sys.rows < expectedSystem && sys.rows > 0)
  }

  test("an empty input runs: every sink reports 0 rows and nothing commits") {
    val (in, out) = freshDirs()
    TranscriptGen.transcripts(spark, N).limit(0).write.parquet(in)
    val cfg = PipelineConfig.default(in, out, Transcripts.RunTsMillis)
    val report = Pipeline.run(spark, cfg)
    assert(report.totalRows === 0L)
    assert(report.sinks.map(_.sink).toSet ===
      (cfg.sinks.map(_.name) ++ Seq(cfg.defaultSink, cfg.quarantineSink)).toSet)
    report.sinks.foreach(s => assert(s.rows === 0L && s.buckets === 0, s"sink ${s.sink}"))
    assert(new ManifestStore(spark, s"$out/_manifest").read().count() === 0L)
    val metrics = spark.read.parquet(s"$out/_metrics")
    assert(metrics.count() === report.sinks.size.toLong)
    assert(metrics.filter(col("rows") =!= 0L || col("observed_total") =!= 0L).count() === 0L)
  }

  test("metrics: observed counters count every row under data/") {
    val (in, out) = freshDirs()
    TranscriptGen.transcripts(spark, N).write.parquet(in)
    val cfg = PipelineConfig.default(in, out, Transcripts.RunTsMillis)
    def observed(root: String): (Long, Long) = {
      val metrics = spark.read.parquet(s"$root/_metrics")
      assert(metrics.columns.toSet === Set("run_id", "sink", "rows", "buckets",
        "skipped_buckets", "wall_ms", "observed_total", "observed_malformed"))
      val rows = metrics
        .select("observed_total", "observed_malformed").distinct().collect()
      assert(rows.length === 1, "one pair of counters per run")
      (rows(0).getLong(0), rows(0).getLong(1))
    }

    // fresh: the input rows, and the malformed rows the router tags; the
    // report's per-format rows split the rows it wrote
    val report = Pipeline.run(spark, cfg)
    val routedMalformed = Router.sinkAggregates(Pipeline.transform(
        spark.read.parquet(in), cfg, Enrich.defaultLookup(spark)))
      .filter(col("format") === "malformed").agg(sum("n")).first().getLong(0)
    assert(routedMalformed > 0, "fixture should contain malformed rows")
    assert(observed(out) === ((N, routedMalformed)))
    assert(report.formatRows.values.sum === report.totalRows)
    assert(report.formatRows("malformed") === routedMalformed)

    // resumed over a manifest that already holds four 'system' buckets:
    // those are never written, and the counters follow what data/ holds
    val out2 = out + "_resumed"
    new ManifestStore(spark, s"$out2/_manifest").commit(cfg.runId,
      (0 to 3).map(b => ("system", b, 0L)), wallMs = 0L, committedAt = cfg.runTsMillis)
    Pipeline.run(spark, cfg.copy(outputRoot = out2))
    val data = spark.read.parquet(s"$out2/data")
    assert(data.count() < N)
    assert(observed(out2) ===
      ((data.count(), data.filter(col("format") === "malformed").count())))
  }

  private def aggregates(df: DataFrame): Set[(String, String, Long, Long, Long, Long)] =
    df.select("sink", "format", "n", "n_conv", "min_turn", "max_turn").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet

  test("aggregates: _aggregates equals Router.sinkAggregates, fresh and resumed") {
    val (in, out) = freshDirs()
    // one 2,000-turn conversation among them, written by 8 tasks
    TranscriptGen.transcripts(spark, N).write.parquet(in)
    val cfg = PipelineConfig.default(in, out, Transcripts.RunTsMillis)
      .copy(shufflePartitions = 8)
    def reference(input: String) = aggregates(Router.sinkAggregates(Pipeline.transform(
      spark.read.parquet(input), cfg, Enrich.defaultLookup(spark))))
    val expected = reference(in)

    Pipeline.run(spark, cfg)
    assert(aggregates(spark.read.parquet(s"$out/_aggregates")) === expected)

    // the generator gives a conversation's rows of one format one turn_idx
    // residue mod 4; at turn_idx / 8 they take all four, so a write key
    // salted by turn_idx would spread them over tasks
    val spread = in + "_spread"
    spark.read.parquet(in).withColumn("turn_idx", (col("turn_idx") / 8).cast("int"))
      .write.parquet(spread)
    Pipeline.run(spark, cfg.copy(inputPath = spread, outputRoot = spread + "_out"))
    assert(aggregates(spark.read.parquet(s"${spread}_out/_aggregates")) === reference(spread))

    // a finished run's data/ with only its even buckets committed: the rerun
    // writes the odd ones and reads the even ones back
    val out2 = out + "_resumed"
    FileUtils.copyDirectory(new File(s"$out/data"), new File(s"$out2/data"))
    val even = new ManifestStore(spark, s"$out/_manifest").read()
      .select("sink", "bucket", "rows").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).filter(_._2 % 2 == 0).toSeq
    new ManifestStore(spark, s"$out2/_manifest").commit(cfg.runId, even,
      wallMs = 0L, committedAt = cfg.runTsMillis)
    val resumed = Pipeline.run(spark, cfg.copy(outputRoot = out2))
    assert(resumed.totalRows === N - even.map(_._3).sum)
    assert(aggregates(spark.read.parquet(s"$out2/_aggregates")) === expected)
    assert(spark.read.parquet(s"$out2/_metrics").select("observed_total").distinct()
      .collect().map(_.getLong(0)).toSeq === Seq(N))
  }

  test("a fresh run reads nothing back from data/ and sorts the write once") {
    val (in, out) = freshDirs()
    TranscriptGen.transcripts(spark, N).write.parquet(in)
    val cfg = PipelineConfig.default(in, out, Transcripts.RunTsMillis)

    // the locations of every file scan any session of the context plans
    // (a session-scoped listener cannot see a child session's queries)
    val scanned = new ConcurrentLinkedQueue[String]()
    def scans(p: SparkPlanInfo): Unit = {
      if (p.nodeName.startsWith("Scan")) p.metadata.get("Location").foreach(scanned.add)
      p.children.foreach(scans)
    }
    val scanListener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => scans(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => scans(u.sparkPlanInfo)
        case _ =>
      }
    }
    // the executed plans of this session's queries, the write among them
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.sparkContext.addSparkListener(scanListener)
    spark.listenerManager.register(planListener)
    try Pipeline.run(spark, cfg)
    finally {
      drainListenerBus()
      spark.listenerManager.unregister(planListener)
      spark.sparkContext.removeSparkListener(scanListener)
    }

    assert(scanned.asScala.exists(_.contains(in)), "the listener sees the input scan")
    assert(!scanned.asScala.exists(_.contains(s"$out/data")), scanned.asScala.toSeq)
    val writes = plans.asScala.toSeq.filter(_.toString.contains(s"$out/data"))
    assert(writes.size === 1)
    assert(collect(writes.head) { case s: SortExec => s }.size === 1, writes.head)
  }

  test("a missing input path fails the run") {
    val (in, out) = freshDirs()
    intercept[AnalysisException](
      Pipeline.run(spark, PipelineConfig.default(in, out, Transcripts.RunTsMillis)))
  }

  test("write: a small run writes one file per (sink, bucket) directory") {
    val (in, out) = freshDirs()
    TranscriptGen.transcripts(spark, N).write.parquet(in)
    // 5 sinks x 8 buckets = 40 directories >= 4 x 4 partitions: salt width 1
    val cfg = PipelineConfig.default(in, out, Transcripts.RunTsMillis)
      .copy(shufflePartitions = 4)
    Pipeline.run(spark, cfg)

    val dirs = new File(s"$out/data").listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles().filter(_.isDirectory)).toSeq
    assert(dirs.size === 40)
    dirs.foreach { d =>
      val parts = d.list().filter(_.startsWith("part-"))
      assert(parts.length === 1, s"$d holds ${parts.mkString(", ")}")
    }
  }

  test("write: a wide write puts rows in nearly every task, with exact aggregates") {
    val (in, out) = freshDirs()
    TranscriptGen.transcripts(spark, N).write.parquet(in)
    // 5 sinks x 2 buckets = 10 directories, salt width ceil(4 x 64 / 10) = 26
    val cfg = PipelineConfig.default(in, out, Transcripts.RunTsMillis)
      .copy(shufflePartitions = 64, saltBuckets = 2)

    // rows each task of each stage reads from a shuffle
    val shuffleRead = new ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          shuffleRead.add(e.stageId -> e.taskMetrics.shuffleReadMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try Pipeline.run(spark, cfg)
    finally {
      drainListenerBus()
      spark.sparkContext.removeSparkListener(listener)
    }

    // the write stage: the one that reads every routed row from the shuffle
    val writes = shuffleRead.asScala.toSeq.groupMap(_._1)(_._2).values
      .filter(_.sum == N).toSeq
    assert(writes.size === 1, shuffleRead.asScala.toSeq)
    assert(writes.head.size === 64)
    assert(writes.head.count(_ > 0) >= 56, writes.head)

    val expected = aggregates(Router.sinkAggregates(Pipeline.transform(
      spark.read.parquet(in), cfg, Enrich.defaultLookup(spark))))
    assert(aggregates(spark.read.parquet(s"$out/_aggregates")) === expected)
  }
}
