package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.model.PipelineConfig
import graft.pipeline.{Pipeline, TranscriptGen, Transcripts}
import graft.route.Router
import graft.state.ManifestStore

/** End-to-end pipeline behavior: per-sink counts vs a scalar oracle,
  * routed-row ordering, manifest resume idempotence (the partition-level
  * analogue of the reference's state-file resume test, file.rs:738-813).
  */
class PipelineSpec extends SparkSpec {

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

    // fresh: the input rows, and the malformed rows the router tags
    Pipeline.run(spark, cfg)
    val routedMalformed = Router.sinkAggregates(Pipeline.transform(
        spark.read.parquet(in), cfg, Enrich.defaultLookup(spark)))
      .filter(col("format") === "malformed").agg(sum("n")).first().getLong(0)
    assert(routedMalformed > 0, "fixture should contain malformed rows")
    assert(observed(out) === ((N, routedMalformed)))

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
}
