package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.functions.GraftFunctions
import graft.model.PipelineConfig
import graft.parse.PatternDictionary
import graft.route.Router
import graft.state.{ManifestStore, ParquetFormat, TableFormat}

/** End-to-end parse → enrich → route → aggregate job (the reference's route
  * pipeline, log-ship/src/main.rs:155-211, re-expressed as one declarative
  * plan):
  *
  *   scan → dictionary parse (WholeStageCodegen) → broadcast enrich →
  *   sink tag projection → one write partitioned by (sink, bucket)
  *   (dynamic partition overwrite, manifest-gated) → per-sink aggregates
  *   + lineage metrics from one read-back of the written table.
  *
  * Scale design (100 TB / 1000 executors):
  *   - the fact side is never shuffled for the enrich join (broadcast);
  *   - the only shuffle is the salted repartition before the ordered sink
  *     write: key = (sink, bucket, pmod(turn_idx, 4)). `bucket` is a pure
  *     function of conv_id, which keeps manifest granularity deterministic,
  *     so one conversation's rows of a sink land in one bucket and spread
  *     over at most 4 tasks. The key takes at most sinks × `saltBuckets` × 4
  *     values, which caps the reducers that receive rows whatever
  *     [[derivedShufflePartitions]] returns (640 for 5 sinks at
  *     app.Main's 32 buckets);
  *   - parse-once fan-out: ONE write job partitions the routed frame by
  *     sink, with nothing persisted (the reference reuses one configured
  *     input across routes, site/docs/config.md:355-358);
  *   - resume skips committed (sink, bucket) pairs via the manifest, so a
  *     rerun after failure reprocesses only missing buckets.
  */
object Pipeline {

  final case class SinkReport(sink: String, rows: Long, buckets: Int, wallMs: Long,
      skippedBuckets: Int)
  final case class RunReport(totalRows: Long, sinks: Seq[SinkReport], wallMs: Long) {
    def turnsPerSec: Double = if (wallMs == 0) 0 else totalRows * 1000.0 / wallMs
  }

  /** Pure transform part (no IO): parse + enrich + route tag. */
  def transform(input: DataFrame, cfg: PipelineConfig, lookup: DataFrame): DataFrame = {
    GraftFunctions.ensureRegistered(input.sparkSession)
    val parsed = PatternDictionary.parse(input, cfg.runTsMillis, cfg.formats)
    val enriched = Enrich.withLookup(parsed, lookup)
    Router.route(enriched, cfg)
      .withColumn("bucket", pmod(hash(col("conv_id")), lit(cfg.saltBuckets)).cast("int"))
  }

  /** Shuffle width for the ordered fan-out write: explicit count when the
    * config pins one, else derived from the INPUT SIZE —
    * max(cluster parallelism, bytes / 128 MB + 1). This is the partition
    * count only: the write's key takes at most sinks × `saltBuckets` × 4
    * distinct values, so no more reducers than that receive rows, and a
    * 100 TB run's ~800k partitions are mostly empty. AQE's coalescing
    * handles the overshoot on small inputs.
    */
  def derivedShufflePartitions(spark: SparkSession, cfg: PipelineConfig): Int =
    if (cfg.shufflePartitions > 0) cfg.shufflePartitions
    else {
      val p = new org.apache.hadoop.fs.Path(cfg.inputPath)
      val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      math.max(spark.sparkContext.defaultParallelism,
        (bytes / (128L << 20)).toInt + 1)
    }

  def run(spark: SparkSession, cfg: PipelineConfig,
      format: TableFormat = ParquetFormat): RunReport = {
    cfg.validate().left.foreach(err => throw new IllegalArgumentException(err))
    GraftFunctions.ensureRegistered(spark)
    val t0 = System.nanoTime()

    val input = format.readSnapshot(spark, cfg.inputPath)
    val routed = transform(input, cfg, Enrich.defaultLookup(spark))

    val manifest = new ManifestStore(spark, s"${cfg.outputRoot}/_manifest", format)
    val allSinks = cfg.sinks.map(_.name) ++ Seq(cfg.defaultSink, cfg.quarantineSink)
    import spark.implicits._

    // resume filter: drop (sink, bucket) pairs already committed — a
    // broadcast anti-join against the (tiny) manifest, never a collect of
    // data rows (SURVEY.md §2.5 R5 lifted to partition granularity)
    val committed = manifest.committedPairs()
    val todo =
      if (committed.isEmpty) routed
      else routed.join(broadcast(committed.toSeq.toDF("sink", "bucket")),
        Seq("sink", "bucket"), "left_anti")

    // ONE write job for every sink, and the ONLY pass that runs the parse
    // stage: fan-out is directory layout (data/sink=X/bucket=Y), not one
    // serialized Spark job per sink. Lineage counts and delivery
    // aggregates are derived afterwards from the WRITTEN parquet (columnar
    // scan of 3 small columns), so rows are parsed exactly once — the
    // per-sink-loop + persist version paid a cache materialization plus a
    // second full pass and scaled at half the rate.
    val s0 = System.nanoTime()
    val out = todo
      // leading (sink, bucket) satisfies the planned write's required
      // ordering (partitionBy sorts by partition cols, NON-stably —
      // without it the writer's own sort would scramble row order)
      .repartition(derivedShufflePartitions(spark, cfg), col("sink"),
        col("bucket"), pmod(col("turn_idx"), lit(4)))
      .sortWithinPartitions("sink", "bucket", "conv_id", "turn_idx")
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("ts"), col("format"), col("fields"), col("role_kind"),
        col("tool_category"), col("sink"), col("bucket"))
    format.overwritePartitions(out, s"${cfg.outputRoot}/data", Seq("sink", "bucket"))
    val writeWallMs = (System.nanoTime() - s0) / 1000000

    // The audit scan reads MANIFEST-CLASS data (3 pruned columns of the
    // just-written output) — its split sizing should fit that scan, not
    // inherit the parse job's conf (bench sessions bin input at 2 MB for
    // parse-stage parallelism, which shredded this ~200 MB read into 106
    // tasks: a fixed ~4 s post-write tail at ANY executor count, 29% of
    // the big level's wall in the N->4N scaling runs). newSession()
    // isolates the SQL conf while sharing the SparkContext; the audit
    // aggregate is a few hundred groups, so a narrow shuffle is right
    // regardless of the data scale that sized the parent's width.
    val audit = spark.newSession()
    audit.conf.set("spark.sql.files.maxPartitionBytes", "512m")
    audit.conf.set("spark.sql.files.openCostInBytes", (4L << 20).toString)
    audit.conf.set("spark.sql.shuffle.partitions", "8")
    // read with the schema the write used: nothing is inferred from the
    // files, so an empty input (no data file written) reads as no rows
    val written = format.readSnapshot(audit, s"${cfg.outputRoot}/data", out.schema.toDDL)

    // ONE read-back pass over the durable table yields BOTH the
    // per-(sink,bucket) lineage the manifest commits AND the per-(sink,
    // format) delivery aggregates (the reference's counters) and the
    // observed row counters. The finest grouping is
    // (sink, bucket, format) — manifest-class metadata (sinks x buckets x
    // formats rows) — and per-(sink,format) distinct-conversation counts
    // are EXACT sums of per-bucket distincts because bucket is a pure
    // function of conv_id (each conversation lives in exactly one
    // bucket). The previous version ran two separate full scans (lineage
    // groupBy + aggregate groupBy): a whole extra pass over the output at
    // 100 TB, and a second fixed job cost in the post-write tail that
    // throttled N->4N wall-clock scaling (the tail does not shrink with
    // the write).
    val cube = written
      .groupBy("sink", "bucket", "format")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("conv_id")).as("n_conv"),
        min(col("turn_idx")).cast("long").as("min_turn"),
        max(col("turn_idx")).cast("long").as("max_turn"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val observedTotal = cube.map(_._4).sum
    val observedMalformed = cube.filter(_._3 == "malformed").map(_._4).sum

    val allPairs = cube.groupBy(t => (t._1, t._2)).view
      .mapValues(_.map(_._4).sum).toSeq
      .map { case ((sink, bucket), n) => (sink, bucket, n) }
    val bucketRows = allPairs.filterNot(p => committed.contains((p._1, p._2)))
      .sortBy(p => (p._1, p._2))

    val skippedBySink = committed.groupBy(_._1).view.mapValues(_.size).toMap
    val reports = allSinks.map { sink =>
      val mine = bucketRows.filter(_._1 == sink)
      SinkReport(sink, mine.map(_._3).sum, mine.size, writeWallMs,
        skippedBySink.getOrElse(sink, 0))
    }

    // per-(sink,format) delivery aggregates folded on the driver from the
    // same read-back metadata (schema identical to Router.sinkAggregates)
    val aggRows = cube.groupBy(t => (t._1, t._3)).map { case ((sink, fmt), rs) =>
      (sink, fmt, rs.map(_._4).sum, rs.map(_._5).sum,
        rs.map(_._6).min, rs.map(_._7).max)
    }.toSeq.sortBy(t => (t._1, t._2))

    val wallMs = (System.nanoTime() - t0) / 1000000

    // The three remaining jobs — manifest commit, `_aggregates`, `_metrics`
    // — write manifest-class METADATA (a handful of driver rows each) and
    // are mutually independent; each pays a fixed job-launch + single-file
    // commit latency that does not shrink with executors. Serialized they
    // formed a fixed post-write tail that capped N->4N wall scaling
    // (Amdahl: the tail was ~constant while the write shrank 4x). Submit
    // all three concurrently — Spark's scheduler is thread-safe — and the
    // tail collapses to ~the slowest one. The pinned resume invariant is
    // untouched: the manifest commits strictly AFTER the durable DATA
    // write, which returned above; a crash between data and manifest still
    // reprocesses only uncommitted buckets on rerun.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val tail = Seq(
      Future {
        if (bucketRows.nonEmpty)
          manifest.commit(cfg.runId, bucketRows, writeWallMs, cfg.runTsMillis)
      },
      Future {
        format.overwritePartitions(
          aggRows.toDF("sink", "format", "n", "n_conv", "min_turn", "max_turn")
            .coalesce(1),
          s"${cfg.outputRoot}/_aggregates", Nil)
      },
      Future {
        // per-sink lineage metrics table — the Spark form of the
        // reference's rate logs (speed.rs:54-60, unix_socket.rs:82-85).
        // wall_ms is the one write job's wall, shared by every sink, so no
        // per-sink rate is derived from it.
        format.append(
          reports.map(r => (cfg.runId, r.sink, r.rows, r.buckets, r.skippedBuckets,
              r.wallMs, observedTotal, observedMalformed))
            .toDF("run_id", "sink", "rows", "buckets", "skipped_buckets",
              "wall_ms", "observed_total", "observed_malformed")
            .coalesce(1),
          s"${cfg.outputRoot}/_metrics")
      })
    tail.foreach(Await.result(_, Duration.Inf))

    RunReport(reports.map(_.rows).sum, reports, wallMs)
  }
}
