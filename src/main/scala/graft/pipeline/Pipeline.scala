package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.enrich.Enrich
import graft.functions.{DeliveryCube, GraftFunctions}
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
  *   (dynamic partition overwrite, manifest-gated) that also counts what it
  *   delivers → per-sink aggregates + lineage metrics from those counts.
  *
  * Scale design (100 TB / 1000 executors):
  *   - the fact side is never shuffled for the enrich join (broadcast);
  *   - the only shuffle is the salted repartition before the ordered sink
  *     write: key = (sink, bucket, pmod(xxhash64(conv_id), S)). `bucket` is
  *     a pure function of conv_id, which keeps manifest granularity
  *     deterministic, and so is the salt, so one conversation's rows of a
  *     sink land in one task. S = ⌈4·P / D⌉ for P write partitions and D
  *     (sink, bucket) directories: while D ≥ 4·P the salt is constant, so
  *     each directory is ONE file written by one task; past that the key
  *     has about 4 values per partition, so few partitions stay empty, and
  *     the salt (a hash independent of the bucket's) spreads a directory
  *     over at most S files;
  *   - parse-once fan-out: ONE write job partitions the routed frame by
  *     sink, with nothing persisted (the reference reuses one configured
  *     input across routes, site/docs/config.md:355-358);
  *   - delivery counting rides the write: an observed [[DeliveryCube]] over
  *     the sorted write input yields the per-(sink, bucket, format) cube
  *     behind the manifest rows, `_aggregates` and `_metrics`, so a fresh
  *     run never re-reads `data/` (the reference counts on the sink's
  *     acknowledgement, file.rs:129-134, speed.rs:54-60);
  *   - resume skips committed (sink, bucket) pairs via the manifest, so a
  *     rerun after failure reprocesses only missing buckets, and reads back
  *     only the committed pairs' cube.
  */
object Pipeline {

  final case class SinkReport(sink: String, rows: Long, buckets: Int, wallMs: Long,
      skippedBuckets: Int)
  /** `formatRows`: the rows this run wrote, per parse format. */
  final case class RunReport(totalRows: Long, sinks: Seq[SinkReport], wallMs: Long,
      formatRows: Map[String, Long]) {
    def turnsPerSec: Double = if (wallMs == 0) 0 else totalRows * 1000.0 / wallMs
  }

  /** The transcripts table a run reads (and the stream's file source). */
  val InputSchema: StructType = StructType.fromDDL(
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")

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
    * max(cluster parallelism, bytes / 128 MB + 1). AQE's
    * `CoalesceShufflePartitions` leaves a repartition to a fixed count
    * alone, so every partition is scheduled as a task. The write key's salt
    * widens with this count to about 4 key values per partition, so hash
    * placement leaves about e⁻⁴ ≈ 2% of a wide write's tasks empty; while
    * sinks × `saltBuckets` ≥ 4 × this count, the salt is constant and each
    * (sink, bucket) directory is written as one file.
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

    // the declared schema: no job infers one from the input's files
    val input = format.readSnapshot(spark, cfg.inputPath, Some(InputSchema))
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
    // serialized Spark job per sink. The write counts what it delivers:
    // the delivery cube is an observed metric of the write's own tasks, so
    // no job re-reads the rows it wrote.
    //
    // The salt's width S = ⌈4·P / D⌉ over the D (sink, bucket) directories
    // gives the key about 4 values per write partition, or one value (one
    // file per directory) while D ≥ 4·P. Long: 4·P overflows an Int.
    val s0 = System.nanoTime()
    val partitions = derivedShufflePartitions(spark, cfg)
    val dirs = allSinks.size.toLong * cfg.saltBuckets
    val saltWidth = (4L * partitions + dirs - 1) / dirs
    val out = todo
      .repartition(partitions, col("sink"), col("bucket"),
        pmod(xxhash64(col("conv_id")), lit(saltWidth)))
      // leading (sink, bucket) satisfies the planned write's required
      // ordering (partitionBy sorts by partition cols, NON-stably —
      // without it the writer's own sort would scramble row order)
      .sortWithinPartitions("sink", "bucket", "conv_id", "turn_idx")
      .select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("ts"), col("format"), col("fields"), col("role_kind"),
        col("tool_category"), col("sink"), col("bucket"))
    // per-(sink, bucket, format) counts of the rows the write's tasks
    // deliver, merged once per successful task like the write's own
    // commit; exact because the key above keeps a conversation's rows of a
    // sink in one task and the sort makes it one run there
    val delivered = Observation("delivered")
    format.overwritePartitions(
      out.observe(delivered, DeliveryCube.column(col("sink"), col("bucket"),
        col("format"), col("conv_id"), col("turn_idx")).as("cube")),
      s"${cfg.outputRoot}/data", Seq("sink", "bucket"))
    val writeWallMs = (System.nanoTime() - s0) / 1000000
    val written = delivered.get("cube").asInstanceOf[Seq[Row]].map(cubeRow)

    // A resumed run did not write the committed pairs, so it reads their
    // cube back from data/ to keep `_aggregates` and the observed counters
    // over all of data/. The filter is on the partition columns, so the
    // scan reads only those (sink, bucket) directories (the parquet
    // binding's file index still lists data/ once). The read-back is
    // manifest-class work (3 columns, a few hundred groups), so it runs in
    // a child session sized for that — newSession() isolates the SQL conf
    // while sharing the SparkContext — instead of inheriting the parse
    // job's split and shuffle widths.
    val resumed =
      if (committed.isEmpty) Nil
      else {
        val audit = spark.newSession()
        audit.conf.set("spark.sql.files.maxPartitionBytes", "512m")
        audit.conf.set("spark.sql.files.openCostInBytes", (4L << 20).toString)
        audit.conf.set("spark.sql.shuffle.partitions", "8")
        val skipped = committed.groupBy(_._1).map { case (sink, pairs) =>
          col("sink") === sink && col("bucket").isin(pairs.map(_._2).toSeq: _*)
        }.reduce(_ || _)
        // read with the schema the write used: nothing is inferred from the
        // files, so a committed pair with no data reads as no rows
        format.readSnapshot(audit, s"${cfg.outputRoot}/data", out.schema.toDDL)
          .where(skipped)
          .groupBy("sink", "bucket", "format")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("conv_id")).as("n_conv"),
            min(col("turn_idx")).cast("long").as("min_turn"),
            max(col("turn_idx")).cast("long").as("max_turn"))
          .collect().toSeq.map(cubeRow)
      }
    val cube = written ++ resumed
    val observedTotal = cube.map(_.n).sum
    val observedMalformed = cube.filter(_.format == "malformed").map(_.n).sum

    // every written pair is uncommitted (the anti-join above), so the
    // written cube is exactly what this run commits
    val bucketRows = written.groupMapReduce(c => (c.sink, c.bucket))(_.n)(_ + _).toSeq
      .map { case ((sink, bucket), n) => (sink, bucket, n) }
      .sortBy(p => (p._1, p._2))

    val skippedBySink = committed.groupBy(_._1).view.mapValues(_.size).toMap
    val reports = allSinks.map { sink =>
      val mine = bucketRows.filter(_._1 == sink)
      SinkReport(sink, mine.map(_._3).sum, mine.size, writeWallMs,
        skippedBySink.getOrElse(sink, 0))
    }

    // per-(sink,format) delivery aggregates folded on the driver from the
    // cube (schema identical to Router.sinkAggregates); n_conv sums exactly
    // over buckets because bucket is a pure function of conv_id
    val aggRows = cube.groupBy(c => (c.sink, c.format)).map { case ((sink, fmt), cs) =>
      (sink, fmt, cs.map(_.n).sum, cs.map(_.nConv).sum,
        cs.flatMap(_.minTurn).minOption, cs.flatMap(_.maxTurn).maxOption)
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

    RunReport(reports.map(_.rows).sum, reports, wallMs,
      written.groupMapReduce(_.format)(_.n)(_ + _))
  }

  /** One (sink, bucket, format) of the delivery cube. */
  private final case class CubeRow(sink: String, bucket: Int, format: String, n: Long,
      nConv: Long, minTurn: Option[Long], maxTurn: Option[Long])

  private def cubeRow(r: Row): CubeRow =
    CubeRow(r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4),
      Option(r.get(5)).map(_.asInstanceOf[Long]), Option(r.get(6)).map(_.asInstanceOf[Long]))
}
