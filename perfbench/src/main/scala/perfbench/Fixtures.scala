package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}

import graft.SparkEntry
import graft.ops.TrainingOps
import graft.enrich.Enrich
import graft.pipeline.{Pipeline, PipelineQueries, Transcripts}
import graft.route.Router
import graft.state.ManifestStore
import graft.streaming.StreamingPipeline

/** The pipeline input and what a correct run over it must produce. */
final class PipelineFixture(spark: SparkSession, work: String, val turns: Long, seed: Long) {
  val input = s"$work/input"
  val cfg = PipelineQueries.e2eConfig.copy(inputPath = input)
  var sinkRows: Map[String, Long] = Map.empty
  var formatRows: Map[String, Long] = Map.empty

  def generate(): Unit =
    Gen.transcripts(spark, turns, seed).write.mode("overwrite").parquet(input)

  /** Expected per-sink and per-format rows, from the program's own transform
    * and aggregate over the same input (no write, no manifest).
    */
  def reference(): Unit = {
    val agg = Router.sinkAggregates(Pipeline.transform(spark.read.parquet(input), cfg,
        Enrich.defaultLookup(spark)))
      .select("sink", "format", "n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    sinkRows = agg.groupMapReduce(_._1)(_._3)(_ + _)
    formatRows = agg.groupMapReduce(_._2)(_._3)(_ + _)
  }

  def run(outputRoot: String, runId: String): Pipeline.RunReport =
    Pipeline.run(spark, cfg.copy(outputRoot = outputRoot, runId = runId))

  private def data(root: String): DataFrame = spark.read.parquet(s"$root/data")

  def dataRows(root: String): Map[String, Long] =
    data(root).groupBy("sink").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def sameRows(what: String, got: Map[String, Long]): Option[String] = {
    val sinks = (got.keySet ++ sinkRows.keySet).toSeq.sorted
    val bad = sinks.filter(s => got.getOrElse(s, 0L) != sinkRows.getOrElse(s, 0L))
    if (bad.isEmpty) None
    else Some(s"$what differ from the reference for sinks ${bad.mkString(",")}: " +
      s"got $got, expected $sinkRows")
  }

  def checkFresh(root: String, report: Pipeline.RunReport): Option[String] =
    (if (report.totalRows != turns)
      Some(s"sink rows sum to ${report.totalRows}, input has $turns turns") else None)
      .orElse(sameRows("reported rows", report.sinks.map(s => s.sink -> s.rows).toMap))
      .orElse(sameRows("rows in data/", dataRows(root)))

  def checkResumed(root: String, report: Pipeline.RunReport,
      expectWritten: Long): Option[String] = {
    val d = data(root)
    val n = d.count()
    val distinct = d.select("conv_id", "turn_idx").distinct().count()
    val pairs = d.select("sink", "bucket").distinct().collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    val committed = new ManifestStore(spark, s"$root/_manifest").committedPairs()
    (if (report.totalRows != expectWritten)
      Some(s"resumed run wrote ${report.totalRows} rows, expected $expectWritten") else None)
      .orElse(sameRows("rows in data/", dataRows(root)))
      .orElse(if (distinct != n) Some(s"${n - distinct} duplicate turns in data/") else None)
      .orElse(if ((pairs -- committed).nonEmpty)
        Some(s"uncommitted (sink, bucket) pairs: ${(pairs -- committed).toSeq.sorted}")
      else None)
  }
}

/** Per-query streaming figures, filled by a StreamingQueryListener. */
final class StreamStats extends StreamingQueryListener {
  val batches = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  val batchMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  val commitMs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      val name = Option(p.name).getOrElse("").replaceAll("_\\d+$", "")
      batches(name) += 1
      batchMs(name) += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      commitMs(name) += p.stateOperators.map(_.commitTimeMs).sum
    }
}

/** The ops tables and the query mix, plus the curation funnel and the stream
  * gate the traced run profiles. The tables are sf0.1's, copied from `data`
  * into the work directory so that the ops' own writes (the stream gate's
  * staging) stay there.
  */
final class OpsFixture(spark: SparkSession, work: String, data: String) {
  val dir = s"$work/ops"
  private val streamDir = s"$work/stream"
  private val cfg = PipelineQueries.e2eConfig
  val streams = new StreamStats
  spark.streams.addListener(streams)
  private var n = 0

  /** Tables the mix reads; `events` only feeds the stream gate's staging. */
  val tables: Seq[String] = Seq("documents", "orders", "customer")

  /** Rows of the tables one pass reads. */
  lazy val inputRows: Long = tables.map(t => spark.read.parquet(s"$dir/$t.parquet").count()).sum

  /** The mix, in the order a pass runs it: a banded-LSH dedup (explode
    * fan-out into a self-join) and a salted shuffle join.
    */
  val queries: Seq[String] = Seq("dedup_simhash", "q_join_salted")

  /** Profiled in traced runs only: the curation funnel, which runs
    * dedup_clusters' iterative connected components and text_decontaminate
    * inside it. A pass with it takes 10 s when steady and keeps getting
    * faster for more passes than a run can afford to wait.
    */
  val funnel = "text_curate"

  /** Copies the tables into the work directory. */
  def stage(): Unit =
    (tables :+ "events").foreach { t =>
      FileUtils.copyFile(new File(s"$data/$t.parquet"), new File(s"$dir/$t.parquet"))
    }

  /** Drop the session-scoped caches the ops keep between invocations
    * (shingles, signatures, pair and label frames), so that every pass
    * computes its queries instead of reading what the last pass left.
    */
  def release(): Unit = TrainingOps.releaseCaches(spark, dir)

  /** Run one query of the mix, forced through the noop sink; returns (rows,
    * fingerprint).
    */
  def run(q: String): (Long, Long) = force(SparkEntry.queries(q)(spark, dir))

  private def force(df: DataFrame): (Long, Long) = {
    val obs = new Observation()
    Fingerprint.observe(df, obs).write.format("noop").mode("overwrite").save()
    Fingerprint.read(obs)
  }

  /** The pipe_stream_dedup gate's staging: a 1/10 subset of the transcripts
    * of the events table as 16 files, plus a re-delivered copy of every
    * fifth of those rows.
    */
  def stageStream(): Unit = {
    val base = s"$streamDir/base"
    Transcripts.transcripts(spark, dir)
      .filter(pmod(col("turn_idx"), lit(10)) === 0).coalesce(16)
      .write.mode("overwrite").parquet(base)
    val staged = spark.read.parquet(base)
    staged.coalesce(16).write.mode("overwrite").parquet(s"$streamDir/dedup")
    staged.filter(pmod(col("turn_idx"), lit(50)) === 0).coalesce(1)
      .write.mode("append").parquet(s"$streamDir/dedup")
  }

  /** The pipe_stream_dedup gate composed from the program's public stream
    * builder, with its checkpoint in the work directory: the staged files
    * through `StreamingPipeline.routedStream` and `dropDuplicates` into a
    * memory sink, at the stateful width the program's own stream runners
    * pin (4 partitions); returns the per-sink counts' (rows, fingerprint).
    */
  def streamDedup(): (Long, Long) = {
    n += 1
    val name = s"stream_dedup_$n"
    val ckpt = s"$work/ckpt/$name"
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    val q = try StreamingPipeline.routedStream(spark, s"$streamDir/dedup", cfg,
          maxFilesPerTrigger = 10000)
        .dropDuplicates("conv_id", "turn_idx")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).outputMode(OutputMode.Append).start()
      finally spark.conf.set("spark.sql.shuffle.partitions", width)
    try q.processAllAvailable()
    finally {
      q.stop()
      FileUtils.deleteQuietly(new File(ckpt))
    }
    try force(spark.table(name).groupBy("sink")
      .agg(count(lit(1)).as("n"), countDistinct(col("conv_id")).as("n_conv")))
    finally spark.catalog.dropTempView(name)
  }
}
