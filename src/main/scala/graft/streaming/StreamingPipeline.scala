package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.enrich.Enrich
import graft.functions.GraftFunctions
import graft.model.PipelineConfig
import graft.pipeline.Pipeline

/** Structured Streaming deployment of the SAME parse → enrich → route plan
  * (Pipeline.transform is a pure streaming-safe transformation) — the
  * continuous analogue of the reference's `tail -F` file input
  * (log-ship/src/plugins/file.rs): the file source discovers new files, the
  * checkpointLocation plays the role of the reference's state files
  * (offset committed after durable write, SURVEY.md §2.5 R5), and
  * watermarked windowed counts generalize the per-interval delivery-rate
  * logs (speed.rs:54-60).
  */
object StreamingPipeline {

  val TranscriptSchema: StructType = StructType.fromDDL(
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")

  /** Open the transcripts dir as a file-source stream and apply the batch
    * pipeline's transform unchanged.
    */
  def routedStream(spark: SparkSession, inputDir: String, cfg: PipelineConfig,
      maxFilesPerTrigger: Int = 8): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val stream = spark.readStream
      .schema(TranscriptSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    Pipeline.transform(stream, cfg, Enrich.defaultLookup(spark))
  }

  /** Watermarked tumbling-window per-sink delivery counts (event time =
    * turn ts). Late data beyond 30 minutes is dropped and the window state
    * is bounded — the streaming form of the per-sink counters.
    */
  def windowedSinkCounts(routed: DataFrame): DataFrame =
    routed
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("sink"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("sink"), col("n"))

  final case class ConvState(turns: Long, maxTurn: Int)
  final case class ConvProgress(conv_id: String, turns: Long, max_turn: Int)

  /** Custom per-conversation state across micro-batches
    * (mapGroupsWithState): running turn count + high-water turn index —
    * the kind of cross-batch bookkeeping the reference keeps per file
    * (byte offset) lifted to per-conversation granularity.
    */
  def conversationProgress(routed: DataFrame): Dataset[ConvProgress] = {
    val spark = routed.sparkSession
    import spark.implicits._
    routed.select(col("conv_id"), col("turn_idx")).as[(String, Int)]
      .groupByKey(_._1)
      .mapGroupsWithState[ConvState, ConvProgress](GroupStateTimeout.NoTimeout) {
        case (conv, rows, state: GroupState[ConvState]) =>
          val prev = state.getOption.getOrElse(ConvState(0L, -1))
          var turns = prev.turns
          var maxTurn = prev.maxTurn
          rows.foreach { case (_, idx) =>
            turns += 1
            if (idx > maxTurn) maxTurn = idx
          }
          state.update(ConvState(turns, maxTurn))
          ConvProgress(conv, turns, maxTurn)
      }
  }

  private val NarrowStateWidth = "4"

  /** Run `stream` to completion over the files currently in its source
    * dir into the memory table `queryName`, and return that table. The
    * checkpoint goes on tmpfs: a disk-backed checkpoint fsyncs offset and
    * commit files every batch, which on a throttled virtual disk dominates
    * (and randomizes) the wall time of a short run. The query is stopped
    * and the checkpoint deleted even when the run throws or the wait is
    * interrupted.
    *
    * The query starts with spark.sql.shuffle.partitions narrowed to
    * [[NarrowStateWidth]]; the session value is restored right after. Every
    * driver-gated stream here holds manifest-class state (O(hours x sinks)
    * windows / O(convs) progress rows / O(batch) dedup keys), yet the
    * stateful shuffle width is captured into the checkpoint at start — at
    * the bench session's 32 partitions each gate paid 32 state-store
    * provider inits + commits (plus 32-task stateful stages) per
    * micro-batch for a handful of state rows. 4 partitions is plenty for
    * the state (the PARSE width is unaffected: the pre-shuffle file-source
    * stage is split-bound, not shuffle-bound); it cut the append gate from
    * 5.5 s to ~2 s at sf0.1. At production state sizes the width is the
    * config the operator sizes to state volume, not the batch shuffle
    * width.
    */
  def runOnce(spark: SparkSession, queryName: String, mode: OutputMode)(
      stream: => Dataset[_]): DataFrame = {
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/dev/shm"), "graft_ckpt").toString
    try {
      val prevWidth = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", NarrowStateWidth)
      val q =
        try stream.writeStream
          .format("memory")
          .queryName(queryName)
          .option("checkpointLocation", ckpt)
          .outputMode(mode)
          .start()
        finally spark.conf.set("spark.sql.shuffle.partitions", prevWidth)
      try q.processAllAvailable()
      finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    spark.table(queryName)
  }
}
