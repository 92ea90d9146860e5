package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.enrich.Enrich
import graft.functions.GraftFunctions
import graft.model.PipelineConfig
import graft.pipeline.Pipeline
import graft.state.Scratch

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

  /** Open the transcripts dir as a file-source stream and apply the batch
    * pipeline's transform unchanged.
    */
  def routedStream(spark: SparkSession, inputDir: String, cfg: PipelineConfig,
      maxFilesPerTrigger: Int = 8): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val stream = spark.readStream
      .schema(Pipeline.InputSchema)
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

  /** The child session [[runOnce]] starts its queries on, one per
    * SparkContext (a race at a context change at worst makes one extra).
    */
  @volatile private var narrow: SparkSession = _

  private def narrowSession(spark: SparkSession): SparkSession =
    Option(narrow).filter(_.sparkContext eq spark.sparkContext).getOrElse {
      val child = spark.newSession()
      child.conf.set("spark.sql.shuffle.partitions", NarrowStateWidth)
      narrow = child
      child
    }

  /** Run the stream `stream` builds to completion over the files currently
    * in its source dir into the memory table `queryName`, and return that
    * table. The checkpoint goes in the context's [[Scratch]] (Spark's local
    * dirs), not on a disk that fsyncs offset and commit files every batch
    * (on a throttled virtual disk that dominates a short run). The query is
    * stopped, its view dropped and its checkpoint deleted even when the run
    * throws or the wait is interrupted.
    *
    * The query runs on one child session per SparkContext
    * (`spark.newSession()`: its own SQL conf, temp views and query manager;
    * the caller's SparkContext and CacheManager) at [[NarrowStateWidth]]
    * shuffle partitions; the caller's session is never modified. Every gate
    * here holds manifest-class state (O(hours x sinks) windows, O(convs)
    * progress rows, O(batch) dedup keys), yet each state partition pays a
    * state-store init + commit per micro-batch, and the width is fixed into
    * the checkpoint at start: at 32 partitions the append gate took 5.5 s
    * at sf0.1, at 4 about 2 s. The parse stage is split-bound, so its width
    * is unaffected. One child keeps one query manager on the context's bus.
    * The returned frame holds the sink's plan, so it outlives the dropped
    * view; it joins with the caller's frames like any other frame.
    */
  def runOnce(spark: SparkSession, queryName: String, mode: OutputMode)(
      stream: SparkSession => Dataset[_]): DataFrame = {
    val child = narrowSession(spark)
    val ckpt = Scratch.dir(s"ckpt_${java.util.UUID.randomUUID()}")
    try {
      val q = stream(child).writeStream
        .format("memory")
        .queryName(queryName)
        .option("checkpointLocation", ckpt)
        .outputMode(mode)
        .start()
      try {
        q.processAllAvailable()
        child.table(queryName)
      } finally {
        q.stop()
        child.catalog.dropTempView(queryName)
      }
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }
}
