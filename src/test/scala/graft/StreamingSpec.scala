package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryException, StreamingQueryListener}

import graft.model.PipelineConfig
import graft.pipeline.{Pipeline, TranscriptGen, Transcripts}
import graft.streaming.StreamingPipeline

/** Streaming/batch parity: the same transform over the same rows must
  * produce identical per-sink counts whether run as a batch job or as a
  * file-source stream; custom state survives across micro-batches.
  */
class StreamingSpec extends SparkSpec {

  private val N = 3000L

  test("windowed per-sink counts: stream equals batch") {
    val in = Files.createTempDirectory("graft_stream").toString + "/input"
    TranscriptGen.transcripts(spark, N).write.parquet(in)
    val cfg = PipelineConfig.default(in, "", Transcripts.RunTsMillis)

    val streamed = StreamingPipeline
      .runOnce(spark, "stream_counts", OutputMode.Complete) { s =>
        StreamingPipeline.windowedSinkCounts(StreamingPipeline.routedStream(
          s, in, cfg, maxFilesPerTrigger = 10000))
      }
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = Pipeline
      .transform(spark.read.parquet(in), cfg,
        graft.enrich.Enrich.defaultLookup(spark))
      .groupBy(window(col("ts"), "1 hour"), col("sink"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("sink"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("append mode emits each closed window exactly once and withholds open tails") {
    val root = Files.createTempDirectory("graft_append").toString
    val in = s"$root/input"
    val base = TranscriptGen.transcripts(spark, N)
    base.coalesce(4).write.parquet(in)
    def parts() = new java.io.File(in).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    val before = parts()
    // sentinel "advance" turn 3 h past the real max ts, rebuilt THROUGH
    // fromEvents so the future timestamp lands in the TEXT the parser
    // reads (editing the envelope ts alone would leave the parsed event
    // time — and so the watermark — unchanged); json slot (id % 8 == 5)
    // for full timestamp fidelity
    val evs = TranscriptGen.events(spark, N)
    val sentinel = Transcripts.fromEvents(
      evs.filter(col("event_id") % 8 === 5).orderBy("event_id").limit(1)
        .crossJoin(broadcast(evs.agg(max(col("ts")).as("mxts"))))
        .withColumn("ts", col("mxts") + expr("INTERVAL 3 HOURS"))
        .drop("mxts"))
    sentinel.coalesce(1).write.mode("append").parquet(in)
    val added = (parts() -- before).toSeq
    assert(added.nonEmpty, "sentinel file was not written")
    val later = System.currentTimeMillis() + 60000
    added.foreach(p => new java.io.File(p).setLastModified(later))
    val cfg = PipelineConfig.default(in, "", Transcripts.RunTsMillis)

    val emitted = StreamingPipeline
      .runOnce(spark, "stream_append_spec", OutputMode.Append) { s =>
        StreamingPipeline.windowedSinkCounts(StreamingPipeline.routedStream(
          s, in, cfg, maxFilesPerTrigger = 8))
      }
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))

    // exactly once: no (window, sink) appears twice in the raw sink table
    val keys = emitted.map(t => (t._1, t._2))
    assert(keys.distinct.length === keys.length, "window emitted twice")

    // every emitted window is closed w.r.t. the REAL data's watermark and
    // matches the batch count; open tail windows are withheld
    val batch = Pipeline
      .transform(spark.read.parquet(in), cfg,
        graft.enrich.Enrich.defaultLookup(spark))
      .groupBy(window(col("ts"), "1 hour"), col("sink"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("sink"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val batchMap = batch.map(t => (t._1, t._2) -> t._3).toMap
    emitted.foreach { case (w, sink, n) =>
      assert(batchMap((w, sink)) === n, s"count mismatch for ($w, $sink)")
    }
    assert(emitted.nonEmpty)
    // the sentinel's own (still-open) window must be absent
    val maxEmitted = emitted.map(_._1.getTime).max
    val maxBatch = batch.map(_._1.getTime).max
    assert(maxEmitted < maxBatch, "open tail window was not withheld")
  }

  test("mapGroupsWithState accumulates per-conversation state across batches") {
    val root = Files.createTempDirectory("graft_state").toString
    val in = s"$root/input"
    // two files -> with maxFilesPerTrigger=8 both fit one batch; write 20
    // small files so state must carry across several micro-batches
    TranscriptGen.transcripts(spark, N).repartition(20).write.parquet(in)
    val cfg = PipelineConfig.default(in, "", Transcripts.RunTsMillis)

    val progress = StreamingPipeline
      .conversationProgress(StreamingPipeline.routedStream(spark, in, cfg))
    val q = progress.writeStream
      .format("memory").queryName("conv_progress")
      .outputMode(OutputMode.Update)
      .start()
    q.processAllAvailable()
    q.stop()

    // latest state per conversation must equal the batch ground truth
    val got = spark.table("conv_progress")
      .groupBy("conv_id")
      .agg(max(col("turns")).as("turns"), max(col("max_turn")).as("max_turn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val expected = spark.read.parquet(in)
      .groupBy("conv_id")
      .agg(count(lit(1)).as("turns"), max(col("turn_idx")).as("max_turn"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === expected)
  }

  test("streaming dropDuplicates restores exactly-once from re-delivered input") {
    val root = Files.createTempDirectory("graft_dedup").toString
    val in = s"$root/input"
    val base = TranscriptGen.transcripts(spark, N)
    base.coalesce(4).write.parquet(in)
    // plant an at-least-once re-delivery: every 5th row arrives again
    val dup = base.filter(pmod(col("turn_idx"), lit(5)) === 0)
    dup.coalesce(1).write.mode("append").parquet(in)
    val nDup = dup.count()
    assert(nDup > 0, "fixture must actually re-deliver rows")
    val cfg = PipelineConfig.default(in, "", Transcripts.RunTsMillis)

    val deduped = StreamingPipeline
      .runOnce(spark, "stream_dedup_spec", OutputMode.Append) { s =>
        StreamingPipeline.routedStream(s, in, cfg, maxFilesPerTrigger = 10000)
          .dropDuplicates("conv_id", "turn_idx")
      }
    // input carries the duplicates; the deduped stream must not
    assert(spark.read.parquet(in).count() === N + nDup)
    assert(deduped.count() === N)
    // and the per-sink counts must equal the duplicate-free batch transform
    val got = deduped.groupBy("sink").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = Pipeline
      .transform(base, cfg, graft.enrich.Enrich.defaultLookup(spark))
      .groupBy("sink").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got === want)
  }

  test("a failing run propagates its error, stops the query and removes its checkpoint") {
    val in = Files.createTempDirectory("graft_corrupt").toString + "/input"
    TranscriptGen.transcripts(spark, N).coalesce(2).write.parquet(in)
    Files.write(java.nio.file.Paths.get(in, "part-corrupt.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    val cfg = PipelineConfig.default(in, "", Transcripts.RunTsMillis)
    // the scratch root: the context's temp dir, where runOnce checkpoints
    val scratch = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory(), "graft")
    def checkpoints() = Option(scratch.listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName).filter(_.startsWith("ckpt")).toSet
    val before = checkpoints()

    var starter: SparkSession = null
    intercept[StreamingQueryException] {
      StreamingPipeline.runOnce(spark, "stream_corrupt_spec", OutputMode.Append) { s =>
        starter = s
        StreamingPipeline.routedStream(s, in, cfg, maxFilesPerTrigger = 10000)
      }
    }
    assert(starter.streams.active.isEmpty, "the failed query is still active")
    assert((checkpoints() -- before).isEmpty, "the checkpoint dir was left behind")
  }

  test("a stream run narrows its state width without touching the caller's session") {
    val in = Files.createTempDirectory("graft_width").toString + "/input"
    TranscriptGen.transcripts(spark, N).coalesce(2).write.parquet(in)
    val cfg = PipelineConfig.default(in, "", Transcripts.RunTsMillis)
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "8")
    def callerWidth = caller.conf.get("spark.sql.shuffle.partitions")
    val stateWidths = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    var widthInBuilder = ""
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => stateWidths.add(o.numShufflePartitions))
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    var starter: SparkSession = null
    val counts = StreamingPipeline
      .runOnce(caller, "stream_width_spec", OutputMode.Complete) { s =>
        widthInBuilder = callerWidth
        starter = s
        s.streams.addListener(listener)
        StreamingPipeline.windowedSinkCounts(StreamingPipeline.routedStream(
          s, in, cfg, maxFilesPerTrigger = 10000))
      }
    drainListenerBus()
    // the starting session is shared by later runs: take the listener off
    starter.streams.removeListener(listener)
    assert(!stateWidths.isEmpty, "no state operator progress was reported")
    stateWidths.forEach(w => assert(w === 4L, "state operator width"))
    assert(widthInBuilder === "8", "caller's width inside the stream builder")
    assert(callerWidth === "8", "caller's width after the run")
    // the memory table belongs to the starting session, and it still
    // joins with a frame of the caller's session
    val sinks = caller.range(1).select(lit("system").as("sink"))
    assert(counts.join(sinks, Seq("sink")).count() > 0)
  }

  test("repeated runs share one narrow session and keep no result tables") {
    val in = Files.createTempDirectory("graft_listeners").toString + "/input"
    TranscriptGen.transcripts(spark, N).coalesce(2).write.parquet(in)
    val cfg = PipelineConfig.default(in, "", Transcripts.RunTsMillis)
    def counts(s: SparkSession) = StreamingPipeline.windowedSinkCounts(
      StreamingPipeline.routedStream(s, in, cfg, maxFilesPerTrigger = 10000))
    def run(name: String): Unit = {
      var starter: SparkSession = null
      val table = StreamingPipeline.runOnce(spark, name, OutputMode.Complete) { s =>
        starter = s
        counts(s)
      }
      assert(!starter.catalog.tableExists(name), s"the temp view $name was left behind")
      assert(table.count() > 0, "the returned frame lost its rows")
    }
    run("stream_reuse_warmup")
    val beforeRuns = streamingBusListeners()
    (1 to 4).foreach(i => run(s"stream_reuse_$i"))
    val viaRunOnce = streamingBusListeners() - beforeRuns

    // the same four stateful queries started directly on one session whose
    // query manager already exists
    val direct = spark.newSession()
    direct.streams.active
    val beforeDirect = streamingBusListeners()
    (1 to 4).foreach { i =>
      val q = counts(direct).writeStream.format("memory")
        .queryName(s"stream_direct_$i")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_direct_ckpt").toString)
        .outputMode(OutputMode.Complete).start()
      try q.processAllAvailable() finally q.stop()
    }
    val viaSession = streamingBusListeners() - beforeDirect
    info(s"four runs added $viaRunOnce bus listeners, four direct queries $viaSession")
    assert(viaRunOnce <= viaSession,
      s"four runs added $viaRunOnce bus listeners, four direct queries $viaSession")
  }
}
