package graft.tools

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Pipeline, TranscriptGen}
import graft.model.PipelineConfig

/** One-order-of-magnitude scale soak (VERDICT r5 #4): generate a 10x
  * testdata-shaped corpus (1M events / 50k documents vs sf0.1's 100k/5k)
  * plus a 40M-turn pipeline input (10x the bench's 4M), run the six most
  * expensive ops at BOTH scales and the full disk-to-disk pipeline once,
  * and record per-op wall + peak driver heap. A super-linear (>> 10x) wall
  * ratio or a corpus-scale driver heap would falsify the O(n) / bounded-
  * driver claims the sandbox SFs cannot reach. Writes BENCH/SOAK.md.
  *
  * The synthetic documents use a 3000-word vocabulary (trigram space >>
  * doc shingle count, so unrelated docs share ~no shingles) with a leading
  * stopword (text_curate's quality gate sees real buckets) and a planted
  * near-dup pair every 100 docs (J ~ 0.97 — the dup fraction is constant,
  * so dedup output scales linearly by construction and any super-linear
  * time/memory is the ENGINE's, not the plant's).
  */
object Soak {

  private def docText(d: org.apache.spark.sql.Column) = {
    // ~30-69 words; word i of doc d = "w" + xxhash64(d*997+i) % 2999, with
    // "the" every 7th slot so stop-hit quality buckets populate
    val nw = (lit(30) + pmod(d, lit(40))).cast("int")
    concat_ws(" ", transform(sequence(lit(0), nw - 1), i =>
      when(pmod(i, lit(7)) === 3, lit("the")).otherwise(
        concat(lit("w"), pmod(xxhash64(d * 997 + i.cast("long")), lit(2999))))))
  }

  def documents(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val slices = spark.sparkContext.defaultParallelism * 4
    // doc_id % 100 == 1 docs repeat their predecessor's text plus a 2-word
    // tail: a planted near-dup pair per 100 docs
    val text = when(pmod(id, lit(100)) === 1,
        concat(docText(id - 1), lit(" tail"), pmod(id, lit(9))))
      .otherwise(docText(id))
    spark.range(0, n, 1, slices).select(
      id.as("doc_id"),
      text.as("text"),
      lit("en").as("lang"),
      concat(lit("s"), pmod(id, lit(20))).as("source"),
      length(text).cast("long").as("n_chars"))
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans()
  private def resetPeaks(): Unit = heapPools.forEach(_.resetPeakUsage())
  private def peakHeapMb(): Long = {
    var sum = 0L
    heapPools.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP)
        sum += p.getPeakUsage.getUsed
    }
    sum >> 20
  }

  /** Live driver state estimate: used heap after an explicit full GC.
    * Under the repo's fixed -Xms=-Xmx heap the GC is lazy, so raw peak
    * usage mostly measures accumulated garbage — the post-GC figure is
    * what actually tracks driver-held data structures (collected vocab,
    * centroids, session caches' bookkeeping).
    */
  private def liveHeapMb(): Long = {
    System.gc()
    Thread.sleep(200)
    val u = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    u.getUsed >> 20
  }

  def main(args: Array[String]): Unit = {
    val turns = args.lift(0).map(_.toLong).getOrElse(40000000L)
    val nDocs = args.lift(1).map(_.toLong).getOrElse(50000L)
    val nEvents = args.lift(2).map(_.toLong).getOrElse(1000000L)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-soak")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/dev/shm"), "graft_soak").toString
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))))
    val soakDir = s"$root/data"
    System.err.println(s"[soak] staging 10x corpus under $soakDir")
    TranscriptGen.events(spark, nEvents).write.parquet(s"$soakDir/events.parquet")
    documents(spark, nDocs).write.parquet(s"$soakDir/documents.parquet")

    val ops = Seq("dedup_simhash", "dedup_ngram", "text_curate",
      "dedup_clusters", "q_heavy_hitters", "text_bpe_train")
    case class OpRun(op: String, dir: String, rows: Long, wallS: Double,
        peakMb: Long, liveMb: Long)
    val runs = scala.collection.mutable.ArrayBuffer.empty[OpRun]
    Seq("/root/testdata/sf0.1" -> "sf0.1", soakDir -> "10x").foreach {
      case (dir, tag) =>
        ops.foreach { op =>
          resetPeaks()
          spark.sparkContext.setJobDescription(s"soak:$op@$tag")
          val t0 = System.nanoTime()
          val rows = graft.SparkEntry.queries(op)(spark, dir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          runs += OpRun(op, tag, rows, wall, peakHeapMb(), liveHeapMb())
          System.err.println(f"[soak] $op@$tag: $wall%.1f s, $rows rows, " +
            s"peak heap ${runs.last.peakMb} MB, live after GC " +
            s"${runs.last.liveMb} MB")
        }
        graft.ops.TrainingOps.releaseCaches(spark, dir)
    }

    // full disk-to-disk pipeline at 10x the bench's turn count
    System.err.println(s"[soak] staging $turns-turn pipeline input")
    val pipeIn = s"$root/pipe_in"
    TranscriptGen.transcripts(spark, turns).write.parquet(pipeIn)
    resetPeaks()
    val cfg = PipelineConfig.default(pipeIn, s"$root/pipe_out",
      graft.pipeline.Transcripts.RunTsMillis).copy(runId = "soak")
    spark.sparkContext.setJobDescription(s"soak:pipeline@${turns}")
    val t0 = System.nanoTime()
    val report = Pipeline.run(spark, cfg)
    val pipeWall = (System.nanoTime() - t0) / 1e9
    val pipePeak = peakHeapMb()
    val pipeLive = liveHeapMb()
    System.err.println(f"[soak] pipeline: $pipeWall%.1f s, " +
      s"${report.totalRows} rows, ${report.turnsPerSec.round} turns/s, " +
      s"peak heap $pipePeak MB, live after GC $pipeLive MB")

    val md = new StringBuilder
    md ++= "# BENCH/SOAK.md — one-order-of-magnitude scale soak (graft.tools.Soak)\n\n"
    md ++= s"Inputs: sf0.1 (100k events / 5k docs) vs a generated 10x corpus\n"
    md ++= s"($nEvents events / $nDocs docs, constant planted-dup fraction), plus the\n"
    md ++= s"full pipeline at $turns turns (bench uses 4M). Pass = no op's wall grows\n"
    md ++= "super-linearly (>> 10x) and no op's driver heap scales with the corpus.\n\n"
    md ++= "| op | sf0.1 wall s | sf0.1 rows | 10x wall s | 10x rows | wall ratio | 10x live driver heap after GC MB |\n"
    md ++= "|---|---|---|---|---|---|---|\n"
    ops.foreach { op =>
      val b = runs.find(r => r.op == op && r.dir == "sf0.1").get
      val s = runs.find(r => r.op == op && r.dir == "10x").get
      md ++= f"| $op | ${b.wallS}%.2f | ${b.rows} | ${s.wallS}%.2f | ${s.rows} | ${s.wallS / b.wallS}%.1f | ${s.liveMb} |\n"
    }
    md ++= f"| pipeline ($turns turns) | — | — | $pipeWall%.1f | ${report.totalRows} | — | $pipeLive |\n"
    md ++= f"\nPipeline throughput at 10x: ${report.turnsPerSec.round} turns/s " +
      "(compare turns_per_sec_32c in BENCH/last_bench.json).\n"
    md ++= "\nNote: sf0.1 walls are dominated by fixed per-query overhead, so\n"
    md ++= "sub-10x ratios are expected for linear ops; the falsification\n"
    md ++= "criterion is a ratio FAR ABOVE 10x or a heap that tracks corpus size.\n"
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH/SOAK.md"),
      md.toString)
    println("wrote BENCH/SOAK.md")
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
  }
}
