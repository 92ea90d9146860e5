package perfbench

import java.nio.file.{Files, Paths}

import graft.functions.GraftFunctions
import graft.pipeline.{Pipeline, PipelineQueries, TranscriptGen}
import graft.state.ManifestStore

class ResumePrepSpec extends SparkSuite {

  test("copyTree copies everything but the skipped top-level entry") {
    val from = tempDir()
    Files.createDirectories(from.resolve("data/sink=a"))
    Files.write(from.resolve("data/sink=a/part-0"), Array[Byte](1, 2, 3))
    Files.createDirectories(from.resolve("_manifest"))
    Files.write(from.resolve("_manifest/part-0"), Array[Byte](4))
    val to = tempDir().resolve("out")
    ResumePrep.copyTree(from, to, skip = "_manifest")
    assert(Files.readAllBytes(to.resolve("data/sink=a/part-0")).toSeq == Seq[Byte](1, 2, 3))
    assert(!Files.exists(to.resolve("_manifest")))
  }

  test("a prepared root commits only the even buckets, and resuming it completes the table") {
    GraftFunctions.ensureRegistered(spark)
    val dir = tempDir().toString
    val input = s"$dir/input"
    TranscriptGen.transcripts(spark, 4000L).write.parquet(input)
    val cfg = PipelineQueries.e2eConfig.copy(inputPath = input)
    val finished = s"$dir/finished"
    val full = Pipeline.run(spark, cfg.copy(outputRoot = finished, runId = "finished"))

    val pairs = ResumePrep.evenPairs(spark, finished)
    assert(pairs.nonEmpty && pairs.forall(_._2 % 2 == 0))
    val root = s"$dir/resumed"
    ResumePrep.prepare(spark, finished, root, pairs, "crashed")
    val committed = new ManifestStore(spark, s"$root/_manifest").committedPairs()
    assert(committed == pairs.map(p => (p._1, p._2)).toSet)
    assert(Files.exists(Paths.get(s"$root/data")))

    val resumed = Pipeline.run(spark, cfg.copy(outputRoot = root, runId = "resumed"))
    assert(resumed.totalRows == full.totalRows - pairs.map(_._3).sum)
    val data = spark.read.parquet(s"$root/data")
    assert(data.count() == 4000L)
    assert(data.select("conv_id", "turn_idx").distinct().count() == 4000L)
  }
}
