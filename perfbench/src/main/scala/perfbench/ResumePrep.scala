package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.pipeline.Transcripts
import graft.state.ManifestStore

/** Builds the state a resumed pipeline run starts from: a finished run's
  * output in which only the even buckets are committed, as if the run had
  * died after writing everything but committing half of it.
  */
object ResumePrep {

  /** (sink, bucket, rows) of the even buckets a finished run committed. */
  def evenPairs(spark: SparkSession, finishedRoot: String): Seq[(String, Int, Long)] =
    new ManifestStore(spark, s"$finishedRoot/_manifest").read()
      .select("sink", "bucket", "rows").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .filter(_._2 % 2 == 0).sortBy(p => (p._1, p._2)).toSeq

  /** Copy `finishedRoot` to the empty `outputRoot` without its manifest, then
    * commit `pairs` through the program's manifest store.
    */
  def prepare(spark: SparkSession, finishedRoot: String, outputRoot: String,
      pairs: Seq[(String, Int, Long)], runId: String): Unit = {
    copyTree(Paths.get(finishedRoot), Paths.get(outputRoot), skip = "_manifest")
    new ManifestStore(spark, s"$outputRoot/_manifest")
      .commit(runId, pairs, 0L, Transcripts.RunTsMillis)
  }

  /** Recursive copy that leaves out the top-level entry named `skip`. */
  def copyTree(from: Path, to: Path, skip: String): Unit = {
    val stream = Files.walk(from)
    try stream.forEach { p =>
      val rel = from.relativize(p)
      if (rel.getNameCount == 0 || rel.getName(0).toString != skip) {
        val dst = to.resolve(rel.toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.copy(p, dst)
      }
    } finally stream.close()
  }
}
