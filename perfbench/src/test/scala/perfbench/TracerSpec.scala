package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {

  private def job(id: Int, site: String) = JobRec(id, id * 10L, id * 10L + 5, site)

  test("jobs of a pipeline run are attributed to its phases") {
    val jobs = Seq(
      job(1, "DataFrameReader.parquet\ngraft.state.ParquetFormat$.readSnapshot"),
      job(2, "graft.state.ParquetFormat$.overwritePartitions\ngraft.pipeline.Pipeline$.run"),
      job(3, "graft.state.ParquetFormat$.readSnapshot"),
      job(4, "org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)\ngraft.pipeline.Pipeline$.run"),
      job(5, "graft.state.ManifestStore.commit\nscala.concurrent.Future$.$anonfun$apply$1"))
    assert(Tracer.phases(jobs).map { case (p, j) => j.id -> p } ==
      Seq(1 -> "write", 2 -> "write", 3 -> "audit", 4 -> "audit", 5 -> "tail"))
  }

  test("the manifest read wins over the plain collect it runs") {
    assert(Tracer.phase("Dataset.collect(\ngraft.state.ManifestStore.committedPairs") ==
      Some("manifest.read"))
    assert(Tracer.phases(Seq(job(1, "no frame of ours"))).map(_._1) == Seq("other"))
  }
}
