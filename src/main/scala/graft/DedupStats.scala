package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.TrainingOps

/** Candidate-funnel diagnostics for the dedup queries: prints, per
  * mechanism, how many distinct pairs its candidate join generates — the
  * number that decides whether the banding survives a 1000x scale-up —
  * and, for the LSH mechanisms, how many of them pass the signature
  * prefilter into the exact verify. The counts come from the frames, joins
  * and prefilters the dedup queries themselves build
  * (`TrainingOps.docShingles`, `minhashSigs`/`minhashCandidates`/
  * `minhashPrefiltered`, their simhash twins, `explodedIndex`), so they
  * cannot drift from them.
  *
  * Usage: `sbt "runMain graft.DedupStats [sfDir]"` (default sf0.1).
  */
object DedupStats {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dsh = TrainingOps.docShingles(spark, dir)
    val nDocs = dsh.count()
    def report(label: String, pairs: DataFrame, note: String = "",
        verify: Option[DataFrame] = None): Unit = {
      val n = pairs.select("ia", "ib").distinct().count()
      val v = verify.fold("")(p => f" verify=${p.count()}%,d")
      println(f"$label%-10s candidates=$n%,d$v " +
        f"(${n * 2.0 / (nDocs * (nDocs - 1))}%.2e of all pairs$note)")
    }

    // minhash: 16 bands x 4 rows, exact band-key join, >=42/64 prefilter
    val mh = TrainingOps.minhashSigs(dsh)
    report("minhash", TrainingOps.minhashCandidates(mh),
      verify = Some(TrainingOps.minhashPrefiltered(mh)))

    // simhash: 36 bands x 16 bits, hamming<=1 probes, <=120/576 prefilter
    val sh = TrainingOps.simhashSigs(dsh)
    report("simhash", TrainingOps.simhashCandidates(sh),
      verify = Some(TrainingOps.simhashPrefiltered(sh)))

    // ngram: co-shingle pairs off the uncapped inverted index
    val ex = TrainingOps.explodedIndex(dsh)
    report("ngram", ex.select(col("doc_id").as("ia"), col("s"))
      .join(ex.select(col("doc_id").as("ib"), col("s")), Seq("s"))
      .filter(col("ia") < col("ib")),
      s"; co-shingle pairs, cap=${TrainingOps.ShingleFreqCap} not applied")

    TrainingOps.releaseCaches(spark, dir)
    spark.stop()
  }
}
