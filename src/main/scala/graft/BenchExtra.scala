package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round diagnostic (guide §1): the query-suite part of
  * [[Bench]] under the SAME session shape (local[$SPARK_GRAFT_CPUS],
  * shuffle.partitions = cpus, AQE on, 4 MB input bins), WITHOUT the
  * ~30-minute scaling harness — so per-query before/after numbers are
  * comparable to the driver's BENCH_r*.json without paying a full bench per
  * iteration. Bench.scala itself stays frozen; this main only adds
  * measurement. Optional args: query-name substrings to restrict the sweep.
  * Prints one JSON line {"queries": {...}, "queries_cold": {...}}.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-benchextra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val wanted = args.toSeq
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.isEmpty || wanted.exists(n.contains))
    def timeQuery(name: String): Double = {
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, sfDir).count() }
      catch { case e: Throwable => System.err.println(s"[bx] $name FAILED: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    ScaleBench.awaitQuiet(60000, 2.5)
    val cold = names.map(n => n -> timeQuery(n))
    val coldByName = cold.toMap
    val warm = names.map { n =>
      val t = timeQuery(n)
      val t2 = if (t > coldByName(n) * 1.2 && t > 0.5) {
        val r = timeQuery(n)
        System.err.println(f"[bx] outlier rerun $n: $t%.3f -> $r%.3f")
        math.min(t, r)
      } else t
      n -> t2
    }
    graft.ops.TrainingOps.releaseCaches(spark, sfDir)
    def js(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val json = s"""{"queries":${js(warm)},"queries_cold":${js(cold)},""" +
      s""""total":${f"${warm.map(_._2).sum}%.3f"},""" +
      s""""cold_total":${f"${cold.map(_._2).sum}%.3f"},"sf":"$sfDir"}"""
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("BENCH"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH/last_benchextra.json"), json + "\n")
    spark.sparkContext.setLogLevel("OFF")
    println(json)
    spark.stop()
  }
}
