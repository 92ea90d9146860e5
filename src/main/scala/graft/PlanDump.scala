package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.debug.codegenStringSeq

/** Dumps formatted physical plans at sf0.001 on a local[4] session, so
  * plans are comparable across changes. Paths under the context's scratch
  * root, a new random dir per run, print as `<scratch>/...`, so two runs
  * write the same text.
  *
  * With no arguments it regenerates PLANS.md, the optimizer evidence:
  * parquet filter pushdown + column pruning, broadcast joins, whole-stage
  * codegen spans, the pipeline's single-shuffle shape, and each plan's
  * largest generated method.
  *
  * With `<outDir> <tag> <query...>` it writes each named query's plan to
  * `<outDir>/<query>_<tag>.txt` (the before/after snapshots under plans/).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"

    val noAqe = withoutAqe(spark)

    def plan(name: String): String =
      SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
        .replace(graft.state.Scratch.root, "<scratch>") +
        "\n\nLargest generated method (AQE off): " +
        generatedMethodBytes(SparkEntry.queries(name)(noAqe, dir)).maxOption
          .fold("no whole-stage codegen")(b => s"$b bytes")

    if (args.isEmpty) writePlansMd(plan)
    else {
      val outDir = args(0); val tag = args(1)
      Files.createDirectories(Paths.get(outDir))
      args.drop(2).foreach { n =>
        Files.writeString(Paths.get(outDir, s"${n}_$tag.txt"), plan(n) + "\n")
        println(s"wrote $outDir/${n}_$tag.txt")
      }
    }
    spark.stop()
  }

  private def writePlansMd(plan: String => String): Unit = {
    val out = new StringBuilder
    out ++= "# PLANS.md — optimizer evidence (generated by graft.PlanDump at sf0.001)\n\n"
    out ++= "What to look for:\n" +
      "- `PushedFilters` + pruned `ReadSchema` on the parquet scans\n" +
      "- `BroadcastHashJoin` on every dimension/lookup join (fact side never shuffled)\n" +
      "- wide `WholeStageCodegen` spans over the parse stage (no UDF breaks)\n" +
      "- exactly one `Exchange` in the pipeline transform (the salted fan-out)\n" +
      "- no presentation `Sort` at any plan's root\n" +
      "- no generated method over 8,000 bytes: HotSpot interprets any larger\n" +
      "  method (`HugeMethodLimit`), and whole-stage codegen does not split one\n\n"
    Seq("q_agg_pricing", "q_join_broadcast", "pipe_e2e_counts",
      "dedup_minhash", "text_keywords", "embed_quantize",
      "q_histogram", "q_join_salted", "q_zorder", "dedup_substring",
      "q_heavy_hitters", "q_cdc_upsert", "text_lm_score", "q_funnel",
      "q_join_bucketed", "q_retention", "q_alerts", "text_bpe_apply",
      "q_scd2", "q_percentiles", "dedup_simhash", "pipe_syslog_parse")
      .foreach(n => out ++= s"## $n\n\n```\n" + plan(n) + "\n```\n")
    Files.writeString(Paths.get("PLANS.md"), out.toString)
    println(s"wrote PLANS.md (${out.length} chars)")
  }

  /** A child session without adaptive execution, so a physical plan is
    * final (and its whole-stage-codegen subtrees known) before it runs.
    */
  def withoutAqe(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Bytes of bytecode in the largest generated method of each
    * WholeStageCodegen subtree of `df`'s physical plan (Spark's
    * `debug.codegenStringSeq`, which compiles each subtree's source).
    * HotSpot never JIT-compiles a method over 8,000 bytes.
    */
  def generatedMethodBytes(df: DataFrame): Seq[Int] =
    codegenStringSeq(df.queryExecution.executedPlan).map(_._3.maxMethodCodeSize)
}
