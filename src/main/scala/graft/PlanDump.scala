package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dumps formatted physical plans at sf0.001 on a local[4] session, so
  * plans are comparable across changes. Paths under the context's scratch
  * root, a new random dir per run, print as `<scratch>/...`, so two runs
  * write the same text.
  *
  * With no arguments it regenerates PLANS.md, the optimizer evidence:
  * parquet filter pushdown + column pruning, broadcast joins, whole-stage
  * codegen spans, and the pipeline's single-shuffle shape.
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

    def plan(name: String): String =
      SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
        .replace(graft.state.Scratch.root, "<scratch>")

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
      "- no presentation `Sort` at any plan's root\n\n"
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
}
