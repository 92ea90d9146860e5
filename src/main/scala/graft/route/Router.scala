package graft.route

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.PipelineConfig

/** Tag-based fan-out router — the Spark form of the reference's
  * one-input-many-routes wiring (log-ship/src/main.rs:162-167,
  * config_file.rs:144-153): a single projection computes the `sink` tag,
  * and the pipeline writes the SAME parsed DataFrame once, partitioned by
  * that tag (parse once, nothing persisted).
  *
  * Malformed rows route to the quarantine sink and are counted, never
  * silently dropped (warn+drop+advance policy, file.rs:142-147 lifted to
  * quarantine-and-count per SURVEY.md §2.5 R7).
  */
object Router {

  def sinkExpr(cfg: PipelineConfig): Column = {
    val base: Column = when(col("format") === "malformed", lit(cfg.quarantineSink))
    cfg.sinks
      .foldLeft(base) { (acc, rule) => acc.when(expr(rule.predicateSql), lit(rule.name)) }
      .otherwise(lit(cfg.defaultSink))
  }

  /** Adds the `sink` column. First matching rule wins (rule order = route
    * order in the reference config).
    */
  def route(df: DataFrame, cfg: PipelineConfig): DataFrame =
    df.withColumn("sink", sinkExpr(cfg))

  /** Per-sink delivery aggregates — generalizes the reference's delivery
    * counters (file.rs:872,879-880, speed.rs:52-60): total rows per sink is
    * the primary correctness metric, broken down by parse format.
    */
  def sinkAggregates(routed: DataFrame): DataFrame =
    routed.groupBy(col("sink"), col("format"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("conv_id")).as("n_conv"),
        min(col("turn_idx")).cast("long").as("min_turn"),
        max(col("turn_idx")).cast("long").as("max_turn"))
}
