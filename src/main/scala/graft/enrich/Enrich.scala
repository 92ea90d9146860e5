package graft.enrich

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.LookupRow

/** Enrich stage: constant-field insertion with the reference's overwrite
  * semantics (insert_field.rs:84-86, insert_ts.rs:89-91) plus the keyed
  * broadcast-lookup enrich the north rule adds on top (role/tool metadata).
  */
object Enrich {

  /** insert_field into the open-schema `fields` map (the reference's JSON
    * object). The overwrite branch is merge_maps (native, codegen'd —
    * upper side wins, which IS insert-overwrite); the previous map_filter
    * composition was a higher-order function and therefore CodegenFallback,
    * excluding any projection containing it from whole-stage codegen.
    */
  def insertMapField(fields: Column, key: String, value: Column, overwrite: Boolean): Column = {
    import graft.functions.GraftFunctions.merge_maps
    if (overwrite)
      merge_maps(fields, map(lit(key), value.cast("string")))
    else
      when(map_contains_key(fields, lit(key)), fields)
        .otherwise(map_concat(fields, map(lit(key), value.cast("string"))))
  }

  /** insert_ts with an injected run clock (insert_ts.rs:78-91; wall-clock
    * there, fixed parameter here for replay determinism). ts_type one of
    * epoch (millis), rfc2822, rfc3339 (insert_ts.rs:44-47,81-87).
    */
  def insertTs(fields: Column, key: String, runTsMillis: Long, tsType: String,
      overwrite: Boolean): Column = {
    val ts = timestamp_millis(lit(runTsMillis))
    val v: Column = tsType match {
      case "epoch"   => lit(runTsMillis).cast("string")
      case "rfc3339" => date_format(ts, "yyyy-MM-dd'T'HH:mm:ssXXX")
      case "rfc2822" => date_format(ts, "EEE, dd MMM yyyy HH:mm:ss Z")
      case other     => throw new IllegalArgumentException(
        s"Unknown ts_type '$other' (expected epoch|rfc2822|rfc3339)")
    }
    insertMapField(fields, key, v, overwrite)
  }

  /** The full logfmt TRANSFORM semantics (logfmt.rs:75-95): pop string
    * field `field` from the event map, logfmt-parse it, and merge the pairs
    * back in; on key collision with overwrite=false the incoming key is
    * renamed `"<field>.<key>"` (logfmt.rs:86-90), and a renamed key that
    * collides with a pre-existing `"<field>.<key>"` entry overwrites it
    * (serde_json insert). An absent or null field leaves the event
    * unchanged. One `logfmt_merge_field` kernel call, so the projection
    * stays in whole-stage codegen (the map_filter/transform_keys
    * composition it replaced was CodegenFallback).
    *
    * Known deviation: duplicate keys INSIDE the field value are deduped
    * last-wins by the map-typed parse before merging, whereas the
    * reference's sequential insert loop keeps the FIRST occurrence under
    * the original key and renames later duplicates — preserving that would
    * require an ordered pair list, and no shipped reference config feeds
    * duplicate-keyed logfmt through this transform.
    */
  def logfmtMergeField(fields: Column, field: String, overwrite: Boolean): Column =
    graft.functions.GraftFunctions.logfmt_merge_field(fields, field, overwrite)

  /** The default role/tool metadata lookup (FIXTURES.md §3). Tiny: always a
    * broadcast-hash join, no shuffle of the fact side.
    */
  def defaultLookup(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val roles = Seq("user" -> "human", "assistant" -> "model",
      "tool" -> "machine", "system" -> "control")
    val tools = Seq("none" -> "n/a", "bash" -> "shell", "search" -> "retrieval",
      "browser" -> "web", "code" -> "editor")
    (for ((r, rk) <- roles; (t, tc) <- tools)
      yield LookupRow(r, t, rk, tc)).toDF()
  }

  /** Broadcast left-outer lookup join: unmatched rows keep null metadata,
    * never dropped (SURVEY.md §2.6 Joins). The broadcast hint keeps the big
    * side shuffle-free at any scale; if the lookup ever outgrew the
    * broadcast threshold AQE would fall back to sort-merge.
    */
  def withLookup(df: DataFrame, lookup: DataFrame): DataFrame =
    df.join(broadcast(lookup), Seq("role", "tool"), "left_outer")
}
