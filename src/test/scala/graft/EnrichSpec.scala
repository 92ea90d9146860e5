package graft

import org.apache.spark.sql.functions._

import graft.enrich.Enrich
import graft.functions.GraftFunctions

/** Pins the enrich-stage operator semantics against the reference:
  * insert_field/insert_ts overwrite matrix (insert_field.rs:84-86,
  * insert_ts.rs:89-91) and the logfmt transform's pop + collision-rename
  * merge (logfmt.rs:75-95).
  */
class EnrichSpec extends SparkSpec {

  private def mapOf(df: org.apache.spark.sql.DataFrame, c: String): Map[String, String] = {
    val row = df.select(col(c)).head()
    row.getMap[String, String](0).toMap
  }

  test("logfmt merge: collision renames to field.key when overwrite=false") {
    GraftFunctions.ensureRegistered(spark)
    val df = spark.range(1).select(
      map(lit("message"), lit("""a=1 b="x y""""), lit("a"), lit("keep")).as("f"))
    val out = df.select(
      Enrich.logfmtMergeField(col("f"), "message", overwrite = false).as("m"))
    assert(mapOf(out, "m") ===
      Map("a" -> "keep", "message.a" -> "1", "b" -> "x y"))
  }

  test("logfmt merge: overwrite=true replaces colliding keys") {
    GraftFunctions.ensureRegistered(spark)
    val df = spark.range(1).select(
      map(lit("message"), lit("a=1 b=2"), lit("a"), lit("old")).as("f"))
    val out = df.select(
      Enrich.logfmtMergeField(col("f"), "message", overwrite = true).as("m"))
    assert(mapOf(out, "m") === Map("a" -> "1", "b" -> "2"))
  }

  test("logfmt merge: absent field leaves the event unchanged") {
    GraftFunctions.ensureRegistered(spark)
    val df = spark.range(1).select(map(lit("x"), lit("1")).as("f"))
    val out = df.select(
      Enrich.logfmtMergeField(col("f"), "message", overwrite = false).as("m"))
    assert(mapOf(out, "m") === Map("x" -> "1"))
  }

  test("a field present with a null value leaves the event unchanged") {
    GraftFunctions.ensureRegistered(spark)
    val df = spark.range(1).select(
      map(lit("message"), lit(null).cast("string"), lit("x"), lit("1")).as("f"))
    val out = df.select(
      Enrich.logfmtMergeField(col("f"), "message", overwrite = false).as("m"))
    assert(mapOf(out, "m") === Map("message" -> null, "x" -> "1"))
  }

  test("logfmt merge: renamed key overwrites a pre-existing field.key entry") {
    GraftFunctions.ensureRegistered(spark)
    val df = spark.range(1).select(
      map(lit("message"), lit("a=1"), lit("a"), lit("keep"),
        lit("message.a"), lit("stale")).as("f"))
    val out = df.select(
      Enrich.logfmtMergeField(col("f"), "message", overwrite = false).as("m"))
    // "a" collides -> renamed "message.a", which overwrites the stale entry
    assert(mapOf(out, "m") === Map("a" -> "keep", "message.a" -> "1"))
  }

  test("logfmt merge: collision check runs against the EVOLVING map") {
    GraftFunctions.ensureRegistered(spark)
    // reference semantics (logfmt.rs json.contains_key inside the insert
    // loop): "a" collides with the event key -> renamed "message.a";
    // the LITERAL parsed key "message.a" then collides with that
    // just-inserted renamed key -> renamed again to "message.message.a"
    // (single-level rename per insert), NOT last-wins on "message.a"
    val df = spark.range(1).select(
      map(lit("message"), lit("a=1 message.a=2"), lit("a"), lit("keep")).as("f"))
    val out = df.select(
      Enrich.logfmtMergeField(col("f"), "message", overwrite = false).as("m"))
    assert(mapOf(out, "m") ===
      Map("a" -> "keep", "message.a" -> "1", "message.message.a" -> "2"))
  }

  test("logfmt merge: null event map stays null") {
    GraftFunctions.ensureRegistered(spark)
    val df = spark.range(1).select(
      lit(null).cast("map<string,string>").as("f"))
    val out = df.select(
      Enrich.logfmtMergeField(col("f"), "message", overwrite = false).as("m"))
    assert(out.head().isNullAt(0))
  }

  test("logfmt merge and insertMapField projections stay in whole-stage codegen") {
    GraftFunctions.ensureRegistered(spark)
    // the compositions these replaced (map_filter / transform_keys) are
    // higher-order functions = CodegenFallback, and ONE fallback expression
    // excludes the entire operator from WholeStageCodegen (the round-2
    // parse-stage regression class); a fused plan prints `*(n) Project`
    val df = spark.range(4).select(
      map(lit("message"), concat(lit("a="), col("id")), lit("a"), lit("x")).as("f"))
    def fused(out: org.apache.spark.sql.DataFrame): Unit = {
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project"), s"projection not fused:\n$plan")
    }
    fused(df.select(
      Enrich.logfmtMergeField(col("f"), "message", overwrite = false).as("m")))
    fused(df.select(
      Enrich.logfmtMergeField(col("f"), "message", overwrite = true).as("m")))
    fused(df.select(
      Enrich.insertMapField(col("f"), "k", lit("v"), overwrite = true).as("m")))
  }

  test("insertMapField matrix matches insert_field.rs:84-86") {
    GraftFunctions.ensureRegistered(spark)
    val base = map(lit("k"), lit("v"))
    val df = spark.range(1).select(
      Enrich.insertMapField(base, "k", lit("new"), overwrite = false).as("keep"),
      Enrich.insertMapField(base, "k", lit("new"), overwrite = true).as("over"),
      Enrich.insertMapField(base, "k2", lit("new"), overwrite = false).as("fresh"))
    assert(mapOf(df, "keep") === Map("k" -> "v"))
    assert(mapOf(df, "over") === Map("k" -> "new"))
    assert(mapOf(df, "fresh") === Map("k" -> "v", "k2" -> "new"))
  }
}
