package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-(sink, bucket) progress manifest — the reference's core correctness
  * invariant ("offset committed only after durable write",
  * log-ship/src/plugins/file.rs:129-134 + the resume test file.rs:738-813)
  * lifted from per-row byte offsets to per-partition commits:
  *
  *   - data for a bucket is written with DYNAMIC partition overwrite, so a
  *     rerun of an uncommitted bucket replaces (never duplicates) its rows;
  *   - the manifest row for (run tag, sink, bucket) is appended strictly
  *     AFTER the data write returns;
  *   - a rerun anti-joins the manifest and processes only missing buckets.
  *
  * Backed by parquet behind a narrow seam (read snapshot / append): the
  * production binding is an Iceberg table with the same three operations —
  * no Iceberg runtime jar exists in this offline sandbox (SURVEY.md §7.1.7).
  */
final class ManifestStore(spark: SparkSession, path: String,
    format: TableFormat = ParquetFormat) {

  private val schema = "run_id string, sink string, bucket int, rows long, wall_ms long, committed_at long"

  def read(): DataFrame = format.readSnapshot(spark, path, schema)

  /** All durably committed (sink, bucket) pairs. The manifest is tiny
    * (O(sinks × buckets) rows), so collecting to the driver is safe at any
    * data scale — it never grows with row count.
    */
  def committedPairs(): Set[(String, Int)] =
    if (!format.exists(spark, path)) Set.empty
    else read().select("sink", "bucket")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet

  /** Append commit rows for the (sink, bucket) pairs just written (one
    * action, strictly after the sink write has returned = data durable).
    */
  def commit(runId: String, pairs: Seq[(String, Int, Long)], wallMs: Long,
      committedAt: Long): Unit = {
    import spark.implicits._
    format.append(
      pairs.toDF("sink", "bucket", "rows")
        .select(lit(runId).as("run_id"), col("sink"), col("bucket"),
          col("rows"), lit(wallMs).as("wall_ms"), lit(committedAt).as("committed_at"))
        .coalesce(1),
      path)
  }
}
