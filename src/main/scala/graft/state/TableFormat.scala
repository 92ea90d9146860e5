package graft.state

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** The narrow table-format seam promised in SURVEY.md §7.1.7: everything the
  * pipeline needs from a table store is "read the current snapshot", "append
  * rows", and "atomically replace the partitions present in a frame".
  *
  * No Iceberg runtime jar exists in this offline sandbox, so the bound
  * implementation is [[ParquetFormat]] (parquet + the pipeline's own
  * manifest, which the resume semantics need anyway). The production Iceberg
  * binding is one line per method and needs no manifest changes:
  *
  *   - readSnapshot  -> `spark.read.format("iceberg").load(table)`
  *   - append        -> `df.writeTo(table).append()`
  *   - overwritePartitions -> `df.writeTo(table).overwritePartitions()`
  *     (Iceberg's dynamic partition overwrite — same contract as the
  *     parquet `partitionOverwriteMode=dynamic` used here)
  */
trait TableFormat {

  /** Current snapshot; empty frame with `schemaDdl` if the table is absent. */
  def readSnapshot(spark: SparkSession, path: String, schemaDdl: String): DataFrame

  /** Snapshot of a table that must exist, read with `schema` when one is
    * given instead of a schema inferred from its files.
    */
  def readSnapshot(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame

  def exists(spark: SparkSession, path: String): Boolean

  def append(df: DataFrame, path: String): Unit

  /** Replace exactly the partitions present in `df` (dynamic overwrite);
    * with no partition columns, replaces the whole table.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit
}

object TableFormat {

  /** Spread a file scan across the cluster when its POPULATED splits cannot
    * fill it. A shuffle-free job is as wide as the splits that hold rows,
    * not as wide as the splits Spark plans: a parquet row group is read
    * whole by the one split holding its midpoint, so sf0.1's
    * documents.parquet (one 594 KB file, one row group) plans as 4 splits
    * and reads all its rows in one task — the tokenize+shingle and
    * 9x64-bit simhash kernels behind the dedup caches, the zlib codec of
    * pipe_lumberjack and the regex-heavy parse of pipe_e2e_counts ran
    * single-threaded on such inputs. One cheap round-robin shuffle of the
    * scan puts that work on every core.
    *
    * Populated splits are estimated from facts the read already has:
    * max(input files, input bytes / `parquet.block.size`), the second
    * term a row-group count. The shuffle is added only when that estimate
    * is below `defaultParallelism`, so an input with abundant splits (any
    * real-scale table) keeps its shuffle-free scan — at 100 TB the same
    * repartition would be a full extra shuffle. The decision depends only
    * on the files read, so repeated builds over one directory keep one
    * logical plan and CacheManager plan-dedup still matches their
    * persisted frames.
    */
  def spreadScan(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val width = s.sparkContext.defaultParallelism
    val files = df.inputFiles.length
    val bytes = df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.sizeInBytes
    }.sum
    val block = s.sessionState.newHadoopConf().getLong("parquet.block.size", 128L << 20)
    val populated = math.max(files.toLong, (bytes + block - 1) / block)
    if (populated < width) df.repartition(width) else df
  }
}

/** A file-backed table: one directory per table in the Spark data source
  * `source`, dynamic partition overwrite.
  */
class FileTableFormat(source: String) extends TableFormat {

  override def readSnapshot(spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    if (exists(spark, path)) spark.read.schema(schemaDdl).format(source).load(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(schemaDdl))

  override def readSnapshot(spark: SparkSession, path: String,
      schema: Option[StructType]): DataFrame =
    schema.fold(spark.read)(spark.read.schema).format(source).load(path)

  override def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  override def append(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).format(source).save(path)

  override def overwritePartitions(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit = {
    val w = df.write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .format(source).save(path)
  }
}

/** NDJSON (json-lines) binding of the same seam — the interop format every
  * reference sink emits (file.rs:859-871, stdio.rs:120-124,
  * tcp_socket.rs:62-70: one JSON object per line). `Pipeline.run(spark,
  * cfg, NdjsonFormat)` therefore fans out NDJSON sinks with identical
  * manifest/resume semantics; per-EVENT byte parity with the reference's
  * file sink is the `event_json` kernel ([[graft.functions.EventJson]]
  * under `KernelCall`; this binding writes the full typed envelope per
  * line, a superset). Columnar pushdown
  * is lost (text format) — parquet/Iceberg stays the default for anything
  * scanned again at scale; NDJSON is for interop boundaries.
  */
object NdjsonFormat extends FileTableFormat("json")

/** Parquet binding: directory-per-table, dynamic partition overwrite. */
object ParquetFormat extends FileTableFormat("parquet")
