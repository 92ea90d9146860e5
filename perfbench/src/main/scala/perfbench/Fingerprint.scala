package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a query result: its row count and the sum
  * of a per-row hash over every column that holds no floating-point value.
  * Float columns are left out because their last bits depend on the order
  * in which partial sums were combined.
  */
object Fingerprint {

  private def hasFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case ArrayType(e, _) => hasFloat(e)
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  private def hashable(f: StructField): Column = f.dataType match {
    // Spark refuses to hash maps; their sorted entries are hashable
    case _: MapType => array_sort(map_entries(col(f.name)))
    case _ => col(f.name)
  }

  /** Columns the fingerprint covers, in schema order. */
  def covered(schema: StructType): Seq[StructField] =
    schema.fields.filterNot(f => hasFloat(f.dataType)).toSeq

  /** Per-row hash reduced to 40 bits, so a sum over 2^23 rows cannot overflow. */
  private def rowHash(schema: StructType): Column = {
    val cols = covered(schema).map(hashable)
    if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(1L << 40))
  }

  /** Attach the fingerprint to `df` as an observation: forcing the returned
    * frame fills `obs` with `n` and `fp`.
    */
  def observe(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("n"), coalesce(sum(rowHash(df.schema)), lit(0L)).as("fp"))

  def read(obs: Observation): (Long, Long) = {
    val m = obs.get
    (m("n").asInstanceOf[Long], m("fp").asInstanceOf[Long])
  }

  /** Fingerprint computed by a separate aggregation (for tests and set-up). */
  def of(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash(df.schema)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}
