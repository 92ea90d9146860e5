package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The delivery cube of a frame as it is written: per (sink, bucket, format)
  * the row count `n`, the distinct conversations `n_conv` and the turn
  * bounds `min_turn`/`max_turn`, as one array of structs.
  *
  * Built for the pipeline's sink write, where it rides the write job as an
  * observed metric (the reference counts a delivery when the sink accepts
  * the write, file.rs:129-134, and never re-reads what it shipped). Two
  * facts of that write make the counts exact without a distinct buffer:
  *
  *   - a task's rows arrive sorted by (sink, bucket, conv_id, turn_idx), so
  *     a conversation is one run of rows within its (sink, bucket) and
  *     `n_conv` counts runs: a cell counts a conversation the first time a
  *     row of it lands in that cell;
  *   - the write key keeps each conversation's rows of a sink in one task,
  *     so the per-task counts of the tasks sum to the exact figure.
  *
  * Fed rows in another order, `n`, `min_turn` and `max_turn` stay exact and
  * `n_conv` over-counts. The buffer works on the rows' own `UTF8String`s and
  * copies a string only when it keeps it: a new (sink, bucket) or format
  * key, or the conversation the current run belongs to.
  */
case class DeliveryCube(sink: Expression, bucket: Expression, format: Expression,
    convId: Expression, turnIdx: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[DeliveryCube.Cube] with ImplicitCastInputTypes {
  import DeliveryCube._

  override def children: Seq[Expression] = Seq(sink, bucket, format, convId, turnIdx)

  // any integral turn_idx (a json input infers bigint) is read as a long
  override def inputTypes: Seq[DataType] =
    Seq(StringType, IntegerType, StringType, StringType, LongType)

  override def nullable: Boolean = false

  override def dataType: DataType = Type

  override def prettyName: String = DeliveryCube.InternalName

  override def createAggregationBuffer(): Cube = new Cube

  override def update(cube: Cube, row: InternalRow): Cube = {
    val g = cube.group(sink.eval(row).asInstanceOf[UTF8String],
      bucket.eval(row).asInstanceOf[Int])
    val conv = convId.eval(row).asInstanceOf[UTF8String]
    if (conv != null && conv != g.conv) {
      g.conv = conv.clone()
      g.runs += 1
    }
    val c = g.cell(format.eval(row).asInstanceOf[UTF8String])
    c.n += 1
    if (conv != null && c.run != g.runs) {
      c.nConv += 1
      c.run = g.runs
    }
    val turn = turnIdx.eval(row)
    if (turn != null) {
      val t = turn.asInstanceOf[Long]
      if (t < c.minTurn) c.minTurn = t
      if (t > c.maxTurn) c.maxTurn = t
    }
    cube
  }

  override def merge(into: Cube, other: Cube): Cube = {
    other.groups.valuesIterator.foreach { g =>
      val mine = into.group(g.sink, g.bucket)
      g.cells.foreach(c => mine.cell(c.format).add(c))
    }
    into
  }

  override def eval(cube: Cube): Any = {
    val rows = for {
      g <- cube.groups.valuesIterator
      c <- g.cells.iterator
    } yield InternalRow(g.sink, g.bucket, c.format, c.n, c.nConv,
      if (c.hasTurn) c.minTurn else null, if (c.hasTurn) c.maxTurn else null)
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(cube: Cube): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeInt(cube.groups.size)
    cube.groups.valuesIterator.foreach { g =>
      writeString(out, g.sink)
      out.writeInt(g.bucket)
      out.writeInt(g.cells.length)
      g.cells.foreach { c =>
        writeString(out, c.format)
        out.writeLong(c.n)
        out.writeLong(c.nConv)
        out.writeLong(c.minTurn)
        out.writeLong(c.maxTurn)
      }
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Cube = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val cube = new Cube
    (0 until in.readInt()).foreach { _ =>
      val g = cube.group(readString(in), in.readInt())
      (0 until in.readInt()).foreach { _ =>
        val c = g.cell(readString(in))
        c.n = in.readLong()
        c.nConv = in.readLong()
        c.minTurn = in.readLong()
        c.maxTurn = in.readLong()
      }
    }
    cube
  }

  override def withNewMutableAggBufferOffset(offset: Int): DeliveryCube =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): DeliveryCube =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DeliveryCube =
    copy(sink = newChildren(0), bucket = newChildren(1), format = newChildren(2),
      convId = newChildren(3), turnIdx = newChildren(4))
}

object DeliveryCube {

  /** The registry name behind [[column]]; not a query function. */
  val InternalName = "graft_internal_delivery_cube"

  /** The aggregate as a Column, for the pipeline's sink write only: its
    * `n_conv` holds only over rows that arrive in each task sorted by
    * (sink, bucket, conv_id, turn_idx), with every conversation's rows of a
    * sink in one task; in a plain GROUP BY or select it over-counts. Spark 4
    * builds a Column from a Catalyst expression only inside its own
    * packages, so the call goes through the session registry under
    * [[InternalName]] (see `GraftFunctions.ensureRegistered`).
    */
  def column(sink: Column, bucket: Column, format: Column, convId: Column,
      turnIdx: Column): Column =
    call_function(InternalName, sink, bucket, format, convId, turnIdx)

  /** One element of the result, named as the `_aggregates` columns. */
  val Type: DataType = ArrayType(StructType(Seq(
    StructField("sink", StringType), StructField("bucket", IntegerType, nullable = false),
    StructField("format", StringType), StructField("n", LongType, nullable = false),
    StructField("n_conv", LongType, nullable = false),
    StructField("min_turn", LongType), StructField("max_turn", LongType))),
    containsNull = false)

  /** Counts of one (sink, bucket, format). `run` is the group's
    * conversation run this cell last counted.
    */
  final class Cell(val format: UTF8String) {
    var n = 0L
    var nConv = 0L
    var minTurn = Long.MaxValue
    var maxTurn = Long.MinValue
    var run = 0L

    def hasTurn: Boolean = minTurn <= maxTurn

    def add(o: Cell): Unit = {
      n += o.n
      nConv += o.nConv
      minTurn = math.min(minTurn, o.minTurn)
      maxTurn = math.max(maxTurn, o.maxTurn)
    }
  }

  /** The cells of one (sink, bucket): a handful of formats, so a linear
    * scan finds a row's cell. `conv` is the conversation of the current run
    * and `runs` counts the runs seen.
    */
  final class Group(val sink: UTF8String, val bucket: Int) {
    val cells = mutable.ArrayBuffer.empty[Cell]
    var conv: UTF8String = _
    var runs = 0L

    def cell(format: UTF8String): Cell = {
      var i = 0
      while (i < cells.length) {
        val c = cells(i)
        if (c.format == format) return c
        i += 1
      }
      val c = new Cell(if (format == null) null else format.clone())
      cells += c
      c
    }
  }

  /** The aggregation buffer. Sorted input moves from one (sink, bucket) to
    * the next and never returns, so the last group answers almost every
    * row without a map lookup.
    */
  final class Cube {
    val groups = mutable.LinkedHashMap.empty[(UTF8String, Int), Group]
    private var last: Group = _

    def group(sink: UTF8String, bucket: Int): Group = {
      if (last == null || last.bucket != bucket || last.sink != sink)
        last = groups.getOrElse((sink, bucket), {
          val g = new Group(if (sink == null) null else sink.clone(), bucket)
          groups((g.sink, bucket)) = g
          g
        })
      last
    }
  }

  private def writeString(out: DataOutputStream, s: UTF8String): Unit =
    if (s == null) out.writeInt(-1)
    else {
      out.writeInt(s.numBytes())
      out.write(s.getBytes)
    }

  private def readString(in: DataInputStream): UTF8String = {
    val len = in.readInt()
    if (len < 0) null
    else {
      val b = new Array[Byte](len)
      in.readFully(b)
      UTF8String.fromBytes(b)
    }
  }
}
