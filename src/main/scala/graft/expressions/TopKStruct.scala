package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, Expression, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.kernel.ExpressionShim.{column, expression}
import org.apache.spark.sql.types._

/** Bounded per-group top-k as a PARTIAL-AGGREGABLE aggregate — the
  * scalable form of `row_number().over(partitionBy(key)) <= k`.
  *
  * A window rank shuffles and sorts EVERY candidate row: a k-NN join
  * producing N·nprobe/nlist candidates pays the shuffle on all of
  * them, twice if the top-k is two-phase. This aggregate instead
  * keeps a ≤k bounded heap per group; Spark's ObjectHashAggregate
  * runs it map-side first, so each scan partition forwards AT MOST
  * k rows per group into the single shuffle — candidate volume never
  * crosses the wire. At 100 TB this is the difference between
  * shuffling ~the corpus per query batch and shuffling Q·k rows.
  *
  * Ordering contract: rows (structs) rank by field 0 DESC when
  * `firstDesc` (the similarity-descending convention), remaining
  * fields ASC — with a unique id as field 1 this is exactly the
  * `ORDER BY sim DESC, id` rank rule every ANN probe mirrors in SQL,
  * including NaN placement (NaN is greatest, as in SortOrder). The
  * result is the k best rows as a SORTED array (best first); callers
  * `posexplode` it to recover contiguous ranks 1..k. Determinism:
  * with a unique tie-break field the kept set and its order are
  * identical under ANY partitioning or merge order.
  */
case class TopKStruct(
    child: Expression,
    k: Int,
    firstDesc: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[InternalRow]]
  with UnaryLike[Expression] {

  private def structType: StructType = child.dataType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StructType if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case _: StructType => TypeCheckResult.TypeCheckFailure(
      s"top_k_struct expects k >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_k_struct expects a struct input, got ${other.simpleString}")
  }

  /** head = the WORST kept row (greatest under the rank ordering), so
    * eviction is O(log k). */
  @transient private lazy val ord: Ordering[InternalRow] = {
    val sortOrders = structType.fields.toIndexedSeq.zipWithIndex.map {
      case (f, i) =>
        SortOrder(BoundReference(i, f.dataType, f.nullable),
          if (i == 0 && firstDesc) Descending else Ascending)
    }
    new InterpretedOrdering(sortOrders)
  }

  override def createAggregationBuffer(): mutable.PriorityQueue[InternalRow] =
    new mutable.PriorityQueue[InternalRow]()(ord)

  private def insert(buffer: mutable.PriorityQueue[InternalRow],
                     row: InternalRow): Unit = {
    if (buffer.size < k) buffer.enqueue(row)
    else if (ord.lt(row, buffer.head)) {
      buffer.dequeue()
      buffer.enqueue(row)
    }
  }

  override def update(buffer: mutable.PriorityQueue[InternalRow],
                      input: InternalRow): mutable.PriorityQueue[InternalRow] = {
    val v = child.eval(input)
    if (v != null) insert(buffer, v.asInstanceOf[InternalRow].copy())
    buffer
  }

  override def merge(buffer: mutable.PriorityQueue[InternalRow],
                     other: mutable.PriorityQueue[InternalRow]): mutable.PriorityQueue[InternalRow] = {
    other.foreach(insert(buffer, _)) // rows already owned copies
    buffer
  }

  override def eval(buffer: mutable.PriorityQueue[InternalRow]): Any =
    new GenericArrayData(
      buffer.toArray.sorted(ord).asInstanceOf[Array[Any]])

  /** One projection per task, not per serialize() call — under
    * sort-based fallback or a large partial-merge fan-in serialize
    * runs once per buffer spill, and UnsafeProjection.create compiles
    * code. */
  @transient private lazy val serProj: UnsafeProjection =
    UnsafeProjection.create(structType)

  override def serialize(buffer: mutable.PriorityQueue[InternalRow]): Array[Byte] = {
    val proj = serProj
    val out = new ByteArrayOutputStream()
    val dos = new DataOutputStream(out)
    dos.writeInt(buffer.size)
    buffer.foreach { row =>
      val bytes = proj(row).getBytes
      dos.writeInt(bytes.length)
      dos.write(bytes)
    }
    dos.flush()
    out.toByteArray
  }

  override def deserialize(storage: Array[Byte]): mutable.PriorityQueue[InternalRow] = {
    val dis = new DataInputStream(new ByteArrayInputStream(storage))
    val buf = createAggregationBuffer()
    val n = dis.readInt()
    var i = 0
    while (i < n) {
      val len = dis.readInt()
      val bytes = new Array[Byte](len)
      dis.readFully(bytes)
      val row = new UnsafeRow(structType.length)
      row.pointTo(bytes, len)
      buf.enqueue(row)
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(structType, containsNull = false)
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStruct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKStruct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): TopKStruct =
    copy(child = newChild)
}

object TopKStruct {
  /** The `k` best `row` structs per group, as an aggregate column. */
  def of(row: Column, k: Int, firstDesc: Boolean): Column =
    column(TopKStruct(expression(row), k, firstDesc).toAggregateExpression())
}
