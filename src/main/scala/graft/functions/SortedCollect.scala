package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Expression, InterpretedOrdering, SortOrder, UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** Sort-on-serialize struct collector: a group's structs as ONE sorted
  * array, in one aggregate whose map-side partial buffers are ALREADY
  * sorted when they cross the shuffle, and whose final step
  * BALANCED-merges the queued pre-sorted runs in O(n log R).
  *
  * Work placement (optimization guide §2.3/§2.4 — shuffle fewer bytes,
  * remove exchanges): partial buffers sort in [[serialize]] (map side,
  * parallel across however many tasks hold the group's rows) and [[merge]]
  * (reduce side) only ever merges pre-sorted runs, so the payload crosses
  * ONE exchange. A pathologically long group still converges on a single
  * reducer, but its sort work stays spread across the map tasks.
  *
  * Order: the `key` field first, then the remaining fields in struct
  * order (naming the first field gives the full-struct order). Every field
  * compares ascending with nulls first — the order `array_sort` gives a
  * struct whose fields are laid out that way — so ties break exactly as
  * `array_sort(collect_list(...))` breaks them. An int leading field is
  * compared directly; the interpreted ordering runs only on ties.
  *
  * Bytes: [[update]] evaluates the child through one generated
  * `UnsafeProjection` (a null struct is skipped); rows that arrive in order
  * form a run without a sort; a run is shipped and returned as one
  * `UnsafeArrayData` block ([[SortedRunsBuf.block]]), and [[deserialize]]
  * takes zero-copy `UnsafeRow` views of that block's elements. A group that
  * sits in one partial crosses the shuffle as the block its map side built
  * and comes out of [[eval]] as that same block.
  */
case class SortedStructCollect(
    child: Expression,
    key: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SortedRunsBuf] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case st: StructType if st.fieldNames.contains(key) => TypeCheckResult.TypeCheckSuccess
    case st: StructType => TypeCheckResult.TypeCheckFailure(
      s"sorted_struct_collect key `$key` is not a field of ${st.sql}")
    case other => TypeCheckResult.TypeCheckFailure(
      s"sorted_struct_collect needs a struct input, got ${other.sql}")
  }

  override def nullable: Boolean = false
  override def dataType: DataType =
    ArrayType(child.dataType, containsNull = false)

  private def structType: StructType = child.dataType.asInstanceOf[StructType]

  // per-task-instance helpers (expressions are instantiated per task)
  @transient private lazy val order: StructOrder =
    new StructOrder(structType, structType.fieldIndex(key))
  @transient private lazy val project: UnsafeProjection = UnsafeProjection.create(Seq(child))

  override def createAggregationBuffer(): SortedRunsBuf = new SortedRunsBuf(order)

  override def update(buf: SortedRunsBuf, input: InternalRow): SortedRunsBuf = {
    val row = project(input)
    // the projection re-targets a shared buffer per call: copy() makes the
    // struct self-contained
    if (!row.isNullAt(0)) buf.append(row.getStruct(0, order.fields).copy())
    buf
  }

  // O(1): incoming runs queue up; the balanced collapse happens once, in
  // eval/serialize — NOT pairwise per merge() call, which would cost
  // O(n·R) on a group scattered over R map partials
  override def merge(buf: SortedRunsBuf, other: SortedRunsBuf): SortedRunsBuf = {
    buf.absorb(other)
    buf
  }

  override def eval(buf: SortedRunsBuf): Any = {
    val bytes = buf.block
    val arr = new UnsafeArrayData
    arr.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
    arr
  }

  // map-side sort: partials ship pre-sorted, as one array block
  override def serialize(buf: SortedRunsBuf): Array[Byte] = buf.block

  override def deserialize(bytes: Array[Byte]): SortedRunsBuf = {
    val buf = new SortedRunsBuf(order)
    buf.addBlock(bytes) // serialize() sorted it before writing
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SortedStructCollect =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SortedStructCollect =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): SortedStructCollect =
    copy(child = newChildren.head)
  override def prettyName: String = "sorted_struct_collect"
}

/** The collector's order over structs of type `st`: field number `key`
  * first, then the other fields in struct order, each ascending with nulls
  * first. An int key field compares without the interpreted ordering,
  * which then breaks only ties and nulls.
  */
final class StructOrder(st: StructType, key: Int) {
  val fields: Int = st.length
  private val intLead = if (st(key).dataType == IntegerType) key else -1
  private val full = new InterpretedOrdering(
    (key +: st.indices.filter(_ != key)).map(i =>
      SortOrder(BoundReference(i, st(i).dataType, nullable = true), Ascending)))

  def compare(a: UnsafeRow, b: UnsafeRow): Int = {
    if (intLead >= 0 && !a.isNullAt(intLead) && !b.isNullAt(intLead)) {
      val c = Integer.compare(a.getInt(intLead), b.getInt(intLead))
      if (c != 0) return c
    }
    full.compare(a, b)
  }
}

/** Run accumulator: `update` appends to a tail that stays a run while its
  * rows arrive in order (one compare per append), `merge` queues whole
  * pre-sorted runs in O(1), and `block` folds everything into ONE sorted
  * run by BALANCED pairwise merging — O(n log R) over R queued runs, never
  * the O(n·R) a sequential fold would cost on a group scattered across many
  * map partials.
  */
final class SortedRunsBuf(order: StructOrder) {
  import SortedRunsBuf.Run

  private val runs = scala.collection.mutable.ArrayDeque.empty[Run]
  private val tail = scala.collection.mutable.ArrayBuffer.empty[UnsafeRow]
  private var tailSorted = true

  def append(r: UnsafeRow): Unit = {
    if (tailSorted && tail.nonEmpty && order.compare(tail.last, r) > 0) tailSorted = false
    tail += r
  }

  /** Queue a block [[block]] wrote; its rows are read only if a merge needs them. */
  def addBlock(bytes: Array[Byte]): Unit = runs += new Run(bytes, null)

  /** Steal the other buffer's runs (plus its tail, as a run). */
  def absorb(other: SortedRunsBuf): Unit = {
    other.flushTail()
    runs ++= other.runs
    other.runs.clear()
  }

  private def flushTail(): Unit =
    if (tail.nonEmpty) {
      val arr = tail.toArray
      if (!tailSorted) java.util.Arrays.sort(arr, (a: UnsafeRow, b: UnsafeRow) => order.compare(a, b))
      runs += new Run(null, arr)
      tail.clear()
      tailSorted = true
    }

  private def mergeTwo(a: Array[UnsafeRow], b: Array[UnsafeRow]): Array[UnsafeRow] = {
    val out = new Array[UnsafeRow](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      if (order.compare(a(i), b(j)) <= 0) { out(k) = a(i); i += 1 }
      else { out(k) = b(j); j += 1 }
      k += 1
    }
    while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
    while (j < b.length) { out(k) = b(j); j += 1; k += 1 }
    out
  }

  /** The single fully-sorted run as one `UnsafeArrayData` block;
    * idempotent (the result stays queued).
    */
  def block: Array[Byte] = {
    flushTail()
    if (runs.isEmpty) return SortedRunsBuf.toBlock(Array.empty)
    // balanced fold: always merge the two FRONT runs and re-queue the
    // result at the BACK — every row participates in ~log R merges
    while (runs.length > 1) {
      val a = runs.removeHead()
      val b = runs.removeHead()
      runs += new Run(null, mergeTwo(a.rows(order.fields), b.rows(order.fields)))
    }
    runs.head.block
  }
}

object SortedRunsBuf {
  /** A sorted run: its `UnsafeArrayData` block, its rows, or both. */
  private final class Run(private var bytes: Array[Byte], private var rs: Array[UnsafeRow]) {
    def rows(fields: Int): Array[UnsafeRow] = {
      if (rs == null) {
        val arr = new UnsafeArrayData
        arr.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length)
        rs = Array.tabulate(arr.numElements)(arr.getStruct(_, fields))
      }
      rs
    }
    def block: Array[Byte] = {
      if (bytes == null) bytes = toBlock(rs)
      bytes
    }
  }

  /** Bytes of an `UnsafeArrayData` block holding `rowBytes` bytes of `n`
    * word-aligned struct elements, checked against the JVM's array limit.
    */
  private[graft] def blockSize(n: Int, rowBytes: Long): Int = {
    val total = UnsafeArrayData.calculateHeaderPortionInBytes(n.toLong) + 8L * n + rowBytes
    if (total > ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH)
      throw new IllegalStateException(s"sorted_struct_collect: a run of $n structs takes $total bytes, " +
        s"past the ${ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH}-byte array limit")
    total.toInt
  }

  /** The `UnsafeArrayData` layout: element count, null bits (none here),
    * one (offset << 32 | size) word per element, then the elements' bytes.
    */
  private def toBlock(rows: Array[UnsafeRow]): Array[Byte] = {
    var rowBytes = 0L
    rows.foreach(r => rowBytes += ByteArrayMethods.roundNumberOfBytesToNearestWord(r.getSizeInBytes))
    val bytes = new Array[Byte](blockSize(rows.length, rowBytes))
    val base = Platform.BYTE_ARRAY_OFFSET
    Platform.putLong(bytes, base, rows.length.toLong)
    val slots = UnsafeArrayData.calculateHeaderPortionInBytes(rows.length)
    var at = slots + 8 * rows.length
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      val size = r.getSizeInBytes
      r.writeToMemory(bytes, base + at)
      Platform.putLong(bytes, base + slots + 8L * i, (at.toLong << 32) | size)
      at += ByteArrayMethods.roundNumberOfBytesToNearestWord(size)
      i += 1
    }
    bytes
  }
}

object SortedStructCollect {
  /** Aggregate Column: the group's structs as one array sorted by field
    * `key`, ties broken by the other fields in struct order — with one
    * exchange and no re-sort of rows that arrive in order.
    */
  def sortedCollect(s: Column, key: String): Column =
    GraftBridge.column(SortedStructCollect(GraftBridge.expression(s), key)
      .toAggregateExpression())
}
