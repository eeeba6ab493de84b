package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native bounded member aggregate — `graft_bucket_members(member, cap)`
  * → `array<member type>`: the group's members while the group holds at
  * most `cap` rows, NULL once it holds more. The population guard of
  * every bucketed candidate generator ([[graft.operators.Dedup]]'s
  * `bucketMembers`): one keyed pass yields both the guard's verdict and
  * the members the candidate pairs are expanded from.
  *
  * State is bounded: an open buffer never holds more than `cap`
  * members, under `update` and under `merge` alike. The row that takes
  * a group past `cap` closes the buffer and drops its members, so an
  * over-cap bucket carries an empty closed buffer through the shuffle
  * instead of its population. That is the difference from
  * `collect_list`, whose buffer grows with the bucket.
  *
  * Member order in the array follows arrival and merge order, so it is
  * not deterministic; callers use the array as a set. NULL members are
  * counted toward the cap but not kept (callers pass non-null structs).
  */
case class BucketMembers(child: Expression, cap: Long,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BucketMembers.Buf] with UnaryLike[Expression] {

  override def prettyName: String = "graft_bucket_members"

  override def checkInputDataTypes(): TypeCheckResult =
    if (cap >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs cap >= 1, got $cap")

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): BucketMembers.Buf = new BucketMembers.Buf

  private def close(b: BucketMembers.Buf): BucketMembers.Buf = {
    b.closed = true
    b.items.clear()
    b
  }

  override def update(b: BucketMembers.Buf, input: InternalRow): BucketMembers.Buf =
    if (b.closed) b
    else {
      b.rows += 1
      if (b.rows > cap) close(b)
      else {
        val v = child.eval(input)
        if (v != null) b.items += InternalRow.copyValue(v)
        b
      }
    }

  override def merge(b: BucketMembers.Buf, o: BucketMembers.Buf): BucketMembers.Buf =
    if (b.closed) b
    else if (o.closed || b.rows + o.rows > cap) close(b)
    else {
      b.rows += o.rows
      b.items ++= o.items
      b
    }

  override def eval(b: BucketMembers.Buf): Any =
    if (b.closed) null else new GenericArrayData(b.items.toArray)

  // wire form: (rows, members) with members NULL for a closed buffer
  private lazy val wire = UnsafeProjection.create(
    Array[DataType](LongType, ArrayType(child.dataType, containsNull = false)))

  override def serialize(b: BucketMembers.Buf): Array[Byte] =
    wire(InternalRow(b.rows,
      if (b.closed) null else new GenericArrayData(b.items.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): BucketMembers.Buf = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val b = new BucketMembers.Buf
    b.rows = row.getLong(0)
    if (row.isNullAt(1)) b.closed = true
    // the values point into `bytes`, a fresh array per call: no copy
    else row.getArray(1).foreach(child.dataType, (_, v) => b.items += v)
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BucketMembers =
    copy(child = newChild)
}

object BucketMembers {
  /** Aggregation state: rows seen, the members kept, and whether the
    * group went over the cap (then `items` is empty for good). */
  final class Buf {
    var rows: Long = 0L
    var closed: Boolean = false
    val items: ArrayBuffer[Any] = ArrayBuffer.empty
  }
}
