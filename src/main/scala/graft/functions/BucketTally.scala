package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Rows and a summed weight per bucket, in one aggregate: a `2 × nBuckets`
  * array of longs whose first half counts the rows of each bucket and whose
  * second half sums their `weight` (a NULL weight adds 0).
  *
  * The same numbers as `nBuckets` pairs of `count_if`/`sum(if(...))`
  * columns, but each row costs one array increment instead of `2 ×
  * nBuckets` conditional evaluations, so the per-row cost does not grow
  * with the bucket count. `bucket` must be a non-NULL int in
  * `[0, nBuckets)`, as `pmod(hash(key), nBuckets)` is.
  */
case class BucketTally(
    bucket: Expression,
    weight: Expression,
    nBuckets: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]]
  with BinaryLike[Expression] {

  require(nBuckets >= 1, "bucket_tally needs at least one bucket")

  override def left: Expression = bucket
  override def right: Expression = weight
  override def prettyName: String = "bucket_tally"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](2 * nBuckets)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val b = bucket.eval(input).asInstanceOf[Int]
    buf(b) += 1
    val w = weight.eval(input)
    if (w != null) buf(nBuckets + b) += w.asInstanceOf[Number].longValue()
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val out = ByteBuffer.allocate(8 * buf.length)
    out.asLongBuffer().put(buf)
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val buf = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BucketTally =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BucketTally =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BucketTally =
    copy(bucket = l, weight = r)
}

object BucketTally {
  /** Column form: `bucket_tally(bucket, weight, nBuckets)` — row counts in
    * `[0, nBuckets)`, weight sums in `[nBuckets, 2 × nBuckets)`.
    */
  def apply(bucket: Column, weight: Column, nBuckets: Int): Column =
    EU.column(new BucketTally(EU.expression(bucket), EU.expression(weight), nBuckets)
      .toAggregateExpression())
}
