package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** `graft_simhash(h)` → the 32-bit simhash signature as a LONG, in one
  * imperative aggregate (r17, optimization guide §4 + the r16
  * verdict's simhash item).
  *
  * The declarative form ([[graft.ext.Dedup.simhash]]'s r16 shape) ran
  * [[SimhashBits]] separate `sum(CASE WHEN (h >> j) & 1 = 1 THEN 1
  * ELSE -1 END)` aggregates — a 32-column LONG aggregation buffer
  * whose update path evaluates 32 independent expression trees per
  * token row. This aggregate keeps one `Array[Long](32)` buffer per
  * doc and updates all 32 bit-sums in a tight loop per row, then
  * emits the composed signature directly (bit j set iff the ±1 sum is
  * positive — the exact formula of the old final projection, and of
  * the DuckDB twin, which is untouched).
  *
  * Semantics replicated bit-for-bit from the declarative form:
  *  - per token: bit j contributes +1 when `(h >> j) & 1 = 1`, else
  *    −1. `h` is the non-negative portable hash (< 2²⁰), so high bits
  *    contribute −1 per token, exactly as before;
  *  - a NULL hash falls into the CASE's ELSE on every bit (−1), as
  *    the old `when(...).otherwise(-1)` did — unreachable from the
  *    tokenizer (split never yields nulls) but kept identical;
  *  - integer sums: merge order cannot change any emitted bit.
  * ExprSpec asserts equality against the composed 32-sum form over
  * the documents corpus.
  */
case class SimhashAgg(
    child: Expression,
    bits: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def prettyName: String = "graft_simhash"
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(
        s"graft_simhash expects an int hash, got ${child.dataType}")

  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def createAggregationBuffer(): Array[Long] = new Array[Long](bits)

  override def update(b: Array[Long], row: InternalRow): Array[Long] = {
    val v = child.eval(row)
    if (v == null) {
      var j = 0
      while (j < bits) { b(j) -= 1L; j += 1 }
    } else {
      val h = v.asInstanceOf[Int]
      var j = 0
      while (j < bits) {
        b(j) += (((h >> j) & 1) << 1) - 1L
        j += 1
      }
    }
    b
  }

  override def merge(b: Array[Long], o: Array[Long]): Array[Long] = {
    var j = 0
    while (j < bits) { b(j) += o(j); j += 1 }
    b
  }

  override def eval(b: Array[Long]): Any = {
    var sim = 0L
    var j = 0
    while (j < bits) {
      if (b(j) > 0L) sim |= 1L << j
      j += 1
    }
    sim
  }

  override def serialize(b: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(b.length * 8)
    var j = 0
    while (j < b.length) { bb.putLong(b(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new Array[Long](bytes.length / 8)
    var j = 0
    while (j < b.length) { b(j) = bb.getLong(); j += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): SimhashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SimhashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): SimhashAgg =
    copy(child = c.head)
}
