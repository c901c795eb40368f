package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/**
 * Bounded distinct-min-k aggregate: `bounded_min_set(x, k)` returns the k
 * SMALLEST distinct int values of the group, ascending — the bounded
 * replacement for `slice(sort_array(collect_set(x)), 1, k)`.
 *
 * Why it exists: the evidence turn-sample contract (the one evidence
 * aggregation, [[graft.stages.LinkScore.evidence]]) is "count exact, list
 * bounded" because an uncapped collect_set buffers EVERY distinct turn of
 * a mega-conversation in executor memory before the slice throws the
 * excess away — the slice caps the OUTPUT, not the aggregation state. This
 * aggregate keeps at most k+1 entries in a TreeSet at every point of the
 * partial/merge/final lifecycle, so a conversation mentioning one concept
 * 10^7 times costs the same 20-entry buffer as a small one, and map-side
 * partial aggregation ships at most k ints per group per partition.
 *
 * Result parity with the expression it replaced is exact (same k smallest
 * distinct values, same ascending order), so the o6/o10 DuckDB oracles
 * (`list_slice(list_sort(list(DISTINCT turn)), 1, k)`) are unchanged.
 * NULL inputs are ignored like collect_set's.
 */
case class BoundedMinSet(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[Int]] {

  // cap = 0 is valid (empty samples — the slice shape it replaced allowed
  // it); negative caps are config errors
  require(cap >= 0, s"bounded_min_set cap must be non-negative, got $cap")

  override def children: Seq[Expression] = Seq(child)
  // analysis-time type contract: without it a long column would pass the
  // planner and die per-task in the asInstanceOf with an opaque stage error
  // (AbstractDataType is private[sql], so the check is hand-rolled rather
  // than via ExpectsInputTypes)
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bounded_min_set needs an int column, got ${child.dataType}")
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def createAggregationBuffer(): java.util.TreeSet[Int] =
    new java.util.TreeSet[Int]()

  private def insert(buf: java.util.TreeSet[Int], v: Int): Unit = {
    if (buf.size < cap) { buf.add(v); () }
    else if (!buf.isEmpty && v < buf.last) { // cap=0 → buf stays empty
      if (buf.add(v)) buf.pollLast()
      ()
    }
  }

  override def update(buf: java.util.TreeSet[Int], input: InternalRow): java.util.TreeSet[Int] = {
    val v = child.eval(input)
    if (v != null) insert(buf, v.asInstanceOf[Int])
    buf
  }

  override def merge(b1: java.util.TreeSet[Int], b2: java.util.TreeSet[Int]): java.util.TreeSet[Int] = {
    val it = b2.iterator()
    while (it.hasNext) insert(b1, it.next())
    b1
  }

  override def eval(buf: java.util.TreeSet[Int]): Any = {
    val out = new Array[Any](buf.size)
    val it = buf.iterator() // TreeSet iterates ascending
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.size * 4)
    bb.putInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) bb.putInt(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[Int] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.TreeSet[Int]()
    var i = 0
    while (i < n) { buf.add(bb.getInt); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedMinSet =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedMinSet =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedMinSet =
    copy(child = newChildren.head)

  override def prettyName: String = "bounded_min_set"
}
