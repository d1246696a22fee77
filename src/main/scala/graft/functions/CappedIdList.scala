package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructType}

/** The ids of one group as bigints, or null once the group's population
  * exceeds `cap` — the bounded-buffer aggregate behind LSH candidate
  * generation (`TextDedup.candidatePairs`, `TextDedup.crossCorpusDupPairs`).
  *
  * Every input row adds its `weight` (a positive bigint) to the
  * population, a null-id row too: 1 per row counts rows, a family size per
  * representative counts the docs the family stands for. The buffer holds
  * the population and a growable `long[]` of the non-null ids. The row
  * that takes the population past `cap` drops the ids for good and the
  * buffer keeps only the count; `merge` adds the populations and
  * concatenates the id lists only while the total is at most `cap`. Each
  * id weighs at least 1, so no buffer ever holds more than `cap` ids, and
  * a partial aggregate ships at most one such buffer per group and map
  * partition: a degenerate group (boilerplate text in one LSH bucket)
  * travels as counts, never as its rows. The serialized buffer is longs:
  * the population, then the ids.
  *
  * Output: array<bigint> of the ids, in no particular order, or null when
  * the group was over the cap. Null input → counted, not listed. A null or
  * non-positive weight fails the task.
  */
case class CappedIdList(
    child: Expression,
    weight: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CappedIdList.Buffer]
    with BinaryLike[Expression] {
  import CappedIdList.Buffer

  override def left: Expression = child
  override def right: Expression = weight

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "capped_id_list"

  override def createAggregationBuffer(): Buffer = new Buffer(0L, new Array[Long](0), 0)

  override def update(b: Buffer, input: InternalRow): Buffer = {
    val w = weight.eval(input)
    if (w == null || w.asInstanceOf[Long] < 1)
      throw new IllegalArgumentException(s"$prettyName: weight must be a positive bigint, got $w")
    b.population += w.asInstanceOf[Long]
    if (b.population > cap) b.ids = null
    else {
      val id = child.eval(input)
      if (id != null) {
        reserve(b, 1)
        b.ids(b.size) = id.asInstanceOf[Long]
        b.size += 1
      }
    }
    b
  }

  override def merge(b: Buffer, other: Buffer): Buffer = {
    b.population += other.population
    if (b.population > cap) b.ids = null
    else {
      reserve(b, other.size)
      System.arraycopy(other.ids, 0, b.ids, b.size, other.size)
      b.size += other.size
    }
    b
  }

  /** Room for `n` more ids; the caller has checked the population, so
    * they fit in `cap`.
    */
  private def reserve(b: Buffer, n: Int): Unit =
    if (b.size + n > b.ids.length)
      b.ids = java.util.Arrays.copyOf(b.ids, math.min(cap, math.max(b.size + n, 2 * b.ids.length)))

  override def eval(b: Buffer): Any =
    if (b.ids == null) null
    else UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(b.ids, b.size))

  override def serialize(b: Buffer): Array[Byte] = {
    val n = if (b.ids == null) 0 else b.size
    val out = ByteBuffer.allocate(8 * (1 + n)).putLong(b.population)
    var i = 0
    while (i < n) { out.putLong(b.ids(i)); i += 1 }
    out.array()
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val in = ByteBuffer.wrap(bytes)
    val population = in.getLong
    val n = bytes.length / 8 - 1
    val ids = if (population > cap) null else Array.fill(n)(in.getLong)
    new Buffer(population, ids, n)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedIdList =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): CappedIdList =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): CappedIdList =
    copy(child = newLeft, weight = newRight)
}

object CappedIdList {

  /** Population, and the first `size` slots of `ids` (null once over the cap). */
  final class Buffer(var population: Long, var ids: Array[Long], var size: Int)

  /** Column API: the ids per group, cast to bigint, or null once the
    * weights, cast to bigint, sum past `cap`.
    */
  def apply(ids: Column, weights: Column, cap: Int): Column =
    Bridge.column(CappedIdList(Bridge.expression(ids.cast(LongType)),
      Bridge.expression(weights.cast(LongType)), cap).toAggregateExpression())
}

/** Every unordered pair of distinct ids in an array<bigint>, one row
  * (a, b) with a < b each — a per-row generator, so the pairs of a bucket
  * come from its id list without a self-join. A null or one-id array
  * yields nothing, and equal ids never pair.
  */
case class IdPairs(child: Expression) extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    new StructType().add("a", LongType, nullable = false).add("b", LongType, nullable = false)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) Iterator.empty
    else {
      val ids = arr.toLongArray()
      for {
        i <- Iterator.range(0, ids.length)
        j <- Iterator.range(i + 1, ids.length)
        if ids(i) != ids(j)
      } yield InternalRow(math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
    }
  }

  override protected def withNewChildInternal(newChild: Expression): IdPairs = copy(child = newChild)
}

object IdPairs {
  /** Column API: generates columns `a`, `b`. */
  def apply(ids: Column): Column = Bridge.column(IdPairs(Bridge.expression(ids)))
}
