package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.util.collection.OpenHashSet

/** graft's access to Spark-private API, in one place. Lives under
  * `org.apache.spark.sql` because `ExpressionUtils` (the supported
  * Column/Expression converter in Spark 4's classic API) is `private[sql]`
  * and the listener bus and `OpenHashSet` are `private[spark]` — the
  * conventional pattern for Spark extension libraries shipping custom
  * expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A long → long hash map with unboxed keys and values: Spark's
    * `OpenHashSet` specialized on `Long` holds the keys, and the values sit
    * in a parallel array that follows the set's rehashes (the layout of
    * Spark's old `PrimitiveKeyOpenHashMap`; its `OpenHashMap` specializes
    * only the values and boxes every key).
    */
  final class LongLongMap {
    private val keys = new OpenHashSet[Long](64)
    private var values = new Array[Long](keys.capacity)
    private var old: Array[Long] = _
    private val grow = (capacity: Int) => { old = values; values = new Array[Long](capacity) }
    private val move = (from: Int, to: Int) => values(to) = old(from)

    /** The value of `k`; when `k` is absent, inserts `k → v` and returns `v`. */
    def getOrElseUpdate(k: Long, v: Long): Long = {
      val pos = keys.addWithoutResize(k)
      if ((pos & OpenHashSet.NONEXISTENCE_MASK) == 0) values(pos)
      else {
        values(pos & OpenHashSet.POSITION_MASK) = v
        keys.rehashIfNeeded(k, grow, move)
        old = null
        v
      }
    }

    def update(k: Long, v: Long): Unit = {
      values(keys.addWithoutResize(k) & OpenHashSet.POSITION_MASK) = v
      keys.rehashIfNeeded(k, grow, move)
      old = null
    }

    /** Every key, in slot order. */
    def keysIterator: Iterator[Long] = new Iterator[Long] {
      private var pos = keys.nextPos(0)
      def hasNext: Boolean = pos != OpenHashSet.INVALID_POS
      def next(): Long = { val k = keys.getValue(pos); pos = keys.nextPos(pos + 1); k }
    }
  }
}
