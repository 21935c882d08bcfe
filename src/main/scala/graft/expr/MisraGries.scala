package graft.expr

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `mg_sketch(item, capacity)` — a Misra–Gries frequent-items summary
  * as a mergeable aggregate: at most `capacity` (item, weight) counters
  * per buffer, whatever the input size.
  *
  * Why native: this is the sketch a 1000-executor heavy-hitters rollup
  * ships between stages — each partition reduces its rows to a
  * `capacity`-entry buffer (partial aggregation), and only those tiny
  * buffers cross the exchange. The composable alternative (full
  * `groupBy(item).count`) shuffles every distinct item; at 100 TB of
  * tokens that is billions of groups for an answer that only needs the
  * few items above a frequency threshold.
  *
  * Guarantees (Misra & Gries 1982; merge rule from Agarwal et al.,
  * "Mergeable Summaries", PODS 2012 — see PAPERS.md):
  *  - every buffer holds ≤ `capacity` counters at all times;
  *  - each surviving weight is a LOWER bound on the item's true count,
  *    undercounting by at most N/(capacity+1) (N = total rows seen,
  *    across any update/merge tree — the merge subtracts the
  *    (capacity+1)-th largest weight from all counters, preserving the
  *    bound under arbitrary partitionings);
  *  - hence any item with true count > N/(capacity+1) is ALWAYS
  *    present in the final summary. Which sub-threshold items also
  *    survive (and the exact weights) depends on partitioning — the
  *    output is a candidate set with bounds, not a deterministic
  *    count; [[graft.ops.HeavyHitters.frequentItems]] adds the exact
  *    recount pass that makes the final answer deterministic.
  *
  * Semantics: null items are ignored; an empty group returns an empty
  * array. Output is `array<struct<item string, lb bigint>>` sorted by
  * (lb desc, item asc) — deterministic GIVEN the buffer contents.
  */
case class MisraGriesAgg(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]]
  with UnaryLike[Expression] {

  require(capacity >= 1, "mg_sketch: capacity >= 1")

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    ExprTypeChecks.string("mg_sketch", child.dataType)

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[UTF8String, Long],
      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      // child.eval may return a pointer into a reused row buffer — the
      // copy fn clones before the step retains it as a map key.
      MisraGries.updateStep[UTF8String](buf, v.asInstanceOf[UTF8String],
        capacity, _.clone())
    }
    buf
  }

  override def merge(b1: mutable.HashMap[UTF8String, Long],
      b2: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    b2.foreach { case (k, v) =>
      b1.update(k, b1.getOrElse(k, 0L) + v)
    }
    if (b1.size > capacity) {
      // Subtract the (capacity+1)-th largest weight from everything and
      // keep the strictly-positive survivors (≤ capacity of them). This
      // is the PODS'12 mergeable-summaries rule: it removes at most
      // N2/(capacity+1) additional weight per merged row, keeping the
      // total undercount ≤ (N1+N2)/(capacity+1).
      val weights = b1.values.toArray
      java.util.Arrays.sort(weights)
      val cut = weights(weights.length - (capacity + 1)) // (capacity+1)-th largest
      b1.filterInPlace((_, c) => c > cut)
      b1.mapValuesInPlace((_, c) => c - cut)
    }
    b1
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    val entries = buf.toArray.sortWith { case ((i1, c1), (i2, c2)) =>
      if (c1 != c2) c1 > c2 else i1.compareTo(i2) < 0
    }
    new GenericArrayData(entries.map { case (item, lb) =>
      new GenericInternalRow(Array[Any](item, lb))
    })
  }

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    var total = 4
    buf.foreach { case (k, _) => total += 4 + k.numBytes() + 8 }
    val bb = java.nio.ByteBuffer.allocate(total)
    bb.putInt(buf.size)
    buf.foreach { case (k, v) =>
      val bytes = k.getBytes
      bb.putInt(bytes.length); bb.put(bytes); bb.putLong(v)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val out = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      out.update(UTF8String.fromBytes(b), bb.getLong)
      i += 1
    }
    out
  }

  override def dataType: DataType = MisraGries.sketchType
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): MisraGriesAgg =
    copy(child = c)
  override def prettyName: String = "mg_sketch"
}

object MisraGries {
  /** One Misra–Gries update step of the aggregate: increment a
    * resident counter, insert below capacity (via `copy`, for callers
    * whose items alias reused buffers), or decrement-all on overflow (the
    * new item's implicit 1 decrements to 0 — it is not inserted;
    * zeros drop). Each decrement cancels one prior increment, so
    * total decrement work is O(N) amortized over a stream. */
  def updateStep[K](buf: mutable.HashMap[K, Long], item: K, capacity: Int,
      copy: K => K): Unit =
    buf.get(item) match {
      case Some(c) => buf.update(item, c + 1L)
      case None if buf.size < capacity => buf.update(copy(item), 1L)
      case None =>
        buf.filterInPlace((_, c) => c > 1L)
        buf.mapValuesInPlace((_, c) => c - 1L)
    }

  val sketchType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("lb", LongType, nullable = false))), containsNull = false)

  /** Misra–Gries frequent-items summary of a string column (see
    * [[MisraGriesAgg]]). */
  def mgSketch(item: Column, capacity: Int): Column =
    GraftColumnShim.column(
      MisraGriesAgg(GraftColumnShim.expression(item), capacity).toAggregateExpression())
}
