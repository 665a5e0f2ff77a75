package graft.expr

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries frequency-sketch state: at most `k` (item → count)
  * entries. Counts are LOWER bounds on true frequency; any item with
  * true count > n/(k+1) (n = stream length) is guaranteed present.
  */
final class MGBuf(val k: Int) {
  val counts = new mutable.HashMap[String, Long]()

  /** Classic MG update: increment if tracked or space free, otherwise
    * decrement every counter by 1 (the new item's unit is consumed too).
    * Each overflow round costs O(k) but retires k+1 count units, so the
    * total work is O(n) amortized. */
  def add(item: String): Unit = {
    val cur = counts.getOrElse(item, -1L)
    if (cur >= 0) counts.update(item, cur + 1)
    else if (counts.size < k) counts.update(item, 1L)
    else {
      val dead = mutable.ArrayBuffer[String]()
      counts.mapValuesInPlace((_, c) => c - 1)
      counts.foreach { case (i, c) => if (c <= 0) dead += i }
      dead.foreach(counts.remove)
    }
  }

  /** Mergeable-summaries merge (Agarwal et al., TODS 2013): add counts
    * pointwise; if more than k survive, subtract the (k+1)-th largest
    * count from every entry and drop the non-positive ones. Preserves
    * the n/(k+1) error bound of the combined stream. */
  def merge(o: MGBuf): Unit = {
    o.counts.foreach { case (i, c) =>
      counts.update(i, counts.getOrElse(i, 0L) + c)
    }
    if (counts.size > k) {
      val cs = counts.values.toArray
      java.util.Arrays.sort(cs)
      val cut = cs(cs.length - k - 1) // (k+1)-th largest
      val dead = mutable.ArrayBuffer[String]()
      counts.mapValuesInPlace((_, c) => c - cut)
      counts.foreach { case (i, c) => if (c <= 0) dead += i }
      dead.foreach(counts.remove)
    }
  }
}

/** Misra–Gries heavy-hitter CANDIDATES over a string column, as a custom
  * mergeable TypedImperativeAggregate: one pass, O(k) state per partial,
  * so the shuffle carries partitions×k rows instead of the full key
  * cardinality — the 100-TB alternative to `groupBy(col).count()` when
  * only the frequent tail matters.
  *
  * Output: array<struct<item, cnt>> sorted by (cnt desc, item). `cnt` is
  * a LOWER bound (within n/(k+1) of truth); the candidate SET is merge-
  * order-dependent, so exact results require the recount pass
  * [[graft.agg.Frequency.heavyHitters]] layers on top — that composite
  * IS deterministic (candidates ⊇ every item above threshold, recount is
  * exact). Extension tier — no reference analog.
  */
case class MisraGries(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MGBuf] with UnaryLike[Expression] {

  override def prettyName: String = "misra_gries"
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("item", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): MGBuf = new MGBuf(k)

  override def update(buf: MGBuf, input: InternalRow): MGBuf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: MGBuf, other: MGBuf): MGBuf = {
    buf.merge(other)
    buf
  }

  override def eval(buf: MGBuf): Any = {
    val rows = buf.counts.toArray
      .sortBy { case (i, c) => (-c, i) }
      .map { case (i, c) =>
        InternalRow(UTF8String.fromString(i), c)
      }
    new GenericArrayData(rows.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: MGBuf): Array[Byte] = {
    val entries = buf.counts.toArray.map { case (i, c) =>
      (i.getBytes(StandardCharsets.UTF_8), c)
    }
    val bb = ByteBuffer.allocate(8 + entries.map(_._1.length + 12).sum)
    bb.putInt(buf.k)
    bb.putInt(entries.length)
    entries.foreach { case (b, c) =>
      bb.putInt(b.length); bb.put(b); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MGBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new MGBuf(bb.getInt)
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      buf.counts.update(new String(b, StandardCharsets.UTF_8), bb.getLong)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGries =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGries =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): MisraGries =
    copy(child = newChild)
}

object MisraGries {
  /** Column API: MG candidate summary of `c` with capacity `k`. */
  def of(c: Column, k: Int): Column = {
    require(k > 0, s"misra_gries needs k > 0, got $k")
    Bridge.column(
      MisraGries(Bridge.expression(c.cast("string")), k)
        .toAggregateExpression())
  }
}
