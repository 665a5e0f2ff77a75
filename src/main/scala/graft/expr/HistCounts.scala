package graft.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.agg.CountHist

/** [[graft.agg.CountHist]]'s equal-width histogram sketch as a custom
  * mergeable TypedImperativeAggregate — the AGGREGATE face of the batch
  * `sketchCol` treeAggregate: the same Sketch state (per-cell counts +
  * below/above tallies, pure addition, exact under any merge order), but
  * usable anywhere Spark accepts an aggregate expression. That buys two
  * shapes treeAggregate can't express:
  *
  *  - per-GROUP sketches in ONE hash aggregate (`groupBy(g).agg(...)`) —
  *    partial-aggregates map-side, so a boilerplate group with 10⁶ rows
  *    combines to one bins-sized array before it shuffles;
  *  - STREAMING windowed sketches: the buffer lives in the state store
  *    and merges across micro-batches, so per-window approximate
  *    quantiles come from bounded state (bins+2 longs per open window)
  *    — GK (the in-query approx-percentile tier) is not mergeable and
  *    cannot run incrementally.
  *
  * Output: struct<below: long, counts: array<long>, above: long> — the
  * raw counter table, bit-replayable by an external engine (the
  * q_hist_group contract; same cell arithmetic as q_hist_sketch).
  * Quantile interpolation over the struct is
  * [[graft.agg.CountHist.quantilesOf]].
  */
case class HistCounts(
    child: Expression,
    lo: Double,
    hi: Double,
    bins: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CountHist.Sketch]
  with UnaryLike[Expression] {

  override def prettyName: String = "hist_counts"
  override def dataType: DataType = StructType(Seq(
    StructField("below", LongType, nullable = false),
    StructField("counts", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("above", LongType, nullable = false)))
  override def nullable: Boolean = false

  override def createAggregationBuffer(): CountHist.Sketch =
    new CountHist.Sketch(lo, hi, bins)

  override def update(buf: CountHist.Sketch,
                      input: InternalRow): CountHist.Sketch = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: CountHist.Sketch,
                     other: CountHist.Sketch): CountHist.Sketch =
    buf.merge(other)

  override def eval(buf: CountHist.Sketch): Any =
    InternalRow(buf.below,
      new GenericArrayData(buf.counts.map(c => c: Any)), buf.above)

  override def serialize(buf: CountHist.Sketch): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 + 4 + 8 + 8 + 8 * buf.bins)
    bb.putDouble(buf.lo).putDouble(buf.hi).putInt(buf.bins)
    bb.putLong(buf.below).putLong(buf.above)
    var i = 0
    while (i < buf.bins) { bb.putLong(buf.counts(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CountHist.Sketch = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new CountHist.Sketch(bb.getDouble, bb.getDouble, bb.getInt)
    buf.below = bb.getLong
    buf.above = bb.getLong
    var i = 0
    while (i < buf.bins) { buf.counts(i) = bb.getLong; i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): HistCounts =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HistCounts =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): HistCounts =
    copy(child = newChild)
}

object HistCounts {
  /** Column API: equal-width histogram sketch of `c` over [lo, hi] with
    * `bins` cells. Nulls are skipped; non-double inputs are cast. */
  def of(c: Column, lo: Double, hi: Double, bins: Int): Column = {
    require(bins > 0, s"hist_counts needs bins > 0, got $bins")
    require(lo < hi, s"hist_counts needs lo < hi, got [$lo, $hi]")
    // NaN → null here so update() skips it (NaN fails both range
    // comparisons and binOf would floor it into cell 0) — mirrors
    // sketchCol's isnan filter
    val cd = c.cast("double")
    val clean = org.apache.spark.sql.functions.when(
      org.apache.spark.sql.functions.isnan(cd), null).otherwise(cd)
    Bridge.column(
      HistCounts(Bridge.expression(clean), lo, hi, bins)
        .toAggregateExpression())
  }
}
