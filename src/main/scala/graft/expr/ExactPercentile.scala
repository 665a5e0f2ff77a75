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

/** Growable primitive double buffer — the aggregation state. */
final class DoubleBuf(var arr: Array[Double], var n: Int) {
  def this() = this(new Array[Double](64), 0)
  def add(v: Double): Unit = {
    if (n == arr.length) {
      val bigger = new Array[Double](arr.length * 2)
      System.arraycopy(arr, 0, bigger, 0, n)
      arr = bigger
    }
    arr(n) = v
    n += 1
  }
  def merge(o: DoubleBuf): Unit = {
    if (n + o.n > arr.length) {
      val bigger = new Array[Double](math.max(arr.length * 2, n + o.n))
      System.arraycopy(arr, 0, bigger, 0, n)
      arr = bigger
    }
    System.arraycopy(o.arr, 0, arr, n, o.n)
    n += o.n
  }
}

/** Exact interpolated percentile as a custom TypedImperativeAggregate.
  *
  * Spark's built-in `percentile` buffers values in a boxed
  * OpenHashMap[AnyRef, Long] — measured ~3 s for one column over 600 k
  * doubles. This implementation keeps a PRIMITIVE growable double array
  * per group (8 bytes/value, no boxing), merges by arraycopy, and sorts
  * once at eval — ~10× less overhead for mostly-distinct numeric columns.
  *
  * Interpolation matches Spark's Percentile (and DuckDB quantile_cont):
  * pos = p·(n−1); result = v[⌊pos⌋] + (v[⌈pos⌉] − v[⌊pos⌋])·(pos − ⌊pos⌋).
  *
  * Exactness costs O(n) memory per group — this is the ORACLE-PARITY path
  * for bounded groups; the 100-TB path is `approx_percentile` (mergeable
  * GK sketch), as used by the `approx` variants across the engine.
  */
case class ExactPercentile(
    child: Expression,
    percentages: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[DoubleBuf] with UnaryLike[Expression] {

  override def prettyName: String = "exact_percentile"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): DoubleBuf = new DoubleBuf()

  override def update(buf: DoubleBuf, input: InternalRow): DoubleBuf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: DoubleBuf, other: DoubleBuf): DoubleBuf = {
    buf.merge(other)
    buf
  }

  override def eval(buf: DoubleBuf): Any = {
    if (buf.n == 0) return null
    val sorted = java.util.Arrays.copyOf(buf.arr, buf.n)
    java.util.Arrays.sort(sorted)
    val out = percentages.map { p =>
      val pos = p * (buf.n - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) sorted(lo)
      else sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
    new GenericArrayData(out.toArray)
  }

  override def serialize(buf: DoubleBuf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): DoubleBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val arr = new Array[Double](math.max(n, 1))
    var i = 0
    while (i < n) { arr(i) = bb.getDouble; i += 1 }
    new DoubleBuf(arr, n)
  }

  override def withNewMutableAggBufferOffset(offset: Int): ExactPercentile =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ExactPercentile =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): ExactPercentile =
    copy(child = newChild)
}

object ExactPercentile {
  /** Column API: exact percentiles of `c` at `ps`, as array<double>. */
  def of(c: Column, ps: Seq[Double]): Column =
    Bridge.column(
      ExactPercentile(Bridge.expression(c.cast("double")), ps)
        .toAggregateExpression())
}
