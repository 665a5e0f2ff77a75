package graft.util

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed cumulative sums over a value-ordered frame WITHOUT an
  * unpartitioned window, for arbitrary (keys…, order, sum-columns)
  * frames, so the distinct-value cumulative family (Mann-Whitney
  * mid-ranks, conformal order statistics, ECDF sweeps) stops funneling
  * through one partition when the value column is continuous
  * (distinct ≈ n).
  *
  * Shape: a [[PartitionPrefixScan]] over (keys…, order). Pass 1
  * ([[keyedSums]], shared with the exact-quantile pick in
  * `graft.agg.SortedQuantiles`) folds per-(partition, key) subtotals —
  * O(#partitions + #keys) entries, the guard refuses beyond
  * `maxDriverEntries` ([[MaxDriverEntries]] unless set) — and the
  * driver scans them into each partition's per-key offsets. Pass 2
  * emits every row with its running sums. Key values are copied before
  * they outlive a row: map inserts in pass 1, the current-group key in
  * pass 2.
  *
  * EAGER: pass 1 runs Spark jobs at call time (range sample + subtotal
  * collect); the returned frame re-runs only pass 2 per action.
  *
  * Determinism contract: each emitted cum equals the sequential
  * in-order sum ONLY when the summed columns are integer-valued
  * (counts) — integer doubles add exactly in any association, so the
  * offset+scan chain is bit-identical to a single sequential window.
  * For non-integer columns the association differs across partition
  * boundaries; callers comparing such sums against a sequential oracle
  * replay must keep the sequential form (see kaplanMeier's bounded
  * windows) or accept ulp drift.
  */
object RangeCum {

  /** Default cap on driver-held entries: (partition, key) subtotals
    * here, (group, position) picks in `graft.agg.SortedQuantiles`. */
  private[graft] val MaxDriverEntries = 4000000

  /** Append `__cum_<c>` (running inclusive sum, double) for each c in
    * `sumCols`, ordered by `orderCol` (asc/desc) within `keys` (empty =
    * one global ordering). Exclusive prefixes derive as
    * `__cum_<c> − <c>`. Input column set is preserved. */
  def cumSum(df: DataFrame, keys: Seq[String], orderCol: String,
             sumCols: Seq[String], ascending: Boolean = true,
             maxDriverEntries: Int = MaxDriverEntries): DataFrame = {
    require(sumCols.nonEmpty, "RangeCum.cumSum needs at least one sum column")
    val ocol = if (ascending) col(orderCol).asc else col(orderCol).desc
    val scan = PartitionPrefixScan.sorted(df, keys.map(col) :+ ocol: _*)
    val sums = keyedSums(scan, keys, sumCols, maxDriverEntries)
    val (key, num, nSum) = (sums.key, sums.num, sumCols.length)
    val outSchema = StructType(scan.schema.fields ++
      sumCols.map(c => StructField(s"__cum_$c", DoubleType, nullable = false)))
    // pass 2: seed each key's running sums from its offset, emit per row
    scan.emit(sums.offsets, outSchema) { (partOffsets, it) =>
      var curKey: Seq[Any] = null
      var run: Array[Double] = null
      val joined = new JoinedRow
      it.map { r =>
        val kRaw = key.raw(r)
        if (curKey == null || kRaw != curKey) {
          curKey = key.copy(kRaw)
          run = partOffsets.getOrElse(curKey, new Array[Double](nSum)).clone()
        }
        val cums = new GenericInternalRow(nSum)
        var i = 0
        while (i < nSum) {
          run(i) += num(i)(r)
          cums.update(i, run(i))
          i += 1
        }
        joined(r, cums): InternalRow
      }
    }
  }

  /** The (keys…) group of a row as a `Seq` of internal values. Key
    * equality runs through `Seq[Any].equals`, so binary and map keys
    * (identity equality there) are refused at construction. */
  private[graft] final class GroupKey(schema: StructType, keys: Seq[String])
      extends Serializable {
    private val idx = keys.map(schema.fieldIndex).toArray
    private val types = idx.map(schema.fields(_).dataType)
    keys.zip(types).foreach { case (k, dt) => dt match {
      case BinaryType | _: MapType => throw new IllegalArgumentException(
        s"RangeCum: key column '$k' has type ${dt.simpleString} — binary/" +
          "map keys have identity-based equality in the driver offset " +
          "map and would fragment groups; cast to a value-comparable type")
      case _ => ()
    } }

    /** Key values WITHOUT copying — valid only until the iterator's next(). */
    def raw(r: InternalRow): Seq[Any] = {
      val a = new Array[Any](idx.length)
      var i = 0
      while (i < idx.length) {
        a(i) = if (r.isNullAt(idx(i))) null else r.get(idx(i), types(i))
        i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    }

    def copy(k: Seq[Any]): Seq[Any] =
      k.map(v => if (v == null) null else InternalRow.copyValue(v))
  }

  /** Pass 1 of a keyed prefix scan ([[keyedSums]]): per-key sums of the
    * sum columns (null counts as 0). `offsets(pi)` holds every key's
    * sums BEFORE partition `pi` (only keys present in it); `totals` holds
    * each key's grand sums, in scan order. */
  private[graft] final case class KeyedSums(
      key: GroupKey,
      num: Array[InternalRow => Double],
      offsets: Array[Map[Seq[Any], Array[Double]]],
      totals: mutable.LinkedHashMap[Seq[Any], Array[Double]])

  private[graft] def keyedSums(scan: PartitionPrefixScan, keys: Seq[String],
                               sumCols: Seq[String],
                               maxDriverEntries: Int): KeyedSums = {
    val schema = scan.schema
    val key = new GroupKey(schema, keys)
    val num = sumCols.map { c =>
      val i = schema.fieldIndex(c)
      numGetter(schema.fields(i).dataType, i)
    }.toArray
    val nSum = num.length
    // per-key subtotals of each partition, in in-partition key order
    val subtotals = scan.summarize { it =>
      val m = mutable.LinkedHashMap.empty[Seq[Any], Array[Double]]
      it.foreach { r =>
        val kRaw = key.raw(r)
        var t = m.getOrElse(kRaw, null)
        if (t == null) {
          t = new Array[Double](nSum)
          m.update(key.copy(kRaw), t)
        }
        var i = 0
        while (i < nSum) { t(i) += num(i)(r); i += 1 }
      }
      m.toArray
    }
    val nEntries = subtotals.iterator.map(_.length).sum
    require(nEntries <= maxDriverEntries,
      s"RangeCum: $nEntries (partition, key) subtotals exceed " +
        s"maxDriverEntries=$maxDriverEntries — too many keys for the " +
        "driver offset scan; aggregate keys first")
    // driver scan in range order: each partition's offsets are every
    // key's running sums BEFORE it; what remains in `run` are the totals
    val run = mutable.LinkedHashMap.empty[Seq[Any], Array[Double]]
    val offsets = subtotals.map { part =>
      part.iterator.map { case (k, tot) =>
        val before = run.getOrElse(k, new Array[Double](nSum))
        run(k) = Array.tabulate(nSum)(i => before(i) + tot(i))
        k -> before
      }.toMap
    }
    KeyedSums(key, num, offsets, run)
  }

  /** Null-safe double read of sum column `i` (null counts as 0). */
  private def numGetter(dt: DataType, i: Int): InternalRow => Double = {
    val get: InternalRow => Double = dt match {
      case DoubleType    => r => r.getDouble(i)
      case FloatType     => r => r.getFloat(i).toDouble
      case IntegerType   => r => r.getInt(i).toDouble
      case LongType      => r => r.getLong(i).toDouble
      case ShortType     => r => r.getShort(i).toDouble
      case ByteType      => r => r.getByte(i).toDouble
      case BooleanType   => r => if (r.getBoolean(i)) 1.0 else 0.0
      case d: DecimalType =>
        r => r.getDecimal(i, d.precision, d.scale).toDouble
      case other => throw new IllegalArgumentException(
        s"RangeCum: non-numeric type $other in sum column")
    }
    r => if (r.isNullAt(i)) 0.0 else get(r)
  }
}
