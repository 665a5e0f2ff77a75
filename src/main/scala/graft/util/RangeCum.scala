package graft.util

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Distributed cumulative sums over a value-ordered frame WITHOUT an
  * unpartitioned window, for arbitrary (keys…, order, sum-columns)
  * frames, so the distinct-value cumulative family (Mann-Whitney
  * mid-ranks, conformal order statistics, ECDF sweeps) stops funneling
  * through one partition when the value column is continuous
  * (distinct ≈ n).
  *
  * Shape: a [[PartitionPrefixScan]] over (keys…, order). Pass 1 folds
  * per-(partition, key) subtotals (O(#partitions + #keys) entries — the
  * guard refuses beyond `maxDriverEntries`), the driver scans them into
  * each partition's per-key offsets, and pass 2 emits every row with its
  * running sums. Key values are copied before they outlive a row: map
  * inserts in pass 1, the current-group key in pass 2.
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

  /** Key-count ceiling for broadcast-joining the totals frame back onto
    * the cum stream: past ~1M keys a per-executor hash relation (on top
    * of the offsets broadcast of the same magnitude) stops being "tiny" —
    * callers should fall back to a shuffle join, which is slower but
    * memory-safe. Well under maxDriverEntries on purpose: the driver can
    * HOLD 4M subtotals transiently; pinning them in every executor for a
    * query's lifetime is a different budget. */
  val MaxBroadcastKeys: Long = 1L << 20

  /** Append `__cum_<c>` (running inclusive sum, double) for each c in
    * `sumCols`, ordered by `orderCol` (asc/desc) within `keys` (empty =
    * one global ordering). Exclusive prefixes derive as
    * `__cum_<c> − <c>`. Input column set is preserved. */
  def cumSum(df: DataFrame, keys: Seq[String], orderCol: String,
             sumCols: Seq[String], ascending: Boolean = true,
             maxDriverEntries: Int = 4000000): DataFrame =
    cumSumWithTotalsN(df, keys, orderCol, sumCols, ascending,
      maxDriverEntries)._1

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

  /** [[cumSum]] plus the PER-KEY GRAND TOTALS as a second (tiny, driver-
    * built) DataFrame — schema (keys…, `__tot_<c>` double per sum
    * column). The totals fall out of pass 1's per-(partition, key)
    * subtotal fold for free, so callers that need "running sum AND group
    * total" (the exact-quantile pick, ECDF normalization) get both
    * without a second cluster pass or a persist; the totals frame is
    * O(#keys) rows and broadcast-join material by construction.
    *
    * NOTE this method (like cumSum) is EAGER: pass 1 runs Spark jobs at
    * call time (sort + subtotal collect), not at first action on the
    * returned frames.
    *
    * The third element is the DISTINCT KEY COUNT (== totals row count),
    * known for free from the driver fold — callers broadcast-joining the
    * totals frame use it to fall back to a shuffle join when the key
    * cardinality makes a per-executor hash relation unreasonable. */
  def cumSumWithTotalsN(df: DataFrame, keys: Seq[String], orderCol: String,
                        sumCols: Seq[String], ascending: Boolean = true,
                        maxDriverEntries: Int = 4000000)
      : (DataFrame, DataFrame, Long) = {
    require(sumCols.nonEmpty, "RangeCum.cumSum needs at least one sum column")
    val spark = df.sparkSession
    val ocol = if (ascending) col(orderCol).asc else col(orderCol).desc
    val scan = PartitionPrefixScan.sorted(df, keys.map(col) :+ ocol: _*)
    val schema = scan.schema
    val keyIdx = keys.map(schema.fieldIndex).toArray
    val keyTypes = keyIdx.map(schema.fields(_).dataType)
    // key equality runs through Seq[Any].equals in the driver offset map:
    // Array[Byte] (BinaryType) and unordered MapData compare by identity
    // there, which would silently fragment key groups — refuse up front
    keys.zip(keyTypes).foreach { case (k, dt) => dt match {
      case BinaryType | _: MapType => throw new IllegalArgumentException(
        s"RangeCum: key column '$k' has type ${dt.simpleString} — binary/" +
          "map keys have identity-based equality in the driver offset " +
          "map and would fragment groups; cast to a value-comparable type")
      case _ => ()
    } }
    val sumIdx = sumCols.map(schema.fieldIndex).toArray
    val nSum = sumIdx.length
    val num: Array[InternalRow => Double] =
      sumIdx.map(i => numGetter(schema.fields(i).dataType, i))
    // key values WITHOUT copying — valid only until the iterator's next()
    def rawKey(r: InternalRow): Seq[Any] = {
      val a = new Array[Any](keyIdx.length)
      var i = 0
      while (i < keyIdx.length) {
        a(i) = if (r.isNullAt(keyIdx(i))) null else r.get(keyIdx(i), keyTypes(i))
        i += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(a)
    }
    def copyKey(k: Seq[Any]): Seq[Any] =
      k.map(v => if (v == null) null else InternalRow.copyValue(v))
    // pass 1: per-key subtotals of each partition, in in-partition key order
    val subtotals = scan.summarize { it =>
      val m = mutable.LinkedHashMap.empty[Seq[Any], Array[Double]]
      it.foreach { r =>
        val kRaw = rawKey(r)
        var t = m.getOrElse(kRaw, null)
        if (t == null) {
          t = new Array[Double](nSum)
          m.update(copyKey(kRaw), t)
        }
        var i = 0
        while (i < nSum) { t(i) += num(i)(r); i += 1 }
      }
      m.toArray
    }
    val nEntries = subtotals.iterator.map(_.length).sum
    require(nEntries <= maxDriverEntries,
      s"RangeCum.cumSum: $nEntries (partition, key) subtotals " +
        s"exceed maxDriverEntries=$maxDriverEntries — too many keys for " +
        s"the driver offset scan; aggregate keys first or raise the cap")
    // driver scan in range order: each partition's seed is every key's
    // running sums BEFORE it; what remains in `run` are the grand totals
    val run = mutable.LinkedHashMap.empty[Seq[Any], Array[Double]]
    val seeds: Array[Map[Seq[Any], Array[Double]]] = subtotals.map { part =>
      part.iterator.map { case (k, tot) =>
        val before = run.getOrElse(k, new Array[Double](nSum))
        run(k) = Array.tabulate(nSum)(i => before(i) + tot(i))
        k -> before
      }.toMap
    }
    val outSchema = StructType(schema.fields ++
      sumCols.map(c => StructField(s"__cum_$c", DoubleType, nullable = false)))
    // pass 2: seed each key's running sums from its offset, emit per row
    val cum = scan.emit(seeds, outSchema) { (partOffsets, it) =>
      var curKey: Seq[Any] = null
      var sums: Array[Double] = null
      val joined = new JoinedRow
      it.map { r =>
        val kRaw = rawKey(r)
        if (curKey == null || kRaw != curKey) {
          curKey = copyKey(kRaw)
          sums = partOffsets.getOrElse(curKey, new Array[Double](nSum)).clone()
        }
        val cums = new GenericInternalRow(nSum)
        var i = 0
        while (i < nSum) {
          sums(i) += num(i)(r)
          cums.update(i, sums(i))
          i += 1
        }
        joined(r, cums): InternalRow
      }
    }
    // grand totals per key: driver-built from the pass-1 fold, no cluster
    // work (keys are already internal-typed copies)
    val totSchema = StructType(keyIdx.map(schema.fields(_)) ++
      sumCols.map(c => StructField(s"__tot_$c", DoubleType, nullable = false)))
    val totRows: Seq[InternalRow] = run.iterator.map { case (k, tot) =>
      new GenericInternalRow((k ++ tot).toArray): InternalRow
    }.toSeq
    val totals = Bridge.toDF(spark,
      spark.sparkContext.parallelize(totRows, 1), totSchema)
    (cum, totals, totRows.size.toLong)
  }
}
