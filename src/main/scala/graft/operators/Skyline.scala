package graft.operators

import graft.util.PartitionPrefixScan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed 2-D skyline (Pareto front): the rows not dominated on a
  * pair of maximize-both criteria — quality-vs-length document
  * selection, cost-vs-coverage source picks, any "keep the efficient
  * frontier" cut. A row p is DOMINATED iff some row q has q.x ≥ p.x and
  * q.y ≥ p.y with at least one strict; duplicates of a surviving point
  * all survive (they dominate neither twin).
  *
  * Algorithm (the sort-sweep identity, distributed): reduce to distinct
  * x first — within equal x only the max-y rows can survive — then
  * sweep distinct x DESCENDING keeping groups whose max-y strictly
  * exceeds every higher-x group's max-y. The sweep is a prefix-max,
  * a [[PartitionPrefixScan]] over the distinct-x frame: pass 1 collects
  * per-partition maxima (driver computes each partition's EXCLUSIVE
  * prefix max — one tiny array), pass 2 sweeps each partition
  * independently seeded with its prefix. No single-partition window
  * anywhere; the full-row frame is touched only by one hash aggregate
  * and one semi-join of the (small) frontier frame.
  *
  * To minimize a criterion, negate it on the way in. Output: the
  * input's surviving rows, original schema.
  */
object Skyline {

  def skyline2d(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.na.drop(Seq(xCol, yCol))
    val dx = base.groupBy(col(xCol).as("__sx"))
      .agg(max(col(yCol)).as("__sy"))
    val scan = PartitionPrefixScan.sorted(dx, col("__sx").desc)
    val yGet = numGetter(scan.schema(1).dataType)
    // pass 1: per-partition max of __sy (-inf for an empty partition)
    val partMax = scan.summarize { it =>
      var m = Double.NegativeInfinity
      it.foreach { r => val y = yGet(r); if (y > m) m = y }
      m
    }
    // exclusive prefix max per partition: the best y of all STRICTLY
    // higher-x partitions (sort is descending, so all earlier ones)
    val prefix = partMax.scanLeft(Double.NegativeInfinity)(math.max)
    // pass 2: independent per-partition sweep seeded with the prefix
    val frontier = scan.emit(prefix, scan.schema) { (best0, it) =>
      var best = best0
      it.filter { r =>
        val y = yGet(r)
        val keep = y > best
        if (keep) best = y
        keep
      }
    }
    // keep every input row sitting ON the frontier (duplicates survive);
    // the frontier frame is small — AQE broadcasts it
    base.join(frontier,
      col(xCol) === col("__sx") && col(yCol) === col("__sy"), "leftsemi")
  }

  private def numGetter(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.catalyst.InternalRow => Double = {
    import org.apache.spark.sql.types._
    dt match {
      case DoubleType     => r => r.getDouble(1)
      case FloatType      => r => r.getFloat(1).toDouble
      case LongType       => r => r.getLong(1).toDouble
      case IntegerType    => r => r.getInt(1).toDouble
      case ShortType      => r => r.getShort(1).toDouble
      case ByteType       => r => r.getByte(1).toDouble
      case d: DecimalType => r => r.getDecimal(1, d.precision, d.scale).toDouble
      case other =>
        throw new IllegalArgumentException(
          s"skyline2d needs a numeric y column, got type $other")
    }
  }
}
