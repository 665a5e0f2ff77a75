package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Distributed `lead(c, 1) OVER (ORDER BY …)` WITHOUT the unpartitioned
  * window — a [[PartitionPrefixScan]] applied to successor lookup. An
  * `ORDER BY`-only window moves the whole frame into ONE partition
  * (Spark's WindowExec warns and then does exactly that), which is fine
  * for the bounded curve frames (kaplanMeier's ≤bins rows) but a
  * row-scale funnel when the frame is a full table — q_jaro's
  * successor-name pairing over supplier was the one such site
  * engine-wide.
  *
  * Shape: a [[PartitionPrefixScan]] over the order columns. Pass 1
  * collects each non-empty partition's FIRST row's lead-column values
  * (O(#partitions) rows, deep-copied); each partition's seed is the
  * first row of the next non-empty partition. Pass 2 zips every row with
  * its in-partition successor — the last row of a partition takes the
  * seed instead, and the globally last row gets nulls, exactly SQL
  * `lead`'s contract.
  *
  * Determinism: with a total order (the order columns contain a unique
  * key) the result is bit-identical to the sequential window. With ties
  * the successor is order-dependent — but so is SQL `lead` itself; give
  * the oracle the same tie-break columns.
  */
object RangeLead {

  /** Append `__lead_<c>` (nullable, same type) for each c in `leadCols`:
    * the value of c on the next row in ascending `orderCols` order,
    * null on the globally last row. Input column set is preserved. */
  def lead1(df: DataFrame, orderCols: Seq[String],
            leadCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "RangeLead.lead1 needs an order column")
    require(leadCols.nonEmpty, "RangeLead.lead1 needs a lead column")
    val scan = PartitionPrefixScan.sorted(df, orderCols.map(col(_).asc): _*)
    val schema = scan.schema
    val leadIdx = leadCols.map(schema.fieldIndex).toArray
    val leadTypes = leadIdx.map(schema.fields(_).dataType)
    val nLead = leadIdx.length
    // lead-col values of row r; copied = safe to hold / ship, raw = valid
    // only until the iterator's next advance
    def leadVals(r: InternalRow, copied: Boolean): Array[Any] = {
      val a = new Array[Any](nLead)
      var i = 0
      while (i < nLead) {
        a(i) =
          if (r.isNullAt(leadIdx(i))) null
          else {
            val v = r.get(leadIdx(i), leadTypes(i))
            if (copied) InternalRow.copyValue(v) else v
          }
        i += 1
      }
      a
    }
    // pass 1: first row's lead-col values per partition (null when empty)
    val firsts: Array[Array[Any]] = scan.summarize { it =>
      if (it.hasNext) leadVals(it.next(), copied = true) else null
    }
    // successor handoff: partition pi's last row leads into the first row
    // of the next NON-EMPTY partition (range partitions can be empty when
    // the sampled boundaries land between sparse keys)
    val nulls: Array[Any] = Array.fill(nLead)(null)
    val handoffs = firsts.scanRight(nulls)((f, next) => if (f == null) next else f).tail
    val outSchema = StructType(schema.fields ++
      leadCols.map(c =>
        schema(schema.fieldIndex(c)).copy(name = s"__lead_$c",
          nullable = true)))
    scan.emit(handoffs, outSchema) { (handoff, it) =>
      val buf = it.buffered
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        def hasNext: Boolean = buf.hasNext
        def next(): InternalRow = {
          // copy BEFORE peeking: buf.head advances the underlying
          // iterator, overwriting the shared row buffer
          val r = buf.next().copy()
          val lead =
            if (buf.hasNext) leadVals(buf.head, copied = false)
            else handoff
          joined(r, new GenericInternalRow(lead))
        }
      }
    }
  }
}
