package graft.agg

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.{PartitionPrefixScan, RangeCum}

/** Shared sort-based EXACT multi-quantile — the 100-TB replacement for
  * funneling whole groups through [[graft.expr.ExactPercentile]]'s
  * buffer-and-sort TypedImperativeAggregate (per-group state O(group
  * values): fine at gate SFs, an executor-memory wall at 60M-row groups
  * — the r12 campaign measured a single 8.5 GB hash-aggregate page).
  *
  * Plan shape:
  *
  *   1. MELT one scan of the input into a (keys…, request-id, value)
  *      stream — every requested (column, ps) list rides the same pass;
  *   2. fold to the distinct (keys…, request, value) CELL frame with
  *      counts (map-side combine: low-cardinality columns — most of a
  *      TPC-H-ish schema — collapse to tiny cell sets; genuinely
  *      continuous columns degrade to one range-sort of n rows, the
  *      q_corr_spearman cost bound);
  *   3. a [[graft.util.PartitionPrefixScan]] range-sorts the cells by
  *      value within (keys, request); pass 1 folds per-(partition,
  *      group) counts, which the driver scans into each partition's
  *      group offsets and every group's total n (RangeCum.keyedSums);
  *   4. pass 2 is a fold seeded with (offset, n) per group: each task
  *      walks its sorted cells and returns only the values covering the
  *      positions p's interpolation reads, ⌊p(n−1)⌋+1 and
  *      min(⌊p(n−1)⌋+2, n) — a value v covers position t iff
  *      cum − count < t ≤ cum;
  *   5. the driver interpolates exactly like ExactPercentile: pos =
  *      p·(n−1); frac = pos − ⌊pos⌋; frac == 0 → lo, else
  *      lo + (hi − lo)·frac — BIT-IDENTICAL (SortedQuantilesSpec pins
  *      doubleToLongBits parity against the buffering aggregate).
  *
  * Memory per task is one row plus its partition's seeds and picks; on
  * the driver it is O(#partitions + #groups) subtotals and
  * O(#groups × #ps) picks, both refused past `RangeCum.MaxDriverEntries`
  * before they are allocated. No per-group buffers anywhere.
  *
  * Output: one row per key group, one `array<double>` column per
  * request (ps order preserved) — the same shape ExactPercentile.of
  * yields inside a groupBy agg, so call sites keep their element_at
  * unpacking. Parity caveats, all spec-pinned:
  *   - a group where a request's values are ALL null gets a null array
  *     (same as ExactPercentile);
  *   - a group where EVERY request is all-null is omitted entirely
  *     (a groupBy+agg would emit it with null arrays) — in-engine
  *     callers that need the full group universe left-join from it
  *     (see Clean.calcFences);
  *   - null KEY values form groups, as in groupBy.
  *
  * EAGER: the whole computation runs at call time, five jobs per pick
  * (pinned by SortedQuantilesSpec's job budgets): the three designed
  * passes — range sample, pass 1, pass 2 — plus the two query-stage
  * jobs AQE runs for the cell fold's and the range exchange's shuffles.
  * The returned frame is a driver-local relation of O(#groups) rows:
  * `.head()` on it and broadcast joins against it run no job. The
  * range exchange's boundary sampling reads the cell frame once more
  * than its shuffle write does — a caller whose cells are expensive or
  * reused downstream should persist them BEFORE calling (calcMadFences
  * and the CacheRegistry users do); an unconditional persist here
  * measured NET-NEGATIVE for one-shot callers with near-continuous
  * columns (q_fence_cap 3.4 → 9.1 s at 100×: materializing a ~10M-cell
  * cache costs more than re-running the codegen melt+fold).
  */
object SortedQuantiles {

  /** One request: exact quantiles of `value` at `ps`, emitted as an
    * `array<double>` column named `name`. `value` may be any numeric
    * expression (it is cast to double, the ExactPercentile contract). */
  final case class Req(name: String, value: Column, ps: Seq[Double])

  def of(df: DataFrame, keys: Seq[String], reqs: Seq[Req]): DataFrame =
    ofCounts(cellsOf(df, keys, reqs), keys, reqs)

  /** The melt + cell fold alone — rows (keys…, `__qc` request index,
    * `__v` double, `__c` double count), ONE corpus scan for every
    * request. Exposed so callers that post-process cells (derive a
    * second request's cells, count ranks against a threshold) can share
    * the scan; feed the result (or a derivation) to [[ofCounts]]. */
  private[graft] def cellsOf(df: DataFrame, keys: Seq[String],
                             reqs: Seq[Req]): DataFrame = {
    require(reqs.nonEmpty, "SortedQuantiles: no requests")
    val kcols = keys.map(col)
    // 1. melt — one scan, one struct per request, explode + null filter
    val projected = df.select(kcols ++ reqs.zipWithIndex.map {
      case (r, j) => r.value.cast("double").as(s"__v_$j")
    }: _*)
    val melted = projected
      .select(kcols :+ explode(array(reqs.indices.map(j =>
        struct(lit(j).as("__qc"), col(s"__v_$j").as("__v"))): _*)).as("__s"): _*)
      .select(kcols ++ Seq(col("__s.__qc").as("__qc"), col("__s.__v").as("__v")): _*)
      .where(col("__v").isNotNull)
    // 2. distinct-cell counts (double counts: RangeCum's integer-double
    // determinism contract)
    melted.groupBy((kcols :+ col("__qc") :+ col("__v")): _*)
      .agg(count(lit(1)).cast("double").as("__c"))
  }

  /** [[of]] over a PRE-AGGREGATED cell frame — rows (keys…, `__qc` int
    * request index into `reqs`, `__v` double value, `__c` double
    * integer-valued count). Callers that can derive one request's cells
    * from another's (calcMadFences: |x − median| cell counts fold
    * straight off the value cell counts) skip re-scanning the corpus
    * entirely. Same output/parity contract as [[of]]; the frame is a
    * driver-local relation built from [[pick]]'s result. */
  private[graft] def ofCounts(cells: DataFrame, keys: Seq[String],
                              reqs: Seq[Req]): DataFrame = {
    val groups = pick(cells, keys, reqs)
    val keyFields = keys.map(cells.schema(_))
    val toScala = keyFields.map(f =>
      CatalystTypeConverters.createToScalaConverter(f.dataType))
    val schema = StructType(keyFields ++ reqs.map(r =>
      StructField(r.name, ArrayType(DoubleType, containsNull = true))))
    val rows =
      if (groups.isEmpty && keys.isEmpty) Seq(Row.fromSeq(reqs.map(_ => null)))
      else groups.map { g =>
        Row.fromSeq(g.key.zip(toScala).map { case (v, f) => f(v) } ++
          g.quantiles.map(q => if (q == null) null else q.toSeq))
      }
    cells.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** One key group's picked quantiles: its key values (internal, copied)
    * and, per request, the quantiles at that request's ps — null when
    * the request has no values in the group. */
  private[graft] final case class Group(key: Seq[Any],
                                        quantiles: Array[Array[Double]])

  /** The exact quantiles of a cell frame (the [[ofCounts]] shape), on the
    * driver: one [[Group]] per key group that has any cell, in key order.
    * Driver memory is bounded by `RangeCum.MaxDriverEntries`, checked
    * before each allocation: pass 1's (partition, group) subtotals, then
    * #groups × #positions for the picked values. */
  private[graft] def pick(cells: DataFrame, keys: Seq[String],
                          reqs: Seq[Req]): Seq[Group] = {
    require(reqs.nonEmpty, "SortedQuantiles: no requests")
    reqs.foreach { r =>
      require(r.ps.nonEmpty, s"SortedQuantiles: request ${r.name} has no ps")
      r.ps.foreach(p => require(p >= 0 && p <= 1,
        s"SortedQuantiles: p must be in [0,1], got $p (${r.name})"))
    }
    require(reqs.map(_.name).distinct.size == reqs.size,
      "SortedQuantiles: request names must be distinct")
    val reqPs = reqs.map(_.ps.toArray).toArray
    val groupKeys = keys :+ "__qc"
    val scan = PartitionPrefixScan.sorted(cells,
      groupKeys.map(col) :+ col("__v").asc: _*)
    // pass 1: per-(partition, group) counts → each partition's group
    // offsets and every group's total n
    val cap = RangeCum.MaxDriverEntries
    val sums = RangeCum.keyedSums(scan, groupKeys, Seq("__c"), cap)
    val nPositions = sums.totals.keysIterator
      .map(k => 2L * reqPs(k.last.asInstanceOf[Int]).length).sum
    require(nPositions <= cap,
      s"SortedQuantiles: $nPositions (group, position) picks exceed the " +
        s"driver cap of $cap — too many groups × ps; aggregate keys first " +
        "or request fewer ps")
    val seeds = sums.offsets.map(_.map { case (k, before) =>
      k -> ((before(0), sums.totals(k)(0))) })
    val key = sums.key
    val Seq(qcIdx, vIdx, cIdx) = Seq("__qc", "__v", "__c").map(scan.schema.fieldIndex)
    // pass 2: each task walks its sorted cells and keeps only the values
    // at its groups' covering positions, as (group, position, value)
    val picked = scan.fold(seeds) { (partSeeds, it) =>
      val out = mutable.ArrayBuffer.empty[(Seq[Any], Long, Double)]
      var cur: Seq[Any] = null
      var cum = 0.0
      var pos: Array[Long] = null
      var next = 0
      it.foreach { r =>
        val kRaw = key.raw(r)
        if (cur == null || kRaw != cur) {
          cur = key.copy(kRaw)
          val (offset, n) = partSeeds(cur)
          cum = offset
          pos = positions(reqPs(r.getInt(qcIdx)), n)
          next = 0
          while (next < pos.length && pos(next) <= cum) next += 1
        }
        cum += r.getDouble(cIdx)
        while (next < pos.length && pos(next) <= cum) {
          out += ((cur, pos(next), r.getDouble(vIdx)))
          next += 1
        }
      }
      out.toArray
    }
    val at = mutable.HashMap.empty[(Seq[Any], Long), Double]
    picked.foreach(_.foreach { case (k, t, v) => at((k, t)) = v })
    // interpolate on the driver, regrouped by key (request = last field)
    val byKey = mutable.LinkedHashMap.empty[Seq[Any], Array[Array[Double]]]
    sums.totals.foreach { case (k, tot) =>
      val j = k.last.asInstanceOf[Int]
      byKey.getOrElseUpdate(k.init, new Array[Array[Double]](reqs.length))(j) =
        reqPs(j).map(p => interpolate(p, tot(0), t => at((k, t))))
    }
    byKey.iterator.map { case (k, qs) => Group(k, qs) }.toSeq
  }

  /** The 1-based order statistics p's interpolation reads in a group of
    * `n`: ⌊p(n−1)⌋+1 and min(⌊p(n−1)⌋+2, n), over all of `ps`, sorted. */
  private def positions(ps: Array[Double], n: Double): Array[Long] =
    ps.flatMap { p =>
      val lo = math.floor(p * (n - 1)).toLong + 1
      Array(lo, math.min(lo + 1, n.toLong))
    }.distinct.sorted

  /** ExactPercentile.eval's interpolation over the 1-based order
    * statistics `at`, with the same double operations: pos = p·(n−1);
    * an integral pos is the lower statistic, else lo + (hi − lo)·frac. */
  private def interpolate(p: Double, n: Double, at: Long => Double): Double = {
    val pos = p * (n - 1)
    val fl = math.floor(pos)
    val lo = at(fl.toLong + 1)
    if (pos == fl) lo else lo + (at(fl.toLong + 2) - lo) * (pos - fl)
  }

  /** Convenience: single global (no keys) request → the quantile array
    * (None when the column is entirely null/empty), driver-side. */
  def globalArray(df: DataFrame, value: Column, ps: Seq[Double]): Option[Seq[Double]] = {
    val reqs = Seq(Req("__q", value, ps))
    pick(cellsOf(df, Nil, reqs), Nil, reqs).headOption
      .map(_.quantiles(0).toSeq)
  }
}
