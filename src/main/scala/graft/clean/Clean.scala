package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{HandyFrame, HandyState}
import graft.strata.{StratifiedFrame, StratumSpec, ColStratum}

/** Imputation (`fill`) and Tukey fencing (`fence`) with learn-then-replay
  * semantics (reference handyspark/sql/dataframe.py:246-265, 598-631 and
  * ml/base.py:62-156): statistics are computed EAGERLY in one grouped pass,
  * recorded into the frame state keyed by filter clause, and applied as
  * literal-folded CASE WHEN chains — no join against a stats table, so the
  * replay is a pure map-side projection at any scale.
  */
object Clean {

  sealed trait FillStrategy
  case object Mean extends FillStrategy
  case object Median extends FillStrategy
  case object Mode extends FillStrategy

  /** Learn per-stratum fill values for `cols` and apply them. Statistics are
    * recorded in the returned frame's `state.statistics` keyed by clause
    * ("" for global). One grouped agg (plus one for Mode) regardless of the
    * number of strata — the 100-TB grouped path. */
  def fill(hf: HandyFrame, strategy: FillStrategy, cols: Seq[String],
           strata: Seq[StratumSpec] = Nil): HandyFrame =
      graft.util.Errors.context(s"fill($strategy)", cols) {
    val df = hf.df
    if (strata.isEmpty) {
      val values: Map[String, Any] = strategy match {
        case Mean =>
          val r = df.agg(cols.head -> "avg", cols.tail.map(_ -> "avg"): _*).head()
          cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap
        case Median =>
          // shared sort path — one pass for every column, no per-group
          // buffers (graft.agg.SortedQuantiles)
          val r = graft.agg.SortedQuantiles.of(df, Nil,
              cols.map(c => graft.agg.SortedQuantiles.Req(s"__m_$c", col(c), Seq(0.5))))
            .select(cols.map(c => element_at(col(s"__m_$c"), 1).as(c)): _*)
            .head()
          cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap
        case Mode =>
          cols.map(c => c -> graft.agg.Stats.mode(df, c).head().get(0)).toMap
      }
      val filled = values.foldLeft(df) { case (d, (c, v)) =>
        d.withColumn(c, when(HandyFrame.isMissing(d, c), lit(v))
          .otherwise(col(c)))
      }
      val st = values.foldLeft(hf.state) { case (s, (c, v)) =>
        s.withStatistics(c, "", v)
      }
      HandyFrame(filled, st)
    } else {
      val sf = StratifiedFrame(df, strata)
      val sc = sf.strataCols
      val statsDf = strategy match {
        case Mean =>
          sf.bucketed.groupBy(sc.map(col): _*)
            .agg(avg(cols.head).as(cols.head),
              cols.tail.map(c => avg(c).as(c)): _*)
        case Median =>
          // shared sort path; strata where EVERY column is all-null are
          // re-attached via the distinct-strata universe (null key
          // groups are dropped by the na.drop(sc) below either way —
          // matching the old grouped-agg behavior on the rows that
          // survive into the CASE chain)
          val q = graft.agg.SortedQuantiles.of(sf.bucketed, sc,
            cols.map(c => graft.agg.SortedQuantiles.Req(s"__m_$c", col(c), Seq(0.5))))
          val uni = sf.bucketed.na.drop(sc)
            .select(sc.map(col): _*).distinct()
          uni.join(q, sc, "left")
            .select(sc.map(col) ++
              cols.map(c => element_at(col(s"__m_$c"), 1).as(c)): _*)
        case Mode =>
          // full outer: a stratum that is all-null for ONE column must still
          // carry the other columns' modes (its own fill value stays null,
          // matching Mean/Median behavior on all-null strata)
          cols.map { c =>
            graft.agg.Stats.modeStratified(sf.bucketed, c, sc)
              .withColumnRenamed(s"${c}_mode", c)
          }.reduce(_.join(_, sc, "full_outer"))
      }
      // null strata keys (rows outside any stratum — e.g. null bucket
      // inputs) carry no clause; drop them like combo discovery does
      val rows = statsDf.na.drop(sc).collect() // #strata rows — bounded collect
      val schema = statsDf.schema
      // clause -> col -> value
      val learned: Seq[(String, String, Any)] = rows.toSeq.flatMap { row =>
        val values = sc.map(c => c -> row.get(schema.fieldIndex(c)))
        val clause = sf.clauseOf(values)
        cols.map(c => (clause, c, row.get(schema.fieldIndex(c))))
      }
      // apply: per column, a literal-folded CASE chain —
      // WHEN missing AND stratum-match THEN value ... ELSE col.
      // No learned strata (empty/all-null input) → nothing to fill.
      val filled = cols.foldLeft(sf.bucketed) { (d, c) =>
        val whenChain = rows.foldLeft[Option[Column]](None) { (acc, row) =>
          val cond = sc.map(scn =>
            col(scn) === lit(row.get(schema.fieldIndex(scn)))).reduce(_ && _)
          val v = row.get(schema.fieldIndex(c))
          val branch = HandyFrame.isMissing(d, c) && cond
          Some(acc.fold(when(branch, lit(v)))(_.when(branch, lit(v))))
        }
        whenChain.fold(d)(ch => d.withColumn(c, ch.otherwise(col(c))))
      }.drop(sf.strataCols.filterNot(df.columns.contains): _*)
      val st = learned.foldLeft(hf.state) { case (s, (clause, c, v)) =>
        s.withStatistics(c, clause, v)
      }
      HandyFrame(filled, st)
    }
  }

  /** Tukey fences per column (and stratum): lfence = q1 − k·IQR,
    * ufence = q3 + k·IQR (reference `_calc_fences`, dataframe.py:332-351).
    * Both quantiles for every column share ONE pass. EXACT percentiles
    * by default via the shared sort path (graft.agg.SortedQuantiles —
    * scale-safe, no per-group buffers); `approx=true` switches to the
    * mergeable-sketch approx_percentile when a rank-ε cut is enough. */
  def calcFences(df: DataFrame, cols: Seq[String], k: Double = 1.5,
                 strata: Seq[String] = Nil, approx: Boolean = false): DataFrame = {
    val withQ =
      if (approx) {
        // mergeable GK sketches: ONE bounded buffer per column
        val aggs = cols.map(c =>
          expr(s"approx_percentile($c, array(0.25, 0.75), 10000)").as(s"__q_$c"))
        df.groupBy(strata.map(col): _*).agg(count(lit(1)).as("n"), aggs: _*)
      } else {
        // exact quantiles ride the shared sort path (graft.agg
        // .SortedQuantiles — no per-group buffers); group counts come
        // from a cheap grouped count whose universe (ALL groups, even
        // all-null-column ones) left-joins the quantile frame back on,
        // preserving the old grouped-agg output exactly
        val q = graft.agg.SortedQuantiles.of(df, strata,
          cols.map(c => graft.agg.SortedQuantiles.Req(s"__q_$c", col(c), Seq(0.25, 0.75))))
        val counts = df.groupBy(strata.map(col): _*).agg(count(lit(1)).as("n"))
        if (strata.isEmpty) counts.crossJoin(broadcast(q))
        else {
          val renamed = strata.foldLeft(q)((d, s) =>
            d.withColumnRenamed(s, s"__q_k_$s"))
          val cond = strata.map(s =>
            counts(s) <=> renamed(s"__q_k_$s")).reduce(_ && _)
          counts.join(broadcast(renamed), cond, "left")
            .drop(strata.map(s => s"__q_k_$s"): _*)
        }
      }
    withQ
      .select((strata.map(col) :+ col("n")) ++ cols.flatMap { c =>
        val q1 = element_at(col(s"__q_$c"), 1)
        val q3 = element_at(col(s"__q_$c"), 2)
        val iqr = q3 - q1
        Seq(q1.as(s"${c}_q1"), q3.as(s"${c}_q3"),
          (q1 - lit(k) * iqr).as(s"${c}_lfence"),
          (q3 + lit(k) * iqr).as(s"${c}_ufence"))
      }: _*)
  }

  /** Learn fences and cap values into [lfence, ufence] via
    * greatest/least (reference dataframe.py:598-631). Global version. */
  def fence(hf: HandyFrame, cols: Seq[String], k: Double = 1.5): HandyFrame =
      graft.util.Errors.context("fence", cols) {
    val fencesRow = calcFences(hf.df, cols, k).head()
    val capped = cols.foldLeft(hf.df) { (d, c) =>
      val lo = fencesRow.getAs[Double](s"${c}_lfence")
      val hi = fencesRow.getAs[Double](s"${c}_ufence")
      // greatest/least SKIP nulls (a null input would become the bound)
      // and order NaN above everything (least(NaN, hi) = hi) — cap only
      // present values, keep null/NaN unchanged
      d.withColumn(c, when(!HandyFrame.isMissing(d, c),
        least(greatest(col(c), lit(lo)), lit(hi))).otherwise(col(c)))
    }
    val st = cols.foldLeft(hf.state) { (s, c) =>
      s.withFences(c, "", fencesRow.getAs[Double](s"${c}_lfence"),
        fencesRow.getAs[Double](s"${c}_ufence"))
    }
    HandyFrame(capped, st)
  }

  /** Count of Tukey outliers per column, optionally per stratum
    * (reference `outliers`, dataframe.py:544-576). The fences AND the
    * counting share ONE corpus scan: both derive from the distinct-value
    * cell frame (fences via the sort-based exact quantiles, counts as a
    * cell-count-weighted fold over the out-of-range cells) — the corpus
    * itself is never read a second time. The cell cache is consumed by
    * the returned lazy plan → CacheRegistry lifecycle. */
  def outlierCounts(df: DataFrame, cols: Seq[String], k: Double = 1.5,
                    strata: Seq[String] = Nil): DataFrame = {
    val reqs = cols.map(c =>
      graft.agg.SortedQuantiles.Req(s"__q_$c", col(c), Seq(0.25, 0.75)))
    val cells = graft.util.CacheRegistry.cached("outlierCounts.cells",
      graft.agg.SortedQuantiles.cellsOf(df, strata, reqs))
    val q = graft.agg.SortedQuantiles.ofCounts(cells, strata, reqs)
    val colIdx = cols.zipWithIndex.toMap
    // a cell failing the fence test contributes 0 (the per-row sum
    // counted a false comparison as 0); a column with no cells in a
    // group sums to null — both match the raw-scan form
    def outAgg(c: String, lo: Column, hi: Column) =
      sum(when(col("__qc") === colIdx(c),
          when(col("__v") < lo || col("__v") > hi, col("__c"))
            .otherwise(lit(0.0))))
        .cast("long").as(c)
    if (strata.isEmpty) {
      val row = q.head()
      val aggs = cols.map { c =>
        // a null array = no non-null values for c, hence no cells with
        // its __qc either: null bounds keep the count null (old form)
        Option(row.getSeq[Double](row.fieldIndex(s"__q_$c"))) match {
          case Some(arr) =>
            val (q1, q3) = (arr(0), arr(1))
            val iqr = q3 - q1
            outAgg(c, lit(q1 - k * iqr), lit(q3 + k * iqr))
          case None =>
            outAgg(c, lit(null).cast("double"), lit(null).cast("double"))
        }
      }
      cells.agg(aggs.head, aggs.tail: _*)
    } else {
      val fences = q.select(strata.map(col) ++ cols.flatMap { c =>
        val q1 = element_at(col(s"__q_$c"), 1)
        val q3 = element_at(col(s"__q_$c"), 2)
        val iqr = q3 - q1
        Seq((q1 - lit(k) * iqr).as(s"${c}_lfence"),
          (q3 + lit(k) * iqr).as(s"${c}_ufence"))
      }: _*)
      val joined = cells.join(broadcast(fences), strata)
      val aggs = cols.map(c =>
        outAgg(c, col(s"${c}_lfence"), col(s"${c}_ufence")))
      joined.groupBy(strata.map(col): _*).agg(aggs.head, aggs.tail: _*)
    }
  }

  /** Median/MAD robust fences — the heavy-tail companion of the Tukey
    * tier: bounds = median ± k·1.4826·MAD, where
    * MAD = median(|x − median|) and 1.4826 scales MAD to σ under
    * normality, so k has the familiar "k sigmas" reading while a 50%
    * contamination breakdown keeps the bounds sane where extreme
    * outliers drag q1/q3 themselves. The MAD needs the median first —
    * irreducibly two quantile passes — but only the FIRST scans the
    * corpus: |·−m| is a pure function of the cell VALUE, so a value
    * cell (v, c) maps to a deviation cell (|v−m|, c) and colliding
    * cells re-aggregate; pass 2 range-sorts the tiny cell frame only.
    * Output one row per column:
    * (column, median, mad, lfence, ufence). */
  def calcMadFences(df: DataFrame, cols: Seq[String],
                    k: Double = 3.0): DataFrame = {
    require(cols.nonEmpty, "calcMadFences needs at least one column")
    val spark = df.sparkSession
    import spark.implicits._
    graft.util.Errors.context("calcMadFences", cols) {
      val cells = graft.agg.SortedQuantiles
        .cellsOf(df, Nil, madCellReqs(cols)).persist()
      try madFenceTuples(cells, cols, k)
        .toDF("col_name", "median", "mad", "lfence", "ufence")
      finally cells.unpersist(blocking = false)
    }
  }

  private def madCellReqs(cols: Seq[String]) = cols.map(c =>
    graft.agg.SortedQuantiles.Req(s"__m_$c", col(c), Seq(0.5)))

  /** Median/MAD/fence tuples off a pre-built value-cell frame — both
    * quantile passes run over cells only (the deviation cells fold off
    * the value cells), so a caller that also needs the cells afterwards
    * (madOutlierCounts counts against them) pays ONE corpus scan. */
  private def madFenceTuples(cells: DataFrame, cols: Seq[String], k: Double)
      : Seq[(String, Double, Double, Double, Double)] = {
    val med = medians(cells, cols, madCellReqs(cols))
    val medByQc = element_at(
      array(cols.map(c => lit(med(c))): _*), col("__qc") + 1)
    val devCells = cells
      .withColumn("__v", abs(col("__v") - medByQc))
      .groupBy(col("__qc"), col("__v"))
      .agg(sum(col("__c")).as("__c"))
    val mad = medians(devCells, cols, cols.map(c =>
      graft.agg.SortedQuantiles.Req(s"__d_$c", col(c), Seq(0.5))))
    cols.map { c =>
      val spread = k * 1.4826 * mad(c)
      (c, med(c), mad(c), med(c) - spread, med(c) + spread)
    }
  }

  /** Each column's global median off a cell frame, read straight from
    * the driver-side pick (no frame, no job beyond the pick's own). */
  private def medians(cells: DataFrame, cols: Seq[String],
                      reqs: Seq[graft.agg.SortedQuantiles.Req]): Map[String, Double] = {
    val qs = graft.agg.SortedQuantiles.pick(cells, Nil, reqs).headOption
      .fold(Array.fill[Array[Double]](cols.size)(null))(_.quantiles)
    cols.zip(qs).map { case (c, q) =>
      require(q != null, s"calcMadFences: column $c has no non-null values")
      c -> q(0)
    }.toMap
  }

  /** Count of median/MAD outliers per column — [[outlierCounts]]'s robust
    * sibling. Fences AND counting share one value-cell frame, so the
    * corpus is scanned ONCE (the counting is a cell-count-weighted fold
    * with the bounds inlined as literals; the returned plan consumes the
    * cell cache → CacheRegistry lifecycle). */
  def madOutlierCounts(df: DataFrame, cols: Seq[String],
                       k: Double = 3.0): DataFrame = {
    val cells = graft.util.CacheRegistry.cached("madOutlierCounts.cells",
      graft.agg.SortedQuantiles.cellsOf(df, Nil, madCellReqs(cols)))
    val fences = madFenceTuples(cells, cols, k)
      .map(t => t._1 -> (t._4, t._5)).toMap
    val colIdx = cols.zipWithIndex.toMap
    val aggs = cols.map { c =>
      val (lo, hi) = fences(c)
      sum(when(col("__qc") === colIdx(c),
          when(col("__v") < lit(lo) || col("__v") > lit(hi), col("__c"))
            .otherwise(lit(0.0))))
        .cast("long").as(c)
    }
    cells.agg(aggs.head, aggs.tail: _*)
  }
}
