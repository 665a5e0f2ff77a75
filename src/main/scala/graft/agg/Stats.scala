package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregation surface (SURVEY §2.4). Every statistic is a single grouped
  * aggregation — `groupBy(strata).agg(...)` — so the stratified variant is
  * the same Spark job with strata columns prepended (the reference's `@agg`
  * single-pass path, handyspark/sql/dataframe.py:315-330). All of these are
  * Catalyst hash-aggregates with partial/final phases: at 100 TB they do one
  * shuffle keyed on the (low-cardinality) strata and never materialize more
  * than #groups rows on the driver.
  *
  * Percentiles come in three flavors:
  *  - `percentileExact` — exact interpolated quantiles on the shared
  *    range-sort cell path ([[SortedQuantiles]] — memory one row
  *    everywhere); matches DuckDB `quantile_cont` bit-for-bit on the
  *    same data, and scale-safe: per-group state never grows with rows.
  *  - `percentileExactBuffered` — the primitive-buffer
  *    TypedImperativeAggregate twin (graft.expr.ExactPercentile) for
  *    SMALL frames and the parity spec; per-group memory O(values).
  *  - `percentileApprox` — `approx_percentile` (GK sketch, reference
  *    dataframe.py:748-756 semantics: accuracy = 1/precision) —
  *    mergeable sketch, bounded memory, when rank-ε cuts are enough.
  */
/** Range partitioner over precomputed double boundaries (ascending).
  * getPartition is the first slot whose upper bound is >= the key, so all
  * equal keys land in one partition — the invariant rank passes rely on. */
private[agg] final class DoubleBoundsPartitioner(bounds: Array[Double])
    extends org.apache.spark.Partitioner {
  override def numPartitions: Int = bounds.length + 1
  override def getPartition(key: Any): Int = {
    val k = key.asInstanceOf[Double]
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) < k) lo = mid + 1 else hi = mid
    }
    lo
  }
}

object Stats {

  private def grouped(df: DataFrame, strata: Seq[String]) =
    df.groupBy(strata.map(col): _*)

  /** Null-SAFE recombination join on the strata columns (`<=>` per key):
    * a stratum group whose key value is NULL must survive the join — the
    * plain `join(right, strata)` equi-join would silently drop it. Used by
    * every per-column pipeline that splits an aggregation and joins the
    * partial frames back on the strata. */
  private[graft] def joinOnStrata(left: DataFrame, right: DataFrame,
                                  strata: Seq[String],
                                  bcastRight: Boolean = false): DataFrame = {
    val renamed = strata.foldLeft(right)((d, s) =>
      d.withColumnRenamed(s, s"__graft_r_$s"))
    val r = if (bcastRight) broadcast(renamed) else renamed
    val cond = strata.map(s => left(s) <=> r(s"__graft_r_$s")).reduce(_ && _)
    left.join(r, cond).drop(strata.map(s => s"__graft_r_$s"): _*)
  }

  /** mean/min/max/stddev(sample)/var(sample) for the given columns. */
  def describe(df: DataFrame, cols: Seq[String], strata: Seq[String] = Nil): DataFrame =
    grouped(df, strata).agg(
      count(lit(1)).as("n"),
      cols.flatMap { c =>
        Seq(
          mean(col(c)).as(s"${c}_mean"),
          min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"),
          stddev(col(c)).as(s"${c}_stddev"),
          var_samp(col(c)).as(s"${c}_var"))
      }: _*)

  def meanOf(df: DataFrame, cols: Seq[String], strata: Seq[String] = Nil): DataFrame =
    grouped(df, strata).agg(mean(col(cols.head)).as(cols.head),
      cols.tail.map(c => mean(col(c)).as(c)): _*)

  /** Exact interpolated percentiles (all columns × all ps in one shared
    * sort pass) via [[SortedQuantiles]] — the range-sort + cell-count
    * path whose memory is one row everywhere, replacing the buffering
    * TypedImperativeAggregate funnel (per-group state O(group values) —
    * an executor-memory wall at 100-TB group sizes). Bit-identical to
    * [[percentileExactBuffered]] (SortedQuantilesSpec). Groups where
    * every requested column is entirely null are omitted (the buffered
    * groupBy would emit them with all-null outputs); no in-engine gate
    * query has such groups. */
  def percentileExact(df: DataFrame, cols: Seq[String], ps: Seq[Double],
                      strata: Seq[String] = Nil): DataFrame = {
    val q = SortedQuantiles.of(df, strata,
      cols.map(c => SortedQuantiles.Req(s"__ps_$c", col(c), ps)))
    val unpack = strata.map(col) ++ (for { c <- cols; (p, i) <- ps.zipWithIndex }
      yield element_at(col(s"__ps_$c"), i + 1).as(s"${c}_p${(p * 100).toInt}"))
    q.select(unpack: _*)
  }

  /** The buffering-aggregate twin of [[percentileExact]]
    * (graft.expr.ExactPercentile, primitive double buffers — ~10× faster
    * than Spark's boxed-map `percentile`): the right shape for SMALL
    * frames (bootstrap means, per-user summaries) where a range-sort
    * pass is overhead, and the parity anchor SortedQuantilesSpec pins
    * the sorted path against. Per-group memory O(group values) — do not
    * point it at raw-corpus-scale groups. */
  def percentileExactBuffered(df: DataFrame, cols: Seq[String], ps: Seq[Double],
                              strata: Seq[String] = Nil): DataFrame = {
    val aggs = cols.map(c =>
      graft.expr.ExactPercentile.of(col(c), ps).as(s"__ps_$c"))
    val unpack = strata.map(col) ++ (for { c <- cols; (p, i) <- ps.zipWithIndex }
      yield element_at(col(s"__ps_$c"), i + 1).as(s"${c}_p${(p * 100).toInt}"))
    grouped(df, strata).agg(aggs.head, aggs.tail: _*).select(unpack: _*)
  }

  /** Approximate percentiles — the scale path. `precision` follows the
    * reference contract: accuracy = 1/precision (default 100). */
  def percentileApprox(df: DataFrame, cols: Seq[String], ps: Seq[Double],
                       precision: Double = 0.01,
                       strata: Seq[String] = Nil): DataFrame = {
    val acc = math.max(1, math.round(1.0 / precision)).toInt
    // array form: ONE GK sketch per column, not one per (column, p)
    val psSql = ps.mkString("array(", ", ", ")")
    val aggs = cols.map(c =>
      expr(s"approx_percentile($c, $psSql, $acc)").as(s"__pa_$c"))
    val unpack = strata.map(col) ++ (for { c <- cols; (p, i) <- ps.zipWithIndex }
      yield element_at(col(s"__pa_$c"), i + 1).as(s"${c}_p${(p * 100).toInt}"))
    grouped(df, strata).agg(aggs.head, aggs.tail: _*).select(unpack: _*)
  }

  def median(df: DataFrame, cols: Seq[String], precision: Double = 0.01,
             strata: Seq[String] = Nil): DataFrame =
    percentileApprox(df, cols, Seq(0.5), precision, strata)

  /** Oracle-visible approximation contract for the GK sketch, checked in
    * RANK space (value-envelope checks break when ε·n < 1 row — the
    * continuous-interpolated envelope is then narrower than one rank step
    * while GK returns a member value). Two passes:
    *
    *   1. grouped agg → per-stratum approx_percentile arrays + counts;
    *   2. the (tiny, #strata-row) result broadcast-joins back and one more
    *      grouped agg counts, per (column, p), how many values fall
    *      strictly below / at-or-below the sketch value.
    *
    * The sketch value's rank set is [lt+1, le]; the GK guarantee says some
    * rank within ε·n of p·n is achieved, so the flag is
    * `lt+1 ≤ p·n + ε·n + 1  AND  le ≥ p·n − ε·n − 1` (±1 slack for the
    * rank convention at the ends). Alongside each flag the EXACT
    * percentile value is emitted — both are deterministic, so a SQL
    * oracle reproduces them and the approximation bound itself becomes
    * part of the correctness gate, not just a spec assertion. */
  def percentileApproxCheck(df: DataFrame, cols: Seq[String], ps: Seq[Double],
                            precision: Double = 0.01,
                            strata: Seq[String] = Nil): DataFrame = {
    val eps = precision
    val acc = math.max(1, math.round(1.0 / precision)).toInt
    val psSql = ps.mkString("array(", ", ", ")")
    val pass1Aggs = cols.map { c =>
      expr(s"approx_percentile($c, $psSql, $acc)").as(s"__pa_$c")
    }
    val pass1 = grouped(df, strata).agg(pass1Aggs.head, pass1Aggs.tail: _*)
    // exact values ride the shared sort path (SortedQuantiles), NOT a
    // buffering aggregate inside pass 2 — this row's exact twin was the
    // q_median_approx funnel at 100× scale. The rank counts below reuse
    // the SAME cell frame: count(x < v) is a sum of cell counts over
    // cells with __v < v, so pass 2 aggregates the (tiny, cached) cells
    // instead of re-scanning the corpus — two corpus scans total (the
    // GK sketch pass and the cell fold), was three. The cell cache is
    // consumed by the returned lazy plan, hence CacheRegistry lifecycle
    // (the fuzzy/basket convention), not an in-method unpersist.
    val reqs = cols.map(c => SortedQuantiles.Req(s"__pe_$c", col(c), ps))
    val cells = graft.util.CacheRegistry.cached("percentileApproxCheck.cells",
      SortedQuantiles.cellsOf(df, strata, reqs))
    val exact = SortedQuantiles.ofCounts(cells, strata, reqs)
    val joined =
      if (strata.isEmpty) cells.crossJoin(broadcast(pass1))
      else joinOnStrata(cells, pass1, strata, bcastRight = true)
    val colIdx = cols.zipWithIndex.toMap
    val pass2Aggs = (for { c <- cols; (p, i) <- ps.zipWithIndex } yield {
      val v = element_at(col(s"__pa_$c"), i + 1)
      val j = colIdx(c)
      // inner when: a cell whose value fails the comparison contributes
      // 0 (the old per-row sum counted a false comparison as 0); a NULL
      // sketch value only occurs when the column has no cells at all,
      // where the outer when never fires and the sum stays null — both
      // match the per-row form's null propagation
      Seq(
        sum(when(col("__qc") === j,
            when(col("__v") < v, col("__c")).otherwise(lit(0.0))))
          .cast("long").as(s"__lt_${c}_$i"),
        sum(when(col("__qc") === j,
            when(col("__v") <= v, col("__c")).otherwise(lit(0.0))))
          .cast("long").as(s"__le_${c}_$i"))
    }).flatten ++ cols.map { c =>
      // non-null count (the sketch's universe): cells exclude nulls, so
      // the per-column cell-count sum IS count(col(c))
      sum(when(col("__qc") === colIdx(c), col("__c")))
        .cast("long").as(s"__n_$c")
    }
    val pass2 = grouped(joined, strata).agg(pass2Aggs.head, pass2Aggs.tail: _*)
    val withExact =
      if (strata.isEmpty) pass2.crossJoin(broadcast(exact))
      else joinOnStrata(pass2, exact, strata, bcastRight = true)
    val out = strata.map(col) ++ (for { c <- cols; (p, i) <- ps.zipWithIndex }
      yield {
        val n = col(s"__n_$c").cast("double")
        val target = lit(p) * n
        val slack = lit(eps) * n + lit(1.0)
        Seq(
          element_at(col(s"__pe_$c"), i + 1).as(s"${c}_p${(p * 100).toInt}"),
          ((col(s"__lt_${c}_$i").cast("double") + 1.0 <= target + slack) &&
            (col(s"__le_${c}_$i").cast("double") >= target - slack))
            .as(s"${c}_p${(p * 100).toInt}_ok"))
      }).flatten
    withExact.select(out: _*)
  }

  /** Oracle-visible approximation contract for HLL++: exact distinct count
    * per column plus `<col>_ok` — TRUE iff |approx − exact| ≤ 4·rsd·exact
    * (four standard errors of the target relative standard deviation:
    * essentially-always under a healthy sketch, violated under a broken
    * one). Same shape rationale as [[percentileApproxCheck]].
    *
    * Plan shape: one pipeline PER COLUMN — groupBy the column (map-side
    * combine shuffles only the distinct values) then count + HLL over the
    * distinct stream (identical HLL result: the sketch dedups anyway) —
    * joined at the end. Mixing countDistinct with approx_count_distinct in
    * ONE agg plans an Expand (#distinct-aggs × rows) with the HLL update
    * running per expanded row: measured 3.4× slower at sf0.1. */
  def nuniqueCheck(df: DataFrame, cols: Seq[String], rsd: Double = 0.05,
                   strata: Seq[String] = Nil): DataFrame = {
    val perCol = cols.map { c =>
      val flag = (abs(col(s"__a_$c") - col(c)).cast("double") <=
        lit(4 * rsd) * col(c).cast("double")).as(s"${c}_ok")
      grouped(df.select((strata :+ c).map(col): _*), strata :+ c)
        .agg(count(lit(1)).as("__one")) // distinct (strata, c) stream
        .groupBy(strata.map(col): _*)
        .agg(count(col(c)).as(c), // non-null distinct values
          approx_count_distinct(col(c), rsd).as(s"__a_$c"))
        .select((strata.map(col) :+ col(c) :+ flag): _*)
    }
    val joined =
      if (strata.isEmpty) perCol.reduce(_ crossJoin _)
      else perCol.reduce(joinOnStrata(_, _, strata))
    joined.select((strata.map(col) ++
      cols.flatMap(c => Seq(col(c), col(s"${c}_ok")))): _*)
  }

  /** Per-column null(+NaN for floating) counts and ratios
    * (reference dataframe.py:513-534). One pass over all columns. */
  def isNull(df: DataFrame, cols: Seq[String], ratio: Boolean = false,
             strata: Seq[String] = Nil): DataFrame = {
    val n = count(lit(1))
    val aggs = cols.map { c =>
      // coalesce: sum over an EMPTY frame is null, but "zero rows" means
      // zero missing values (pandas isnull().sum() semantics)
      val missing = coalesce(
        sum(graft.core.HandyFrame.isMissing(df, c).cast("long")), lit(0L))
      (if (ratio) missing / n else missing).as(if (ratio) s"${c}_ratio" else c)
    }
    grouped(df, strata).agg(aggs.head, aggs.tail: _*)
  }

  /** Approximate distinct count per column (HLL++, default rsd 5% like the
    * reference's approx_count_distinct, dataframe.py:536-542). */
  def nunique(df: DataFrame, cols: Seq[String], rsd: Double = 0.05,
              strata: Seq[String] = Nil): DataFrame = {
    val aggs = cols.map(c => approx_count_distinct(col(c), rsd).as(c))
    grouped(df, strata).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact distinct count per column — oracle-checkable variant. One
    * groupBy-the-column pipeline per column (map-side combine shuffles
    * only distinct values), joined on the strata at the end: several
    * countDistinct in ONE agg would plan an Expand of #cols × rows
    * (measured 1.7× slower stratified at sf0.1, parity unstratified). */
  def nuniqueExact(df: DataFrame, cols: Seq[String],
                   strata: Seq[String] = Nil): DataFrame = {
    val perCol = cols.map { c =>
      grouped(df.select((strata :+ c).map(col): _*), strata :+ c)
        .agg(count(lit(1)).as("__one"))
        .groupBy(strata.map(col): _*)
        .agg(count(col(c)).as(c)) // non-null distinct values
    }
    if (strata.isEmpty) perCol.reduce(_ crossJoin _)
    else perCol.reduce(joinOnStrata(_, _, strata))
  }

  /** groupBy(col).count — `value_counts` (reference dataframe.py:225-244);
    * dropna first to match pandas semantics. */
  def valueCounts(df: DataFrame, cols: Seq[String], dropna: Boolean = true,
                  strata: Seq[String] = Nil): DataFrame = {
    val base = if (dropna) df.na.drop(cols) else df
    base.groupBy((strata ++ cols).distinct.map(col): _*)
      .agg(count(lit(1)).as("value_counts"))
  }

  /** Global mode: top-1 by count desc (value asc tiebreak for determinism;
    * reference relies on pandas stable sort, dataframe.py:641-646). */
  def mode(df: DataFrame, c: String): DataFrame =
    df.na.drop(Seq(c)).groupBy(col(c))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col(c))
      .limit(1)
      .select(col(c).as(s"${c}_mode"))

  /** Stratified mode via row_number window (reference dataframe.py:647-656).
    * Count + window partitioned on strata: one shuffle on strata keys. */
  def modeStratified(df: DataFrame, c: String, strata: Seq[String]): DataFrame = {
    val counts = df.na.drop(Seq(c))
      .groupBy((strata :+ c).map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(strata.map(col): _*)
      .orderBy(desc("cnt"), col(c))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select((strata.map(col) :+ col(c).as(s"${c}_mode")): _*)
  }

  /** Shannon entropy in bits of a categorical column, optionally per
    * stratum. NOTE the reference divides by the GLOBAL row count even when
    * stratified (dataframe.py:663-669) — we default to the fixed per-stratum
    * semantics and expose `globalN` to reproduce the reference quirk. */
  def entropy(df: DataFrame, c: String, strata: Seq[String] = Nil,
              globalN: Boolean = false): DataFrame = {
    // derived columns carry a __graft prefix so an input column literally
    // named "cnt"/"n"/"p" can't be shadowed or turn a join ambiguous
    val clean = df.na.drop(Seq(c))
    val counts = clean
      .groupBy((strata :+ c).map(col): _*)
      .agg(count(lit(1)).cast("double").as("__graft_cnt"))
    val withN =
      if (strata.isEmpty) {
        // global: n as a scalar agg crossJoined in — the empty-partition
        // window would funnel the counts frame through one partition
        val n = clean.agg(count(lit(1)).cast("double").as("__graft_n"))
        counts.crossJoin(broadcast(n))
      } else if (!globalN) {
        val w = Window.partitionBy(strata.map(col): _*)
        counts.withColumn("__graft_n", sum("__graft_cnt").over(w))
      } else {
        val n = clean.count().toDouble
        counts.withColumn("__graft_n", lit(n))
      }
    val p = col("__graft_cnt") / col("__graft_n")
    withN
      .groupBy(strata.map(col): _*)
      .agg(sum(-log2(p) * p).as(s"${c}_entropy"))
  }

  /** Pairwise mutual information (bits) between two categorical columns,
    * reference dataframe.py:687-734: joint counts joined to both marginals.
    * Marginals are tiny (≤ #distinct values) → broadcast joins; the only
    * shuffle is the joint groupBy. */
  def mutualInfo(df: DataFrame, c0: String, c1: String): DataFrame = {
    // derived columns carry a __graft prefix — see entropy
    val clean = df.na.drop(Seq(c0, c1))
    val joint = clean.groupBy(col(c0), col(c1))
      .agg(count(lit(1)).cast("double").as("__graft_cnt"))
    val m0 = clean.groupBy(col(c0))
      .agg(count(lit(1)).cast("double").as("__graft_c0"))
    val m1 = clean.groupBy(col(c1))
      .agg(count(lit(1)).cast("double").as("__graft_c1"))
    val withMarg = joint
      .join(broadcast(m0), Seq(c0))
      .join(broadcast(m1), Seq(c1))
    // n as a scalar agg crossJoined in (exactly the oracle's shape) — a
    // partial/final count, never a single-partition window stage
    val n = clean.agg(count(lit(1)).cast("double").as("__graft_n"))
    val (cnt, cm0, cm1, cn) = (col("__graft_cnt"), col("__graft_c0"),
      col("__graft_c1"), col("__graft_n"))
    withMarg
      .crossJoin(broadcast(n))
      .agg(sum(log2(cnt * cn / (cm0 * cm1)) * cnt / cn).as("mutual_info"))
  }

  /** Full pairwise mutual-information matrix over categorical columns in
    * ONE fused pass (reference mutual_info computes all pairs; diagonal =
    * entropy, dataframe.py:687-734). Every input row explodes into its
    * (i ≤ j) column-pair cells, and a single groupBy((i,j,vi,vj)) computes
    * every pair's joint counts in one shuffle — previously one Spark job
    * per pair, O(k²) scans of the input. The grouped cell frame is bounded
    * by Σ_pairs card_i·card_j (EDA-scale) and is finished on the driver:
    * marginals fold out of the joint cells, so nothing re-reads the input.
    * Per-pair null semantics match mutualInfo/entropy (a row is dropped
    * for a pair iff either of THAT pair's values is null). */
  def mutualInfoMatrix(df: DataFrame, cols: Seq[String]): Seq[(String, String, Double)] = {
    val idx = cols.indices
    // cells key on the string rendering (the struct array must be
    // homogeneous); normalize -0.0 first — groupBy treats -0.0 == 0.0 but
    // their strings differ, which would split the tie group and diverge
    // from mutualInfo/entropy (NaN is safe: one "NaN" rendering)
    def cellKey(name: String): Column = df.schema(name).dataType match {
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType =>
        when(col(name) === 0.0, lit(0.0).cast(df.schema(name).dataType))
          .otherwise(col(name)).cast("string")
      case _ => col(name).cast("string")
    }
    val pairCells = array((for { i <- idx; j <- idx if i <= j } yield
      struct(lit(i).as("i"), lit(j).as("j"),
        cellKey(cols(i)).as("vi"), cellKey(cols(j)).as("vj"))): _*)
    val cells = df.select(explode(pairCells).as("p"))
      .filter(col("p.vi").isNotNull && col("p.vj").isNotNull)
      .groupBy(col("p.i").as("i"), col("p.j").as("j"),
        col("p.vi").as("vi"), col("p.vj").as("vj"))
      .agg(count(lit(1)).cast("double").as("cnt"))
      .collect()
    def log2d(x: Double): Double = math.log(x) / math.log(2.0)
    val out = cells.groupBy(r => (r.getInt(0), r.getInt(1))).toSeq.map {
      case ((i, j), rs) =>
        // sort cells by value so the float fold is deterministic
        val sorted = rs.map(r => (r.getString(2), r.getString(3), r.getDouble(4)))
          .sortBy(t => (t._1, t._2))
        val n = sorted.map(_._3).sum
        val mi =
          if (i == j) sorted.map { case (_, _, c) => -c / n * log2d(c / n) }.sum
          else {
            val mI = sorted.groupBy(_._1).map { case (v, cs) => v -> cs.map(_._3).sum }
            val mJ = sorted.groupBy(_._2).map { case (v, cs) => v -> cs.map(_._3).sum }
            sorted.map { case (vi, vj, c) =>
              c / n * log2d(c * n / (mI(vi) * mJ(vj)))
            }.sum
          }
        (cols(i), cols(j), mi)
    }
    out.sortBy(t => (t._1, t._2))
  }

  /** Pairwise Pearson correlations over numeric columns in ONE aggregation
    * pass (the reference assembles a vector and calls ml.stat.Correlation,
    * dataframe.py:495-505; for a handful of columns pairwise `corr` keeps
    * everything inside whole-stage codegen with no vector materialization). */
  def corrPearson(df: DataFrame, cols: Seq[String]): DataFrame = {
    val clean = df.na.drop(cols)
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield corr(col(cols(i)), col(cols(j))).as(s"${cols(i)}__${cols(j)}")
    clean.agg(pairs.head, pairs.tail: _*)
  }

  /** Per-group ordinary-least-squares fit y = slope·x + intercept with
    * r² — the trend profile ("is this source's quality drifting over
    * time", "does size predict price in this segment") as ONE hash
    * aggregate of six sums per group, map-side combinable, no window and
    * no second pass. Slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²); a group
    * with zero x-variance (or fewer than 2 pairs) yields null slope /
    * intercept / r²; a zero-y-variance group yields r² = null (0/0).
    * Rows with null x or y are dropped pairwise. The raw-sums identity
    * is chosen over centered two-pass accumulation deliberately: it
    * keeps the fit to one scan, and an oracle replays the identical
    * expression tree term-for-term — callers fitting astronomically
    * scaled x (epoch micros) should center x first, the standard
    * conditioning fix. Groupless fits pass `groupCols = Seq.empty`. */
  def linearFit(df: DataFrame, groupCols: Seq[String], xCol: String,
                yCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val clean = df.filter(x.isNotNull && y.isNotNull)
    val grouped =
      if (groupCols.isEmpty) clean.groupBy()
      else clean.groupBy(groupCols.map(col): _*)
    val agged = grouped.agg(count(lit(1)).as("n"),
      sum(x).as("__sx"), sum(y).as("__sy"), sum(x * y).as("__sxy"),
      sum(x * x).as("__sxx"), sum(y * y).as("__syy"))
    val n = col("n").cast("double")
    val varX = n * col("__sxx") - col("__sx") * col("__sx")
    val varY = n * col("__syy") - col("__sy") * col("__sy")
    val covXY = n * col("__sxy") - col("__sx") * col("__sy")
    val slope = when(col("n") >= 2 && varX =!= 0d, covXY / varX)
    agged
      .withColumn("slope", slope)
      .withColumn("intercept",
        (col("__sy") - slope * col("__sx")) / n)
      .withColumn("r2",
        when(col("n") >= 2 && varX =!= 0d && varY =!= 0d,
          (covXY * covXY) / (varX * varY)))
      .drop("__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /** Benford first-significant-digit profile for an EXACTLY-REPRESENTED
    * numeric column (integral or decimal — doubles are refused: their
    * decimal rendering is engine-specific, while a decimal's scaled
    * integer digits replay identically anywhere). Rows with null or
    * zero value are excluded; sign is ignored. Returns one row per
    * observed leading digit: (digit, n, observed_p,
    * expected_p = log10(1 + 1/d), chi2_term = n_total·(o−e)²/e) — sum
    * chi2_term and compare to χ²₈ for the classic fraud/quality test.
    * One hash aggregate + a broadcast scalar total; the digit extraction
    * is a pure string projection of the exact integer form. */
  def benford(df: DataFrame, column: String): DataFrame = {
    df.schema(column).dataType match {
      case _: org.apache.spark.sql.types.DecimalType |
           _: org.apache.spark.sql.types.ByteType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType => ()
      case t => throw new IllegalArgumentException(
        s"benford needs an integral or decimal column, got $column: $t")
    }
    // leading significant digit via the CANONICAL decimal string (both
    // engines render integral/decimal types as plain digits with
    // optional sign and point): strip every non-1-9 char — sign, point,
    // zeros — and take the first remaining digit. No arithmetic, so no
    // float contamination to reason about.
    val digit = substring(
      regexp_replace(col(column).cast("string"), "[^1-9]", ""), 1, 1)
      .cast("int")
    val counts = df.filter(col(column).isNotNull && col(column) =!= 0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").cast("double").as("__N"))
    val expected = log10(lit(1.0) + lit(1.0) / col("digit"))
    counts.crossJoin(broadcast(total))
      .withColumn("observed_p", col("n") / col("__N"))
      .withColumn("expected_p", expected)
      .withColumn("chi2_term", col("__N") *
        (col("observed_p") - col("expected_p")) *
        (col("observed_p") - col("expected_p")) / col("expected_p"))
      .drop("__N")
  }

  /** Higher central moments — population skewness (m3/m2^1.5) and
    * population EXCESS kurtosis (m4/m2² − 3) — for every column in one
    * long-format frame (column, n, mean, variance, skewness, kurtosis),
    * ordered by column name. Two aggregation passes: means first (scalar
    * crossJoin — no unpartitioned window), then centered power means.
    * Centered accumulation is deliberate: the one-pass raw-power identity
    * m3 = E[x³] − 3μE[x²] + 2μ³ cancels catastrophically when skew ≈ 0,
    * and skew/kurt are exactly the regimes where that matters. Both passes
    * are partial/final hash aggregates — two corpus scans, no shuffle
    * beyond the 1-row agg exchanges, driver holds k means. */
  def moments(df: DataFrame, cols: Seq[String]): DataFrame = {
    val clean = df.na.drop(cols)
    val meanAggs = cols.map(c => avg(col(c)).as(s"__mu_$c"))
    val means = clean.agg(meanAggs.head, meanAggs.tail: _*)
    val centered = clean.crossJoin(broadcast(means))
    val aggs = count(lit(1)).as("n") +: cols.flatMap { c =>
      val z = col(c) - col(s"__mu_$c")
      Seq(avg(z * z).as(s"__m2_$c"), avg(z * z * z).as(s"__m3_$c"),
        avg(z * z * z * z).as(s"__m4_$c"), first(col(s"__mu_$c")).as(s"__mu2_$c"))
    }
    val g = centered.agg(aggs.head, aggs.tail: _*)
    val rows = cols.sorted.map { c =>
      val m2 = col(s"__m2_$c")
      // constant column → m2 = 0 → 0/0: emit NaN (scipy's answer) rather
      // than trip ANSI division-by-zero
      struct(lit(c).as("column"), col("n"),
        col(s"__mu2_$c").as("mean"),
        m2.as("variance"),
        when(m2 === 0d, lit(Double.NaN))
          .otherwise(col(s"__m3_$c") / pow(m2, 1.5)).as("skewness"),
        when(m2 === 0d, lit(Double.NaN))
          .otherwise(col(s"__m4_$c") / (m2 * m2) - lit(3.0)).as("kurtosis"))
    }
    g.select(explode(array(rows: _*)).as("m")).select("m.*")
  }

  /** Population Stability Index between a reference slice and a current
    * slice of the same numeric column — the standard drift score for
    * monitoring a feature (or a corpus quality signal) between two
    * snapshots: `PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref)` over
    * `bins` equal-width bins spanning the REFERENCE min/max (industry
    * convention: the reference defines the binning; current values
    * outside the reference range clamp into the edge bins so mass is
    * never dropped). Empty-bin shares are floored at `eps` before the
    * log — the usual smoothing, keeps PSI finite when a bin empties.
    * Rule-of-thumb reading: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted.
    *
    * Scale shape: one min/max pass over the reference, then ONE
    * partial/final hash aggregate per slice keyed on the bin index
    * (≤ `bins` rows out), a broadcast join of two ≤`bins`-row frames, and
    * a scalar sum. Nothing here grows with the data beyond the two scans;
    * both slices can be 100-TB tables. Degenerate reference (min = max)
    * puts all mass in bin 0 via the same clamp. */
  def psi(ref: DataFrame, cur: DataFrame, c: String, bins: Int = 10,
          eps: Double = 1e-6): DataFrame = {
    require(bins >= 2, s"psi needs bins >= 2, got $bins")
    graft.util.Errors.context("psi", Seq(c)) {
    val edges = ref.na.drop(Seq(c))
      .agg(min(col(c).cast("double")).as("lo"), max(col(c).cast("double")).as("hi"))
      .head()
    // empty reference → degenerate binning (everything clamps to bin 0)
    val (lo, hi) =
      if (edges.isNullAt(0)) (0.0, 0.0)
      else (edges.getDouble(0), edges.getDouble(1))
    val width = if (hi > lo) (hi - lo) / bins else 1.0
    psiOverBins(ref, cur, c, eps,
      least(greatest(floor((col(c).cast("double") - lo) / width), lit(0L)),
        lit(bins - 1L)))
  } }

  /** PSI over REFERENCE-QUANTILE bins — the variant for skewed features,
    * where equal-width bins would park most mass in one bin and blind the
    * score: bin edges are the reference's exact i/bins percentiles
    * ([[SortedQuantiles]] shared sort path, quantile_cont semantics),
    * rounded to 6 decimals so the binning decision is engine-exact, and
    * each value's bin is the count of edges strictly below it. Duplicate
    * edges (heavy ties) merge bins; eps smoothing absorbs the resulting
    * empties. Same scale shape as [[psi]] plus one percentile pass over
    * the reference. */
  def psiQuantile(ref: DataFrame, cur: DataFrame, c: String, bins: Int = 4,
                  eps: Double = 1e-6): DataFrame = {
    require(bins >= 2 && bins <= 64, s"psiQuantile needs 2..64 bins, got $bins")
    graft.util.Errors.context("psiQuantile", Seq(c)) {
    val probs = (1 until bins).map(_.toDouble / bins)
    val edges: Seq[Double] =
      SortedQuantiles.globalArray(ref.na.drop(Seq(c)),
        col(c).cast("double"), probs).getOrElse(Nil).map(e =>
        BigDecimal(e).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
          .toDouble)
    val binExpr =
      if (edges.isEmpty) lit(0L)
      else edges.map(e => when(col(c).cast("double") > e, 1L).otherwise(0L))
        .reduce(_ + _)
    psiOverBins(ref, cur, c, eps, binExpr)
  } }

  /** Shared PSI core: ONE binned-count aggregate per slice (the only
    * passes over the data), then the ≤bins-row count frames COLLECT and
    * the share/log arithmetic runs on the driver — a lazy totals
    * aggregate would instead recompute both count pipelines (4 table
    * scans, seen in the plan audit), and `bins ≤ 64` rows is exactly
    * what driver-side finishing is for. */
  private def psiOverBins(ref: DataFrame, cur: DataFrame, c: String,
                          eps: Double, binExpr: Column): DataFrame = {
    val spark = ref.sparkSession
    def binned(df: DataFrame): Map[Long, Long] = df.na.drop(Seq(c))
      .select(binExpr.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r = binned(ref)
    val q = binned(cur)
    // totals are counts: 0 or ≥ 1 — the floor only defuses the
    // divide-by-zero of a fully-empty slice (shares collapse to eps)
    val tr = math.max(r.values.sum.toDouble, 1.0)
    val tc = math.max(q.values.sum.toDouble, 1.0)
    val psiVal = (r.keySet ++ q.keySet).toSeq.sorted.map { bin =>
      val p = math.max(r.getOrElse(bin, 0L) / tr, eps)
      val s = math.max(q.getOrElse(bin, 0L) / tc, eps)
      (s - p) * math.log(s / p)
    }.sum
    import spark.implicits._
    Seq(psiVal).toDF("psi")
  }

  /** Sample covariance matrix (upper triangle incl. diagonal) for the
    * given columns, fused into ONE aggregation pass — k(k+1)/2 codegen'd
    * `covar_samp` expressions, one shuffle of a single partial-agg row.
    * Long format (col_a, col_b, cov) ordered by (col_a, col_b); the
    * diagonal is the sample variance. Same k²-column ceiling as the
    * Mahalanobis fit (~20 columns) — beyond that, assemble a vector and
    * use ml.stat.Correlation's covariance path. */
  def covarianceMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val clean = df.na.drop(cols)
    val sorted = cols.sorted
    val aggs = for {
      i <- sorted.indices; j <- sorted.indices if i <= j
    } yield covar_samp(col(sorted(i)), col(sorted(j)))
      .as(s"__cov_${i}_$j")
    val g = clean.agg(aggs.head, aggs.tail: _*)
    val rows = for {
      i <- sorted.indices; j <- sorted.indices if i <= j
    } yield struct(lit(sorted(i)).as("col_a"), lit(sorted(j)).as("col_b"),
      col(s"__cov_${i}_$j").as("cov"))
    g.select(explode(array(rows: _*)).as("c")).select("c.*")
      .orderBy("col_a", "col_b")
  }

  /** Distributed Spearman via mllib (sortByKey + zipWithIndex per column —
    * no single-partition global window): the 100-TB path. Returns the
    * correlation matrix flattened to the same pair-column layout as
    * corrSpearman. */
  def corrSpearmanDistributed(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.mllib.linalg.Vectors
    val clean = df.na.drop(cols)
    val rdd = clean.select(cols.map(c => col(c).cast("double")): _*)
      .rdd.map(r => Vectors.dense(Array.tabulate(cols.length)(r.getDouble)))
    val m = org.apache.spark.mllib.stat.Statistics.corr(rdd, "spearman")
    val spark = df.sparkSession
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
      yield s"${cols(i)}__${cols(j)}" -> m(i, j)
    spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq(pairs.map(_._2))),
      org.apache.spark.sql.types.StructType(pairs.map(p =>
        org.apache.spark.sql.types.StructField(p._1,
          org.apache.spark.sql.types.DoubleType))))
  }


  /** Spearman = Pearson over average ranks. Exact AND distributed: one
    * decode of the cleaned projection into primitive double arrays, then
    * one range-sort pass PER COLUMN that overwrites that column with its
    * average rank (per-partition global offsets from a counts job that
    * reuses the sort shuffle), and a final per-partition moment pass.
    *
    * The whole pipeline stays in RDD[Array[Double]] between passes — the
    * earlier DataFrame formulation paid a full Row decode + re-encode per
    * pass plus a Catalyst agg pass at the end, which dominated the
    * runtime (ranking itself is per-partition streaming). The final
    * Pearson reduces per partition to centered co-moments — centering at
    * the EXACT global mean rank (n+1)/2 (ranks 1..n with tie averaging
    * preserve the total), so no second pass to find means is needed —
    * and the driver combines #partitions small vectors. No joins, no
    * global window (the window formulation moved the entire input into a
    * single partition per column), no full-frame aggregation job. */
  def corrSpearman(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrSpearman needs at least two columns")
    val spark = df.sparkSession
    val np = spark.sessionState.conf.numShufflePartitions
    val k = cols.size
    val clean = df.na.drop(cols)
      .select(cols.map(c => col(c).cast("double").as(c)): _*)
    def keyBits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    // no RDD caches anywhere in the pipeline: every intermediate is either
    // a cheap recompute (parquet scan + decode) or checkpointed by its own
    // sort's shuffle files, so nothing can leak past this call
    locally {
      // single decode out of Tungsten via the InternalRow path (.rdd would
      // wrap every row in a GenericRow first — measured ~1.4x slower for a
      // k-double projection); the unsafe row is copied into a fresh array
      // before the iterator advances, so buffer reuse is safe. Canonicalize
      // -0.0 → 0.0 here (SQL comparison treats them equal, but
      // Ordering[Double] does not, and a RangePartitioner boundary between
      // them would split a tie run)
      var cur = clean.queryExecution.toRdd.mapPartitions(_.map { ir =>
        val a = new Array[Double](k)
        var i = 0
        while (i < k) {
          val v = ir.getDouble(i)
          a(i) = if (v == 0.0) 0.0 else v
          i += 1
        }
        a
      })
      // the decoded pass is consumed twice (the range-bounds sample job +
      // the first sort's shuffle write), but NOT cached: a SER cache costs
      // a serialize-write of every row plus a deserialize-read, while the
      // recompute is a columnar parquet scan + decode that pipelines
      // straight into the shuffle map stage (measured cheaper at every SF)
      // range boundaries for ALL columns from ONE sampling job over the
      // decoded cache — sortByKey would run a separate full-pass sampling
      // job per column. Sampling error only skews partition SIZES
      // (mildly); rank correctness needs keys routed by value order plus
      // exact counts, and both are preserved. Ties sit on one partition:
      // the partitioner's binary search sends every key equal to a
      // boundary to the same side.
      val perPart = 640 // reservoir size per partition (±few % boundary error)
      val seed0 = 42
      val sampled = cur.mapPartitionsWithIndex { (pi, it) =>
        val rnd = new java.util.Random(seed0 + pi)
        val res = Array.fill(k)(new Array[Double](perPart))
        var seen = 0L
        while (it.hasNext) {
          val a = it.next()
          val slot =
            if (seen < perPart) seen.toInt
            else {
              val j = math.floorMod(rnd.nextLong(), seen + 1)
              if (j < perPart) j.toInt else -1
            }
          if (slot >= 0) { var c = 0; while (c < k) { res(c)(slot) = a(c); c += 1 } }
          seen += 1
        }
        val m = math.min(seen, perPart.toLong).toInt
        Iterator.single((res.map(_.take(m)), seen))
      }.collect()
      val allBounds: Array[Array[Double]] = Array.tabulate(k) { c =>
        val all = sampled.flatMap(_._1(c)).sorted
        if (all.isEmpty) Array.empty[Double]
        else Array.tabulate(np - 1) { b =>
          all(math.min(all.length - 1, ((b + 1).toLong * all.length / np).toInt))
        }
      }
      var n = 0L
      for (i <- 0 until k - 1) {
        val sorted = cur.map(a => (a(i), a))
          .repartitionAndSortWithinPartitions(
            new DoubleBoundsPartitioner(allBounds(i)))
        val counts = sorted.mapPartitionsWithIndex { (pi, it) =>
          var c = 0L
          while (it.hasNext) { it.next(); c += 1 }
          Iterator.single((pi, c))
        }.collect().sortBy(_._1).map(_._2)
        val offsets = counts.scanLeft(0L)(_ + _)
        n = offsets.last
        // second read of `sorted` below re-reads the local shuffle files
        // (re-sort on read, no re-shuffle); rank-replace streams tie runs
        val ranked = sorted.mapPartitionsWithIndex { (pi, it) =>
          val buf = it.buffered
          var pos = offsets(pi)
          new Iterator[Array[Double]] {
            private var pending: Iterator[Array[Double]] = Iterator.empty
            def hasNext: Boolean = pending.hasNext || buf.hasNext
            def next(): Array[Double] = {
              if (!pending.hasNext) {
                val bits = keyBits(buf.head._1)
                val run = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
                while (buf.hasNext && keyBits(buf.head._1) == bits)
                  run += buf.next()._2
                // 1-based positions p+1..p+len average to p + (len+1)/2
                val rank = pos + (run.length + 1) / 2.0
                pos += run.length
                pending = run.iterator.map { a => a(i) = rank; a }
              }
              pending.next()
            }
          }
        }
        // no persist: ranked's single consumer is the next sort's shuffle
        // write, and a recompute only re-reads this pass's local shuffle
        // files (re-sort on read, no re-shuffle) — the shuffle itself is
        // the checkpoint, so a SER cache write would be pure overhead
        cur = ranked
      }
      // Fused finale (the round-5 "Spearman sort-fusion" lever): the last
      // column's counts job existed only to turn local sort positions into
      // global ranks before a separate moment pass. Both collapse into ONE
      // job over the last sort: each partition folds moments against its
      // LOCAL tie-averaged ranks l (global rank r = l + o_p, with o_p the
      // rows in earlier partitions — ties never straddle partitions), and
      // the driver applies the offset shift exactly:
      //   Σ(r−μ)(d_j)   = Σ l·d_j + (o_p−μ)·Σ d_j
      //   Σ(r−μ)²       = Σ l² + 2(o_p−μ)·Σ l + (o_p−μ)²·n_p
      // where d_j = rank_j − μ of the already-final columns. μ = (n+1)/2 is
      // known from the first pass's counts (row count is invariant).
      val last = k - 1
      val mu = (n + 1) / 2.0
      val sortedLast = cur.map(a => (a(last), a))
        .repartitionAndSortWithinPartitions(
          new DoubleBoundsPartitioner(allBounds(last)))
      val partials = sortedLast.mapPartitionsWithIndex { (pi, it) =>
        val buf = it.buffered
        var np = 0L          // rows in this partition
        var s1 = 0.0; var s2 = 0.0 // Σl, Σl² of the last column's local ranks
        val u = new Array[Double](k)      // Σ d_j           (j < last)
        val t = new Array[Double](k)      // Σ l·d_j         (j < last)
        val sq = new Array[Double](k)     // Σ d_j²          (j < last)
        val sxy = new Array[Double](k * k) // Σ d_j·d_j'     (j < j' < last)
        val d = new Array[Double](k)
        while (buf.hasNext) {
          val bits = keyBits(buf.head._1)
          var len = 0
          val run = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
          while (buf.hasNext && keyBits(buf.head._1) == bits) {
            run += buf.next()._2; len += 1
          }
          val l = np + (len + 1) / 2.0 // 1-based local average rank
          np += len
          run.foreach { a =>
            s1 += l; s2 += l * l
            var j = 0
            while (j < last) {
              d(j) = a(j) - mu
              u(j) += d(j); t(j) += l * d(j); sq(j) += d(j) * d(j)
              j += 1
            }
            j = 0
            while (j < last) {
              var j2 = j + 1
              while (j2 < last) { sxy(j * k + j2) += d(j) * d(j2); j2 += 1 }
              j += 1
            }
          }
        }
        Iterator.single((pi, np, s1, s2, u, t, sq, sxy))
      }.collect().sortBy(_._1)
      val sq = new Array[Double](k)
      val sxy = new Array[Double](k * k)
      var off = 0L
      partials.foreach { case (_, np, s1, s2, u, t, q, xy) =>
        val s = off - mu // (o_p − μ): shift of this partition's local ranks
        sq(last) += s2 + 2 * s * s1 + s * s * np
        var j = 0
        while (j < last) {
          sxy(j * k + last) += t(j) + s * u(j)
          sq(j) += q(j)
          j += 1
        }
        j = 0
        while (j < k * k) { sxy(j) += xy(j); j += 1 }
        off += np
      }
      val pairs = for { i <- 0 until k; j <- 0 until k if i < j }
        yield s"${cols(i)}__${cols(j)}" ->
          (sxy(i * k + j) / math.sqrt(sq(i) * sq(j)))
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row.fromSeq(pairs.map(_._2))),
        org.apache.spark.sql.types.StructType(pairs.map(p =>
          org.apache.spark.sql.types.StructField(p._1,
            org.apache.spark.sql.types.DoubleType))))
    }
  }

  /** Exact WEIGHTED percentiles per group — quantiles of a value under
    * a weight column (token-mass-weighted doc-length median, importance-
    * weighted score quantiles): the Type-1 (lower) inverse CDF,
    *
    *   Q(p) = min { v : cumW(v) ≥ p · W }
    *
    * with cumW the running weight total in ascending value order and W
    * the group's weight mass. Always an OBSERVED value (no
    * interpolation), so results compare exactly across engines: the
    * running sum folds in the deterministic value order and both the
    * cut product and the comparisons are fixed op chains. Zero/negative
    * weights are refused (they make the CDF non-monotone).
    *
    * Scale shape: one hash aggregate to per-(group, value) weight
    * cells, one keyed window (cumulative sum in value order), one
    * final aggregate — all on the group key, output one row per
    * (group, p). */
  def weightedPercentile(df: DataFrame, groups: Seq[String],
                         valueCol: String, weightCol: String,
                         ps: Seq[Double]): DataFrame = {
    require(groups.nonEmpty, "weightedPercentile needs group columns")
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"percentiles must lie in (0, 1], got $ps")
    val gc = groups.map(col)
    val v = col(valueCol).cast("double")
    val wgt = col(weightCol).cast("double")
    val cells = df.na.drop(groups :+ valueCol :+ weightCol)
      .select(gc ++ Seq(v.as("__v"),
        when(wgt <= 0.0, raise_error(concat(
            lit(s"weightedPercentile: non-positive weight in " +
              s"$weightCol: "), wgt.cast("string"))))
          .otherwise(wgt).as("__w")): _*)
      .groupBy(gc :+ col("__v"): _*)
      .agg(sum("__w").as("__cw"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gc: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(gc: _*)
    val cum = cells
      .withColumn("__cum", sum("__cw").over(w))
      .withColumn("__tot", sum("__cw").over(wAll))
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      min(when(col("__cum") >= lit(p) * col("__tot"), col("__v")))
        .as(s"__q$i")
    }
    val perGroup = cum.groupBy(gc: _*).agg(aggs.head, aggs.tail: _*)
    val stackExpr = s"stack(${ps.length}, " +
      ps.zipWithIndex.map { case (p, i) => s"${p}D, __q$i" }
        .mkString(", ") + ") as (p, wpctl)"
    perGroup.select(gc :+ expr(stackExpr): _*)
  }

  /** Hierarchical rollup totals: one pass producing every prefix level
    * of `dims` — (a,b,c), (a,b), (a), grand total — via Spark's native
    * ROLLUP (Expand + one hash aggregate; Catalyst plans the multi-
    * level aggregation, nothing hand-scheduled). Rolled-up dimensions
    * surface as the `(all)` sentinel rather than NULL so downstream
    * sorts/joins need no null-handling, and `level` = grouping_id
    * (first dim = most significant bit; 0 = fully grouped row).
    * `dims` values must not collide with the sentinel. Output:
    * (dims… coalesced, level, n, total = Σ valueCol). */
  def rollupAgg(df: DataFrame, dims: Seq[String],
                valueCol: String): DataFrame = {
    require(dims.nonEmpty, "rollupAgg needs at least one dimension")
    val clean = df.na.drop(dims :+ valueCol)
    clean.rollup(dims.map(col): _*)
      .agg(grouping_id().as("level"), count(lit(1)).as("n"),
        sum(col(valueCol)).as("total"))
      .select(dims.map(c =>
        coalesce(col(c).cast("string"), lit("(all)")).as(c)) ++
        Seq(col("level"), col("n"), col("total")): _*)
  }

  /** Per-group robust means: alongside the plain mean, the
    * `p`-trimmed mean (drop values strictly outside the [p, 1−p]
    * exact quantiles, average the rest) and the `p`-winsorized mean
    * (CLAMP values to those quantiles, average everything) — the
    * outlier-insensitive location estimates for metrics where fences
    * ([[graft.clean.Clean]]) would be too aggressive to apply to the
    * data itself. Quantiles are exact ([[graft.expr.ExactPercentile]],
    * quantile_cont interpolation), so the cut points replay in SQL.
    *
    * Scale shape: one keyed percentile pass, one broadcast-friendly
    * join back, one final keyed aggregate. The DEFAULT cut is exact via
    * the shared sort path ([[SortedQuantiles]] — no per-group buffers;
    * the former buffering aggregate measured 26× at a 100× scale-up
    * because the final merge's parallelism was the group count).
    * `accuracy > 0` switches the cuts to `approx_percentile` (GK
    * sketch, bounded memory, rank error ≤ n/accuracy) and only the cut
    * POINTS are approximate — the
    * means are still exact aggregates of the values each side of them.
    * Output: (groups…, n, mean, trimmed_mean, winsorized_mean, q_lo,
    * q_hi). */
  def robustMean(df: DataFrame, groups: Seq[String], valueCol: String,
                 p: Double = 0.1, accuracy: Int = 0): DataFrame = {
    require(groups.nonEmpty, "robustMean needs at least one group col")
    require(p >= 0.0 && p < 0.5, s"p must be in [0, 0.5), got $p")
    require(accuracy >= 0, s"accuracy must be >= 0 (0 = exact), got $accuracy")
    val gc = groups.map(col)
    val v = col(valueCol).cast("double")
    val base = df.na.drop(groups :+ valueCol)
      .select(gc :+ v.as("__x"): _*)
    // exact cuts ride the shared sort path (no per-group buffers);
    // approx cuts stay the mergeable GK sketch. BOTH branches fold
    // pass 2 over the distinct-value CELL frame rather than re-scanning
    // the corpus: every sum/count below is a cell-count-weighted fold
    // (sum x = Σ v·c, counts = Σ c over the predicate's cells), so the
    // corpus is read once for the cells (plus once for the GK sketch in
    // approx mode). Float caveat: Σ v·c groups equal values into one
    // multiply instead of c additions — a (deterministic) change of
    // summation order, which the scaladoc already excludes from any bit
    // contract for continuous columns; integer-valued columns (the
    // oracle rows) are exact in any order. The cell cache is consumed
    // by the returned lazy plan → CacheRegistry lifecycle.
    val reqs = Seq(SortedQuantiles.Req("__q", col("__x"), Seq(p, 1.0 - p)))
    val cells = graft.util.CacheRegistry.cached("robustMean.cells",
      SortedQuantiles.cellsOf(base, groups, reqs))
    val cuts =
      if (accuracy == 0)
        SortedQuantiles.ofCounts(cells, groups, reqs)
          .select(gc ++ Seq(col("__q").getItem(0).as("q_lo"),
            col("__q").getItem(1).as("q_hi")): _*)
      else base.groupBy(gc: _*)
        .agg(percentile_approx(col("__x"),
          array(lit(p), lit(1.0 - p)), lit(accuracy)).as("__q"))
        .select(gc ++ Seq(col("__q").getItem(0).as("q_lo"),
          col("__q").getItem(1).as("q_hi")): _*)
    // winsorized mean by EXACT DECOMPOSITION — clamped-sum =
    // in-range sum + n_below·q_lo + n_above·q_hi — rather than
    // averaging per-row clamped values: mathematically identical, but
    // the op chain is fixed (two products + three divisions), so for
    // integer-valued columns the whole row replays BIT-FOR-BIT in any
    // engine (a per-row clamped avg() mixes quantile fractions into
    // the accumulation and goes sum-order-dependent)
    val inRange = col("__v") >= col("q_lo") && col("__v") <= col("q_hi")
    cells.join(broadcast(cuts), groups)
      .groupBy(gc: _*)
      .agg(sum(col("__c")).cast("long").as("n"),
        sum(col("__v") * col("__c")).as("__s"),
        sum(when(inRange, col("__v") * col("__c"))).as("__ts"),
        sum(when(inRange, col("__c")).otherwise(lit(0.0)))
          .cast("long").as("__tn"),
        sum(when(col("__v") < col("q_lo"), col("__c")).otherwise(lit(0.0)))
          .cast("long").as("__nlo"),
        sum(when(col("__v") > col("q_hi"), col("__c")).otherwise(lit(0.0)))
          .cast("long").as("__nhi"),
        first("q_lo").as("q_lo"), first("q_hi").as("q_hi"))
      .select(gc ++ Seq(col("n"),
        (col("__s") / col("n")).as("mean"),
        (col("__ts") / col("__tn")).as("trimmed_mean"),
        ((col("__ts") + col("__nlo") * col("q_lo") +
          col("__nhi") * col("q_hi")) / col("n"))
          .as("winsorized_mean"),
        col("q_lo"), col("q_hi")): _*)
  }

  /** Per-group concentration report — how unevenly a quantity is spread
    * across a group's members: the corpus-balance diagnostic ("is one
    * domain 80% of this source's token mass?") for weighting decisions.
    *
    *   gini = (2·Σᵢ i·x₍ᵢ₎ − (n+1)·Σx) / (n·Σx)   (x₍ᵢ₎ ascending)
    *   hhi  = Σ xᵢ² / (Σx)²                        (Herfindahl index)
    *
    * gini ∈ [0, 1−1/n] (0 = perfectly even), hhi ∈ [1/n, 1] (1 = one
    * member holds everything). Values must be non-negative (required —
    * Gini is undefined for mixed signs); groups with Σx = 0 yield null.
    * Both statistics are permutation-invariant over equal values, so
    * the row_number rank (value, then input order) is deterministic
    * WITHOUT a tie column.
    *
    * Scale shape: ONE shuffle on the group key — the ascending-rank
    * window and the final aggregate share the keyed partitioning;
    * output is one row per group. */
  def concentration(df: DataFrame, groups: Seq[String],
                    valueCol: String): DataFrame = {
    require(groups.nonEmpty, "concentration needs at least one group col")
    val gc = groups.map(col)
    val v = col(valueCol).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(gc: _*).orderBy(col("__x"))
    val base = df.na.drop(groups :+ valueCol)
      .select(gc :+ when(v < 0, raise_error(concat(
          lit(s"concentration: negative value in $valueCol: "),
          v.cast("string")))).otherwise(v).as("__x"): _*)
      .withColumn("__i", row_number().over(w))
    base.groupBy(gc: _*)
      .agg(count(lit(1)).as("n"), sum("__x").as("total"),
        sum(col("__i") * col("__x")).as("__ix"),
        sum(col("__x") * col("__x")).as("__xx"))
      .select(gc ++ Seq(col("n"), col("total"),
        ((lit(2.0) * col("__ix") - (col("n") + 1) * col("total")) /
          (col("n") * nullif(col("total"), lit(0.0)))).as("gini"),
        (col("__xx") / (nullif(col("total"), lit(0.0)) * col("total")))
          .as("hhi")): _*)
  }

  /** Per-group Theil T inequality index — the entropy-based companion of
    * [[concentration]]'s Gini/HHI (Theil decomposes additively across
    * sub-populations, which Gini does not):
    *
    *   T = (1/n) Σ (xᵢ/μ)·ln(xᵢ/μ)  =  Σ(x·ln x)/Σx − ln(Σx/n)
    *
    * T ∈ [0, ln n] (0 = perfectly even). Zero values contribute 0 (the
    * x→0 limit) but still count in n and μ; negative values are an
    * error (same contract as Gini); Σx = 0 groups yield null.
    *
    * Scale shape: ONE hash aggregate keyed on the group — no rank
    * window at all (the advantage over Gini's sorted form). */
  def theil(df: DataFrame, groups: Seq[String],
            valueCol: String): DataFrame = {
    require(groups.nonEmpty, "theil needs at least one group col")
    val gc = groups.map(col)
    val v = col(valueCol).cast("double")
    val x = when(v < 0, raise_error(concat(
      lit(s"theil: negative value in $valueCol: "), v.cast("string"))))
      .otherwise(v)
    df.na.drop(groups :+ valueCol)
      .select(gc :+ x.as("__x"): _*)
      .groupBy(gc: _*)
      .agg(count(lit(1)).as("n"), sum("__x").as("total"),
        sum(when(col("__x") > 0, col("__x") * log(col("__x")))
          .otherwise(lit(0.0))).as("__xlx"))
      .select(gc ++ Seq(col("n"), col("total"),
        (col("__xlx") / nullif(col("total"), lit(0.0)) -
          log(col("total") / col("n"))).as("theil")): _*)
  }

  /** Cronbach's alpha — internal consistency of k item columns scored
    * on the same rows (does a rubric/label-ensemble measure ONE
    * construct): α = k/(k−1)·(1 − Σᵢ varᵢ / var(Σᵢ itemᵢ)). Variances
    * are the explicit raw-sums chains (not the builtin aggregate, whose
    * accumulation order differs between engines) over rows complete in
    * ALL items (listwise deletion — the standard convention). ONE
    * aggregate carries every per-item sum plus the row-total sums.
    * Returns ONE row: (n, k, sum_item_var, total_var, alpha); a
    * zero-variance total yields null alpha. */
  def cronbachAlpha(df: DataFrame, itemCols: Seq[String]): DataFrame = {
    require(itemCols.size >= 2,
      s"cronbachAlpha needs >= 2 item columns, got ${itemCols.size}")
    val clean = df.na.drop(itemCols)
    val total = itemCols.map(c => col(c).cast("double")).reduce(_ + _)
    val aggs = Seq(count(lit(1)).cast("double").as("__n"),
      sum(total).as("__st"), sum(total * total).as("__sst")) ++
      itemCols.zipWithIndex.flatMap { case (c, i) =>
        val x = col(c).cast("double")
        Seq(sum(x).as(s"__s_$i"), sum(x * x).as(s"__ss_$i"))
      }
    val one = clean.agg(aggs.head, aggs.tail: _*)
    val n = col("__n")
    def v(s: Column, ss: Column) = (ss - s * s / n) / (n - 1)
    val sumItemVar = itemCols.indices
      .map(i => v(col(s"__s_$i"), col(s"__ss_$i")))
      .reduce(_ + _)
    val totalVar = v(col("__st"), col("__sst"))
    val k = itemCols.size
    one
      .withColumn("n", n.cast("long"))
      .withColumn("k", lit(k))
      .withColumn("sum_item_var", when(n >= 2, sumItemVar))
      .withColumn("total_var", when(n >= 2, totalVar))
      .withColumn("alpha",
        when(n >= 2 && totalVar > 0,
          lit(k.toDouble / (k - 1)) * (lit(1.0) - sumItemVar / totalVar)))
      .select("n", "k", "sum_item_var", "total_var", "alpha")
  }

  /** Exact per-group quantiles WITHOUT per-group buffers, on the
    * [[SortedQuantiles]] engine: the (keys, value) count cells are
    * range-sorted and the two covering order statistics of every
    * requested p (rank = p·(n−1), the ExactPercentile / quantile_cont
    * convention) are picked and interpolated like the buffering
    * aggregate, bit-for-bit, while work stays bounded by DISTINCT
    * (keys, value) pairs. This is the 100-TB shape for "P50/P95/P99 per
    * bucket" readouts where per-group sort buffers (Spark's
    * `percentile`, the house ExactPercentile) hold whole groups in
    * memory: groups here can be arbitrarily large, only their value
    * cardinality matters.
    *
    * Rows with a null key, or a null or NaN value, are dropped
    * (`na.drop`), so a group whose values are all NaN is omitted.
    * Returns one row per key with a `q_<p>` double column per requested
    * quantile (p rendered with '.'→'_', e.g. q_0_5); empty keys cannot
    * occur. */
  def quantilesByCounts(df: DataFrame, valueCol: String,
                        keys: Seq[String],
                        ps: Seq[Double]): DataFrame = {
    require(keys.nonEmpty, "quantilesByCounts needs key columns " +
      "(wrap a lit in a column for a global quantile)")
    val reqs = Seq(SortedQuantiles.Req("__q", col(valueCol), ps))
    SortedQuantiles.of(df.na.drop(keys :+ valueCol), keys, reqs)
      .select(keys.map(col) ++ ps.zipWithIndex.map { case (p, i) =>
        element_at(col("__q"), i + 1).as("q_" + p.toString.replace('.', '_'))
      }: _*)
  }

  /** Weighted moments per group — the readout for importance-weighted /
    * reweighted corpora (DSIR weights, IPW weights, frequency counts):
    * mean_w = Σwx/Σw, var_w = Σwx²/Σw − mean_w² (the population /
    * frequency-weight convention — weights are "this row counts w
    * times"), plus the effective sample size n_eff = (Σw)²/Σw² that
    * tells you what the weighting COST in statistical power (the Kish
    * formula — n_eff ≪ n means a few heavy rows dominate). Negative
    * weights are an error (raise_error, the [[theil]] contract);
    * zero-weight rows count in n but contribute nothing else. One hash
    * aggregate keyed on the groups (or one scalar aggregate when keys
    * is empty). Σw = 0 yields null moments. */
  def weightedMoments(df: DataFrame, valueCol: String, weightCol: String,
                      keys: Seq[String] = Nil): DataFrame = {
    val x = col(valueCol).cast("double")
    val wRaw = col(weightCol).cast("double")
    val w = when(wRaw < 0, raise_error(concat(
      lit(s"weightedMoments: negative weight in $weightCol: "),
      wRaw.cast("string")))).otherwise(wRaw)
    val clean = df.na.drop(keys ++ Seq(valueCol, weightCol))
    val aggs = Seq(
      count(lit(1)).as("n"),
      sum(w).as("sum_w"),
      sum(w * x).as("__swx"),
      sum(w * x * x).as("__swxx"),
      sum(w * w).as("__sww"))
    val g = if (keys.isEmpty) clean.agg(aggs.head, aggs.tail: _*)
    else clean.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val mw = col("__swx") / col("sum_w")
    g
      .withColumn("mean_w", when(col("sum_w") > 0, mw))
      .withColumn("var_w",
        when(col("sum_w") > 0, col("__swxx") / col("sum_w") - mw * mw))
      .withColumn("n_eff",
        when(col("__sww") > 0,
          col("sum_w") * col("sum_w") / col("__sww")))
      .drop("__swx", "__swxx", "__sww")
  }

  /** Simpson's-paradox screen for a (x, y) relationship across strata:
    * per-group Pearson r alongside the POOLED r, flagging groups whose
    * association sign contradicts the pooled sign — the classic
    * aggregation trap (every stratum trends one way, the pool the
    * other) surfaced as data instead of folklore. One hash aggregate
    * keyed on the group builds the per-group raw sums; the pooled sums
    * FOLD FROM THE GROUP FRAME (Σ over groups of each sum — no second
    * corpus scan) and broadcast back. Correlations use the raw-sums
    * identity — center astronomically-scaled columns first (the
    * [[anovaF]] caveat). Returns one row per group: (group, n, r_group,
    * r_pooled, sign_flip); degenerate variances yield null r and a
    * false flag. */
  def simpsonCheck(df: DataFrame, xCol: String, yCol: String,
                   groupCol: String): DataFrame = {
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val g = df.filter(x.isNotNull && y.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).cast("double").as("__n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * x).as("__sxx"), sum(y * y).as("__syy"),
        sum(x * y).as("__sxy"))
    def r(n: Column, sx: Column, sy: Column, sxx: Column, syy: Column,
          sxy: Column): Column = {
      val vx = n * sxx - sx * sx
      val vy = n * syy - sy * sy
      when(n >= 2 && vx > 0 && vy > 0,
        (n * sxy - sx * sy) / sqrt(vx * vy))
    }
    val pooled = g.agg(sum("__n").as("__pn"), sum("__sx").as("__psx"),
        sum("__sy").as("__psy"), sum("__sxx").as("__psxx"),
        sum("__syy").as("__psyy"), sum("__sxy").as("__psxy"))
      .select(r(col("__pn"), col("__psx"), col("__psy"), col("__psxx"),
        col("__psyy"), col("__psxy")).as("r_pooled"))
    g.crossJoin(broadcast(pooled))
      .withColumn("r_group", r(col("__n"), col("__sx"), col("__sy"),
        col("__sxx"), col("__syy"), col("__sxy")))
      .withColumn("sign_flip",
        coalesce(col("r_group") * col("r_pooled") < 0, lit(false)))
      .select(col("group"), col("__n").cast("long").as("n"),
        col("r_group"), col("r_pooled"), col("sign_flip"))
  }

  /** Box-Cox transform selection by profile likelihood over a λ grid:
    * for each candidate λ, the transform y(λ) = (x^λ − 1)/λ (ln x at
    * λ = 0) is scored by the profile log-likelihood
    * ℓ(λ) = −n/2 · ln(σ̂²_λ) + (λ − 1)·Σ ln x, where σ̂²_λ is the
    * population variance of the transformed values — the standard MLE
    * identity, so argmax ℓ is the Box-Cox λ̂. Requires strictly
    * positive values (raise_error otherwise — the [[theil]] contract).
    *
    * Returns one row per λ: (lambda, n, loglik, is_best), ordered by
    * λ; is_best marks the grid argmax (ties break toward the smaller
    * λ). Callers wanting the transform itself apply
    * `(pow(x, λ̂) − 1)/λ̂` — fitting and applying are separate passes
    * by design (the imputer/fencer replay precedent).
    *
    * Scale shape: ONE aggregate computes Σln x once plus (Σt, Σt²)
    * per grid point — 2·|grid|+2 agg columns over one corpus scan; the
    * per-λ rows explode from that single row, and the best-pick window
    * runs over |grid| rows. Constant columns yield null loglik wherever
    * the transformed variance computes exactly 0 (identity-like λ);
    * other λ can retain a ±1-ulp variance and a huge negative loglik —
    * the grid readout is meaningless for constant data either way, so
    * check variance upstream, not is_best. */
  def boxCoxFit(df: DataFrame, valueCol: String,
                lambdas: Seq[Double] =
                  Seq(-2.0, -1.5, -1.0, -0.5, 0.0, 0.5, 1.0, 1.5, 2.0))
      : DataFrame = {
    require(lambdas.nonEmpty, "boxCoxFit: empty lambda grid")
    require(lambdas.distinct.size == lambdas.size,
      s"boxCoxFit: duplicate lambdas in grid $lambdas")
    val v = col(valueCol).cast("double")
    val x = when(v <= 0, raise_error(concat(
      lit(s"boxCoxFit: non-positive value in $valueCol: "),
      v.cast("string")))).otherwise(v)
    // materialize each transform ONCE before aggregating — pow in the
    // agg expressions would re-evaluate per referencing sum (the
    // bootstrap CASE-chain lesson, NOTES r9)
    def tf(lam: Double) =
      if (lam == 0.0) log(col("__x"))
      else (pow(col("__x"), lit(lam)) - 1) / lam
    val base = df.na.drop(Seq(valueCol)).select(x.as("__x"))
      .select(col("__x") +: lambdas.indices.map(i =>
        tf(lambdas(i)).as(s"__t_$i")): _*)
    val aggs = Seq(count(lit(1)).cast("double").as("__n"),
      sum(log(col("__x"))).as("__sumln")) ++
      lambdas.indices.flatMap { i =>
        val t = col(s"__t_$i")
        Seq(sum(t).as(s"__s_$i"), sum(t * t).as(s"__ss_$i"))
      }
    val one = base.agg(aggs.head, aggs.tail: _*)
    val rows = lambdas.zipWithIndex.map { case (lam, i) =>
      val n = col("__n")
      val variance = col(s"__ss_$i") / n -
        (col(s"__s_$i") / n) * (col(s"__s_$i") / n)
      struct(lit(lam).as("lambda"), n.cast("long").as("n"),
        when(variance > 0,
          lit(-0.5) * n * log(variance) + (lit(lam) - 1) * col("__sumln"))
          .as("loglik"))
    }
    val long = one.select(explode(array(rows: _*)).as("r")).select("r.*")
    val best = org.apache.spark.sql.expressions.Window.partitionBy()
    long
      .withColumn("is_best",
        col("loglik").isNotNull &&
          col("loglik") === max("loglik").over(best) &&
          row_number().over(best.orderBy(
            col("loglik").desc_nulls_last, col("lambda").asc)) === 1)
      .orderBy("lambda")
  }

  /** One-pass schema-wide table profile: for every column (or the given
    * subset), (column, n_rows, n_nonnull, n_distinct, min_str, max_str)
    * in one aggregate — the data-engineering "what is actually in this
    * table" report. min/max compare in the column's native type and cast
    * to string only for the uniform output row.
    *
    * `exact = false` (default) counts distincts with HLL
    * (approx_count_distinct) — ONE pass, no expand, the 100-TB shape.
    * `exact = true` uses count(DISTINCT ...), which Spark plans via an
    * Expand of k× the input rows for k profiled columns — precise, and
    * priced accordingly; the oracle contract runs this mode. */
  def tableProfile(df: DataFrame, cols: Seq[String] = Nil,
                   exact: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    require(names.nonEmpty, "tableProfile: no columns")
    graft.util.Errors.context("tableProfile", names) {
    val aggs = count(lit(1)).as("__n") +: names.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    import spark.implicits._
    names.zipWithIndex.map { case (c, i) =>
      val b = 1 + i * 4
      (c, n, row.getLong(b), row.getLong(b + 1),
        Option(row.getString(b + 2)), Option(row.getString(b + 3)))
    }.toDF("column", "n_rows", "n_nonnull", "n_distinct", "min_str",
      "max_str")
  } }
}
