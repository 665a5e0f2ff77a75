package graft.eval

import graft.util.PartitionPrefixScan
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.mllib.evaluation.BinaryClassificationMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Binary-classification evaluation (reference extensions/evaluation.py).
  *
  * The reference adapts DataFrames to mllib's RDD-based
  * BinaryClassificationMetrics through py4j SerDe. Here the curves are
  * DataFrame-NATIVE: one groupBy(score) aggregation, then cumulative
  * tp/fp from a range-partitioned sort with per-partition offset merging
  * (the same distributed cumulative pattern as mllib's internals and the
  * engine's KS/Spearman passes) — no global window, no single-partition
  * stage even when the classifier emits millions of distinct scores. An
  * mllib adapter is kept for AUC parity.
  */
object BinaryMetrics {

  /** Normalize a probability-vector or double score column to a double
    * score (reference to_metrics_RDD, sql/dataframe.py:491-493: takes
    * P(class=1) from the vector). */
  def scoreAndLabels(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val scoreExpr = df.schema(scoreCol).dataType.typeName match {
      case "vector" => vector_to_array(col(scoreCol)).getItem(1)
      case _        => col(scoreCol).cast("double")
    }
    // drop null scores/labels: mllib's metrics require complete pairs, and
    // the cumulative passes read these columns as primitive doubles
    df.select(scoreExpr.as("score"), col(labelCol).cast("double").as("label"))
      .na.drop(Seq("score", "label"))
  }

  /** Shared distributed-cumulative scaffolding: per-score (pos, neg)
    * counts as a [[PartitionPrefixScan]] in descending score order, plus
    * each partition's starting (tp, fp) — the totals of all earlier
    * partitions — and the grand totals P and N. */
  private def cumScaffold(df: DataFrame, scoreCol: String, labelCol: String)
      : (PartitionPrefixScan, Array[(Double, Double)], Double, Double) = {
    val perScore = scoreAndLabels(df, scoreCol, labelCol)
      .groupBy(col("score")).agg(
        sum(col("label")).cast("double").as("pos"),
        (count(lit(1)) - sum(col("label"))).cast("double").as("neg"))
    val scan = PartitionPrefixScan.sorted(perScore, col("score").desc)
    val partTotals = scan.summarize { it =>
      var pos = 0.0; var neg = 0.0
      it.foreach { r => pos += r.getDouble(1); neg += r.getDouble(2) }
      (pos, neg)
    }
    val posOff = partTotals.map(_._1).scanLeft(0.0)(_ + _)
    val negOff = partTotals.map(_._2).scanLeft(0.0)(_ + _)
    (scan, posOff.zip(negOff), posOff.last, negOff.last)
  }

  private val curveSchema = StructType(
    Seq("threshold", "tp", "fp").map(StructField(_, DoubleType)))

  /** Per-threshold confusion counts: threshold, tp, fp, fn, tn, plus
    * fpr / recall(tpr) / precision. Thresholds are the distinct scores,
    * descending (mllib semantics: predict positive when score >= t). */
  def curveData(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val (scan, offsets, p, n) = cumScaffold(df, scoreCol, labelCol)
    val cum = scan.emit(offsets, curveSchema) { case ((tp0, fp0), it) =>
      var tp = tp0
      var fp = fp0
      it.map { r =>
        tp += r.getDouble(1)
        fp += r.getDouble(2)
        val o = new GenericInternalRow(3)
        o.update(0, r.getDouble(0)); o.update(1, tp); o.update(2, fp)
        o: InternalRow
      }
    }
    // p / n are driver-side constants; a zero class count would be an ANSI
    // DIVIDE_BY_ZERO at runtime, so degrade to NaN here (mllib's curves are
    // equally undefined there). precision is safe: every distinct score has
    // >= 1 row, so tp + fp >= 1 at every curve point.
    val fprE = if (n == 0) lit(Double.NaN) else col("fp") / lit(n)
    val recE = if (p == 0) lit(Double.NaN) else col("tp") / lit(p)
    cum.select(col("threshold"), col("tp"), col("fp"),
        (lit(p) - col("tp")).as("fn"),
        (lit(n) - col("fp")).as("tn"),
        fprE.as("fpr"), recE.as("recall"),
        (col("tp") / (col("tp") + col("fp"))).as("precision"))
  }

  /** ROC points (fpr, tpr) ordered by threshold desc, with the (0,0) and
    * (1,1) terminals mllib emits. */
  def roc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val curve = curveData(df, scoreCol, labelCol)
      .select(col("fpr"), col("recall").as("tpr"))
    Seq((0.0, 0.0)).toDF("fpr", "tpr")
      .unionAll(curve)
      .unionAll(Seq((1.0, 1.0)).toDF("fpr", "tpr"))
  }

  /** PR points (recall, precision). */
  def pr(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    curveData(df, scoreCol, labelCol).select(col("recall"), col("precision"))

  /** threshold → fpr/recall/precision frame + terminal row (0,1,1,0)
    * (reference getMetricsByThreshold, extensions/evaluation.py:60-75). */
  def metricsByThreshold(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    curveData(df, scoreCol, labelCol)
      .select(col("threshold"), col("fpr"), col("recall"), col("precision"))
      .unionAll(Seq((0.0, 1.0, 1.0, 0.0))
        .toDF("threshold", "fpr", "recall", "precision"))
  }

  /** Operating-point selection: the highest-recall threshold whose
    * precision meets `minPrecision` — "keep as much as possible at ≥90%
    * purity", the knob that turns a trained quality scorer into a
    * corpus filter. Recall is non-increasing in the threshold, so the
    * answer is the SMALLEST qualifying distinct score; returns an empty
    * frame when the precision floor is unattainable (caller decides the
    * fallback). Same one-sort distributed cumulative pass as the curve
    * accessors. */
  def thresholdAtPrecision(df: DataFrame, scoreCol: String,
                           labelCol: String,
                           minPrecision: Double): DataFrame = {
    require(minPrecision > 0.0 && minPrecision <= 1.0,
      s"thresholdAtPrecision: minPrecision must be in (0,1], got $minPrecision")
    curveData(df, scoreCol, labelCol)
      .filter(col("precision") >= minPrecision)
      .orderBy(col("threshold"))
      .limit(1)
      .select(col("threshold"), col("precision"), col("recall"))
  }

  /** Distinct thresholds, descending (reference `thresholds`,
    * extensions/evaluation.py:8-12 → mllib's thresholds = the distinct
    * scores). One column so callers can zip against the curve frames. */
  def thresholds(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    scoreAndLabels(df, scoreCol, labelCol)
      .select(col("score").as("threshold")).distinct()
      .orderBy(col("threshold").desc)

  /** (threshold, precision) curve (reference precisionByThreshold,
    * extensions/evaluation.py:46-51). */
  def precisionByThreshold(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    curveData(df, scoreCol, labelCol).select(col("threshold"), col("precision"))

  /** (threshold, recall) curve (reference recallByThreshold,
    * extensions/evaluation.py:53-58). */
  def recallByThreshold(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    curveData(df, scoreCol, labelCol).select(col("threshold"), col("recall"))

  /** (threshold, F-measure) curve (reference fMeasureByThreshold,
    * extensions/evaluation.py:36-44). mllib's FMeasure: F_β =
    * (1+β²)·P·R / (β²·P + R), and 0.0 when P+R == 0 (all-negative data —
    * P is 0/0-free here because every distinct score has ≥1 row, so
    * tp+fp ≥ 1 at every curve point, but R = tp/p is 0 when p > 0 and no
    * positives scored above t, making P+R = 0 reachable only when P = 0
    * too). */
  def fMeasureByThreshold(df: DataFrame, scoreCol: String, labelCol: String,
                          beta: Double = 1.0): DataFrame = {
    require(beta > 0, s"beta must be positive, got $beta")
    val b2 = beta * beta
    // p == 0 (no positives at all) makes curveData's recall 0/0 = NaN;
    // mllib's Recall returns 0.0 there, so normalize before the F formula
    val rec = nanvl(col("recall"), lit(0.0))
    curveData(df, scoreCol, labelCol)
      .select(col("threshold"),
        when(col("precision") + rec === 0.0, 0.0)
          .otherwise((lit(1.0 + b2) * col("precision") * rec) /
            (lit(b2) * col("precision") + rec))
          .as("f_measure"))
  }

  /** Confusion matrix at a threshold — ONE aggregation pass
    * (reference binarizes + MulticlassMetrics, extensions/evaluation.py:77-95). */
  def confusionMatrix(df: DataFrame, scoreCol: String, labelCol: String,
                      threshold: Double): DataFrame = {
    val sl = scoreAndLabels(df, scoreCol, labelCol)
    val pred = (col("score") >= lit(threshold)).cast("int")
    val lbl = col("label").cast("int")
    sl.agg(
      sum(((pred === 0) && (lbl === 0)).cast("long")).as("tn"),
      sum(((pred === 1) && (lbl === 0)).cast("long")).as("fp"),
      sum(((pred === 0) && (lbl === 1)).cast("long")).as("fn"),
      sum(((pred === 1) && (lbl === 1)).cast("long")).as("tp"))
  }

  /** DataFrame-native AUC under the ROC and PR curves by trapezoid over
    * the score-descending curve (reference extensions/evaluation.py:8-58
    * reaches these through the mllib adapter). Same distributed cumulative
    * pass as `curveData`; each partition folds its rows' trapezoid
    * contributions locally, so only #partitions partial sums reach the
    * driver — no global window, and the curve itself is never
    * materialized. Matches mllib's semantics exactly: ROC is anchored at
    * (0,0) (the final curve point already IS (1,1)); PR prepends (0, p₁)
    * where p₁ is the precision at the highest threshold. */
  def auc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (scan, offsets, p, n) = cumScaffold(df, scoreCol, labelCol)
    val partials = scan.fold(offsets) { case ((tpStart, fpStart), it) =>
      var tp = tpStart
      var fp = fpStart
      var rocArea = 0.0
      var prArea = 0.0
      it.foreach { r =>
        val tp0 = tp; val fp0 = fp
        tp += r.getDouble(1)
        fp += r.getDouble(2)
        rocArea += (fp - fp0) * (tp + tp0) / 2
        val prec = tp / (tp + fp)
        // the global first curve point has no predecessor: mllib's PR curve
        // prepends (0, p₁), i.e. prev precision = own precision there
        val prec0 = if (tp0 + fp0 == 0) prec else tp0 / (tp0 + fp0)
        prArea += (tp - tp0) / p * (prec + prec0) / 2
      }
      (rocArea, prArea)
    }
    // no positives (or no rows): both areas are undefined — NaN, not a
    // misleading 0.0 (rocArea/(p·n) is already NaN via 0/0)
    val prAuc = if (p == 0) Double.NaN else partials.map(_._2).sum
    Seq((partials.map(_._1).sum / (p * n), prAuc))
      .toDF("auc_roc", "auc_pr")
  }

  /** Formatted Actual/Predicted confusion table (reference
    * print_confusion_matrix, extensions/evaluation.py:97-116: predicted
    * classes in columns ascending, actuals in rows, pandas-style
    * two-level header). One distributed agg for the counts; the frame is
    * local string formatting. */
  def printConfusionMatrix(df: DataFrame, scoreCol: String, labelCol: String,
                           threshold: Double = 0.5): String = {
    val r = confusionMatrix(df, scoreCol, labelCol, threshold).head()
    val (tn, fp, fn, tp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val w = math.max(5, Seq(tn, fp, fn, tp).map(_.toString.length).max + 2)
    def cell(s: String) = s.reverse.padTo(w, ' ').reverse
    val header1 = " " * 12 + cell("Predicted") + cell("")
    val header2 = " " * 12 + cell("0.0") + cell("1.0")
    val row0 = "Actual 0.0  " + cell(tn.toString) + cell(fp.toString)
    val row1 = "       1.0  " + cell(fn.toString) + cell(tp.toString)
    Seq(header1, header2, row0, row1).mkString("\n")
  }

  /** Reliability (calibration) curve: scores in [0, 1] bucketed into
    * `bins` equal-width bins (score 1.0 clamps into the last bin), each
    * bin reporting its row count, mean predicted probability, and
    * empirical positive rate — the "is 0.9 really 90%?" diagnostic for
    * any trained scorer ([[graft.pipeline.Classify]]'s quality
    * classifier being the in-repo producer). ONE aggregation pass,
    * output bounded by `bins`; scale-free. */
  def calibrationCurve(df: DataFrame, scoreCol: String, labelCol: String,
                       bins: Int = 10): DataFrame = {
    require(bins >= 1, s"calibrationCurve: bins must be >= 1, got $bins")
    val sl = scoreAndLabels(df, scoreCol, labelCol)
    sl.groupBy(least(floor(col("score") * bins), lit(bins - 1))
        .cast("int").as("bin"))
      .agg(count(lit(1)).as("n"),
        avg(col("score")).as("mean_pred"),
        avg(col("label")).as("frac_pos"))
  }

  /** Isotonic calibration by pool-adjacent-violators over score bins:
    * fits the monotone step function mapping raw scores to calibrated
    * probabilities — the standard post-hoc fix when [[calibrationCurve]]
    * shows a scorer is directionally right but miscalibrated. The
    * corpus folds to ≤ `bins` (bin, n, pos) aggregates in ONE pass; PAV
    * pools on the driver (O(bins), trivial); applying the fit is a
    * stateless array lookup ([[calibrateColumn]]) — so calibrating a
    * 100-TB corpus costs one aggregation plus one map pass.
    *
    * Returns (bin, n, pos, frac_pos, calibrated) per non-empty bin.
    * PAV invariants (spec-pinned, contract-checked by q_isotonic):
    * calibrated is non-decreasing in bin, stays in [0, 1], and
    * conserves mass: Σ n·calibrated = Σ pos exactly (each pool's value
    * IS its pooled rate). Empty bins get no row — [[calibrateColumn]]
    * carries the previous bin's value forward. */
  def isotonicCalibrate(df: DataFrame, scoreCol: String, labelCol: String,
                        bins: Int = 100): DataFrame = {
    require(bins >= 1, s"isotonicCalibrate: bins must be >= 1, got $bins")
    val spark = df.sparkSession
    import spark.implicits._
    val sl = scoreAndLabels(df, scoreCol, labelCol)
    // integer (n, pos) per bin — the PAV merge rule compares rates by
    // Long cross-multiplication, exact, no float thresholds
    val binned = sl.groupBy(least(floor(col("score") * bins), lit(bins - 1))
        .cast("int").as("bin"))
      .agg(count(lit(1)).as("n"), sum("label").cast("long").as("pos"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    // PAV with a merge stack: each block carries (startIdx, pos, n);
    // a new block absorbs the top while the top's rate >= its own
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    binned.indices.foreach { i =>
      val (_, n, pos) = binned(i)
      var cur = (i, pos, n)
      while (stack.nonEmpty &&
          stack.last._2 * cur._3 >= cur._2 * stack.last._3) {
        val t = stack.remove(stack.length - 1)
        cur = (t._1, t._2 + cur._2, t._3 + cur._3)
      }
      stack += cur
    }
    val calibrated = new Array[Double](binned.length)
    stack.indices.foreach { bi =>
      val (start, pos, n) = stack(bi)
      val end = if (bi + 1 < stack.length) stack(bi + 1)._1 else binned.length
      val rate = pos.toDouble / n
      (start until end).foreach(calibrated(_) = rate)
    }
    binned.indices.map { i =>
      val (bin, n, pos) = binned(i)
      (bin, n, pos, pos.toDouble / n, calibrated(i))
    }.toDF("bin", "n", "pos", "frac_pos", "calibrated")
  }

  /** Per-group [[isotonicCalibrate]]: one aggregation folds the corpus
    * to (group, bin, n, pos) cells, PAV runs per group on the driver —
    * sources miscalibrate differently (a web-crawl scorer reads fan
    * fiction differently than legal text), so one global fit papers
    * over per-source bias. Output adds `groupCol`; each group's rows
    * equal its standalone [[isotonicCalibrate]] fit (spec-pinned). */
  def isotonicCalibrateBy(df: DataFrame, scoreCol: String,
                          labelCol: String, groupCol: String,
                          bins: Int = 100): DataFrame = {
    require(bins >= 1, s"isotonicCalibrateBy: bins must be >= 1, got $bins")
    val spark = df.sparkSession
    import spark.implicits._
    val sl = df.select(col(groupCol).cast("string").as("g"),
        col(scoreCol).cast("double").as("score"),
        col(labelCol).cast("double").as("label"))
      .na.drop(Seq("g", "score", "label"))
    val cells = sl.groupBy(col("g"),
        least(floor(col("score") * bins), lit(bins - 1)).cast("int")
          .as("bin"))
      .agg(count(lit(1)).as("n"), sum("label").cast("long").as("pos"))
      .as[(String, Int, Long, Long)].collect()
    cells.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (g, rows) =>
      val binned = rows.map(r => (r._2, r._3, r._4)).sortBy(_._1)
      pavFit(binned).map { case (bin, n, pos, fp, cal) =>
        (g, bin, n, pos, fp, cal) }
    }.toDF(groupCol, "bin", "n", "pos", "frac_pos", "calibrated")
  }

  /** PAV over sorted integer (bin, n, pos) cells → per-bin
    * (bin, n, pos, frac_pos, calibrated); shared by the global and
    * grouped isotonic fits. */
  private def pavFit(binned: Array[(Int, Long, Long)])
      : Seq[(Int, Long, Long, Double, Double)] = {
    val stack = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    binned.indices.foreach { i =>
      val (_, n, pos) = binned(i)
      var cur = (i, pos, n)
      while (stack.nonEmpty &&
          stack.last._2 * cur._3 >= cur._2 * stack.last._3) {
        val t = stack.remove(stack.length - 1)
        cur = (t._1, t._2 + cur._2, t._3 + cur._3)
      }
      stack += cur
    }
    val calibrated = new Array[Double](binned.length)
    stack.indices.foreach { bi =>
      val (start, pos, n) = stack(bi)
      val end = if (bi + 1 < stack.length) stack(bi + 1)._1 else binned.length
      val rate = pos.toDouble / n
      (start until end).foreach(calibrated(_) = rate)
    }
    binned.indices.map { i =>
      val (bin, n, pos) = binned(i)
      (bin, n, pos, pos.toDouble / n, calibrated(i))
    }
  }

  /** Murphy decomposition of the Brier score over `bins` equal-width
    * score bins: brier = reliability − resolution + uncertainty, where
    * reliability = Σ nᵦ(p̄ᵦ − ȳᵦ)²/N  (calibration error — want 0),
    * resolution  = Σ nᵦ(ȳᵦ − ȳ)²/N   (discrimination — want large),
    * uncertainty = ȳ(1 − ȳ)           (data's irreducible floor).
    * With continuous scores binned, the EXACT identity carries two
    * within-bin terms (both emitted, so the check is explicit):
    * brier = reliability − resolution + uncertainty
    *         + within_bin_var − 2·within_bin_cov
    * — within_bin_var is the score variance around each bin's mean
    * forecast, within_bin_cov the score-label covariance inside bins
    * (both → 0 as bins narrow). One aggregation pass, O(bins) result. */
  def brierDecomposition(df: DataFrame, scoreCol: String, labelCol: String,
                         bins: Int = 10): DataFrame = {
    require(bins >= 1, s"brierDecomposition: bins must be >= 1, got $bins")
    val spark = df.sparkSession
    import spark.implicits._
    val sl = scoreAndLabels(df, scoreCol, labelCol)
    // ONE corpus pass folds to ≤bins cells; the decomposition (which
    // needs the global ȳ across cells) is driver arithmetic
    val cells = sl.groupBy(least(floor(col("score") * bins), lit(bins - 1))
        .cast("int").as("bin"))
      .agg(count(lit(1)).cast("double").as("n"),
        avg("score").as("pbar"), avg("label").as("ybar"),
        avg(pow(col("score") - col("label"), 2)).as("bs"),
        (avg(pow(col("score"), 2)) - pow(avg(col("score")), 2)).as("v"),
        (avg(col("score") * col("label")) -
          avg(col("score")) * avg(col("label"))).as("cv"))
      .as[(Int, Double, Double, Double, Double, Double, Double)].collect()
    val n = cells.map(_._2).sum
    if (n == 0) {
      Seq.empty[(Long, Double, Double, Double, Double, Double, Double)]
        .toDF("n", "brier", "reliability", "resolution", "uncertainty",
          "within_bin_var", "within_bin_cov")
    } else {
      val ybar = cells.map(c => c._2 * c._4).sum / n
      val brier = cells.map(c => c._2 * c._5).sum / n
      val rel = cells.map(c => c._2 * (c._3 - c._4) * (c._3 - c._4)).sum / n
      val res = cells.map(c => c._2 * (c._4 - ybar) * (c._4 - ybar)).sum / n
      val unc = ybar * (1.0 - ybar)
      val wv = cells.map(c => c._2 * c._6).sum / n
      val wc = cells.map(c => c._2 * c._7).sum / n
      Seq((n.toLong, brier, rel, res, unc, wv, wc))
        .toDF("n", "brier", "reliability", "resolution", "uncertainty",
          "within_bin_var", "within_bin_cov")
    }
  }

  /** Piecewise-constant calibrated score from an [[isotonicCalibrate]]
    * result (collected driver-side): score → its bin's calibrated value,
    * empty bins inheriting the nearest lower non-empty bin (clamped to
    * the first fitted value below the fitted range). Pure projection —
    * the literal lookup array inlines into codegen. */
  def calibrateColumn(scoreCol: Column, fit: Array[(Int, Double)],
                      bins: Int = 100): Column = {
    require(fit.nonEmpty, "calibrateColumn: empty fit")
    val sorted = fit.sortBy(_._1)
    val full = new Array[Double](bins)
    var next = 0
    var last = sorted.head._2
    for (b <- 0 until bins) {
      if (next < sorted.length && sorted(next)._1 == b) {
        last = sorted(next)._2; next += 1
      }
      full(b) = last
    }
    val lut = array(full.map(lit): _*)
    element_at(lut,
      (least(floor(scoreCol * bins), lit(bins - 1)).cast("int") + 1))
  }

  /** Brier score: mean squared error of the predicted probability,
    * (1/n)·Σ(p − y)² — the proper scoring rule companion of the
    * calibration curve (lower is better; 0.25 = uninformed 0.5
    * scorer on balanced labels). One aggregation pass. */
  def brierScore(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val sl = scoreAndLabels(df, scoreCol, labelCol)
    sl.agg(avg(pow(col("score") - col("label"), 2)).as("brier"),
      count(lit(1)).as("n"))
  }

  /** Per-group ROC AUC by the Mann-Whitney rank-sum identity:
    * AUC = (Σ_pos avgRank − P(P+1)/2) / (P·N) with ties at average rank
    * — exactly the trapezoid area [[auc]] computes, but as a closed-form
    * aggregate, so it GROUPS: one row per key, no curve materialized.
    * Plan: groupBy (keys, score) folds rows to per-score (pos, cnt)
    * first, so the rank window runs over DISTINCT scores per group (a
    * classifier emits far fewer distinct scores than rows), then one
    * windowed cumulative sum and one final aggregate. Groups with no
    * positives or no negatives yield NaN (0/0), not a fake 0.5. */
  def aucBy(df: DataFrame, scoreCol: String, labelCol: String,
            groupCols: String*): DataFrame = {
    val keyed = df.select(groupCols.map(col) :+
        col(scoreCol).cast("double").as("score") :+
        col(labelCol).cast("double").as("label"): _*)
      .na.drop(groupCols :+ "score" :+ "label")
    val perScore = keyed
      .groupBy((groupCols :+ "score").map(col): _*)
      .agg(sum("label").as("pos"), count(lit(1)).cast("double").as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranked = perScore.withColumn("below",
      coalesce(sum(col("cnt")).over(w), lit(0.0)))
      .withColumn("avg_rank", col("below") + (col("cnt") + 1.0) / 2.0)
    val aggs = Seq(
      sum(col("pos")).as("p"),
      sum(col("cnt") - col("pos")).as("n"),
      sum(col("pos") * col("avg_rank")).as("pos_rank_sum"))
    val folded =
      if (groupCols.isEmpty) ranked.agg(aggs.head, aggs.tail: _*)
      else ranked.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // CASE guards the ANSI divide: single-class groups are NaN by contract
    folded.withColumn("auc_roc",
        when(col("p") > 0 && col("n") > 0,
          (col("pos_rank_sum") - col("p") * (col("p") + 1.0) / 2.0) /
            (col("p") * col("n")))
          .otherwise(lit(Double.NaN)))
      .select(groupCols.map(col) :+ col("p").cast("long").as("pos") :+
        col("n").cast("long").as("neg") :+ col("auc_roc"): _*)
  }

  /** Cumulative gains / lift table — the "how much better than random
    * is the top decile" report scorers ship with. Rows rank by
    * (score DESC, tie ASC) — `tieCol` must be unique per row so the
    * equal-frequency split is total and replayable — and bucket
    * b ∈ [1, nBuckets] holds ranks r with ⌊(r−1)·B/n⌋ = b−1 (the
    * row_number formulation of an even split; ties at a bucket
    * boundary go where their tie column says, not arbitrarily).
    * Per bucket: n, pos, rate = pos/n, lift = rate/overall,
    * cum_n, cum_pos, gain = cum_pos/total_pos,
    * cum_lift = (cum_pos/cum_n)/overall. All ratios are single
    * divisions of exact longs — bit-replayable in any engine.
    * A label is positive when != 0.
    *
    * Scale shape: global ranking WITHOUT a single-partition window —
    * a [[PartitionPrefixScan]] on (score desc, tie): pass 1 counts
    * partition sizes, pass 2 folds each partition's rows, ranked from
    * its offset, into its ≤ nBuckets local (n, pos) cells. Driver merges
    * ≤ partitions·nBuckets cells; corpus rows never leave their
    * partition after the sort. */
  def liftTable(df: DataFrame, scoreCol: String, labelCol: String,
                tieCol: String, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 1, s"liftTable: nBuckets must be >= 1, got $nBuckets")
    val spark = df.sparkSession
    val base = df.na.drop(Seq(scoreCol, labelCol, tieCol))
      .select(col(scoreCol).cast("double").as("__s"),
        when(col(labelCol).cast("double") =!= 0.0, 1L).otherwise(0L)
          .as("__y"),
        col(tieCol).cast("long").as("__t"))
    val scan = PartitionPrefixScan.sorted(base, col("__s").desc, col("__t"))
    val counts = scan.summarize(_.size.toLong)
    val offsets = counts.scanLeft(0L)(_ + _)
    val total = offsets.last
    val b = nBuckets.toLong
    val cells = scan.fold(offsets) { (rk0, it) =>
      val n = new Array[Long](nBuckets)
      val pos = new Array[Long](nBuckets)
      var rk = rk0
      it.foreach { r =>
        val bi = if (total == 0) 0 else ((rk * b) / total).toInt
        rk += 1
        n(bi) += 1
        pos(bi) += r.getLong(1)
      }
      (0 until nBuckets).filter(n(_) > 0).map(i => (i, n(i), pos(i)))
    }.flatten
    val n = new Array[Long](nBuckets)
    val pos = new Array[Long](nBuckets)
    cells.foreach { case (i, cn, cp) => n(i) += cn; pos(i) += cp }
    val totalPos = pos.sum
    val overall = totalPos.toDouble / total
    var cumN = 0L
    var cumPos = 0L
    val rows = (0 until nBuckets).filter(n(_) > 0).map { i =>
      cumN += n(i); cumPos += pos(i)
      val rate = pos(i).toDouble / n(i)
      (i + 1, n(i), pos(i), rate, rate / overall, cumN, cumPos,
        cumPos.toDouble / totalPos,
        (cumPos.toDouble / cumN) / overall)
    }
    import spark.implicits._
    rows.toDF("bucket", "n", "pos", "rate", "lift", "cum_n", "cum_pos",
      "gain", "cum_lift")
  }

  /** mllib adapter for AUC metrics (areaUnderROC/areaUnderPR). */
  def mllibMetrics(df: DataFrame, scoreCol: String, labelCol: String,
                   numBins: Int = 0): BinaryClassificationMetrics = {
    val rdd = scoreAndLabels(df, scoreCol, labelCol)
      .rdd.map(r => (r.getDouble(0), r.getDouble(1)))
    new BinaryClassificationMetrics(rdd, numBins)
  }

  /** DeLong placement table for one score column: per DISTINCT score,
    * V10 = (negatives below + ½·tied negatives)/n₀ and
    * V01 = (positives above + ½·tied positives)/n₁ — the structural
    * components whose means are the AUC and whose (co)variances give
    * the DeLong AUC variance. The corpus folds to the distinct-score
    * frame and [[graft.util.RangeCum]] cums the per-score class counts
    * (exact integers — bit-deterministic); the caller joins this table
    * back on the score key (broadcastable whenever scores repeat). */
  private def placementTable(rows: DataFrame, scoreCol: String,
                             suffix: String): DataFrame = {
    val byScore = rows.groupBy(col(scoreCol).as(s"__ps$suffix"))
      .agg(count(lit(1)).cast("double").as("__n"), sum("__y").as("__p"))
      .withColumn("__m", col("__n") - col("__p"))
    val cum = graft.util.RangeCum.cumSum(byScore, Nil, s"__ps$suffix",
      Seq("__p", "__m"))
    val tot = byScore.agg(sum("__p").as("__np"), sum("__m").as("__nm"))
    cum.crossJoin(broadcast(tot))
      // negatives strictly below + half the tied negatives, over n0
      .withColumn(s"__v10_$suffix",
        (col("__cum___m") - col("__m") + col("__m") / 2) / col("__nm"))
      // positives strictly above + half the tied positives, over n1
      .withColumn(s"__v01_$suffix",
        (col("__np") - col("__cum___p") + col("__p") / 2) / col("__np"))
      .select(s"__ps$suffix", s"__v10_$suffix", s"__v01_$suffix")
  }

  /** DeLong's test for the difference of two correlated AUCs — the two
    * score columns are evaluated on the SAME rows, so the placement
    * covariances must enter the variance (treating the AUCs as
    * independent overstates significance; DeLong et al. 1988):
    *
    *   Var(Â₁ − Â₂) = (S10,11 + S10,22 − 2·S10,12)/n₁ +
    *                  (S01,11 + S01,22 − 2·S01,12)/n₀
    *
    * with S the sample (co)variances of the per-row placements
    * ([[placementTable]]). Two distinct-score cumulative passes whose
    * tables join back onto ONE base pass on the score keys (broadcast
    * when scores repeat — never an id-keyed self-join of two full
    * placement frames, which shuffled 2× the corpus and measured 25×
    * at 100× data before this restructuring), then one aggregate folds
    * every sum the statistic needs. Returns ONE row: (n_pos, n_neg,
    * auc_1, auc_2, var_diff, z_stat); a degenerate variance (identical
    * scores) yields null z. The normal p is
    * [[graft.stat.InferenceTests.mannWhitneyPValue]] on z. `idCol` is
    * retained in the signature as the row-identity contract (the two
    * scores MUST be per-row paired for the covariance to mean
    * anything) and for null-dropping. */
  def deLongTest(df: DataFrame, idCol: String, labelCol: String,
                 score1Col: String, score2Col: String): DataFrame = {
    val y = col(labelCol).cast("double")
    val rows = df.na.drop(Seq(idCol, labelCol, score1Col, score2Col))
      .select(col(score1Col).cast("double").as("__s1"),
        col(score2Col).cast("double").as("__s2"), y.as("__y"))
    val t1 = placementTable(rows, "__s1", "1")
    val t2 = placementTable(rows, "__s2", "2")
    val joined = rows
      .join(t1, col("__s1") === col("__ps1"))
      .join(t2, col("__s2") === col("__ps2"))
      .withColumn("__v1", when(col("__y") === 1.0, col("__v10_1"))
        .otherwise(col("__v01_1")))
      .withColumn("__v2", when(col("__y") === 1.0, col("__v10_2"))
        .otherwise(col("__v01_2")))
    def cls(yv: Double) = when(col("__y") === yv, 1.0).otherwise(0.0)
    val agg = joined.agg(
      sum(cls(1.0)).as("__n1"), sum(cls(0.0)).as("__n0"),
      sum(cls(1.0) * col("__v1")).as("__s1p"),
      sum(cls(1.0) * col("__v2")).as("__s2p"),
      sum(cls(0.0) * col("__v1")).as("__s1n"),
      sum(cls(0.0) * col("__v2")).as("__s2n"),
      sum(cls(1.0) * col("__v1") * col("__v1")).as("__q11p"),
      sum(cls(1.0) * col("__v2") * col("__v2")).as("__q22p"),
      sum(cls(1.0) * col("__v1") * col("__v2")).as("__q12p"),
      sum(cls(0.0) * col("__v1") * col("__v1")).as("__q11n"),
      sum(cls(0.0) * col("__v2") * col("__v2")).as("__q22n"),
      sum(cls(0.0) * col("__v1") * col("__v2")).as("__q12n"))
    val n1 = col("__n1"); val n0 = col("__n0")
    // sample covariance over the positive placements: (Σab − ΣaΣb/n)/(n−1)
    def covP(qab: Column, sa: Column, sb: Column) =
      (qab - sa * sb / n1) / (n1 - 1)
    def covN(qab: Column, sa: Column, sb: Column) =
      (qab - sa * sb / n0) / (n0 - 1)
    val varDiff =
      (covP(col("__q11p"), col("__s1p"), col("__s1p")) +
        covP(col("__q22p"), col("__s2p"), col("__s2p")) -
        lit(2.0) * covP(col("__q12p"), col("__s1p"), col("__s2p"))) / n1 +
      (covN(col("__q11n"), col("__s1n"), col("__s1n")) +
        covN(col("__q22n"), col("__s2n"), col("__s2n")) -
        lit(2.0) * covN(col("__q12n"), col("__s1n"), col("__s2n"))) / n0
    agg
      .withColumn("n_pos", n1.cast("long"))
      .withColumn("n_neg", n0.cast("long"))
      .withColumn("auc_1", col("__s1p") / n1)
      .withColumn("auc_2", col("__s2p") / n1)
      .withColumn("var_diff",
        when(n1 >= 2 && n0 >= 2, varDiff))
      .withColumn("z_stat",
        when(n1 >= 2 && n0 >= 2 && varDiff > 0,
          (col("__s1p") / n1 - col("__s2p") / n1) / sqrt(varDiff)))
      .select("n_pos", "n_neg", "auc_1", "auc_2", "var_diff", "z_stat")
  }
}
