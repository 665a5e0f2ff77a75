package graft.stat

import graft.util.PartitionPrefixScan
import org.apache.commons.math3.distribution._
import org.apache.commons.math3.stat.descriptive.StatisticalSummaryValues
import org.apache.commons.math3.stat.inference.TTest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Statistical tests (reference handyspark/stats.py). The reference crossed
  * py4j to reach commons-math3 and mllib; here they are direct JVM calls.
  */
object StatTests {

  /** One-pass per-group summary → commons-math3 SSVs
    * (reference stats.py:6-20). */
  def summaryValues(df: DataFrame, c: String,
                    strata: Seq[String] = Nil): Map[Seq[Any], StatisticalSummaryValues] = {
    // cast the input once: min/max/sum preserve integer/decimal input types,
    // so aggregating the raw column would make getAs[Double] throw below
    val dc = col(c).cast("double")
    val rows = df.groupBy(strata.map(col): _*).agg(
      avg(dc).as("mean"), var_samp(dc).as("variance"),
      count(dc).as("n"), max(dc).as("max"), min(dc).as("min"),
      sum(dc).as("sum")).collect()
    rows.map { r =>
      val key = strata.indices.map(r.get).toSeq
      key -> new StatisticalSummaryValues(
        r.getAs[Double]("mean"), r.getAs[Double]("variance"),
        r.getAs[Long]("n"), r.getAs[Double]("max"), r.getAs[Double]("min"),
        r.getAs[Double]("sum"))
    }.toMap
  }

  /** Pairwise Welch t-test p-value matrix between strata of one column
    * (reference stats.py:22-34). The heavy lifting is ONE grouped agg; the
    * #strata² t-tests run on driver-local SSVs. */
  def tTestMatrix(df: DataFrame, c: String, strata: Seq[String]): Seq[(Seq[Any], Seq[Any], Double)] =
    tTestMatrixFull(df, c, strata).map { case (k1, k2, r) => (k1, k2, r.pValue) }

  /** Welch t-test result: statistic, Welch–Satterthwaite degrees of
    * freedom, and the two-sided p-value. t and df are plain arithmetic on
    * the per-group summaries (SQL-expressible — the driver oracle checks
    * them); the p-value needs the t CDF (commons-math) and is pinned by
    * StatEvalSpec against `2·(1 − T_df.cdf(|t|))`. */
  final case class TTestResult(tStat: Double, df: Double, pValue: Double)

  /** [[tTestMatrix]] with the full per-pair result (t, df, p) instead of
    * the p-value alone. Same plan: one grouped agg, driver-local pairs. */
  def tTestMatrixFull(df: DataFrame, c: String,
                      strata: Seq[String]): Seq[(Seq[Any], Seq[Any], TTestResult)] = {
    val ssvs = summaryValues(df, c, strata).toSeq.sortBy(_._1.mkString("|"))
    val tt = new TTest()
    for {
      (k1, s1) <- ssvs
      (k2, s2) <- ssvs if k1.mkString("|") < k2.mkString("|")
    } yield {
      val se1 = s1.getVariance / s1.getN
      val se2 = s2.getVariance / s2.getN
      val t = (s1.getMean - s2.getMean) / math.sqrt(se1 + se2)
      val welchDf = (se1 + se2) * (se1 + se2) /
        (se1 * se1 / (s1.getN - 1) + se2 * se2 / (s2.getN - 1))
      (k1, k2, TTestResult(t, welchDf, tt.tTest(s1, s2)))
    }
  }

  /** Welch t statistic + degrees of freedom as a DataFrame (the
    * SQL-expressible part — p-values need the t CDF). */
  def welchStats(df: DataFrame, c: String, strata: Seq[String]): DataFrame = {
    val g = df.groupBy(strata.map(col): _*).agg(
      avg(col(c)).as("mean"), var_samp(col(c)).as("variance"),
      count(col(c)).cast("double").as("n"))
    val a = g.select((strata.map(cn => col(cn).as(s"a_$cn")) ++
      Seq(col("mean").as("m1"), col("variance").as("v1"), col("n").as("n1"))): _*)
    val b = g.select((strata.map(cn => col(cn).as(s"b_$cn")) ++
      Seq(col("mean").as("m2"), col("variance").as("v2"), col("n").as("n2"))): _*)
    val crossed = a.crossJoin(b)
      .filter(concat_ws("|", strata.map(cn => col(s"a_$cn")): _*) <
        concat_ws("|", strata.map(cn => col(s"b_$cn")): _*))
    val se2 = col("v1") / col("n1") + col("v2") / col("n2")
    crossed
      .withColumn("t_stat", (col("m1") - col("m2")) / sqrt(se2))
      .withColumn("welch_df", (se2 * se2) /
        ((col("v1") / col("n1")) * (col("v1") / col("n1")) / (col("n1") - 1) +
         (col("v2") / col("n2")) * (col("v2") / col("n2")) / (col("n2") - 1)))
  }

  /** Pairwise two-proportion z-test over groups: for each group pair,
    * z = (p̂₁ − p̂₂) / √(p̂(1−p̂)(1/n₁ + 1/n₂)) with p̂ the pooled rate —
    * the keep-rate / filter-rate comparison for curation A/B runs (did
    * variant B's dedup keep significantly more docs per source?).
    * `successCol` is 0/1 (cast from boolean upstream). Same plan shape
    * as [[welchStats]]: ONE grouped aggregation folds the corpus to
    * per-group (successes, n), then driver-bounded pair arithmetic —
    * the z and rates are SQL-expressible (oracle-checked, q_prop_test);
    * the p-value needs the normal CDF and is spec-pinned
    * (`2·(1 − Φ(|z|))`, StatEvalSpec pattern). Degenerate pairs (pooled
    * rate 0 or 1 — no variance) yield NaN. */
  def propTestStats(df: DataFrame, successCol: String,
                    strata: Seq[String]): DataFrame = {
    val g = df.na.drop(successCol +: strata)
      .groupBy(strata.map(col): _*)
      .agg(sum(col(successCol).cast("double")).as("succ"),
        count(lit(1)).cast("double").as("n"))
    val a = g.select(strata.map(cn => col(cn).as(s"a_$cn")) ++
      Seq(col("succ").as("s1"), col("n").as("n1")): _*)
    val b = g.select(strata.map(cn => col(cn).as(s"b_$cn")) ++
      Seq(col("succ").as("s2"), col("n").as("n2")): _*)
    val crossed = a.crossJoin(b)
      .filter(concat_ws("|", strata.map(cn => col(s"a_$cn")): _*) <
        concat_ws("|", strata.map(cn => col(s"b_$cn")): _*))
    val pooled = (col("s1") + col("s2")) / (col("n1") + col("n2"))
    val variance = pooled * (lit(1.0) - pooled) *
      (lit(1.0) / col("n1") + lit(1.0) / col("n2"))
    crossed
      .withColumn("rate1", col("s1") / col("n1"))
      .withColumn("rate2", col("s2") / col("n2"))
      .withColumn("z_stat",
        when(variance > 0.0,
          (col("rate1") - col("rate2")) / sqrt(variance))
          .otherwise(lit(Double.NaN)))
  }

  /** [[propTestStats]] plus the two-sided p-value (normal CDF,
    * commons-math — beyond the SQL oracle, spec-pinned). */
  def propTest(df: DataFrame, successCol: String,
               strata: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val stats = propTestStats(df, successCol, strata)
    val nd = new org.apache.commons.math3.distribution.NormalDistribution()
    val pUdf = org.apache.spark.sql.functions.udf { (z: Double) =>
      if (z.isNaN) Double.NaN
      else 2.0 * (1.0 - nd.cumulativeProbability(math.abs(z)))
    }
    stats.withColumn("p_value", pUdf(col("z_stat")))
  }

  /** One-sample Kolmogorov-Smirnov test of a column against a named
    * distribution (reference stats.py:36-64 supports the commons-math3
    * family; unknown names fall back to Normal(0,1)). Distributed: the
    * empirical CDF comparison runs via mllib's testOneSample on the
    * column's RDD. */
  def ksTest(df: DataFrame, c: String, dist: String,
             params: Double*): KsResult = {
    val rd = distributionFor(dist, params)
    val rdd = df.select(col(c).cast("double")).na.drop()
      .rdd.map(_.getDouble(0))
    val r = org.apache.spark.mllib.stat.Statistics
      .kolmogorovSmirnovTest(rdd, (x: Double) => rd.cumulativeProbability(x))
    KsResult(r.statistic, r.pValue)
  }

  final case class KsResult(statistic: Double, pValue: Double)

  /** One-sample KS p-value. Exact commons-math CDF for int-range n; the
    * asymptotic Kolmogorov distribution beyond that (n.toInt would wrap —
    * exactly the regime the sketch variant exists for). */
  private def ksPValue(d: Double, n: Long): Double =
    if (n <= Int.MaxValue)
      1.0 - new org.apache.commons.math3.stat.inference.KolmogorovSmirnovTest()
        .cdf(d, n.toInt)
    else {
      val z = math.sqrt(n.toDouble) * d
      var sum = 0.0
      var k = 1
      while (k <= 100) {
        sum += (if (k % 2 == 1) 1.0 else -1.0) * math.exp(-2.0 * k * k * z * z)
        k += 1
      }
      math.min(1.0, math.max(0.0, 2.0 * sum))
    }

  /** One-sample KS against SEVERAL distributions from ONE distributed
    * sort: the column is sorted and indexed once, then every CDF's
    * sup-deviation is folded in the same pass (mllib's testOneSample
    * sorts per call — n tests would mean n shuffles). p-values use the
    * same one-sided Kolmogorov CDF as mllib. */
  def ksTestMulti(df: DataFrame, c: String,
                  dists: Seq[(String, String, Seq[Double])]): Seq[(String, KsResult)] = {
    val rds = dists.map { case (label, name, params) =>
      label -> distributionFor(name, params)
    }
    // pass 1 counts give the global rank offsets — no RDD sortBy (it
    // shuffles Java-serialized boxed Doubles) and no zipWithIndex (an
    // extra count pass plus materialized (v, i) tuples)
    val scan = PartitionPrefixScan.sorted(
      df.select(col(c).cast("double").as("v")).na.drop(), col("v"))
    val partCounts = scan.summarize(_.size.toLong)
    val n = partCounts.sum.toDouble
    // per element: D = max(|cdf − i/n|, |cdf − (i+1)/n|); fold max per dist
    val sups = scan.fold(partCounts.scanLeft(0L)(_ + _)) { (i0, it) =>
      val acc = Array.fill(rds.size)(0.0)
      var i = i0
      it.foreach { r =>
        val v = r.getDouble(0)
        var d = 0
        while (d < rds.size) {
          val cdf = rds(d)._2.cumulativeProbability(v)
          val lo = math.abs(cdf - i / n)
          val hi = math.abs(cdf - (i + 1) / n)
          val m = math.max(lo, hi)
          if (m > acc(d)) acc(d) = m
          d += 1
        }
        i += 1
      }
      acc
    }.reduce { (a, b) =>
      Array.tabulate(a.length)(i => math.max(a(i), b(i)))
    }
    rds.zipWithIndex.map { case ((label, _), i) =>
      val stat = sups(i)
      label -> KsResult(stat, ksPValue(stat, n.toLong))
    }
  }

  /** Approximate one-sample KS for the 100-TB path: the ECDF is sampled at
    * `m` sketch quantiles (ONE mergeable approx_percentile aggregation —
    * no global sort, bounded memory), and the sup-deviation is evaluated
    * driver-side at those points. Error vs the exact statistic is bounded
    * by ~1/m + the sketch's rank error (1/accuracy); with the defaults
    * that is ≈ 2e-3 absolute. Use `ksTestMulti` when exactness matters. */
  def ksTestApprox(df: DataFrame, c: String,
                   dists: Seq[(String, String, Seq[Double])],
                   m: Int = 1024, accuracy: Int = 10000): Seq[(String, KsResult)] = {
    val ps = Array.tabulate(m + 1)(i => i.toDouble / m)
    val psSql = ps.mkString("array(", ", ", ")")
    val row = df.select(col(c).cast("double").as("v")).na.drop()
      .agg(expr(s"approx_percentile(v, $psSql, $accuracy)").as("qs"),
        count(lit(1)).as("n"))
      .head()
    if (row.isNullAt(0)) return dists.map { case (label, _, _) =>
      label -> KsResult(Double.NaN, Double.NaN)
    }
    val qs = row.getSeq[Double](0)
    val n = row.getLong(1)
    dists.map { case (label, name, params) =>
      val rd = distributionFor(name, params)
      var d = 0.0
      var i = 0
      while (i <= m) {
        val dev = math.abs(rd.cumulativeProbability(qs(i)) - i.toDouble / m)
        if (dev > d) d = dev
        i += 1
      }
      label -> KsResult(d, ksPValue(d, n))
    }
  }

  /** The ONE name→distribution table (reference stats.py:36-64 family;
    * unknown names fall back to Normal(0,1)) — shared by ksTest,
    * ksTestMulti and ksTestApprox. */
  private[stat] def distributionFor(dist: String, params: Seq[Double]): RealDistribution =
    (dist, params.toList) match {
      case ("norm", m :: s :: Nil)    => new NormalDistribution(m, s)
      case ("norm", Nil)              => new NormalDistribution(0, 1)
      case ("uniform", a :: b :: Nil) => new UniformRealDistribution(a, b)
      case ("exp", m :: Nil)          => new ExponentialDistribution(m)
      case ("gamma", a :: b :: Nil)   => new GammaDistribution(a, b)
      case ("beta", a :: b :: Nil)    => new BetaDistribution(a, b)
      case ("cauchy", m :: s :: Nil)  => new CauchyDistribution(m, s)
      case ("chi2", k :: Nil)         => new ChiSquaredDistribution(k)
      case ("f", a :: b :: Nil)       => new FDistribution(a, b)
      case ("t", k :: Nil)            => new TDistribution(k)
      case ("lognorm", m :: s :: Nil) => new LogNormalDistribution(m, s)
      case ("weibull", a :: b :: Nil) => new WeibullDistribution(a, b)
      case ("laplace", m :: b :: Nil) => new LaplaceDistribution(m, b)
      case ("levy", m :: s :: Nil)    => new LevyDistribution(m, s)
      case ("logistic", m :: s :: Nil) => new LogisticDistribution(m, s)
      case ("pareto", s :: a :: Nil)  => new ParetoDistribution(s, a)
      case ("triangular", a :: b :: cc :: Nil) => new TriangularDistribution(a, b, cc)
      case ("gumbel", m :: b :: Nil)  => new GumbelDistribution(m, b)
      case _                          => new NormalDistribution(0, 1)
    }
}
