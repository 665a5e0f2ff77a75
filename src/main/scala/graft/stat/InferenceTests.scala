package graft.stat

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hypothesis tests over categorical / group-structured data —
  * completes the testing tier around [[StatTests]] (Welch t,
  * two-proportion z, KS) with the classic categorical and rank tests
  * (reference stats.py stops at t-test/KS/Mahalanobis; these are the
  * engine-tier extensions a curation pipeline reaches for when
  * comparing sources, raters, and filter variants).
  *
  * Scale shape shared by all four: ONE hash aggregate folds the corpus
  * to a bounded frame (contingency cells, per-group moment sums, or
  * distinct-value counts), and every subsequent window/join runs on
  * that bounded frame, never the corpus. Statistics are raw-sums
  * identities so a SQL oracle replays them term-for-term; p-values
  * (the only parts needing CDFs) are spec-pinned against commons-math
  * like the Welch/prop-test precedent. */
object InferenceTests {

  /** Pearson chi-square test of independence between two categorical
    * columns, plus Cramér's V effect size. Uses the zero-cell-free
    * identity chi2 = N·(Σ_observed o²/(row_i·col_j) − 1): observed-zero
    * cells contribute exactly their expected count to the classic
    * Σ(o−e)²/e, and algebra folds that into the constant, so the
    * missing cells of the groupBy never need completion. One corpus
    * aggregate to the |A|·|B| cell frame; marginals are windows over
    * the cells. Returns ONE row: (n, rows, cols, dof, chi2,
    * cramers_v = √(chi2 / (N·min(rows−1, cols−1)))). Degenerate 1×k
    * tables yield dof=0 and null chi2/V. */
  def chiSquare(df: DataFrame, a: String, b: String): DataFrame = {
    val cells = df.na.drop(Seq(a, b))
      .groupBy(col(a).as("__a"), col(b).as("__b"))
      .agg(count(lit(1)).cast("double").as("__n"))
    // NOTE: temp names must differ case-INsensitively from __n — Spark's
    // default resolver is case-insensitive, so withColumn("__N") would
    // silently REPLACE __n (found the hard way: chi2 came out 25x off)
    val withM = cells
      .withColumn("__row", sum("__n").over(Window.partitionBy("__a")))
      .withColumn("__col", sum("__n").over(Window.partitionBy("__b")))
      .withColumn("__tot", sum("__n").over(Window.partitionBy()))
    val agg = withM.agg(
      max("__tot").cast("long").as("n"),
      countDistinct("__a").as("rows"),
      countDistinct("__b").as("cols"),
      sum(col("__n") * col("__n") / (col("__row") * col("__col"))).as("__s"),
      max("__tot").as("__Nd"))
    val dof = (col("rows") - 1) * (col("cols") - 1)
    val chi2 = when(dof > 0, col("__Nd") * (col("__s") - lit(1.0)))
    agg
      .withColumn("dof", dof)
      .withColumn("chi2", chi2)
      .withColumn("cramers_v",
        when(dof > 0, sqrt(chi2 / (col("__Nd") *
          least(col("rows") - 1, col("cols") - 1)))))
      .drop("__s", "__Nd")
  }

  /** One-way ANOVA F over `groupCol`'s groups of `valueCol`. Per-group
    * (n, Σx, Σx²) in one aggregate; SSW = Σ_g(Σx² − (Σx)²/n_g),
    * SSB = Σ_g (Σx)²/n_g − (ΣΣx)²/N — the raw-sums identity (callers
    * with astronomically scaled values should center first, as with
    * [[graft.agg.Stats.linearFit]]). Returns ONE row: (k, n, ss_between,
    * ss_within, df_between = k−1, df_within = N−k, f_stat). Degenerate
    * inputs (k < 2, N ≤ k, or zero within-variance) yield null F. */
  def anovaF(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val g = df.filter(x.isNotNull && col(groupCol).isNotNull)
      .groupBy(groupCol)
      .agg(count(lit(1)).cast("double").as("__n"), sum(x).as("__s"),
        sum(x * x).as("__ss"))
    val tot = g.agg(
      count(lit(1)).as("k"), sum("__n").cast("long").as("n"),
      (sum(col("__s") * col("__s") / col("__n")) -
        sum("__s") * sum("__s") / sum("__n")).as("ss_between"),
      sum(col("__ss") - col("__s") * col("__s") / col("__n")).as("ss_within"),
      sum("__n").as("__N"))
    val dfb = (col("k") - 1).cast("double")
    val dfw = col("__N") - col("k")
    tot
      .withColumn("df_between", dfb.cast("long"))
      .withColumn("df_within", dfw.cast("long"))
      .withColumn("f_stat",
        when(col("k") >= 2 && dfw > 0 && col("ss_within") > 0,
          (col("ss_between") / dfb) / (col("ss_within") / dfw)))
      .drop("__N")
  }

  /** Cohen's kappa agreement between two label columns (rater/model
    * agreement beyond chance): po = Σ diag/N, pe = Σ_k row_k·col_k/N²,
    * kappa = (po − pe)/(1 − pe). One corpus aggregate to the cell
    * frame; marginals are windows over it (labels appearing on only one
    * side still enter their own marginal, and contribute pe only if the
    * other side also uses the label — the standard contingency
    * definition). Returns ONE row: (n, po, pe, kappa); perfect chance
    * agreement (pe = 1, a constant pair) yields null kappa. */
  def cohenKappa(df: DataFrame, c1: String, c2: String): DataFrame = {
    val cells = df.na.drop(Seq(c1, c2))
      .groupBy(col(c1).as("__a"), col(c2).as("__b"))
      .agg(count(lit(1)).cast("double").as("__n"))
    // pe needs Σ_label row·col over each DISTINCT label (not per cell):
    // derive it from the per-label marginal frames, joined on the label
    val rowM = cells.groupBy("__a").agg(sum("__n").as("__row"))
    val colM = cells.groupBy("__b").agg(sum("__n").as("__col"))
    val pe = rowM.join(colM, col("__a") === col("__b"))
      .agg(coalesce(sum(col("__row") * col("__col")), lit(0.0)).as("__pe_num"))
    val po = cells.agg(
      sum("__n").cast("long").as("n"),
      (sum(when(col("__a") === col("__b"), col("__n")).otherwise(0.0)) /
        sum("__n")).as("po"),
      sum("__n").as("__Nd"))
    val out = po.crossJoin(broadcast(pe))
      .withColumn("pe", col("__pe_num") / (col("__Nd") * col("__Nd")))
    out
      .withColumn("kappa",
        when(col("pe") < 1.0, (col("po") - col("pe")) / (lit(1.0) - col("pe"))))
      .drop("__pe_num", "__Nd")
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) between the `groupA` and
    * `groupB` values of `groupCol`, with mid-ranks for ties and the
    * tie-corrected normal approximation:
    * z = (U_A − n₁n₂/2) / √(n₁n₂/12 · (n+1 − Σ(t³−t)/(n(n−1)))).
    * The corpus folds to ONE distinct-value count frame (n per value,
    * n_A per value); mid-ranks come from [[graft.util.RangeCum]]'s
    * range-sort + partition-offset scan over the distinct values —
    * distributed even when the value column is continuous (distinct ≈
    * n), where an unpartitioned window would funnel one partition. The
    * cum'd columns are exact integer counts, so the offset chain is
    * bit-identical to a sequential window. Returns ONE row:
    * (n1, n2, u_stat, z_stat); all-tied inputs (σ = 0) yield null z. */
  def mannWhitney(df: DataFrame, valueCol: String, groupCol: String,
                  groupA: String, groupB: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val twoGroups = df
      .filter(x.isNotNull &&
        (col(groupCol) === groupA || col(groupCol) === groupB))
      .select(x.as("__v"), (col(groupCol) === groupA).cast("double").as("__a"))
    val byValue = twoGroups.groupBy("__v")
      .agg(count(lit(1)).cast("double").as("__n"), sum("__a").as("__na"))
    val ranked = graft.util.RangeCum.cumSum(byValue, Nil, "__v", Seq("__n"))
      .withColumn("__before", col("__cum___n") - col("__n"))
    val agg = ranked.agg(
      sum("__na").as("__n1"),
      sum(col("__n") - col("__na")).as("__n2"),
      sum(col("__na") * (col("__before") + (col("__n") + 1) / 2)).as("__ra"),
      sum(col("__n") * col("__n") * col("__n") - col("__n")).as("__ties"))
    val n1 = col("__n1"); val n2 = col("__n2")
    val n = n1 + n2
    val u = col("__ra") - n1 * (n1 + 1) / 2
    val sigma2 = n1 * n2 / 12 *
      ((n + 1) - col("__ties") / (n * (n - 1)))
    agg
      .withColumn("n1", n1.cast("long"))
      .withColumn("n2", n2.cast("long"))
      .withColumn("u_stat", u)
      .withColumn("z_stat",
        when(sigma2 > 0, (u - n1 * n2 / 2) / sqrt(sigma2)))
      .select("n1", "n2", "u_stat", "z_stat")
  }

  /** Kruskal-Wallis H (rank-based one-way ANOVA) over `groupCol`'s
    * groups of `valueCol`, with mid-ranks for ties and the standard tie
    * correction: H = 12/(N(N+1)) · Σ_g R_g²/n_g − 3(N+1), divided by
    * C = 1 − Σ(t³−t)/(N³−N). The k-group generalization of
    * [[mannWhitney]], sharing its scale shape: one aggregate folds the
    * corpus to the (group, value) cell frame, the distinct-value frame
    * derives from it, mid-ranks come from [[graft.util.RangeCum]]'s
    * range-sort + partition-offset scan (distributed even when the
    * value column is continuous), and the mid-ranks join back to the
    * cells on the value key — a distinct-value-sized shuffle join, never
    * the corpus. Mid-ranks and counts are exact (multiples of 0.5 /
    * integers), so rank sums are bit-deterministic; only the final
    * k-term H fold is float-ordered, at k terms ≪ any ulp boundary.
    * Returns ONE row: (k, n, dof = k−1, h_stat, h_corrected); degenerate
    * inputs (k < 2 or all values tied, C = 0) yield nulls. */
  def kruskalWallis(df: DataFrame, valueCol: String,
                    groupCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val cells = df.filter(x.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), x.as("__v"))
      .agg(count(lit(1)).cast("double").as("__c"))
    val byValue = cells.groupBy("__v").agg(sum("__c").as("__n"))
    val ranked = graft.util.RangeCum.cumSum(byValue, Nil, "__v", Seq("__n"))
      .withColumn("__mid",
        col("__cum___n") - col("__n") + (col("__n") + 1) / 2)
    val perGroup = cells.join(ranked.select("__v", "__mid"), "__v")
      .groupBy("__g")
      .agg(sum("__c").as("__ng"), sum(col("__c") * col("__mid")).as("__rg"))
    val ties = byValue.agg(
      sum(col("__n") * col("__n") * col("__n") - col("__n")).as("__ties"))
    val agg = perGroup.agg(
      count(lit(1)).as("k"), sum("__ng").cast("long").as("n"),
      sum(col("__rg") / col("__ng") * col("__rg")).as("__r2n"),
      sum("__ng").as("__N")).crossJoin(broadcast(ties))
    val nD = col("__N")
    val h = lit(12.0) / (nD * (nD + 1)) * col("__r2n") - lit(3) * (nD + 1)
    val corr = lit(1.0) - col("__ties") / (nD * nD * nD - nD)
    agg
      .withColumn("dof", (col("k") - 1).cast("long"))
      .withColumn("h_stat", when(col("k") >= 2, h))
      .withColumn("h_corrected",
        when(col("k") >= 2 && corr > 0, h / corr))
      .select("k", "n", "dof", "h_stat", "h_corrected")
  }

  /** Exact per-group median WITHOUT buffering group values: the
    * [[graft.agg.SortedQuantiles]] engine at p = 0.5 over the
    * (group, value) count cells — the order statistics at ⌊(n+1)/2⌋ and
    * ⌊n/2⌋+1, interpolated as lo + (hi − lo)·0.5, the quantile_cont /
    * ExactPercentile chain, so results are bit-identical to the
    * buffering aggregate. Work is bounded by DISTINCT (group, value)
    * pairs, and the range-sort keeps even continuous columns
    * distributed — the ExactPercentile form buffers each whole group in
    * ONE aggregation buffer, which at k ≈ 3 groups of 100-TB data is a
    * two-order-of-magnitude wall (measured 37× at 100× data before this
    * rewrite). Returns (group, __med) as a driver-local frame of k rows. */
  private def medianByCounts(df: DataFrame, valueCol: String,
                             groupCol: String): DataFrame = {
    val reqs = Seq(graft.agg.SortedQuantiles.Req("__m", col(valueCol), Seq(0.5)))
    graft.agg.SortedQuantiles.of(
        df.where(col(groupCol).isNotNull)
          .select(col(groupCol).as("__bf_g"), col(valueCol)),
        Seq("__bf_g"), reqs)
      .select(col("__bf_g"), element_at(col("__m"), 1).as("__med"))
  }

  /** Brown-Forsythe test for equality of group variances (Levene's test
    * with the robust median center): one-way ANOVA F over
    * z = |x − median_g|. Group medians come from [[medianByCounts]]
    * (exact, distributed over the distinct-value frame — never a
    * whole-group buffer); they broadcast back onto the rows (the
    * median frame is k rows) and the F statistic reuses [[anovaF]]'s
    * raw-sums identity on the centered |deviations| — which are
    * magnitude-bounded by the data spread, so the identity does not
    * cancel the way raw prices do. On integer-valued columns the
    * medians are exact halves and every z is an exact multiple of 0.5 —
    * the fully engine-deterministic configuration. Returns [[anovaF]]'s
    * one-row schema. */
  def brownForsythe(df: DataFrame, valueCol: String,
                    groupCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val medians = medianByCounts(df, valueCol, groupCol)
    val z = df.filter(x.isNotNull && col(groupCol).isNotNull)
      .join(broadcast(medians), col(groupCol) === col("__bf_g"))
      .withColumn("__z", abs(x - col("__med")))
    anovaF(z, "__z", groupCol)
  }

  /** Jarque-Bera normality statistic from the centered sample moments:
    * JB = n/6 · (S² + K²/4) with S the population skewness and K the
    * population EXCESS kurtosis — large JB rejects normality (χ²₂ under
    * H₀). Delegates the moment computation to [[graft.agg.Stats.moments]]
    * (two-pass centered accumulation — the raw-power identity cancels
    * catastrophically near S ≈ 0, which is exactly the regime JB
    * probes). Returns ONE row: (n, skewness, kurtosis, jb_stat);
    * constant columns (NaN moments) yield NaN JB. */
  def jarqueBera(df: DataFrame, valueCol: String): DataFrame = {
    graft.agg.Stats.moments(df, Seq(valueCol))
      .withColumn("jb_stat",
        col("n") / 6.0 * (col("skewness") * col("skewness") +
          col("kurtosis") * col("kurtosis") / 4))
      .select("n", "skewness", "kurtosis", "jb_stat")
  }

  /** Cohen's d standardized effect size for every pair of `groupCol`
    * groups (a < b lexically): d = (μ_a − μ_b)/s_pooled with
    * s_pooled² = ((n_a−1)s_a² + (n_b−1)s_b²)/(n_a+n_b−2), plus the
    * small-sample Hedges' g correction J = 1 − 3/(4(n_a+n_b) − 9).
    * The significance-free companion to the Welch matrix ([[StatTests]]):
    * a 100-TB A/B readout wants the magnitude, not just the p. One
    * corpus aggregate to the k-row group frame, then a broadcast k²/2
    * self-join. Sample variance uses the raw-sums identity — center
    * astronomically-scaled values first (the [[anovaF]] caveat).
    * Returns one row per pair: (group_a, group_b, n_a, n_b, mean_a,
    * mean_b, cohen_d, hedges_g); zero pooled variance yields nulls. */
  def cohensD(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val g = df.filter(x.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).cast("double").as("__n"), sum(x).as("__s"),
        sum(x * x).as("__ss"))
      .withColumn("__ssd",
        col("__ss") - col("__s") * col("__s") / col("__n"))
    val a = g.select(col("__g").as("group_a"), col("__n").as("__na"),
      col("__s").as("__sa"), col("__ssd").as("__ssda"))
    val b = g.select(col("__g").as("group_b"), col("__n").as("__nb"),
      col("__s").as("__sb"), col("__ssd").as("__ssdb"))
    val pairs = a.join(broadcast(b), col("group_a") < col("group_b"))
    val dfree = col("__na") + col("__nb") - 2
    val sp2 = (col("__ssda") + col("__ssdb")) / dfree
    val d = (col("__sa") / col("__na") - col("__sb") / col("__nb")) / sqrt(sp2)
    pairs
      .withColumn("n_a", col("__na").cast("long"))
      .withColumn("n_b", col("__nb").cast("long"))
      .withColumn("mean_a", col("__sa") / col("__na"))
      .withColumn("mean_b", col("__sb") / col("__nb"))
      .withColumn("cohen_d", when(dfree > 0 && sp2 > 0, d))
      .withColumn("hedges_g",
        when(dfree > 0 && sp2 > 0,
          d * (lit(1.0) - lit(3.0) / (lit(4) * (col("__na") + col("__nb")) - 9))))
      .select("group_a", "group_b", "n_a", "n_b", "mean_a", "mean_b",
        "cohen_d", "hedges_g")
  }

  /** Kendall's tau-b rank correlation between two ordinal/bounded-
    * cardinality columns, exact over the contingency-cell frame:
    * concordant/discordant pair counts come from a cell×cell self-join
    * (a₁ < a₂, classify by the b order), tie terms from the marginals,
    * tau_b = (C − D)/√((n₀−n₁)(n₀−n₂)) with n₀ = n(n−1)/2 and
    * n₁/n₂ = Σ t(t−1)/2 over each column's tied groups. The corpus
    * folds to |A|·|B| cells in one aggregate; the join is cells², so the
    * guard refuses beyond `maxCells` distinct cells — tau over a
    * CONTINUOUS pair is O(n²) by definition and belongs behind binning
    * (bucketize first), the same refuse-don't-pretend stance as
    * mannKendall's maxN. All counts are exact longs; only the final
    * ratio is float. Returns ONE row: (n, cells, concordant, discordant,
    * tau_b, gamma, somers_d_ba, somers_d_ab) — Goodman-Kruskal gamma
    * = (C−D)/(C+D) (ties ignored entirely) and both Somers' D
    * directions ((C−D)/(n₀−n₁) predicts b from a; (n₀−n₂) the
    * converse) ride along free, they share every count. A
    * single-valued column (denominator 0) yields nulls. */
  def kendallTauB(df: DataFrame, aCol: String, bCol: String,
                  maxCells: Int = 100000): DataFrame = {
    val cells = df.na.drop(Seq(aCol, bCol))
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__n"))
      // the guard count below and all four readers reuse this cache; the
      // result is lazy and still reads it, so there is no sound in-method
      // unpersist point (Components/ngramJaccard lifetime note) — the
      // entry stays until LRU eviction; looping callers can
      // spark.catalog.clearCache() between calls
      .persist()
    val nCells = cells.count()
    require(nCells <= maxCells,
      s"kendallTauB: $nCells distinct ($aCol, $bCol) cells exceed " +
        s"maxCells=$maxCells — the exact cell-pair join is quadratic in " +
        "cells; bucketize the columns first")
    val l = cells.select(col("__a").as("__a1"), col("__b").as("__b1"),
      col("__n").as("__n1"))
    val r = cells.select(col("__a").as("__a2"), col("__b").as("__b2"),
      col("__n").as("__n2"))
    val joined = l.join(r, col("__a1") < col("__a2"))
    val pairAgg = joined.agg(
      coalesce(sum(when(col("__b1") < col("__b2"),
        col("__n1") * col("__n2"))), lit(0L)).as("concordant"),
      coalesce(sum(when(col("__b1") > col("__b2"),
        col("__n1") * col("__n2"))), lit(0L)).as("discordant"))
    val tieA = cells.groupBy("__a").agg(sum("__n").as("__t"))
      .agg(sum(col("__t") * (col("__t") - 1) / 2).as("__n1t"))
    val tieB = cells.groupBy("__b").agg(sum("__n").as("__t"))
      .agg(sum(col("__t") * (col("__t") - 1) / 2).as("__n2t"))
    val tot = cells.agg(sum("__n").as("__nTot"),
      count(lit(1)).as("cells"))
    val one = tot.crossJoin(broadcast(pairAgg))
      .crossJoin(broadcast(tieA)).crossJoin(broadcast(tieB))
    val n0 = col("__nTot") * (col("__nTot") - 1) / 2
    val denom = (n0 - col("__n1t")).cast("double") *
      (n0 - col("__n2t")).cast("double")
    val cd = (col("concordant") - col("discordant")).cast("double")
    one
      .withColumn("n", col("__nTot").cast("long"))
      .withColumn("tau_b", when(denom > 0, cd / sqrt(denom)))
      .withColumn("gamma",
        when(col("concordant") + col("discordant") > 0,
          cd / (col("concordant") + col("discordant"))))
      .withColumn("somers_d_ba",
        when(n0 - col("__n1t") > 0, cd / (n0 - col("__n1t"))))
      .withColumn("somers_d_ab",
        when(n0 - col("__n2t") > 0, cd / (n0 - col("__n2t"))))
      .select("n", "cells", "concordant", "discordant", "tau_b",
        "gamma", "somers_d_ba", "somers_d_ab")
  }

  /** Fleiss' kappa: chance-corrected agreement for n raters per item
    * (the multi-rater generalization of [[cohenKappa]] — label quality
    * over crowd/model ensembles). Input is one row per (item, rating);
    * the rater identity is irrelevant, only the per-item label counts
    * n_il matter. Requires the SAME number of ratings n on every item
    * (the classic Fleiss design) — verified with one bounded probe and
    * REFUSED otherwise (silently averaging unequal n produces a
    * statistic that is not Fleiss' kappa).
    *
    *   P_i = (Σ_l n_il² − n)/(n(n−1)),  P̄ = mean_i P_i,
    *   P_e = Σ_l p_l²,  κ = (P̄ − P_e)/(1 − P_e)
    *
    * Scale shape: one aggregate to the (item, label) cell frame, one
    * item-keyed fold for P_i, one label-keyed fold for the marginals —
    * every frame bounded by items/labels, nothing re-scans the corpus.
    * Returns ONE row: (n_items, n_raters, p_bar, p_e, kappa);
    * P_e = 1 (all ratings one label) yields null kappa. */
  def fleissKappa(df: DataFrame, itemCol: String,
                  labelCol: String): DataFrame = {
    val cells = df.na.drop(Seq(itemCol, labelCol))
      .groupBy(col(itemCol).as("__i"), col(labelCol).as("__l"))
      .agg(count(lit(1)).cast("double").as("__c"))
      // design probe + all three folds read this cache; lazy result =>
      // no sound in-method unpersist point (same lifetime note as
      // kendallTauB above)
      .persist()
    val perItem = cells.groupBy("__i")
      .agg(sum("__c").as("__n"), sum(col("__c") * col("__c")).as("__c2"))
    val design = perItem.agg(min("__n").as("lo"), max("__n").as("hi")).head()
    require(!design.isNullAt(0) && design.getDouble(0) == design.getDouble(1),
      s"fleissKappa: unequal ratings per item " +
        s"(${design.get(0)}..${design.get(1)}) — the Fleiss design needs " +
        "a constant rater count; filter items first")
    val n = design.getDouble(0)
    require(n >= 2, s"fleissKappa: needs >= 2 ratings per item, got $n")
    val pBar = perItem
      .select(((col("__c2") - n) / (n * (n - 1))).as("__pi"))
      .agg(count(lit(1)).as("n_items"), avg("__pi").as("p_bar"))
    val pe = cells.groupBy("__l").agg(sum("__c").as("__nl"))
      .agg(sum(col("__nl") * col("__nl")).as("__sq"),
        sum("__nl").as("__tot"))
      .select((col("__sq") / (col("__tot") * col("__tot"))).as("p_e"))
    pBar.crossJoin(broadcast(pe))
      .withColumn("n_raters", lit(n).cast("long"))
      .withColumn("kappa",
        when(col("p_e") < 1.0,
          (col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e"))))
      .select("n_items", "n_raters", "p_bar", "p_e", "kappa")
  }

  /** McNemar's test for paired binary outcomes (two classifiers scored
    * on the SAME rows — the model-comparison companion of
    * [[cohenKappa]]): only the discordant cells matter,
    * chi2 = (b−c)²/(b+c) over b = (1,0) and c = (0,1) counts, plus the
    * Edwards continuity-corrected form (|b−c|−1)²/(b+c). Returns ONE
    * row: (n, n11, n10, n01, n00, chi2, chi2_corrected); no discordant
    * pairs (b+c = 0) yields null statistics — the test is about
    * disagreement, and there is none. One conditional aggregate,
    * nothing downstream of it. p-values via [[chiSquarePValue]] at
    * dof 1. */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("boolean")
    val b = col(bCol).cast("boolean")
    val one = df.na.drop(Seq(aCol, bCol)).agg(
      count(lit(1)).as("n"),
      sum(when(a && b, 1L).otherwise(0L)).as("n11"),
      sum(when(a && !b, 1L).otherwise(0L)).as("n10"),
      sum(when(!a && b, 1L).otherwise(0L)).as("n01"),
      sum(when(!a && !b, 1L).otherwise(0L)).as("n00"))
    val disc = (col("n10") + col("n01")).cast("double")
    val diff = (col("n10") - col("n01")).cast("double")
    one
      .withColumn("chi2", when(disc > 0, diff * diff / disc))
      .withColumn("chi2_corrected",
        when(disc > 0, (abs(diff) - 1) * (abs(diff) - 1) / disc))
      .select("n", "n11", "n10", "n01", "n00", "chi2", "chi2_corrected")
  }

  /** Multiple-testing corrections over a hypothesis frame (one row per
    * test with its p-value): appends
    *
    *  - `rank` — 1-based ascending p order (ties broken by `tieCols`,
    *    which must make the order total for a replayable result),
    *  - `p_bonferroni` — min(1, p·m),
    *  - `p_holm` — step-down: running max over ascending ranks of
    *    min(1, p·(m−i+1)),
    *  - `p_bh` — Benjamini-Hochberg step-up: running min over
    *    DESCENDING ranks of min(1, p·m/i); reject at level α ⇔
    *    p_bh ≤ α.
    *
    * The two running extremes are windows over the HYPOTHESIS frame —
    * m rows, one per test, inherently driver-scale (a 100-TB corpus
    * produces the p-values; the correction runs on the handful of
    * tests), so the unpartitioned window is bounded by construction
    * and `maxTests` makes the bound explicit (refuse beyond it rather
    * than funnel an unbounded frame through one task). */
  def multipleTestAdjust(df: DataFrame, pCol: String,
                         tieCols: Seq[String],
                         maxTests: Int = 1000000): DataFrame = {
    require(tieCols.nonEmpty,
      "multipleTestAdjust needs tie-break columns for a total order")
    // the guard count and the returned windowed plan both read `clean`;
    // the result is lazy, so there is no sound in-method unpersist point
    // (Components lifetime note) — entry stays until LRU eviction
    val clean = df.na.drop(pCol +: tieCols).persist()
    val counts = clean.agg(count(lit(1)).as("__m"),
      count_distinct(struct((pCol +: tieCols).map(col): _*)).as("__md")).head()
    val m = counts.getLong(0)
    require(m <= maxTests,
      s"multipleTestAdjust: $m hypotheses exceed maxTests=$maxTests — " +
        "the correction frame must stay window-sized")
    // the prefix-min-over-reversed-order rewrite of BH's suffix-min is
    // exact ONLY under a total order: with duplicate (p, ties) rows the
    // first tied row in the reversed order would miss its peers' smaller
    // p·m/rank values. Enforce the documented uniqueness contract rather
    // than silently skewing rejections.
    require(counts.getLong(1) == m,
      s"multipleTestAdjust: (p, tie columns) is not a unique key " +
        s"(${counts.getLong(1)} distinct of $m rows) — tieCols must make " +
        "the hypothesis order total for a replayable correction")
    val p = col(pCol).cast("double")
    val orderCols = p.asc +: tieCols.map(col(_).asc)
    val wUp = Window.orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // BH's suffix-min is a PREFIX-min over the exactly-reversed total
    // order (every order column flipped — (p, ties) is a total order, so
    // the row sets agree rank-for-rank). The direct form — a
    // (currentRow, unboundedFollowing) frame — is NOT a running
    // aggregate in Spark: UnboundedFollowingWindowFunctionFrame
    // re-scans the remaining rows per output row, O(m²) min evaluations
    // (measured: 200k hypotheses = 4e10 evals, 184 s; this form is two
    // linear scans of the sorted frame)
    val wDownRev = Window
      .orderBy(p.desc +: tieCols.map(col(_).desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = clean
      .withColumn("rank", row_number().over(Window.orderBy(orderCols: _*)))
    ranked
      .withColumn("p_bonferroni", least(lit(1.0), p * m))
      .withColumn("p_holm",
        max(least(lit(1.0), p * (lit(m) - col("rank") + 1))).over(wUp))
      .withColumn("p_bh",
        min(least(lit(1.0), p * m / col("rank"))).over(wDownRev))
  }

  /** Cochran's Q for k paired binary treatments (the k-treatment
    * generalization of [[mcnemar]] — did ANY of k filter variants /
    * model versions move the binary outcome on the same items):
    *
    *   Q = k(k−1)·Σ_j (C_j − T/k)² / (k·T − Σ_i R_i²)
    *
    * with C_j the per-treatment success totals, R_i the per-item
    * success totals, T = ΣC_j; Q ~ χ²(k−1) under H₀. Requires the
    * COMPLETE block design — every item observed under every treatment
    * exactly once — probed in one bounded aggregate and REFUSED
    * otherwise. One corpus aggregate to the (item, treatment) outcome
    * frame, one item-keyed fold for ΣR², one treatment-keyed fold for
    * the C_j sum — frames bounded by items/treatments. Returns ONE
    * row: (n_items, k, dof, q_stat); an all-equal outcome column
    * (denominator 0) yields null Q. p via [[chiSquarePValue]]. */
  def cochranQ(df: DataFrame, itemCol: String, treatCol: String,
               outcomeCol: String): DataFrame = {
    val y = col(outcomeCol).cast("double")
    val cells = df.na.drop(Seq(itemCol, treatCol, outcomeCol))
      .groupBy(col(itemCol).as("__i"), col(treatCol).as("__t"))
      .agg(count(lit(1)).as("__dup"), sum(y).as("__y"))
      // design probe + both folds read this cache; lazy result => no
      // sound in-method unpersist point (same lifetime note as
      // kendallTauB above)
      .persist()
    val design = cells.agg(
      max("__dup").as("maxDup"),
      countDistinct("__t").as("k"),
      count(lit(1)).as("cells"),
      countDistinct("__i").as("items")).head()
    require(!design.isNullAt(0),
      "cochranQ: empty input — no (item, treatment) observations")
    require(design.getLong(0) <= 1,
      "cochranQ: an (item, treatment) pair is observed more than once — " +
        "the design needs exactly one outcome per pair")
    val k = design.getLong(1)
    require(k >= 2, s"cochranQ: needs >= 2 treatments, got $k")
    require(design.getLong(2) == k * design.getLong(3),
      s"cochranQ: incomplete block design (${design.getLong(2)} cells " +
        s"for ${design.getLong(3)} items × $k treatments) — every item " +
        "must be observed under every treatment; filter items first")
    val perItem = cells.groupBy("__i")
      .agg(sum("__y").as("__r"))
      .agg(count(lit(1)).as("n_items"), sum("__r").as("__tsum"),
        sum(col("__r") * col("__r")).as("__r2"))
    val perTreat = cells.groupBy("__t").agg(sum("__y").as("__cj"))
      .crossJoin(broadcast(perItem))
      .agg(first("n_items").as("n_items"), first("__tsum").as("__tsum"),
        first("__r2").as("__r2"),
        sum((col("__cj") - col("__tsum") / k) *
          (col("__cj") - col("__tsum") / k)).as("__num"))
    val denom = lit(k.toDouble) * col("__tsum") - col("__r2")
    perTreat
      .withColumn("k", lit(k))
      .withColumn("dof", lit(k - 1))
      .withColumn("q_stat",
        when(denom > 0, lit(k.toDouble * (k - 1)) * col("__num") / denom))
      .select("n_items", "k", "dof", "q_stat")
  }

  /** Mantel-Haenszel pooled odds ratio across stratified 2×2 tables —
    * the confounder-adjusted effect estimate (does treatment associate
    * with outcome AFTER stratifying on the confounder), the categorical
    * sibling of [[graft.stat.Experiment.diffInDiff]]:
    *
    *   OR_MH = Σ_s (a_s·d_s/n_s) / Σ_s (b_s·c_s/n_s)
    *
    * over per-stratum cells a = (t=1,y=1), b = (t=1,y=0), c = (t=0,y=1),
    * d = (t=0,y=0). One hash aggregate keyed on the stratum folds the
    * corpus to the cell frame; one scalar fold pools. Also emits the
    * crude (unstratified) OR so confounding is visible as crude ≠ MH.
    * Returns ONE row: (n, n_strata, or_crude, or_mh); zero cross
    * products (an empty diagonal) yield nulls. */
  def mantelHaenszel(df: DataFrame, stratumCol: String, treatCol: String,
                     outcomeCol: String): DataFrame = {
    val t = col(treatCol).cast("int")
    val y = col(outcomeCol).cast("int")
    val clean = df.na.drop(Seq(stratumCol, treatCol, outcomeCol))
    def cell(tv: Int, yv: Int) =
      sum(when(t === tv && y === yv, 1.0).otherwise(0.0))
    val strata = clean
      .groupBy(col(stratumCol).as("__s"))
      .agg(cell(1, 1).as("__a"), cell(1, 0).as("__b"),
        cell(0, 1).as("__c"), cell(0, 0).as("__d"))
      .withColumn("__n",
        col("__a") + col("__b") + col("__c") + col("__d"))
    val pooled = strata.agg(
      sum("__n").cast("long").as("n"),
      count(lit(1)).as("n_strata"),
      sum(col("__a") * col("__d") / col("__n")).as("__mhNum"),
      sum(col("__b") * col("__c") / col("__n")).as("__mhDen"),
      sum("__a").as("__A"), sum("__b").as("__B"),
      sum("__c").as("__C"), sum("__d").as("__D"))
    pooled
      .withColumn("or_crude",
        when(col("__B") * col("__C") > 0,
          col("__A") * col("__D") / (col("__B") * col("__C"))))
      .withColumn("or_mh",
        when(col("__mhDen") > 0, col("__mhNum") / col("__mhDen")))
      .select("n", "n_strata", "or_crude", "or_mh")
  }

  /** Two-sided p-values for the statistics above (CDF-dependent, so
    * spec-pinned rather than oracle-replayed — the Welch/propTest
    * precedent). */
  def chiSquarePValue(chi2: Double, dof: Long): Double =
    1.0 - new org.apache.commons.math3.distribution.ChiSquaredDistribution(
      dof.toDouble).cumulativeProbability(chi2)

  def anovaPValue(f: Double, dfB: Long, dfW: Long): Double =
    1.0 - new org.apache.commons.math3.distribution.FDistribution(
      dfB.toDouble, dfW.toDouble).cumulativeProbability(f)

  def mannWhitneyPValue(z: Double): Double =
    2.0 * (1.0 - new org.apache.commons.math3.distribution.NormalDistribution()
      .cumulativeProbability(math.abs(z)))

  /** Normal-approximation two-sided p for Kendall's tau (no tie
    * correction in the variance — the classic large-sample form). */
  def kendallTauPValue(concordant: Long, discordant: Long, n: Long): Double = {
    val z = 3.0 * (concordant - discordant) /
      math.sqrt(n.toDouble * (n - 1) * (2 * n + 5) / 2.0)
    mannWhitneyPValue(z)
  }
}
