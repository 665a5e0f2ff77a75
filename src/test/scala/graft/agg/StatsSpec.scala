package graft.agg

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StatsSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  lazy val df: DataFrame = {
    import spark.implicits._
    Seq(
      ("a", 1.0, "x"), ("a", 2.0, "y"), ("a", 3.0, "x"),
      ("b", 10.0, "x"), ("b", 20.0, "x"), ("b", 30.0, "y"),
      ("b", 40.0, "y"), ("a", 4.0, "y")
    ).toDF("g", "v", "c")
  }

  test("describe computes mean/min/max/stddev/var per stratum") {
    val r = Stats.describe(df, Seq("v"), Seq("g"))
      .orderBy("g").collect()
    assert(r(0).getAs[Double]("v_mean") == 2.5) // a: 1,2,3,4
    assert(r(1).getAs[Double]("v_min") == 10.0)
    assert(r(1).getAs[Double]("v_max") == 40.0)
    // sample stddev of 1,2,3,4 = sqrt(5/3)
    assert(math.abs(r(0).getAs[Double]("v_stddev") - math.sqrt(5.0 / 3)) < 1e-12)
    assert(math.abs(r(0).getAs[Double]("v_var") - 5.0 / 3) < 1e-12)
  }

  test("percentileExact interpolates like quantile_cont") {
    val r = Stats.percentileExact(df.filter(col("g") === "a"), Seq("v"), Seq(0.5))
      .head()
    assert(r.getDouble(0) == 2.5) // median of 1,2,3,4
  }

  test("valueCounts counts groups after dropna") {
    val r = Stats.valueCounts(df, Seq("c")).orderBy("c").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      Seq(("x", 4L), ("y", 4L)))
  }

  test("mode picks most frequent with deterministic tiebreak") {
    // x and y tie at 4 — tiebreak ascending picks x
    assert(Stats.mode(df, "c").head().getString(0) == "x")
  }

  test("modeStratified picks per-stratum top-1") {
    val r = Stats.modeStratified(df, "c", Seq("g")).orderBy("g").collect()
    assert(r.map(x => (x.getString(0), x.getString(1))).toSeq ==
      Seq(("a", "x"), ("b", "x"))) // both tie 2-2 → tiebreak "x"
  }

  test("entropy of a uniform 2-value column is 1 bit") {
    val r = Stats.entropy(df, "c").head()
    assert(math.abs(r.getAs[Double]("c_entropy") - 1.0) < 1e-12)
  }

  test("mutual information is 0 for independent columns") {
    import spark.implicits._
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"))
      .toDF("u", "w")
    val mi = Stats.mutualInfo(ind, "u", "w").head().getAs[Double]("mutual_info")
    assert(math.abs(mi) < 1e-12)
  }

  test("mutual information equals entropy for identical columns") {
    import spark.implicits._
    val same = Seq(("x", "x"), ("y", "y"), ("x", "x"), ("y", "y"))
      .toDF("u", "w")
    val mi = Stats.mutualInfo(same, "u", "w").head().getAs[Double]("mutual_info")
    assert(math.abs(mi - 1.0) < 1e-12) // H = 1 bit for uniform 2 values
  }

  test("mutualInfoMatrix: diagonal is entropy, symmetric pairs sorted") {
    import spark.implicits._
    val same = Seq(("x", "x"), ("y", "y"), ("x", "x"), ("y", "y"))
      .toDF("u", "w")
    val mm = Stats.mutualInfoMatrix(same, Seq("u", "w"))
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(math.abs(mm(("u", "u")) - 1.0) < 1e-12) // H(u) = 1 bit
    assert(math.abs(mm(("u", "w")) - 1.0) < 1e-12) // identical cols
  }

  test("fused mutualInfoMatrix matches per-pair mutualInfo/entropy with nulls") {
    import spark.implicits._
    val df3 = Seq(
      ("a", "x", "p"), ("a", "y", null), ("b", "x", "q"), ("b", "y", "p"),
      ("a", "x", "q"), ("b", null, "p")
    ).toDF("u", "w", "z")
    val cols = Seq("u", "w", "z")
    val mm = Stats.mutualInfoMatrix(df3, cols)
      .map(t => (t._1, t._2) -> t._3).toMap
    for (c <- cols) {
      val h = Stats.entropy(df3, c).head().getAs[Double](s"${c}_entropy")
      assert(math.abs(mm((c, c)) - h) < 1e-12, s"diag $c: ${mm((c, c))} vs $h")
    }
    for (Seq(a, b) <- cols.combinations(2)) {
      val mi = Stats.mutualInfo(df3, a, b).head().getAs[Double]("mutual_info")
      assert(math.abs(mm((a, b)) - mi) < 1e-12, s"pair $a,$b: ${mm((a, b))} vs $mi")
    }
  }

  test("entropy/mutualInfo tolerate input columns named like internals") {
    import spark.implicits._
    val tricky = Seq(("a", "x", 1.0), ("b", "y", 2.0), ("a", "x", 3.0),
      ("b", "x", 4.0)).toDF("n", "cnt", "p")
    val h = Stats.entropy(tricky, "n").head().getAs[Double]("n_entropy")
    assert(math.abs(h - 1.0) < 1e-12) // uniform 2 values
    val mi = Stats.mutualInfo(tricky, "n", "cnt")
      .head().getAs[Double]("mutual_info")
    assert(mi >= 0 && mi <= 1)
  }

  test("mutualInfoMatrix groups -0.0 with 0.0 like groupBy does") {
    import spark.implicits._
    val df0 = Seq((-0.0, "a"), (0.0, "a"), (-0.0, "b"), (1.0, "b"))
      .toDF("x", "g")
    val mm = Stats.mutualInfoMatrix(df0, Seq("x", "g"))
      .map(t => (t._1, t._2) -> t._3).toMap
    val hx = Stats.entropy(df0, "x").head().getAs[Double]("x_entropy")
    assert(math.abs(mm(("x", "x")) - hx) < 1e-12,
      s"diag ${mm(("x", "x"))} vs entropy $hx — ±0.0 split the tie group")
  }

  test("isNull counts nulls and NaNs on floating columns") {
    import spark.implicits._
    val withNulls = Seq[(String, java.lang.Double)](
      ("a", 1.0), ("a", null), ("b", Double.NaN), ("b", 2.0)
    ).toDF("g", "v")
    val r = Stats.isNull(withNulls, Seq("v")).head()
    assert(r.getLong(0) == 2L) // null + NaN
  }

  test("corrPearson computes pairwise correlation") {
    import spark.implicits._
    val lin = (1 to 10).map(i => (i.toDouble, 2.0 * i, -1.0 * i))
      .toDF("x", "y", "z")
    val r = Stats.corrPearson(lin, Seq("x", "y", "z")).head()
    assert(math.abs(r.getAs[Double]("x__y") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("x__z") + 1.0) < 1e-12)
  }

  test("percentileApproxCheck / nuniqueCheck: contract flags hold, exact values match") {
    import spark.implicits._
    val df = (1 to 1000).map(i => (i % 7, i.toDouble, (i * 31 % 250).toLong))
      .toDF("g", "x", "k")
    // small n per stratum: the rank-space check must still pass (the old
    // value-envelope form failed whenever eps*n < 1 row)
    val pc = Stats.percentileApproxCheck(df, Seq("x"), Seq(0.25, 0.5, 0.75),
      precision = 1e-4, strata = Seq("g"))
    val rows = pc.collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      Seq("x_p25_ok", "x_p50_ok", "x_p75_ok").foreach(c =>
        assert(r.getAs[Boolean](c), s"flag $c false in $r"))
    }
    // exact value column agrees with percentileExact
    val pe = Stats.percentileExact(df, Seq("x"), Seq(0.5), Seq("g"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rows.foreach(r => assert(r.getAs[Double]("x_p50") == pe(r.getInt(0))))
    // a deliberately WRONG "sketch" value must trip the rank check: rank of
    // min(x) is far outside [p*n - eps*n - 1, ...] for p = 0.5, n = 1000
    val nc = Stats.nuniqueCheck(df, Seq("k", "x"))
    val n = nc.head()
    assert(n.getAs[Long]("k") == 250L && n.getAs[Boolean]("k_ok"))
    assert(n.getAs[Long]("x") == 1000L && n.getAs[Boolean]("x_ok"))
  }

  test("per-column strata recombination keeps NULL-keyed stratum groups") {
    import spark.implicits._
    // g = null for a third of the rows: the per-column pipelines must
    // recombine with null-SAFE equality or the null stratum silently
    // vanishes (a plain equi-join drops it — regression for the round-6
    // per-column rewrite)
    val df = (1 to 300).map { i =>
      (if (i % 3 == 0) None else Some(i % 2), i.toDouble, (i % 50).toLong)
    }.toDF("g", "x", "k")
    val ne = Stats.nuniqueExact(df, Seq("k", "x"), strata = Seq("g"))
      .collect()
    assert(ne.length == 3, s"expected 3 strata (0, 1, null), got ${ne.toSeq}")
    val nullRow = ne.find(_.isNullAt(0)).get
    assert(nullRow.getAs[Long]("k") == 50L)
    assert(nullRow.getAs[Long]("x") == 100L)
    val nc = Stats.nuniqueCheck(df, Seq("k"), strata = Seq("g")).collect()
    assert(nc.length == 3 && nc.exists(_.isNullAt(0)))
    val pc = Stats.percentileApproxCheck(df, Seq("x"), Seq(0.5),
      strata = Seq("g")).collect()
    assert(pc.length == 3 && pc.exists(_.isNullAt(0)))
    pc.foreach(r => assert(r.getAs[Boolean]("x_p50_ok")))
  }

  test("corrSpearman is 1 for any monotone relation") {
    import spark.implicits._
    val mono = (1 to 10).map(i => (i.toDouble, math.exp(i.toDouble)))
      .toDF("x", "y")
    val r = Stats.corrSpearman(mono, Seq("x", "y")).head()
    assert(math.abs(r.getAs[Double]("x__y") - 1.0) < 1e-12)
  }

  test("corrSpearman exact on tie-heavy data vs local average-rank reference") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 2 distinct x values and 3 distinct y values at parallelism 4: range
    // partitioning puts each tie run whole into one partition; this checks
    // the tie-averaged ranks and global offsets against a local reference
    val data = (1 to 400).map { _ =>
      (rnd.nextInt(2).toDouble, rnd.nextInt(3).toDouble)
    }
    def avgRanks(v: Seq[Double]): Map[Double, Double] = {
      val sorted = v.sorted
      v.distinct.map { d =>
        val first = sorted.indexOf(d) + 1
        val cnt = sorted.count(_ == d)
        d -> (first + (first + cnt - 1)) / 2.0
      }.toMap
    }
    val rx = avgRanks(data.map(_._1)); val ry = avgRanks(data.map(_._2))
    val xs = data.map(d => rx(d._1)); val ys = data.map(d => ry(d._2))
    val n = data.size
    val mx = xs.sum / n; val my = ys.sum / n
    val cov = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
    val expected = cov / math.sqrt(
      xs.map(a => (a - mx) * (a - mx)).sum * ys.map(b => (b - my) * (b - my)).sum)
    val got = Stats.corrSpearman(data.toDF("x", "y").repartition(4),
      Seq("x", "y")).head().getAs[Double]("x__y")
    assert(math.abs(got - expected) < 1e-12, s"got $got expected $expected")
  }

  test("corrSpearmanDistributed agrees with the window-rank variant") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val data = (1 to 200).map { _ =>
      val x = rnd.nextGaussian()
      (x, x * 2 + rnd.nextGaussian(), rnd.nextInt(5).toDouble) // ties in z
    }.toDF("x", "y", "z")
    val a = Stats.corrSpearman(data, Seq("x", "y", "z")).head()
    val b = Stats.corrSpearmanDistributed(data, Seq("x", "y", "z")).head()
    Seq("x__y", "x__z", "y__z").foreach { p =>
      assert(math.abs(a.getAs[Double](p) - b.getAs[Double](p)) < 1e-9)
    }
  }

  test("moments match closed-form population skew/kurtosis") {
    import spark.implicits._
    // 1,2,3,4,10: mean 4, m2 = (9+4+1+0+36)/5 = 10,
    // m3 = (-27-8-1+0+216)/5 = 36, m4 = (81+16+1+0+1296)/5 = 278.8
    val d = Seq(1.0, 2.0, 3.0, 4.0, 10.0).toDF("v")
    val r = Stats.moments(d, Seq("v")).head()
    assert(r.getAs[Long]("n") == 5L)
    assert(math.abs(r.getAs[Double]("mean") - 4.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("variance") - 10.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("skewness") - 36.0 / math.pow(10.0, 1.5)) < 1e-12)
    assert(math.abs(r.getAs[Double]("kurtosis") - (278.8 / 100.0 - 3.0)) < 1e-12)
  }

  test("moments: constant column yields NaN skew/kurtosis, zero variance") {
    import spark.implicits._
    val d = Seq.fill(4)(7.0).toDF("v")
    val r = Stats.moments(d, Seq("v")).head()
    assert(r.getAs[Double]("variance") == 0.0)
    // m2 = 0 → 0/0: NaN is the honest answer (scipy.stats.skew returns
    // nan here too), not 0 — downstream should see "undefined"
    assert(r.getAs[Double]("skewness").isNaN)
    assert(r.getAs[Double]("kurtosis").isNaN)
  }

  test("moments: listwise na.drop shares one n across columns") {
    import spark.implicits._
    val d = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, null), (2.0, 5.0), (3.0, 6.0), (4.0, 7.0))
      .toDF("a", "b")
    val rows = Stats.moments(d, Seq("a", "b")).collect()
    // the (1.0, null) row is dropped for BOTH columns: n = 3, mean(a) = 3
    assert(rows.forall(_.getAs[Long]("n") == 3L))
    val a = rows.find(_.getString(0) == "a").get
    assert(math.abs(a.getAs[Double]("mean") - 3.0) < 1e-12)
  }

  test("moments and covarianceMatrix on empty input emit no-row / null frames") {
    import spark.implicits._
    val empty = Seq.empty[(Double, Double)].toDF("a", "b")
    val m = Stats.moments(empty, Seq("a", "b")).collect()
    // agg over empty input yields one row per column with n = 0 and null
    // moments (avg of nothing) — never a crash
    assert(m.forall(r => r.getAs[Long]("n") == 0L && r.isNullAt(2)))
    val c = Stats.covarianceMatrix(empty, Seq("a", "b")).collect()
    assert(c.length == 3 && c.forall(_.isNullAt(2)))
  }

  test("psi: identical slices score ~0, disjoint slices score large") {
    import spark.implicits._
    val a = (1 to 1000).map(_.toDouble / 100).toDF("x")
    val same = Stats.psi(a, a, "x", bins = 10).head().getDouble(0)
    // identical distributions: every bin share matches exactly → PSI = 0
    assert(same == 0.0)
    // all current mass lands in the reference's top bin: textbook "shifted"
    val far = (1 to 1000).map(_ => 10.0).toDF("x")
    val drifted = Stats.psi(a, far, "x", bins = 10).head().getDouble(0)
    assert(drifted > 0.25, s"expected shifted-regime PSI, got $drifted")
  }

  test("psi matches the closed-form two-bin hand computation") {
    import spark.implicits._
    // ref: 3 low + 1 high over [0,1]; cur: 1 low + 3 high; 2 bins
    val ref = Seq(0.1, 0.2, 0.3, 1.0).toDF("x")
    val cur = Seq(0.1, 0.8, 0.9, 1.0).toDF("x")
    val got = Stats.psi(ref, cur, "x", bins = 2).head().getDouble(0)
    val expect = (0.25 - 0.75) * math.log(0.25 / 0.75) +
      (0.75 - 0.25) * math.log(0.75 / 0.25)
    assert(math.abs(got - expect) < 1e-12)
  }

  test("psi: empty and degenerate references do not crash") {
    import spark.implicits._
    val cur = Seq(1.0, 2.0).toDF("x")
    val empty = Seq.empty[Double].toDF("x")
    // empty reference: all cur mass clamps to bin 0, ref shares are eps
    assert(!Stats.psi(empty, cur, "x").head().isNullAt(0))
    // constant reference (min = max): width guard keeps the binning finite
    val const = Seq(5.0, 5.0, 5.0).toDF("x")
    assert(!Stats.psi(const, cur, "x").head().isNullAt(0))
  }

  test("psiQuantile: equal-mass reference bins; detects tail-shifted drift") {
    import spark.implicits._
    val ref = (1 to 1000).map(_.toDouble).toDF("x")
    // identical → 0 exactly (same shares bin-by-bin)
    assert(Stats.psiQuantile(ref, ref, "x", bins = 4).head().getDouble(0) == 0.0)
    // current concentrated above the reference's p75: strongly shifted
    val cur = (900 to 1100).map(_.toDouble).toDF("x")
    val drifted = Stats.psiQuantile(ref, cur, "x", bins = 4).head().getDouble(0)
    assert(drifted > 0.25, s"expected shifted-regime PSI, got $drifted")
  }

  test("psiQuantile: heavy ties merge bins without crashing (eps floor)") {
    import spark.implicits._
    // 90% of the reference is one value → duplicate quartile edges
    val ref = (Seq.fill(900)(5.0) ++ (1 to 100).map(_.toDouble)).toDF("x")
    val cur = (1 to 100).map(_.toDouble).toDF("x")
    val v = Stats.psiQuantile(ref, cur, "x", bins = 4).head().getDouble(0)
    assert(!v.isNaN && !v.isInfinite)
  }

  test("covarianceMatrix matches closed-form sample covariance") {
    import spark.implicits._
    val d = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 5.0), (4.0, 9.0)).toDF("x", "y")
    val r = Stats.covarianceMatrix(d, Seq("y", "x")) // unsorted input cols
      .collect().map(row => (row.getString(0), row.getString(1)) -> row.getDouble(2))
      .toMap
    // means: x̄ = 2.5, ȳ = 5; covar_samp(x,y) = Σ(x−x̄)(y−ȳ)/3
    val cxy = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 5.0), (4.0, 9.0))
      .map { case (x, y) => (x - 2.5) * (y - 5.0) }.sum / 3.0
    assert(math.abs(r(("x", "y")) - cxy) < 1e-12)
    assert(math.abs(r(("x", "x")) - 5.0 / 3.0) < 1e-12) // var_samp(1..4)
    // upper triangle of the SORTED columns only: (x,x), (x,y), (y,y)
    assert(r.keySet == Set(("x", "x"), ("x", "y"), ("y", "y")))
  }

  test("tableProfile: exact counts, null handling, approx mode within HLL rsd") {
    import spark.implicits._
    val t = Seq(
      (1L, Some("a"), Some(2.5)), (2L, Some("b"), None),
      (3L, None, Some(2.5)), (4L, Some("a"), Some(7.0))
    ).toDF("id", "s", "x")
    val prof = Stats.tableProfile(t, exact = true)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[String]("min_str"), r.getAs[String]("max_str")))).toMap
    assert(prof("id") == ((4L, 4L, 4L, "1", "4")))
    assert(prof("s") == ((4L, 3L, 2L, "a", "b")))
    assert(prof("x") == ((4L, 3L, 2L, "2.5", "7.0")))
    // column subset + approx mode: HLL distinct within 4*rsd of exact
    val sub = Stats.tableProfile(t, Seq("s"))
      .head()
    assert(sub.getString(0) == "s")
    assert(math.abs(sub.getLong(3) - 2L) <= math.max(1, (2 * 4 * 0.05).toLong))
  }

  test("linearFit recovers a known line and flags degenerate groups") {
    import spark.implicits._
    // group a: exact line y = 2x + 1; group b: noisy; group c: constant x
    val df = (Seq(("a", 1.0, 3.0), ("a", 2.0, 5.0), ("a", 3.0, 7.0)) ++
        Seq(("b", 1.0, 1.0), ("b", 2.0, 3.0), ("b", 3.0, 2.0),
          ("b", 4.0, 5.0)) ++
        Seq(("c", 2.0, 1.0), ("c", 2.0, 9.0)) ++
        Seq(("d", 1.0, 4.0))) // single point
      .toDF("g", "x", "y")
    val got = graft.agg.Stats.linearFit(df, Seq("g"), "x", "y")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(math.abs(a.getDouble(2) - 2.0) < 1e-12)
    assert(math.abs(a.getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(a.getDouble(4) - 1.0) < 1e-12)
    // group b vs the closed-form least squares on the same points
    val xs = Seq(1.0, 2.0, 3.0, 4.0); val ys = Seq(1.0, 3.0, 2.0, 5.0)
    val n = 4.0
    val slope = (n * xs.zip(ys).map { case (x, y) => x * y }.sum -
      xs.sum * ys.sum) / (n * xs.map(x => x * x).sum - xs.sum * xs.sum)
    assert(math.abs(got("b").getDouble(2) - slope) < 1e-12)
    // zero x-variance and n=1 yield null fit columns
    assert(got("c").isNullAt(2) && got("c").isNullAt(4))
    assert(got("d").isNullAt(2))
    // groupless call returns one row
    assert(graft.agg.Stats.linearFit(df, Seq.empty, "x", "y").count() == 1)
  }

  test("benford extracts leading significant digits exactly") {
    import spark.implicits._
    val df = Seq("123.45", "0.0042", "-950.00", "1.00", "0.00", null)
      .toDF("s")
      .select(col("s").cast("decimal(12,4)").as("v"))
    val got = graft.agg.Stats.benford(df, "v")
      .select("digit", "n").as[(Int, Long)].collect().toMap
    // 123.45→1, 0.0042→4, -950→9, 1.00→1; zero and null excluded
    assert(got == Map(1 -> 2L, 4 -> 1L, 9 -> 1L))
    val row = graft.agg.Stats.benford(df, "v")
      .filter(col("digit") === 1).head()
    assert(math.abs(row.getDouble(2) - 0.5) < 1e-12)          // observed
    assert(math.abs(row.getDouble(3) - math.log10(2.0)) < 1e-12) // expected
    intercept[IllegalArgumentException](
      graft.agg.Stats.benford(Seq(1.5).toDF("v"), "v")) // double refused
  }

  test("concentration: even split -> gini 0 and hhi 1/n; monopoly -> " +
      "gini 1-1/n and hhi 1") {
    import spark.implicits._
    val df = Seq(
      ("even", 5.0), ("even", 5.0), ("even", 5.0), ("even", 5.0),
      ("mono", 0.0), ("mono", 0.0), ("mono", 0.0), ("mono", 12.0),
      ("zero", 0.0), ("zero", 0.0)).toDF("g", "x")
    val got = graft.agg.Stats.concentration(df, Seq("g"), "x")
      .collect().map(r => r.getString(0) -> r).toMap
    val even = got("even")
    assert(even.getLong(1) == 4L)
    assert(math.abs(even.getDouble(3)) < 1e-12)        // gini 0
    assert(math.abs(even.getDouble(4) - 0.25) < 1e-12) // hhi 1/4
    val mono = got("mono")
    assert(math.abs(mono.getDouble(3) - 0.75) < 1e-12) // 1 - 1/4
    assert(math.abs(mono.getDouble(4) - 1.0) < 1e-12)
    val zero = got("zero")
    assert(zero.isNullAt(3) && zero.isNullAt(4)) // sum 0 -> null
  }

  test("weightedPercentile: Type-1 inverse CDF on a known weighted " +
      "set; uniform weights reduce to the plain lower percentile") {
    import spark.implicits._
    // values 10,20,30 with weights 1,1,8: cum = 1,2,10 of W=10
    // p=0.1 -> 10 (cum 1 >= 1); p=0.2 -> 20; p=0.21 -> 30; p=1 -> 30
    val df = Seq(("a", 10.0, 1.0), ("a", 20.0, 1.0), ("a", 30.0, 8.0))
      .toDF("g", "v", "w")
    val got = graft.agg.Stats.weightedPercentile(df, Seq("g"), "v", "w",
        Seq(0.1, 0.2, 0.21, 1.0))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(got(0.1) == 10.0 && got(0.2) == 20.0)
    assert(got(0.21) == 30.0 && got(1.0) == 30.0)
    // duplicate values merge their weights before the cumsum
    val dup = Seq(("a", 10.0, 3.0), ("a", 10.0, 3.0), ("a", 99.0, 4.0))
      .toDF("g", "v", "w")
    val m = graft.agg.Stats.weightedPercentile(dup, Seq("g"), "v", "w",
      Seq(0.5)).head()
    assert(m.getDouble(2) == 10.0) // cum(10) = 6 >= 5
    // uniform weights == unweighted lower quantile
    val vals = Seq(5.0, 1.0, 9.0, 3.0, 7.0)
    val uni = vals.map(("a", _, 1.0)).toDF("g", "v", "w")
    val q = graft.agg.Stats.weightedPercentile(uni, Seq("g"), "v", "w",
        Seq(0.2, 0.4, 0.6, 0.8, 1.0))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(q == Map(0.2 -> 1.0, 0.4 -> 3.0, 0.6 -> 5.0, 0.8 -> 7.0,
      1.0 -> 9.0))
    val bad = Seq(("a", 1.0, 0.0)).toDF("g", "v", "w")
    val e = intercept[Exception] {
      graft.agg.Stats.weightedPercentile(bad, Seq("g"), "v", "w",
        Seq(0.5)).collect()
    }
    assert(e.getMessage.contains("non-positive"))
  }

  test("rollupAgg: every prefix level present, sentinel in rolled " +
      "slots, levels consistent with the bit convention") {
    import spark.implicits._
    val df = Seq(("a", "x", 1L), ("a", "y", 2L), ("b", "x", 4L))
      .toDF("d1", "d2", "v")
    val got = graft.agg.Stats.rollupAgg(df, Seq("d1", "d2"), "v")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(("a", "x")) == (0L, 1L, 1L))
    assert(got(("a", "y")) == (0L, 1L, 2L))
    assert(got(("b", "x")) == (0L, 1L, 4L))
    assert(got(("a", "(all)")) == (1L, 2L, 3L)) // d2 rolled -> LSB
    assert(got(("b", "(all)")) == (1L, 1L, 4L))
    assert(got(("(all)", "(all)")) == (3L, 3L, 7L))
    assert(got.size == 6) // no CUBE-only (d2 without d1) rows
  }

  test("robustMean: trimmed/winsorized on a known vector with an " +
      "outlier; p=0 degrades everything to the mean") {
    import spark.implicits._
    // x = 1..9 plus outlier 1000; p = 0.1 -> q_lo/q_hi from
    // quantile_cont(0.1/0.9) over the 10 sorted values:
    // h = 0.1*9 = 0.9 -> q_lo = 1 + 0.9*(2-1) = 1.9
    // h = 0.9*9 = 8.1 -> q_hi = 9 + 0.1*(1000-9) = 108.1
    val xs = (1 to 9).map(_.toDouble) :+ 1000.0
    val df = xs.map(("a", _)).toDF("g", "x")
    val r = graft.agg.Stats.robustMean(df, Seq("g"), "x", p = 0.1).head()
    val qLo = 1.9
    val qHi = 9.0 + 0.1 * 991.0
    assert(math.abs(r.getAs[Double]("q_lo") - qLo) < 1e-12)
    assert(math.abs(r.getAs[Double]("q_hi") - qHi) < 1e-12)
    // in-range: 2..9 (1 < 1.9, 1000 > 108.1)
    assert(math.abs(r.getAs[Double]("trimmed_mean") - 44.0 / 8) < 1e-12)
    assert(math.abs(r.getAs[Double]("winsorized_mean") -
      (44.0 + qLo + qHi) / 10) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean") - xs.sum / 10) < 1e-12)
    val p0 = graft.agg.Stats.robustMean(df, Seq("g"), "x", p = 0.0).head()
    assert(p0.getAs[Double]("trimmed_mean") == p0.getAs[Double]("mean"))
    assert(p0.getAs[Double]("winsorized_mean") == p0.getAs[Double]("mean"))
    intercept[IllegalArgumentException](
      graft.agg.Stats.robustMean(df, Seq("g"), "x", p = 0.5))
    // approx path (scale mode): cuts within GK tolerance, means
    // consistent with whatever cuts were chosen
    val ap = graft.agg.Stats.robustMean(df, Seq("g"), "x", p = 0.1,
      accuracy = 10000).head()
    val (alo, ahi) = (ap.getAs[Double]("q_lo"), ap.getAs[Double]("q_hi"))
    assert(alo <= 2.0 && ahi >= 9.0) // rank-error bound on 10 points
    val inRange = xs.filter(x => x >= alo && x <= ahi)
    assert(ap.getAs[Double]("trimmed_mean") ==
      inRange.sum / inRange.length)
  }

  test("concentration matches the textbook Gini on a known vector and " +
      "refuses negatives") {
    import spark.implicits._
    // x = 1,2,3,4: gini = (2*(1+4+9+16) - 5*10) / (4*10) = 10/40
    val df = Seq.tabulate(4)(i => ("a", (i + 1).toDouble)).toDF("g", "x")
    val r = graft.agg.Stats.concentration(df, Seq("g"), "x").head()
    assert(math.abs(r.getDouble(3) - 0.25) < 1e-12)
    assert(math.abs(r.getDouble(4) - 30.0 / 100.0) < 1e-12)
    val bad = Seq(("a", -1.0)).toDF("g", "x")
    val e = intercept[Exception] {
      graft.agg.Stats.concentration(bad, Seq("g"), "x").collect()
    }
    assert(e.getMessage.contains("negative"))
  }

  test("theil: even split -> 0, monopoly -> ln n; zeros count in n") {
    import spark.implicits._
    val df = Seq(
      ("even", 5.0), ("even", 5.0), ("even", 5.0), ("even", 5.0),
      ("mono", 0.0), ("mono", 0.0), ("mono", 0.0), ("mono", 12.0),
      ("zero", 0.0), ("zero", 0.0)).toDF("g", "x")
    val got = graft.agg.Stats.theil(df, Seq("g"), "x")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(math.abs(got("even").getDouble(3)) < 1e-12)
    // one member holds all of n=4: T = ln 4
    assert(math.abs(got("mono").getDouble(3) - math.log(4.0)) < 1e-12)
    assert(got("zero").isNullAt(3)) // sum 0 -> null
    // hand-check a non-degenerate vector: x = (1, 3), mu = 2
    val hand = Seq(("h", 1.0), ("h", 3.0)).toDF("g", "x")
    val t = graft.agg.Stats.theil(hand, Seq("g"), "x").collect()(0)
    val expect = 0.5 * (0.5 * math.log(0.5) + 1.5 * math.log(1.5))
    assert(math.abs(t.getDouble(3) - expect) < 1e-12)
    val e2 = intercept[Exception](graft.agg.Stats.theil(
      Seq(("g", -1.0)).toDF("g", "x"), Seq("g"), "x").collect())
    assert(e2.getMessage.contains("negative"))
  }

  test("cronbachAlpha matches the variance identity on a known scale") {
    import spark.implicits._
    val rows = Seq(
      (2.0, 3.0, 2.0), (4.0, 4.0, 5.0), (6.0, 7.0, 6.0), (8.0, 8.0, 9.0),
      (1.0, 2.0, 1.0))
    val got = graft.agg.Stats.cronbachAlpha(
      rows.toDF("a", "b", "c"), Seq("a", "b", "c")).head()
    def varS(xs: Seq[Double]) = {
      val n = xs.size; val m = xs.sum / n
      xs.map(x => (x - m) * (x - m)).sum / (n - 1)
    }
    val items = Seq(rows.map(_._1), rows.map(_._2), rows.map(_._3))
    val siv = items.map(varS).sum
    val tv = varS(rows.map(r => r._1 + r._2 + r._3))
    val alpha = 1.5 * (1 - siv / tv)
    assert(got.getLong(0) == 5L && got.getInt(1) == 3)
    assert(math.abs(got.getDouble(2) - siv) < 1e-10)
    assert(math.abs(got.getDouble(3) - tv) < 1e-10)
    assert(math.abs(got.getDouble(4) - alpha) < 1e-10)
    assert(alpha > 0.9) // strongly parallel items
    // zero-variance total (constant rows): null alpha; < 2 items refuses
    val const = graft.agg.Stats.cronbachAlpha(
      Seq((1.0, 1.0), (1.0, 1.0)).toDF("a", "b"), Seq("a", "b")).head()
    assert(const.isNullAt(4))
    intercept[IllegalArgumentException] {
      graft.agg.Stats.cronbachAlpha(rows.toDF("a", "b", "c"), Seq("a"))
    }
  }

  test("quantilesByCounts matches the buffering exact percentile bit-for-bit") {
    import spark.implicits._
    // ragged group sizes, ties, and a continuous-ish column
    val rows = Seq("a" -> 7, "b" -> 12, "c" -> 1).flatMap { case (g, n) =>
      (1 to n).map(i => (g, (i * 37 % n).toDouble + i * 0.25))
    }
    val df = rows.toDF("g", "v")
    val ps = Seq(0.0, 0.25, 0.5, 0.9, 1.0)
    val got = graft.agg.Stats.quantilesByCounts(df, "v", Seq("g"), ps)
      .collect().map(r => r.getString(0) ->
        (1 to ps.size).map(r.getDouble).toSeq).toMap
    def seqQuantile(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val r = p * (s.size - 1)
      val lo = s(r.toInt)
      val hi = s(math.min(r.toInt + 1, s.size - 1))
      lo + (hi - lo) * (r - math.floor(r))
    }
    rows.groupBy(_._1).foreach { case (g, xs) =>
      val vals = xs.map(_._2)
      ps.zipWithIndex.foreach { case (p, i) =>
        assert(got(g)(i) == seqQuantile(vals, p), s"group $g p=$p")
      }
    }
    // and against the house buffering aggregate on the same data
    val viaBuffer = df.groupBy("g").agg(
      graft.expr.ExactPercentile.of(col("v"), ps).as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    got.foreach { case (g, qs) =>
      qs.zip(viaBuffer(g)).foreach { case (a, b) => assert(a == b) }
    }
    intercept[IllegalArgumentException] {
      graft.agg.Stats.quantilesByCounts(df, "v", Seq("g"), Seq(1.5))
    }
    intercept[IllegalArgumentException] {
      graft.agg.Stats.quantilesByCounts(df, "v", Seq("g"), Nil)
    }
  }

  test("quantilesByCounts at integral ranks next to an infinity: bit-for-bit with ExactPercentile") {
    import spark.implicits._
    val inf = Double.PositiveInfinity
    // p = 0 and p = 1 land on integral ranks, where lo + (hi − lo)·0
    // would read ∞·0 or ∞ − ∞ (NaN); p = 0.5 interpolates between
    // statistics on both sides of an infinity
    val rows = Seq("a" -> 1.0, "a" -> inf,
      "b" -> -inf, "b" -> 2.0, "b" -> inf,
      "c" -> -inf, "c" -> 3.0,
      "d" -> inf)
    val df = rows.toDF("g", "v")
    val ps = Seq(0.0, 0.5, 1.0)
    val got = graft.agg.Stats.quantilesByCounts(df, "v", Seq("g"), ps)
      .collect().map(r => r.getString(0) -> (1 to ps.size).map(r.getDouble)).toMap
    val viaBuffer = df.groupBy("g").agg(
      graft.expr.ExactPercentile.of(col("v"), ps).as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d)
    assert(got.keySet == viaBuffer.keySet)
    got.foreach { case (g, qs) =>
      qs.zip(viaBuffer(g)).zip(ps).foreach { case ((a, b), p) =>
        assert(bits(a) == bits(b), s"group $g p=$p: $a vs $b")
      }
    }
    assert(got("a") == Seq(1.0, inf, inf))
  }

  test("quantilesByCounts drops NaN values like null ones") {
    import spark.implicits._
    val nan = Double.NaN
    // NaN sorts last, so counting it would turn p = 1 into NaN; a group
    // of NaNs only must be omitted like a group of nulls
    val df = Seq[(String, java.lang.Double)](
      "a" -> 1.0, "a" -> 3.0, "a" -> nan, "a" -> null,
      "b" -> nan, "b" -> nan,
      "c" -> 2.0).toDF("g", "v")
    val got = graft.agg.Stats.quantilesByCounts(df, "v", Seq("g"), Seq(0.5, 1.0))
      .collect().map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2))).toMap
    assert(got == Map("a" -> Seq(2.0, 3.0), "c" -> Seq(2.0, 2.0)))
  }

  test("weightedMoments: frequency-weight identity and Kish n_eff") {
    import spark.implicits._
    // weights as frequencies: w=2 on x=1 plus w=1 on x=4 must equal the
    // unweighted moments of (1, 1, 4)
    val wdf = Seq(("g", 1.0, 2.0), ("g", 4.0, 1.0)).toDF("g", "x", "w")
    val got = graft.agg.Stats.weightedMoments(wdf, "x", "w", Seq("g")).head()
    val flat = Seq(1.0, 1.0, 4.0)
    val mu = flat.sum / 3
    val varP = flat.map(v => v * v).sum / 3 - mu * mu
    assert(got.getLong(1) == 2L)                       // n = input rows
    assert(got.getDouble(2) == 3.0)                    // sum_w
    assert(math.abs(got.getDouble(3) - mu) < 1e-12)
    assert(math.abs(got.getDouble(4) - varP) < 1e-12)
    assert(math.abs(got.getDouble(5) - 9.0 / 5) < 1e-12) // (2+1)²/(4+1)
    // equal weights: n_eff = n; zero total weight: null moments
    val eq = graft.agg.Stats.weightedMoments(
      Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0)).toDF("x", "w"), "x", "w")
      .head()
    assert(math.abs(eq.getDouble(4) - 3.0) < 1e-12) // keyless: n_eff at 4
    val zero = graft.agg.Stats.weightedMoments(
      Seq((1.0, 0.0)).toDF("x", "w"), "x", "w").head()
    assert(zero.isNullAt(2) && zero.isNullAt(3))
    // negative weight is an error
    val err = intercept[Exception](graft.agg.Stats.weightedMoments(
      Seq((1.0, -1.0)).toDF("x", "w"), "x", "w").collect())
    assert(err.getMessage.contains("negative"))
  }

  test("boxCoxFit: profile likelihood matches the sequential identity " +
    "and picks log for lognormal data") {
    import spark.implicits._
    // deterministic lognormal-ish sample: exp of a symmetric grid — the
    // profile likelihood must peak at lambda = 0 (the log transform)
    val zs = (-40 to 40).map(_ / 10.0)
    val xs = zs.map(math.exp)
    val got = graft.agg.Stats.boxCoxFit(xs.toDF("x"), "x")
      .orderBy("lambda").collect()
    assert(got.length == 9)
    // sequential reference for each lambda
    def ll(lam: Double): Double = {
      val t = if (lam == 0.0) xs.map(math.log)
      else xs.map(x => (math.pow(x, lam) - 1) / lam)
      val n = t.size.toDouble
      val m = t.sum / n
      val v = t.map(z => z * z).sum / n - m * m
      -0.5 * n * math.log(v) + (lam - 1) * xs.map(math.log).sum
    }
    got.foreach { r =>
      val lam = r.getDouble(0)
      assert(r.getLong(1) == xs.size.toLong)
      assert(math.abs(r.getDouble(2) - ll(lam)) < 1e-6 * math.abs(ll(lam)),
        s"loglik mismatch at lambda=$lam")
    }
    val best = got.filter(_.getBoolean(3))
    assert(best.length == 1 && best(0).getDouble(0) == 0.0)
    // non-positive input is an error, not a silent NaN
    val err = intercept[Exception](graft.agg.Stats.boxCoxFit(
      Seq(1.0, 0.0).toDF("x"), "x").collect())
    assert(err.getMessage.contains("non-positive"))
    // constant column: exact-zero variance lambdas (the identity
    // transform) yield null loglik; ulp-variance lambdas may survive
    // with a huge negative loglik — the readout is documented as
    // meaningless for constant data, but it must not throw
    val const = graft.agg.Stats.boxCoxFit(
      Seq(2.0, 2.0, 2.0).toDF("x"), "x").collect()
    val identity = const.find(_.getDouble(0) == 1.0).get
    assert(identity.isNullAt(2) && !identity.getBoolean(3))
  }
}
