package graft.agg

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** BIT-parity of the shared sort-based exact multi-quantile
  * ([[SortedQuantiles]], the 100-TB path) against the buffering
  * TypedImperativeAggregate (graft.expr.ExactPercentile via
  * Stats.percentileExactBuffered, the small-frame twin): every cell is
  * compared via doubleToLongBits, so even one ulp of interpolation
  * drift fails. Data is seeded-random with the nasty shapes: heavy
  * ties, integer-valued columns, nulls, an all-null column for one
  * stratum, a NULL stratum key, n=1 groups, and ps hitting exact ranks
  * (0, 1, 0.5 on odd n) and irrational fractions (2/3). */
class SortedQuantilesSpec extends SparkSpec {

  private lazy val sc2 = spark

  private def bits(v: Any): Any = v match {
    case null      => null
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case other     => other
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, sortCols: Seq[String]): Unit = {
    val ra = a.orderBy(sortCols.map(col): _*).collect()
      .map(r => r.toSeq.map(bits))
    val rb = b.orderBy(sortCols.map(col): _*).collect()
      .map(r => r.toSeq.map(bits))
    assert(a.columns.toSeq == b.columns.toSeq, "column names/order differ")
    assert(ra.length == rb.length, s"row counts differ: ${ra.length} vs ${rb.length}")
    ra.zip(rb).foreach { case (x, y) => assert(x == y, s"row differs: $x vs $y") }
  }

  private lazy val messy: DataFrame = {
    import sc2.implicits._
    val rnd = new scala.util.Random(42)
    val strata = Array("a", "b", "c", null)
    val rows = (1 to 4000).map { i =>
      val s = strata(rnd.nextInt(strata.length))
      val cont = if (rnd.nextInt(10) == 0) None else Some(rnd.nextGaussian() * 100)
      val tied = Some(rnd.nextInt(7).toDouble) // heavy ties, integer-valued
      val onlyA = if (s == "a") None else Some(rnd.nextDouble()) // all-null for stratum a
      (s, cont, tied, onlyA)
    } :+ (("lonely", Some(3.25), Some(1.0), Some(0.5))) // n=1 group
    rows.toDF("s", "cont", "tied", "only_a")
  }

  private val ps = Seq(0.0, 0.01, 0.25, 0.5, 2.0 / 3.0, 0.75, 0.99, 1.0)

  test("stratified multi-column multi-p: bit-identical to the buffering aggregate") {
    val a = Stats.percentileExact(messy, Seq("cont", "tied", "only_a"), ps, Seq("s"))
    val b = Stats.percentileExactBuffered(messy, Seq("cont", "tied", "only_a"), ps, Seq("s"))
    assertSameRows(a, b, Seq("s"))
  }

  test("global (no keys): bit-identical, including a single-element column") {
    val a = Stats.percentileExact(messy, Seq("cont", "tied"), ps)
    val b = Stats.percentileExactBuffered(messy, Seq("cont", "tied"), ps)
    assertSameRows(a, b, Nil)
  }

  test("expression values and distinct ps per request (calcMadFences shape)") {
    val med = SortedQuantiles.globalArray(messy, col("cont"), Seq(0.5)).get.head
    val a = SortedQuantiles.of(messy, Nil, Seq(
        SortedQuantiles.Req("__d", abs(col("cont") - lit(med)), Seq(0.5)),
        SortedQuantiles.Req("__q", col("tied"), Seq(0.25, 0.75))))
      .select(element_at(col("__d"), 1).as("d"),
        element_at(col("__q"), 1).as("q1"), element_at(col("__q"), 2).as("q3"))
    val b = messy.agg(
      element_at(graft.expr.ExactPercentile.of(abs(col("cont") - lit(med)), Seq(0.5)), 1).as("d"),
      element_at(graft.expr.ExactPercentile.of(col("tied"), Seq(0.25, 0.75)), 1).as("q1"),
      element_at(graft.expr.ExactPercentile.of(col("tied"), Seq(0.25, 0.75)), 2).as("q3"))
    assertSameRows(a, b, Nil)
  }

  test("calcMadFences cell-derived MAD: bit-identical to brute two-pass ExactPercentile") {
    // the r14 rework folds |x − median| cells off the VALUE cells (no
    // second corpus scan); pin it against the buffering aggregate's
    // direct two-pass form on ties + nulls + a near-continuous column
    val out = graft.clean.Clean.calcMadFences(messy, Seq("cont", "tied"), k = 2.0)
      .collect().map(r => r.getString(0) -> r).toMap
    Seq("cont", "tied").foreach { c =>
      val med = messy.agg(element_at(
        graft.expr.ExactPercentile.of(col(c), Seq(0.5)), 1)).head().getDouble(0)
      val mad = messy.agg(element_at(
        graft.expr.ExactPercentile.of(abs(col(c) - lit(med)), Seq(0.5)), 1))
        .head().getDouble(0)
      val r = out(c)
      assert(bits(r.getDouble(1)) == bits(med), s"$c median")
      assert(bits(r.getDouble(2)) == bits(mad), s"$c mad")
      assert(bits(r.getDouble(3)) == bits(med - 2.0 * 1.4826 * mad), s"$c lfence")
      assert(bits(r.getDouble(4)) == bits(med + 2.0 * 1.4826 * mad), s"$c ufence")
    }
  }

  test("all-null column in one group yields a null array for that request only") {
    val out = SortedQuantiles.of(messy, Seq("s"), Seq(
      SortedQuantiles.Req("__qa", col("only_a"), Seq(0.5)),
      SortedQuantiles.Req("__qc", col("cont"), Seq(0.5))))
    val byS = out.collect().map(r => Option(r.getString(0)) -> r).toMap
    val aRow = byS(Some("a"))
    assert(aRow.isNullAt(1), "all-null request must yield a null array")
    assert(!aRow.isNullAt(2), "sibling request with values must survive")
    assert(byS.contains(None), "NULL stratum key must form a group")
  }

  test("empty input: global emits one all-null row; keyed emits no rows") {
    val empty = messy.where(lit(false))
    val g = SortedQuantiles.of(empty, Nil,
      Seq(SortedQuantiles.Req("__q", col("cont"), Seq(0.5)))).collect()
    assert(g.length == 1 && g(0).isNullAt(0))
    val k = SortedQuantiles.of(empty, Seq("s"),
      Seq(SortedQuantiles.Req("__q", col("cont"), Seq(0.5)))).collect()
    assert(k.isEmpty)
  }

  test("calcFences sorted path matches the buffered grouped-agg form (with n)") {
    val a = graft.clean.Clean.calcFences(messy, Seq("cont", "tied"), k = 1.5, strata = Seq("s"))
    val b = {
      val aggs = Seq("cont", "tied").map(c =>
        graft.expr.ExactPercentile.of(col(c), Seq(0.25, 0.75)).as(s"__q_$c"))
      messy.groupBy(col("s")).agg(count(lit(1)).as("n"), aggs: _*)
        .select((Seq(col("s")) :+ col("n")) ++ Seq("cont", "tied").flatMap { c =>
          val q1 = element_at(col(s"__q_$c"), 1)
          val q3 = element_at(col(s"__q_$c"), 2)
          val iqr = q3 - q1
          Seq(q1.as(s"${c}_q1"), q3.as(s"${c}_q3"),
            (q1 - lit(1.5) * iqr).as(s"${c}_lfence"),
            (q3 + lit(1.5) * iqr).as(s"${c}_ufence"))
        }: _*)
    }
    assertSameRows(a, b, Seq("s"))
  }

  /** Jobs launched by `body`, counted the ComponentsSpec way: only
    * `onJobStart` events carrying this call's own job tag, read after the
    * listener bus is drained. */
  private def taggedJobs(tag: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tags = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
        if (tags.exists(_.split(",").contains(tag))) jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      body
      sc.removeJobTag(tag)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
      assert(jobs.get() > 0, s"$tag: no tagged job seen — the count is not live")
      jobs.get()
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  // job budgets: each pick runs the cell fold's and the range sort's
  // shuffle stages, the range sample, pass 1 and the pass-2 fold — five
  // jobs — and finishes on the driver, so its result reads with none

  test("job budget: global globalArray") {
    val n = taggedJobs("sq-global-array") {
      SortedQuantiles.globalArray(messy, col("cont"), ps)
    }
    assert(n <= 5, s"globalArray ran $n jobs")
  }

  test("job budget: keyed of, including reading its result") {
    val n = taggedJobs("sq-keyed-of") {
      SortedQuantiles.of(messy, Seq("s"), Seq(
        SortedQuantiles.Req("__a", col("cont"), ps),
        SortedQuantiles.Req("__b", col("tied"), Seq(0.5)))).collect()
    }
    assert(n <= 5, s"keyed SortedQuantiles.of ran $n jobs")
  }

  test("job budget: Clean.calcMadFences") {
    val n = taggedJobs("sq-mad-fences") {
      graft.clean.Clean.calcMadFences(messy, Seq("cont", "tied")).collect()
    }
    // two picks (the median, then the MAD off the deviation cells)
    assert(n <= 11, s"calcMadFences ran $n jobs")
  }

  test("driver guard refuses more (group, position) picks than the cap") {
    // one group, 2 positions per p: just past the cap, refused after
    // pass 1 and before any pick is allocated
    val manyPs = Seq.fill(graft.util.RangeCum.MaxDriverEntries / 2 + 1)(0.5)
    val e = intercept[IllegalArgumentException] {
      SortedQuantiles.globalArray(messy, col("cont"), manyPs)
    }
    assert(e.getMessage.contains("(group, position) picks exceed"))
  }
}
