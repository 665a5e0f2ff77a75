package graft.perfbench

import org.apache.spark.sql.functions._

/** The benchmark's own tests. Prints one PASS/FAIL line per check and
  * exits non-zero if any fails.
  *
  * {{{
  *   graft.perfbench.SelfTest --data <tables root> --layers layers.tsv
  *     --digests digests.tsv --cores 4 --scratch <dir>
  * }}}
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case e: Throwable => System.err.println(e); false }
    if (!ok) failures += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name")
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val map = Workloads.readLayerMap(args("layers"))
    val digests = Workloads.readDigests(args("digests"))

    for (tier <- Seq("core", "dedup", "events")) check(s"every $tier bench row has exactly one known layer") {
      val problems = Workloads.mapProblems(tier, map)
      problems.foreach(System.err.println)
      problems.isEmpty
    }
    check("a bench row missing from the layer map is reported") {
      val dropped = map.filterNot(_.query == "q_shape")
      Workloads.mapProblems("core", dropped) == Seq("core row q_shape has no layer")
    }
    check("a mapped row that is not a bench row is reported") {
      Workloads.mapProblems("core", map :+ MapRow("core", "q_gone", "agg", "-")) ==
        Seq("core map row q_gone is not a bench row")
    }
    for (w <- Workloads.all) check(s"${w.name} has rows, each with a recorded digest") {
      val rows = Workloads.rows(w, map, digests)
      rows.nonEmpty && rows.forall(_.expected.isDefined)
    }
    check("the quantile estimate is exact on constant and symmetric samples") {
      math.abs(Report.quantile(Seq.fill(5)(2.0), 0.9) - 2.0) < 1e-9 &&
        math.abs(Report.quantile((1 to 9).map(_.toDouble), 0.5) - 5.0) < 1e-9
    }
    check("covered() measures the union of clipped intervals") {
      TraceListener.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L), (50L, 60L)), 2L, 55L) == 18 + 10 + 5
    }

    val spark = Session.local(args("cores").toInt, args("scratch"))
    val h = new Harness(spark, args("data"))
    val probe = spark.range(1000).select(col("id"), (col("id") % 7).as("m"))
    val okRow = Row("ok", "agg", (s, _) => probe, None)
    check("the digest ignores row order and sees a changed value") {
      val a = h.call(okRow, 0, traced = false, record = false).digest
      val b = h.call(okRow.copy(fn = (_, _) => probe.orderBy(desc("id"))), 0, traced = false,
        record = false).digest
      val c = h.call(okRow.copy(fn = (_, _) => probe.withColumn("m", col("m") + 1)), 0,
        traced = false, record = false).digest
      a.isDefined && a == b && a != c && a.get.rows == 1000
    }
    val expected = h.call(okRow, 0, traced = false, record = false).digest
    val rows = Seq(
      okRow.copy(expected = expected),
      Row("throws", "clean", (_, _) => throw new IllegalStateException("deliberate"), expected),
      Row("wrong", "strata", (_, _) => probe.limit(10), expected))
    val calls = rows.map(r => h.call(r, 0, traced = false))
    check("a throwing entry is recorded with its exception class and layer") {
      calls(1).failure.contains("java.lang.IllegalStateException") && calls(1).layer == "clean"
    }
    check("a wrong result counts as a failed call") {
      calls(2).failure.contains("WrongResult") && calls(0).ok
    }
    check("failed calls count in failed_frac and are never timed as successes") {
      val e2e = Report.endToEnd(calls, 1, Seq(1.0), 0L, _ => 1.0, 1.0, 1.0).map(m => m._1 -> m._2).toMap
      e2e("failed_frac") == 2.0 / 3 &&
        e2e("latency_p50_s") == calls(0).latency &&
        math.abs(e2e("queries_per_s") - 1 / calls.map(_.latency).sum) < 1e-9
    }
    check("a traced call bills eager and final jobs to itself, per layer") {
      val eager = Row("eager", "agg", (s, _) => { probe.count(); probe.groupBy("m").count() }, None)
      val c = h.call(eager, 0, traced = true)
      val w = h.listener.work(c.id)
      val byName = Report.perLayer(Seq(c), h.listener.work, 1, args("cores").toInt)
        .map(m => m._1 -> m._2).toMap
      w.jobs >= 2 && w.tasks > 0 && w.stageIntervals.nonEmpty &&
        byName("agg.jobs") == w.jobs && byName("clean.calls") == 0 &&
        h.listener.spans.exists(s => s.call == c.id && s.kind == "stage") &&
        Seq("call", "build", "exec").forall(k => h.listener.spans.exists(s => s.call == c.id && s.kind == k))
    }
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
