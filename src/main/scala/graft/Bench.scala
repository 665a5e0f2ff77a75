package graft
import org.apache.spark.sql.SparkSession
object Bench {
  /** Steady-state bands (seconds at sf0.1, local[32]) for the rows whose
    * bench numbers have historically swung ±2× with no code change (the
    * round 6-8 drift inventory, VERDICT r7/r8). lo/hi span every recorded
    * steady-state observation (bench rounds 6-8 + TimeQuery probes — see
    * NOTES "Steady-state bands") with ~25% margin; a row OUTSIDE its band
    * is flagged in the output so a real regression is distinguishable
    * from run-to-run variance. Update the table when a code change moves
    * a banded query's steady state on purpose. */
  val bands: Map[String, (Double, Double)] = Map(
    "q_bm25"               -> (0.40, 1.40),
    // floor widened r15: 0.167 normalized in the final r15 run (fast
    // direction, the known drifter)
    "q_moments"            -> (0.14, 0.60),
    "q_dedup_dups"         -> (0.16, 0.58),
    // floor widened r9 third session: measured 0.377 steady (fast
    // direction). Ceiling had been widened to 1.45 in r9 (a hot
    // container's 1.22 observation with code untouched); calibration
    // normalization now absorbs the container factor (that 1.22 at
    // factor ~1.25 normalizes to ~0.98), so the ceiling RE-TIGHTENS to
    // the per-row envelope: r7-r9 steady 0.36-0.75 + margin, r10
    // best-of-4 campaign normalized 0.85 (NOTES r10 bands table)
    "q_stratify_rewritten" -> (0.34, 1.10),
    // re-based r14: the exact-quantile family moved from the buffering
    // ExactPercentile funnel to the sort-based SortedQuantiles path
    // (add9f78) — deliberate gate-scale cost for the 100-TB memory
    // story (sf10d 17x -> 2.9x). Observations: 1.17 idle best-of-4,
    // 1.19 in-suite (/1.1 calibration); lo = 0.7*min, hi = 1.35*max
    "q_fence_cap"          -> (0.82, 1.61),
    "q_mahalanobis"        -> (0.90, 2.15),
    "q_multimodal"         -> (0.50, 1.50),
    // floor widened r9 third session (0.337) and again sixth session
    // (0.197 in a full-bench run) — both fast direction, not a
    // regression signal
    "q_mode_stratified"    -> (0.15, 0.95),
    "q_repetition"         -> (0.55, 1.35),
    "q_minhash_dedup"      -> (0.90, 2.15),
    // floor widened r9 twice: local full-bench runs measured 0.316 and
    // then 0.298 steady (fast direction — not a regression signal);
    // NOTES bands table
    "q_skew_report"        -> (0.25, 0.90),
    // floor widened r9: measured 0.393 steady (fast direction)
    "q_pack_greedy"        -> (0.32, 1.00),
    // ---- round-11 heavy-row bands (VERDICT r10 #4) ----------------------
    // every non-gateOnly row >= 1.5 s in BENCH_FULL r10, banded from TWO
    // normalized observations: the r10 driver full-suite value (/0.855)
    // and this round's local TimeQuery best-of-4 campaign (/0.921, NOTES
    // r11 bands table). lo = 0.7*min, hi = 1.35*max — the spread between
    // isolated and in-suite runs is real (cache/contention), so bands
    // span both rather than pretending one steady state exists. The ten
    // calibrationRefs rows >= 1.5 s (q_substr_dedup, q_hash_embed,
    // q_cc_update, q_dsir, q_substr_spans, q_median_approx, q_pq_persist,
    // q_weighted_pctl, q_salted_join, q_hits) are DELIBERATELY unbanded:
    // a row cannot normalize itself (BenchCalibrationSpec invariant) —
    // a regressed ref instead shows up as an outlier ratio against the
    // other nine in the campaign table.
    "q_curation_funnel_substr" -> (4.33, 10.98),
    // re-based r13: the fused collect_list plan + A-priori prune moved
    // the steady state 2.9 -> ~1.2-1.4 s (normalized 1.14 driver-style
    // bench, 1.23 idle best-of-4); lo = 0.7*min, hi = 1.35*max
    "q_basket_rules"       -> (0.80, 1.66),
    // floor re-based r14 (r13 below_floor advisory: the row got FASTER;
    // driver 0.783 normalized, r14 in-suite 0.75): lo = 0.7*0.75
    "q_mann_kendall"       -> (0.53, 5.01),
    "q_dsir_sample"        -> (1.26, 4.00),
    "q_substr_fraction"    -> (1.87, 3.83),
    "q_substr_index"       -> (1.58, 3.39),
    "q_wasserstein"        -> (1.44, 2.90),
    "q_fuzzy_cross"        -> (1.30, 2.79),
    // floor re-based r15 (fast direction): the adaptive index file
    // sizing moved the steady state down — final r15 bench 1.19
    // normalized (1.43 raw in a 1.21x window) vs the old 1.40 floor
    "q_geo_append"         -> (0.83, 3.43),
    "q_delong"             -> (1.13, 2.67),
    "q_keep_best_cc"       -> (1.25, 3.48),
    // ---- round-12 bands: the remaining >= 1.5 s rows (VERDICT r11 #3) ----
    // three normalized observations each (r10 driver /0.855, r11 driver
    // /0.906, r12 idle best-of-4 campaign /0.83 — NOTES r12 drifter
    // table); lo = 0.7*min, hi = 1.35*max, same convention as the r11
    // block. Floors are advisory post-r12 (below_floor), so lo only
    // feeds re-basing.
    "q_wasserstein_binned" -> (1.05, 2.67),
    "q_cc_split"           -> (1.16, 2.50),
    "q_dedup_cc_keep"      -> (1.16, 2.69),
    // re-tightened r15 (VERDICT r14 #4/#9): the index write no longer
    // pins numShufflePartitions sliver files (AQE-sized output), which
    // was the disk-state sensitivity behind the r14 4.83 observation
    // and its 6.7x-wide band. r15 evidence: idle best-of-4 runs
    // 1.33-2.36 raw in a 1.09x window (~1.2-2.2 normalized), entry
    // in-suite 1.53 normalized; hi = 1.35 * 2.2
    "q_geo_index"          -> (0.67, 2.97),
    "q_corr_spearman"      -> (1.03, 2.54))

  /** Container-speed calibration references (seconds at sf0.1): the
    * r9 driver-run steady values (BENCH_r09/BENCH_FULL) for ten
    * heavyweight, historically-stable rows spanning distinct plan
    * families (substring posting shuffles, md5 hashing, CC iteration,
    * broadcast scoring, exact-percentile merge, graph iteration,
    * parquet round-trip, exploded join). Each bench run computes
    * factor = median(observed/ref) over these rows and checks banded
    * rows at value/factor — so a container that runs the WHOLE suite
    * 1.4× slow no longer needs every band widened (the r9 failure
    * mode: per-incident widening eroded the bands to 4-6× spreads).
    * The median over ten rows tolerates 1-2 genuinely-regressed
    * references without polluting the factor. Update a reference when
    * a code change moves that row's steady state on purpose. */
  val calibrationRefs: Map[String, Double] = Map(
    // updated r14 optimization round: cutSpans single-join rebuild moved
    // the row's steady state (in-suite 2.26 observed / 0.874 factor from
    // the other eight refs)
    "q_substr_dedup"  -> 2.59,
    // updated r14 optimization round: pivoted one-aggregate cell sums
    // (in-suite 3.19 observed / 0.874 factor from the other eight refs)
    "q_hash_embed"    -> 3.65,
    // updated r15: the fused updateComponents fold (broadcast sides on
    // driver-local relations) moved the row's steady state — idle
    // best-of-4 2.93 -> 2.23 in a 1.09x window, i.e. ~2.05 normalized;
    // ref set from that idle move plus the usual idle->in-suite margin
    "q_cc_update"     -> 2.20,
    "q_dsir"          -> 2.35,
    "q_substr_spans"  -> 2.37,
    // updated r14: rank counts folded onto the shared quantile cell
    // frame (3 corpus scans -> 2); in-suite 1.90 observed / 1.1
    // factor from the other nine refs
    "q_median_approx" -> 1.73,
    "q_pq_persist"    -> 1.94,
    "q_weighted_pctl" -> 1.91,
    "q_salted_join"   -> 1.74,
    "q_hits"          -> 1.63)

  /** Median observed/reference ratio over the calibration rows present
    * in `results`, clamped to [0.5, 2.5] (beyond that the container is
    * too unlike the reference for linear normalization; the clamp keeps
    * a pathological run from silencing every band). 1.0 when fewer
    * than 3 calibration rows are present. */
  def calibrationFactor(results: Map[String, Double]): Double = {
    val ratios = calibrationRefs.toSeq.flatMap { case (k, ref) =>
      results.get(k).filter(_ > 0).map(_ / ref)
    }.sorted
    if (ratios.length < 3) 1.0
    else {
      val m =
        if (ratios.length % 2 == 1) ratios(ratios.length / 2)
        else (ratios(ratios.length / 2 - 1) + ratios(ratios.length / 2)) / 2
      math.max(0.5, math.min(2.5, m))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // decade-suite knobs (r12 VERDICT #3 — one long-lived JVM running
    // 350+ queries' shuffles filled 60 GB of /tmp before the
    // ContextCleaner's GC-driven reclaim caught up at sf10d):
    //  - SPARK_GRAFT_ONLY=<a,b,c> benches only the named rows;
    //  - SPARK_GRAFT_SLICE=i/n benches the i-th (0-based) of n slices of
    //    the sorted query names — a big run SLICED across separate JVM
    //    invocations with no hand-maintained name lists;
    //  - SPARK_GRAFT_PERIODIC_GC=<e.g. 5min> enables Spark's periodic
    //    driver GC so shuffle files are reclaimed on a clock, not only
    //    when the driver happens to collect.
    // All unset in driver runs — the sf0.1 bench is byte-identical.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").filter(_.nonEmpty).toSet)
    val slice = sys.env.get("SPARK_GRAFT_SLICE").map { s =>
      val Array(i, n) = s.split("/").map(_.toInt); (i, n)
    }
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    val spark = sys.env.get("SPARK_GRAFT_PERIODIC_GC")
      .fold(builder)(v => builder.config("spark.cleaner.periodicGC.interval", v))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the JIT/codegen paths so the first measured query doesn't
    // absorb several seconds of JVM warmup
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .agg(graft.expr.ExactPercentile.of(
        org.apache.spark.sql.functions.col("l_quantity"), Seq(0.5))).collect()
    // noop sink so the FULL plan executes — count() would let the optimizer
    // prune expensive map-side projections (per-row distances, string
    // suites) right out of the measured plan. Two runs, report the min:
    // steady-state number, halves the run-to-run noise. A row that throws
    // keeps its (meaningless) time under `queries` — the field's shape is
    // fixed — and is named with its exception class under `failed`.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def once(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case t: Throwable =>
        failed(name) = t.getClass.getName
        System.err.println(s"[bench] $name failed: $t")
      }
      (System.nanoTime() - t0) / 1e9
    }
    // benchQueries = all driver queries minus the gate-only verification
    // rows (their cost is the exact-check harness, not the operator; each
    // has an operator-cost twin that IS in this set)
    val sliceNames = slice.map { case (i, n) =>
      Queries.benchQueries.keys.toSeq.sorted.zipWithIndex
        .collect { case (q, ix) if ix % n == i => q }.toSet
    }
    val results = Queries.benchQueries
      .filter { case (name, _) =>
        only.forall(_.contains(name)) && sliceNames.forall(_.contains(name)) }
      .map { case (name, fn) =>
      // isolate queries from each other's leftover cache entries: numbers
      // must not depend on Map iteration order or on another query having
      // pre-warmed a shared pipeline, and accumulated blocks would
      // otherwise drive LRU eviction churn late in the run (the round-4
      // q_dedup_cc 12.6 s artifact). The two timed runs of ONE query
      // still share caches — min() stays the steady-state number.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      graft.util.CacheRegistry.clear() // queue refs; blocks already gone above
      // nudge the ContextCleaner: accumulated broadcast/shuffle state is
      // only released after a driver GC collects the references; 90
      // queries in one 8 GB JVM otherwise degrade the late queries.
      // The short settle lets the cleaner's ASYNC removals (broadcast
      // blocks, shuffle files) finish before the timed pair starts, so
      // they stop billing the next query (the in-suite-vs-idle tail)
      System.gc()
      Thread.sleep(150)
      val r1 = once(name, fn); val r2 = once(name, fn)
      // stderr progress marker so a long (decade-campaign) run is
      // observable mid-flight; stdout stays the single JSON line
      System.err.println(f"[bench] $name ${math.min(r1, r2)}%.2fs")
      // Adaptive third run: when the two timed runs disagree badly, BOTH
      // may have been contaminated (a GC pause or competing load hitting
      // run 2 after a cold run 1) — the round-5 q_pack_greedy "4.2x
      // regression" was exactly this, unreproducible at steady state. One
      // more run only in that case keeps the common path at two runs.
      val best = math.min(r1, r2)
      name -> (if (math.abs(r1 - r2) > 0.5 * best) math.min(best, once(name, fn))
               else best)
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def fmt(v: Double): String = f"$v%.3f"
    // band check: flag rows above their recorded steady-state CEILING so
    // a real regression is separable from the documented ±2x per-row
    // noise. Observations are first divided by the run's calibration
    // factor (median observed/ref over calibrationRefs) so whole-container
    // speed shifts don't fire — or mask — per-row bands. Floors are
    // ADVISORY (r11 band-hygiene lesson: q_mann_kendall fired out_of_band
    // for running FASTER than any prior observation — an improvement
    // polluting the regression signal): a row below its floor is recorded
    // under below_floor so the band table can be re-based, but never
    // joins out_of_band.
    val calib = calibrationFactor(results)
    val outOfBand = results.flatMap { case (k, v) =>
      val vn = v / calib
      bands.get(k).collect { case (lo, hi) if vn > hi =>
        k -> s"""{"sec":${fmt(v)},"normalized":${fmt(vn)},"band":[$lo,$hi]}""" }
    }
    val belowFloor = results.flatMap { case (k, v) =>
      val vn = v / calib
      bands.get(k).collect { case (lo, hi) if vn < lo =>
        k -> s"""{"sec":${fmt(v)},"normalized":${fmt(vn)},"band":[$lo,$hi]}""" }
    }
    val bandJson = outOfBand
      .map { case (k, j) => "\"" + k + "\":" + j }
      .mkString(""","out_of_band":{""", ",", "}") +
      belowFloor
        .map { case (k, j) => "\"" + k + "\":" + j }
        .mkString(""","below_floor":{""", ",", "}") +
      s""","banded_rows":${bands.size},"calibration_factor":${fmt(calib)}""" +
      // did any bounded cap fire during this bench run? Normally {} —
      // recorded per run instead of being a value a caller must remember
      // to pull (VERDICT r12 #4). At-least-once accumulator semantics.
      graft.util.SkipMetrics.nonZero()
        .map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","skips":{""", ",", "}")
    val failedEntries = failed.toSeq.map { case (k, cls) =>
      "\"" + k + "\":\"" + cls + "\"" }
    // Full per-query detail goes to a file: with 90+ queries the one-line
    // map exceeds the harness's 2000-char output tail, which truncated the
    // line mid-JSON and left it unparseable in rounds 1-4. The printed line
    // below carries the slowest queries (the ones that matter for a perf
    // read) up to a hard length budget; BENCH_FULL.json has everything.
    val fullJson = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString(
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{""",
        ",", s"""}$bandJson,"failed":{${failedEntries.mkString(",")}},"sf":"$sfDir"}""")
    try {
      val w = new java.io.PrintWriter("BENCH_FULL.json")
      try w.println(fullJson) finally w.close()
    } catch { case _: Throwable => () }
    val budget = 1700 // line must survive inside a ~2000-char stdout tail
    val sorted = results.toSeq.sortBy(-_._2)
    val head = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":{"""
    def tailWith(shown: Seq[String]): String =
      s"""}$bandJson,"failed":{${shown.mkString(",")}},"n_failed":${failed.size},""" +
        s""""n_queries":${results.size},"detail":"BENCH_FULL.json","sf":"$sfDir"}"""
    // rows that threw: the count always, then the entries of the row →
    // exception class map that fit in the budget, ahead of the per-query
    // times (BENCH_FULL.json has the whole map) — a run where every row
    // throws (a wrong SF dir) must not push the line past the tail
    val failedShown = failedEntries.foldLeft(Vector.empty[String]) { (acc, e) =>
      if (head.length + tailWith(acc :+ e).length <= budget) acc :+ e else acc }
    val tail = tailWith(failedShown)
    val sb = new StringBuilder(head)
    var first = true
    sorted.foreach { case (k, v) =>
      val entry = (if (first) "" else ",") + "\"" + k + "\":" + fmt(v)
      if (sb.length + entry.length + tail.length <= budget) {
        sb.append(entry); first = false
      }
    }
    sb.append(tail)
    println(sb.toString)
    spark.stop()
  }
}
