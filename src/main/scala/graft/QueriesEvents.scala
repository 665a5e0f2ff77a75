package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.Stats
import graft.clean.Clean
import graft.core.HandyFrame
import graft.ml.{HandyFencer, HandyImputer}
import graft.plotdata.PlotData
import graft.strata.{Bucket, ColStratum, Quantile, StratifiedFrame}

/** Gate tier 6/9 — events/time-series tier: windows, EWMA/Holt/CUSUM, anomaly baselines, seasonality/trend tests, as-of/range/interval joins, sessions, Markov/funnel/cohort, per-group OLS, graph/concentration/ridge.
  *
  * Split from the 11k-line Queries.scala (r11 VERDICT #8): pure
  * relocation, zero semantic movement — [[Queries.defs]] concatenates
  * the nine tiers in the original order and the duplicate-name guard
  * still covers the whole set. All determinism rules live in the
  * [[Queries]] scaladoc; table readers and shared contracts in
  * [[QueryHelpers]]. 43 queries. */
private[graft] object QueriesEvents {
  import QueryHelpers._

  val defs: Seq[QueryDef] = Seq(

    // ---- events: windowed aggregation (batch mirror of streaming path) ----
    QueryDef("q_events_windowed",
      (s, d) => events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("value_sum"))
        .orderBy("hour", "event_type"),
      Some("""SELECT date_trunc('hour', ts)::TIMESTAMP AS hour, event_type,
             count(*) AS n, round(sum(value), 2) AS value_sum
             FROM events GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- rolling trailing-hour window per user ----------------------------
    // keyed RANGE window: every event scored against its own trailing
    // interval; ties (same second) share one frame so the result is
    // order-deterministic — no global window anywhere
    QueryDef("q_events_rolling",
      (s, d) => graft.events.Rolling.rollingAgg(events(s, d),
          Seq("user_id"), "ts", "value", windowSec = 3600L)
        .select(col("event_id"), col("n_win"),
          round(col("sum_win"), 2).as("sum_win"))
        .orderBy("event_id"),
      Some("""SELECT event_id, count(*) OVER w AS n_win,
             round(sum(value) OVER w, 2) AS sum_win
             FROM (SELECT event_id, user_id, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events)
             WINDOW w AS (PARTITION BY user_id ORDER BY tss
               RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
             ORDER BY event_id""")),

    // ---- EWMA (per-user exponential smoothing) -----------------------------
    // the engine runs the e_i = a*x_i + (1-a)*e_{i-1} recursion in one
    // sorted-group streaming pass; the oracle replays the SAME recursion
    // via a recursive CTE with the same op order (a*x + (1.0-a)*e), so
    // the doubles are BIT-IDENTICAL and compared UNROUNDED. (A closed-
    // form pow expansion drifted ~1e-12 past a round(6) boundary; and
    // round() itself is unusable here — DuckDB's scales by 1e6 before
    // rounding, flipping values that sit ~1e-9 below a boundary.)
    QueryDef("q_ewma",
      (s, d) => graft.events.Rolling.ewma(events(s, d),
          Seq("user_id"), "ts", "event_id", "value", alpha = 0.3)
        .select(col("user_id"), col("event_id"), col("ewma"))
        .orderBy("user_id", "event_id"),
      Some("""WITH RECURSIVE r AS (SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS rn
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND event_id IS NOT NULL AND value IS NOT NULL),
             rec AS (
               SELECT user_id, event_id, rn, value::DOUBLE AS e
               FROM r WHERE rn = 1
               UNION ALL
               SELECT r.user_id, r.event_id, r.rn,
                 0.3 * r.value + (1.0 - 0.3) * rec.e
               FROM r JOIN rec ON r.user_id = rec.user_id
                 AND r.rn = rec.rn + 1)
             SELECT user_id, event_id, e AS ewma FROM rec
             ORDER BY 1, 2""")),

    // ---- trailing-baseline anomaly flags -----------------------------------
    // z against the same user's strictly-earlier trailing hour (the
    // current second excluded so a burst can't mask itself); identical
    // RANGE window replayed in DuckDB
    QueryDef("q_rolling_zscore",
      (s, d) => graft.events.Rolling.rollingZscore(events(s, d),
          Seq("user_id"), "ts", "value", windowSec = 3600L, threshold = 2.0)
        .select(col("event_id"), round(col("z"), 6).as("z"),
          col("is_anomaly"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             round(CASE WHEN count(value) OVER w >= 2
                 AND stddev_samp(value) OVER w > 0
               THEN (value - avg(value) OVER w) / stddev_samp(value) OVER w
               END, 6) AS z,
             coalesce(CASE WHEN count(value) OVER w >= 2
                 AND stddev_samp(value) OVER w > 0
               THEN abs((value - avg(value) OVER w) /
                 stddev_samp(value) OVER w) > 2.0 END, false) AS is_anomaly
             FROM (SELECT event_id, user_id, value,
               CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events)
             WINDOW w AS (PARTITION BY user_id ORDER BY tss
               RANGE BETWEEN 3599 PRECEDING AND 1 PRECEDING)
             ORDER BY event_id""")),

    // ---- RFM segmentation ---------------------------------------------------
    // quantile-threshold scoring over the user frame; monetary rounds
    // to 6 BEFORE bucketing so threshold comparisons are ulp-stable;
    // recency/frequency are exact ints, thresholds replay via
    // quantile_cont — the whole row compares unrounded
    QueryDef("q_rfm",
      (s, d) => graft.events.Retention.rfm(events(s, d),
          "user_id", "ts", "value", nBins = 5)
        .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, value
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND value IS NOT NULL),
             ref AS (SELECT max(tsu) AS r FROM e),
             u AS (SELECT user_id,
               (ref.r - max(tsu)) // 3600000000 AS recency_h,
               count(*)::BIGINT AS frequency,
               round(sum(value), 6) AS monetary
               FROM e, ref GROUP BY user_id, ref.r),
             q AS (SELECT
               [quantile_cont(recency_h::DOUBLE, 0.2),
                quantile_cont(recency_h::DOUBLE, 0.4),
                quantile_cont(recency_h::DOUBLE, 0.6),
                quantile_cont(recency_h::DOUBLE, 0.8)] AS qr,
               [quantile_cont(frequency::DOUBLE, 0.2),
                quantile_cont(frequency::DOUBLE, 0.4),
                quantile_cont(frequency::DOUBLE, 0.6),
                quantile_cont(frequency::DOUBLE, 0.8)] AS qf,
               [quantile_cont(monetary, 0.2),
                quantile_cont(monetary, 0.4),
                quantile_cont(monetary, 0.6),
                quantile_cont(monetary, 0.8)] AS qm
               FROM u),
             sc AS (SELECT user_id, recency_h, frequency, monetary,
               6 - (1 + (recency_h::DOUBLE > qr[1])::INT
                 + (recency_h::DOUBLE > qr[2])::INT
                 + (recency_h::DOUBLE > qr[3])::INT
                 + (recency_h::DOUBLE > qr[4])::INT) AS r_score,
               1 + (frequency::DOUBLE > qf[1])::INT
                 + (frequency::DOUBLE > qf[2])::INT
                 + (frequency::DOUBLE > qf[3])::INT
                 + (frequency::DOUBLE > qf[4])::INT AS f_score,
               1 + (monetary > qm[1])::INT + (monetary > qm[2])::INT
                 + (monetary > qm[3])::INT + (monetary > qm[4])::INT
                 AS m_score
               FROM u, q)
             SELECT user_id, recency_h, frequency, monetary,
               r_score::INT AS r_score, f_score::INT AS f_score,
               m_score::INT AS m_score,
               r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR
                 AS segment
             FROM sc ORDER BY user_id""")),

    // ---- persisted incremental aggregation state ---------------------------
    // the state is built INCREMENTALLY (write even half, append odd
    // half, merge from the files) and must equal the oracle's one-shot
    // aggregate over everything — the mergeable-moments contract.
    // sum/mean/variance carry reduce-order ulps -> round(6)
    QueryDef("q_agg_index",
      (s, d) => {
        val tmp = graft.util.Scratch.dir("graft_aggidx")
        val ev = events(s, d)
        graft.pipeline.AggIndex.write(
          ev.filter(col("event_id") % 2 === 0),
          Seq("event_type"), "value", tmp)
        graft.pipeline.AggIndex.append(
          ev.filter(col("event_id") % 2 === 1),
          Seq("event_type"), "value", tmp)
        graft.pipeline.AggIndex.compact(s, tmp)
        graft.pipeline.AggIndex.stats(s, tmp)
          .select(col("event_type"), col("n"),
            round(col("sum"), 6).as("sum"), col("min"), col("max"),
            round(col("mean"), 6).as("mean"),
            round(col("variance"), 6).as("variance"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*)::BIGINT AS n,
               round(sum(value), 6) AS sum,
               min(value) AS min, max(value) AS max,
               round(sum(value) / count(*), 6) AS mean,
               round(sum(value * value) / count(*) -
                 (sum(value) / count(*)) * (sum(value) / count(*)), 6)
                 AS variance
             FROM events
             WHERE event_type IS NOT NULL AND value IS NOT NULL
             GROUP BY 1 ORDER BY 1""")),

    // ---- robust trailing-baseline anomaly flags ----------------------------
    // median/IQR baseline over the strictly-earlier trailing hour;
    // exact window percentiles (quantile_cont interpolation) on both
    // sides, round(6) for the interpolation/division ulps
    QueryDef("q_rolling_robust",
      (s, d) => graft.events.Rolling.rollingRobustZscore(events(s, d),
          Seq("user_id"), "ts", "value", windowSec = 3600L,
          threshold = 2.5)
        .select(col("event_id"),
          round(col("baseline_median"), 6).as("baseline_median"),
          round(col("baseline_iqr"), 6).as("baseline_iqr"),
          round(col("robust_z"), 6).as("robust_z"), col("is_anomaly"))
        .orderBy("event_id"),
      Some("""SELECT event_id, round(med, 6) AS baseline_median,
               round(q3 - q1, 6) AS baseline_iqr,
               round(CASE WHEN cnt >= 4 AND (q3 - q1) > 0 THEN
                 (value - med) / (0.7413 * (q3 - q1)) END, 6) AS robust_z,
               coalesce(CASE WHEN cnt >= 4 AND (q3 - q1) > 0 THEN
                 abs((value - med) / (0.7413 * (q3 - q1))) > 2.5 END,
                 false) AS is_anomaly
             FROM (SELECT event_id, value,
               quantile_cont(value, 0.5) OVER w AS med,
               quantile_cont(value, 0.25) OVER w AS q1,
               quantile_cont(value, 0.75) OVER w AS q3,
               count(value) OVER w AS cnt
               FROM (SELECT event_id, user_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events)
               WINDOW w AS (PARTITION BY user_id ORDER BY tss
                 RANGE BETWEEN 3599 PRECEDING AND 1 PRECEDING))
             ORDER BY event_id""")),

    // ---- sketch-tier robust baseline: bounded-state scale path -------------
    // rollingRobustZscoreSketch replaces the exact window percentile's
    // per-row frame buffer with a CountHist window sketch (bins+2 longs of
    // state). The sketch quantile is deterministic but not cheaply SQL-
    // replayable per frame, so the gate contract proves its per-quantile
    // bound IN-QUERY against the exact order-statistic bracket
    // [x_(floor(r)+1), x_(floor(r)+2)] of every frame (collect_list
    // harness — verification cost, not the operator): the sketch median
    // must sit within bracket +/- 2*cellWidth, the IQR within the two
    // quartile brackets +/- 4*cellWidth, and no baseline mass may fall
    // outside [lo, hi]. DuckDB replays the frame counts + proven flags.
    QueryDef("q_rolling_robust_sketch",
      (s, d) => {
        val lo = 0.0; val hi = 1000.0; val bins = 1000
        val width = (hi - lo) / bins
        val sk = graft.events.Rolling.rollingRobustZscoreSketch(
          events(s, d), Seq("user_id"), "ts", "value",
          windowSec = 3600L, lo, hi, bins, threshold = 2.5)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("__tss")).rangeBetween(-3599, -1)
        val withArr = sk.withColumn("__tss", col("ts").cast("long"))
          .withColumn("__arr", sort_array(
            collect_list(col("value").cast("double")).over(w)))
          .withColumn("__n", size(col("__arr")))
        def bracket(p: Double): (org.apache.spark.sql.Column,
            org.apache.spark.sql.Column) = {
          val i = floor((col("__n") - 1) * p).cast("int")
          (element_at(col("__arr"), greatest(i + 1, lit(1))),
            element_at(col("__arr"),
              greatest(least(i + lit(2), col("__n")), lit(1))))
        }
        val (mLo, mHi) = bracket(0.5)
        val (q1Lo, q1Hi) = bracket(0.25)
        val (q3Lo, q3Hi) = bracket(0.75)
        val medDefined = col("baseline_median").isNotNull
        withArr.agg(
          count(lit(1)).as("n_events"),
          sum(when(medDefined, 1L).otherwise(0L)).as("n_with_baseline"),
          (sum(when(medDefined &&
              (col("baseline_median") < mLo - lit(2 * width) ||
                col("baseline_median") > mHi + lit(2 * width)), 1L)
            .otherwise(0L)) === 0).as("median_bracketed"),
          (sum(when(col("baseline_iqr").isNotNull &&
              (col("baseline_iqr") < q3Lo - q1Hi - lit(4 * width) ||
                col("baseline_iqr") > q3Hi - q1Lo + lit(4 * width)), 1L)
            .otherwise(0L)) === 0).as("iqr_bracketed"),
          (sum(col("baseline_below") + col("baseline_above")) === 0)
            .as("all_in_range"))
      },
      Some("""SELECT count(*)::BIGINT AS n_events,
               sum(CASE WHEN cnt >= 1 THEN 1 ELSE 0 END)::BIGINT
                 AS n_with_baseline,
               true AS median_bracketed, true AS iqr_bracketed,
               true AS all_in_range
             FROM (SELECT count(value) OVER w AS cnt
               FROM (SELECT user_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS tss FROM events)
               WINDOW w AS (PARTITION BY user_id ORDER BY tss
                 RANGE BETWEEN 3599 PRECEDING AND 1 PRECEDING))""")),

    // ---- per-key gap / outage report ---------------------------------------
    // all gaps are exact micros longs; only the avg is a division
    QueryDef("q_gap_report",
      (s, d) => graft.events.TimeSeries.gapReport(events(s, d),
          Seq("user_id"), "ts", "event_id", thresholdUs = 3600000000L)
        // avg_gap is one correctly-rounded division of exact ints —
        // bit-identical across engines, so it compares UNROUNDED
        // (round() itself would diverge: scaling a ~1e10 value by 1e6
        // exceeds 2^53 in DuckDB's round path)
        .select(col("user_id"), col("n_events"), col("span_us"),
          col("max_gap_us"), col("avg_gap_us"), col("n_gaps_over"))
        .orderBy("user_id"),
      Some("""WITH g AS (SELECT user_id, epoch_us(ts) AS tsu,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS gap
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND event_id IS NOT NULL)
             SELECT user_id, count(*)::BIGINT AS n_events,
               (max(tsu) - min(tsu))::BIGINT AS span_us,
               max(gap)::BIGINT AS max_gap_us,
               sum(gap)::DOUBLE / count(gap) AS avg_gap_us,
               sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END)::BIGINT
                 AS n_gaps_over
             FROM g GROUP BY 1 ORDER BY 1""")),

    // ---- time-weighted average (step-function hold) ------------------------
    QueryDef("q_twa",
      (s, d) => graft.events.TimeSeries.timeWeightedAvg(events(s, d),
          Seq("user_id"), "ts", "event_id", "value")
        .select(col("user_id"), col("n_events"), col("span_us"),
          round(col("twa"), 6).as("twa"))
        .orderBy("user_id"),
      Some("""WITH w AS (SELECT user_id, value, epoch_us(ts) AS tsu,
               (lead(epoch_us(ts)) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) - epoch_us(ts))::DOUBLE
                 AS hold
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND event_id IS NOT NULL AND value IS NOT NULL)
             SELECT user_id, count(*)::BIGINT AS n_events,
               (max(tsu) - min(tsu))::BIGINT AS span_us,
               round(CASE WHEN max(tsu) > min(tsu)
                 THEN sum(value * hold) / (max(tsu) - min(tsu))
                 ELSE max(value) END, 6) AS twa
             FROM w GROUP BY 1 ORDER BY 1""")),

    // ---- CUSUM change detection (per-event, bit-exact recursion) -----------
    // same oracle strategy as q_ewma: a recursive CTE replaying the
    // identical +/−/greatest op order is BIT-IDENTICAL to the JVM
    // recursion — cusum_hi/lo compare unrounded
    QueryDef("q_cusum",
      (s, d) => graft.events.TimeSeries.cusum(events(s, d),
          Seq("user_id"), "ts", "event_id", "value",
          target = 5.0, slack = 0.5, h = 25.0)
        .select(col("user_id"), col("event_id"), col("value"),
          col("cusum_hi"), col("cusum_lo"), col("alarm"))
        .orderBy("user_id", "event_id"),
      Some("""WITH RECURSIVE r AS (SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS rn
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND event_id IS NOT NULL AND value IS NOT NULL),
             rec AS (
               SELECT user_id, event_id, rn, value::DOUBLE AS v,
                 greatest(0.0, value - 5.0 - 0.5) AS hi,
                 greatest(0.0, 5.0 - 0.5 - value) AS lo
               FROM r WHERE rn = 1
               UNION ALL
               SELECT r.user_id, r.event_id, r.rn, r.value,
                 greatest(0.0, rec.hi + (r.value - 5.0 - 0.5)),
                 greatest(0.0, rec.lo + (5.0 - 0.5 - r.value))
               FROM r JOIN rec ON r.user_id = rec.user_id
                 AND r.rn = rec.rn + 1)
             SELECT user_id, event_id, v AS value, hi AS cusum_hi,
               lo AS cusum_lo, (hi > 25.0 OR lo > 25.0) AS alarm
             FROM rec ORDER BY 1, 2""")),

    // ---- per-key autocorrelation function (lags 1..3) ----------------------
    // one keyed window pass (mean + 3 leads) folded into one aggregate,
    // melted by stack(); the series mean is a double window-avg, so the
    // products carry sum-order ulps — acf compares under round(6)
    QueryDef("q_acf",
      (s, d) => graft.events.TimeSeries.acf(events(s, d),
          Seq("user_id"), "ts", "event_id", "value", maxLag = 3)
        .select(col("user_id"), col("lag"), col("n"),
          round(col("acf"), 6).as("acf"))
        .orderBy("user_id", "lag"),
      Some("""WITH b AS (SELECT user_id, event_id, value::DOUBLE AS x,
               epoch_us(ts) AS tsu
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND event_id IS NOT NULL AND value IS NOT NULL),
             m AS (SELECT user_id, x,
               avg(x) OVER (PARTITION BY user_id) AS mu,
               lead(x, 1) OVER w AS l1, lead(x, 2) OVER w AS l2,
               lead(x, 3) OVER w AS l3
               FROM b WINDOW w AS (PARTITION BY user_id
                 ORDER BY tsu, event_id)),
             a AS (SELECT user_id, count(*)::BIGINT AS n,
               sum((x - mu) * (x - mu)) AS den,
               sum((x - mu) * (l1 - mu)) AS n1,
               sum((x - mu) * (l2 - mu)) AS n2,
               sum((x - mu) * (l3 - mu)) AS n3
               FROM m GROUP BY 1)
             SELECT user_id, lag, n, round(num / nullif(den, 0), 6) AS acf
             FROM (SELECT user_id, n, 1 AS lag, n1 AS num, den FROM a
               UNION ALL SELECT user_id, n, 2, n2, den FROM a
               UNION ALL SELECT user_id, n, 3, n3, den FROM a)
             ORDER BY user_id, lag""")),

    // ---- Holt linear (level + trend) smoothing ------------------------------
    // the q_ewma contract extended to a two-state recursion: the oracle's
    // RECURSIVE CTE applies the IDENTICAL op order (level from (l+b),
    // trend from the recomputed level), so level/trend/forecast compare
    // BIT-FOR-BIT, unrounded
    QueryDef("q_holt",
      (s, d) => graft.events.TimeSeries.holtLinear(events(s, d),
          Seq("user_id"), "ts", "event_id", "value",
          alpha = 0.3, beta = 0.2)
        .select(col("user_id"), col("event_id"), col("level"),
          col("trend"), col("forecast"))
        .orderBy("user_id", "event_id"),
      Some("""WITH RECURSIVE r AS (SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS rn
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND event_id IS NOT NULL AND value IS NOT NULL),
             rec AS (
               SELECT user_id, event_id, rn, value::DOUBLE AS l,
                 0.0::DOUBLE AS b
               FROM r WHERE rn = 1
               UNION ALL
               SELECT r.user_id, r.event_id, r.rn,
                 0.3 * r.value + (1.0 - 0.3) * (rec.l + rec.b),
                 0.2 * ((0.3 * r.value + (1.0 - 0.3) * (rec.l + rec.b))
                   - rec.l) + (1.0 - 0.2) * rec.b
               FROM r JOIN rec ON r.user_id = rec.user_id
                 AND r.rn = rec.rn + 1)
             SELECT user_id, event_id, l AS level, b AS trend,
               l + b AS forecast
             FROM rec ORDER BY 1, 2""")),

    // ---- diurnal seasonality summary ---------------------------------------
    // hour-of-day variance-explained per user; hourly means round(6)
    // BEFORE the peak/trough argmax (ulp-stable hour choice), r²
    // round(6) for the moment-sum ulps
    QueryDef("q_seasonality",
      (s, d) => graft.events.TimeSeries.seasonality(events(s, d),
          Seq("user_id"), "ts", "value")
        .select(col("user_id"), col("n"),
          round(col("r2_seasonal"), 6).as("r2_seasonal"),
          col("peak_hour"), col("trough_hour"),
          col("peak_mean"), col("trough_mean"))
        .orderBy("user_id"),
      Some("""WITH b AS (SELECT user_id,
               ((epoch_us(ts) // 3600000000) % 24)::INT AS h,
               value::DOUBLE AS x
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND value IS NOT NULL),
             ph AS (SELECT user_id, h, count(*)::BIGINT AS n,
               sum(x) AS s, sum(x * x) AS ss,
               round(sum(x) / count(*), 6) AS m
               FROM b GROUP BY 1, 2),
             r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY m DESC, h) AS rp,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY m ASC, h) AS rt FROM ph),
             a AS (SELECT user_id, sum(n)::BIGINT AS n, sum(s) AS st,
               sum(ss) AS sst, sum(s * s / n) AS between_ss,
               max(CASE WHEN rp = 1 THEN h END) AS peak_hour,
               max(CASE WHEN rp = 1 THEN m END) AS peak_mean,
               max(CASE WHEN rt = 1 THEN h END) AS trough_hour,
               max(CASE WHEN rt = 1 THEN m END) AS trough_mean
               FROM r GROUP BY 1)
             SELECT user_id, n,
               round(CASE WHEN sst - st * st / n > 0.0 THEN
                 1.0 - (sst - between_ss) / (sst - st * st / n) END, 6)
                 AS r2_seasonal,
               peak_hour, trough_hour, peak_mean, trough_mean
             FROM a ORDER BY user_id""")),

    // ---- single change-point localization (AMOC) ----------------------------
    // values enter as EXACT CENTS (round(value·100) longs — v·100 is
    // never an exact .5, so both engines round identically), making
    // every running sum exact and every output a fixed division chain:
    // the whole row compares UNROUNDED. The first cut rounded the raw
    // double means at 6 and hit the half-boundary (59.6046875) — the
    // q_robust_mean lesson again
    QueryDef("q_change_point",
      (s, d) => graft.events.TimeSeries.changePoint(
          events(s, d).withColumn("cents",
            round(col("value") * 100).cast("long")),
          Seq("user_id"), "ts", "event_id", "cents")
        .select(col("user_id"), col("n"), col("split_tie"),
          col("n_before"), (col("gain") / 100.0).as("gain"),
          (col("mean_before") / 100.0).as("mean_before"),
          (col("mean_after") / 100.0).as("mean_after"))
        .orderBy("user_id"),
      Some("""WITH b AS (SELECT user_id, event_id,
               round(value * 100)::BIGINT::DOUBLE AS x,
               epoch_us(ts) AS tsu
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND event_id IS NOT NULL AND value IS NOT NULL),
             c AS (SELECT user_id, event_id, tsu,
               count(*) OVER wp AS nt, sum(x) OVER wp AS st,
               count(*) OVER wa AS n, sum(x) OVER wa AS s
               FROM b
               WINDOW wp AS (PARTITION BY user_id ORDER BY tsu, event_id
                 ROWS UNBOUNDED PRECEDING),
               wa AS (PARTITION BY user_id)),
             g AS (SELECT user_id, event_id, nt, n,
               st / nt AS mb, (s - st) / (n - nt) AS ma,
               round(sqrt(nt * (n - nt) / n) *
                 abs(st / nt - (s - st) / (n - nt)), 6) AS gain,
               tsu
               FROM c WHERE nt < n),
             r AS (SELECT *, row_number() OVER (PARTITION BY user_id
                 ORDER BY gain DESC, tsu, event_id) AS rk FROM g)
             SELECT user_id, n::BIGINT AS n, event_id AS split_tie,
               nt::BIGINT AS n_before, gain / 100.0 AS gain,
               mb / 100.0 AS mean_before, ma / 100.0 AS mean_after
             FROM r WHERE rk = 1 ORDER BY user_id""")),

    // ---- burstiness: per-user Fano factor over hourly buckets ---------------
    // empty in-span buckets count as zeros WITHOUT materializing
    // (N = max-min+1 span arithmetic); every term is an exact long and
    // the op chain is fixed, so the row compares UNROUNDED
    QueryDef("q_dispersion",
      (s, d) => graft.events.TimeSeries.dispersion(events(s, d),
          Seq("user_id"), "ts", bucketUs = 3600000000L)
        .orderBy("user_id"),
      Some("""WITH b AS (SELECT user_id,
               epoch_us(ts) // 3600000000 AS bk, count(*)::BIGINT AS c
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
               GROUP BY 1, 2),
             g AS (SELECT user_id, sum(c)::BIGINT AS n_events,
               (max(bk) - min(bk) + 1)::BIGINT AS n_buckets,
               count(*)::BIGINT AS occupied,
               sum(c * c)::BIGINT AS cc
               FROM b GROUP BY 1)
             SELECT user_id, n_events, n_buckets, occupied,
               n_events::DOUBLE / n_buckets AS mean,
               cc::DOUBLE / n_buckets -
                 (n_events::DOUBLE / n_buckets) *
                 (n_events::DOUBLE / n_buckets) AS variance,
               CASE WHEN n_events::DOUBLE / n_buckets > 0.0 THEN
                 (cc::DOUBLE / n_buckets -
                   (n_events::DOUBLE / n_buckets) *
                   (n_events::DOUBLE / n_buckets)) /
                 (n_events::DOUBLE / n_buckets) END AS fano
             FROM g ORDER BY user_id""")),

    // ---- Mann-Kendall trend + Sen's slope -----------------------------------
    // run on the DAILY resample (the operator's documented contract —
    // MK is pairwise), per user. ROUNDING-FREE contract (the round-9 red
    // row): daily values are exact cent sums qsum (floor(v·100 + 0.5) is
    // deterministic for cents data — the true integer sits > 0.49 from
    // the floor boundary) carried as x = qsum/cnt/100, a fixed chain
    // over exact longs, so every downstream comparison/group/slope is
    // the identical IEEE op chain in both engines; Sen's slope uses the
    // "lower" Type-1 order-statistic pick (SELECTS a chain-derived
    // double instead of interpolating a new one) and z derives from
    // exact longs through sqrt — all columns compare UNROUNDED.
    QueryDef("q_mann_kendall",
      (s, d) => {
        val ev = events(s, d)
          .na.drop(Seq("user_id", "ts", "value"))
          .withColumn("day",
            expr("unix_micros(ts) div 86400000000"))
        val daily = ev.groupBy("user_id", "day")
          .agg(sum(floor(col("value") * 100 + 0.5)).as("qsum"),
            count(lit(1)).as("cnt"))
          .withColumn("x",
            col("qsum").cast("double") / col("cnt").cast("double") / 100.0)
          .withColumn("ts2", timestamp_micros(col("day") * 86400000000L))
        graft.events.TimeSeries.mannKendall(daily, Seq("user_id"),
            "ts2", "day", "x", senEstimator = "lower")
          .select(col("user_id"), col("n"), col("s"), col("var_s"),
            col("z"), col("sen_slope"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, value
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND value IS NOT NULL),
             dly AS (SELECT user_id, tsu // 86400000000 AS day,
               sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS qsum,
               count(*)::BIGINT AS cnt FROM e GROUP BY 1, 2),
             dx AS (SELECT user_id, day,
               qsum::DOUBLE / cnt::DOUBLE / 100.0 AS x FROM dly),
             r AS (SELECT user_id, day, x, row_number()
                 OVER (PARTITION BY user_id ORDER BY day) AS rn FROM dx),
             p AS (SELECT a.user_id, a.x AS xa, b.x AS xb,
               a.day AS ta, b.day AS tb
               FROM r a JOIN r b ON a.user_id = b.user_id AND a.rn < b.rn),
             sagg AS (SELECT user_id, sum(CASE WHEN xb > xa THEN 1
                 WHEN xb < xa THEN -1 ELSE 0 END)::BIGINT AS s
               FROM p GROUP BY 1),
             sl AS (SELECT user_id,
                 (xb - xa) / (((tb - ta) * 86400000000)::DOUBLE / 1e6)
                   AS slope
               FROM p WHERE tb != ta),
             sr AS (SELECT user_id, slope,
                 row_number() OVER (PARTITION BY user_id ORDER BY slope)
                   AS srn,
                 count(*) OVER (PARTITION BY user_id) AS m FROM sl),
             sen AS (SELECT user_id, slope AS sen_slope FROM sr
               WHERE srn = (m + 1) // 2),
             tc AS (SELECT user_id, count(*)::BIGINT AS t FROM dx
               GROUP BY user_id, x),
             tie AS (SELECT user_id,
               sum(t * (t - 1) * (t * 2 + 5))::BIGINT AS tsum,
               sum(t)::BIGINT AS n FROM tc GROUP BY 1),
             f AS (SELECT tie.user_id, n, coalesce(s, 0)::BIGINT AS s,
               ((n * (n - 1) * (n * 2 + 5) - tsum))::DOUBLE / 18.0
                 AS var_s, sen_slope
               FROM tie LEFT JOIN sagg ON tie.user_id = sagg.user_id
                 LEFT JOIN sen ON tie.user_id = sen.user_id)
             SELECT user_id, n, s, var_s,
               CASE WHEN var_s > 0.0 THEN
                 CASE WHEN s > 0 THEN (s - 1)::DOUBLE / sqrt(var_s)
                   WHEN s < 0 THEN (s + 1)::DOUBLE / sqrt(var_s)
                   ELSE 0.0 END END AS z,
               sen_slope
             FROM f ORDER BY user_id""")),

    // ---- Durbin-Watson residual autocorrelation -----------------------------
    // per-user OLS of value on seconds-from-first-event (min-centered in
    // exact long micros BEFORE the double divide — raw epoch-micros x
    // would cancel catastrophically in the x² sums), residuals lagged in
    // time order, DW ratio under round(6)
    QueryDef("q_durbin_watson",
      (s, d) => graft.events.TimeSeries.durbinWatson(events(s, d),
          Seq("user_id"), "ts", "event_id", "value")
        .select(col("user_id"), col("n"), round(col("dw"), 6).as("dw"))
        .orderBy("user_id"),
      Some("""WITH b AS (SELECT user_id, event_id, value::DOUBLE AS y,
               epoch_us(ts) AS tsu
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
                 AND event_id IS NOT NULL AND value IS NOT NULL),
             c AS (SELECT user_id, event_id, y,
               (tsu - min(tsu) OVER (PARTITION BY user_id))::DOUBLE / 1e6
                 AS xc FROM b),
             g AS (SELECT user_id, count(*) AS n, sum(xc) AS sx,
               sum(y) AS sy, sum(xc * y) AS sxy, sum(xc * xc) AS sxx
               FROM c GROUP BY 1),
             k AS (SELECT user_id, n,
               (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0) AS slope,
               (sy - (n * sxy - sx * sy) / nullif(n * sxx - sx * sx, 0)
                 * sx) / n AS icept
               FROM g),
             e AS (SELECT c.user_id, c.event_id, xc,
               y - (icept + slope * xc) AS e
               FROM c JOIN k USING (user_id)),
             l AS (SELECT user_id, e, lag(e) OVER (PARTITION BY user_id
                 ORDER BY xc, event_id) AS ep FROM e)
             SELECT user_id, count(*)::BIGINT AS n,
               round(sum((e - ep) * (e - ep)) / nullif(sum(e * e), 0), 6)
                 AS dw
             FROM l GROUP BY 1 ORDER BY 1""")),

    // ---- as-of join: latest click before each purchase, per user ----------
    // oracle = DuckDB's NATIVE ASOF JOIN — the engine's merge-scan
    // formulation must reproduce a first-class reference implementation
    QueryDef("q_asof_join",
      (s, d) => {
        val ev = events(s, d).withColumn("tsu", unix_micros(col("ts")))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("tsu"),
            round(col("value"), 2).as("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("tsu"),
            col("tsu").as("click_tsu"), round(col("value"), 2).as("click_value"))
        graft.joins.AsofJoin.asofJoin(purchases, clicks,
            keys = Seq("user_id"), tsCol = "tsu",
            valueCols = Seq("click_tsu", "click_value"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
               round(value, 2) AS value, event_type FROM events),
             p AS (SELECT event_id, user_id, tsu, value FROM e
               WHERE event_type = 'purchase'),
             c AS (SELECT user_id, tsu AS click_tsu, value AS click_value
               FROM e WHERE event_type = 'click')
             SELECT p.user_id, p.tsu, p.event_id, p.value,
               c.click_tsu, c.click_value
             FROM p ASOF LEFT JOIN c
               ON p.user_id = c.user_id AND p.tsu >= c.click_tsu
             ORDER BY event_id""")),

    // backward as-of with a 10-minute tolerance (pandas merge_asof
    // tolerance parity): matches older than the bound are nulled; the
    // oracle applies the same CASE over DuckDB's native ASOF JOIN
    QueryDef("q_asof_tolerance",
      (s, d) => {
        val ev = events(s, d).withColumn("tsu", unix_micros(col("ts")))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("tsu"),
            round(col("value"), 2).as("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("tsu"),
            col("tsu").as("click_tsu"),
            round(col("value"), 2).as("click_value"))
        graft.joins.AsofJoin.asofJoinTolerance(purchases, clicks,
            keys = Seq("user_id"), tsCol = "tsu",
            valueCols = Seq("click_tsu", "click_value"),
            rightTsValueCol = "click_tsu", tolerance = 6.0e8)
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
               round(value, 2) AS value, event_type FROM events),
             p AS (SELECT event_id, user_id, tsu, value FROM e
               WHERE event_type = 'purchase'),
             c AS (SELECT user_id, tsu AS click_tsu, value AS click_value
               FROM e WHERE event_type = 'click'),
             j AS (SELECT p.user_id, p.tsu, p.event_id, p.value,
               c.click_tsu, c.click_value
               FROM p ASOF LEFT JOIN c
                 ON p.user_id = c.user_id AND p.tsu >= c.click_tsu)
             SELECT user_id, tsu, event_id, value,
               CASE WHEN tsu - click_tsu <= 600000000
                 THEN click_tsu END AS click_tsu,
               CASE WHEN tsu - click_tsu <= 600000000
                 THEN click_value END AS click_value
             FROM j ORDER BY event_id""")),

    // ---- forward as-of: next click at or after each purchase --------------
    // same merge-scan plan as the backward tier, ts DESCENDING: scanning
    // from the future backward, the carried right row at each left row is
    // the smallest right ts still >= it. DuckDB has no forward ASOF, so
    // the oracle replays it as an inequality join + min-rank pick
    QueryDef("q_asof_forward",
      (s, d) => {
        val ev = events(s, d).withColumn("tsu", unix_micros(col("ts")))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("tsu"),
            round(col("value"), 2).as("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("tsu"),
            col("tsu").as("click_tsu"), round(col("value"), 2).as("click_value"))
        graft.joins.AsofJoin.asofJoinForward(purchases, clicks,
            keys = Seq("user_id"), tsCol = "tsu",
            valueCols = Seq("click_tsu", "click_value"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
               round(value, 2) AS value, event_type FROM events),
             p AS (SELECT event_id, user_id, tsu, value FROM e
               WHERE event_type = 'purchase'),
             c AS (SELECT user_id, tsu AS click_tsu, value AS click_value
               FROM e WHERE event_type = 'click'),
             j AS (SELECT p.user_id, p.tsu, p.event_id, p.value,
               c.click_tsu, c.click_value,
               row_number() OVER (PARTITION BY p.event_id
                 ORDER BY c.click_tsu) AS rn
               FROM p LEFT JOIN c
                 ON p.user_id = c.user_id AND c.click_tsu >= p.tsu)
             SELECT user_id, tsu, event_id, value, click_tsu, click_value
             FROM j WHERE rn = 1 ORDER BY event_id""")),

    // ---- nearest as-of: closest click either side of each purchase --------
    // pandas merge_asof(direction='nearest') parity: two one-pass scans
    // (backward + forward) composed by one id-keyed join; ties go
    // backward. Oracle ranks each purchase's clicks by absolute distance
    // with the backward-preferring tiebreak
    QueryDef("q_asof_nearest",
      (s, d) => {
        val ev = events(s, d).withColumn("tsu", unix_micros(col("ts")))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("tsu"),
            round(col("value"), 2).as("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("tsu"),
            col("tsu").as("click_tsu"), round(col("value"), 2).as("click_value"))
        graft.joins.AsofJoin.asofJoinNearest(purchases, clicks,
            keys = Seq("user_id"), tsCol = "tsu",
            valueCols = Seq("click_tsu", "click_value"),
            idCol = "event_id", rightTsValueCol = "click_tsu")
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
               round(value, 2) AS value, event_type FROM events),
             p AS (SELECT event_id, user_id, tsu, value FROM e
               WHERE event_type = 'purchase'),
             c AS (SELECT user_id, tsu AS click_tsu, value AS click_value
               FROM e WHERE event_type = 'click'),
             j AS (SELECT p.user_id, p.tsu, p.event_id, p.value,
               c.click_tsu, c.click_value,
               row_number() OVER (PARTITION BY p.event_id
                 ORDER BY abs(c.click_tsu - p.tsu),
                   (c.click_tsu > p.tsu)::INT, c.click_tsu) AS rn
               FROM p LEFT JOIN c ON p.user_id = c.user_id)
             SELECT user_id, tsu, event_id, value, click_tsu, click_value
             FROM j WHERE rn = 1 ORDER BY event_id""")),

    // ---- range join: purchases inside click-session windows ---------------
    // intervals = per-user click sessions (4-day gap — the synthetic
    // events put median per-user click spacing at ~35 h, so a web-style
    // 30-min gap yields only single-point sessions); points = purchase
    // timestamps; the bin-exploded equi-join must reproduce DuckDB's
    // BETWEEN range join exactly
    QueryDef("q_range_join",
      (s, d) => {
        val ev = events(s, d).withColumn("tsu", unix_micros(col("ts")))
        val sessions = graft.events.Sessionize.sessionBounds(
            ev.filter(col("event_type") === "click")
              .select("user_id", "tsu"),
            keys = Seq("user_id"), tsCol = "tsu",
            gap = 345600L * 1000000L, sidCol = "sid")
          .drop("n_events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("tsu"))
        graft.joins.RangeJoin.pointInInterval(purchases, sessions,
            keys = Seq("user_id"), pointCol = "tsu", loCol = "lo",
            hiCol = "hi", binWidth = 86400L * 1000000L)
          .select("event_id", "user_id", "tsu", "sid", "lo", "hi")
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
               event_type FROM events),
             c AS (SELECT user_id, tsu,
               CASE WHEN lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu)
                 IS NULL OR tsu - lag(tsu) OVER (PARTITION BY user_id
                 ORDER BY tsu) > 345600000000 THEN 1 ELSE 0 END AS new_s
               FROM e WHERE event_type = 'click'),
             s2 AS (SELECT user_id, tsu, sum(new_s) OVER (PARTITION BY
               user_id ORDER BY tsu ROWS UNBOUNDED PRECEDING)::BIGINT AS sid
               FROM c),
             sess AS (SELECT user_id, sid, min(tsu) AS lo, max(tsu) AS hi
               FROM s2 GROUP BY 1, 2),
             p AS (SELECT event_id, user_id, tsu FROM e
               WHERE event_type = 'purchase')
             SELECT p.event_id, p.user_id, p.tsu, sess.sid, sess.lo, sess.hi
             FROM p JOIN sess ON p.user_id = sess.user_id
               AND p.tsu BETWEEN sess.lo AND sess.hi
             ORDER BY event_id""")),

    // ---- interval-interval overlap join -----------------------------------
    // two derived per-user interval sets (event -> [epoch_s, epoch_s +
    // id-keyed span]); both sides bin-exploded, pairs meet on (user, bin)
    // with the exact overlap post-filter, emitted EXACTLY once at the
    // later interval's first bin — no dedup pass. Oracle = the plain
    // inequality join
    QueryDef("q_interval_join",
      (s, d) => {
        // microsecond-exact epochs: a seconds cast truncates in Spark but
        // ROUNDS through DuckDB's double epoch() — off-by-one overlaps
        val ev = events(s, d).withColumn("us", expr("unix_micros(ts)"))
        val l = ev.filter(col("event_id") % 5 === 0)
          .select(col("user_id").as("k"), col("event_id").as("id_a"),
            col("us").as("lo_a"),
            (col("us") + col("event_id") % 600 * 1000000L).as("hi_a"))
        val r = ev.filter(col("event_id") % 5 === 1)
          .select(col("user_id").as("k"), col("event_id").as("id_b"),
            col("us").as("lo_b"),
            (col("us") + col("event_id") % 900 * 1000000L).as("hi_b"))
        graft.joins.RangeJoin.intervalOverlap(l, r, Seq("k"),
            "lo_a", "hi_a", "lo_b", "hi_b", binWidth = 512L * 1000000L)
          .select(col("id_a"), col("id_b"),
            (least(col("hi_a"), col("hi_b")) -
              greatest(col("lo_a"), col("lo_b"))).as("overlap_us"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH l AS (SELECT user_id k, event_id id_a,
               epoch_us(ts) lo_a,
               epoch_us(ts) + event_id % 600 * 1000000 hi_a
               FROM events WHERE event_id % 5 = 0),
             r AS (SELECT user_id k, event_id id_b,
               epoch_us(ts) lo_b,
               epoch_us(ts) + event_id % 900 * 1000000 hi_b
               FROM events WHERE event_id % 5 = 1)
             SELECT id_a, id_b,
               (least(hi_a, hi_b) - greatest(lo_a, lo_b))::BIGINT
                 AS overlap_us
             FROM l JOIN r ON l.k = r.k AND lo_a <= hi_b AND lo_b <= hi_a
             ORDER BY id_a, id_b""")),

    // ---- LOCF fill (sensor-dropout densification) -------------------------
    // nulls planted deterministically (event_id % 3 = 0), filled with the
    // key's last non-null value at-or-before; ties resolve by event id.
    // One keyed window — the oracle replays last_value IGNORE NULLS
    QueryDef("q_locf",
      (s, d) => {
        val ev = events(s, d).withColumn("tsu", unix_micros(col("ts")))
          .withColumn("v", when(col("event_id") % 3 === 0, lit(null))
            .otherwise(round(col("value"), 2)))
          .select("event_id", "user_id", "tsu", "v")
        graft.events.Rolling.locfFill(ev, Seq("user_id"), "tsu", "v",
            tieCol = "event_id")
          .select(col("event_id"), col("user_id"), col("v"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
               CASE WHEN event_id % 3 = 0 THEN NULL
                 ELSE round(value, 2) END AS v FROM events)
             SELECT event_id, user_id,
               last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
                 ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS v
             FROM e ORDER BY event_id""")),

    // ---- fixed-grid resampling with gap carry-forward ---------------------
    // per-user 4-day cells: observed cells carry (n_obs, mean); empty
    // cells between a key's first and last observation are materialized
    // from the key's own span (never a global calendar) and filled with
    // the previous cell's mean. The feature-regularization step models
    // need; oracle replays cells + generate_series + IGNORE NULLS window
    QueryDef("q_resample",
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"), col("ts"), round(col("value"), 2).as("v"))
        graft.events.Rolling.resample(ev, Seq("user_id"), "ts", "v",
            stepSec = 345600L)
          .select(col("user_id"), col("grid_ts"), col("n_obs"),
            round(col("value"), 6).as("value"))
          .orderBy("user_id", "grid_ts")
      },
      Some("""WITH e AS (SELECT user_id,
               epoch_us(ts) // 1000000 AS sec, round(value, 2) AS v
               FROM events WHERE ts IS NOT NULL),
             cells AS (SELECT user_id,
               (sec // 345600) * 345600 AS grid_ts,
               count(v) AS n_obs, avg(v) AS m
               FROM e GROUP BY 1, 2),
             spans AS (SELECT user_id, min(grid_ts) AS lo, max(grid_ts) AS hi
               FROM cells GROUP BY 1),
             grid AS (SELECT user_id,
               unnest(generate_series(lo, hi, 345600)) AS grid_ts FROM spans),
             j AS (SELECT g.user_id, g.grid_ts,
               coalesce(c.n_obs, 0) AS n_obs, c.m
               FROM grid g LEFT JOIN cells c
               ON g.user_id = c.user_id AND g.grid_ts = c.grid_ts)
             SELECT user_id, grid_ts, n_obs::BIGINT AS n_obs,
               round(last_value(m IGNORE NULLS) OVER (PARTITION BY user_id
                 ORDER BY grid_ts ROWS UNBOUNDED PRECEDING), 6) AS value
             FROM j ORDER BY user_id, grid_ts""")),

    // ---- events: sessionization via window gaps ---------------------------
    QueryDef("q_events_sessions",
      (s, d) => {
        // order and gap on epoch micros, the resolution of `ts`: whole
        // seconds would merge a gap of 1800.x s that the oracle's
        // fractional epoch() splits
        val ev = events(s, d).withColumn("tsu", unix_micros(col("ts")))
        graft.events.Sessionize.sessionBounds(ev, Seq("user_id"), "tsu",
            gap = 1800L * 1000000)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
          .orderBy("user_id")
      },
      Some("""WITH g AS (SELECT user_id, ts,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 IS NULL OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY
                 user_id ORDER BY ts)) > 1800 THEN 1 ELSE 0 END AS new_session
               FROM events),
             s AS (SELECT user_id, sum(new_session) OVER (PARTITION BY user_id
               ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id FROM g),
             per AS (SELECT user_id, session_id, count(*) AS n_events
               FROM s GROUP BY 1, 2)
             SELECT user_id, count(*)::BIGINT AS n_sessions,
               sum(n_events)::BIGINT AS n_events
             FROM per GROUP BY user_id ORDER BY user_id""")),

    // ---- events: first-order Markov transition matrix ---------------------
    // lead over (user, ts, event_id) — the tie column makes the pairing a
    // total order, so counts replay exactly
    QueryDef("q_transitions",
      (s, d) => graft.events.Transitions.transitionMatrix(
          events(s, d), "user_id", "event_type", "ts", "event_id")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("p"), 6).as("p"))
        .orderBy("from_type", "to_type"),
      Some("""WITH p AS (SELECT event_type AS f,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS t
               FROM events WHERE user_id IS NOT NULL
                 AND event_type IS NOT NULL AND ts IS NOT NULL),
             c AS (SELECT f AS from_type, t AS to_type,
               count(*)::BIGINT AS n FROM p WHERE t IS NOT NULL
               GROUP BY 1, 2)
             SELECT from_type, to_type, n,
               round(n::DOUBLE / sum(n) OVER (PARTITION BY from_type), 6)
                 AS p
             FROM c ORDER BY from_type, to_type""")),

    // ---- events: ordered-step funnel (first-touch, windowed) --------------
    // greedy earliest-after-previous matching anchored at the first step-0
    // event == the oracle's chained min-joins (see Funnel scaladoc); the
    // Spark side is ONE user-keyed shuffle instead of K joins
    QueryDef("q_funnel",
      (s, d) => {
        val ev = events(s, d).withColumn("tsu", unix_micros(col("ts")))
        graft.events.Funnel.report(ev, "user_id", "event_type", "tsu",
            Seq("view", "click", "purchase"), window = 604800000000L)
          .select(col("step"), col("step_name"), col("n_users"),
            round(col("conversion"), 6).as("conversion"))
          .orderBy("step")
      },
      Some("""WITH s0 AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events
               WHERE event_type = 'view' AND user_id IS NOT NULL
                 AND ts IS NOT NULL GROUP BY 1),
             s1 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t1
               FROM events e JOIN s0 ON e.user_id = s0.user_id
               WHERE e.event_type = 'click' AND epoch_us(e.ts) > s0.t0
                 AND epoch_us(e.ts) - s0.t0 <= 604800000000 GROUP BY 1),
             s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2
               FROM events e JOIN s1 ON e.user_id = s1.user_id
               JOIN s0 ON e.user_id = s0.user_id
               WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s1.t1
                 AND epoch_us(e.ts) - s0.t0 <= 604800000000 GROUP BY 1),
             c AS (SELECT (SELECT count(*) FROM s0) AS c0,
                   (SELECT count(*) FROM s1) AS c1,
                   (SELECT count(*) FROM s2) AS c2)
             SELECT 0 AS step, 'view' AS step_name, c0::BIGINT AS n_users,
               round(c0::DOUBLE / c0, 6) AS conversion FROM c
             UNION ALL SELECT 1, 'click', c1::BIGINT,
               round(c1::DOUBLE / c0, 6) FROM c
             UNION ALL SELECT 2, 'purchase', c2::BIGINT,
               round(c2::DOUBLE / c0, 6) FROM c
             ORDER BY step""")),

    // ---- events: cohort retention matrix ----------------------------------
    // week cohorts by first event; integral div on both sides (epoch micros
    // are non-negative, so trunc == floor == DuckDB's //)
    QueryDef("q_retention",
      (s, d) => {
        val ev = events(s, d).withColumn("tsu", unix_micros(col("ts")))
        graft.events.Retention.cohorts(ev, "user_id", "tsu", 604800000000L)
          .select(col("cohort"), col("offset"), col("n_active"),
            col("cohort_size"), round(col("retention"), 6).as("retention"))
          .orderBy("cohort", "offset")
      },
      Some("""WITH ev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p
               FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
             f AS (SELECT user_id, min(p) AS cohort FROM ev GROUP BY 1),
             a AS (SELECT DISTINCT user_id, p FROM ev),
             j AS (SELECT f.cohort, a.p - f.cohort AS "offset",
                   count(*)::BIGINT AS n_active
               FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1, 2)
             SELECT cohort, "offset", n_active,
               max(CASE WHEN "offset" = 0 THEN n_active END)
                 OVER (PARTITION BY cohort) AS cohort_size,
               round(n_active::DOUBLE /
                 max(CASE WHEN "offset" = 0 THEN n_active END)
                 OVER (PARTITION BY cohort), 6) AS retention
             FROM j ORDER BY cohort, "offset"""")),

    // ---- per-group OLS fit (slope / intercept / r²) -----------------------
    // one hash aggregate of six sums; the oracle replays the raw-sums
    // identity term-for-term (regr_slope would accumulate differently)
    QueryDef("q_linear_fit",
      (s, d) => Stats.linearFit(lineitem(s, d), Seq("l_returnflag"),
          "l_quantity", "l_extendedprice")
        .select(col("l_returnflag"), col("n"),
          round(col("slope"), 4).as("slope"),
          round(col("intercept"), 4).as("intercept"),
          round(col("r2"), 6).as("r2"))
        .orderBy("l_returnflag"),
      Some("""WITH g AS (SELECT l_returnflag, count(*)::BIGINT AS n,
               sum(l_quantity::DOUBLE) AS sx,
               sum(l_extendedprice::DOUBLE) AS sy,
               sum(l_quantity::DOUBLE * l_extendedprice::DOUBLE) AS sxy,
               sum(l_quantity::DOUBLE * l_quantity::DOUBLE) AS sxx,
               sum(l_extendedprice::DOUBLE * l_extendedprice::DOUBLE) AS syy
               FROM lineitem
               WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
               GROUP BY 1)
             SELECT l_returnflag, n,
               round((n*sxy - sx*sy) / (n*sxx - sx*sx), 4) AS slope,
               round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 4)
                 AS intercept,
               round((n*sxy - sx*sy)*(n*sxy - sx*sy) /
                 ((n*sxx - sx*sx)*(n*syy - sy*sy)), 6) AS r2
             FROM g ORDER BY l_returnflag""")),

    // ---- hierarchical rollup totals ----------------------------------------
    // native ROLLUP (Expand + one hash agg) vs DuckDB GROUP BY ROLLUP;
    // grouping-bit convention pinned via the GROUPING() identity, null
    // dimension slots coalesced to a sentinel on both sides so row
    // sorting never touches null ordering
    QueryDef("q_rollup",
      (s, d) => graft.agg.Stats.rollupAgg(lineitem(s, d),
          Seq("l_returnflag", "l_linestatus"), "l_quantity")
        .withColumn("total", col("total").cast("long"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
               coalesce(l_linestatus, '(all)') AS l_linestatus,
               (2 * grouping(l_returnflag) + grouping(l_linestatus))::INT
                 AS level,
               count(*)::BIGINT AS n,
               sum(l_quantity)::BIGINT AS total
             FROM lineitem
             WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
               AND l_quantity IS NOT NULL
             GROUP BY ROLLUP (l_returnflag, l_linestatus)
             ORDER BY 1, 2""")),

    // ---- 2-D skyline (Pareto front) ----------------------------------------
    // parts not dominated on (size, retailprice); pure comparisons, no
    // arithmetic — the row compares unrounded. Oracle = quadratic
    // NOT EXISTS domination, a genuinely independent formulation of the
    // same definition
    QueryDef("q_skyline",
      (s, d) => graft.operators.Skyline.skyline2d(
          s.read.parquet(s"$d/part.parquet"), "p_size", "p_retailprice")
        .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, p_size, p_retailprice FROM part p
             WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM part q
                 WHERE q.p_size IS NOT NULL
                   AND q.p_retailprice IS NOT NULL
                   AND q.p_size >= p.p_size
                   AND q.p_retailprice >= p.p_retailprice
                   AND (q.p_size > p.p_size
                     OR q.p_retailprice > p.p_retailprice))
             ORDER BY 1""")),

    // ---- exact weighted percentiles ----------------------------------------
    // quantity-weighted price quantiles: Type-1 inverse CDF returns an
    // OBSERVED value, the running weight sum folds in deterministic
    // value order, and integer weights make every sum exact — the row
    // compares UNROUNDED
    QueryDef("q_weighted_pctl",
      (s, d) => graft.agg.Stats.weightedPercentile(lineitem(s, d),
          Seq("l_returnflag"), "l_extendedprice", "l_quantity",
          Seq(0.25, 0.5, 0.9))
        .orderBy("l_returnflag", "p"),
      Some("""WITH cells AS (SELECT l_returnflag AS g,
               l_extendedprice::DOUBLE AS v,
               sum(l_quantity::DOUBLE) AS cw
               FROM lineitem WHERE l_returnflag IS NOT NULL
                 AND l_extendedprice IS NOT NULL
                 AND l_quantity IS NOT NULL
               GROUP BY 1, 2),
             c AS (SELECT g, v,
               sum(cw) OVER (PARTITION BY g ORDER BY v
                 ROWS UNBOUNDED PRECEDING) AS cum,
               sum(cw) OVER (PARTITION BY g) AS tot FROM cells)
             SELECT g AS l_returnflag, p,
               min(CASE WHEN cum >= p * tot THEN v END) AS wpctl
             FROM c, (VALUES (CAST(0.25 AS DOUBLE)),
               (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE))) ps(p)
             GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- robust means (trimmed + winsorized) --------------------------------
    // on the INTEGER quantity column the whole row is bit-exact
    // UNROUNDED: integer-valued double sums are exact in any order, the
    // exact-quantile cuts replay (quantile_cont interpolation — the
    // q_percentiles contract), and the operator's decomposition form
    // keeps the winsorized mean a fixed op chain. The first cut of this
    // row used avg() over clamped cents values and hit an EXACT half
    // boundary at round(6) (51646.2046875: Spark HALF_UP vs DuckDB
    // half-even) — averaged cents data lands on exact halves
    // systematically; never round such a column for comparison
    QueryDef("q_robust_mean",
      (s, d) => graft.agg.Stats.robustMean(lineitem(s, d),
          Seq("l_returnflag"), "l_quantity", p = 0.1)
        .orderBy("l_returnflag"),
      Some("""WITH b AS (SELECT l_returnflag AS g,
               l_quantity::DOUBLE AS x FROM lineitem
               WHERE l_returnflag IS NOT NULL AND l_quantity IS NOT NULL),
             q AS (SELECT g, quantile_cont(x, 0.1) AS q_lo,
               quantile_cont(x, 0.9) AS q_hi FROM b GROUP BY 1)
             SELECT g AS l_returnflag, count(*)::BIGINT AS n,
               sum(x) / count(*) AS mean,
               sum(CASE WHEN x >= q_lo AND x <= q_hi THEN x END) /
                 count(CASE WHEN x >= q_lo AND x <= q_hi THEN 1 END)
                 AS trimmed_mean,
               (sum(CASE WHEN x >= q_lo AND x <= q_hi THEN x END)
                 + count(CASE WHEN x < q_lo THEN 1 END) * any_value(q_lo)
                 + count(CASE WHEN x > q_hi THEN 1 END) * any_value(q_hi))
                 / count(*) AS winsorized_mean,
               any_value(q_lo) AS q_lo, any_value(q_hi) AS q_hi
             FROM b JOIN q USING (g) GROUP BY g ORDER BY g""")),

    // ---- triangle counts + clustering coefficient --------------------------
    // co-supply graph (suppliers sharing a part in lineitem); wedge
    // join + semijoin closure on both sides; coeff is one fixed
    // rational chain over exact longs — compares UNROUNDED
    QueryDef("q_triangles",
      (s, d) => {
        // quantity <= 2 keeps the co-supply graph SPARSE (the full
        // graph is near-complete on the small supplier universe and
        // its wedge mass explodes — see NOTES)
        val li = lineitem(s, d)
          .filter(col("l_quantity") <= 2)
          .select(col("l_partkey").as("p"), col("l_suppkey").as("sp"))
          .distinct()
        val edges = li.join(
            li.select(col("p"), col("sp").as("sp2")), "p")
          .filter(col("sp") < col("sp2"))
          .select(col("sp").as("src"), col("sp2").as("dst"))
        graft.pipeline.Graph.triangles(edges, "src", "dst")
          .orderBy("node")
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey AS p,
               l_suppkey AS sp FROM lineitem
               WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL
                 AND l_quantity <= 2),
             e AS (SELECT DISTINCT a.sp AS a, b.sp AS b
               FROM ps a JOIN ps b ON a.p = b.p AND a.sp < b.sp),
             w AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c
               FROM e e1 JOIN e e2 ON e1.b = e2.a),
             t AS (SELECT w.a, w.b, w.c FROM w
               WHERE EXISTS (SELECT 1 FROM e
                 WHERE e.a = w.a AND e.b = w.c)),
             pn AS (SELECT node, count(*)::BIGINT AS triangles FROM (
               SELECT a AS node FROM t UNION ALL
               SELECT b FROM t UNION ALL SELECT c FROM t)
               GROUP BY 1),
             dg AS (SELECT node, count(*)::BIGINT AS degree FROM (
               SELECT a AS node FROM e UNION ALL SELECT b FROM e)
               GROUP BY 1)
             SELECT dg.node, degree,
               coalesce(triangles, 0)::BIGINT AS triangles,
               CASE WHEN degree >= 2 THEN
                 2.0 * coalesce(triangles, 0) / (degree * (degree - 1))
               END AS coeff
             FROM dg LEFT JOIN pn ON dg.node = pn.node
             ORDER BY dg.node""")),

    // ---- rendezvous (HRW) shard assignment ---------------------------------
    // argmax over per-shard md5 salts; the oracle takes the explode +
    // arg_max route to the same argmax — identical md5 preimages on
    // both sides, ties impossible
    QueryDef("q_rendezvous",
      (s, d) => graft.pipeline.Sampling.rendezvousShard(
          s.read.parquet(s"$d/supplier.parquet"), "s_suppkey",
          nShards = 8)
        .select(col("s_suppkey"), col("shard"))
        .orderBy("s_suppkey"),
      Some("""WITH x AS (SELECT s_suppkey, unnest(range(8)) AS sh
               FROM supplier),
             h AS (SELECT s_suppkey, sh,
               md5('graft:' || s_suppkey || ':' || sh) AS hh FROM x)
             SELECT s_suppkey, arg_max(sh, hh)::INT AS shard
             FROM h GROUP BY 1 ORDER BY 1""")),

    // ---- per-source concentration (Gini + Herfindahl) ----------------------
    // how unevenly character mass spreads across each source's docs; the
    // rank formulation of Gini is permutation-invariant over ties so the
    // window needs no tie column; sums carry engine ulps -> round(6)
    QueryDef("q_concentration",
      (s, d) => graft.agg.Stats.concentration(documents(s, d),
          Seq("source"), "n_chars")
        .select(col("source"), col("n"), col("total"),
          round(col("gini"), 6).as("gini"),
          round(col("hhi"), 6).as("hhi"))
        .orderBy("source"),
      Some("""WITH b AS (SELECT source, n_chars::DOUBLE AS x,
               row_number() OVER (PARTITION BY source ORDER BY n_chars)
                 AS i
               FROM documents
               WHERE source IS NOT NULL AND n_chars IS NOT NULL)
             SELECT source, count(*)::BIGINT AS n,
               sum(x) AS total,
               round((2.0 * sum(i * x) - (count(*) + 1) * sum(x)) /
                 (count(*) * nullif(sum(x), 0)), 6) AS gini,
               round(sum(x * x) / (nullif(sum(x), 0) * sum(x)), 6) AS hhi
             FROM b GROUP BY source ORDER BY source""")),

    // ---- ridge regression (closed-form, one distributed pass) -------------
    // two features + intercept, λ = 10 on the slopes only; the oracle
    // solves the SAME centered normal equations by Cramer's rule while
    // the engine runs Gaussian elimination — algebraically identical,
    // numerically within ulps, pinned under round(4)
    QueryDef("q_ridge",
      (s, d) => graft.ml.Regression.ridgeFit(lineitem(s, d),
          Seq("l_quantity", "l_discount"), "l_extendedprice",
          lambda = 10.0)
        .select(col("n"), round(col("intercept"), 4).as("intercept"),
          round(col("beta_l_quantity"), 4).as("beta_l_quantity"),
          round(col("beta_l_discount"), 4).as("beta_l_discount")),
      Some("""WITH b AS (SELECT l_quantity::DOUBLE AS x1,
               l_discount::DOUBLE AS x2, l_extendedprice::DOUBLE AS y
               FROM lineitem WHERE l_quantity IS NOT NULL
                 AND l_discount IS NOT NULL AND l_extendedprice IS NOT NULL),
             g AS (SELECT count(*)::BIGINT AS n, sum(x1) AS sx1,
               sum(x2) AS sx2, sum(y) AS sy, sum(x1*x1) AS s11,
               sum(x1*x2) AS s12, sum(x2*x2) AS s22, sum(x1*y) AS s1y,
               sum(x2*y) AS s2y FROM b),
             k AS (SELECT n, sx1/n AS m1, sx2/n AS m2, sy/n AS my,
               s11 - n*(sx1/n)*(sx1/n) + 10.0 AS g11,
               s12 - n*(sx1/n)*(sx2/n) AS g12,
               s22 - n*(sx2/n)*(sx2/n) + 10.0 AS g22,
               s1y - n*(sx1/n)*(sy/n) AS c1,
               s2y - n*(sx2/n)*(sy/n) AS c2 FROM g),
             k2 AS (SELECT n, m1, m2, my,
               (c1*g22 - c2*g12) / (g11*g22 - g12*g12) AS b1,
               (g11*c2 - g12*c1) / (g11*g22 - g12*g12) AS b2 FROM k)
             SELECT n, round(my - (b1*m1 + b2*m2), 4) AS intercept,
               round(b1, 4) AS beta_l_quantity,
               round(b2, 4) AS beta_l_discount
             FROM k2""")),

    // ---- Benford first-digit profile --------------------------------------
    // leading digit via the canonical decimal string (strip sign, point,
    // zeros) — exact in both engines; the double column is cast to
    // DECIMAL(12,2) first (no double is an exact .xx5 tie, so both
    // engines round identically)
    QueryDef("q_benford",
      (s, d) => Stats.benford(
          s.read.parquet(s"$d/customer.parquet")
            .withColumn("bal",
              col("c_acctbal").cast(
                org.apache.spark.sql.types.DataTypes.createDecimalType(12, 2))),
          "bal")
        .select(col("digit"), col("n"),
          round(col("observed_p"), 6).as("observed_p"),
          round(col("expected_p"), 6).as("expected_p"),
          round(col("chi2_term"), 6).as("chi2_term"))
        .orderBy("digit"),
      Some("""WITH v AS (SELECT substr(regexp_replace(
                 c_acctbal::DECIMAL(12,2)::VARCHAR, '[^1-9]', '', 'g'),
                 1, 1)::INT AS digit
               FROM customer
               WHERE c_acctbal IS NOT NULL AND c_acctbal != 0),
             c AS (SELECT digit, count(*)::BIGINT AS n FROM v GROUP BY 1),
             t AS (SELECT sum(n)::DOUBLE AS total FROM c)
             SELECT digit, n,
               round(n / total, 6) AS observed_p,
               round(log10(1 + 1.0/digit), 6) AS expected_p,
               round(total * (n/total - log10(1 + 1.0/digit)) *
                 (n/total - log10(1 + 1.0/digit)) /
                 log10(1 + 1.0/digit), 6) AS chi2_term
             FROM c, t ORDER BY digit""")),

    // ---- Spearman correlation (rank-transform + Pearson) -------------------
    QueryDef("q_corr_spearman",
      (s, d) => Stats.corrSpearman(lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select(round(col("l_quantity__l_extendedprice"), 6).as("qty_price"),
          round(col("l_quantity__l_discount"), 6).as("qty_disc"),
          round(col("l_extendedprice__l_discount"), 6).as("price_disc")),
      Some("""WITH r AS (SELECT
               rank() OVER (ORDER BY l_quantity) +
                 (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq,
               rank() OVER (ORDER BY l_extendedprice) +
                 (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rp,
               rank() OVER (ORDER BY l_discount) +
                 (count(*) OVER (PARTITION BY l_discount) - 1) / 2.0 AS rd
               FROM lineitem)
             SELECT round(corr(rq, rp), 6) AS qty_price,
               round(corr(rq, rd), 6) AS qty_disc,
               round(corr(rp, rd), 6) AS price_disc FROM r""")),

    // ---- KS test WITH p-value (hash-green via the shared series chain) ----
    // The commons-math exact Kolmogorov CDF has no DuckDB replay, so the
    // p-value emitted here is the ASYMPTOTIC Kolmogorov series
    //   p = 2 Σ_{j=1..100} (−1)^{j−1} exp(−2 j² z²),  z = √n · D
    // evaluated as the IDENTICAL literal op chain in BOTH engines (the
    // q_srm Wilson–Hilferty precedent): Spark folds it with
    // aggregate(sequence(...)), DuckDB with list_sum(list_transform(...)),
    // both from the engine's own UNROUNDED D — term-order and arithmetic
    // shape match, so round-6 compares exactly. The distributed machinery
    // under test is still ksTestMulti's one-sort multi-CDF sup fold. The
    // third row samples l_discount (n≈113 at sf0.01) so the p is
    // NON-trivial at the gate SF, not just the ≈0 of the full-table fits;
    // the JVM exact-CDF p (untestable here) is pinned against this same
    // series for large n inside StatTests.ksPValue.
    QueryDef("q_ks_test",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val li = lineitem(s, d)
        val full = graft.stat.StatTests.ksTestMulti(li, "l_extendedprice",
          Seq(("exp30000", "exp", Seq(30000.0)),
            ("uniform", "uniform", Seq(0.0, 110000.0))))
        val nFull = li.filter(col("l_extendedprice").isNotNull).count()
        val samp = li.filter(col("l_orderkey") % 601 === 0)
        val sampKs = graft.stat.StatTests.ksTestMulti(samp, "l_discount",
          Seq(("uniform_disc_sample", "uniform", Seq(0.0, 0.1))))
        val nSamp = samp.filter(col("l_discount").isNotNull).count()
        val rows = full.map { case (l, r) => (l, r.statistic, nFull) } ++
          sampKs.map { case (l, r) => (l, r.statistic, nSamp) }
        rows.toDF("dist", "__stat", "n")
          .withColumn("__z", sqrt(col("n")) * col("__stat"))
          .select(col("dist"), col("n"),
            round(col("__stat"), 6).as("ks_stat"),
            round(least(lit(1.0), greatest(lit(0.0), lit(2.0) * expr(
              "aggregate(sequence(1, 100), cast(0.0 as double), (acc, j) " +
                "-> acc + (case when j % 2 = 1 then 1.0D else -1.0D end) " +
                "* exp(-2.0D * j * j * __z * __z))"))), 6).as("p_asym"))
          .orderBy("dist")
      },
      Some("""WITH s AS (SELECT l_extendedprice::DOUBLE AS v FROM lineitem
               WHERE l_extendedprice IS NOT NULL),
             r AS (SELECT v, (row_number() OVER (ORDER BY v))::DOUBLE AS i,
               (count(*) OVER ())::DOUBLE AS n FROM s),
             d AS (SELECT max(n)::BIGINT AS n,
               max(greatest(abs((1 - exp(-v / 30000.0)) - (i - 1) / n),
                 abs((1 - exp(-v / 30000.0)) - i / n))) AS exp_d,
               max(greatest(
                 abs(least(greatest(v / 110000.0, 0), 1) - (i - 1) / n),
                 abs(least(greatest(v / 110000.0, 0), 1) - i / n))) AS uni_d
               FROM r),
             s2 AS (SELECT l_discount::DOUBLE AS v FROM lineitem
               WHERE l_orderkey % 601 = 0 AND l_discount IS NOT NULL),
             r2 AS (SELECT v, (row_number() OVER (ORDER BY v))::DOUBLE AS i,
               (count(*) OVER ())::DOUBLE AS n FROM s2),
             d2 AS (SELECT max(n)::BIGINT AS n,
               max(greatest(
                 abs(least(greatest(v / 0.1, 0), 1) - (i - 1) / n),
                 abs(least(greatest(v / 0.1, 0), 1) - i / n))) AS uni_d
               FROM r2),
             raw AS (SELECT 'exp30000' AS dist, n, exp_d AS stat FROM d
               UNION ALL SELECT 'uniform', n, uni_d FROM d
               UNION ALL SELECT 'uniform_disc_sample', n, uni_d FROM d2),
             z AS (SELECT dist, n, stat, sqrt(n) * stat AS zz FROM raw)
             SELECT dist, n, round(stat, 6) AS ks_stat,
               round(least(1.0, greatest(0.0, 2.0 * list_sum(list_transform(
                 generate_series(1, 100), j ->
                 (CASE WHEN j % 2 = 1 THEN 1.0 ELSE -1.0 END) *
                 exp(-2.0 * j * j * zz * zz))))), 6) AS p_asym
             FROM z ORDER BY dist""")),

    // the full t-test matrix machinery runs (summaries → driver pairs →
    // commons-math p-values) but the driver row emits the SQL-expressible
    // Welch t statistic + degrees of freedom per pair — hash-green; the
    // p-value itself is pinned by StatEvalSpec against 2·(1 − T_df.cdf|t|).
    // Distinct column from q_welch (l_quantity vs l_extendedprice) so the
    // two rows don't collapse into one check.
    QueryDef("q_ttest_matrix",
      (s, d) => {
        val spark = s
        import spark.implicits._
        graft.stat.StatTests.tTestMatrixFull(lineitem(s, d), "l_quantity",
            Seq("l_returnflag"))
          .map { case (k1, k2, r) =>
            (k1.head.toString, k2.head.toString, r.tStat, r.df) }
          .toDF("g1", "g2", "t_stat", "welch_df")
          // round through functions.round — same half-up semantics as the
          // DuckDB oracle (and as q_welch)
          .select(col("g1"), col("g2"), round(col("t_stat"), 6).as("t_stat"),
            round(col("welch_df"), 4).as("welch_df"))
          .orderBy("g1", "g2")
      },
      Some("""WITH g AS (SELECT l_returnflag, avg(l_quantity) AS m,
               var_samp(l_quantity) AS v, count(*)::DOUBLE AS n
               FROM lineitem GROUP BY 1)
             SELECT a.l_returnflag AS g1, b.l_returnflag AS g2,
               round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6) AS t_stat,
               round(pow(a.v / a.n + b.v / b.n, 2) /
                 (pow(a.v / a.n, 2) / (a.n - 1) + pow(b.v / b.n, 2) / (b.n - 1)), 4)
                 AS welch_df
             FROM g a, g b WHERE a.l_returnflag < b.l_returnflag
             ORDER BY g1, g2""")),
  )
}
