package graft.events

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** q_events_sessions against the gap rule of its DuckDB oracle, which
  * compares fractional epoch seconds: a gap a fraction of a second above
  * 1800 s splits a session, one at or below does not. Whole-second
  * truncation merges the first kind whenever the fractions line up. */
class SessionsQuerySpec extends SparkSpec {

  test("q_events_sessions splits on sub-second gaps that straddle 1800 s") {
    import spark.implicits._
    val t0 = 1700000000L * 1000000 // epoch micros, a whole second
    val rows = Seq(
      // 1800.4 s (split) then 1799.6 s (no split); truncated to seconds
      // both read 1800 or less and nothing splits
      1L -> 0L, 1L -> 1800400000L, 1L -> 3600000000L,
      // control: 1799.999999 s, then 0.25 s — one session either way
      2L -> 500000L, 2L -> 1800499999L, 2L -> 1800749999L,
      // exactly 1800 s (no split), then 1800.000001 s (split)
      3L -> 0L, 3L -> 1800000000L, 3L -> 3600000001L)
    val dir = java.nio.file.Files.createTempDirectory("sessions").toString
    rows.toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us") + t0).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val q = graft.QueriesEvents.defs.find(_.name == "q_events_sessions").get
    val got = q.fn(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events")))).toMap
    assert(got == Map(1L -> ((2L, 3L)), 2L -> ((1L, 3L)), 3L -> ((2L, 3L))))
  }
}
