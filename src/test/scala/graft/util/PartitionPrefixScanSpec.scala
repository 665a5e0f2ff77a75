package graft.util

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Properties of the two-pass scan on random (id, v, w) frames: emitted
  * running counts and sums equal a sequential one-partition window, with
  * ties on `v` straddling range boundaries, more shuffle partitions than
  * distinct keys (empty ranges), empty input, and a pass-2 function that
  * holds rows past the iterator's next(). Fixed ScalaCheck seeds, as in
  * PropertiesSpec. */
class PartitionPrefixScanSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(7L + i)))

  /** (id, v, w) rows, unique ids, `distinct` values of v */
  private def frames(distinct: Int, maxRows: Int): Gen[Seq[(Long, Int, Long)]] =
    for {
      n <- Gen.chooseNum(1, maxRows)
      vs <- Gen.listOfN(n, Gen.chooseNum(0, distinct - 1))
      ws <- Gen.listOfN(n, Gen.chooseNum(-5L, 5L))
    } yield vs.zip(ws).zipWithIndex.map { case ((v, w), i) => (i.toLong, v, w) }

  /** Running (count, sum of w) in scan order. With `hold`, pass 2 first
    * buffers its whole partition, so every input row must be copied. */
  private def runningSums(scan: PartitionPrefixScan, hold: Boolean): DataFrame = {
    val wIdx = scan.schema.fieldIndex("w")
    val parts = scan.summarize { it =>
      var n = 0L; var s = 0L
      it.foreach { r => n += 1; s += r.getLong(wIdx) }
      (n, s)
    }
    val seeds = parts.scanLeft((0L, 0L)) { case ((n0, s0), (n, s)) => (n0 + n, s0 + s) }
    // fold sees the same seeds in partition order: each partition ends
    // where the next one's seed starts
    val ends = scan.fold(seeds)((seed, it) => seed._1 + it.size)
    assert(ends.toSeq == seeds.tail.map(_._1).toSeq)
    val out = scan.schema.add("cum_n", LongType, nullable = false)
      .add("cum_w", LongType, nullable = false)
    scan.emit(seeds, out) { case ((n0, s0), it) =>
      val rows = if (hold) it.map(_.copy()).toVector.iterator else it
      var n = n0; var s = s0
      val joined = new JoinedRow
      rows.map { r =>
        n += 1; s += r.getLong(wIdx)
        joined(r, new GenericInternalRow(Array[Any](n, s)))
      }
    }
  }

  private def windowed(df: DataFrame, order: String*): DataFrame = {
    val w = Window.orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum_n", count(lit(1)).over(w)).withColumn("cum_w", sum("w").over(w))
  }

  private def byId(df: DataFrame): Map[Long, (Long, Long)] =
    df.select("id", "cum_n", "cum_w").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** true when some non-empty partition starts with the v value the
    * previous non-empty one ended with */
  private def tiesStraddle(scan: PartitionPrefixScan): Boolean = {
    val vIdx = scan.schema.fieldIndex("v")
    val ends = scan.summarize { it =>
      var first = -1; var last = -1
      it.foreach { r => if (first < 0) first = r.getInt(vIdx); last = r.getInt(vIdx) }
      (first, last)
    }.filter(_._1 >= 0)
    ends.zip(ends.drop(1)).exists { case (a, b) => a._2 == b._1 }
  }

  private def check(hold: Boolean): Unit = {
    import spark.implicits._
    var straddled = 0
    for (rows <- samples(frames(distinct = 3, maxRows = 300), 6)) {
      val df = rows.toDF("id", "v", "w")
      val scan = PartitionPrefixScan.sorted(df, col("v"), col("id"))
      if (tiesStraddle(scan)) straddled += 1
      assert(byId(runningSums(scan, hold)) == byId(windowed(df, "v", "id")))
    }
    assert(straddled > 0, "no generated frame split a tie run across ranges")
  }

  test("emit running sums equal a sequential window; ties straddle ranges") {
    check(hold = false)
  }

  test("a pass-2 function holding rows past next() sees intact copies") {
    check(hold = true)
  }

  test("more shuffle partitions than distinct values leaves empty ranges") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, "16")
    try {
      var sawEmpty = false
      for (rows <- samples(frames(distinct = 3, maxRows = 200), 4)) {
        val df = rows.toDF("id", "v", "w")
        val scan = PartitionPrefixScan.sorted(df, col("v"))
        sawEmpty ||= scan.summarize(_.isEmpty).contains(true)
        // order within a tie run is arbitrary: compare (v, running count)
        // pairs, which do not depend on it
        def pairs(d: DataFrame) =
          d.select("v", "cum_n").as[(Int, Long)].collect().sorted.toSeq
        assert(pairs(runningSums(scan, hold = false)) == pairs(windowed(df, "v")))
      }
      assert(sawEmpty, "no generated frame left a range partition empty")
    } finally spark.conf.set(key, before)
  }

  test("empty input emits nothing and folds to zero") {
    import spark.implicits._
    // a known-empty relation (optimized to no partitions) and a filter
    // that empties every partition at run time
    val noParts = Seq.empty[(Long, Int, Long)].toDF("id", "v", "w")
    val emptyParts = spark.range(50).select(col("id"),
        (col("id") % 3).cast("int").as("v"), lit(1L).as("w"))
      .filter(col("id") > 100)
    for (df <- Seq(noParts, emptyParts)) {
      val scan = PartitionPrefixScan.sorted(df, col("v"), col("id"))
      assert(runningSums(scan, hold = false).count() == 0)
      assert(scan.summarize(_.size).forall(_ == 0))
    }
  }
}
