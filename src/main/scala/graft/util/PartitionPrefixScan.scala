package graft.util

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType

/** Running state in partition order WITHOUT a one-partition window: the
  * engine's one two-pass scan. An `ORDER BY`-only window moves the whole
  * frame into ONE partition; this scan keeps the frame's partitions and
  * instead carries each partition's prefix state across them.
  *
  *  1. [[PartitionPrefixScan.sorted]] range-partitions and sorts the
  *     frame (one Tungsten sort shuffle, compact UnsafeRow files), so
  *     partition-major order IS the sort order;
  *     [[PartitionPrefixScan.apply]] keeps the frame's own partitioning
  *     and in-partition order instead.
  *  2. [[summarize]] (pass 1) folds each partition to one summary and
  *     collects them in partition order — one job, #partitions values.
  *  3. The caller scans the summaries on the driver into one SEED per
  *     partition (an offset, a prefix max, a successor handoff…).
  *  4. [[emit]] / [[fold]] (pass 2) run each partition seeded with its
  *     entry of that array, broadcast once. Both passes read the SAME
  *     `queryExecution.toRdd`, so pass 2 re-reads pass 1's shuffle files
  *     (skipped stage) and the sort runs once. Nothing runs before the
  *     first pass is called.
  *
  * Memory per task is one row plus the partition's seed; on the driver
  * it is the summaries plus the seed array.
  *
  * Rows are `InternalRow`s (no boxed `Row` decode or re-encode), with
  * one buffer-reuse contract for every function passed in:
  *  - an input row is a reused UnsafeRow buffer, valid only until the
  *    iterator advances. A value kept past that (a summary, a key held
  *    across rows, a buffered row) must be copied first — `row.copy()`
  *    or `InternalRow.copyValue`. Peeking ahead (`buffered.head`)
  *    advances the iterator too.
  *  - rows returned by an [[emit]] function may themselves be reused
  *    buffers (the input row, one mutated `JoinedRow` per partition):
  *    the scan node unsafe-projects every row before anything downstream
  *    can buffer it. They must match the declared output schema in field
  *    order and internal types (see [[Bridge.toDF]]).
  */
final class PartitionPrefixScan private (frame: DataFrame) {

  val schema: StructType = frame.schema

  private lazy val rdd: RDD[InternalRow] = frame.queryExecution.toRdd

  /** Pass 1: one summary per partition, in partition order. */
  def summarize[S: ClassTag](f: Iterator[InternalRow] => S): Array[S] =
    rdd.mapPartitions(it => Iterator.single(f(it))).collect()

  /** Pass 2 as a frame: partition `pi` streams `f(seeds(pi), rows)`,
    * whose rows must match `outSchema`. Each action on the frame re-runs
    * pass 2 (over the same shuffle files). */
  def emit[T: ClassTag](seeds: Array[T], outSchema: StructType)(
      f: (T, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val bc = broadcastSeeds(seeds)
    Bridge.toDF(frame.sparkSession,
      rdd.mapPartitionsWithIndex((pi, it) => f(bc.value(pi), it)), outSchema)
  }

  /** Pass 2 as a reduction: `f(seeds(pi), rows)` per partition, collected
    * in partition order. */
  def fold[T: ClassTag, R: ClassTag](seeds: Array[T])(
      f: (T, Iterator[InternalRow]) => R): Array[R] = {
    val bc = broadcastSeeds(seeds)
    rdd.mapPartitionsWithIndex((pi, it) => Iterator.single(f(bc.value(pi), it)))
      .collect()
  }

  /** Entries past the partition count are never read, so an inclusive
    * `scanLeft` (whose last entry is the grand total) passes as is. */
  private def broadcastSeeds[T: ClassTag](seeds: Array[T]) = {
    require(seeds.length >= rdd.getNumPartitions, s"PartitionPrefixScan: " +
      s"${seeds.length} seeds for ${rdd.getNumPartitions} partitions")
    frame.sparkSession.sparkContext.broadcast(seeds)
  }
}

object PartitionPrefixScan {

  /** Scan `df` in `order`: range-partitioned into `numShufflePartitions`
    * ranges (fewer when the range sample has fewer distinct keys; some
    * may be empty), each sorted. Rows equal on all of `order` share one
    * range; a group keyed by a PREFIX of `order` can span ranges, so
    * its running state must ride the seeds (see [[RangeCum]]). */
  def sorted(df: DataFrame, order: Column*): PartitionPrefixScan = {
    val np = df.sparkSession.sessionState.conf.numShufflePartitions
    apply(df.repartitionByRange(np, order: _*).sortWithinPartitions(order: _*))
  }

  /** Scan `df` in its own partitioning and in-partition order. */
  def apply(df: DataFrame): PartitionPrefixScan = new PartitionPrefixScan(df)
}
