package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Host-speed references. This VM's speed drifts with its neighbours'
  * load, between runs and within one: the queries_per_s of identical
  * runs moved by 40% while steal time stayed near 1%, and the JIT
  * compiler, still busy in the timed region, slows the calls that run
  * early in it. So in every settle between timed calls (outside their
  * timed spans) the run samples two fixed pieces of work that use no
  * graft code, and scales its times to a reference host by the ratio of
  * a reference constant to a sample:
  *
  *  - wall: the wall time of a small Spark job (a TPC-H Q1-style
  *    aggregate over the sf0.01 `lineitem`, in a session of its own so
  *    that no rule graft registers applies to it). It pays the same
  *    planning, job launch and task scheduling as the workloads' calls,
  *    and so tracks their wall time. Each call's wall time is scaled by
  *    the geometric mean of the samples just before and just after it:
  *    over five runs of eda_small, that cut the run-to-run deviation of
  *    the calls' log latency from 9.5% to 2.8%.
  *  - cpu: the median thread CPU time of sorting a copy of a fixed
  *    array, on one thread per core at once. It tracks per-core speed,
  *    which the wall sample does not. CPU time is scaled by the run's
  *    median sample: over ten runs of eda_small, the quartile spread of
  *    cpu_s was 16% unscaled, 9% scaled call by call and 6% scaled by
  *    the run's median.
  *
  * A faster host gives factors > 1, so a scaled time reads what it would
  * on the reference host. */
final class HostSpeed(spark: SparkSession, dataRoot: String, parallelism: Int) {
  private val threads = ManagementFactory.getThreadMXBean
  private val bufs = Array.fill(parallelism)(new Array[Long](HostSpeed.data.length))
  private val session = spark.newSession()
  val wallSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
  val cpuSamples = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Times one sort in `buf`; allocates nothing, so it leaves no garbage
    * for the call that follows. */
  private def sortCpu(buf: Array[Long]): Double = {
    val t0 = threads.getCurrentThreadCpuTime
    System.arraycopy(HostSpeed.data, 0, buf, 0, buf.length)
    java.util.Arrays.sort(buf)
    (threads.getCurrentThreadCpuTime - t0) / 1e9
  }

  private def referenceJob(): Double = {
    val t0 = System.nanoTime()
    session.read.parquet(s"$dataRoot/sf0.01/lineitem.parquet")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_extendedprice"), avg("l_discount"), count(lit(1)))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One sample of each: the sort on every thread for about 30 ms (at
    * least once each; the median is kept), then the reference job.
    * Returns the sample's index. */
  def sample(): Int = {
    val until = System.nanoTime() + 30000000L
    val got = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
    val ts = bufs.map { b =>
      new Thread(() => { do got.add(sortCpu(b)) while (System.nanoTime() < until) })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    cpuSamples += Report.median(got.asScala.map(_.doubleValue).toSeq)
    wallSamples += referenceJob()
    wallSamples.size - 1
  }

  /** Runs both references until their code is warm, keeping no samples. */
  def warm(): Unit = {
    (1 to 5).foreach(_ => sample())
    wallSamples.clear()
    cpuSamples.clear()
  }

  /** The wall factor for the call between sample `i` and the next one
    * (sample `i` alone when it is the last). */
  def wallFactorAt(i: Int): Double = HostSpeed.WallReferenceS /
    (if (i + 1 < wallSamples.size) math.sqrt(wallSamples(i) * wallSamples(i + 1)) else wallSamples(i))

  /** The run's factors, over all its samples. */
  def wallFactor: Double = HostSpeed.WallReferenceS / Report.median(wallSamples.toSeq)
  def cpuFactor: Double = HostSpeed.CpuReferenceS / Report.median(cpuSamples.toSeq)
}

object HostSpeed {
  /** The median samples on the 4-core VM the benchmark was tuned on; any
    * constants work, these keep scaled times near measured ones. */
  val WallReferenceS = 0.165
  val CpuReferenceS = 0.028

  private val data: Array[Long] = {
    val r = new java.util.SplittableRandom(42)
    Array.fill(1 << 18)(r.nextLong())
  }
}
