package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

/** Order-insensitive digest of a result: its row count and the sum of
  * one 64-bit hash per row over every column. */
final case class Digest(rows: Long, hash: BigInt) {
  def tsv: String = s"$rows\t$hash"
}

object Digest {
  /** Observed aggregate that computes the digest inside the same write
    * that executes the result, so checking it costs no second run. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match { // hashing maps is refused; their JSON is stable
        case _: MapType => to_json(col(s"`${f.name}`"))
        case _          => col(s"`${f.name}`")
      }
    }
    val rowHash: Column =
      if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(rowHash.cast(DecimalType(38, 0))), lit(BigDecimal(0))).as("hash"))
  }

  def of(obs: Observation): Digest = {
    val m = obs.get
    Digest(m("rows").asInstanceOf[Long],
      BigInt(m("hash").asInstanceOf[java.math.BigDecimal].toBigIntegerExact))
  }
}

/** One timed call. `failure` is the exception class for a call that
  * threw, "WrongResult" for a digest mismatch; such a call never counts
  * as a success. Times are seconds; `startMs`/`endMs` are epoch ms.
  * `hostSample` indexes the [[HostSpeed]] sample taken in the settle
  * just before the call, -1 when none was. */
final case class CallRecord(id: Int, pass: Int, query: String, layer: String,
                            traced: Boolean, latency: Double, build: Double,
                            cpu: Double, startMs: Long, endMs: Long,
                            digest: Option[Digest], failure: Option[String],
                            hostSample: Int = -1) {
  def ok: Boolean = failure.isEmpty
}

/** Closed loop, one client: each call starts after the previous one
  * ended. A call is timed from just before the query function is invoked
  * (so graft's eager driver-side work counts) until a noop-sink write of
  * the returned DataFrame completes. */
final class Harness(spark: SparkSession, dataDir: String, host: Option[HostSpeed] = None) {
  private val sc = spark.sparkContext
  private val threads = ManagementFactory.getThreadMXBean
  private var nextId = 0
  val records = mutable.ArrayBuffer.empty[CallRecord]
  val listener = new TraceListener

  /** CPU seconds of the JVM's own threads (driver, task and Spark service
    * threads). JIT-compiler and GC threads are not among them: their CPU
    * follows code generation and heap state more than the query's work,
    * and made process CPU swing by a fifth between identical runs. */
  private def appCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).toMap

  /** Between calls, outside the timed region, exactly as graft.Bench
    * isolates its rows: drop cached frames, persisted RDDs and the
    * operator cache registry, then GC and let the cleaner settle for
    * 150 ms. With a HostSpeed, sampling the host's speed (about 0.2 s)
    * takes the place of the sleep; returns that sample's index, else -1. */
  def settle(gc: Boolean = true): Int = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    graft.util.CacheRegistry.clear()
    if (!gc) -1
    else {
      System.gc()
      host match {
        case Some(h) => h.sample()
        case None    => Thread.sleep(150); -1
      }
    }
  }

  /** Runs `row` once. Traced calls run under the call's job tag with the
    * trace listener registered; the bus is drained before returning.
    * Unrecorded (warm-up) calls skip the GC settle. */
  def call(row: Row, pass: Int, traced: Boolean, record: Boolean = true): CallRecord = {
    val hostSample = settle(gc = record)
    val id = nextId
    nextId += 1
    val tag = TraceListener.TagPrefix + id
    if (traced) { sc.addSparkListener(listener); sc.addJobTag(tag) }
    val cpu0 = appCpu()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val outcome: Either[String, Digest] =
      try {
        val df = row.fn(spark, dataDir)
        t1 = System.nanoTime()
        val obs = Observation("digest")
        Digest.observed(df, obs).write.format("noop").mode("overwrite").save()
        Right(Digest.of(obs))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${row.name} (${row.layer}) failed: $e")
          Left(e.getClass.getName)
      }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val cpu = appCpu().map { case (id, t) => t - cpu0.getOrElse(id, 0L) }.filter(_ > 0).sum
    if (traced) {
      sc.removeJobTag(tag)
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    val failure = outcome match {
      case Left(cls) => Some(cls)
      case Right(d) if row.expected.exists(_ != d) =>
        System.err.println(s"[perfbench] ${row.name} wrong result: $d, expected ${row.expected.get}")
        Some("WrongResult")
      case _ => None
    }
    val rec = CallRecord(id, pass, row.name, row.layer, traced, (t2 - t0) / 1e9,
      (if (t1 > t0) t1 - t0 else t2 - t0) / 1e9, cpu / 1e9,
      startMs, endMs, outcome.toOption, failure, hostSample)
    if (traced) listener.synchronized {
      // a job belongs to the build child when the query function launched
      // it eagerly, otherwise to the exec child (the noop write)
      val buildEnd = startMs + (rec.build * 1000).toLong
      val spans = listener.spans
      spans.indices.foreach { i =>
        val sp = spans(i)
        if (sp.call == id && sp.kind == "job")
          spans(i) = sp.copy(parent = if (sp.startMs < buildEnd) s"build-$id" else s"exec-$id")
      }
      spans += Span(id, s"call-$id", "", "call", row.name, startMs, endMs)
      spans += Span(id, s"build-$id", s"call-$id", "build", row.name, startMs, buildEnd)
      spans += Span(id, s"exec-$id", s"call-$id", "exec", row.name, buildEnd, endMs)
    }
    if (record) records += rec
    rec
  }
}

/** Tracks the largest heap still in use after any GC while `active`. */
final class HeapWatch {
  @volatile var active = false
  @volatile var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: javax.management.NotificationEmitter =>
      emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (active && n.getType ==
            com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > peakBytes) peakBytes = used }
        }
      }, null, null)
    case _ => ()
  }
}
