package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed interval. `parent` is the id of the span that caused it;
  * every span of one call carries that call's id in `call`. Times are
  * epoch milliseconds (the listener bus's clock). */
final case class Span(call: Int, id: String, parent: String, kind: String,
                      name: String, startMs: Long, endMs: Long)

/** Spark work billed to one call: jobs, stages and task metrics. */
final class CallWork {
  var jobs = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var resultBytes = 0L
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Listener for traced calls. Each traced call runs under the job tag
  * `perfbench-call-<id>`, so jobs a library function launches eagerly
  * (learn passes, collects, broadcasts) are billed to the call that
  * caused them. The listener is registered only while traced calls run;
  * its state is read after the bus has been drained. */
final class TraceListener extends SparkListener {
  import TraceListener._

  private val jobCall = mutable.Map.empty[Int, Int]
  private val stageCall = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  val work = mutable.Map.empty[Int, CallWork]
  val spans = mutable.ArrayBuffer.empty[Span]

  private def callOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").collectFirst {
        case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt })

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    callOf(e.properties).foreach { c =>
      jobCall(e.jobId) = c
      jobStart(e.jobId) = e.time
      e.stageIds.foreach { st => stageCall(st) = c; stageJob(st) = e.jobId }
      work.getOrElseUpdate(c, new CallWork).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobCall.remove(e.jobId).foreach { c =>
      spans += Span(c, s"job-${e.jobId}", s"call-$c", "job", s"job ${e.jobId}",
        jobStart.remove(e.jobId).getOrElse(e.time), e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    for (c <- stageCall.get(info.stageId); s <- info.submissionTime;
         t <- info.completionTime) {
      work.getOrElseUpdate(c, new CallWork).stageIntervals += ((s, t))
      spans += Span(c, s"stage-${info.stageId}.${info.attemptNumber()}",
        stageJob.get(info.stageId).fold(s"call-$c")(j => s"job-$j"), "stage", info.name, s, t)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (c <- stageCall.get(e.stageId); m <- Option(e.taskMetrics)) {
      val w = work.getOrElseUpdate(c, new CallWork)
      w.tasks += 1
      w.taskRunMs += m.executorRunTime
      w.taskCpuNs += m.executorCpuTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
      w.resultBytes += m.resultSize
    }
  }
}

object TraceListener {
  val TagPrefix = "perfbench-call-"

  /** Total length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (s, t) => (math.max(s, lo), math.min(t, hi)) }
      .filter { case (s, t) => t > s }.toSeq.sortBy(_._1).foreach { case (s, t) =>
        if (t > end) { total += t - math.max(s, end); end = t }
      }
    total
  }
}
