package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.commons.math3.special.Beta

/** Turns one run's call records into the result file: the environment
  * stamp, the end-to-end metrics (untraced calls), the per-layer metrics
  * (traced calls, totals per pass), failures, and every call. */
object Report {

  /** Harrell-Davis estimate of the p-quantile: an average of all order
    * statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density, so it
    * moves far less between runs than the one or two calls nearest the
    * quantile do. */
  def quantile(sorted: Seq[Double], p: Double): Double = {
    val n = sorted.size
    if (n <= 1) sorted.headOption.getOrElse(0.0)
    else {
      def cdf(x: Double) = Beta.regularizedBeta(x, p * (n + 1), (1 - p) * (n + 1))
      sorted.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * sorted(i)).sum
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Calls that finished per second of call time, failed calls' time
    * included, each call's latency scaled by `scale`. */
  def queriesPerS(calls: Seq[CallRecord], scale: CallRecord => Double = _ => 1.0): Double = {
    val t = calls.map(c => c.latency * scale(c)).sum
    if (t > 0) calls.count(_.ok) / t else 0.0
  }

  /** End-to-end metrics over untraced calls; `passes` scales per-run
    * totals to one pass. Times are scaled to the reference host
    * ([[HostSpeed]]): each call's wall time by `wall`, set-up by the
    * run's `wallFactor` and CPU time by its `cpuFactor` (factors of 1.0
    * give them as measured). */
  def endToEnd(calls: Seq[CallRecord], passes: Int, setups: Seq[Double], peakHeapBytes: Long,
               wall: CallRecord => Double, wallFactor: Double,
               cpuFactor: Double): Seq[(String, Double, String)] = {
    val lat = calls.filter(_.ok).map(c => c.latency * wall(c)).sorted
    Seq(
      ("setup_s", median(setups) * wallFactor, "s"),
      ("queries_per_s", queriesPerS(calls, wall), "1/s"),
      ("latency_p50_s", quantile(lat, 0.5), "s"),
      ("latency_p90_s", quantile(lat, 0.9), "s"),
      ("cpu_s", calls.map(_.cpu).sum / passes * cpuFactor, "s"),
      ("peak_live_heap_mb", peakHeapBytes / 1048576.0, "MB"),
      ("failed_frac", calls.count(!_.ok).toDouble / calls.size.max(1), "ratio"))
  }

  /** Per-layer totals per pass over traced calls. */
  def perLayer(calls: Seq[CallRecord], work: collection.Map[Int, CallWork],
               passes: Int, cores: Int): Seq[(String, Double, String)] = {
    Workloads.layers.flatMap { layer =>
      val cs = calls.filter(_.layer == layer)
      val ws = cs.map(c => c -> work.getOrElse(c.id, new CallWork))
      def total(f: ((CallRecord, CallWork)) => Double): Double = ws.map(f).sum / passes
      Seq(
        ("calls", total(_ => 1.0), "count"),
        ("wall_s", total(_._1.latency), "s"),
        ("build_s", total(_._1.build), "s"),
        ("driver_gap_s", total { case (c, w) =>
          c.latency - TraceListener.covered(w.stageIntervals, c.startMs, c.endMs) / 1000.0 }, "s"),
        ("jobs", total(_._2.jobs.toDouble), "count"),
        ("tasks", total(_._2.tasks.toDouble), "count"),
        ("task_cpu_s", total(_._2.taskCpuNs / 1e9), "s"),
        ("slot_idle_s", total { case (c, w) =>
          math.max(0.0, (cores * TraceListener.covered(w.stageIntervals, c.startMs, c.endMs)
            - w.taskRunMs) / 1000.0) }, "s"),
        ("shuffle_bytes", total(_._2.shuffleBytes.toDouble), "bytes"),
        ("spill_bytes", total(_._2.spillBytes.toDouble), "bytes"),
        ("result_bytes", total(_._2.resultBytes.toDouble), "bytes"),
        ("failed", total(p => if (p._1.ok) 0.0 else 1.0), "count"))
        .map { case (m, v, u) => (s"$layer.$m", v, u) }
    }
  }

  def apply(w: Workload, seed: Long, cores: Int, traced: Boolean, passes: Int,
            setups: Seq[Double], h: Harness, peakHeapBytes: Long, skips: Long,
            jvmActivity: Seq[Double], host: HostSpeed, commit: String): String = {
    val calls = h.records.toSeq
    val untraced = calls.filterNot(_.traced)
    // every recorded call follows a settle, so it has a host sample
    val wall: CallRecord => Double = c => host.wallFactorAt(c.hostSample)
    val e2e = endToEnd(untraced, passes, setups, peakHeapBytes, wall, host.wallFactor, host.cpuFactor)
    val layer =
      if (!traced) Nil
      else {
        val withTrace = calls.filter(_.traced)
        val (qt, qu) = (queriesPerS(withTrace, wall), queriesPerS(untraced, wall))
        perLayer(withTrace, h.listener.work, passes, cores) ++ Seq(
          ("skips", skips.toDouble, "count"),
          e2e.find(_._1 == "failed_frac").get,
          ("tracing.queries_per_s_delta", qu - qt, "1/s"),
          ("tracing.overhead_pct", if (qu > 0) 100.0 * (qu - qt) / qu else 0.0, "%"))
      }
    val rt = ManagementFactory.getRuntimeMXBean
    val env = Seq(
      "workload" -> str(w.name), "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "nproc" -> cores.toString, "master" -> str(s"local[$cores]"),
      "shuffle_partitions" -> cores.toString,
      "xmx" -> str(rt.getInputArguments.asScala.filter(_.startsWith("-Xmx")).mkString(" ")),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory.toString,
      "jvm" -> str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"),
      "spark" -> str(org.apache.spark.SPARK_VERSION),
      "commit" -> str(commit), "sf_dir" -> str(w.sf), "passes" -> passes.toString,
      "setup_rounds_s" -> setups.mkString("[", ",", "]"),
      "timed_jit_compile_s" -> num(jvmActivity(0)), "timed_gc_s" -> num(jvmActivity(1)),
      "timed_codegen_compiles" -> num(jvmActivity(2)),
      "host_reference_wall_s" -> num(median(host.wallSamples.toSeq)),
      "host_wall_factor" -> num(host.wallFactor),
      "host_reference_cpu_s" -> num(median(host.cpuSamples.toSeq)),
      "host_cpu_factor" -> num(host.cpuFactor))
    def metrics(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      s"${str(n)}:{${str("value")}:${num(v)},${str("unit")}:${str(u)}}" }.mkString("{", ",", "}")
    val failures = calls.filterNot(_.ok).map(c =>
      s"{${str("query")}:${str(c.query)},${str("layer")}:${str(c.layer)},${str("error")}:${str(c.failure.get)}}")
    val callJson = calls.map(c => Seq("id" -> c.id.toString, "pass" -> c.pass.toString,
      "query" -> str(c.query), "layer" -> str(c.layer), "traced" -> c.traced.toString,
      "latency_s" -> num(c.latency), "build_s" -> num(c.build), "cpu_s" -> num(c.cpu),
      "host_wall_factor" -> num(wall(c)),
      "ok" -> c.ok.toString).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"))
    Seq(
      "env" -> env.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"),
      "attempted" -> calls.size.toString,
      "failed" -> calls.count(!_.ok).toString,
      "end_to_end" -> metrics(e2e),
      "end_to_end_as_measured" -> metrics(endToEnd(untraced, passes, setups, peakHeapBytes, _ => 1.0, 1.0, 1.0)),
      "per_layer" -> metrics(layer),
      "failures" -> failures.mkString("[", ",", "]"),
      "calls" -> callJson.mkString("[", ",", "]"))
      .map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",\n", "}\n")
  }

  def spanJson(s: Span): String =
    Seq("call" -> s.call.toString, "id" -> str(s.id), "parent" -> str(s.parent),
      "kind" -> str(s.kind), "name" -> str(s.name), "start_ms" -> s.startMs.toString,
      "end_ms" -> s.endMs.toString).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
