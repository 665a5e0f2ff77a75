package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one run.
  *
  * {{{
  *   graft.perfbench.Main --workload eda_small --seed 1 --seconds 10 --trace 0
  *     --cores 4 --data <tables root> --layers layers.tsv --digests digests.tsv
  *     --out result.json [--trace-out spans.jsonl]
  *     [--record digests.tsv --passes 2]
  * }}}
  *
  * Set-up runs [[SetupRounds]] times: each round starts a session and
  * runs its share of a warm-up pass over the workload's rows (every
  * third row, registry order, the same in every run); the first round
  * also pays JVM start. `setup_s` is the median round. The last
  * round's session then runs the rest of the rows once, untimed, so the
  * timed region holds no row's first call in its session (those ran up
  * to twice as long). The timed region runs whole passes over the
  * workload's rows, each pass in a seed-permuted order, starting another
  * only while it is expected to end within `seconds` of call time; at
  * least one. With
  * `--trace 1` every row runs twice per pass, once traced and once not
  * (alternating which goes first), so the per-layer numbers and the
  * tracing overhead come from the same run. */
object Main {
  val SetupRounds = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = args("cores").toInt
    val seed = args("seed").toLong
    val traced = args("trace") == "1"
    val seconds = args("seconds").toDouble
    val record = args.get("record")
    val fixedPasses = args.get("passes").map(_.toInt)
    val w = Workloads.all.find(_.name == args("workload"))
      .getOrElse(sys.error(s"unknown workload ${args("workload")}"))
    val rows = Workloads.rows(w, Workloads.readLayerMap(args("layers")),
      if (record.isDefined) Map.empty else Workloads.readDigests(args("digests")))
    require(record.isDefined || rows.forall(_.expected.isDefined),
      s"no recorded digest for ${rows.filter(_.expected.isEmpty).map(_.name).mkString(",")}")
    val dataDir = s"${args("data")}/${w.sf}"

    // set-up rounds: round 0 is measured from JVM start
    val setups = mutable.ArrayBuffer.empty[Double]
    var t0 = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L -
      (System.currentTimeMillis() * 1000000L - System.nanoTime())
    var spark: SparkSession = null
    var harness: Harness = null
    for (round <- 0 until SetupRounds) {
      if (round > 0) { spark.stop(); t0 = System.nanoTime() }
      spark = Session.local(cores, args("scratch"))
      harness = new Harness(spark, dataDir)
      rows.zipWithIndex.collect { case (r, i) if i % SetupRounds == round => r }
        .foreach(r => harness.call(r, -1, traced = false, record = false))
      setups += (System.nanoTime() - t0) / 1e9
    }
    // the timed session has run only the last round's rows: the others'
    // first call in a session (file listing, footers, generated code)
    // would otherwise land in the timed region
    rows.zipWithIndex.collect { case (r, i) if i % SetupRounds != SetupRounds - 1 => r }
      .foreach(r => harness.call(r, -1, traced = false, record = false))
    val host = new HostSpeed(spark, args("data"), cores)
    host.warm()
    harness = new Harness(spark, dataDir, Some(host))

    val heap = new HeapWatch
    val rng = new scala.util.Random(seed)
    // JVM activity inside the timed region, stamped into the result
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def jvmActivity = Seq(jit.getTotalCompilationTime / 1000.0,
      gcs.map(_.getCollectionTime).sum / 1000.0, codegen.getCount.toDouble)
    val activity0 = jvmActivity
    heap.active = true
    var pass = 0
    var spent = 0.0
    var last = 0.0
    // whole passes: another only while it is expected to end within
    // `seconds` of calls
    while (fixedPasses.fold(pass == 0 || spent + last <= seconds)(pass < _)) {
      val before = spent
      rng.shuffle(Seq.fill(w.repeats)(rows).flatten).zipWithIndex.foreach { case (r, i) =>
        val runs = if (!traced) Seq(false) else if ((i + pass) % 2 == 0) Seq(true, false) else Seq(false, true)
        runs.foreach { t =>
          spent += harness.call(r, pass, t).latency
        }
      }
      last = spent - before
      pass += 1
    }
    harness.settle() // a host-speed sample after the last call
    heap.active = false
    val activity = jvmActivity.zip(activity0).map { case (a, b) => a - b }
    val skips = graft.util.SkipMetrics.nonZero().values.sum

    record.foreach { path =>
      val byQuery = harness.records.groupBy(_.query)
      val lines = rows.map { r =>
        val ds = byQuery(r.name).flatMap(_.digest).distinct
        require(ds.size == 1, s"${r.name}: digest not repeat-stable or missing: $ds")
        s"${w.sf}\t${r.name}\t${ds.head.tsv}"
      }
      Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }
    val result = Report(w, seed, cores, traced, pass, setups.toSeq, harness,
      heap.peakBytes, skips, activity, host, args.getOrElse("commit", "unknown"))
    Files.writeString(Paths.get(args("out")), result)
    args.get("trace-out").filter(_ => traced).foreach { p =>
      Files.writeString(Paths.get(p), harness.listener.spans.map(Report.spanJson)
        .mkString("", "\n", "\n"))
    }
    spark.stop()
  }

}

/** The Spark session graft.Bench runs under, at local[cores], with its
  * scratch space inside the benchmark's build directory, and one change:
  * a generated-code cache large enough for a whole workload. At Spark's
  * default of 100 entries a 20-row pass evicts its own classes, so every
  * call re-ran Janino and the JIT compiled the fresh classes while the
  * call was timed (377 recompiles and 25 s of JIT time in a 17 s timed
  * pass on a 4-core VM), which made the warm-up moot and the timings
  * noisy. */
object Session {
  def local(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.codegen.cache.maxEntries", 4096)
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
