package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{QueriesCore, QueriesDedup, QueriesEvents, QueryDef}

/** One registry row as the benchmark runs it. `expected` is the
  * recorded output digest; None only while digests are being recorded. */
final case class Row(name: String, layer: String,
                     fn: (SparkSession, String) => DataFrame,
                     expected: Option[Digest])

/** A workload: the bench rows the layer map assigns to it (drawn from
  * the core, dedup and events registry tiers), run over the generated
  * tables at one scale factor, each row `repeats` times per pass. */
final case class Workload(name: String, sf: String, repeats: Int)

/** One line of `perfbench/layers.tsv`. */
final case class MapRow(tier: String, query: String, layer: String, workload: String)

object Workloads {
  // dedup_events runs each of its few heavy rows twice per pass, so a
  // pass holds about as many latency samples as eda_small's. Running
  // eda_small's rows twice as well halved its p50 and p90 spreads, but
  // made a run last up to 74 s, too long for the benchmark's time limit.
  val all: Seq[Workload] = Seq(
    Workload("eda_small", "sf0.01", repeats = 1),
    Workload("dedup_events", "sf0.1", repeats = 2))

  /** Layers are graft modules; a row belongs to the module whose public
    * function it calls (`perfbench/layers.tsv`). */
  val layers: Seq[String] = Seq("agg", "clean", "strata", "scale", "eval",
    "events", "joins", "pipeline.Dedup", "pipeline", "other")

  /** Bench rows of each registry tier the layer map covers. */
  def tierRows(tier: String): Seq[QueryDef] = (tier match {
    case "core"   => QueriesCore.defs
    case "dedup"  => QueriesDedup.defs
    case "events" => QueriesEvents.defs
    case other    => sys.error(s"unknown tier $other")
  }).filterNot(_.gateOnly)

  /** `tier \t query \t layer \t workload` lines; '#' starts a comment. */
  def readLayerMap(path: String): Seq[MapRow] =
    readTsv(path).map { case Array(t, q, l, w) => MapRow(t, q, l, w) }

  /** `sf \t query \t rows \t hash` lines. */
  def readDigests(path: String): Map[(String, String), Digest] =
    readTsv(path).map { case Array(sf, q, n, h) =>
      (sf, q) -> Digest(n.toLong, BigInt(h)) }.toMap

  private def readTsv(path: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).toVector
    finally src.close()
  }

  /** Problems that make a tier's layer map unusable: a bench row of the
    * tier with no layer, a mapped row that is not a bench row of the
    * tier, a row mapped twice, or an unknown layer or workload. Empty
    * when the map is sound. */
  def mapProblems(tier: String, map: Seq[MapRow]): Seq[String] = {
    val mapped = map.filter(_.tier == tier)
    val names = mapped.map(_.query)
    val bench = tierRows(tier).map(_.name)
    bench.filterNot(names.toSet).map(q => s"$tier row $q has no layer") ++
      names.filterNot(bench.toSet).map(q => s"$tier map row $q is not a bench row") ++
      names.groupBy(identity).collect { case (q, v) if v.size > 1 => s"$tier row $q mapped twice" } ++
      mapped.filterNot(m => layers.contains(m.layer)).map(m => s"$tier row ${m.query} has unknown layer ${m.layer}") ++
      mapped.filterNot(m => m.workload == "-" || all.exists(_.name == m.workload))
        .map(m => s"$tier row ${m.query} has unknown workload ${m.workload}")
  }

  def rows(w: Workload, map: Seq[MapRow], digests: Map[(String, String), Digest]): Seq[Row] = {
    val problems = map.map(_.tier).distinct.flatMap(mapProblems(_, map))
    require(problems.isEmpty, problems.mkString("; "))
    map.filter(_.workload == w.name).map { m =>
      val d = tierRows(m.tier).find(_.name == m.query).get
      Row(d.name, m.layer, d.fn, digests.get((w.sf, d.name)))
    }
  }
}
