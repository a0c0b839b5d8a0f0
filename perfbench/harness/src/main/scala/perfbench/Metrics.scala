package perfbench

/** A reported figure: name, unit and which direction is better. */
final case class Metric(name: String, unit: String, better: String)

/** The metric catalogue. It mirrors `BENCHMARK.json`: every workload
  * reports every end-to-end metric in an untraced run and every per-layer
  * metric in a traced run; a layer that a workload does not exercise
  * reports 0 there (README.md has the metric -> layer -> workload map). */
object Metrics {
  private def lo(name: String, unit: String) = Metric(name, unit, "lower")
  private def hi(name: String, unit: String) = Metric(name, unit, "higher")

  val endToEnd: Seq[Metric] = Seq(
    lo("setup_s", "s"),
    lo("suite_s", "s"),
    lo("suite_geomean_s", "s"))

  val RawTables: Seq[String] = Seq("woonplaatsen", "gemeente_woonplaatsen",
    "openbare_ruimten", "nummers", "panden", "verblijfsobjecten", "ligplaatsen",
    "standplaatsen", "gemeenten", "provincies")
  val GeoTables: Seq[String] = Seq("panden", "ligplaatsen", "standplaatsen")
  val ExportVariants: Seq[String] = Seq("postcode", "all", "pc4", "pc5", "pc6")
  /** Graph queries reported one by one (short id -> query). */
  val GraphNamed: Seq[(String, String)] =
    Seq("x37" -> "x37_scc", "x30" -> "x30_ktruss")
  val Families: Seq[String] = Seq("functions", "llm", "relational", "streaming")

  val perLayer: Seq[Metric] =
    Seq(hi("import_addr_per_s", "addr/s"), lo("validate_s", "s"), lo("export_s", "s"),
      lo("warehouse_mb", "MB"), lo("peak_rss_mb", "MB"),
      lo("ingest.stage_s", "s"), lo("ingest.stage_mb", "MB"), lo("ingest.parse_s", "s"),
      lo("ingest.parse_cpu_s", "s"), lo("ingest.tasks", "count"), lo("ingest.gc_s", "s"),
      hi("ingest.raw_rows", "count"), lo("ingest.raw_mb", "MB")) ++
    RawTables.map(t => lo(s"ingest.parse_cpu_s.$t", "s")) ++
    Seq(lo("geo.ingest_cpu_s", "s"), lo("geo.queries_s", "s"),
      lo("curate.build_s", "s"), lo("curate.jobs", "count"), lo("curate.exec_cpu_s", "s"),
      lo("curate.shuffle_mb", "MB"), lo("curate.spill_mb", "MB"),
      hi("curate.rows_out", "count"),
      lo("validate.run_s", "s"), lo("validate.jobs", "count"), lo("validate.errors", "count")) ++
    ExportVariants.map(v => lo(s"export.${v}_s", "s")) ++
    Seq(hi("export.rows_out", "count"), lo("export.csv_mb", "MB"),
      lo("queries.plan_s", "s"), lo("queries.jobs", "count"), lo("queries.stages", "count"),
      lo("queries.tasks", "count"), lo("queries.exec_cpu_s", "s"), lo("queries.driver_s", "s"),
      hi("queries.core_util", "ratio"), lo("queries.shuffle_read_mb", "MB"),
      lo("queries.shuffle_write_mb", "MB"), lo("queries.spill_mb", "MB"),
      lo("queries.gc_s", "s"), lo("queries.release_s", "s"),
      lo("graph.jobs", "count"), lo("graph.driver_s", "s")) ++
    GraphNamed.flatMap { case (id, _) => Seq(lo(s"graph.${id}_s", "s"), lo(s"graph.${id}_jobs", "count")) } ++
    Families.flatMap(f => Seq(lo(s"$f.wall_s", "s"), lo(s"$f.exec_cpu_s", "s"), lo(s"$f.jobs", "count"))) ++
    Seq(lo("trace.overhead_s", "s"), lo("trace.overhead_frac", "ratio"))
}
