package perfbench

import graft.{BagScaleProbe, Config, Pipeline, Validate}
import graft.curate.Adressen
import graft.curate.Adressen.BagTables
import graft.ingest.BagZip
import org.apache.spark.sql.DataFrame

import java.io.File
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Expected outputs, recorded from the program at the commit that added
  * the benchmark (`fingerprints.json`). */
final case class Expected(queries: Map[String, Fingerprint], unstable: Map[String, String],
    bag: Map[String, String])

/** A named workload. `prepare` builds inputs outside the measured set-up;
  * `setup` runs inside it; `pass` is one timed closed-loop pass. */
trait Workload {
  def name: String
  def prepare(r: Run): Unit = ()
  def setup(r: Run): Unit
  def pass(r: Run, i: Int): Seq[OpRun]
  /** Timed passes a run makes at least, whatever `--seconds` says: a
    * fixed count keeps every run measuring the same stage of JIT warm-up. */
  def minPasses: Int
  /** What `--record` writes into `fingerprints.json` for this workload. */
  def recorded: Map[String, Any]
  /** Per-layer figures from the untraced and the traced passes. */
  def layers(untraced: Seq[Seq[OpRun]], traced: Seq[Seq[OpRun]], cores: Int): Map[String, Double]
}

object Workloads {

  /** Mean over passes of `f` applied to each pass. */
  private[perfbench] def meanOver(passes: Seq[Seq[OpRun]])(f: Seq[OpRun] => Double): Double =
    if (passes.isEmpty) 0.0 else passes.map(f).sum / passes.length

  private[perfbench] def sumOf(ops: Seq[OpRun], pick: OpRun => Boolean)(f: Counters => Double): Double =
    ops.filter(pick).flatMap(_.counters).map(f).sum

  private[perfbench] def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  private[perfbench] def rmrf(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }
}

/** The reference's own flow on a synthetic LVBAG extract: stage -> raw
  * parquet -> curated adressen -> validate -> the five CSV exports. Like
  * the program's import and export commands, each run pays its own JVM
  * warm-up: set-up is the session alone, and the first pass is cold. */
final class BagEtl(n: Int, expected: Option[Expected]) extends Workload {
  import Workloads._

  val name = "bag_etl"
  private val shape = BagScaleProbe.Shape(n)
  private val cfg = Config(asOfDate = "2024-06-30")
  private var zip, csv = ""
  private var variants = Metrics.ExportVariants
  private val passFacts = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
  private var lastRecorded = Map.empty[String, Any]

  /** The thresholds the program's own ingest probe applies to this shape. */
  private val thresholds = Validate.Thresholds(
    minAdressen = shape.expectedAdressen,
    minAdressenMetPand = shape.n.toLong - shape.nLig - shape.nSta - shape.n / 50,
    minLigplaatsen = shape.nLig,
    minStandplaatsen = shape.nSta,
    minOpenbareRuimten = shape.nStreets,
    minWoonplaatsen = shape.nWpl,
    minGemeenten = shape.nGem + 1,
    exactProvincies = shape.nProvincies)

  override def prepare(r: Run): Unit = {
    val (z, c) = BagScaleProbe.generate(s"${r.workDir}/extract", n)
    zip = z; csv = c
    variants = new Random(r.seed).shuffle(Metrics.ExportVariants)
  }

  def setup(r: Run): Unit = ()
  val minPasses = 1

  def pass(r: Run, i: Int): Seq[OpRun] = {
    val spark = r.spark
    val dir = new File(s"${r.workDir}/pass$i")
    val wh = s"$dir/warehouse"
    var xmlDirs = Map.empty[String, String]
    var raw: BagTables = null
    var adressen: DataFrame = null
    var checks = Seq.empty[Validate.Check]
    val ops = r.spans(s"$name.pass") {
      val imp = r.spans("import") {
        Seq(
          r.op("ingest.stage", "ingest") { xmlDirs = BagZip.stage(zip, s"$dir/staging") },
          r.op("ingest.parse", "ingest") {
            raw = Pipeline.materialize(spark, Pipeline.rawTables(spark, xmlDirs, csv, cfg), s"$wh/raw")
          },
          r.op("curate.build", "curate") {
            Adressen.curated(raw, cfg).write.mode("overwrite").parquet(s"$wh/adressen")
            Adressen.releaseCaches(spark)
            adressen = spark.read.parquet(s"$wh/adressen")
          })
      }
      val v = r.op("validate.run", "validate") {
        checks = Validate.run(adressen, raw, thresholds, goldenChecks = shape.planted)
      }
      var opened: (BagTables, DataFrame) = null
      val ex = r.spans("export") {
        r.op("export.open", "export", step = "export") { opened = Pipeline.openWarehouse(spark, wh) } +:
          variants.map(x => r.op(s"export.$x", "export", step = "export") {
            Pipeline.export(opened._2, opened._1, x, s"$dir/export/$x")
          })
      }
      imp ++ (v +: ex)
    }
    verify(r, dir, checks, adressen)
    rmrf(dir)
    ops
  }

  /** Output checks of one pass (untimed), each counted as an operation. */
  private def verify(r: Run, dir: File, checks: Seq[Validate.Check], adressen: DataFrame): Unit = {
    val spark = r.spark
    val fp = scala.util.Try(Fingerprint.of(adressen.collect().iterator)).toOption
    r.check("adressen rows", fp.exists(_.rows == shape.expectedAdressen),
      s"${fp.map(_.rows)} != ${shape.expectedAdressen}")
    val errors = Validate.errorCount(checks)
    r.check("validate errors", checks.nonEmpty && errors == 0,
      checks.filter(_.isError).map(_.name).mkString("; "))
    val exportRows = variants.map { v =>
      v -> scala.util.Try(spark.read.option("header", "true").csv(s"$dir/export/$v").count()).getOrElse(-1L)
    }.toMap
    val got = Map("adressen_rows" -> fp.map(_.rows.toString).getOrElse("-1"),
      "adressen_hash" -> fp.map(_.hex).getOrElse("")) ++
      exportRows.map { case (v, c) => s"export_rows.$v" -> c.toString }
    expected.foreach { e =>
      got.foreach { case (k, v) =>
        r.check(s"bag_etl $k", e.bag.get(k).contains(v), s"$v != ${e.bag.getOrElse(k, "unrecorded")}")
      }
    }
    lastRecorded = Map("n" -> n) ++ got
    passFacts += Map(
      "errors" -> errors.toDouble,
      "adressen" -> fp.map(_.rows.toDouble).getOrElse(0.0),
      "export_rows" -> exportRows.values.filter(_ > 0).sum.toDouble,
      "warehouse_mb" -> (dirBytes(new File(s"$dir/warehouse/raw")) +
        dirBytes(new File(s"$dir/warehouse/adressen"))) / 1e6,
      "stage_mb" -> dirBytes(new File(s"$dir/staging")) / 1e6,
      "csv_mb" -> dirBytes(new File(s"$dir/export")) / 1e6)
  }

  def recorded: Map[String, Any] = lastRecorded

  def layers(untraced: Seq[Seq[OpRun]], traced: Seq[Seq[OpRun]], cores: Int): Map[String, Double] = {
    def wallU(p: String => Boolean): Double =
      Stats.median(untraced.map(_.filter(o => p(o.name)).map(_.wallS).sum))
    def tr(p: String => Boolean)(f: Counters => Double): Double =
      meanOver(traced)(ops => sumOf(ops, o => p(o.name))(f))
    def fact(k: String): Double = Stats.median(passFacts.map(_(k)).toSeq)
    val imp = Set("ingest.stage", "ingest.parse", "curate.build")
    val parse = Set("ingest.parse")
    val curate = Set("curate.build")
    val validate = Set("validate.run")
    Map(
      "import_addr_per_s" -> fact("adressen") / wallU(imp),
      "validate_s" -> wallU(validate),
      "export_s" -> wallU(_.startsWith("export.")),
      "warehouse_mb" -> fact("warehouse_mb"),
      "ingest.stage_s" -> tr(Set("ingest.stage"))(_.wallS),
      "ingest.stage_mb" -> fact("stage_mb"),
      "ingest.parse_s" -> tr(parse)(_.wallS),
      "ingest.parse_cpu_s" -> tr(parse)(_.execCpuS),
      "ingest.tasks" -> tr(parse)(_.tasks.toDouble),
      "ingest.gc_s" -> tr(parse)(_.gcS),
      "ingest.raw_rows" -> tr(parse)(_.recordsWritten.toDouble),
      "ingest.raw_mb" -> tr(parse)(_.bytesWritten / 1e6),
      "geo.ingest_cpu_s" -> tr(parse)(c => Metrics.GeoTables.map(c.cpuByTable.getOrElse(_, 0.0)).sum),
      "curate.build_s" -> tr(curate)(_.wallS),
      "curate.jobs" -> tr(curate)(_.jobs.toDouble),
      "curate.exec_cpu_s" -> tr(curate)(_.execCpuS),
      "curate.shuffle_mb" -> tr(curate)(_.shuffleWrite / 1e6),
      "curate.spill_mb" -> tr(curate)(_.spill / 1e6),
      "curate.rows_out" -> tr(curate)(_.recordsWritten.toDouble),
      "validate.run_s" -> tr(validate)(_.wallS),
      "validate.jobs" -> tr(validate)(_.jobs.toDouble),
      "validate.errors" -> fact("errors"),
      "export.rows_out" -> fact("export_rows"),
      "export.csv_mb" -> fact("csv_mb")) ++
      Metrics.RawTables.map(t => s"ingest.parse_cpu_s.$t" -> tr(parse)(_.cpuByTable.getOrElse(t, 0.0))) ++
      Metrics.ExportVariants.map(v => s"export.${v}_s" -> tr(Set(s"export.$v"))(_.wallS))
  }
}

/** A fixed list of registered queries, each forced with a noop write and
  * followed by a resource release, as the program's bench does. */
final class QuerySuite(val name: String, list: Seq[(String, String)], dataDir: String,
    expected: Option[Expected],
    registry: Map[String, graft.queries.Queries.Q] = graft.queries.Queries.all.toMap)
    extends Workload {
  import Workloads._

  val minPasses = 2
  private var order = list
  private var fingerprints = Map.empty[String, Fingerprint]

  override def prepare(r: Run): Unit = {
    val unknown = list.map(_._1).filterNot(registry.contains)
    require(unknown.isEmpty, s"queries not registered: ${unknown.mkString(", ")}")
    order = new Random(r.seed).shuffle(list)
  }

  /** Runs every query once untimed, collecting its rows to check them
    * against the recorded fingerprint. The first executions run side by
    * side, one session per thread: the run's own session and new ones
    * beside it, which share the JVM's JIT and code-generation caches but
    * not their SQL conf (the loop queries change it while they run).
    * Tracked resources are released once all of them are done. */
  def setup(r: Run): Unit = {
    val threads = math.max(1, math.min(order.length, Runtime.getRuntime.availableProcessors()))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val free = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.SparkSession](
      (r.spark +: Seq.fill(threads - 1)(r.spark.newSession())).asJava)
    val session = ThreadLocal.withInitial[org.apache.spark.sql.SparkSession](() => free.poll())
    val runs = order.map { case (q, _) =>
      q -> pool.submit(() => scala.util.Try(Fingerprint.of(registry(q)(session.get, dataDir).collect().iterator)))
    }
    val fps = try runs.map { case (q, f) => q -> f.get } finally pool.shutdown()
    graft.SessionResources.release(r.spark)
    fps.foreach { case (q, fp) =>
      fp.foreach(f => fingerprints += q -> f)
      val want = expected.flatMap(_.queries.get(q))
      // a query whose hash does not repeat run to run is checked on rows only
      val stableHash = !expected.exists(_.unstable.contains(q))
      val ok = fp.toOption.exists(f => expected.isEmpty ||
        want.exists(w => w.rows == f.rows && (!stableHash || w.hash == f.hash)))
      r.check(s"$q fingerprint", ok, fp.fold(e => s"threw ${e.getMessage}",
        f => s"${f.rows}/${f.hex} != ${want.fold("unrecorded")(w => s"${w.rows}/${w.hex}")}"))
    }
  }

  def pass(r: Run, i: Int): Seq[OpRun] = r.spans(s"$name.pass") {
    order.map { case (q, layer) =>
      r.op(q, layer, release = true) {
        registry(q)(r.spark, dataDir).write.format("noop").mode("overwrite").save()
      }
    }
  }

  def recorded: Map[String, Any] =
    fingerprints.map { case (q, f) => q -> Map("rows" -> f.rows, "hash" -> f.hex) }

  def layers(untraced: Seq[Seq[OpRun]], traced: Seq[Seq[OpRun]], cores: Int): Map[String, Double] = {
    def tr(p: OpRun => Boolean)(f: Counters => Double): Double = meanOver(traced)(ops => sumOf(ops, p)(f))
    def inLayer(l: String)(o: OpRun) = o.layer == l
    val all: OpRun => Boolean = _ => true
    val wall = tr(all)(_.wallS)
    val cpu = tr(all)(_.execCpuS)
    Map(
      "queries.plan_s" -> tr(all)(_.planS),
      "queries.jobs" -> tr(all)(_.jobs.toDouble),
      "queries.stages" -> tr(all)(_.stages.toDouble),
      "queries.tasks" -> tr(all)(_.tasks.toDouble),
      "queries.exec_cpu_s" -> cpu,
      "queries.driver_s" -> tr(all)(_.driverS),
      "queries.core_util" -> (if (wall > 0) cpu / (wall * cores) else 0.0),
      "queries.shuffle_read_mb" -> tr(all)(_.shuffleRead / 1e6),
      "queries.shuffle_write_mb" -> tr(all)(_.shuffleWrite / 1e6),
      "queries.spill_mb" -> tr(all)(_.spill / 1e6),
      "queries.gc_s" -> tr(all)(_.gcS),
      "queries.release_s" -> meanOver(traced)(_.map(_.releaseS).sum),
      "graph.jobs" -> tr(inLayer("graph"))(_.jobs.toDouble),
      "graph.driver_s" -> tr(inLayer("graph"))(_.driverS),
      "geo.queries_s" -> tr(inLayer("geo"))(_.wallS)) ++
      Metrics.GraphNamed.flatMap { case (id, q) =>
        Seq(s"graph.${id}_s" -> tr(_.name == q)(_.wallS), s"graph.${id}_jobs" -> tr(_.name == q)(_.jobs.toDouble))
      } ++
      Metrics.Families.flatMap { f =>
        Seq(s"$f.wall_s" -> tr(inLayer(f))(_.wallS), s"$f.exec_cpu_s" -> tr(inLayer(f))(_.execCpuS),
          s"$f.jobs" -> tr(inLayer(f))(_.jobs.toDouble))
      }
  }
}

object QuerySuite {
  /** Fixpoint (loop) queries: strongly connected components, k-truss and
    * label propagation. */
  val GraphLoops: Seq[(String, String)] =
    Seq("x37_scc", "x30_ktruss", "x28_label_prop").map(_ -> "graph")

  /** One-shot queries with few loop rounds; the layer each one exercises. */
  val QueryMix: Seq[(String, String)] = Seq(
    "p05_geo_rd_to_wgs84" -> "geo", "p13_spatial_neighbors" -> "geo", "p14_polygon_census" -> "geo",
    "s23_merge_apply" -> "relational", "d11_edit_distance" -> "llm",
    "v02_cosine_pairs" -> "functions", "st15_decontaminate" -> "streaming")
}
