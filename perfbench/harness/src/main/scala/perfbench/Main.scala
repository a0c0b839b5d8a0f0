package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark process: one workload, one seed, one closed-loop client.
  *
  *   perfbench.Main --workload <bag_etl|graph_loops|query_mix> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir> --data <dir> --cores <n>
  *     --fingerprints <file> --out <dir> [--git-sha <sha>] [--record <file>]
  *
  * Prints the full run record as one JSON line, then, as the last line,
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (untraced) or the per-layer metrics (traced). `--record`
  * writes the observed output fingerprints instead of checking them. */
object Main {
  private val om = new ObjectMapper()

  /** Addresses in the synthetic extract of `bag_etl`. */
  val BagAddresses = 21000

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, data: String, cores: Int, fingerprints: String, out: String,
      gitSha: String, record: Option[String])

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("work"), get("data"), get("cores").toInt, get("fingerprints"), get("out"),
      kv.getOrElse("git-sha", "unknown"), kv.get("record"))
  }

  private def loadavg(): String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .trim.split("\\s+").take(3).mkString(" ")).getOrElse("")

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get).getOrElse(0.0)

  private def readExpected(path: String): Option[Expected] = {
    val f = new File(path)
    if (!f.isFile) None
    else {
      val root = om.readTree(f)
      def obj(k: String) = Option(root.get(k)).map(_.fields.asScala.map(e => e.getKey -> e.getValue).toMap)
        .getOrElse(Map.empty)
      Some(Expected(
        queries = obj("queries").map { case (q, n) =>
          q -> Fingerprint(n.get("rows").asLong, java.lang.Long.parseUnsignedLong(n.get("hash").asText, 16))
        },
        unstable = obj("unstable").map { case (q, n) => q -> n.asText },
        bag = obj("bag_etl").map { case (k, n) => k -> n.asText }))
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ok = try { run(a); true }
    catch { case e: Throwable => e.printStackTrace(); false }
    System.exit(if (ok) 0 else 1)
  }

  /** Progress line on stderr, stamped with the JVM's uptime. */
  private def note(msg: String): Unit = System.err.println(
    f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s $msg")

  private def run(a: Args): Unit = {
    note(s"start ${a.workload} seed=${a.seed}")
    val expected = if (a.record.isDefined) None else readExpected(a.fingerprints)
    val workload: Workload = a.workload match {
      case "bag_etl" => new BagEtl(BagAddresses, expected)
      case "graph_loops" => new QuerySuite("graph_loops", QuerySuite.GraphLoops, a.data, expected)
      case "query_mix" => new QuerySuite("query_mix", QuerySuite.QueryMix, a.data, expected)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val load0 = loadavg()
    val runId = s"${a.workload}-${a.seed}-${System.currentTimeMillis()}"
    val spans = new Spans(runId, enabled = a.trace)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val r = new Run(spark, a.work, a.seed, spans)
    val sessionS = (System.nanoTime() - t0) / 1e9
    // extract generation is preparation, not set-up
    workload.prepare(r)
    note(f"session up in $sessionS%.2f s")
    val t1 = System.nanoTime()
    spans("setup")(workload.setup(r))
    val setupS = sessionS + (System.nanoTime() - t1) / 1e9
    note(f"set-up done: $setupS%.2f s")

    if (a.record.isDefined) {
      // query fingerprints come from set-up; the flow's from a checked pass
      if (workload.recorded.isEmpty) workload.pass(r, 0)
      writeRecorded(a.record.get, workload)
      spark.stop()
      return
    }

    var index = 0
    def loop(budgetS: Double, minPasses: Int): Seq[Seq[OpRun]] = {
      val start = System.nanoTime()
      val passes = Seq.newBuilder[Seq[OpRun]]
      while (index < minPasses || (System.nanoTime() - start) / 1e9 < budgetS) {
        passes += workload.pass(r, index)
        note(s"pass $index done")
        index += 1
      }
      passes.result()
    }
    // a traced run measures half its time untraced and half with the
    // meter and spans on; the tracing overhead is the traced passes against
    // the untraced pass just before them (a warm one: there are two)
    val untraced = loop(if (a.trace) a.seconds / 2.0 else a.seconds,
      if (a.trace) math.max(2, workload.minPasses) else workload.minPasses)
    val traced = if (!a.trace) Nil else {
      val m = new Meter(spark)
      m.install()
      r.meter = Some(m)
      try loop(a.seconds / 2.0, index + 1) finally { r.meter = None; m.uninstall() }
    }

    /** Median over passes of each step's wall (its calls summed). */
    def suite(passes: Seq[Seq[OpRun]]): Seq[(String, Double)] =
      passes.flatMap(_.groupMapReduce(_.step)(_.wallS)(_ + _)).groupMap(_._1)(_._2)
        .toSeq.sortBy(_._1).map { case (step, walls) => step -> Stats.median(walls) }
    val perStepU = suite(untraced)
    val suiteU = perStepU.map(_._2).sum
    val endToEnd = Map(
      "setup_s" -> setupS,
      "suite_s" -> suiteU,
      "suite_geomean_s" -> Stats.geomean(perStepU.map(o => math.max(o._2, 1e-6))))
    val perLayer: Map[String, Double] = if (!a.trace) Map.empty else {
      val suiteT = suite(traced).map(_._2).sum
      val base = suite(untraced.takeRight(1)).map(_._2).sum
      val l = workload.layers(untraced, traced, a.cores)
      Metrics.perLayer.map(m => m.name -> l.getOrElse(m.name, 0.0)).toMap ++ Map(
        "peak_rss_mb" -> peakRssMb(),
        "trace.overhead_s" -> (suiteT - base),
        "trace.overhead_frac" -> (suiteT - base) / base)
    }
    val shown = if (a.trace) Metrics.perLayer else Metrics.endToEnd
    val values = if (a.trace) perLayer else endToEnd
    shown.filter(m => !values(m.name).isFinite)
      .foreach(m => r.check(s"metric ${m.name}", ok = false, s"not finite: ${values(m.name)}"))

    val record = om.createObjectNode()
    record.put("record", "perfbench")
    record.put("workload", a.workload)
    record.put("seed", a.seed)
    record.put("seconds", a.seconds)
    record.put("trace", a.trace)
    record.put("run_id", runId)
    record.put("git_sha", a.gitSha)
    record.put("nproc", a.cores)
    record.put("loadavg_start", load0)
    record.put("loadavg_end", loadavg())
    record.put("java_version", System.getProperty("java.version"))
    record.put("spark_version", spark.version)
    record.put("passes_untraced", untraced.length)
    record.put("passes_traced", traced.length)
    record.put("correct", r.failed == 0)
    record.put("attempted", r.attempted)
    record.put("failed", r.failed)
    record.put("failed_frac", r.failedFrac)
    val fails = record.putArray("failures")
    r.failures.take(50).foreach(fails.add)
    val ms = record.putArray("metrics")
    def addMetrics(kind: String, cat: Seq[Metric], v: Map[String, Double]): Unit = cat.foreach { m =>
      ms.addObject().put("name", m.name).put("kind", kind).put("value", v(m.name))
        .put("unit", m.unit).put("better", m.better)
    }
    addMetrics("end_to_end", Metrics.endToEnd, endToEnd)
    if (a.trace) addMetrics("per_layer", Metrics.perLayer, perLayer)
    val rows = record.putArray("per_op")
    def perOp(passes: Seq[Seq[OpRun]]): Map[String, Double] =
      passes.flatten.groupMap(_.name)(_.wallS).map { case (n, w) => n -> Stats.median(w) }
    val medT = perOp(traced)
    perOp(untraced).toSeq.sortBy(_._1).foreach { case (name, wall) =>
      val row = rows.addObject().put("name", name).put("wall_s", wall)
      val walls = row.putArray("pass_walls_s")
      untraced.flatten.filter(_.name == name).foreach(o => walls.add(o.wallS))
      traced.flatten.find(_.name == name).foreach { o =>
        row.put("layer", o.layer).put("wall_s_traced", medT(name)).put("release_s", o.releaseS)
        o.counters.foreach { c =>
          row.put("jobs", c.jobs).put("stages", c.stages).put("tasks", c.tasks)
            .put("plan_s", c.planS).put("exec_cpu_s", c.execCpuS).put("driver_s", c.driverS)
            .put("gc_s", c.gcS).put("shuffle_read_mb", c.shuffleRead / 1e6)
            .put("shuffle_write_mb", c.shuffleWrite / 1e6).put("spill_mb", c.spill / 1e6)
        }
      }
    }
    val sp = record.putArray("spans")
    Spans.summary(spans.all).foreach { case (name, calls, total, self) =>
      sp.addObject().put("name", name).put("calls", calls).put("total_s", total).put("self_s", self)
    }

    // the full record, raw spans included, goes to the output directory
    val full = record.deepCopy()
    val raw = full.putArray("raw_spans")
    spans.all.foreach { s =>
      raw.addObject().put("id", s.id).put("name", s.name).put("parent", s.parent)
        .put("run_id", s.runId).put("start_ns", s.startNs).put("end_ns", s.endNs)
    }
    Files.createDirectories(Paths.get(a.out))
    Files.write(Paths.get(a.out, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      om.writerWithDefaultPrettyPrinter().writeValueAsBytes(full))

    val last = om.createObjectNode()
    last.put("correct", r.failed == 0)
    last.put("attempted", r.attempted)
    last.put("failed", r.failed)
    val lm = last.putObject("metrics")
    shown.foreach { m =>
      val v = values(m.name)
      lm.putObject(m.name).put("value", if (v.isFinite) v else 0.0).put("unit", m.unit)
    }
    spark.stop()
    note("session stopped")
    println(om.writeValueAsString(record))
    println(om.writeValueAsString(last))
  }

  /** Merges this workload's observed fingerprints into `path`. */
  private def writeRecorded(path: String, w: Workload): Unit = {
    val f = new File(path)
    val root = if (f.isFile) om.readTree(f).asInstanceOf[ObjectNode] else om.createObjectNode()
    val target = w match {
      case _: BagEtl => root.putObject("bag_etl")
      case _ => Option(root.get("queries")).map(_.asInstanceOf[ObjectNode])
        .getOrElse(root.putObject("queries"))
    }
    def put(node: ObjectNode, k: String, v: Any): Unit = v match {
      case m: Map[_, _] =>
        val child = node.putObject(k)
        m.foreach { case (ck, cv) => put(child, ck.toString, cv) }
      case n: Int => node.put(k, n)
      case n: Long => node.put(k, n)
      case s => node.put(k, s.toString)
    }
    w.recorded.toSeq.sortBy(_._1).foreach { case (k, v) => put(target, k, v) }
    if (!root.has("unstable")) root.putObject("unstable")
    Files.write(f.toPath, om.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
  }
}
