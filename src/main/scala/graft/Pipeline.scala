package graft

import graft.curate.Adressen
import graft.curate.Adressen.BagTables
import graft.export.Exports
import graft.ingest.{BagXml, BagZip, Gemeenten}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * O2: the pipeline driver — the reference's fixed stage DAG
 * (import_bag.py:13-90) as one lazy Spark plan per layer:
 *
 *   stage(zip)  ->  raw layer (8 XML reads + gemeenten CSV)  [parquet]
 *               ->  curated adressen                          [parquet]
 *               ->  exports / stats / validation
 *
 * Materializing the raw layer as parquet mirrors the reference's SQLite raw
 * tables and turns the XML scan (90% of the reference's runtime,
 * database_sqlite.py:16-17) into a one-time cost; every downstream query then
 * reads columnar storage with pushdown + pruning.
 */
object Pipeline {

  final case class Layout(stagingDir: String, warehouseDir: String)

  /** Ingest: stage zips (if a zip is given) and load the raw tables. */
  def rawTables(spark: SparkSession, xmlDirs: Map[String, String],
      gemeentenCsv: String, cfg: Config): BagTables = {
    val bag = BagXml.allSpecs.map { spec =>
      spec.name -> BagXml.read(spark, xmlDirs(spec.zipCode), spec, cfg)
    }.toMap
    val gem = Gemeenten.read(spark, gemeentenCsv)
    BagTables(
      woonplaatsen = bag("woonplaatsen"),
      gemeenteWoonplaatsen = bag("gemeente_woonplaatsen"),
      openbareRuimten = bag("openbare_ruimten"),
      nummers = bag("nummers"),
      panden = bag("panden"),
      verblijfsobjecten = bag("verblijfsobjecten"),
      ligplaatsen = bag("ligplaatsen"),
      standplaatsen = bag("standplaatsen"),
      gemeenten = gem.gemeenten,
      provincies = gem.provincies)
  }

  /** Write each raw table as parquet and re-read — layer materialization
    * (K1/K5: parallel job-atomic write replaces the single-writer sink).
    *
    * The ten writes are submitted CONCURRENTLY (Spark's scheduler is
    * built for multi-job sessions): sequential submission ran each
    * table's job alone, so the small dimension tables each paid their
    * scheduling + low-task-count tail on an otherwise idle 32-core box,
    * and the big scans' straggler waves had nothing to overlap with.
    * Concurrent submission packs all parse/write tasks into one shared
    * pool — wall time ~ the largest table instead of the sum (the r10
    * ingest-throughput ask; on a 1000-executor cluster this is the
    * difference between 10 barrier stages and one fleet-wide schedule). */
  def materialize(spark: SparkSession, t: BagTables, warehouseDir: String): BagTables = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def save(df: DataFrame, name: String): Future[DataFrame] = Future {
      df.write.mode("overwrite").parquet(s"$warehouseDir/$name")
      spark.read.parquet(s"$warehouseDir/$name")
    }
    val fs = Seq(
      save(t.woonplaatsen, "woonplaatsen"),
      save(t.gemeenteWoonplaatsen, "gemeente_woonplaatsen"),
      save(t.openbareRuimten, "openbare_ruimten"),
      save(t.nummers, "nummers"),
      save(t.panden, "panden"),
      save(t.verblijfsobjecten, "verblijfsobjecten"),
      save(t.ligplaatsen, "ligplaatsen"),
      save(t.standplaatsen, "standplaatsen"),
      save(t.gemeenten, "gemeenten"),
      save(t.provincies, "provincies"))
    val r = try Await.result(Future.sequence(fs), Duration.Inf)
    finally pool.shutdown()
    BagTables(
      woonplaatsen = r(0), gemeenteWoonplaatsen = r(1), openbareRuimten = r(2),
      nummers = r(3), panden = r(4), verblijfsobjecten = r(5),
      ligplaatsen = r(6), standplaatsen = r(7), gemeenten = r(8),
      provincies = r(9))
  }

  /** Materialize the raw layer with the big tables BUCKETED on their join
    * keys (nummers/panden by id; vbo/lig/sta by nummer_id) — the Spark
    * replacement of the reference's post-load indices
    * (database_sqlite.py:274-289): every adressen-build join on those keys
    * then reads co-partitioned buckets instead of shuffling ~9M-row sides.
    * Dimension-sized tables stay plain parquet (they broadcast anyway). */
  def materializeBucketed(spark: SparkSession, t: BagTables, warehouseDir: String,
      buckets: Int = 32): BagTables = {
    import graft.relational.Bucketing
    def bucketed(df: DataFrame, name: String, key: String): DataFrame = {
      Bucketing.writeBucketed(df, s"bag_$name", key, buckets,
        path = Some(s"$warehouseDir/$name"))
      Bucketing.read(spark, s"bag_$name")
    }
    def plain(df: DataFrame, name: String): DataFrame = {
      df.write.mode("overwrite").parquet(s"$warehouseDir/$name")
      spark.read.parquet(s"$warehouseDir/$name")
    }
    BagTables(
      woonplaatsen = plain(t.woonplaatsen, "woonplaatsen"),
      gemeenteWoonplaatsen = plain(t.gemeenteWoonplaatsen, "gemeente_woonplaatsen"),
      openbareRuimten = plain(t.openbareRuimten, "openbare_ruimten"),
      nummers = bucketed(t.nummers, "nummers", "id"),
      panden = bucketed(t.panden, "panden", "id"),
      verblijfsobjecten = bucketed(t.verblijfsobjecten, "verblijfsobjecten", "nummer_id"),
      ligplaatsen = bucketed(t.ligplaatsen, "ligplaatsen", "nummer_id"),
      standplaatsen = bucketed(t.standplaatsen, "standplaatsen", "nummer_id"),
      gemeenten = plain(t.gemeenten, "gemeenten"),
      provincies = plain(t.provincies, "provincies"))
  }

  /** Runs `body` with the file-scan bins sized for the XML import, then
    * puts back the session's prior values (set or unset), so a shared
    * session keeps its own. XML members are NON-SPLITTABLE, so scan
    * parallelism = files per partition bin, not bytes: under the default
    * 128 MB bins + 4 MB open-cost the ~3-5 MB members pack ~15 to a
    * partition and the two biggest scans of a full extract (620 MB NUM /
    * 933 MB VBO, ~204 files each) ran 12-14-wide on a 32-core box.
    * Parse-bound work wants ~one member per task: 8 MB bins + 1 MB
    * open-cost put every core on the scan (same rule on a cluster: bins
    * sized to the member, tasks = files). [[importBag]] and the ingest
    * probe ([[BagScaleProbe.run]]) both import inside this window. */
  def withXmlSplits[T](spark: SparkSession)(body: => T): T =
    Sessions.withConf(spark, "spark.sql.files.maxPartitionBytes" -> "8m",
      "spark.sql.files.openCostInBytes" -> "1m")(body)

  /** Full import: zip -> staging -> raw -> curated adressen parquet, under
    * the XML split sizing of [[withXmlSplits]]. */
  def importBag(spark: SparkSession, bagZip: String, gemeentenCsv: String,
      layout: Layout, cfg: Config): DataFrame = withXmlSplits(spark) {
    val xmlDirs = BagZip.stage(bagZip, layout.stagingDir)
    val raw = materialize(spark, rawTables(spark, xmlDirs, gemeentenCsv, cfg),
      s"${layout.warehouseDir}/raw")
    val adressen =
      if (cfg.createAdressenTable && cfg.activeOnly) Adressen.curated(raw, cfg)
      else raw.nummers
    adressen.write.mode("overwrite").parquet(s"${layout.warehouseDir}/adressen")
    // the curated layer is on disk: release the deleteOrphans cache so
    // repeated imports in one long-lived session don't accumulate storage
    Adressen.releaseCaches(spark)
    spark.read.parquet(s"${layout.warehouseDir}/adressen")
  }

  /** The PRODUCTION curated-layer write path: audit-gated, versioned
    * publication of the adressen table (VERDICT r9 ask #5 — s16's WAP and
    * s19's time travel meeting the engine's own flagship ETL instead of
    * living as demo queries). The build lands as an immutable `v=N`
    * snapshot under `tableDir`, the [[Validate]] threshold suite runs as
    * WAP audits over the files actually written, and only a full pass
    * flips the `_latest` pointer ([[graft.relational.Versioned
    * .commitAudited]]) — so a truncated or mis-joined build can never
    * replace the readable table, pinned readers (a training run, a
    * downstream export) keep their snapshot, and rollback is re-pointing.
    * Returns the audit report and the committed version (None = refused,
    * previous version still served). */
  def publishCurated(adressen: DataFrame, tableDir: String,
      th: Validate.Thresholds): (graft.relational.Publish.Report, Option[Long]) =
    graft.relational.Versioned.commitAudited(adressen, tableDir,
      Validate.auditColumns(th))

  /** K4: register every layer as a SQL-queryable temp view, mirroring the
    * reference's SQLite tables-by-name surface (database_sqlite.py:164-271):
    * after this, `spark.sql("SELECT ... FROM adressen JOIN woonplaatsen ...")`
    * works. Indices are a no-op on purpose — Spark's equivalents are
    * broadcast/AQE (SURVEY.md §4). */
  def registerViews(t: BagTables, adressen: Option[DataFrame] = None,
      useShortStreetNames: Boolean = true): Unit = {
    Seq(
      "woonplaatsen" -> t.woonplaatsen,
      "gemeente_woonplaatsen" -> t.gemeenteWoonplaatsen,
      // the reference's SQLite table carries ONE naam column, resolved at
      // import time from config.use_short_street_names (import_bag.py) —
      // mirror that surface so readme-level SQL (o.naam) runs verbatim
      "openbare_ruimten" -> Adressen.withStraatNaam(t.openbareRuimten, useShortStreetNames),
      "nummers" -> t.nummers,
      "panden" -> t.panden,
      "verblijfsobjecten" -> t.verblijfsobjecten,
      "ligplaatsen" -> t.ligplaatsen,
      "standplaatsen" -> t.standplaatsen,
      "gemeenten" -> t.gemeenten,
      "provincies" -> t.provincies
    ).foreach { case (name, df) => df.createOrReplaceTempView(name) }
    adressen.foreach(_.createOrReplaceTempView("adressen"))
  }

  /** The five export variants (export_to_csv.py:7-22). CLI surface:
    * [[graft.Exports]]. */
  def export(adressen: DataFrame, t: BagTables, variant: String, outPath: String,
      useShortStreetNames: Boolean = true, singleFile: Boolean = false): Unit = {
    val oprNamed = Adressen.withStraatNaam(t.openbareRuimten, useShortStreetNames)
    val df = variant match {
      case "all"      => Exports.fullExport(adressen, t, oprNamed)
      case "postcode" => Exports.postcodeExport(adressen, t, oprNamed)
      case "pc4"      => Exports.postcodeStats(adressen, t.woonplaatsen, 4)
      case "pc5"      => Exports.postcodeStats(adressen, t.woonplaatsen, 5)
      case "pc6"      => Exports.postcodeStats(adressen, t.woonplaatsen, 6)
      case other      => throw new IllegalArgumentException(s"unknown export: $other")
    }
    Exports.writeCsv(df, outPath, singleFile)
  }

  /** The shrink step (reference: config.py:29-32 `delete_no_longer_needed
    * _bag_tables` + utils_sqlite_shrink.py:1-13): once the curated
    * adressen layer is on disk, the five raw tables it subsumes — and the
    * staged XML — are dead weight (the reference's 16 GB -> 7 GB
    * headline). Drops exactly the reference's five DROP TABLEs
    * (database_sqlite.py:532-541) plus the staging dir; the dimension
    * tables (woonplaatsen, openbare_ruimten, gemeente_woonplaatsen,
    * gemeenten, provincies) stay — exports and the golden lookups join
    * them. SQLite needs a VACUUM to reclaim the pages; parquet
    * directories free the bytes on delete, so this IS the vacuum.
    * Returns the reclaimed byte count. */
  def deleteNoLongerNeededBagTables(spark: SparkSession, layout: Layout): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dead = Seq("nummers", "panden", "verblijfsobjecten",
      "ligplaatsen", "standplaatsen")
      .map(n => new org.apache.hadoop.fs.Path(s"${layout.warehouseDir}/raw/$n")) :+
      new org.apache.hadoop.fs.Path(layout.stagingDir)
    dead.map { p =>
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        val bytes = fs.getContentSummary(p).getLength
        fs.delete(p, true)
        bytes
      } else 0L
    }.sum
  }

  /** Re-open a warehouse written by [[importBag]]/[[materialize]]: raw layer
    * parquet + curated adressen. A warehouse shrunk by
    * [[deleteNoLongerNeededBagTables]] re-opens with the dropped tables as
    * empty frames — the exports surface only joins the retained dimension
    * tables (the reference's shrunk bag.sqlite makes the same trade:
    * export_to_csv works, the full raw-table test suite does not). */
  def openWarehouse(spark: SparkSession, warehouseDir: String): (BagTables, DataFrame) = {
    def tbl(name: String) = {
      val p = new org.apache.hadoop.fs.Path(s"$warehouseDir/raw/$name")
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        spark.read.parquet(s"$warehouseDir/raw/$name")
      else spark.emptyDataFrame
    }
    val t = BagTables(
      woonplaatsen = tbl("woonplaatsen"),
      gemeenteWoonplaatsen = tbl("gemeente_woonplaatsen"),
      openbareRuimten = tbl("openbare_ruimten"),
      nummers = tbl("nummers"),
      panden = tbl("panden"),
      verblijfsobjecten = tbl("verblijfsobjecten"),
      ligplaatsen = tbl("ligplaatsen"),
      standplaatsen = tbl("standplaatsen"),
      gemeenten = tbl("gemeenten"),
      provincies = tbl("provincies"))
    (t, spark.read.parquet(s"$warehouseDir/adressen"))
  }
}
