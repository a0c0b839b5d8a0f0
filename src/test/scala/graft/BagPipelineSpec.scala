package graft

import graft.curate.Adressen
import graft.export.Exports
import graft.geo.Rijksdriehoek
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end BAG pipeline over the synthetic fixture (FIXTURES.md §A). */
@graft.SlowTest
class BagPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val cfg: Config = Config(asOfDate = BagFixtures.asOf)

  lazy val (raw, adressen) = {
    val root = java.nio.file.Files.createTempDirectory("bag_fixture")
    val (dirs, csv) = BagFixtures.write(root)
    val t = Pipeline.rawTables(spark, dirs, csv, cfg)
    (t, Adressen.curated(t, cfg).cache())
  }

  private def adres(nummerId: String): Row =
    adressen.filter(col("nummer_id") === nummerId).collect().head

  test("F1/F2: only active rows with matching status survive ingest") {
    val wpl = raw.woonplaatsen.collect()
    assert(wpl.map(_.getLong(0)).sorted.toSeq === Seq(1050L, 3594L, 9000L))
  }

  test("S3: woonplaats geometry is captured under vlak and multivlak nesting") {
    val byId = raw.woonplaatsen.collect().map(r => r.getLong(0) -> r.getAs[String]("geometry")).toMap
    // vlak-wrapped (1050), multivlak-wrapped (3594), bare (9000) must all yield rings
    assert(byId(1050L).startsWith("[[["), s"vlak geometry missing: ${byId(1050L)}")
    assert(byId(3594L).startsWith("[[["), s"multivlak geometry missing: ${byId(3594L)}")
    assert(byId(9000L).startsWith("[[["), s"bare geometry missing: ${byId(9000L)}")
    // multivlak carries two surfaceMember polygons -> two rings
    assert(byId(3594L).count(_ == '[') > byId(9000L).count(_ == '['))
  }

  test("K2: duplicate nummer id keeps the latest begindatum (last-wins)") {
    val n4 = raw.nummers.filter(col("id") === BagFixtures.num4).collect()
    assert(n4.length === 1)
    assert(n4.head.getAs[String]("postcode") === "2222BB")
  }

  test("P3: missing tags default to empty string, not null") {
    val n2 = raw.nummers.filter(col("id") === BagFixtures.num2).collect().head
    assert(n2.getAs[String]("huisletter") === "")
    assert(n2.getAs[String]("toevoeging") === "")
    assert(n2.getAs[String]("woonplaats_id") === "")
    val n6 = raw.nummers.filter(col("id") === BagFixtures.num6).collect().head
    assert(n6.getAs[String]("postcode") === "")
  }

  test("P2: repeated tags become arrays (gebruiksdoel, PandRef, nevenadres)") {
    val v1 = raw.verblijfsobjecten.filter(col("nummer_id") === BagFixtures.num1).collect().head
    assert(v1.getAs[Seq[String]]("gebruiksdoel") === Seq("woonfunctie", "winkelfunctie"))
    assert(v1.getAs[Seq[String]]("nevenadressen") === Seq(BagFixtures.num9))
    val v2 = raw.verblijfsobjecten.filter(col("nummer_id") === BagFixtures.num2).collect().head
    assert(v2.getAs[Seq[String]]("pand_id") === Seq(BagFixtures.pnd2, BagFixtures.pnd4))
  }

  test("P5/P6/P8: vbo point coordinates are transformed to WGS84") {
    val v1 = raw.verblijfsobjecten.filter(col("nummer_id") === BagFixtures.num1).collect().head
    assert(v1.getAs[Double]("rd_x") === 155005.0)
    assert(v1.getAs[Double]("rd_y") === 463005.0)
    val (lat, lon) = Rijksdriehoek.rdToWgs84(155005.0, 463005.0)
    assert(math.abs(v1.getAs[Double]("latitude") - lat) < 1e-12)
    assert(math.abs(v1.getAs[Double]("longitude") - lon) < 1e-12)
  }

  test("P9: pand rings convert to GeoJSON with z dropped") {
    val p1 = raw.panden.filter(col("id") === BagFixtures.pnd1).collect().head
    val geo = p1.getAs[String]("geometry")
    assert(geo.startsWith("[[["))
    // 4 vertices in one ring -> 1 outer + 1 ring + 4 vertex brackets
    assert(geo.count(_ == '[') === 6)
  }

  test("J1: happy-path adres is fully denormalized") {
    val a = adres(BagFixtures.num1)
    assert(a.getAs[String]("openbare_ruimte_id") === "0363300000000001")
    assert(a.getAs[Long]("woonplaats_id") === 3594L)
    assert(a.getAs[Long]("gemeente_id") === 363L)
    assert(a.getAs[String]("pand_id") === BagFixtures.pnd1)
    assert(a.getAs[Int]("bouwjaar") === 1920)
    assert(a.getAs[String]("gebruiksdoel") === "woonfunctie,winkelfunctie")
    assert(a.getAs[String]("huisletter") === "A")
    assert(a.getAs[String]("toevoeging") === "2")
    assert(a.getAs[String]("object_type") === "verblijfsobject")
    assert(a.getAs[Double]("oppervlakte") === 120.0)
  }

  test("J3: multi-pand adres gets the LAST pand's bouwjaar/geometry, pand_id stays null") {
    val a = adres(BagFixtures.num2)
    assert(a.getAs[String]("pand_id") === null) // reference J1 joins the raw comma string -> no match
    assert(a.getAs[Int]("bouwjaar") === 1960)   // pnd4, the last in document order
    assert(a.getAs[String]("geometry") != null && a.getAs[String]("geometry").nonEmpty)
  }

  test("J4/J5: ligplaats and standplaats override coords and object_type") {
    val lig = adres(BagFixtures.num20)
    assert(lig.getAs[String]("object_type") === "ligplaats")
    assert(lig.getAs[Double]("rd_x") === 155200.0)
    val (lat, _) = Rijksdriehoek.rdToWgs84(155200.0, 463200.0)
    assert(math.abs(lig.getAs[Double]("latitude") - lat) < 1e-12)
    val sta = adres(BagFixtures.num21)
    assert(sta.getAs[String]("object_type") === "standplaats")
    assert(sta.getAs[Double]("rd_x") === 155300.0)
  }

  test("J7: nummer's own WoonplaatsRef overrides the street's woonplaats") {
    val a = adres(BagFixtures.num3)
    assert(a.getAs[Long]("woonplaats_id") === 1050L) // Amstelveen, not Amsterdam 3594
  }

  test("J6: nevenadres copies the enriched hoofd adres") {
    val a = adres(BagFixtures.num9)
    assert(a.getAs[String]("hoofd_nummer_id") === BagFixtures.num1)
    assert(a.getAs[String]("pand_id") === BagFixtures.pnd1)
    assert(a.getAs[String]("gebruiksdoel") === "woonfunctie,winkelfunctie")
    assert(a.getAs[Double]("oppervlakte") === 120.0)
    assert(a.getAs[Int]("bouwjaar") === 1920)
    // but keeps its own nummer fields
    assert(a.getAs[String]("postcode") === "2514GL")
    assert(a.getAs[Int]("huisnummer") === 70)
  }

  test("U1/U2: dummy bouwjaar and oppervlakte are nulled") {
    val a3 = adres(BagFixtures.num3)
    assert(a3.isNullAt(a3.fieldIndex("bouwjaar")))      // 9999 > 2040
    assert(a3.isNullAt(a3.fieldIndex("oppervlakte")))   // 1
    val a2 = adres(BagFixtures.num2)
    assert(a2.isNullAt(a2.fieldIndex("oppervlakte")))   // 999999
  }

  test("adressen row count: active nummers only, one row per nummer") {
    assert(adressen.count() === 9)
    assert(adressen.select("nummer_id").distinct().count() === 9)
  }

  test("P4: short street name is used when configured") {
    val named = Adressen.withStraatNaam(raw.openbareRuimten, useShort = true)
    val row = named.filter(col("id") === "0363300000000002").collect().head
    assert(row.getAs[String]("naam") === "1e J.v.Campenstr")
    val long = Adressen.withStraatNaam(raw.openbareRuimten, useShort = false)
    assert(long.filter(col("id") === "0363300000000002").collect()
      .head.getAs[String]("naam") === "Eerste Jacob van Campenstraat")
  }

  test("J8/J9: exports produce the reference's column layout") {
    val named = Adressen.withStraatNaam(raw.openbareRuimten, useShort = true)
    val full = Exports.fullExport(adressen, raw, named)
    assert(full.columns.toSeq === Seq("straat", "huisnummer", "toevoeging", "postcode",
      "gemeente", "woonplaats", "provincie", "bouwjaar", "rd_x", "rd_y",
      "latitude", "longitude", "vloeroppervlakte", "gebruiksdoel", "hoofdadres_nummer_id"))
    val num1Row = full.filter(col("postcode") === "2514GL" && col("huisnummer") === 68).collect().head
    assert(num1Row.getAs[String]("straat") === "Kalverstraat")
    assert(num1Row.getAs[String]("gemeente") === "Amsterdam")
    assert(num1Row.getAs[String]("provincie") === "Noord-Holland")
    assert(num1Row.getAs[String]("toevoeging") === "A2") // huisletter || toevoeging
    val pc = Exports.postcodeExport(adressen, raw, named)
    assert(pc.count() === 9)
  }

  test("A1: pc4 stats aggregate lat/lon with count, postcode '' excluded") {
    val stats = Exports.postcodeStats(adressen, raw.woonplaatsen, 4).collect()
    assert(!stats.exists(_.getAs[String]("postcode4") == "")) // num6 has no postcode
    val pc2514 = stats.find(_.getAs[String]("postcode4") == "2514").get
    assert(pc2514.getAs[Long]("aantal_adressen") === 2L) // num1 + num9
    val (lat, _) = Rijksdriehoek.rdToWgs84(155005.0, 463005.0)
    assert(math.abs(pc2514.getAs[Double]("center_lat") - lat) < 1e-9)
  }

  test("Paleis Noordeinde acceptance query (readme.MD:53-78) via SQL views") {
    // the reference readme's documentation-level golden query for postcode
    // 2514GL huisnummer 68, ported verbatim (SQLite '||' concat included;
    // columns renamed only where our curated schema differs: id -> the
    // *_id key names used throughout this engine)
    Pipeline.registerViews(raw, Some(adressen))
    val row = spark.sql(
      """SELECT
        |  a.postcode,
        |  a.huisnummer,
        |  a.huisletter || a.toevoeging AS toevoeging,
        |  o.naam                       AS straat,
        |  g.naam                       AS gemeente,
        |  w.naam                       AS woonplaats,
        |  p.naam                       AS provincie,
        |  a.bouwjaar,
        |  a.latitude,
        |  a.longitude,
        |  a.rd_x,
        |  a.rd_y,
        |  a.oppervlakte                AS vloeroppervlakte,
        |  a.gebruiksdoel,
        |  a.hoofd_nummer_id
        |FROM adressen a
        |  LEFT JOIN openbare_ruimten o ON a.openbare_ruimte_id = o.id
        |  LEFT JOIN gemeenten g        ON a.gemeente_id        = g.id
        |  LEFT JOIN woonplaatsen w     ON a.woonplaats_id      = w.id
        |  LEFT JOIN provincies p       ON g.provincie_id       = p.id
        |WHERE postcode = '2514GL'
        |  AND huisnummer = 68""".stripMargin).collect()
    assert(row.length === 1)
    val r = row.head
    assert(r.getAs[String]("toevoeging") === "A2")
    assert(r.getAs[String]("straat") === "Kalverstraat")
    assert(r.getAs[String]("gemeente") === "Amsterdam")
    assert(r.getAs[String]("woonplaats") === "Amsterdam")
    assert(r.getAs[String]("provincie") === "Noord-Holland")
    assert(r.getAs[Long]("bouwjaar") === 1920L)
    assert(r.getAs[Double]("rd_x") === 155005.0 && r.getAs[Double]("rd_y") === 463005.0)
    val (lat, lon) = Rijksdriehoek.rdToWgs84(155005.0, 463005.0)
    assert(math.abs(r.getAs[Double]("latitude") - lat) < 1e-9)
    assert(math.abs(r.getAs[Double]("longitude") - lon) < 1e-9)
    assert(r.getAs[Double]("vloeroppervlakte") === 120.0)
  }

  test("Exports CLI mirrors export_to_csv.py flags and writes CSV artifacts") {
    val wh = java.nio.file.Files.createTempDirectory("bag_export_wh").toString
    Pipeline.materialize(spark, raw, s"$wh/raw")
    adressen.write.mode("overwrite").parquet(s"$wh/adressen")
    val out = java.nio.file.Files.createTempDirectory("bag_export_out").toString

    graft.Exports.main(Array("-p4", "--warehouse", wh, "--out", out, "--single-file"))
    val p4 = new java.io.File(s"$out/adressen_p4_stats.csv")
    assert(p4.isFile, "--single-file must produce a plain CSV file, not a directory")
    val lines = scala.io.Source.fromFile(p4).getLines().toSeq
    assert(lines.head === "postcode4,center_lat,center_lon,aantal_adressen,woonplaats")
    assert(lines.exists(_.startsWith("2514,")))

    graft.Exports.main(Array("--all", "--warehouse", wh, "--out", out))
    assert(new java.io.File(s"$out/adressen_all_data.csv").exists())

    graft.Exports.main(Array("--warehouse", wh, "--out", out)) // default: postcode export
    assert(new java.io.File(s"$out/adressen_postcodes.csv").exists())
  }

  /** Pack the BagFixtures XML into the real BAG layout (outer zip of
    * per-object-type inner zips) under `root`; returns (bag.zip, csv). */
  private def packFixtureZip(root: java.nio.file.Path): (java.nio.file.Path, String) = {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val (xmlDirs, csv) = BagFixtures.write(root.resolve("plain"))
    val innerDir = root.resolve("inner")
    JFiles.createDirectories(innerDir)
    xmlDirs.foreach { case (code, dir) =>
      val zos = new ZipOutputStream(JFiles.newOutputStream(
        innerDir.resolve(s"${code}08102025.zip")))
      try JFiles.list(JPaths.get(dir)).forEach { f =>
        zos.putNextEntry(new ZipEntry(f.getFileName.toString))
        zos.write(JFiles.readAllBytes(f))
        zos.closeEntry()
      } finally zos.close()
    }
    val outerZip = root.resolve("bag.zip")
    val zos = new ZipOutputStream(JFiles.newOutputStream(outerZip))
    try JFiles.list(innerDir).forEach { f =>
      zos.putNextEntry(new ZipEntry(f.getFileName.toString))
      zos.write(JFiles.readAllBytes(f))
      zos.closeEntry()
    } finally zos.close()
    (outerZip, csv)
  }

  test("--drop-raw-tables: shrink drops exactly the five subsumed tables + staging") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = JFiles.createTempDirectory("bag_cli_shrink")
    val (outerZip, csv) = packFixtureZip(root)
    val wh = root.resolve("warehouse").toString
    val staging = root.resolve("staging").toString
    graft.ImportBag.main(Array(
      "--bag", outerZip.toString, "--gemeenten", csv,
      "--warehouse", wh, "--staging", staging,
      "--as-of", BagFixtures.asOf, "--skip-validation", "--drop-raw-tables"))
    val dropped = Seq("nummers", "panden", "verblijfsobjecten",
      "ligplaatsen", "standplaatsen")
    val kept = Seq("woonplaatsen", "openbare_ruimten", "gemeente_woonplaatsen",
      "gemeenten", "provincies")
    dropped.foreach(n => assert(!JFiles.exists(JPaths.get(s"$wh/raw/$n")),
      s"$n must be dropped"))
    kept.foreach(n => assert(JFiles.exists(JPaths.get(s"$wh/raw/$n")),
      s"$n must be kept"))
    assert(!JFiles.exists(JPaths.get(staging)), "staging must be emptied")
    // the shrunk warehouse still serves the curated layer + exports
    // (the reference's shrunk bag.sqlite trade): reopen and run pc6 stats
    val (t, adressen) = Pipeline.openWarehouse(spark, wh)
    assert(adressen.count() === 9)
    val out = root.resolve("out").toString
    graft.Exports.main(Array("-p6", "--warehouse", wh, "--out", out, "--single-file"))
    assert(new java.io.File(s"$out/adressen_p6_stats.csv").isFile)
    assert(t.nummers.isEmpty, "dropped tables reopen as empty frames")
  }

  test("ImportBag + Exports CLIs run the reference workflow end to end from a bag.zip") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val root = JFiles.createTempDirectory("bag_cli_e2e")
    val (outerZip, csv) = packFixtureZip(root)
    val wh = root.resolve("warehouse").toString
    // the CLIs run inside this suite's session and must leave its settings alone
    val keys = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.shuffle.partitions", "spark.sql.session.timeZone")
    val confBefore = keys.map(k => k -> spark.conf.get(k))
    graft.ImportBag.main(Array(
      "--bag", outerZip.toString, "--gemeenten", csv,
      "--warehouse", wh, "--staging", root.resolve("staging").toString,
      "--as-of", BagFixtures.asOf, "--skip-validation"))
    val imported = spark.read.parquet(s"$wh/adressen")
    assert(imported.count() === 9)

    // re-validate the existing warehouse standalone (test_sqlite_db.py
    // workflow) — a failing suite would sys.exit(1) and abort this JVM
    graft.ValidateDb.main(Array("--warehouse", wh,
      "--min-adressen", "9", "--min-adressen-met-pand", "3",
      "--min-ligplaatsen", "1", "--min-standplaatsen", "1",
      "--min-openbare-ruimten", "4", "--min-woonplaatsen", "3",
      "--min-gemeenten", "3", "--provincies", "2"))

    val out = root.resolve("out").toString
    graft.Exports.main(Array("-p6", "--warehouse", wh, "--out", out, "--single-file"))
    val p6 = new java.io.File(s"$out/adressen_p6_stats.csv")
    assert(p6.isFile, "--single-file must produce a plain CSV file, not a directory")
    assert(scala.io.Source.fromFile(p6).getLines().exists(_.startsWith("2514GL,")))
    assert(keys.map(k => k -> spark.conf.get(k)) === confBefore)
    assert(!spark.sparkContext.isStopped)
  }

  test("importBag scans under the ingest probe's XML split sizing, then restores the session's values") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (maxKey, openKey) = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val root = java.nio.file.Files.createTempDirectory("bag_split_sizing")
    val (outerZip, csv) = packFixtureZip(root)
    // A SQL execution copies the session's SQL confs into its jobs'
    // properties: (group, execution id, maxPartitionBytes, openCostInBytes)
    // per job. Events arrive in order, so the marker job closes the import.
    type Job = (String, String, String, String)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = j.properties
        jobs.add((p.getProperty("spark.jobGroup.id"), p.getProperty("spark.sql.execution.id"),
          p.getProperty(maxKey), p.getProperty(openKey)))
      }
    }
    def seen: Seq[Job] = jobs.toArray(Array.empty[Job]).toSeq
    spark.conf.set(maxKey, "64m") // one prior value set, the other unset
    spark.conf.unset(openKey)
    spark.sparkContext.addSparkListener(listener)
    try {
      Pipeline.importBag(spark, outerZip.toString, csv, Pipeline.Layout(
        root.resolve("staging").toString, root.resolve("warehouse").toString), cfg)
      assert(spark.conf.getAll.get(maxKey) === Some("64m"))
      assert(spark.conf.getAll.get(openKey) === None, "an unset key stays unset")
      spark.sparkContext.setJobGroup("split_marker", "split_marker")
      try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.exists(_._1 == "split_marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.unset(maxKey)
    }
    val (imported, marker) = seen.span(_._1 != "split_marker")
    assert(marker.nonEmpty, "marker job never arrived")
    val sqlJobs = imported.filter(_._2 != null)
    assert(sqlJobs.nonEmpty)
    assert(sqlJobs.forall(j => j._3 == "8m" && j._4 == "1m"),
      s"(group, execution, maxPartitionBytes, openCostInBytes) per job: $sqlJobs")
    assert(marker.head._3 === "64m" && marker.head._4 === null)
  }

  test("K4: registered temp views are SQL-queryable by name") {
    Pipeline.registerViews(raw, Some(adressen))
    val n = spark.sql(
      """SELECT count(*) FROM adressen a
        |JOIN woonplaatsen w ON a.woonplaats_id = w.id""".stripMargin)
      .head().getLong(0)
    assert(n > 0)
    assert(spark.sql("SELECT naam FROM gemeenten WHERE id = 1900").head()
      .getString(0) === "Súdwest-Fryslân")
  }

  test("bucketed materialization: same adressen, join on bucket key shuffle-free") {
    val wh = java.nio.file.Files.createTempDirectory("bag_bucketed").toString
    val bucketed = Pipeline.materializeBucketed(spark, raw, wh, buckets = 4)
    val fromBucketed = Adressen.curated(bucketed, cfg)
      .collect().map(_.toString).sorted
    assert(fromBucketed === adressen.collect().map(_.toString).sorted)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = bucketed.verblijfsobjecten.join(
        bucketed.nummers, bucketed.verblijfsobjecten("nummer_id") === bucketed.nummers("id"))
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"bucketed vbo-nummers join shuffles:\n$p")

      // the 100x-scale claim as an executable check: the whole J1 adressen
      // build chain must shuffle strictly less from bucketed storage than
      // from plain parquet (broadcast disabled so every join would
      // otherwise be a shuffled SMJ/SHJ)
      def exchanges(t: Adressen.BagTables): Int = {
        val df = Adressen.curated(t, cfg)
        df.collect()
        "Exchange hashpartitioning".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      }
      val whPlain = java.nio.file.Files.createTempDirectory("bag_plain").toString
      val plainT = Pipeline.materialize(spark, raw, whPlain)
      val (nPlain, nBucketed) = (exchanges(plainT), exchanges(bucketed))
      info(s"J1 build-chain shuffles: plain=$nPlain bucketed=$nBucketed")
      assert(nBucketed < nPlain,
        s"bucketed build should shuffle less: plain=$nPlain bucketed=$nBucketed")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("curated layer publishes through WAP + versioning; a failed audit leaves the previous snapshot served") {
    val th = Validate.Thresholds(
      minAdressen = 9, minAdressenMetPand = 3, minLigplaatsen = 1,
      minStandplaatsen = 1, minOpenbareRuimten = 4, minWoonplaatsen = 3,
      minGemeenten = 3, exactProvincies = 2)
    val dir = java.nio.file.Files.createTempDirectory("bag_versioned").toString + "/adressen"

    // v1: the real curated build clears the audit gate
    val (r1, v1) = Pipeline.publishCurated(adressen, dir, th)
    assert(r1.published && v1.contains(1L), s"v1 refused: ${r1.audits}")
    val served1 = graft.relational.Versioned.read(spark, dir)
      .select("nummer_id").collect().map(_.getString(0)).sorted.toSeq
    assert(served1 === adressen.select("nummer_id")
      .collect().map(_.getString(0)).sorted.toSeq)

    // a truncated build (the mis-join failure mode WAP exists for) must
    // NOT publish: pointer, snapshot set, and served rows all untouched
    val truncated = adressen.filter(col("object_type") === "ligplaats")
    val (r2, v2) = Pipeline.publishCurated(truncated, dir, th)
    assert(!r2.published && v2.isEmpty)
    assert(r2.audits.exists { case (n, ok) => n == "adressen >= min" && !ok })
    assert(graft.relational.Versioned.latestVersion(spark, dir).contains(1L),
      "failed audit moved the pointer")
    assert(!new java.io.File(s"$dir/v=2").exists(),
      "failed audit left a staged snapshot behind")
    val servedAfterFail = graft.relational.Versioned.read(spark, dir)
      .select("nummer_id").collect().map(_.getString(0)).sorted.toSeq
    assert(servedAfterFail === served1, "failed audit disturbed the served table")

    // a corrupted build (duplicated keys) trips the uniqueness audit too
    val duplicated = adressen.unionByName(adressen.limit(1))
    val (r3, _) = Pipeline.publishCurated(duplicated, dir, th)
    assert(!r3.published &&
      r3.audits.exists { case (n, ok) => n == "nummer_id uniek" && !ok })

    // v2: a good re-build commits as the next version; the pinned v1
    // snapshot stays readable and identical (training-run reproducibility)
    val (r4, v4) = Pipeline.publishCurated(adressen, dir, th)
    assert(r4.published && v4.contains(2L))
    val pinned1 = graft.relational.Versioned.read(spark, dir, Some(1L))
      .select("nummer_id").collect().map(_.getString(0)).sorted.toSeq
    assert(pinned1 === served1, "pinned v1 disturbed by the v2 commit")
    assert(graft.relational.Versioned.latestVersion(spark, dir).contains(2L))
  }

  test("validation suite passes on the fixture") {
    val checks = Validate.run(adressen, raw, Validate.Thresholds(
      minAdressen = 9, minAdressenMetPand = 3, minLigplaatsen = 1,
      minStandplaatsen = 1, minOpenbareRuimten = 4, minWoonplaatsen = 3,
      minGemeenten = 3, exactProvincies = 2))
    val errors = checks.filter(_.isError)
    assert(errors.isEmpty, s"failed checks: ${errors.mkString("; ")}")
  }
}
