package graft

import graft.Validate.Check
import graft.curate.Adressen
import graft.curate.Adressen.BagTables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/**
 * The integrity suite's full result on the BAG fixture (FIXTURES.md §A),
 * one injected defect per check, and the shape of the work it submits.
 * The curated layer is read back from parquet, as ImportBag/ValidateDb
 * hand it to [[Validate.run]].
 */
class ValidateSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val (raw, adressenPath) = {
    val root = java.nio.file.Files.createTempDirectory("bag_validate")
    val (dirs, csv) = BagFixtures.write(root)
    val cfg = Config(asOfDate = BagFixtures.asOf)
    val t = Pipeline.materialize(spark, Pipeline.rawTables(spark, dirs, csv, cfg), s"$root/raw")
    Adressen.curated(t, cfg).write.parquet(s"$root/adressen")
    Adressen.releaseCaches(spark)
    (t, s"$root/adressen")
  }
  lazy val adressen: DataFrame = spark.read.parquet(adressenPath)

  private val th = Validate.Thresholds(
    minAdressen = 9, minAdressenMetPand = 3, minLigplaatsen = 1,
    minStandplaatsen = 1, minOpenbareRuimten = 4, minWoonplaatsen = 3,
    minGemeenten = 3, exactProvincies = 2)

  private val clean = Seq(
    Check("info: laatste nummer_begindatum=2015-01-01 pand_begindatum=2010-01-01", 0, false),
    Check("gemeenten zonder adressen", 0, false),
    Check("woonplaatsen zonder gemeente", 0, false),
    Check("adressen zonder openbare ruimte", 0, false),
    Check("adressen zonder woonplaats", 0, false),
    Check("adressen zonder gemeente", 0, false),
    Check("panden zonder locatie", 0, false),
    Check("ligplaatsen zonder locatie", 0, false),
    Check("standplaatsen zonder locatie", 0, false),
    Check("gemeente 1900 UTF-8: Súdwest-Fryslân", 1, false),
    Check("1181BN-1 woonplaats=1050 (verwacht 1050)", 1050, false),
    Check("info: adressen: 9", 9, false),
    Check("info: adressen met pand: 3", 3, false),
    Check("info: ligplaatsen: 1", 1, false),
    Check("info: standplaatsen: 1", 1, false),
    Check("info: openbare ruimten: 4", 4, false),
    Check("info: woonplaatsen: 3", 3, false),
    Check("info: gemeenten: 3", 3, false),
    Check("info: provincies: 2", 2, false))

  /** The clean result with the checks named on the left replaced. */
  private def cleanWith(replaced: (String, Check)*): Seq[Check] = {
    val m = replaced.toMap
    assert(m.keySet.subsetOf(clean.map(_.name).toSet), s"unknown check in $m")
    clean.map(c => m.getOrElse(c.name, c))
  }

  private def errorAt(name: String, value: Long): (String, Check) =
    name -> Check(name, value, isError = true)

  /** `adressen` with column `c` of address `nummerId` set to `v`. */
  private def setCol(df: DataFrame, nummerId: String, c: String, v: Column): DataFrame =
    df.withColumn(c, when(col("nummer_id") === nummerId, v.cast(df.schema(c).dataType))
      .otherwise(col(c)))

  private def run(a: DataFrame = adressen, t: BagTables = raw): Seq[Check] =
    Validate.run(a, t, th)

  test("clean fixture: the full check list, in order") {
    assert(run() === clean)
    assert(Validate.errorCount(run()) === 0)
  }

  test("goldenChecks = false drops exactly the two golden checks") {
    assert(Validate.run(adressen, raw, th, goldenChecks = false) ===
      clean.filterNot(c => c.name.startsWith("gemeente 1900") || c.name.startsWith("1181BN")))
  }

  test("an unknown or null openbare_ruimte_id is an orphan address") {
    val orphan = errorAt("adressen zonder openbare ruimte", 1)
    assert(run(setCol(adressen, BagFixtures.num7, "openbare_ruimte_id",
      lit("0362300000000099"))) === cleanWith(orphan))
    assert(run(setCol(adressen, BagFixtures.num6, "openbare_ruimte_id",
      lit(null))) === cleanWith(orphan))
    val both = setCol(setCol(adressen, BagFixtures.num6, "openbare_ruimte_id", lit(null)),
      BagFixtures.num7, "openbare_ruimte_id", lit("0362300000000099"))
    assert(run(both) === cleanWith(errorAt("adressen zonder openbare ruimte", 2)))
  }

  test("a null gemeente_id counts the address and orphans its only gemeente") {
    // num6 is gemeente 1900's only address
    assert(run(setCol(adressen, BagFixtures.num6, "gemeente_id", lit(null))) === cleanWith(
      errorAt("adressen zonder gemeente", 1), errorAt("gemeenten zonder adressen", 1)))
  }

  test("a null woonplaats_id is counted") {
    assert(run(setCol(adressen, BagFixtures.num7, "woonplaats_id", lit(null))) ===
      cleanWith(errorAt("adressen zonder woonplaats", 1)))
  }

  test("a missing gemeente 1900 fails the UTF-8 canary, its woonplaats and the gemeenten floor") {
    val t = raw.copy(gemeenten = raw.gemeenten.filter(col("id") =!= 1900))
    assert(run(t = t) === cleanWith(
      "gemeente 1900 UTF-8: Súdwest-Fryslân" -> Check("gemeente 1900 UTF-8: <missing>", 1, true),
      errorAt("woonplaatsen zonder gemeente", 1),
      "info: gemeenten: 3" -> Check("info: gemeenten: 2", 2, true)))
  }

  test("1181BN-1 checks the lowest nummer_id's woonplaats") {
    val golden = "1181BN-1 woonplaats=1050 (verwacht 1050)"
    assert(run(setCol(adressen, BagFixtures.num3, "woonplaats_id", lit(3594L))) === cleanWith(
      golden -> Check("1181BN-1 woonplaats=3594 (verwacht 1050)", 3594, true)))
    assert(run(setCol(adressen, BagFixtures.num3, "woonplaats_id", lit(null))) === cleanWith(
      golden -> Check("1181BN-1 woonplaats=-1 (verwacht 1050)", -1, true),
      errorAt("adressen zonder woonplaats", 1)))
    assert(run(adressen.filter(col("nummer_id") =!= BagFixtures.num3)) === cleanWith(
      golden -> Check("1181BN-1 woonplaats=-1 (verwacht 1050)", -1, true),
      "info: adressen: 9" -> Check("info: adressen: 8", 8, true),
      "info: adressen met pand: 3" -> Check("info: adressen met pand: 2", 2, true)))
    // a sub-address sharing postcode + huisnummer with a higher nummer_id
    // does not decide the check, whichever woonplaats it carries
    val sub = adressen.filter(col("nummer_id") === BagFixtures.num3)
      .withColumn("nummer_id", lit("0363200000000099"))
      .withColumn("woonplaats_id", lit(3594L))
    assert(run(sub.unionByName(adressen)) === cleanWith(
      "info: adressen: 9" -> Check("info: adressen: 10", 10, false),
      "info: adressen met pand: 3" -> Check("info: adressen met pand: 4", 4, false)))
  }

  test("a null latitude is counted per object type") {
    def noLat(id: String) = setCol(adressen, id, "latitude", lit(null))
    assert(run(noLat(BagFixtures.num1)) === cleanWith(errorAt("panden zonder locatie", 1)))
    assert(run(noLat(BagFixtures.num20)) === cleanWith(errorAt("ligplaatsen zonder locatie", 1)))
    assert(run(noLat(BagFixtures.num21)) === cleanWith(errorAt("standplaatsen zonder locatie", 1)))
  }

  test("a woonplaats with no gemeente bridge row has no gemeente") {
    val t = raw.copy(gemeenteWoonplaatsen =
      raw.gemeenteWoonplaatsen.filter(col("woonplaats_id") =!= 9000L))
    assert(run(t = t) === cleanWith(errorAt("woonplaatsen zonder gemeente", 1)))
  }

  test("empty inputs: every floor and both golden checks fail, nothing throws") {
    val t = BagTables(raw.woonplaatsen.limit(0), raw.gemeenteWoonplaatsen.limit(0),
      raw.openbareRuimten.limit(0), raw.nummers.limit(0), raw.panden.limit(0),
      raw.verblijfsobjecten.limit(0), raw.ligplaatsen.limit(0), raw.standplaatsen.limit(0),
      raw.gemeenten.limit(0), raw.provincies.limit(0))
    assert(run(adressen.limit(0), t) === Seq(
      Check("info: laatste nummer_begindatum=null pand_begindatum=null", 0, false),
      Check("gemeenten zonder adressen", 0, false),
      Check("woonplaatsen zonder gemeente", 0, false),
      Check("adressen zonder openbare ruimte", 0, false),
      Check("adressen zonder woonplaats", 0, false),
      Check("adressen zonder gemeente", 0, false),
      Check("panden zonder locatie", 0, false),
      Check("ligplaatsen zonder locatie", 0, false),
      Check("standplaatsen zonder locatie", 0, false),
      Check("gemeente 1900 UTF-8: <missing>", 1, true),
      Check("1181BN-1 woonplaats=-1 (verwacht 1050)", -1, true),
      Check("info: adressen: 0", 0, true),
      Check("info: adressen met pand: 0", 0, true),
      Check("info: ligplaatsen: 0", 0, true),
      Check("info: standplaatsen: 0", 0, true),
      Check("info: openbare ruimten: 0", 0, true),
      Check("info: woonplaatsen: 0", 0, true),
      Check("info: gemeenten: 0", 0, true),
      Check("info: provincies: 0", 0, true)))
  }

  test("the suite is at most two SQL executions, caches nothing and never reads geometry") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    // Listener events arrive asynchronously and in order: a marker query
    // on each side brackets exactly the executions Validate.run submitted.
    def marker(name: String): Unit = spark.range(1).toDF(name).collect()
    def isMarker(qe: QueryExecution, name: String) = qe.analyzed.output.exists(_.name == name)
    val (start, end) = ("__validate_spec_start", "__validate_spec_end")
    val a = adressen // builds the fixture before the start marker
    val cachedBefore = spark.sharedState.cacheManager.isEmpty
    spark.listenerManager.register(listener)
    val qes = try {
      marker(start)
      assert(run(a) === clean)
      marker(end)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.toArray(Array.empty[QueryExecution]).exists(isMarker(_, end)) &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
      seen.toArray(Array.empty[QueryExecution]).toSeq
        .dropWhile(!isMarker(_, start)).drop(1).takeWhile(!isMarker(_, end))
    } finally spark.listenerManager.unregister(listener)

    assert(qes.nonEmpty, "no execution seen between the markers")
    assert(qes.size <= 2, s"${qes.size} SQL executions")
    assert(spark.sharedState.cacheManager.isEmpty === cachedBefore)
    assert(qes.forall(_.withCachedData.collectFirst { case r: InMemoryRelation => r }.isEmpty))
    val scans = qes.flatMap(qe => collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s
    })
    val adressenScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.stripSuffix("/").endsWith("/adressen")))
    assert(adressenScans.nonEmpty, s"no adressen scan in ${scans.map(_.nodeName)}")
    scans.foreach(s => assert(!s.requiredSchema.fieldNames.contains("geometry"),
      s"${s.relation.location.rootPaths.mkString} reads geometry"))
  }
}
