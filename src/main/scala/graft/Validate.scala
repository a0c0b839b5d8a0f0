package graft

import graft.curate.Adressen.BagTables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Data-integrity validation suite — the reference's `test_bag_adressen`
 * (database_sqlite.py:621-758) re-expressed as DataFrame assertions.
 *
 * Families:
 *  - referential integrity via left joins on distinct ids (NOT IN -> a
 *    NULL join match, which also sidesteps SQLite's NOT-IN null traps)
 *  - golden point-value checks (UTF-8 canary, woonplaats-override case)
 *  - cardinality thresholds, parameterized by scale so the suite runs on
 *    fixtures as well as on the full ~9M-address BAG
 *  - recency probes (informational top-1 dates -> max())
 *
 * Runs as one Spark action and caches nothing: one aggregate over
 * `adressen` and one per dimension table, cross-joined into a single row.
 * Each reads only the columns its checks name, so `geometry` is never
 * scanned. Two of them scan `adressen`: pass the materialized table (the
 * parquet read back, as the import paths do), not an unexecuted build plan.
 *
 * Returns a list of named check results; callers assert `errors == 0`.
 */
object Validate {

  final case class Check(name: String, value: Long, isError: Boolean)

  /** Cardinality thresholds (reference values; scale down for fixtures). */
  final case class Thresholds(
      minAdressen: Long = 9000000L,
      minAdressenMetPand: Long = 9000000L,
      minLigplaatsen: Long = 10000L,
      minStandplaatsen: Long = 20000L,
      minOpenbareRuimten: Long = 250000L,
      minWoonplaatsen: Long = 2000L,
      minGemeenten: Long = 300L,
      exactProvincies: Long = 12L)

  def run(adressen: DataFrame, t: BagTables, th: Thresholds = Thresholds(),
      goldenChecks: Boolean = true): Seq[Check] = {
    // Counts are aliased to the name of the check that reads them.
    def countIf(name: String, c: Column) = count(when(c, lit(1))).as(name)
    val noLat = col("latitude").isNull
    val isLig = col("object_type") === "ligplaats"
    val isSta = col("object_type") === "standplaats"
    // Address side. Each address matches at most one DISTINCT openbare
    // ruimte id, so the join keeps the row count and a NULL __oid marks an
    // orphan (a NULL openbare_ruimte_id never matches).
    // Location presence is per object_type (documented deviation: the
    // reference tests gebruiksdoel='ligplaats'/'standplaats', values that
    // gebruiksdoel never takes, so its checks are vacuous).
    val zeroes = Seq(
      "adressen zonder openbare ruimte" -> col("__oid").isNull,
      "adressen zonder woonplaats" -> col("woonplaats_id").isNull,
      "adressen zonder gemeente" -> col("gemeente_id").isNull,
      "panden zonder locatie" -> (noLat && col("pand_id").isNotNull),
      "ligplaatsen zonder locatie" -> (noLat && isLig),
      "standplaatsen zonder locatie" -> (noLat && isSta))
    val floors = Seq(
      ("adressen", lit(true), th.minAdressen),
      ("adressen met pand", col("pand_id").isNotNull, th.minAdressenMetPand),
      ("ligplaatsen", isLig, th.minLigplaatsen),
      ("standplaatsen", isSta, th.minStandplaatsen))
    // Recency probes: top-1 ORDER BY DESC LIMIT 1 becomes max().
    // Woonplaats-override case (J7): 1181BN nr 1 lies in Amstelveen (1050).
    // On the full BAG several sub-addresses (huisletter/toevoeging variants)
    // share postcode+huisnummer: the lowest nummer_id decides, not
    // partition order. Other rows have a NULL ordering, which min_by skips.
    val oprIds = t.openbareRuimten.select(col("id").as("__oid")).distinct()
    val a = adressen
      .join(broadcast(oprIds), col("openbare_ruimte_id") === col("__oid"), "left")
      .select(Seq(
        max("nummer_begindatum_geldigheid").as("nummer_begin"),
        max("pand_begindatum_geldigheid").as("pand_begin"),
        min_by(col("woonplaats_id"),
          when(col("postcode") === "1181BN" && col("huisnummer") === 1, col("nummer_id")))
          .as("wpl_1181bn")) ++
        (zeroes ++ floors.map { case (name, c, _) => name -> c })
          .map { case (name, c) => countIf(name, c) }: _*)

    // Dimension side, again joined against distinct ids (a woonplaats
    // without a bridge row has a NULL gemeente_id: no match).
    val gem = t.gemeenten
      .join(adressen.select(col("gemeente_id").as("__agid")).distinct(),
        col("id") === col("__agid"), "left")
      .agg(
        countIf("gemeenten zonder adressen", col("__agid").isNull),
        count(lit(1)).as("gemeenten"),
        countIf("n_1900", col("id") === 1900),
        // UTF-8 canary: gemeente 1900 must read back with its diacritics
        min(when(col("id") === 1900, col("naam"))).as("naam_1900"))
    val wpl = graft.curate.Adressen
      .woonplaatsenWithGemeente(t.woonplaatsen, t.gemeenteWoonplaatsen)
      .join(t.gemeenten.select(col("id").as("__gid")).distinct(),
        col("gemeente_id") === col("__gid"), "left")
      .agg(countIf("woonplaatsen zonder gemeente", col("__gid").isNull),
        count(lit(1)).as("woonplaatsen"))
    // Every side aggregates to one row; one action runs them all.
    val r = a.crossJoin(gem).crossJoin(wpl)
      .crossJoin(t.openbareRuimten.agg(count(lit(1)).as("openbare ruimten")))
      .crossJoin(t.provincies.agg(count(lit(1)).as("provincies")))
      .head()

    def n(name: String) = r.getAs[Long](name)
    def zero(name: String) = Check(name, n(name), n(name) > 0)
    def threshold(name: String, min: Long) = Check(s"info: $name: ${n(name)}", n(name), n(name) < min)
    val golden = if (!goldenChecks) Nil else {
      val naam1900 = if (n("n_1900") == 0) "<missing>" else r.getAs[String]("naam_1900")
      val wpl1181 = Option(r.getAs[Any]("wpl_1181bn")).fold(-1L)(_.toString.toLong)
      Seq(Check(s"gemeente 1900 UTF-8: $naam1900", 1, naam1900 != "Súdwest-Fryslân"),
        Check(s"1181BN-1 woonplaats=$wpl1181 (verwacht 1050)", wpl1181, wpl1181 != 1050L))
    }
    val recency = Check(s"info: laatste nummer_begindatum=${r.getAs[Any]("nummer_begin")} " +
      s"pand_begindatum=${r.getAs[Any]("pand_begin")}", 0, isError = false)
    val dimFloors = Seq("openbare ruimten" -> th.minOpenbareRuimten,
      "woonplaatsen" -> th.minWoonplaatsen, "gemeenten" -> th.minGemeenten)
    val prov = n("provincies")
    Seq(recency) ++
      (Seq("gemeenten zonder adressen", "woonplaatsen zonder gemeente") ++ zeroes.map(_._1)).map(zero) ++
      golden ++
      (floors.map { case (name, _, min) => name -> min } ++ dimFloors).map((threshold _).tupled) :+
      Check(s"info: provincies: $prov", prov, prov != th.exactProvincies)
  }

  def errorCount(checks: Seq[Check]): Long = checks.count(_.isError)

  /** The adressen-frame-local subset of the threshold suite as named
    * boolean AGGREGATE audit columns — the form
    * [[graft.relational.Publish]]/[[graft.relational.Versioned.commitAudited]]
    * evaluate in one job over the files actually written. This is what
    * gates the curated layer's production publication
    * ([[Pipeline.publishCurated]]): a mis-joined or truncated build fails
    * the gate and never becomes the readable table. The cross-table
    * integrity checks (anti-joins against raw dims) stay in [[run]] —
    * audits are single-frame by design so the gate is one aggregation. */
  def auditColumns(th: Thresholds): Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "adressen >= min" ->
      (count(lit(1)) >= th.minAdressen),
    "adressen met pand >= min" ->
      (count(when(col("pand_id").isNotNull, 1)) >= th.minAdressenMetPand),
    "ligplaatsen >= min" ->
      (count(when(col("object_type") === "ligplaats", 1)) >= th.minLigplaatsen),
    "standplaatsen >= min" ->
      (count(when(col("object_type") === "standplaats", 1)) >= th.minStandplaatsen),
    "nummer_id niet null" ->
      (count(when(col("nummer_id").isNull, 1)) === 0),
    "nummer_id uniek" ->
      (count_distinct(col("nummer_id")) === count(lit(1))))
}
