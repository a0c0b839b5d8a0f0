package graft.ingest

import graft.Config
import graft.geo.GeoFunctions
import graft.model.BagSchemas
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * BAG XML ingestion — the Spark-first replacement of the reference's
 * hand-rolled SAX stack machine (reference: bag/bag_parser.py:12-120).
 *
 * Each object type is one declarative pipeline:
 *   native XML scan (explicit schema, rowTag)   [S2/S3]
 *   -> select/alias projection                  [P1]  (arrays replace comma-accumulation, P2)
 *   -> default-fill for absent tags             [P3]
 *   -> temporal-validity + status filter        [F1/F2]
 *   -> last-wins dedup by id                    [K2]
 *   -> coordinate enrichment                    [P6/P7/P8]
 *   -> GML rings -> GeoJSON (or '')             [P9]
 *
 * All steps are Catalyst-visible (select/filter/window/HOF) except the two
 * geo UDFs, so pushdown/pruning work on the scan. One XML file maps to one
 * (or more) input splits — on a cluster the per-file process pool of the
 * reference (bag_parser.py:439-469) becomes ordinary task parallelism, and
 * the single-writer SQLite sink becomes a parallel parquet write.
 */
object BagXml {

  /** Per-object-type ingest spec (reference: bag_parser.py:193-387). */
  final case class BagObjectSpec(
      name: String,                 // output table name, e.g. "nummers"
      rowTag: String,               // XML row tag, e.g. "Objecten:Nummeraanduiding"
      zipCode: String,              // inner-zip member code, e.g. "9999NUM"
      schema: StructType,
      statusActive: Option[String], // F2 constant, if any
      dedupById: Boolean,           // K2 REPLACE-INTO semantics
      project: DataFrame => DataFrame)

  // ---- shared column helpers -------------------------------------------------

  private def c(path: String*): Column = col(path.mkString("."))

  private val beginCol: Column =
    c("`Objecten:voorkomen`", "`Historie:Voorkomen`", "`Historie:beginGeldigheid`")
  private val eindCol: Column =
    c("`Objecten:voorkomen`", "`Historie:Voorkomen`", "`Historie:eindGeldigheid`")

  /** All posList rings of an array<polygon-struct>, exterior first then
    * interiors, in document order — mirrors the reference's "accumulate
    * every posList" (bag_parser.py:100-103). Result: array<string>, possibly
    * empty. */
  private def ringsOf(polys: Column): Column = {
    val rings = flatten(transform(polys, p => concat(
      array(p.getField("gml:exterior").getField("gml:LinearRing").getField("gml:posList")),
      coalesce(
        transform(p.getField("gml:interior"),
          i => i.getField("gml:LinearRing").getField("gml:posList")),
        array()))))
    coalesce(filter(rings, _.isNotNull), array())
  }

  private val polygonRings: Column =
    ringsOf(c("`Objecten:geometrie`", "`gml:Polygon`"))

  /** Woonplaats polygons appear bare, under Objecten:vlak, or under
    * Objecten:multivlak/gml:MultiSurface/gml:surfaceMember (ADVICE r1);
    * merge the rings of all three nestings in document-shape order. */
  private val woonplaatsRings: Column = concat(
    ringsOf(c("`Objecten:geometrie`", "`gml:Polygon`")),
    ringsOf(c("`Objecten:geometrie`", "`Objecten:vlak`", "`gml:Polygon`")),
    ringsOf(transform(
      c("`Objecten:geometrie`", "`Objecten:multivlak`", "`gml:MultiSurface`", "`gml:surfaceMember`"),
      m => m.getField("gml:Polygon"))))

  private def datesAndStatus(df: DataFrame): DataFrame = df
    .withColumn("status", coalesce(col("`Objecten:status`"), lit("")))
    .withColumn("begindatum_geldigheid", coalesce(beginCol, lit("")))
    .withColumn("einddatum_geldigheid", coalesce(eindCol, lit("")))

  private def str(path: Column): Column = coalesce(path, lit(""))

  // ---- specs (one per reference elif-block, bag_parser.py:193-387) -----------

  val woonplaats: BagObjectSpec = BagObjectSpec(
    "woonplaatsen", "Objecten:Woonplaats", "9999WPL", BagSchemas.woonplaats,
    // the reference table has PRIMARY KEY id + REPLACE INTO semantics
    // (database_sqlite.py:177-185): duplicate ids must last-win here too,
    // or the J1 broadcast join fans out per surviving duplicate
    statusActive = Some("Woonplaats aangewezen"), dedupById = true,
    project = df => datesAndStatus(df).select(
      col("`Objecten:identificatie`").cast("long").as("id"),
      str(col("`Objecten:naam`")).as("naam"),
      woonplaatsRings.as("geometry_rings"),
      col("status"), col("begindatum_geldigheid"), col("einddatum_geldigheid")))

  val gemeenteWoonplaatsRelatie: BagObjectSpec = BagObjectSpec(
    "gemeente_woonplaatsen", "gwr:GemeenteWoonplaatsRelatie", "GEM-WPL-RELATIE",
    BagSchemas.gemeenteWoonplaatsRelatie,
    statusActive = None, dedupById = false,
    project = df => df
      .withColumn("status", coalesce(col("`gwr:status`"), lit("")))
      .withColumn("begindatum_geldigheid",
        coalesce(c("`gwr:tijdvakgeldigheid`", "`bagtypes:begindatumTijdvakGeldigheid`"), lit("")))
      .withColumn("einddatum_geldigheid",
        coalesce(c("`gwr:tijdvakgeldigheid`", "`bagtypes:einddatumTijdvakGeldigheid`"), lit("")))
      .select(
        c("`gwr:gerelateerdeGemeente`", "`gwr:identificatie`").cast("long").as("gemeente_id"),
        c("`gwr:gerelateerdeWoonplaats`", "`gwr:identificatie`").cast("long").as("woonplaats_id"),
        col("status"), col("begindatum_geldigheid"), col("einddatum_geldigheid")))

  val openbareRuimte: BagObjectSpec = BagObjectSpec(
    "openbare_ruimten", "Objecten:OpenbareRuimte", "9999OPR", BagSchemas.openbareRuimte,
    statusActive = Some("Naamgeving uitgegeven"), dedupById = true,
    project = df => datesAndStatus(df).select(
      str(col("`Objecten:identificatie`")).as("id"),
      str(col("`Objecten:naam`")).as("lange_naam"),
      str(col("`nen5825:verkorteNaam`")).as("verkorte_naam"),
      str(col("`Objecten:type`")).as("type"),
      c("`Objecten:ligtIn`", "`Objecten-ref:WoonplaatsRef`").cast("long").as("woonplaats_id"),
      col("status"), col("begindatum_geldigheid"), col("einddatum_geldigheid")))

  val nummeraanduiding: BagObjectSpec = BagObjectSpec(
    "nummers", "Objecten:Nummeraanduiding", "9999NUM", BagSchemas.nummeraanduiding,
    statusActive = Some("Naamgeving uitgegeven"), dedupById = true,
    project = df => datesAndStatus(df).select(
      str(col("`Objecten:identificatie`")).as("id"),
      str(col("`Objecten:postcode`")).as("postcode"),
      col("`Objecten:huisnummer`").as("huisnummer"),
      str(col("`Objecten:huisletter`")).as("huisletter"),
      str(col("`Objecten:huisnummertoevoeging`")).as("toevoeging"),
      str(c("`Objecten:ligtAan`", "`Objecten-ref:OpenbareRuimteRef`")).as("openbare_ruimte_id"),
      // '' (not NULL) marks "no own woonplaats"; a non-empty value later
      // overrides the street's woonplaats (J7, database_sqlite.py:523-529).
      str(c("`Objecten:ligtIn`", "`Objecten-ref:WoonplaatsRef`")).as("woonplaats_id"),
      col("status"), col("begindatum_geldigheid"), col("einddatum_geldigheid")))

  val pand: BagObjectSpec = BagObjectSpec(
    "panden", "Objecten:Pand", "9999PND", BagSchemas.pand,
    statusActive = None, dedupById = true,
    project = df => datesAndStatus(df).select(
      str(col("`Objecten:identificatie`")).as("id"),
      col("`Objecten:oorspronkelijkBouwjaar`").as("bouwjaar"),
      polygonRings.as("geometry_rings"),
      col("status"), col("begindatum_geldigheid"), col("einddatum_geldigheid")))

  val verblijfsobject: BagObjectSpec = BagObjectSpec(
    "verblijfsobjecten", "Objecten:Verblijfsobject", "9999VBO", BagSchemas.verblijfsobject,
    statusActive = None, dedupById = true,
    project = df => datesAndStatus(df).select(
      str(col("`Objecten:identificatie`")).as("id"),
      str(c("`Objecten:heeftAlsHoofdadres`", "`Objecten-ref:NummeraanduidingRef`")).as("nummer_id"),
      coalesce(c("`Objecten:maaktDeelUitVan`", "`Objecten-ref:PandRef`"), array()).as("pand_id"),
      col("`Objecten:oppervlakte`").as("oppervlakte"),
      coalesce(col("`Objecten:gebruiksdoel`"), array()).as("gebruiksdoel"),
      coalesce(transform(col("`Objecten:heeftAlsNevenadres`"),
        n => n.getField("Objecten-ref:NummeraanduidingRef")), array()).as("nevenadressen"),
      str(c("`Objecten:geometrie`", "`Objecten:punt`", "`gml:Point`", "`gml:pos`")).as("pos"),
      col("status"), col("begindatum_geldigheid"), col("einddatum_geldigheid")))

  private def ligplaatsLike(name: String, rowTag: String, code: String): BagObjectSpec =
    BagObjectSpec(name, rowTag, code, BagSchemas.ligplaats,
      statusActive = None, dedupById = true,
      project = df => datesAndStatus(df).select(
        str(col("`Objecten:identificatie`")).as("id"),
        str(c("`Objecten:heeftAlsHoofdadres`", "`Objecten-ref:NummeraanduidingRef`")).as("nummer_id"),
        polygonRings.as("geometry_rings"),
        col("status"), col("begindatum_geldigheid"), col("einddatum_geldigheid")))

  val ligplaats: BagObjectSpec = ligplaatsLike("ligplaatsen", "Objecten:Ligplaats", "9999LIG")
  val standplaats: BagObjectSpec = ligplaatsLike("standplaatsen", "Objecten:Standplaats", "9999STA")

  val allSpecs: Seq[BagObjectSpec] = Seq(
    woonplaats, gemeenteWoonplaatsRelatie, openbareRuimte, nummeraanduiding,
    pand, verblijfsobject, ligplaats, standplaats)

  // ---- shared pipeline stages -------------------------------------------------

  /**
   * F1 temporal validity + F2 status filter (reference: bag_parser.py:15-35).
   * Lexicographic compare of the first 10 chars of the ISO date string —
   * codegen-friendly, no date parsing, exactly the reference's semantics:
   * missing begindatum => invalid; missing einddatum => valid.
   */
  def activeFilter(asOf: String, statusActive: Option[String]): Column = {
    val beginOk = col("begindatum_geldigheid") =!= "" &&
      substring(col("begindatum_geldigheid"), 1, 10) <= lit(asOf)
    val eindOk = col("einddatum_geldigheid") === "" ||
      substring(col("einddatum_geldigheid"), 1, 10) >= lit(asOf)
    val statusOk = statusActive.map(s => col("status") === lit(s)).getOrElse(lit(true))
    statusOk && beginOk && eindOk
  }

  /**
   * K2 last-wins dedup. The reference's REPLACE INTO keeps the last arrival,
   * which is nondeterministic under its process pool (bag_parser.py:458,
   * SURVEY.md §7.3) — we pick a deterministic winner instead: greatest
   * begindatum_geldigheid, ties broken by the remaining columns descending.
   *
   * This sits on the 9M-row ingest hot path, so the winner comes from the
   * native [[graft.functions.ArgMax]] hash aggregate: one
   * ObjectHashAggregate with map-side partials (each mapper ships one
   * winner per id it saw — shuffle volume is |ids|, independent of the
   * duplicate rate), where the r5 row_number window shuffled every parsed
   * row and sorted each id-group. The struct-max ordering (field-by-field
   * ascending, null fields smallest) is exactly the window's `ORDER BY ...
   * DESC NULLS LAST` chain, so the winner is unchanged.
   */
  def dedupLastWins(df: DataFrame, key: String = "id"): DataFrame = {
    // Order on SCALAR columns only (name-sorted for stability): comparing
    // array/struct columns (geometry rings!) field-by-field would make
    // every buffer compare walk entire posList payloads (VERDICT r1
    // scale-killer, window-era form shipped them as shuffle sort keys).
    val (complexCols, scalarCols) = df.schema.fields
      .filter(f => f.name != key && f.name != "begindatum_geldigheid")
      .partition(f => f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    val scalarTieBreak = scalarCols.map(_.name).sorted.map(col)
    // rows differing ONLY in array/struct payloads (e.g. geometry rings)
    // still need a deterministic winner: compare an 8-byte hash of those
    // columns instead of the payloads themselves.
    val complexTieBreak =
      if (complexCols.isEmpty) Nil
      else Seq(xxhash64(complexCols.map(_.name).sorted.map(col).toIndexedSeq: _*))
    val ord = struct(col("begindatum_geldigheid") +:
      (scalarTieBreak.toIndexedSeq ++ complexTieBreak): _*)
    val payload = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(col(key).as("__k"))
      .agg(graft.functions.VectorAggregates.argMax(ord, payload).as("__w"))
      .select(df.columns.map(c => col(s"__w.$c").as(c)).toIndexedSeq: _*)
  }

  /**
   * Read + normalize one BAG object type from a directory of XML files.
   *
   * @param xmlDir directory (or glob) of unzipped XML for this object type
   */
  def read(spark: SparkSession, xmlDir: String, spec: BagObjectSpec, cfg: Config): DataFrame = {
    val raw = spark.read.format("xml")
      .option("rowTag", spec.rowTag)
      .schema(spec.schema)
      .load(xmlDir)

    var df = spec.project(raw)
    if (cfg.activeOnly) df = df.filter(activeFilter(cfg.asOfDate, spec.statusActive))
    if (spec.dedupById) df = dedupLastWins(df)

    // P6/P7/P8 coordinate enrichment
    spec.name match {
      case "verblijfsobjecten" =>
        df = df
          .withColumn("__rd", GeoFunctions.posToRd(when(col("pos") =!= "", col("pos"))))
          .withColumn("__wgs", GeoFunctions.rdToWgs84(col("__rd.rd_x"), col("__rd.rd_y")))
          .select(col("id"), col("nummer_id"), col("pand_id"), col("oppervlakte"),
            col("__rd.rd_x").as("rd_x"), col("__rd.rd_y").as("rd_y"),
            col("__wgs.latitude").as("latitude"), col("__wgs.longitude").as("longitude"),
            col("gebruiksdoel"), col("nevenadressen"),
            col("status"), col("begindatum_geldigheid"), col("einddatum_geldigheid"))
      case "ligplaatsen" | "standplaatsen" =>
        df = df
          .withColumn("__rd", GeoFunctions.firstVertex(col("geometry_rings")))
          .withColumn("__wgs", GeoFunctions.rdToWgs84(col("__rd.rd_x"), col("__rd.rd_y")))
          .withColumn("geometry", geoJsonOrEmpty(cfg, is3d = false))
          .select(col("id"), col("nummer_id"),
            col("__rd.rd_x").as("rd_x"), col("__rd.rd_y").as("rd_y"),
            col("__wgs.latitude").as("latitude"), col("__wgs.longitude").as("longitude"),
            col("geometry"),
            col("status"), col("begindatum_geldigheid"), col("einddatum_geldigheid"))
      case "woonplaatsen" =>
        df = df
          .withColumn("geometry", geoJsonOrEmpty(cfg, is3d = false))
          .select(col("id"), col("naam"), col("geometry"),
            col("status"), col("begindatum_geldigheid"), col("einddatum_geldigheid"))
      case "panden" =>
        // Pand geometry is 3D (x y z); z is dropped (reference: bag_parser.py:57-59)
        df = df
          .withColumn("geometry", geoJsonOrEmpty(cfg, is3d = true))
          .select(col("id"), col("bouwjaar"), col("geometry"),
            col("status"), col("begindatum_geldigheid"), col("einddatum_geldigheid"))
      case _ => // nummers, openbare_ruimten, gemeente_woonplaatsen: no geometry
    }
    df
  }

  /** P9: GML rings -> GeoJSON string, or '' when parse_geometries is off
    * (reference: bag_parser.py:114-118, config.py:39-43). When off, the
    * geometry column is never computed — column pruning by construction. */
  private def geoJsonOrEmpty(cfg: Config, is3d: Boolean): Column =
    if (cfg.parseGeometries)
      GeoFunctions.ringsToWgs84GeoJson(col("geometry_rings"), lit(is3d))
    else lit("")
}
