package graft.model

import org.apache.spark.sql.types._

/**
 * Explicit XML schemas for the 8 BAG object types (no schema inference —
 * the reference declares its tag->column maps by hand, bag_parser.py:193-387).
 *
 * Element names keep their LVBAG namespace prefixes verbatim
 * ("Objecten:", "Objecten-ref:", "Historie:", "nen5825:", "gml:", "gwr:",
 * "bagtypes:"); Spark's native XML source matches on the prefixed name.
 * Repeated tags (gebruiksdoel, PandRef, heeftAlsNevenadres, interior rings)
 * are declared ArrayType — this replaces the reference's comma-accumulation
 * (bag_parser.py:92-93,102-103) with real arrays.
 */
object BagSchemas {

  /** Objecten:voorkomen/Historie:Voorkomen/{begin,eind}Geldigheid */
  val voorkomen: StructField = StructField(
    "Objecten:voorkomen",
    StructType(Seq(StructField("Historie:Voorkomen", StructType(Seq(
      StructField("Historie:beginGeldigheid", StringType),
      StructField("Historie:eindGeldigheid", StringType)))))))

  /** gml:Polygon with one exterior and 0..n interior rings. */
  private val polygon: DataType = StructType(Seq(
    StructField("gml:exterior", StructType(Seq(
      StructField("gml:LinearRing", StructType(Seq(
        StructField("gml:posList", StringType))))))),
    StructField("gml:interior", ArrayType(StructType(Seq(
      StructField("gml:LinearRing", StructType(Seq(
        StructField("gml:posList", StringType))))))))))

  /** Objecten:geometrie holding 1..n polygons (multi-vlak accumulates rings). */
  val polygonGeometrie: StructField = StructField(
    "Objecten:geometrie", StructType(Seq(
      StructField("gml:Polygon", ArrayType(polygon)))))

  /** Woonplaats geometry in real LVBAG extracts nests polygons under
    * Objecten:vlak or Objecten:multivlak/gml:MultiSurface/gml:surfaceMember,
    * not (only) directly under Objecten:geometrie (ADVICE r1; the reference
    * SAX parser collects every gml:posList regardless of nesting,
    * bag_parser.py:100-103). Declare all three shapes; the projection merges
    * their rings. */
  val woonplaatsGeometrie: StructField = StructField(
    "Objecten:geometrie", StructType(Seq(
      StructField("gml:Polygon", ArrayType(polygon)),
      StructField("Objecten:vlak", StructType(Seq(
        StructField("gml:Polygon", ArrayType(polygon))))),
      StructField("Objecten:multivlak", StructType(Seq(
        StructField("gml:MultiSurface", StructType(Seq(
          StructField("gml:surfaceMember", ArrayType(StructType(Seq(
            StructField("gml:Polygon", polygon))))))))))))))

  /** Objecten:geometrie/Objecten:punt/gml:Point/gml:pos — VBO point. */
  val puntGeometrie: StructField = StructField(
    "Objecten:geometrie", StructType(Seq(
      StructField("Objecten:punt", StructType(Seq(
        StructField("gml:Point", StructType(Seq(
          StructField("gml:pos", StringType))))))))))

  private def s(name: String): StructField = StructField(name, StringType)

  val woonplaats: StructType = StructType(Seq(
    s("Objecten:identificatie"), s("Objecten:naam"), s("Objecten:status"),
    woonplaatsGeometrie, voorkomen))

  val gemeenteWoonplaatsRelatie: StructType = StructType(Seq(
    StructField("gwr:gerelateerdeWoonplaats", StructType(Seq(
      s("gwr:identificatie")))),
    StructField("gwr:gerelateerdeGemeente", StructType(Seq(
      s("gwr:identificatie")))),
    s("gwr:status"),
    StructField("gwr:tijdvakgeldigheid", StructType(Seq(
      s("bagtypes:begindatumTijdvakGeldigheid"),
      s("bagtypes:einddatumTijdvakGeldigheid"))))))

  val openbareRuimte: StructType = StructType(Seq(
    s("Objecten:identificatie"), s("Objecten:naam"), s("nen5825:verkorteNaam"),
    s("Objecten:type"), s("Objecten:aanduidingRecordInactief"),
    s("Objecten:status"),
    StructField("Objecten:ligtIn", StructType(Seq(
      s("Objecten-ref:WoonplaatsRef")))),
    voorkomen))

  val nummeraanduiding: StructType = StructType(Seq(
    s("Objecten:identificatie"), s("Objecten:postcode"),
    StructField("Objecten:huisnummer", IntegerType),
    s("Objecten:huisletter"), s("Objecten:huisnummertoevoeging"),
    s("Objecten:status"),
    StructField("Objecten:ligtAan", StructType(Seq(
      s("Objecten-ref:OpenbareRuimteRef")))),
    StructField("Objecten:ligtIn", StructType(Seq(
      s("Objecten-ref:WoonplaatsRef")))),
    voorkomen))

  val pand: StructType = StructType(Seq(
    s("Objecten:identificatie"),
    StructField("Objecten:oorspronkelijkBouwjaar", IntegerType),
    s("Objecten:status"), polygonGeometrie, voorkomen))

  val verblijfsobject: StructType = StructType(Seq(
    s("Objecten:identificatie"),
    StructField("Objecten:oppervlakte", DoubleType),
    StructField("Objecten:gebruiksdoel", ArrayType(StringType)),
    s("Objecten:status"),
    puntGeometrie,
    StructField("Objecten:maaktDeelUitVan", StructType(Seq(
      StructField("Objecten-ref:PandRef", ArrayType(StringType))))),
    // same child tag NummeraanduidingRef under two different parents — the
    // reference's parent-qualified disambiguation (bag_parser.py:325-328)
    // is just an explicit path here.
    StructField("Objecten:heeftAlsHoofdadres", StructType(Seq(
      s("Objecten-ref:NummeraanduidingRef")))),
    StructField("Objecten:heeftAlsNevenadres", ArrayType(StructType(Seq(
      s("Objecten-ref:NummeraanduidingRef"))))),
    voorkomen))

  val ligplaats: StructType = StructType(Seq(
    s("Objecten:identificatie"), s("Objecten:aanduidingRecordInactief"),
    s("Objecten:status"), polygonGeometrie,
    StructField("Objecten:heeftAlsHoofdadres", StructType(Seq(
      s("Objecten-ref:NummeraanduidingRef")))),
    voorkomen))
}
