package graft

import java.io.{BufferedInputStream, BufferedOutputStream, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.curate.Adressen
import org.apache.spark.sql.SparkSession

/**
 * Ingest-throughput probe at reference-comparable scale — the evidence the
 * north-star parity claim was missing: the reference's headline number is
 * the full import (9M addresses in ~360 s ≈ 25k addresses/s,
 * readme.MD:86-87), its profile "Parsing XML is 90%"
 * (database_sqlite.py:16-17), and until this probe the repo only measured
 * TPC-H-ish query shapes plus fixture-scale pipeline tests.
 *
 * This main (a) GENERATES a synthetic LVBAG extract — the real layout: an
 * outer zip of per-object-type inner zips, each holding many XML files —
 * at a configurable address count (default ~1M), with the reference's mess
 * mixed in (duplicate ids, expired/future/wrong-status rows, multi-pand
 * verblijfsobjecten, nevenadressen, ligplaats/standplaats overrides,
 * woonplaats overrides, dummy bouwjaar/oppervlakte, orphan addresses under
 * the U3 tripwire), then (b) runs the FULL production path —
 * BagZip.stage → BagXml raw tables → parquet materialize →
 * Adressen.curated → Validate at proportionally scaled thresholds — with
 * per-stage walls, and prints one JSON line with addresses/s next to the
 * reference's ~25k/s.
 *
 * Everything is deterministic (index-derived, no RNG), so the expected
 * cardinalities are exact: `adressen == n (+1 planted golden row when the
 * woonplaats universe is big enough for the 1181BN fixture)` — the 50
 * orphan extras are deleted by U3 (50 < deleteOrphansBelow=100), the
 * expired/future/wrong-status extras by F1/F2, and duplicate ids collapse
 * by K2 last-wins. Validation `errors == 0` therefore proves the import
 * END-TO-END at scale, not just wall-clock.
 */
object BagScaleProbe {

  // ---------------------------------------------------------------- layout
  // n must divide evenly into the deterministic strata below
  private val Granule = 600 // lcm(300 kind cycle, 40 addresses/street)
  private val ObjectsPerMember = 5000

  final case class Shape(n: Int) {
    require(n > 0 && n % Granule == 0, s"n must be a positive multiple of $Granule: $n")
    val nStreets: Int = n / 40
    val nWpl: Int = math.min(2500, math.max(3, nStreets / 10))
    val nGem: Int = math.min(300, math.max(2, nWpl / 2)) // + gemeente 1900
    val nPand: Int = n * 4 / 5
    val nLig: Int = n / 300 // i % 300 == 7
    val nSta: Int = n / 300 // i % 300 == 8
    val nExtra: Int = math.max(10, n / 200) // each of expired/future/wrong-status
    /** the 1181BN golden fixture needs woonplaats id 1050 (= index 50) */
    val planted: Boolean = nWpl > 50
    val expectedAdressen: Long = n.toLong + (if (planted) 1 else 0)
    val nProvincies: Int = if (nGem >= 12) 12 else nGem + 1
  }

  // ------------------------------------------------- deterministic entities
  private def numId(i: Long) = f"0363200$i%09d"
  private def oprId(s: Int) = f"0363300$s%09d"
  private def pndId(p: Int) = f"0363100$p%09d"
  private def vboId(i: Int) = f"0363010$i%09d"
  private def ligId(k: Int) = f"0363020$k%09d"
  private def staId(k: Int) = f"0363030$k%09d"
  private def wplId(w: Int): Int = 1000 + w

  private def street(i: Int): Int = i / 40
  private def wplOf(s: Int, sh: Shape): Int = s % sh.nWpl
  /** gemeente code for woonplaats w: cycles 1..nGem then 1900. */
  private def gemOf(w: Int, sh: Shape): Int = {
    val idx = w % (sh.nGem + 1)
    if (idx == sh.nGem) 1900 else idx + 1
  }
  private def postcode(s: Int): String = {
    val digits = 2000 + s % 7999 // 2000..9998 — never the golden 1181
    val a = ('A' + (s / 26) % 26).toChar
    val b = ('A' + s % 26).toChar
    s"$digits$a$b"
  }
  /** address kind by index: lig/sta strata are disjoint from the novbo
    * stratum because 300 is a multiple of 25 (7/8 mod 300 → 7/8 mod 25). */
  private def isLig(i: Int) = i % 300 == 7
  private def isSta(i: Int) = i % 300 == 8
  private def isNoVbo(i: Int) = i % 25 == 0 // nevenadres backfill targets

  // RD-valid coordinate grid (x in [0,290k], y in [290k,630k])
  private def rdX(i: Int): Int = 15000 + (i % 1000) * 200
  private def rdY(i: Int): Int = 315000 + ((i / 1000) % 1400) * 200

  // ------------------------------------------------------------ XML pieces
  private val nsDecl =
    """xmlns:Objecten="www.kadaster.nl/schemas/lvbag/imbag/objecten/v20200601"
      |xmlns:Objecten-ref="www.kadaster.nl/schemas/lvbag/imbag/objecten-ref/v20200601"
      |xmlns:Historie="www.kadaster.nl/schemas/lvbag/imbag/historie/v20200601"
      |xmlns:nen5825="www.kadaster.nl/schemas/lvbag/imbag/nen5825/v20200601"
      |xmlns:gml="http://www.opengis.net/gml/3.2"
      |xmlns:gwr="www.kadaster.nl/schemas/lvbag/gem-wpl-rel/gwr-producten-lvc/v20200601"
      |xmlns:bagtypes="www.kadaster.nl/schemas/lvbag/gem-wpl-rel/bag-types/v20200601"
      |xmlns:sl="http://www.kadaster.nl/schemas/standlevering-generiek/1.0.0"""".stripMargin.replace("\n", " ")

  private def voorkomen(sb: StringBuilder, begin: String, eind: String = ""): Unit = {
    sb.append("<Objecten:voorkomen><Historie:Voorkomen><Historie:beginGeldigheid>")
      .append(begin).append("</Historie:beginGeldigheid>")
    if (eind.nonEmpty)
      sb.append("<Historie:eindGeldigheid>").append(eind).append("</Historie:eindGeldigheid>")
    sb.append("<Historie:tijdstipRegistratie>").append(begin)
      .append("T00:00:00</Historie:tijdstipRegistratie></Historie:Voorkomen></Objecten:voorkomen>")
  }

  private def squareRing(x: Int, y: Int, d: Int, z: Boolean): String = {
    val zs = if (z) " 0" else ""
    s"$x $y$zs ${x + d} $y$zs ${x + d} ${y + d}$zs $x $y$zs"
  }

  private def polygon(sb: StringBuilder, ring: String): Unit =
    sb.append("<Objecten:geometrie><gml:Polygon srsName=\"urn:ogc:def:crs:EPSG::28992\">")
      .append("<gml:exterior><gml:LinearRing><gml:posList>").append(ring)
      .append("</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon></Objecten:geometrie>")

  private def writeWoonplaats(sb: StringBuilder, w: Int): Unit = {
    val id = wplId(w)
    val ring = squareRing(rdX(w), rdY(w), 100, z = false)
    val gmlPoly = "<gml:Polygon srsName=\"urn:ogc:def:crs:EPSG::28992\"><gml:exterior>" +
      s"<gml:LinearRing><gml:posList>$ring</gml:posList></gml:LinearRing></gml:exterior></gml:Polygon>"
    sb.append("<Objecten:Woonplaats><Objecten:identificatie domein=\"NL.IMBAG.Woonplaats\">")
      .append(id).append("</Objecten:identificatie><Objecten:naam>Woonplaats ")
      .append(id).append("</Objecten:naam>")
    // real LVBAG nests polygons three ways — rotate through all of them
    w % 3 match {
      case 0 => polygon(sb, ring)
      case 1 => sb.append("<Objecten:geometrie><Objecten:vlak>").append(gmlPoly)
        .append("</Objecten:vlak></Objecten:geometrie>")
      case _ => sb.append("<Objecten:geometrie><Objecten:multivlak>")
        .append("<gml:MultiSurface srsName=\"urn:ogc:def:crs:EPSG::28992\"><gml:surfaceMember>")
        .append(gmlPoly).append("</gml:surfaceMember></gml:MultiSurface>")
        .append("</Objecten:multivlak></Objecten:geometrie>")
    }
    sb.append("<Objecten:status>Woonplaats aangewezen</Objecten:status>")
    voorkomen(sb, "2010-01-01")
    sb.append("</Objecten:Woonplaats>")
  }

  private def writeGwr(sb: StringBuilder, w: Int, sh: Shape): Unit =
    sb.append("<gwr:GemeenteWoonplaatsRelatie><gwr:tijdvakgeldigheid>")
      .append("<bagtypes:begindatumTijdvakGeldigheid>2010-01-01</bagtypes:begindatumTijdvakGeldigheid>")
      .append("</gwr:tijdvakgeldigheid><gwr:gerelateerdeWoonplaats><gwr:identificatie>")
      .append(wplId(w)).append("</gwr:identificatie></gwr:gerelateerdeWoonplaats>")
      .append("<gwr:gerelateerdeGemeente><gwr:identificatie>").append(gemOf(w, sh))
      .append("</gwr:identificatie></gwr:gerelateerdeGemeente>")
      .append("<gwr:status>definitief</gwr:status></gwr:GemeenteWoonplaatsRelatie>")

  private def writeStreet(sb: StringBuilder, s: Int, sh: Shape): Unit = {
    sb.append("<Objecten:OpenbareRuimte><Objecten:identificatie>").append(oprId(s))
      .append("</Objecten:identificatie><Objecten:naam>Straat ").append(s).append("</Objecten:naam>")
    if (s % 5 == 0)
      sb.append("<nen5825:verkorteNaam>Str ").append(s).append("</nen5825:verkorteNaam>")
    sb.append("<Objecten:type>Weg</Objecten:type>")
      .append("<Objecten:status>Naamgeving uitgegeven</Objecten:status>")
      .append("<Objecten:ligtIn><Objecten-ref:WoonplaatsRef>").append(wplId(wplOf(s, sh)))
      .append("</Objecten-ref:WoonplaatsRef></Objecten:ligtIn>")
    voorkomen(sb, "2010-01-01")
    sb.append("</Objecten:OpenbareRuimte>")
  }

  private def writeNummer(sb: StringBuilder, id: String, opr: String, huisnummer: Int,
      pc: String, huisletter: String, toevoeging: String, wplRef: Int,
      begin: String, eind: String, status: String): Unit = {
    sb.append("<Objecten:Nummeraanduiding><Objecten:identificatie>").append(id)
      .append("</Objecten:identificatie><Objecten:huisnummer>").append(huisnummer)
      .append("</Objecten:huisnummer>")
    if (huisletter.nonEmpty)
      sb.append("<Objecten:huisletter>").append(huisletter).append("</Objecten:huisletter>")
    if (toevoeging.nonEmpty)
      sb.append("<Objecten:huisnummertoevoeging>").append(toevoeging)
        .append("</Objecten:huisnummertoevoeging>")
    if (pc.nonEmpty)
      sb.append("<Objecten:postcode>").append(pc).append("</Objecten:postcode>")
    sb.append("<Objecten:status>").append(status).append("</Objecten:status>")
      .append("<Objecten:ligtAan><Objecten-ref:OpenbareRuimteRef>").append(opr)
      .append("</Objecten-ref:OpenbareRuimteRef></Objecten:ligtAan>")
    if (wplRef > 0)
      sb.append("<Objecten:ligtIn><Objecten-ref:WoonplaatsRef>").append(wplRef)
        .append("</Objecten-ref:WoonplaatsRef></Objecten:ligtIn>")
    voorkomen(sb, begin, eind)
    sb.append("</Objecten:Nummeraanduiding>")
  }

  private def writeRegularNummer(sb: StringBuilder, i: Int, sh: Shape): Unit = {
    val s = street(i)
    val hl = if (i % 20 == 3) "A" else ""
    val tv = if (i % 20 == 7) "2" else ""
    // J7: every 200th address carries its own woonplaats — a DIFFERENT one
    // than its street's, so the override is observable
    val ownWpl = if (i % 200 == 9) wplId((wplOf(s, sh) + 1) % sh.nWpl) else 0
    writeNummer(sb, numId(i), oprId(s), i % 400 + 1, postcode(s), hl, tv, ownWpl,
      "2010-01-01", "", "Naamgeving uitgegeven")
    // K2: every 500th id appears twice; the later voorkomen must win
    if (i % 500 == 11)
      writeNummer(sb, numId(i), oprId(s), i % 400 + 1, "9999ZZ", hl, tv, ownWpl,
        "2015-01-01", "", "Naamgeving uitgegeven")
  }

  private def writePand(sb: StringBuilder, p: Int): Unit = {
    val bouwjaar = if (p % 100 == 13) 9999 else 1900 + p % 120 // U1 dummy mix
    sb.append("<Objecten:Pand><Objecten:identificatie>").append(pndId(p))
      .append("</Objecten:identificatie>")
    polygon(sb, squareRing(rdX(p), rdY(p), 10, z = true))
    sb.append("<Objecten:oorspronkelijkBouwjaar>").append(bouwjaar)
      .append("</Objecten:oorspronkelijkBouwjaar>")
      .append("<Objecten:status>Pand in gebruik</Objecten:status>")
    voorkomen(sb, "2010-01-01")
    sb.append("</Objecten:Pand>")
  }

  private def writeVbo(sb: StringBuilder, i: Int, sh: Shape): Unit = {
    val p = i % sh.nPand
    val panden = if (i % 50 == 3) Seq(p, (p + 1) % sh.nPand) else Seq(p) // J3 multi-pand
    val opp = if (i % 100 == 17) 999999 else if (i % 100 == 19) 1 else 20 + i % 480
    val doelen = i % 3 match {
      case 0 => Seq("woonfunctie")
      case 1 => Seq("woonfunctie", "winkelfunctie")
      case _ => Seq("kantoorfunctie")
    }
    sb.append("<Objecten:Verblijfsobject><Objecten:heeftAlsHoofdadres>")
      .append("<Objecten-ref:NummeraanduidingRef domein=\"NL.IMBAG.Nummeraanduiding\">")
      .append(numId(i)).append("</Objecten-ref:NummeraanduidingRef></Objecten:heeftAlsHoofdadres>")
    // J6: the (vbo-less) predecessor address is this vbo's nevenadres
    if (i % 25 == 1)
      sb.append("<Objecten:heeftAlsNevenadres><Objecten-ref:NummeraanduidingRef>")
        .append(numId(i - 1))
        .append("</Objecten-ref:NummeraanduidingRef></Objecten:heeftAlsNevenadres>")
    sb.append("<Objecten:identificatie>").append(vboId(i)).append("</Objecten:identificatie>")
      .append("<Objecten:geometrie><Objecten:punt>")
      .append("<gml:Point srsName=\"urn:ogc:def:crs:EPSG::28992\"><gml:pos>")
      .append(rdX(i)).append(' ').append(rdY(i)).append(" 0.0")
      .append("</gml:pos></gml:Point></Objecten:punt></Objecten:geometrie>")
    doelen.foreach(d =>
      sb.append("<Objecten:gebruiksdoel>").append(d).append("</Objecten:gebruiksdoel>"))
    sb.append("<Objecten:oppervlakte>").append(opp).append("</Objecten:oppervlakte>")
      .append("<Objecten:status>Verblijfsobject in gebruik</Objecten:status>")
      .append("<Objecten:maaktDeelUitVan>")
    panden.foreach(pp =>
      sb.append("<Objecten-ref:PandRef>").append(pndId(pp)).append("</Objecten-ref:PandRef>"))
    sb.append("</Objecten:maaktDeelUitVan>")
    voorkomen(sb, "2012-01-01")
    sb.append("</Objecten:Verblijfsobject>")
  }

  private def writePlaats(sb: StringBuilder, kind: String, id: String, hoofd: String,
      i: Int): Unit = {
    sb.append('<').append("Objecten:").append(kind)
      .append("><Objecten:heeftAlsHoofdadres><Objecten-ref:NummeraanduidingRef>")
      .append(hoofd).append("</Objecten-ref:NummeraanduidingRef></Objecten:heeftAlsHoofdadres>")
      .append("<Objecten:identificatie>").append(id).append("</Objecten:identificatie>")
    polygon(sb, squareRing(rdX(i), rdY(i), 20, z = false))
    sb.append("<Objecten:status>Plaats aangewezen</Objecten:status>")
    voorkomen(sb, "2011-01-01")
    sb.append("</Objecten:").append(kind).append('>')
  }

  // --------------------------------------------------------- zip plumbing
  /** Write one inner zip: `parts` index ranges, ~5k objects per XML member,
    * each member a complete sl:standBestand document. Deflate level 1 —
    * this is probe SETUP, not the measured import. */
  private def writeInnerZip(path: java.nio.file.Path, indices: Range,
      writeOne: (StringBuilder, Int) => Unit): Unit = {
    val zout = new ZipOutputStream(new BufferedOutputStream(
      new FileOutputStream(path.toFile), 1 << 16))
    zout.setLevel(1)
    try {
      indices.grouped(ObjectsPerMember).zipWithIndex.foreach { case (chunk, m) =>
        zout.putNextEntry(new ZipEntry(f"${path.getFileName.toString.stripSuffix(".zip")}-$m%04d.xml"))
        val sb = new StringBuilder(1 << 22)
        sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<sl:standBestand ")
          .append(nsDecl).append(">\n")
        chunk.foreach { i =>
          sb.append("<sl:stand>")
          writeOne(sb, i)
          sb.append("</sl:stand>\n")
        }
        sb.append("</sl:standBestand>")
        zout.write(sb.toString.getBytes(StandardCharsets.UTF_8))
        zout.closeEntry()
      }
    } finally zout.close()
  }

  /** Pack the inner zips into the outer extract zip (level 0 — the members
    * are already deflated). */
  private def packOuter(outer: java.nio.file.Path, inners: Seq[java.nio.file.Path]): Unit = {
    val zout = new ZipOutputStream(new BufferedOutputStream(
      new FileOutputStream(outer.toFile), 1 << 16))
    zout.setLevel(0)
    try inners.foreach { p =>
      zout.putNextEntry(new ZipEntry(p.getFileName.toString))
      val in = new BufferedInputStream(new FileInputStream(p.toFile), 1 << 16)
      try {
        val buf = new Array[Byte](1 << 16)
        var r = in.read(buf)
        while (r >= 0) { zout.write(buf, 0, r); r = in.read(buf) }
      } finally in.close()
      zout.closeEntry()
    } finally zout.close()
  }

  // ------------------------------------------------------------- generator
  /** Generate the synthetic extract (outer zip + gemeenten.csv) under
    * `workDir`. Skipped when a marker for the same `n` already exists.
    * Returns (outerZipPath, csvPath). */
  def generate(workDir: String, n: Int): (String, String) = {
    val sh = Shape(n)
    val root = Paths.get(workDir)
    Files.createDirectories(root)
    val outer = root.resolve("bag_synth.zip")
    val csv = root.resolve("gemeenten.csv")
    val marker = root.resolve(s".generated-$n")
    if (Files.exists(marker) && Files.exists(outer) && Files.exists(csv))
      return (outer.toString, csv.toString)

    // gemeenten.csv: codes 1..nGem cycling 12 provinces, plus the UTF-8
    // canary gemeente 1900 in province 12
    val csvSb = new StringBuilder()
    csvSb.append("Gemeentecode,GemeentecodeGM,Gemeentenaam,Provinciecode,ProvinciecodePV,Provincienaam\n")
    (1 to sh.nGem).foreach { g =>
      val pv = (g - 1) % 12 + 1
      csvSb.append(f"$g%04d,GM$g%04d,Gemeente $g,$pv%02d,PV$pv%02d,Provincie $pv\n")
    }
    csvSb.append("1900,GM1900,Súdwest-Fryslân,12,PV12,Provincie 12\n")
    Files.write(csv, csvSb.toString.getBytes(StandardCharsets.UTF_8))

    val innerDir = root.resolve("inner")
    Files.createDirectories(innerDir)

    // work items: (zip file name, index range, object writer)
    def parts(code: String, total: Int, nParts: Int,
        writeOne: (StringBuilder, Int) => Unit): Seq[(String, Range, (StringBuilder, Int) => Unit)] = {
      val per = math.max(1, (total + nParts - 1) / nParts)
      (0 until nParts).flatMap { k =>
        val lo = k * per
        val hi = math.min(total, (k + 1) * per)
        if (lo >= hi) None else Some((s"$code-p$k.zip", lo until hi, writeOne))
      }
    }

    val numWriter: (StringBuilder, Int) => Unit = (sb, i) => {
      writeRegularNummer(sb, i, sh)
      if (i == 0) { // extras ride in the first member of part 0
        // U3 orphans: valid-status addresses on a street that does not
        // exist — exactly 50 (< deleteOrphansBelow), so the conditional
        // delete FIRES and removes them
        (0 until 50).foreach(j => writeNummer(sb, numId(sh.n + j),
          "0363300999999999", j + 1, "1234AB", "", "", 0,
          "2010-01-01", "", "Naamgeving uitgegeven"))
        // F1 expired / F1 future / F2 wrong-status extras — all filtered
        (0 until sh.nExtra).foreach { j =>
          writeNummer(sb, numId(sh.n + 1000L + j), oprId(j % sh.nStreets),
            j % 400 + 1, "1111AA", "", "", 0, "2010-01-01", "2020-01-01",
            "Naamgeving uitgegeven")
          writeNummer(sb, numId(sh.n + 1000L + sh.nExtra + j), oprId(j % sh.nStreets),
            j % 400 + 1, "1111AA", "", "", 0, "2031-01-01", "",
            "Naamgeving uitgegeven")
          writeNummer(sb, numId(sh.n + 1000L + 2L * sh.nExtra + j), oprId(j % sh.nStreets),
            j % 400 + 1, "1111AA", "", "", 0, "2010-01-01", "",
            "Naamgeving ingetrokken")
        }
        // the 1181BN golden-check fixture (Validate): huisnummer 1 with an
        // own-woonplaats override to 1050
        if (sh.planted)
          writeNummer(sb, "0363200999999991", oprId(0), 1, "1181BN", "", "",
            1050, "2010-01-01", "", "Naamgeving uitgegeven")
      }
    }

    val ligIdx = (0 until sh.n).filter(isLig)
    val staIdx = (0 until sh.n).filter(isSta)
    val work: Seq[(String, Range, (StringBuilder, Int) => Unit)] =
      Seq(("9999WPL.zip", 0 until sh.nWpl, (sb: StringBuilder, w: Int) => writeWoonplaats(sb, w)),
        ("GEM-WPL-RELATIE.zip", 0 until sh.nWpl, (sb: StringBuilder, w: Int) => writeGwr(sb, w, sh))) ++
      parts("9999OPR", sh.nStreets, 2, (sb, s) => writeStreet(sb, s, sh)) ++
      parts("9999NUM", sh.n, 6, numWriter) ++
      parts("9999PND", sh.nPand, 6, (sb, p) => writePand(sb, p)) ++
      parts("9999VBO", sh.n, 8, (sb, i) =>
        if (!isLig(i) && !isSta(i) && !isNoVbo(i)) writeVbo(sb, i, sh)) ++
      Seq(("9999LIG.zip", ligIdx.indices, (sb: StringBuilder, k: Int) =>
          writePlaats(sb, "Ligplaats", ligId(k), numId(ligIdx(k)), ligIdx(k))),
        ("9999STA.zip", staIdx.indices, (sb: StringBuilder, k: Int) =>
          writePlaats(sb, "Standplaats", staId(k), numId(staIdx(k)), staIdx(k))))

    val pool = Executors.newFixedThreadPool(
      math.min(16, Runtime.getRuntime.availableProcessors()))
    try {
      work.map { case (name, range, writeOne) =>
        pool.submit(new Runnable {
          def run(): Unit = writeInnerZip(innerDir.resolve(name), range, writeOne)
        })
      }.foreach(_.get())
    } finally pool.shutdown()

    packOuter(outer, work.map(w => innerDir.resolve(w._1)))
    // inner zips served their purpose; keep the footprint bounded
    work.foreach(w => Files.deleteIfExists(innerDir.resolve(w._1)))
    Files.write(marker, Array.emptyByteArray)
    (outer.toString, csv.toString)
  }

  // ----------------------------------------------------------------- probe
  final case class Result(n: Int, adressen: Long, errors: Long,
      secStage: Double, secRaw: Double, secCurate: Double, secValidate: Double) {
    def secImport: Double = secStage + secRaw + secCurate
    def addressesPerSec: Double = adressen / secImport

    /** The record as JSON object members (no braces): the one format of
      * the probe's output line and of Bench's `bag_import` object. The
      * four seconds split the run into stage, raw XML, curate and
      * validate; `sec_import` is the first three, the reference's window. */
    def jsonFields: String =
      s""""n":$n,"adressen":$adressen,"errors":$errors,""" +
        s""""parse_geometries":${probeCfg.parseGeometries},""" +
        s""""sec_stage":$secStage,"sec_raw_xml":$secRaw,"sec_curate":$secCurate,""" +
        s""""sec_validate":$secValidate,"sec_import":$secImport,""" +
        s""""addresses_per_sec":${addressesPerSec.round},"reference_addresses_per_sec":25000"""
  }

  /** The probe's pipeline Config — geometry parsing ON (the reference's
    * heavier configuration, readme.MD:87-88: every pand/lig/standplaats
    * GML polygon is parsed, RD->WGS84-transformed and serialized to
    * GeoJSON during the import). The generated extract always CONTAINS
    * geometries, so with this flag the probe prices the full work. */
  private[graft] val probeCfg = Config(asOfDate = "2024-06-30")

  /** Stage → raw-materialize → curate → validate, each timed. The three
    * import stages are the reference's measured window (readme.MD:86-87
    * times parse+insert+index, not validation). */
  def run(spark: SparkSession, workDir: String, n: Int): Result = {
    val sh = Shape(n)
    val (outerZip, csvPath) = generate(workDir, n)
    val cfg = probeCfg
    val layout = Pipeline.Layout(s"$workDir/staging", s"$workDir/warehouse")
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    Pipeline.withXmlSplits(spark) {
      val (xmlDirs, tStage) = timed(ingest.BagZip.stage(outerZip, layout.stagingDir))
      val (raw, tRaw) = timed {
        val r0 = Pipeline.rawTables(spark, xmlDirs, csvPath, cfg)
        Pipeline.materialize(spark, r0, s"${layout.warehouseDir}/raw")
      }
      val (adressen, tCurate) = timed {
        val a = Adressen.curated(raw, cfg)
        a.write.mode("overwrite").parquet(s"${layout.warehouseDir}/adressen")
        Adressen.releaseCaches(spark)
        spark.read.parquet(s"${layout.warehouseDir}/adressen")
      }

      val th = Validate.Thresholds(
        minAdressen = sh.expectedAdressen,
        // multi-pand rows (i%50==3) keep a NULL pand_id by reference
        // semantics: J1 joins the raw comma-joined pand ref, so only
        // single-pand rows match, and J3 repairs bouwjaar/geometry ONLY
        // (BagPipelineSpec "pand_id stays null")
        minAdressenMetPand = sh.n.toLong - sh.nLig - sh.nSta - sh.n / 50,
        minLigplaatsen = sh.nLig,
        minStandplaatsen = sh.nSta,
        minOpenbareRuimten = sh.nStreets,
        minWoonplaatsen = sh.nWpl,
        minGemeenten = sh.nGem + 1,
        exactProvincies = sh.nProvincies)
      val (checks, tValidate) = timed(
        Validate.run(adressen, raw, th, goldenChecks = sh.planted))
      checks.foreach(c => System.err.println(
        s"[probe] ${if (c.isError) "FAIL" else "ok  "} ${c.name} (${c.value})"))

      val count = adressen.count()
      val exactErr = if (count == sh.expectedAdressen) 0 else 1
      if (exactErr == 1) System.err.println(
        s"[probe] FAIL adressen count $count != expected ${sh.expectedAdressen}")
      Result(n, count, Validate.errorCount(checks) + exactErr,
        tStage, tRaw, tCurate, tValidate)
    }
  }

  def main(args: Array[String]): Unit = {
    val workDir = if (args.length > 0) args(0) else "/tmp/bag_scale_probe"
    val n = if (args.length > 1) args(1).toInt else 1002000
    val spark = Sessions.get(warehouseDir = Some(s"$workDir/spark-warehouse"))
    // staging is zip-IO + scheduling bound and showed cross-run inversion
    // (r11: 60.9 s at 9M vs 38.5 s at 18M) — pin reproducibility by
    // re-timing the stage step alone `repeats` extra times (fresh target
    // dirs, same outer zip) and recording loadavg, so the committed
    // artifact separates real stage cost from ambient noise.
    val stageRepeats = sys.env.get("SPARK_GRAFT_STAGE_REPEATS")
      .map(_.toInt).getOrElse(if (args.length > 2) args(2).toInt else 0)
    def loadavg: Double = scala.util.Try(
      scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ").head.toDouble).getOrElse(-1.0)
    try {
      val load0 = loadavg
      val r = run(spark, workDir, n)
      val extraStage = (1 to stageRepeats).map { i =>
        val dir = s"$workDir/staging_r$i"
        val t0 = System.nanoTime()
        ingest.BagZip.stage(s"$workDir/bag_synth.zip", dir)
        val t = (System.nanoTime() - t0) / 1e9
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        t
      }
      val repeatsJson = if (extraStage.isEmpty) ""
        else s""","sec_stage_repeats":[${extraStage.map(t => f"$t%.1f").mkString(",")}]"""
      // one JSON line, the BENCH_r artifact shape, addresses/s next to the
      // reference's ~25k/s headline (9M addresses / ~360 s, readme.MD:86-87)
      println(s"""{"metric":"bag_import_addresses_per_sec","value":${r.addressesPerSec.round},""" +
        s""""unit":"addresses/sec",${r.jsonFields}$repeatsJson,""" +
        f""""loadavg_start":$load0%.2f,"loadavg_end":$loadavg%.2f}""")
      if (r.errors > 0) sys.exit(1)
    } finally spark.stop()
  }
}
