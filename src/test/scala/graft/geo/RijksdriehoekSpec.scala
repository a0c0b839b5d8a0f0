package graft.geo

import org.scalatest.funsuite.AnyFunSuite

class RijksdriehoekSpec extends AnyFunSuite {

  test("base point maps to itself (Amersfoort, Onze Lieve Vrouwetoren)") {
    val (lat, lon) = Rijksdriehoek.rdToWgs84(155000, 463000)
    assert(math.abs(lat - 52.15517440) < 1e-9)
    assert(math.abs(lon - 5.38720621) < 1e-9)
    val (x, y) = RijksdriehoekRef.wgs84ToRd(52.15517440, 5.38720621)
    assert(math.abs(x - 155000) < 1e-6)
    assert(math.abs(y - 463000) < 1e-6)
  }

  test("known landmark: Westertoren Amsterdam (public golden value)") {
    // RD (120700.723, 487525.501) ~ WGS84 (52.37453253, 4.88352559), the
    // worked example in the Schreutelkamp & Strang van Hees paper.
    val (lat, lon) = Rijksdriehoek.rdToWgs84(120700.723, 487525.501)
    assert(math.abs(lat - 52.37453253) < 1e-5)
    assert(math.abs(lon - 4.88352559) < 1e-5)
  }

  test("round-trip rd -> wgs84 -> rd within 1 meter across NL bounding box") {
    // NL RD domain approx: x in [0, 290000], y in [300000, 630000]
    val rng = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val x = 10000.0 + rng.nextDouble() * 270000.0
      val y = 310000.0 + rng.nextDouble() * 310000.0
      val (lat, lon) = Rijksdriehoek.rdToWgs84(x, y)
      val (x2, y2) = RijksdriehoekRef.wgs84ToRd(lat, lon)
      assert(math.abs(x2 - x) < 1.0, s"x round-trip drift at ($x,$y)")
      assert(math.abs(y2 - y) < 1.0, s"y round-trip drift at ($x,$y)")
    }
  }
}

class GeometrySpec extends AnyFunSuite {

  test("posToRd parses 'x y' and 'x y z'") {
    assert(Geometry.posToRd("155000 463000") === Some((155000.0, 463000.0)))
    assert(Geometry.posToRd("155000.5 463000.5 0.0") === Some((155000.5, 463000.5)))
    assert(Geometry.posToRd("") === None)
    assert(Geometry.posToRd(null) === None)
    assert(Geometry.posToRd("abc") === None)
  }

  test("firstVertex takes the first pair of the first ring") {
    assert(Geometry.firstVertex(Seq("155000 463000 156000 464000")) ===
      Some((155000.0, 463000.0)))
    assert(Geometry.firstVertex(Nil) === None)
  }

  test("2D ring -> GeoJSON [lon, lat] nesting") {
    val json = Geometry.ringsToWgs84GeoJson(Seq("155000 463000 155000 463000"), is3d = false)
    // base point: lon=5.38720621, lat=52.15517440
    assert(json.startsWith("[[["))
    assert(json.contains("5.38720621"))
    assert(json.contains("52.1551744"))
    // two vertices in one ring
    assert(json.count(_ == '[') === 1 + 1 + 2)
  }

  test("3D ring drops z (Pand geometry)") {
    val j2 = Geometry.ringsToWgs84GeoJson(Seq("155000 463000 0 156000 464000 5"), is3d = true)
    assert(j2.count(_ == '[') === 1 + 1 + 2) // outer + ring + 2 vertices
  }

  test("empty geometry stays ''") {
    assert(Geometry.ringsToWgs84GeoJson(Nil, is3d = false) === "")
  }
}
