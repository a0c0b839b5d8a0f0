package graft

import org.scalatest.funsuite.AnyFunSuite

/** The ingest probe's one record format, shared by its output line and
  * Bench's `bag_import` object; no Spark session. */
class BagScaleProbeResultSpec extends AnyFunSuite {

  test("Result.jsonFields carries the four-way ingest split and keeps every field name") {
    val r = BagScaleProbe.Result(n = 1000, adressen = 990, errors = 0,
      secStage = 1.5, secRaw = 4.0, secCurate = 2.5, secValidate = 0.75)
    val fields = "\"([a-z_]+)\":([^,]+)".r.findAllMatchIn(r.jsonFields)
      .map(m => m.group(1) -> m.group(2)).toSeq
    assert(fields.map(_._1) === Seq("n", "adressen", "errors", "parse_geometries",
      "sec_stage", "sec_raw_xml", "sec_curate", "sec_validate", "sec_import",
      "addresses_per_sec", "reference_addresses_per_sec"))
    val v = fields.toMap
    assert(v("sec_stage").toDouble === 1.5 && v("sec_raw_xml").toDouble === 4.0)
    assert(v("sec_curate").toDouble === 2.5 && v("sec_validate").toDouble === 0.75)
    assert(v("sec_import").toDouble === 8.0, "import = stage + raw + curate")
    assert(v("addresses_per_sec") === "124", "990 / 8.0 s, rounded")
    assert(v("parse_geometries") === "true")
  }
}
