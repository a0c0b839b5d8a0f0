package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val rows = Seq(Row(1L, "a", null), Row(2L, "b", 2.5), Row(3L, "a,b", Seq(1, 2)))

  test("row order does not change the fingerprint") {
    assert(Fingerprint.of(rows.iterator) == Fingerprint.of(rows.reverse.iterator))
  }

  test("a changed, added or dropped row does") {
    val base = Fingerprint.of(rows.iterator)
    assert(Fingerprint.of((rows.init :+ Row(3L, "a,b", Seq(2, 1))).iterator) != base)
    assert(Fingerprint.of((rows :+ Row(4L, "c", null)).iterator) != base)
    assert(Fingerprint.of(rows.tail.iterator) != base)
  }

  test("duplicate rows do not cancel out") {
    val once = Fingerprint.of(Iterator(Row(1L)))
    val twice = Fingerprint.of(Iterator(Row(1L), Row(1L), Row(1L)))
    assert(twice.rows == 3 && twice.hash != once.hash && twice.hash != 0L)
  }

  test("canonical form: strings cannot run together, maps and binary are stable") {
    assert(Fingerprint.canon(Row("a,b", "c")) != Fingerprint.canon(Row("a", "b,c")))
    assert(Fingerprint.canon(Map("b" -> 2, "a" -> 1)) == Fingerprint.canon(Map("a" -> 1, "b" -> 2)))
    assert(Fingerprint.canon(Array[Byte](1, -1)) == "0x01ff")
    assert(Fingerprint.canon(null) != Fingerprint.canon("~"))
  }

  test("hex round-trips through the recorded form") {
    val f = Fingerprint.of(rows.iterator)
    assert(java.lang.Long.parseUnsignedLong(f.hex, 16) == f.hash)
  }
}
