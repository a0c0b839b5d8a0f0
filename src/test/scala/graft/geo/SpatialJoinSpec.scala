package graft.geo

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Grid spatial join: boundary exactness at r, cross-cell recall, and
  * brute-force parity on a deterministic scatter. */
class SpatialJoinSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("spatial-join-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def pairs(pts: Seq[(Long, Long, Long)], r: Long): Set[(Long, Long, Long)] = {
    val s = spark
    import s.implicits._
    SpatialJoin.withinDistance(pts.toDF("id", "x", "y"), "id", "x", "y", r)
      .collect().map(p => (p.getLong(0), p.getLong(1), p.getLong(2))).toSet
  }

  test("boundary exactness, cross-cell recall, pair uniqueness") {
    val r = 100L
    val pts = Seq(
      (1L, 1000L, 1000L),
      (2L, 1100L, 1000L),  // dist exactly r -> included (dist2 = r^2)
      (3L, 1101L, 1000L),  // dist r+1 from 1 -> excluded vs 1, 1 vs 2 kept
      (4L, 995L, 1005L),   // same cell as... near 1: included
      (5L, 999L, 901L),    // cell below 1 (y=901 -> cell 9; 1 at cell 10):
                           // cross-cell, dist ~99 -> included
      (6L, 5000L, 5000L))  // far away: no pairs
    val got = pairs(pts, r)
    val brute = (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= r * r
    } yield (a._1, b._1, d2)).toSet
    assert(got === brute, s"got $got, brute $brute")
    assert(got.contains((1L, 2L, 10000L)), "dist == r must be included")
    assert(!got.exists(p => p._1 == 1L && p._2 == 3L), "dist r+1 excluded")
    assert(got.contains((1L, 5L, 9802L)), "cross-cell pair missed")
  }

  test("brute-force parity on a 200-point deterministic scatter") {
    val pts = (1L to 200L).map { i =>
      // deterministic scatter with clumps so cells vary in occupancy
      (i, (i * 131) % 2000 + (i % 7) * 3, (i * 577) % 2000 + (i % 5) * 3)
    }
    val r = 150L
    val brute = (for {
      a <- pts; b <- pts if a._1 < b._1
      d2 = (a._2 - b._2) * (a._2 - b._2) + (a._3 - b._3) * (a._3 - b._3)
      if d2 <= r * r
    } yield (a._1, b._1, d2)).toSet
    assert(brute.nonEmpty, "fixture must produce pairs")
    assert(pairs(pts, r) === brute)
  }

  test("p14 polygon census: analytic pentagon — area2 = 24s^2, centroid (cx, cy - s/18)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_p14").toString
    (1L to 5L).toDF("o_orderkey").write.parquet(s"$dir/orders.parquet")
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = graft.queries.CoreQueries("p14_polygon_census")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    val expected = (1L to 5L).map { k =>
      val cx = 50000L + k % 200000
      val cy = 350000L + (k * 7) % 250000
      val sc = 1L + k % 13
      k -> ((24L * sc * sc, 40L * sc * sc,
        cx.toDouble, r6(cy.toDouble - sc.toDouble / 18.0)))
    }.toMap
    assert(got === expected, s"got $got, want $expected")
  }
}
