package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** a22: the bounded-domain histogram quantile must pick exactly the
  * percentile_disc element — the smallest value whose cumulative count
  * reaches rank ceil(q*n) — including under heavy ties and single-row
  * groups, where rank arithmetic off-by-ones show first. */
class HistQuantilesSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("hist-quantiles-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Reference rule: 1-based rank ceil(q*n) over the sorted multiset
    * (PostgreSQL percentile_disc / DuckDB quantile_disc). */
  private def disc(vs: Seq[Double], qnum: Int): Long = {
    val sorted = vs.sorted
    val rank = (qnum * sorted.size + 99) / 100 // ceil(q*n) in integers
    math.round(sorted(rank - 1) * 100)
  }

  test("histogram picker == sort-based percentile_disc on a tie-heavy fixture") {
    val s = spark
    import s.implicits._
    // group A: heavy ties at 1.00 and 2.00; group B: distinct spread;
    // group C: a single row (every quantile = that row)
    val a = Seq.fill(7)(1.00) ++ Seq.fill(2)(2.00) ++ Seq(9.99)
    val b = Seq(0.01, 0.02, 0.5, 3.33, 100.0, 250.75)
    val c = Seq(42.42)
    val rows = a.map(("A", _)) ++ b.map(("B", _)) ++ c.map(("C", _))
    val dir = java.nio.file.Files.createTempDirectory("graft_a22").toString
    rows.toDF("event_type", "value").write.parquet(s"$dir/events.parquet")

    val got = AnalyticsQueries("a22_hist_quantiles")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val want = Map(
      "A" -> ((a.size.toLong, disc(a, 50), disc(a, 90), disc(a, 99))),
      "B" -> ((b.size.toLong, disc(b, 50), disc(b, 90), disc(b, 99))),
      "C" -> ((c.size.toLong, disc(c, 50), disc(c, 90), disc(c, 99))))
    assert(got === want, s"got $got want $want")
  }
}
