package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Non-vacuity guard for the flagship j00_adressen_build oracle query: the
 * DuckDB hash compare proves Spark == DuckDB, but only these assertions
 * prove the fixture still EXERCISES every branch of the curate chain
 * (J1–J7/U1–U3). If a testdata regeneration ever degenerated the synthesis
 * (e.g. non-contiguous keys emptying a modulo class), the hash check would
 * keep passing on the degenerate corpus — this spec fails instead.
 */
class AdressenBuildOracleSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("adressen-build-oracle-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("j00 fixture exercises every branch of the curate chain") {
    val df = CoreQueries("j00_adressen_build")(spark, sf).cache()
    try {
      val total = df.count()
      val nOrders = Queries.tbl(spark, sf, "orders").count()
      // U3: the k%5000==0 orphans (at least key 0) were below threshold and
      // deleted — and ONLY they were.
      val nOrphans = Queries.tbl(spark, sf, "orders")
        .filter(col("o_orderkey") % 5000 === 0).count()
      assert(nOrphans > 0 && nOrphans < 100, s"orphan class empty/oversized: $nOrphans")
      assert(total == nOrders - nOrphans, s"$total != $nOrders - $nOrphans")
      // PK invariant: one row per nummer_id survived the arg_max dedup.
      assert(df.select("nummer_id").distinct().count() == total)

      def n(c: org.apache.spark.sql.Column): Long = df.filter(c).count()
      // J4/J5 plaats overrides landed.
      assert(n(col("object_type") === "ligplaats") > 0, "no ligplaats rows")
      assert(n(col("object_type") === "standplaats") > 0, "no standplaats rows")
      // J6 nevenadres backfill landed.
      assert(n(col("hoofd_nummer_id").isNotNull) > 0, "no neven backfills")
      // U1/U2 dummy-nulls fired on rows that DO have a vbo.
      assert(n(col("bouwjaar").isNull && col("verblijfsobject_id").isNotNull) > 0)
      assert(n(col("oppervlakte").isNull && col("verblijfsobject_id").isNotNull) > 0)
      // PK dedup picked the duplicate '5…' vbo (winkelfunctie) where present.
      assert(n(col("gebruiksdoel") === "winkelfunctie") > 0, "no dup-vbo winners")
      // J1 left-join kept nummers without any vbo.
      assert(n(col("verblijfsobject_id").isNull) > 0, "no vbo-less nummers")
      // Multi-pand rows: pand_id stays NULL (J3 repairs only geometry +
      // bouwjaar — the reference's exact quirk), but geometry got repaired.
      assert(n(col("pand_id").isNull && col("verblijfsobject_id").isNotNull &&
        col("geometry").startsWith("G:")) > 0, "no J3-repaired multi-pand rows")
    } finally {
      df.unpersist()
      graft.curate.Adressen.releaseCaches(spark)
    }
  }
}
