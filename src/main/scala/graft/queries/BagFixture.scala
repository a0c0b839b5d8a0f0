package graft.queries

import graft.curate.Adressen.BagTables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic BAG-shaped fixture synthesized from the TPC-H-ish testdata,
 * so the FLAGSHIP curate chain (J1–J7/U1–U3, curate/Adressen.scala — the
 * Spark re-expression of the reference's database_sqlite.py:291-614 UPDATE
 * chain) can be hash-verified against an independent DuckDB oracle like
 * every other operator (VERDICT r10 #1).
 *
 * Every derived column is an integer/modulo/lpad pipeline over the
 * contiguous 0-based testdata keys, mirrored 1:1 in the CTEs of the
 * `j00_adressen_build` oracle (CoreQueries.j00Sql) — nothing floating,
 * nothing engine-specific.
 * The synthesis deliberately exercises every branch of the chain:
 *  - nummers without a vbo (k%10==0) and duplicate hoofdadres-vbo's
 *    (k%21==0: a second '5…' vbo whose greater id must win the arg_max
 *    PK dedup);
 *  - multi-pand vbo's (k%13==0) that J1 leaves NULL and J3 repairs from
 *    the LAST pand_id array element;
 *  - ligplaats (k%41==0) / standplaats (k%43==0) coordinate overrides,
 *    overlapping at k%1763==0 so standplaats-wins ordering is observable;
 *  - a nummer-level woonplaats override (k%19==0) for J7;
 *  - nevenadres arrays (k%17==0 → [k+1, k+2]) for the J6 backfill;
 *  - BAG dummy values (bouwjaar 1005 / >2040, oppervlakte 999999 / 1)
 *    for U1/U2, and <100 orphaned openbare_ruimte refs (k%5000==0)
 *    so U3's conditional delete fires at every SF;
 *  - a duplicated gemeente↔woonplaats bridge row (m%6==0) so J2's
 *    greatest-gemeente dedup is observable.
 *
 * Dimension moduli are FIXED (200 streets, 150 panden, 25 woonplaatsen)
 * rather than SF-proportional: they are valid keys at every SF ≥ 0.001
 * (part/customer keys are contiguous from 0), keep the oracle SQL free of
 * scalar subqueries, and mirror the real BAG's dims≪facts ratio.
 */
object BagFixture {

  private def nid(k: Column): Column = lpad(k.cast("string"), 16, "0")
  private def pid(i: Column): Column =
    concat(lit("2"), lpad(i.cast("string"), 15, "0"))

  /** The raw-layer BagTables, as if Pipeline.rawTables had produced them. */
  def tables(s: SparkSession, dir: String): BagTables = {
    val orders = Queries.tbl(s, dir, "orders")
    val part = Queries.tbl(s, dir, "part")
    val customer = Queries.tbl(s, dir, "customer")
    val nation = Queries.tbl(s, dir, "nation")
    val k = col("o_orderkey")
    val c = col("o_custkey")

    val nummers = orders.select(
      nid(k).as("id"),
      concat((lit(1900) + k % 120).cast("string"), lit("-01-01"))
        .as("begindatum_geldigheid"),
      when(k % 11 === 0, lit("2030-12-31")).otherwise(lit(""))
        .as("einddatum_geldigheid"),
      concat((lit(1000) + k % 9000).cast("string"),
        lit("ABCDEFGH").substr((k % 8 + 1).cast("int"), lit(1)),
        lit("KLMNPQR").substr((k % 7 + 1).cast("int"), lit(1))).as("postcode"),
      (k % 300 + 1).as("huisnummer"),
      when(k % 5 === 0, lit("A")).otherwise(lit("")).as("huisletter"),
      when(k % 7 === 0, (k % 9).cast("string")).otherwise(lit(""))
        .as("toevoeging"),
      when(k % 5000 === 0, lit(99999999L)).otherwise(k % 200)
        .cast("long").as("openbare_ruimte_id"),
      when(k % 19 === 0, (lit(1000) + k % 25).cast("string")).otherwise(lit(""))
        .as("woonplaats_id"))

    val openbareRuimten = part.select(
      col("p_partkey").cast("long").as("id"),
      col("p_name").as("lange_naam"),
      when(col("p_partkey") % 7 === 0, substring(col("p_name"), 1, 8))
        .otherwise(lit("")).as("verkorte_naam"),
      (lit(1000) + col("p_partkey") % 25).cast("long").as("woonplaats_id"))

    val woonplaatsen = nation.select(
      (lit(1000) + col("n_nationkey")).cast("long").as("id"),
      col("n_name").as("naam"))

    // J2 bridge with a deliberate duplicate (m%6==0): greatest gemeente wins.
    val gwBase = nation.select(
      (lit(1000) + col("n_nationkey")).cast("long").as("woonplaats_id"),
      (lit(9000) + col("n_regionkey") * 10 + col("n_nationkey") % 3)
        .cast("long").as("gemeente_id"))
    val gwDup = nation.filter(col("n_nationkey") % 6 === 0).select(
      (lit(1000) + col("n_nationkey")).cast("long").as("woonplaats_id"),
      (lit(9100) + col("n_regionkey") * 10 + col("n_nationkey") % 3)
        .cast("long").as("gemeente_id"))
    val gemeenteWoonplaatsen = gwBase.union(gwDup)

    val i = col("c_custkey")
    val panden = customer.select(
      pid(i).as("id"),
      concat((lit(1800) + i % 200).cast("string"), lit("-06-15"))
        .as("begindatum_geldigheid"),
      lit("").as("einddatum_geldigheid"),
      when(i % 37 === 0, lit(1005))
        .when(i % 41 === 0, lit(2041) + i % 20)
        .otherwise(lit(1900) + i % 125).cast("int").as("bouwjaar"),
      concat(lit("G:"), i.cast("string")).as("geometry"))

    // Main vbo's ('1…'); k%13==0 are multi-pand (J1 NULL → J3 repairs from
    // the last array element), k%17==0 carry nevenadressen for J6.
    val vboMain = orders.filter(k % 10 =!= 0).select(
      concat(lit("1"), lpad(k.cast("string"), 15, "0")).as("id"),
      nid(k).as("nummer_id"),
      when(k % 13 === 0, array(pid(c % 150), pid((c + 11) % 150)))
        .otherwise(array(pid(c % 150))).as("pand_id"),
      when(k % 4 === 0, array(lit("woonfunctie"), lit("kantoorfunctie")))
        .otherwise(array(lit("woonfunctie"))).as("gebruiksdoel"),
      when(k % 29 === 0, lit(999999)).when(k % 31 === 0, lit(1))
        .otherwise(k % 491 + 10).cast("int").as("oppervlakte"),
      ((k * 7) % 280000).cast("int").as("rd_x"),
      (lit(300000) + (k * 11) % 325000).cast("int").as("rd_y"),
      (lit(52000000) + k % 1000000).cast("int").as("latitude"),
      (lit(4000000) + k % 2000000).cast("int").as("longitude"),
      when(k % 17 === 0, array(nid(k + 1), nid(k + 2)))
        .otherwise(array().cast("array<string>")).as("nevenadressen"))
    // Duplicate hoofdadres vbo's ('5…' > '1…'): the arg_max PK dedup must
    // pick these deterministically.
    val vboDup = orders.filter(k % 10 =!= 0 && k % 21 === 0).select(
      concat(lit("5"), lpad(k.cast("string"), 15, "0")).as("id"),
      nid(k).as("nummer_id"),
      array(pid((c + 3) % 150)).as("pand_id"),
      array(lit("winkelfunctie")).as("gebruiksdoel"),
      (k % 350 + 20).cast("int").as("oppervlakte"),
      ((k * 13) % 280000).cast("int").as("rd_x"),
      (lit(300000) + (k * 17) % 325000).cast("int").as("rd_y"),
      (lit(52000000) + (k * 3) % 1000000).cast("int").as("latitude"),
      (lit(4000000) + (k * 3) % 2000000).cast("int").as("longitude"),
      array().cast("array<string>").as("nevenadressen"))
    val verblijfsobjecten = vboMain.union(vboDup)

    def plaats(pfx: String, mSel: Int, mEmpty: Int, mx: Int, my: Int,
        mll: Int, geoPfx: String): DataFrame =
      orders.filter(k % mSel === 0).select(
        concat(lit(pfx), lpad(k.cast("string"), 15, "0")).as("id"),
        when(k % mEmpty === 0, lit("")).otherwise(nid(k)).as("nummer_id"),
        ((k * mx) % 280000).cast("int").as("rd_x"),
        (lit(300000) + (k * my) % 325000).cast("int").as("rd_y"),
        (lit(52000000) + (k * mll) % 1000000).cast("int").as("latitude"),
        (lit(4000000) + (k * mll) % 2000000).cast("int").as("longitude"),
        concat(lit(geoPfx), k.cast("string")).as("geometry"))

    val ligplaatsen = plaats("3", 41, 123, 19, 23, 5, "L:")
    val standplaatsen = plaats("4", 43, 129, 29, 31, 9, "S:")

    BagTables(
      woonplaatsen = woonplaatsen,
      gemeenteWoonplaatsen = gemeenteWoonplaatsen,
      openbareRuimten = openbareRuimten,
      nummers = nummers,
      panden = panden,
      verblijfsobjecten = verblijfsobjecten,
      ligplaatsen = ligplaatsen,
      standplaatsen = standplaatsen,
      gemeenten = s.emptyDataFrame,
      provincies = s.emptyDataFrame)
  }
}
