package graft.queries

import graft.geo.GeoFunctions
import graft.llm.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Queries.{Q, tbl, tblPar, scratch, scratchFor, events}

/** The BAG/relational core of the query registry: sources and sinks (s),
  * projections and scalar transforms (p), filters (f), keep-last dedup (k),
  * joins (j), explodes (e) and data repair (u) — the operator inventory of
  * the reference (SURVEY.md §2.1–§2.9) plus the table-format sinks. */
object CoreQueries extends QueryFamily {

  /** RD->WGS84 Schreutelkamp & Strang van Hees polynomial, generated from
    * the same published coefficients as geo/Rijksdriehoek.scala (same term
    * order, same association; power() vs repeated multiplication differs at
    * most 1 ulp, absorbed by round(..., 6)). */
  private val geoSql: String =
    """WITH pts AS (
      |  SELECT o_orderkey,
      |         CAST(50000 + o_orderkey % 200000 AS DOUBLE) AS rd_x,
      |         CAST(350000 + (o_orderkey * 7) % 250000 AS DOUBLE) AS rd_y
      |  FROM orders),
      |d AS (SELECT o_orderkey, rd_x, rd_y, 1e-5*(rd_x - 155000.0) AS dx, 1e-5*(rd_y - 463000.0) AS dy FROM pts)
      |SELECT o_orderkey, rd_x, rd_y,
      |       round(52.15517440 + 3235.65389*1.0*dy/3600.0 + -32.58297*power(dx,2)*1.0/3600.0 + -0.2475*1.0*power(dy,2)/3600.0 + -0.84978*power(dx,2)*dy/3600.0 + -0.0655*1.0*power(dy,3)/3600.0 + -0.01709*power(dx,2)*power(dy,2)/3600.0 + -0.00738*dx*1.0/3600.0 + 0.0053*power(dx,4)*1.0/3600.0 + -0.00039*power(dx,2)*power(dy,3)/3600.0 + 0.00033*power(dx,4)*dy/3600.0 + -0.00012*dx*dy/3600.0, 6) AS lat_r,
      |       round(5.38720621 + 5260.52916*dx*1.0/3600.0 + 105.94684*dx*dy/3600.0 + 2.45656*dx*power(dy,2)/3600.0 + -0.81885*power(dx,3)*1.0/3600.0 + 0.05594*dx*power(dy,3)/3600.0 + -0.05607*power(dx,3)*dy/3600.0 + 0.01199*1.0*dy/3600.0 + -0.00256*power(dx,3)*power(dy,2)/3600.0 + 0.00128*dx*power(dy,4)/3600.0 + 0.00022*1.0*power(dy,2)/3600.0 + -0.00022*power(dx,2)*1.0/3600.0 + 0.00026*power(dx,5)*1.0/3600.0, 6) AS lon_r
      |FROM d ORDER BY o_orderkey""".stripMargin

  /** DuckDB mirror of the FLAGSHIP adressen curate chain over the
    * [[BagFixture]] synthesis (j00_adressen_build). Table CTEs restate the
    * fixture's integer/modulo/lpad derivations 1:1; the chain CTEs restate
    * curate/Adressen.scala's semantics (which themselves mirror the
    * reference's database_sqlite.py:291-614):
    *   j1 five-way LEFT join (pand joined only via a single-element
    *   pand_id) → a0 greatest-vbo-id PK dedup → a1 J3 multi-pand repair
    *   from the LAST pand element → a2/a3 lig/standplaats overrides →
    *   a4 J7 woonplaats override → a5 J6 nevenadres backfill → final
    *   U1/U2 dummy-null + U3 orphan filter.
    * Arrays never cross the SQL: the vbo CTE pre-computes the single-pand
    * join key, the last multi-pand element and the comma-joined
    * gebruiksdoel, all knowable from the fixture's construction rules. */
  private val j00Sql: String =
    """WITH nummers AS (
      |  SELECT lpad(CAST(o_orderkey AS VARCHAR), 16, '0') AS id,
      |    CAST(1900 + o_orderkey % 120 AS VARCHAR) || '-01-01' AS begindatum_geldigheid,
      |    CASE WHEN o_orderkey % 11 = 0 THEN '2030-12-31' ELSE '' END AS einddatum_geldigheid,
      |    CAST(1000 + o_orderkey % 9000 AS VARCHAR)
      |      || substr('ABCDEFGH', CAST(1 + o_orderkey % 8 AS INT), 1)
      |      || substr('KLMNPQR', CAST(1 + o_orderkey % 7 AS INT), 1) AS postcode,
      |    o_orderkey % 300 + 1 AS huisnummer,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'A' ELSE '' END AS huisletter,
      |    CASE WHEN o_orderkey % 7 = 0 THEN CAST(o_orderkey % 9 AS VARCHAR) ELSE '' END AS toevoeging,
      |    CASE WHEN o_orderkey % 5000 = 0 THEN 99999999 ELSE o_orderkey % 200 END AS openbare_ruimte_id,
      |    CASE WHEN o_orderkey % 19 = 0 THEN CAST(1000 + o_orderkey % 25 AS VARCHAR) ELSE '' END AS wpl_override
      |  FROM orders),
      |opr AS (
      |  SELECT CAST(p_partkey AS BIGINT) AS id, 1000 + p_partkey % 25 AS woonplaats_id
      |  FROM part),
      |gwr AS (
      |  SELECT 1000 + n_nationkey AS woonplaats_id,
      |         9000 + n_regionkey * 10 + n_nationkey % 3 AS gemeente_id FROM nation
      |  UNION ALL
      |  SELECT 1000 + n_nationkey, 9100 + n_regionkey * 10 + n_nationkey % 3
      |  FROM nation WHERE n_nationkey % 6 = 0),
      |wplg AS (
      |  SELECT 1000 + n.n_nationkey AS id, gw.gemeente_id
      |  FROM nation n
      |  LEFT JOIN (SELECT woonplaats_id, max(gemeente_id) AS gemeente_id
      |             FROM gwr GROUP BY 1) gw ON gw.woonplaats_id = 1000 + n.n_nationkey),
      |panden AS (
      |  SELECT '2' || lpad(CAST(c_custkey AS VARCHAR), 15, '0') AS id,
      |    CAST(1800 + c_custkey % 200 AS VARCHAR) || '-06-15' AS begindatum_geldigheid,
      |    '' AS einddatum_geldigheid,
      |    CASE WHEN c_custkey % 37 = 0 THEN 1005
      |         WHEN c_custkey % 41 = 0 THEN 2041 + c_custkey % 20
      |         ELSE 1900 + c_custkey % 125 END AS bouwjaar,
      |    'G:' || CAST(c_custkey AS VARCHAR) AS geometry
      |  FROM customer),
      |vbo AS (
      |  SELECT '1' || lpad(CAST(o_orderkey AS VARCHAR), 15, '0') AS id,
      |    lpad(CAST(o_orderkey AS VARCHAR), 16, '0') AS nummer_id,
      |    CASE WHEN o_orderkey % 13 = 0 THEN 2 ELSE 1 END AS n_pand,
      |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
      |         ELSE '2' || lpad(CAST(o_custkey % 150 AS VARCHAR), 15, '0') END AS join_pand_id,
      |    CASE WHEN o_orderkey % 13 = 0
      |         THEN '2' || lpad(CAST((o_custkey + 11) % 150 AS VARCHAR), 15, '0') END AS last_pand_id,
      |    CASE WHEN o_orderkey % 4 = 0 THEN 'woonfunctie,kantoorfunctie'
      |         ELSE 'woonfunctie' END AS gebruiksdoel,
      |    CASE WHEN o_orderkey % 29 = 0 THEN 999999 WHEN o_orderkey % 31 = 0 THEN 1
      |         ELSE o_orderkey % 491 + 10 END AS oppervlakte,
      |    (o_orderkey * 7) % 280000 AS rd_x, 300000 + (o_orderkey * 11) % 325000 AS rd_y,
      |    52000000 + o_orderkey % 1000000 AS latitude,
      |    4000000 + o_orderkey % 2000000 AS longitude,
      |    CASE WHEN o_orderkey % 17 = 0 THEN o_orderkey END AS neven_base
      |  FROM orders WHERE o_orderkey % 10 <> 0
      |  UNION ALL
      |  SELECT '5' || lpad(CAST(o_orderkey AS VARCHAR), 15, '0'),
      |    lpad(CAST(o_orderkey AS VARCHAR), 16, '0'),
      |    1, '2' || lpad(CAST((o_custkey + 3) % 150 AS VARCHAR), 15, '0'), NULL,
      |    'winkelfunctie', o_orderkey % 350 + 20,
      |    (o_orderkey * 13) % 280000, 300000 + (o_orderkey * 17) % 325000,
      |    52000000 + (o_orderkey * 3) % 1000000, 4000000 + (o_orderkey * 3) % 2000000,
      |    NULL
      |  FROM orders WHERE o_orderkey % 10 <> 0 AND o_orderkey % 21 = 0),
      |lig AS (
      |  SELECT '3' || lpad(CAST(o_orderkey AS VARCHAR), 15, '0') AS id,
      |    CASE WHEN o_orderkey % 123 = 0 THEN ''
      |         ELSE lpad(CAST(o_orderkey AS VARCHAR), 16, '0') END AS nummer_id,
      |    (o_orderkey * 19) % 280000 AS rd_x, 300000 + (o_orderkey * 23) % 325000 AS rd_y,
      |    52000000 + (o_orderkey * 5) % 1000000 AS latitude,
      |    4000000 + (o_orderkey * 5) % 2000000 AS longitude,
      |    'L:' || CAST(o_orderkey AS VARCHAR) AS geometry
      |  FROM orders WHERE o_orderkey % 41 = 0),
      |stand AS (
      |  SELECT '4' || lpad(CAST(o_orderkey AS VARCHAR), 15, '0') AS id,
      |    CASE WHEN o_orderkey % 129 = 0 THEN ''
      |         ELSE lpad(CAST(o_orderkey AS VARCHAR), 16, '0') END AS nummer_id,
      |    (o_orderkey * 29) % 280000 AS rd_x, 300000 + (o_orderkey * 31) % 325000 AS rd_y,
      |    52000000 + (o_orderkey * 9) % 1000000 AS latitude,
      |    4000000 + (o_orderkey * 9) % 2000000 AS longitude,
      |    'S:' || CAST(o_orderkey AS VARCHAR) AS geometry
      |  FROM orders WHERE o_orderkey % 43 = 0),
      |j1 AS (
      |  SELECT n.id AS nummer_id,
      |    n.begindatum_geldigheid AS nummer_begindatum_geldigheid,
      |    n.einddatum_geldigheid AS nummer_einddatum_geldigheid,
      |    p.id AS pand_id,
      |    p.begindatum_geldigheid AS pand_begindatum_geldigheid,
      |    p.einddatum_geldigheid AS pand_einddatum_geldigheid,
      |    v.id AS verblijfsobject_id,
      |    w.gemeente_id, o.woonplaats_id, o.id AS openbare_ruimte_id,
      |    'verblijfsobject' AS object_type,
      |    coalesce(v.gebruiksdoel, '') AS gebruiksdoel,
      |    n.postcode, n.huisnummer, n.huisletter, n.toevoeging,
      |    v.oppervlakte, v.rd_x, v.rd_y, v.latitude, v.longitude,
      |    p.bouwjaar, CAST(NULL AS VARCHAR) AS hoofd_nummer_id, p.geometry
      |  FROM nummers n
      |  LEFT JOIN opr o ON o.id = n.openbare_ruimte_id
      |  LEFT JOIN wplg w ON w.id = o.woonplaats_id
      |  LEFT JOIN vbo v ON v.nummer_id = n.id
      |  LEFT JOIN panden p ON v.join_pand_id = p.id),
      |a0 AS (
      |  SELECT * FROM (
      |    SELECT j1.*, row_number() OVER (
      |      PARTITION BY nummer_id ORDER BY verblijfsobject_id DESC) AS rn FROM j1)
      |  WHERE rn = 1),
      |lastpand AS (
      |  SELECT mv.nummer_id, p.geometry AS new_geometry, p.bouwjaar AS new_bouwjaar
      |  FROM (SELECT * FROM (SELECT nummer_id, last_pand_id,
      |          row_number() OVER (PARTITION BY nummer_id ORDER BY id DESC) AS rn
      |        FROM vbo WHERE n_pand > 1) WHERE rn = 1) mv
      |  LEFT JOIN panden p ON p.id = mv.last_pand_id),
      |a1 AS (
      |  SELECT a.* REPLACE (
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.new_geometry ELSE a.geometry END AS geometry,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.new_bouwjaar ELSE a.bouwjaar END AS bouwjaar)
      |  FROM a0 a LEFT JOIN lastpand u ON u.nummer_id = a.nummer_id),
      |ligw AS (
      |  SELECT * FROM (SELECT nummer_id, rd_x, rd_y, latitude, longitude, geometry,
      |    row_number() OVER (PARTITION BY nummer_id ORDER BY id DESC) AS rn
      |  FROM lig WHERE nummer_id <> '') WHERE rn = 1),
      |a2 AS (
      |  SELECT a.* REPLACE (
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.rd_x ELSE a.rd_x END AS rd_x,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.rd_y ELSE a.rd_y END AS rd_y,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.latitude ELSE a.latitude END AS latitude,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.longitude ELSE a.longitude END AS longitude,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.geometry ELSE a.geometry END AS geometry,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN 'ligplaats' ELSE a.object_type END AS object_type)
      |  FROM a1 a LEFT JOIN ligw u ON u.nummer_id = a.nummer_id),
      |standw AS (
      |  SELECT * FROM (SELECT nummer_id, rd_x, rd_y, latitude, longitude, geometry,
      |    row_number() OVER (PARTITION BY nummer_id ORDER BY id DESC) AS rn
      |  FROM stand WHERE nummer_id <> '') WHERE rn = 1),
      |a3 AS (
      |  SELECT a.* REPLACE (
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.rd_x ELSE a.rd_x END AS rd_x,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.rd_y ELSE a.rd_y END AS rd_y,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.latitude ELSE a.latitude END AS latitude,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.longitude ELSE a.longitude END AS longitude,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.geometry ELSE a.geometry END AS geometry,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN 'standplaats' ELSE a.object_type END AS object_type)
      |  FROM a2 a LEFT JOIN standw u ON u.nummer_id = a.nummer_id),
      |nwpl AS (
      |  SELECT id AS nummer_id, CAST(wpl_override AS BIGINT) AS wpl
      |  FROM nummers WHERE wpl_override <> ''),
      |a4 AS (
      |  SELECT a.* REPLACE (
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.wpl ELSE a.woonplaats_id END AS woonplaats_id)
      |  FROM a3 a LEFT JOIN nwpl u ON u.nummer_id = a.nummer_id),
      |pairs AS (
      |  SELECT neven, max(hoofd) AS hoofd FROM (
      |    SELECT lpad(CAST(neven_base + 1 AS VARCHAR), 16, '0') AS neven,
      |           nummer_id AS hoofd FROM vbo WHERE neven_base IS NOT NULL
      |    UNION ALL
      |    SELECT lpad(CAST(neven_base + 2 AS VARCHAR), 16, '0'),
      |           nummer_id FROM vbo WHERE neven_base IS NOT NULL)
      |  GROUP BY neven),
      |hv AS (
      |  SELECT pr.neven AS nummer_id, pr.hoofd AS new_hoofd,
      |    a.pand_id AS h_pand_id, a.verblijfsobject_id AS h_vbo,
      |    a.gebruiksdoel AS h_gd, a.oppervlakte AS h_opp,
      |    a.rd_x AS h_rd_x, a.rd_y AS h_rd_y, a.latitude AS h_lat,
      |    a.longitude AS h_lon, a.bouwjaar AS h_bouwjaar, a.geometry AS h_geom
      |  FROM pairs pr LEFT JOIN a4 a ON a.nummer_id = pr.hoofd),
      |a5 AS (
      |  SELECT a.* REPLACE (
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.new_hoofd ELSE a.hoofd_nummer_id END AS hoofd_nummer_id,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.h_pand_id ELSE a.pand_id END AS pand_id,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.h_vbo ELSE a.verblijfsobject_id END AS verblijfsobject_id,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.h_gd ELSE a.gebruiksdoel END AS gebruiksdoel,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.h_opp ELSE a.oppervlakte END AS oppervlakte,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.h_rd_x ELSE a.rd_x END AS rd_x,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.h_rd_y ELSE a.rd_y END AS rd_y,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.h_lat ELSE a.latitude END AS latitude,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.h_lon ELSE a.longitude END AS longitude,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.h_bouwjaar ELSE a.bouwjaar END AS bouwjaar,
      |    CASE WHEN u.nummer_id IS NOT NULL THEN u.h_geom ELSE a.geometry END AS geometry)
      |  FROM a4 a LEFT JOIN hv u ON u.nummer_id = a.nummer_id)
      |SELECT nummer_id, nummer_begindatum_geldigheid, nummer_einddatum_geldigheid,
      |  pand_id, pand_begindatum_geldigheid, pand_einddatum_geldigheid,
      |  verblijfsobject_id,
      |  CAST(gemeente_id AS BIGINT) AS gemeente_id,
      |  CAST(woonplaats_id AS BIGINT) AS woonplaats_id,
      |  CAST(openbare_ruimte_id AS BIGINT) AS openbare_ruimte_id,
      |  object_type, gebruiksdoel, postcode,
      |  CAST(huisnummer AS BIGINT) AS huisnummer, huisletter, toevoeging,
      |  CAST(CASE WHEN oppervlakte IN (999999, 1) THEN NULL ELSE oppervlakte END AS BIGINT) AS oppervlakte,
      |  CAST(rd_x AS BIGINT) AS rd_x, CAST(rd_y AS BIGINT) AS rd_y,
      |  CAST(latitude AS BIGINT) AS latitude, CAST(longitude AS BIGINT) AS longitude,
      |  CAST(CASE WHEN bouwjaar = 1005 OR bouwjaar > 2040 THEN NULL ELSE bouwjaar END AS BIGINT) AS bouwjaar,
      |  hoofd_nummer_id, geometry
      |FROM a5 WHERE openbare_ruimte_id IS NOT NULL
      |ORDER BY nummer_id""".stripMargin

  // ===== sources / projections / scalar transforms ==========================

  /** S5/P1: projection + pushed-down filter; `.explain` shows PushedFilters
    * and a 4-column ReadSchema — the scan never materializes the other 7. */
  query("s05_scan_project", oracle = Some(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity < 10 ORDER BY l_orderkey, l_linenumber""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "lineitem")
      .filter(col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** S6/K6: JSONL sink + source roundtrip — the interchange format of
    * training-data pipelines. Eagerly writes documents as newline-
    * delimited JSON (sink), then the returned frame reads it back with an
    * EXPLICIT schema — at scale a schema-inference pass over JSONL is a
    * full extra scan — and aggregates per language, including a
    * distinct-content-hash count so any corruption at the JSON boundary
    * (quoting, escapes, unicode, nulls) breaks the oracle hash compare,
    * which runs against the parquet the JSONL came from. */
  query("s06_jsonl_roundtrip", oracle = Some(
      // computed over the ORIGINAL parquet: the Spark side must deliver the
      // same numbers through its JSONL write+read roundtrip
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_jsonl")
    tbl(s, dir, "documents").write.mode("overwrite").json(tmp)
    s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .json(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .orderBy("lang")
  }

  /** S7: CSV sink + source roundtrip — the reference's export surface
    * (export_to_csv.py) driven through Spark's writer and read back with an
    * explicit schema (never inference — an extra full scan at 100 TB).
    * Documents text may contain any delimiter-ish bytes, so the write
    * quotes/escapes; content fidelity is proven by the same aggregate
    * contract as s06: counts, char sums, and distinct text hashes must
    * survive the CSV boundary and match DuckDB over the SOURCE parquet. */
  query("s07_csv_roundtrip", oracle = Some(
      // same source-side contract as s06: the CSV write+read must be lossless
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_csv")
    tbl(s, dir, "documents").write.mode("overwrite")
      .option("header", "true").csv(tmp)
    s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("header", "true")
      .csv(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .orderBy("lang")
  }

  /** S8: partitioned sink + partition-pruned source — Hive-style
    * `partitionBy(lang)` layout, read back with a partition-key filter.
    * At 100 TB directory-level pruning is the first scale lever: the
    * lang IN ('en','fr') scan lists and opens ONLY those two directories
    * (the plan's PartitionFilters; PlanSpec asserts the pruned scan).
    * Content fidelity uses the same aggregate contract as s06/s07, run by
    * DuckDB against the SOURCE parquet — a lossy or misrouted partition
    * write breaks the hash. */
  query("s08_partition_prune", oracle = Some(
      // Runs against the SOURCE parquet: the partitioned write + pruned read
      // must be a lossless identity over the selected languages.
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_part")
    tbl(s, dir, "documents").write.mode("overwrite")
      .partitionBy("lang").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("lang").isin("en", "fr"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .orderBy("lang", "source")
  }

  /** S15: DYNAMIC partition overwrite — the daily-reprocess write mode:
    * re-running one partition's extraction must replace exactly that
    * partition's files and leave every other partition untouched (the
    * default STATIC overwrite truncates the whole table first — the
    * classic reprocessing data-loss foot-gun; ScaleOpsSpec asserts the
    * untouched partitions keep their physical files). Query: documents
    * partitioned by lang; the 'en' slice arrives re-extracted (n_chars
    * doubled) and dynamically overwrites; the readback aggregate shows
    * en updated and everything else intact. The oracle states the
    * post-state declaratively. */
  query("s15_partition_overwrite", oracle = Some(
      // post-state of the dynamic partition overwrite, declaratively: the
      // reprocessed 'en' partition carries doubled n_chars, every other
      // partition is untouched
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END)
        |    AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_dynpart")
    val docs = tbl(s, dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(tmp)
    docs.filter(col("lang") === "en")
      .withColumn("n_chars", col("n_chars") * 2)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(tmp)
    s.read.parquet(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .orderBy("lang")
  }

  /** S10: ORC sink + source roundtrip — the second columnar format a
    * warehouse interchange needs beside parquet (same explicit-schema,
    * no-inference discipline; ORC read paths are vectorized like parquet).
    * Content fidelity by the s06/s07 aggregate contract against the SOURCE
    * parquet. */
  query("s10_orc_roundtrip", oracle = Some(
      // Same lossless-boundary contract as s06/s07, through ORC.
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_orc")
    tbl(s, dir, "documents").write.mode("overwrite").orc(tmp)
    s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .orc(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .orderBy("lang")
  }

  /** S12: deterministic training-shard export + manifest — the last step
    * of a corpus build: assign every doc a shard by content-independent
    * hash (md5 of the id, so reruns and retries land identically),
    * repartition so each shard is written by one task (files per shard
    * bounded, no small-file explosion), sort within shards for stable
    * reader order, and emit the manifest a training job consumes:
    * (shard, n_docs, n_tokens, checksum). The checksum is an
    * order-independent SUM of per-doc md5 prefixes — integer-exact, so
    * readback equality proves the written shards carry exactly the
    * corpus. The manifest is computed FROM THE WRITTEN FILES, verifying
    * the whole sink+source boundary, and the oracle recomputes it from
    * the source table. */
  query("s12_shard_export", oracle = Some(
      // Manifest recomputed from the SOURCE table: the engine computes it
      // from the files it wrote, so equality proves the shard export carries
      // exactly the corpus. All integers (order-independent md5-prefix sum).
      """WITH d AS (SELECT *,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8
        |      AS shard
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST('0x' || substring(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS checksum
        |FROM d GROUP BY shard ORDER BY shard""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_shard")
    tbl(s, dir, "documents")
      .withColumn("shard", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 8"))
      .repartition(8, col("shard"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(tmp)
    s.read.parquet(tmp)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        sum(expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"))
          .as("checksum"))
      .orderBy("shard")
  }

  /** S13: Z-order (Morton) clustered layout + locality audit — the
    * multi-dimensional clustering warehouses use for data skipping
    * (Delta ZORDER BY / Iceberg sort orders), built from first
    * principles: interleave the bits of (n_chars, 16-bit lang hash) into
    * one integer sort key ([[graft.relational.Layout.zValue]]),
    * range-partition + sort the write on it, then audit per z-range
    * bucket from the WRITTEN files: docs, distinct langs, n_chars
    * envelope. Locality is the measured claim — each bucket touches few
    * langs AND a narrow length band, so a filter on either dimension
    * prunes most files; a plain sort delivers that only for its leading
    * column. The z key is 32 shift/mask terms of integer arithmetic,
    * generated from the same loop as the oracle's SQL mirror. */
  query("s13_zorder_layout", oracle = Some(
      // Z-order audit recomputed from the source: the 32-term interleave
      // SQL is GENERATED from the same loop as the engine's Column form
      // (Layout.zValueSql), so the two expressions can never drift. All
      // outputs integer.
      s"""WITH d AS (SELECT lang, n_chars,
         |    CAST('0x' || substring(md5(lang), 1, 4) AS BIGINT) AS lh
         |  FROM documents),
         |z AS (SELECT lang, n_chars,
         |  ${graft.relational.Layout.zValueSql("least(greatest(n_chars, 0), 65535)", "lh")} AS z
         |  FROM d)
         |SELECT z // ${1L << 24} AS z_bucket, count(*) AS n_docs,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(min(n_chars) AS BIGINT) AS min_chars,
         |  CAST(max(n_chars) AS BIGINT) AS max_chars
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_zorder")
    val z = graft.relational.Layout.zValue(col("n_chars"),
      expr("cast(conv(substring(md5(lang), 1, 4), 16, 10) as bigint)"))
    tbl(s, dir, "documents").withColumn("z", z)
      .repartitionByRange(8, col("z"))
      .sortWithinPartitions("z")
      .write.mode("overwrite").parquet(tmp)
    s.read.parquet(tmp)
      .groupBy(expr(s"z div ${1L << 24}").as("z_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("z_bucket")
  }

  /** S14: small-file compaction + full-fidelity readback
    * ([[graft.relational.Compaction.compactDir]]): the table maintenance
    * op of a long-lived ingest. A 64-file micro-batched layout (one file
    * per trigger-task, the st07 sink's natural debris) is folded into
    * ~target-sized files via a zero-shuffle `coalesce` of ONLY the
    * small files; the result set is the compacted table read back row by
    * row (doc_id-total order, md5 text digest), so the oracle — the same
    * projection over the SOURCE parquet — proves compaction moved every
    * byte and invented none. Layout claims (file counts, big files
    * physically untouched, fixpoint convergence) are asserted in
    * ScaleOpsSpec; the oracle here pins content. */
  query("s14_compaction", oracle = Some(
      // Full-fidelity readback of the COMPACTED directory vs the same
      // projection over the source: row-exact equality proves the
      // compaction rewrite moved every byte and invented none.
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_compact")
    tbl(s, dir, "documents").repartition(64).write.mode("overwrite").parquet(tmp)
    graft.relational.Compaction.compactDir(s, tmp, targetBytes = 256L << 10)
    s.read.parquet(tmp)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** S9: schema-evolution read — two dump generations with different
    * schemas (an old dump lacking source/n_chars, a new full one) unified
    * by an explicit mergeSchema scan; absent columns surface as NULL and
    * aggregate accordingly. At 100 TB schema drift across monthly dumps is
    * the norm; the alternative (rewriting old dumps) is a full-corpus
    * write. Oracle runs the equivalent CASE projection on the source. */
  query("s09_schema_evolution", oracle = Some(
      // The merged two-generation read must aggregate exactly like the CASE
      // projection over the unified source.
      """SELECT lang, count(*) AS n_docs,
        |  count(CASE WHEN doc_id % 2 <> 0 THEN 1 END) AS n_with_source,
        |  CAST(coalesce(sum(CASE WHEN doc_id % 2 <> 0 THEN n_chars END), 0) AS BIGINT)
        |    AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_evo")
    val docs = tbl(s, dir, "documents")
    docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/v1")
    docs.filter(col("doc_id") % 2 =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/v2")
    s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(col("source")).as("n_with_source"),
        coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
      .orderBy("lang")
  }

  /** P4: street-name-coalesce shape (conditional display name). */
  query("p04_name_coalesce", oracle = Some(
      """SELECT p_partkey, CASE WHEN p_brand <> 'Brand#11' THEN p_brand ELSE p_type END AS display_name
        |FROM part ORDER BY p_partkey""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "part")
      .select(col("p_partkey"),
        when(col("p_brand") =!= "Brand#11", col("p_brand")).otherwise(col("p_type"))
          .as("display_name"))
      .orderBy("p_partkey")
  }

  /** P10: export-boundary string concat. */
  query("p10_concat", oracle = Some(
      "SELECT c_custkey, c_name || '#' || c_mktsegment AS name_seg FROM customer ORDER BY c_custkey")) { (s, dir) =>
    tbl(s, dir, "customer")
      .select(col("c_custkey"),
        concat(col("c_name"), lit("#"), col("c_mktsegment")).as("name_seg"))
      .orderBy("c_custkey")
  }

  /** P11+A1: postcode-prefix-stats shape — group by substring prefix.
    * Map-side partial aggregation -> one shuffle on the (tiny) prefix key. */
  query("p11_prefix_stats", oracle = Some(
      """SELECT substring(p_type, 1, 5) AS type_prefix, count(*) AS cnt,
        |       round(avg(p_retailprice), 2) AS avg_price_r,
        |       min(p_retailprice) AS min_price, max(p_retailprice) AS max_price,
        |       CAST(sum(p_size) AS BIGINT) AS sum_size
        |FROM part GROUP BY 1 ORDER BY type_prefix""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "part")
      .groupBy(substring(col("p_type"), 1, 5).as("type_prefix"))
      .agg(count(lit(1)).as("cnt"),
        round(avg(col("p_retailprice")), 2).as("avg_price_r"),
        min(col("p_retailprice")).as("min_price"),
        max(col("p_retailprice")).as("max_price"),
        sum(col("p_size")).as("sum_size"))
      .orderBy("type_prefix")
  }

  /** P12: date truncation via formatted month key. */
  query("p12_date_trunc", oracle = Some(
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS sum_price_r
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("sum_price_r"))
      .orderBy("month")
  }

  /** P13: grid-bucketed spatial self-join ([[graft.geo.SpatialJoin
    * .withinDistance]]) — all point pairs within 2 km on synthesized
    * in-domain RD coordinates (the proximity-dedup shape: duplicate
    * listings at near-identical coordinates, sensor co-location,
    * catchment overlap). The planar LSH-band trick: r-sized grid
    * cells, candidates = equi-join of each point's 9-cell neighborhood
    * against points' own cells (a within-r pair CANNOT span more than
    * adjacent cells), exact integer dist^2 on candidates only — cost
    * is density-bounded, never |P|^2, and each pair surfaces exactly
    * once by construction (left side explodes the neighborhood, right
    * side keeps one cell, id_a < id_b keeps one direction — no dedup
    * pass). The oracle finds the same pairs via a bounding-box
    * inequality join + exact check: grid decomposition must be
    * invisible. */
  query("p13_spatial_neighbors", oracle = Some(
      // p13: same point derivation; pairs found INDEPENDENTLY via a
      // bounding-box inequality join + exact integer check — the engine's
      // grid-cell decomposition must be invisible
      """WITH p AS (SELECT c_custkey AS id,
        |    10000 + CAST('0x' || substring(md5('gx:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 250000 AS x,
        |    300000 + CAST('0x' || substring(md5('gy:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 300000 AS y
        |  FROM customer)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        |FROM p a JOIN p b
        |  ON a.id < b.id
        | AND b.x BETWEEN a.x - 2000 AND a.x + 2000
        | AND b.y BETWEEN a.y - 2000 AND a.y + 2000
        |WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 4000000
        |ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
    val pts = tbl(s, dir, "customer").selectExpr(
      "c_custkey",
      "10000 + cast(conv(substring(md5(concat('gx:', cast(c_custkey as string))),1,8),16,10) as bigint) % 250000 as x",
      "300000 + cast(conv(substring(md5(concat('gy:', cast(c_custkey as string))),1,8),16,10) as bigint) % 300000 as y")
    graft.geo.SpatialJoin.withinDistance(pts, "c_custkey", "x", "y", 2000L)
      .orderBy("id_a", "id_b")
  }

  /** P14: polygon census ([[graft.geo.Polygon]]) — exact shoelace
    * area, centroid and an integer perimeter proxy over planted
    * pentagon rings (the zonal-geometry primitives downstream of P9's
    * ring extraction: parcel-area stats, label-point election,
    * degenerate-geometry screens — all start from these three
    * numbers). Every measure is an in-row higher-order `aggregate`
    * over the CLOSED vertex arrays — map-only, no explode, no
    * shuffle; 64-bit integer arithmetic throughout, the only floats
    * are the two final centroid divisions (rounded 6). Fixture: a
    * pentagon centered on the p05 coordinate plant, scaled by
    * s = 1 + key % 13 — area2 = 24s^2 and centroid = (cx, cy - s/18)
    * analytically, which the spec pins. */
  query("p14_polygon_census", oracle = Some(
      // p14: same planted pentagon ring, the shoelace/centroid/edge sums
      // as list_transform folds, two final rounded divisions
      """WITH o AS (SELECT o_orderkey,
        |    50000 + o_orderkey % 200000 AS cx,
        |    350000 + (o_orderkey * 7) % 250000 AS cy,
        |    1 + o_orderkey % 13 AS sc FROM orders),
        |r AS (SELECT o_orderkey,
        |    [cx + 2 * sc, cx + sc, cx - sc, cx - 2 * sc, cx, cx + 2 * sc] AS xs,
        |    [cy, cy + 2 * sc, cy + 2 * sc, cy, cy - 3 * sc, cy] AS ys
        |  FROM o),
        |m AS (SELECT o_orderkey, xs, ys,
        |    CAST(list_sum(list_transform(range(1, 6), i ->
        |      xs[CAST(i AS INT)] * ys[CAST(i + 1 AS INT)]
        |      - xs[CAST(i + 1 AS INT)] * ys[CAST(i AS INT)])) AS BIGINT) AS area2
        |  FROM r)
        |SELECT o_orderkey, area2,
        |  CAST(list_sum(list_transform(range(1, 6), i ->
        |    (xs[CAST(i + 1 AS INT)] - xs[CAST(i AS INT)]) * (xs[CAST(i + 1 AS INT)] - xs[CAST(i AS INT)])
        |    + (ys[CAST(i + 1 AS INT)] - ys[CAST(i AS INT)]) * (ys[CAST(i + 1 AS INT)] - ys[CAST(i AS INT)]))) AS BIGINT)
        |    AS e2sum,
        |  round(CAST(CAST(list_sum(list_transform(range(1, 6), i ->
        |    (xs[CAST(i AS INT)] + xs[CAST(i + 1 AS INT)])
        |    * (xs[CAST(i AS INT)] * ys[CAST(i + 1 AS INT)] - xs[CAST(i + 1 AS INT)] * ys[CAST(i AS INT)]))) AS BIGINT) AS DOUBLE)
        |    / CAST(3 * area2 AS DOUBLE), 6) AS cx_r,
        |  round(CAST(CAST(list_sum(list_transform(range(1, 6), i ->
        |    (ys[CAST(i AS INT)] + ys[CAST(i + 1 AS INT)])
        |    * (xs[CAST(i AS INT)] * ys[CAST(i + 1 AS INT)] - xs[CAST(i + 1 AS INT)] * ys[CAST(i AS INT)]))) AS BIGINT) AS DOUBLE)
        |    / CAST(3 * area2 AS DOUBLE), 6) AS cy_r
        |FROM m ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
    val o = tblPar(s, dir, "orders").select(col("o_orderkey"),
      (lit(50000L) + col("o_orderkey") % 200000).as("cx"),
      (lit(350000L) + (col("o_orderkey") * 7) % 250000).as("cy"),
      (lit(1L) + col("o_orderkey") % 13).as("sc"))
    val withRing = o
      .withColumn("xs", array(
        col("cx") + lit(2L) * col("sc"), col("cx") + col("sc"),
        col("cx") - col("sc"), col("cx") - lit(2L) * col("sc"),
        col("cx"), col("cx") + lit(2L) * col("sc")))
      .withColumn("ys", array(
        col("cy"), col("cy") + lit(2L) * col("sc"),
        col("cy") + lit(2L) * col("sc"), col("cy"),
        col("cy") - lit(3L) * col("sc"), col("cy")))
      .withColumn("area2",
        graft.geo.Polygon.area2(col("xs"), col("ys")))
    withRing.select(col("o_orderkey"), col("area2"),
        graft.geo.Polygon.edgeLen2Sum(col("xs"), col("ys")).as("e2sum"),
        round(graft.geo.Polygon.centroidNum(col("xs"), col("xs"), col("ys"))
          .cast("double") / (lit(3L) * col("area2")).cast("double"), 6)
          .as("cx_r"),
        round(graft.geo.Polygon.centroidNum(col("ys"), col("xs"), col("ys"))
          .cast("double") / (lit(3L) * col("area2")).cast("double"), 6)
          .as("cy_r"))
      .orderBy("o_orderkey")
  }

  /** P5: the RD->WGS84 polynomial UDF over synthesized in-domain RD coords.
    * Deterministic scalar UDF — Catalyst still prunes/pushes around it. */
  query("p05_geo_rd_to_wgs84", oracle = Some(geoSql)) { (s, dir) =>
    tbl(s, dir, "orders")
      .select(col("o_orderkey"),
        (lit(50000) + col("o_orderkey") % 200000).cast("double").as("rd_x"),
        (lit(350000) + (col("o_orderkey") * 7) % 250000).cast("double").as("rd_y"))
      .withColumn("__wgs", GeoFunctions.rdToWgs84(col("rd_x"), col("rd_y")))
      .select(col("o_orderkey"), col("rd_x"), col("rd_y"),
        round(col("__wgs.latitude"), 6).as("lat_r"),
        round(col("__wgs.longitude"), 6).as("lon_r"))
      .orderBy("o_orderkey")
  }

  // ===== filters ============================================================

  /** F1: temporal-validity window filter (pushed to the scan). */
  query("f01_temporal_filter", oracle = Some(
      """SELECT o_orderkey, o_orderstatus, strftime(o_orderdate, '%Y-%m-%d') AS od
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      .select(col("o_orderkey"), col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
      .orderBy("o_orderkey")
  }

  /** F2: constant status filter + count by group. */
  query("f02_status_filter", oracle = Some(
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
        |WHERE o_orderstatus = 'F' GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("o_orderpriority")
  }

  /** F4: multi-value detector (cardinality predicate, native word count). */
  query("f04_multivalue", oracle = Some(
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |FROM documents WHERE len(string_split(text, ' ')) > 80 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"), TextOps.wordCount(col("text")).cast("long").as("n_words"))
      .filter(col("n_words") > 80)
      .orderBy("doc_id")
  }

  /** F6/U3: orphan detection — anti-join against a filtered dimension.
    * The dim side is broadcast; no shuffle of the fact table. */
  query("f06_orphan_delete", oracle = Some(
      // NOT EXISTS, not NOT IN: a NULL in the subquery column would make
      // NOT IN return zero rows while Spark's left_anti keeps unmatched rows
      """SELECT l_returnflag, count(*) AS orphan_cnt FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM part p
        |                  WHERE p.p_size <= 40 AND p.p_partkey = l.l_partkey)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
    val validParts = tbl(s, dir, "part").filter(col("p_size") <= 40)
      .select(col("p_partkey"))
    tbl(s, dir, "lineitem")
      .join(broadcast(validParts), col("l_partkey") === col("p_partkey"), "left_anti")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("orphan_cnt"))
      .orderBy("l_returnflag")
  }

  // ===== dedup / upsert =====================================================

  /** K2: last-wins upsert dedup via the native [[graft.functions.ArgMax]]
    * aggregate — ONE ObjectHashAggregate with map-side partials (each
    * mapper ships one winner per user it saw), where the r5 row_number
    * window shuffled every event row and sorted each user's full history
    * to keep one. max(struct(ts, event_id)) is a total order (event_id
    * unique), so the winner is identical. */
  query("k02_dedup_lastwins", oracle = Some(
      """WITH r AS (SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id, event_type, value FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(graft.functions.VectorAggregates.argMax(
        struct(col("ts"), col("event_id")),
        struct(col("event_id"), col("event_type"), col("value"))).as("w"))
      .select(col("user_id"), col("w.event_id").as("event_id"),
        col("w.event_type").as("event_type"), col("w.value").as("value"))
      .orderBy("user_id")
  }

  // ===== joins ==============================================================

  /** J1–J7/U1–U3 END-TO-END: the FLAGSHIP adressen curate chain
    * (curate/Adressen.scala — the engine's re-expression of the reference's
    * database_sqlite.py:291-614 UPDATE chain), run on the deterministic
    * BAG-shaped fixture [[BagFixture]] synthesizes from the testdata and
    * hash-verified against the DuckDB CTE mirror j00Sql above (VERDICT r10
    * #1: the headline ETL was the last surface without an independent-engine
    * oracle). This calls the PRODUCTION curate code — five-way join with
    * broadcast dims + NULL-key sentinel, arg_max PK dedup, J3 multi-pand
    * repair, J4/J5 plaats overrides, J7 woonplaats override, J6 nevenadres
    * backfill, U1/U2 dummy-null, U3 conditional orphan delete — not a
    * test-only re-statement. All output columns are ints/strings by fixture
    * construction, so the hash compare is exact. */
  query("j00_adressen_build", oracle = Some(j00Sql)) { (s, dir) =>
    // plan-heavy chain: the orphan-count action inside curated() runs
    // under size-based AQE coalescing (LoopConf.scopedPlanHeavy — task
    // count tracks data, not cores; see the task-binary-deserialization
    // note there), and the persisted curate layer inherits the coalesced
    // partitioning for the J6 tail
    val cur = graft.LoopConf.scopedPlanHeavy(s) {
      graft.curate.Adressen.curated(
        BagFixture.tables(s, dir), graft.Config(asOfDate = "2024-06-30"))
    }
    cur.select(
      col("nummer_id"),
      col("nummer_begindatum_geldigheid"), col("nummer_einddatum_geldigheid"),
      col("pand_id"),
      col("pand_begindatum_geldigheid"), col("pand_einddatum_geldigheid"),
      col("verblijfsobject_id"),
      col("gemeente_id").cast("long").as("gemeente_id"),
      col("woonplaats_id").cast("long").as("woonplaats_id"),
      col("openbare_ruimte_id").cast("long").as("openbare_ruimte_id"),
      col("object_type"), col("gebruiksdoel"), col("postcode"),
      col("huisnummer").cast("long").as("huisnummer"),
      col("huisletter"), col("toevoeging"),
      col("oppervlakte").cast("long").as("oppervlakte"),
      col("rd_x").cast("long").as("rd_x"),
      col("rd_y").cast("long").as("rd_y"),
      col("latitude").cast("long").as("latitude"),
      col("longitude").cast("long").as("longitude"),
      col("bouwjaar").cast("long").as("bouwjaar"),
      col("hoofd_nummer_id"), col("geometry"))
      .orderBy("nummer_id")
  }

  /** J1/J8: the five-way star join. Dims broadcast; the single real shuffle
    * pair is lineitem⋈orders on orderkey. */
  val j01Join5way: Q = query("j01_join_5way", oracle = Some(
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue_r,
        |       count(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)) { (s, dir) =>
    val li = tbl(s, dir, "lineitem")
    val o = tbl(s, dir, "orders")
    val c = tbl(s, dir, "customer")
    val n = tbl(s, dir, "nation")
    val r = tbl(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue_r"),
        count(lit(1)).as("cnt"))
      .orderBy("r_name", "n_name")
  }

  /** J2: update-join (join + coalesce replaces SQLite UPDATE..FROM). */
  query("j02_update_join", oracle = Some(
      """SELECT c_custkey, coalesce(n_name, 'ONBEKEND') AS nation_name
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey ORDER BY c_custkey""".stripMargin)) { (s, dir) =>
    val c = tbl(s, dir, "customer")
    val n = tbl(s, dir, "nation")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("c_custkey"), coalesce(col("n_name"), lit("ONBEKEND")).as("nation_name"))
      .orderBy("c_custkey")
  }

  /** J3-shape: last-wins repair join — pick each customer's most recent
    * order deterministically, patch it onto the base row. The winner comes
    * from the [[graft.functions.ArgMax]] hash aggregate (map-side partials,
    * no per-customer history sort — the k02 rationale). */
  query("j03_repair_join", oracle = Some(
      """WITH lo AS (SELECT o_custkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT c_custkey, c_acctbal, coalesce(lo.o_totalprice, -1.0) AS last_price
        |FROM customer LEFT JOIN lo ON c_custkey = lo.o_custkey AND lo.rn = 1
        |ORDER BY c_custkey""".stripMargin)) { (s, dir) =>
    val lastOrder = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(graft.functions.VectorAggregates.argMax(
        struct(col("o_orderdate"), col("o_orderkey")),
        col("o_totalprice")).as("last_price"))
    tbl(s, dir, "customer")
      .join(lastOrder, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal"),
        coalesce(col("last_price"), lit(-1.0)).as("last_price"))
      .orderBy("c_custkey")
  }

  /** J11: anti-join integrity check — customers without a RECENT order.
    * The orders side is date-restricted so the check is non-vacuous at every
    * SF (an unfiltered version matches zero customers in this corpus: a
    * 0-row hash compare verifies nothing about the anti-join semantics). */
  query("j11_anti_join", oracle = Some(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '1998-04-01')
        |ORDER BY c_custkey""".stripMargin)) { (s, dir) =>
    val o = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1998-04-01")))
      .select(col("o_custkey"))
    tbl(s, dir, "customer")
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** J12: semi-join membership probe. */
  query("j12_semi_join", oracle = Some(
      """SELECT c_custkey FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)) { (s, dir) =>
    val f = tbl(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    tbl(s, dir, "customer")
      .join(f, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"))
      .orderBy("c_custkey")
  }

  /** J13: blocked entity resolution ([[graft.relational.RecordLinkage
    * .candidates]]) — Fellegi-Sunter record linkage of the part catalog
    * against a deterministically-dirtied external catalog (75% of parts
    * present under shifted ids; 80% get one md5-chosen character
    * substituted in the name — the rest stay clean so the lev-0 class
    * is live; size drifts +1 half the time). TWO blocking passes with
    * DIFFERENT failure modes — (brand, size div 4) survives name typos,
    * (name-prefix-4, exact size) survives the size drift and reaches
    * across brands — candidates are their distinct union, so dirty
    * records one key loses the other recovers. Composite integer score
    * (100 - 30*levenshtein - 10*|size diff| + 20*brand-agreement,
    * match at >= 70), resolved per catalog record by the k02 arg_max
    * hash aggregate (score DESC, partkey ASC tiebreak — never a window
    * sort); unmatched records surface as -1 rows so the census keeps
    * every class live (exact, fuzzy, ambiguous-multi-candidate,
    * unmatched — all present at every SF). Scale shape: per-pass cost =
    * sum-over-blocks |L||R| with an aggregation-sized broadcast hub
    * guard; no cartesian anywhere (PlanSpec-swept), resolution is one
    * hash aggregate. */
  query("j13_entity_resolution", oracle = Some(
      // j13: identical dirty-catalog derivation, the two blocking passes as
      // plain joins (cap never binds on this uniform data — proven in spec),
      // composite score, per-catalog-record argmax via row_number
      """WITH cat AS (
        |  SELECT p_partkey + 5000000 AS cat_id,
        |    CASE WHEN (h // 16) % 5 = 0 THEN p_name ELSE
        |      concat(substring(p_name, 1, CAST(1 + ((h // 8) % length(p_name)) AS INT) - 1), 'x',
        |             substring(p_name, CAST(1 + ((h // 8) % length(p_name)) AS INT) + 1)) END AS name_dirty,
        |    p_brand AS brand,
        |    CAST(p_size + ((h // 4) % 2) AS INT) AS size_dirty
        |  FROM (SELECT *, CAST('0x' || substring(md5('cat:' || CAST(p_partkey AS VARCHAR)),1,8) AS BIGINT) AS h
        |        FROM part)
        |  WHERE h % 4 < 3),
        |cand AS (
        |  SELECT DISTINCT p_partkey, cat_id FROM (
        |    SELECT p.p_partkey, c.cat_id FROM part p JOIN cat c
        |      ON p.p_brand = c.brand AND p.p_size // 4 = c.size_dirty // 4
        |    UNION ALL
        |    SELECT p.p_partkey, c.cat_id FROM part p JOIN cat c
        |      ON substring(p.p_name, 1, 4) = substring(c.name_dirty, 1, 4)
        |     AND p.p_size = c.size_dirty)),
        |scored AS (
        |  SELECT cand.cat_id, cand.p_partkey,
        |    CAST(levenshtein(p.p_name, c.name_dirty) AS BIGINT) AS lev,
        |    CAST(abs(p.p_size - c.size_dirty) AS BIGINT) AS sdiff,
        |    100 - 30 * CAST(levenshtein(p.p_name, c.name_dirty) AS BIGINT)
        |        - 10 * CAST(abs(p.p_size - c.size_dirty) AS BIGINT)
        |        + CASE WHEN p.p_brand = c.brand THEN 20 ELSE 0 END AS score
        |  FROM cand JOIN part p USING (p_partkey) JOIN cat c USING (cat_id)),
        |m AS (
        |  SELECT *, row_number() OVER (PARTITION BY cat_id ORDER BY score DESC, p_partkey) AS rk,
        |    CAST(count(*) OVER (PARTITION BY cat_id) AS BIGINT) AS n_match
        |  FROM scored WHERE score >= 70)
        |SELECT c.cat_id,
        |  coalesce(m.p_partkey, -1) AS matched_key,
        |  coalesce(m.lev, -1) AS lev,
        |  coalesce(m.sdiff, -1) AS sdiff,
        |  CAST(coalesce(m.score, -1) AS BIGINT) AS score,
        |  coalesce(m.n_match, 0) AS n_match
        |FROM cat c LEFT JOIN (SELECT * FROM m WHERE rk = 1) m USING (cat_id)
        |ORDER BY c.cat_id""".stripMargin)) { (s, dir) =>
    val parts = tbl(s, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
    val cat = parts.selectExpr("*",
        "cast(conv(substring(md5(concat('cat:', cast(p_partkey as string))),1,8),16,10) as bigint) as __h")
      .where("__h % 4 < 3")
      .selectExpr(
        "p_partkey + 5000000 as cat_id",
        "case when (__h div 16) % 5 = 0 then p_name else " +
          "concat(substring(p_name, 1, cast(1 + ((__h div 8) % length(p_name)) as int) - 1), 'x'," +
          " substring(p_name, cast(1 + ((__h div 8) % length(p_name)) as int) + 1)) end as name_dirty",
        "p_brand as brand",
        "cast(p_size + ((__h div 4) % 2) as int) as size_dirty")
    val cand0 = graft.relational.RecordLinkage.candidates(
      parts, "p_partkey", cat, "cat_id",
      Seq(
        (concat(col("p_brand"), lit("|"), expr("p_size div 4")),
          concat(col("brand"), lit("|"), expr("size_dirty div 4"))),
        (concat(substring(col("p_name"), 1, 4), lit("|"), col("p_size")),
          concat(substring(col("name_dirty"), 1, 4), lit("|"), col("size_dirty")))))
    // r13: spread the scoring scan across the session's cores. The
    // candidate frame is two longs per row, so AQE's byte-based
    // coalescing collapses it to bytes/minPartitionSize partitions
    // (QProbe: the levenshtein stage ran as 2 tasks x ~600 ms at 32
    // cores) — but per-row cost here is a levenshtein, ~3 orders of
    // magnitude more compute per byte than the stages that sizing is
    // tuned for. The round-robin exchange moves only (p_partkey, cat_id)
    // pairs; at corpus scale candidate rows per core only grow, so a
    // defaultParallelism fan-out never under-splits relative to today.
    // HASH repartition on the (nearly unique) candidate key, not
    // round-robin: a keyless repartition(n) first locally SORTS its
    // input (sortBeforeRepartition, guide §2.5) — measured as a net
    // ~0.25 s loss at sf0.1 despite the widened scoring stage.
    val cand = cand0.repartition(s.sparkContext.defaultParallelism,
      col("cat_id"), col("p_partkey"))
    val scored = cand.join(parts, Seq("p_partkey")).join(cat, Seq("cat_id"))
      .withColumn("lev", levenshtein(col("p_name"), col("name_dirty")).cast("long"))
      .withColumn("sdiff", abs(col("p_size") - col("size_dirty")).cast("long"))
      .withColumn("score", lit(100L) - lit(30L) * col("lev") - lit(10L) * col("sdiff")
        + when(col("p_brand") === col("brand"), lit(20L)).otherwise(lit(0L)))
      .filter(col("score") >= 70)
    val best = scored.groupBy("cat_id").agg(
      max(struct(col("score"), (-col("p_partkey")).as("__nk"),
        col("lev"), col("sdiff"))).as("__b"),
      count(lit(1)).as("n_match"))
    cat.join(best, Seq("cat_id"), "left_outer")
      .select(col("cat_id"),
        coalesce(-col("__b.__nk"), lit(-1L)).as("matched_key"),
        coalesce(col("__b.lev"), lit(-1L)).as("lev"),
        coalesce(col("__b.sdiff"), lit(-1L)).as("sdiff"),
        coalesce(col("__b.score"), lit(-1L)).as("score"),
        coalesce(col("n_match"), lit(0L)).as("n_match"))
      .orderBy("cat_id")
  }

  // ===== explodes, repair and table-format sinks ============================

  /** E1/E2: explode -> re-aggregate (word histogram). */
  query("e01_explode_words", oracle = Some(
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "documents")
      .select(explode(TextOps.words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")
  }

  /** U1/U2: dummy-value null-out. */
  query("u01_null_dummies", oracle = Some(
      """SELECT p_partkey,
        |       CASE WHEN p_size = 1 OR p_size > 48 THEN NULL ELSE CAST(p_size AS BIGINT) END AS size_clean
        |FROM part ORDER BY p_partkey""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "part")
      .select(col("p_partkey"),
        when(col("p_size") === 1 || col("p_size") > 48, lit(null))
          .otherwise(col("p_size")).cast("long").as("size_clean"))
      .orderBy("p_partkey")
  }

  /** U02: group-median imputation + quality audit — the repair half
    * u01's null-out leaves open (detect dummies -> null -> THEN WHAT):
    * masked values (a deterministic 20% md5 directive — the detector
    * sees only masked/observed) are imputed with their nation's EXACT
    * lower median of the observed balances in integer cents (rank
    * (n+1) div 2 over (cents, custkey) — the k-th smallest VALUE is
    * tie-order-independent, so both engines agree without any float),
    * and because the plant knows the true value, every repaired row
    * also carries its absolute imputation error — the audit number
    * that tells you whether median-fill is good enough or a model
    * imputer is warranted. One window sort per nation over observed
    * rows (exact medians are sort-bound; at corpus scale swap in the
    * a22 binned-quantile midpoint), medians broadcast back to the
    * masked slice. */
  query("u02_impute_median", oracle = Some(
      // u02: same mask directive, rank-based exact lower median per nation
      // over observed cents, repaired rows join the medians back
      """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
        |    CAST('0x' || substring(md5('imp:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 10 < 2 AS masked
        |  FROM customer),
        |obs AS (SELECT *, row_number() OVER (PARTITION BY nation ORDER BY cents, c_custkey) AS rk,
        |          CAST(count(*) OVER (PARTITION BY nation) AS BIGINT) AS cnt
        |        FROM c WHERE NOT masked),
        |med AS (SELECT nation, cents AS median_cents, cnt AS n_obs
        |        FROM obs WHERE rk = (cnt + 1) // 2)
        |SELECT c.c_custkey, c.nation, med.n_obs, med.median_cents,
        |  c.cents AS orig_cents, abs(c.cents - med.median_cents) AS abs_err_cents
        |FROM c JOIN med USING (nation)
        |WHERE c.masked
        |ORDER BY c.c_custkey""".stripMargin)) { (s, dir) =>
    val c = tbl(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey").cast("long").as("nation"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("cents"),
      expr("cast(conv(substring(md5(concat('imp:', cast(c_custkey as string))),1,8),16,10) as bigint) % 10 < 2")
        .as("masked"))
    val obs = c.filter(!col("masked"))
    val med = obs
      .withColumn("rk", row_number().over(
        Window.partitionBy("nation").orderBy("cents", "c_custkey")))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("nation")))
      .filter(col("rk") === expr("(cnt + 1) div 2"))
      .select(col("nation"), col("cents").as("median_cents"),
        col("cnt").as("n_obs"))
    c.filter(col("masked")).join(broadcast(med), Seq("nation"))
      .select(col("c_custkey"), col("nation"), col("n_obs"),
        col("median_cents"), col("cents").as("orig_cents"),
        abs(col("cents") - col("median_cents")).as("abs_err_cents"))
      .orderBy("c_custkey")
  }

  /** U03: forward-fill imputation (LOCF — last observation carried
    * forward, the time-series repair u02's cross-sectional median
    * cannot do: a sensor/price/feature stream where a missing reading
    * means "unchanged since the last good one", so the fill must come
    * from the SAME series' past, never from the group): a deterministic
    * 25% md5 mask nulls readings out, then each user's stream fills
    * every gap with the most recent observed value in (ts, event_id)
    * order — `last(ignoreNulls)` over a running window; rows before a
    * user's first observation stay null (LOCF never invents a value),
    * so both the filled and the unfillable classes are live. Exact
    * integer cents, no float anywhere. ONE window sort per user (a
    * single hash exchange on user_id, in-partition sort, no join, no
    * second pass) — at corpus scale the stream is already bucketed by
    * series key and the sort is within-bucket. The oracle fills via the
    * engine-portable running-count group trick (each gap-group holds
    * exactly one observation at its head), so the two engines agree on
    * semantics, not on a shared window builtin. */
  query("u03_ffill", oracle = Some(
      // u03: same md5 mask; the fill uses the engine-portable running-
      // count group trick (each gap-group holds exactly one observation,
      // at its head) instead of last_value IGNORE NULLS — same semantics,
      // independent mechanism
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST('0x' || substring(md5('ffill:' || CAST(event_id AS VARCHAR)),1,8) AS BIGINT) % 4 = 0 AS masked
        |  FROM events),
        |g AS (SELECT *, CASE WHEN NOT masked THEN cents END AS obs,
        |    count(CASE WHEN NOT masked THEN 1 END) OVER (
        |      PARTITION BY user_id ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM e),
        |f AS (SELECT event_id, user_id, masked,
        |    max(obs) OVER (PARTITION BY user_id, grp) AS cents_filled
        |  FROM g)
        |SELECT event_id, user_id, masked, cents_filled,
        |  masked AND cents_filled IS NOT NULL AS was_filled
        |FROM f ORDER BY event_id""".stripMargin)) { (s, dir) =>
    val e = events(s, dir).select(col("event_id"), col("user_id"), col("__tsu"),
      expr("cast(round(value * 100) as bigint)").as("cents"),
      expr("cast(conv(substring(md5(concat('ffill:', cast(event_id as string))),1,8),16,10) as bigint) % 4 = 0")
        .as("masked"))
      .withColumn("obs", when(!col("masked"), col("cents")))
    val w = Window.partitionBy("user_id").orderBy(col("__tsu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("cents_filled", last(col("obs"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("masked"),
        col("cents_filled"),
        (col("masked") && col("cents_filled").isNotNull).as("was_filled"))
      .orderBy("event_id")
  }

  /** U04: winsorization census (the bounded-influence repair
    * completing the u-family's heavy-tail toolkit — u01 nulls dummies
    * OUT, u02/u03 fill gaps IN, THIS caps what stays: every value
    * clipped into [p05, p95] before any moment statistic, the standard
    * pre-treatment without which one whale balance owns the mean):
    * per-nation bounds are rank-exact order statistics — k_lo =
    * ceil(n/20), the k_lo-th smallest and its mirror from the top over
    * (cents, custkey) — value-at-rank, tie-order-independent, NO float
    * anywhere (integer cents in, clipped integer sum out). One window
    * sort per nation for ranks, the |nations|-row bounds frame
    * broadcast back, one clip-and-fold pass — the fold side never
    * sorts. The census reports the bounds, both clip counts (the
    * outlier mass the analyst is about to erase — winsorize blind and
    * you hide real whales), and the exact winsorized sum. */
  query("u04_winsorize", oracle = Some(
      // u04: rank-exact p05/p95 bounds (k_lo = ceil(n/20) and its top
      // mirror), clip counts and the exact winsorized integer sum
      """WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents FROM customer),
        |r AS (SELECT *, row_number() OVER (
        |      PARTITION BY nation ORDER BY cents, c_custkey) AS rk,
        |    CAST(count(*) OVER (PARTITION BY nation) AS BIGINT) AS n FROM c),
        |b AS (SELECT nation, min(cents) AS lo_cents, max(cents) AS hi_cents,
        |    max(n) AS n
        |  FROM r WHERE rk = (n + 19) // 20 OR rk = n + 1 - (n + 19) // 20
        |  GROUP BY nation)
        |SELECT c.nation, b.n, b.lo_cents, b.hi_cents,
        |  CAST(sum(CASE WHEN c.cents < b.lo_cents THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_lo,
        |  CAST(sum(CASE WHEN c.cents > b.hi_cents THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clip_hi,
        |  CAST(sum(greatest(least(c.cents, b.hi_cents), b.lo_cents)) AS BIGINT)
        |    AS sum_winsor
        |FROM c JOIN b USING (nation)
        |GROUP BY c.nation, b.n, b.lo_cents, b.hi_cents
        |ORDER BY c.nation""".stripMargin)) { (s, dir) =>
    val c = tbl(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey").cast("long").as("nation"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("cents"))
    val ranked = c
      .withColumn("rk", row_number().over(
        Window.partitionBy("nation").orderBy("cents", "c_custkey")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("nation")))
    val bounds = ranked
      .withColumn("k_lo", expr("(n + 19) div 20"))
      .filter(col("rk") === col("k_lo") ||
        col("rk") === col("n") + 1 - col("k_lo"))
      .groupBy("nation").agg(min("cents").as("lo_cents"),
        max("cents").as("hi_cents"), max("n").as("n"))
    c.join(broadcast(bounds), Seq("nation"))
      .groupBy(col("nation"), col("n"), col("lo_cents"), col("hi_cents"))
      .agg(
        sum(when(col("cents") < col("lo_cents"), 1L).otherwise(0L))
          .as("n_clip_lo"),
        sum(when(col("cents") > col("hi_cents"), 1L).otherwise(0L))
          .as("n_clip_hi"),
        sum(greatest(least(col("cents"), col("hi_cents")), col("lo_cents")))
          .as("sum_winsor"))
      .orderBy("nation")
  }

  /** U05: golden-record survivorship
    * ([[graft.relational.RecordLinkage.survivorship]]) — the step AFTER
    * j13's linkage: clustered duplicate records merge into ONE record
    * under per-field policies (the MDM playbook — k02's last-wins takes
    * the whole newest ROW; survivorship elects per FIELD, so the newest
    * record's null cannot clobber an older good value): name = longest
    * (tie -> lexicographically smallest), balance = most recent
    * NON-NULL by ts, segment = majority vote (tie -> smallest). Fixture
    * plants up to three versions per customer — the original, a newer
    * '-ext' rename with a NULL balance (freshness-vs-completeness
    * conflict live), and a stale truncated-name variant with a drifted
    * balance and a 'STALE' segment (majority + tie classes live; real
    * segments sort before 'STALE', so 1-1 ties keep the real value).
    * Every election is a deterministic struct arg-min/arg-max fold —
    * never a window over the record space. */
  query("u05_golden_record", oracle = Some(
      // u05: same planted versions; each election restated with
      // row_number windows instead of the engine's struct arg-max
      """WITH c AS (SELECT c_custkey AS key, c_name AS name,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
        |    c_mktsegment AS seg FROM customer),
        |v AS (SELECT key, 1000 + key % 7 AS ts, name, cents, seg FROM c
        |  UNION ALL SELECT key, 2000 + key % 5, name || '-ext', NULL, seg
        |    FROM c WHERE key % 3 = 0
        |  UNION ALL SELECT key, 500, substring(name, 1, 5), cents + 100, 'STALE'
        |    FROM c WHERE key % 5 = 0),
        |base AS (SELECT key, CAST(count(*) AS BIGINT) AS n_versions,
        |         CAST(max(ts) AS BIGINT) AS ts_latest FROM v GROUP BY 1),
        |nm AS (SELECT key, name AS name_golden FROM (
        |    SELECT key, name, row_number() OVER (PARTITION BY key
        |      ORDER BY length(name) DESC, name) AS rn FROM v) WHERE rn = 1),
        |ct AS (SELECT key, cents AS cents_golden FROM (
        |    SELECT key, cents, row_number() OVER (PARTITION BY key
        |      ORDER BY ts DESC) AS rn FROM v WHERE cents IS NOT NULL)
        |  WHERE rn = 1),
        |sgc AS (SELECT key, seg, count(*) AS n FROM v GROUP BY 1, 2),
        |sg AS (SELECT key, seg AS seg_golden FROM (
        |    SELECT key, seg, row_number() OVER (PARTITION BY key
        |      ORDER BY n DESC, seg) AS rn FROM sgc) WHERE rn = 1)
        |SELECT base.key, base.n_versions, base.ts_latest, nm.name_golden,
        |  ct.cents_golden, sg.seg_golden
        |FROM base JOIN nm USING (key) LEFT JOIN ct USING (key)
        |JOIN sg USING (key)
        |ORDER BY base.key""".stripMargin)) { (s, dir) =>
    val c = tbl(s, dir, "customer").select(col("c_custkey").as("key"),
      col("c_name").as("name"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("cents"),
      col("c_mktsegment").as("seg"))
    val v0 = c.select(col("key"), (lit(1000L) + col("key") % 7).as("ts"),
      col("name"), col("cents"), col("seg"))
    val v1 = c.filter(col("key") % 3 === 0)
      .select(col("key"), (lit(2000L) + col("key") % 5).as("ts"),
        concat(col("name"), lit("-ext")).as("name"),
        lit(null).cast("long").as("cents"), col("seg"))
    val v2 = c.filter(col("key") % 5 === 0)
      .select(col("key"), lit(500L).as("ts"),
        substring(col("name"), 1, 5).as("name"),
        (col("cents") + 100L).as("cents"), lit("STALE").as("seg"))
    graft.relational.RecordLinkage.survivorship(
        v0.unionByName(v1).unionByName(v2),
        entity = "key", ts = "ts",
        longestCols = Seq("name"), lastNonNullCols = Seq("cents"),
        majorityCols = Seq("seg"))
      .orderBy("key")
  }

  /** E2b: explode_outer totality — exploding a possibly-empty match list
    * must KEEP the parent row (NULL element) or downstream per-doc
    * aggregates silently lose documents; the inner explode (e01) drops
    * them. The filter runs in-kernel (HOF), only matches explode. */
  query("e02_explode_outer", oracle = Some(
      // explode_outer: empty match lists keep the parent row as NULL.
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x = 'stream') AS m
        |  FROM documents)
        |SELECT doc_id,
        |       unnest(CASE WHEN len(m) = 0 THEN [NULL] ELSE m END) AS word
        |FROM t ORDER BY doc_id, word""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        explode_outer(filter(split(col("text"), " "), x => x === "stream"))
          .as("word"))
      .orderBy("doc_id", "word")
  }

  /** E03: order-preserving explode/rebuild roundtrip — the contract
    * every shred-process-reassemble pipeline leans on (chunk a doc,
    * process chunks independently, put the doc back together in
    * order): posexplode carries the position, the shuffle is free to
    * scramble rows, and the rebuild sorts (pos, token) structs IN-ROW
    * after a hash re-aggregation — array_sort on the struct, never an
    * ORDER BY. The query emits the rebuilt text plus an in-plan
    * equality flag against the original; the oracle answers with the
    * ORIGINAL text and a constant true, so a single out-of-order token
    * anywhere in either SF fails the hash. The one subtlety a naive
    * rebuild misses: collect_list's intra-group order is
    * NON-DETERMINISTIC under retries — riding the position through the
    * row is the only correct distributed rebuild. */
  query("e03_posexplode_rebuild", oracle = Some(
      // e03: the oracle answers with the ORIGINAL text and constant true —
      // any out-of-order token in the engine's rebuild fails the hash
      """SELECT doc_id,
        |  CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_words,
        |  coalesce(text, '') AS rebuilt,
        |  true AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    docs.select(col("doc_id"), col("text"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .groupBy("doc_id", "text")
      .agg(collect_list(struct(col("pos"), col("word"))).as("__parts"))
      .withColumn("rebuilt", expr(
        "array_join(transform(array_sort(__parts), p -> p.word), ' ')"))
      .select(col("doc_id"),
        size(col("__parts")).cast("long").as("n_words"),
        col("rebuilt"),
        (col("rebuilt") === col("text")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  /** S11: line-delimited text sink + source — the rawest corpus format
    * (one doc per line). Explicit single-column text read, no schema
    * inference; the same aggregate contract as s06/s07 proves content
    * fidelity through the text boundary (synthetic docs contain no
    * newlines, the format's own precondition). */
  query("s11_text_roundtrip", oracle = Some(
      """SELECT count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_txt")
    tbl(s, dir, "documents").select(col("text"))
      .write.mode("overwrite").text(tmp)
    s.read.text(tmp)
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("value"))).as("sum_chars"),
        countDistinct(md5(col("value"))).as("n_texts"))
  }

  /** S16: Write-Audit-Publish ([[graft.relational.Publish]]) — the
    * data-quality gate of table publication: per-language document stats
    * stage invisibly, audits run in one aggregation over the STAGED
    * files (written-data discipline, the s12 manifest rule), and only a
    * fully-green audit report swaps the version in by rename. The
    * returned frame reads the PUBLISHED path — so the oracle compare
    * certifies the whole stage/audit/publish round-trip preserved the
    * data exactly; ScaleOpsSpec covers the failing-audit path (dest
    * byte-identical, staging cleaned). */
  query("s16_wap", oracle = Some(
      // the oracle sees only the published data: a publish that dropped,
      // duplicated, or reordered anything through the stage/swap is a hash
      // mismatch
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    val dest = scratch("graft_wap") + "/lang_stats"
    val stats = tbl(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val report = graft.relational.Publish.writeAuditPublish(stats, dest, Seq(
      "nonempty" -> (count(lit(1)) > 0),
      "no_null_lang" -> (count(when(col("lang").isNull, 1)) === 0),
      "positive_counts" -> (count(when(col("n_docs") <= 0, 1)) === 0)))
    require(report.published, s"WAP audits failed: ${report.audits}")
    s.read.parquet(dest).orderBy("lang")
  }

  /** S17: incremental aggregate maintenance
    * ([[graft.relational.IncrementalAgg]]) — the always-fresh-dashboard
    * pattern: a stored per-type (count, sum) table folds the event log
    * in as three chronological deltas (thirds by event_id), each fold
    * reading back ONLY the touched hash slots and rewriting them via
    * dynamic overwrite. The returned frame reads the maintained table;
    * the oracle states the CONVERGED aggregate declaratively — so any
    * drift across the three folds (lost partial, double-applied slot,
    * key misrouted between slots) is a hash mismatch. Value folded in
    * cents so the sums compose as exact integers. */
  query("s17_incremental_agg", oracle = Some(
      // the converged maintained aggregate == the one-shot declarative
      // aggregate: lost partials, double-applied slots, or misrouted keys
      // anywhere across the three folds break the hash
      """SELECT event_type AS key, count(*) AS cnt,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_ivm") + "/agg"
    val ev = tbl(s, dir, "events")
      .select(col("event_id"), col("event_type").as("key"),
        round(col("value") * 100, 0).cast("long").as("value"))
    graft.relational.IncrementalAgg.applyDelta(ev.filter(col("event_id") % 3 === 0), tmp)
    graft.relational.IncrementalAgg.applyDelta(ev.filter(col("event_id") % 3 === 1), tmp)
    graft.relational.IncrementalAgg.applyDelta(ev.filter(col("event_id") % 3 === 2), tmp)
    graft.relational.IncrementalAgg.read(s, tmp)
      .select(col("key"), col("cnt"), col("sum").as("sum_cents"))
      .orderBy("key")
  }

  /** S18: table statistics collection (the ANALYZE verb) — per-slice
    * min/max/rowcount/null-count metadata, the raw material of
    * cost-based planning and file skipping: a scan with a doc_id range
    * predicate prunes a slice exactly when its [min, max] envelope
    * misses, and join sizing needs row counts before the first byte is
    * read. One partial-aggregated pass per stats refresh; every
    * statistic an exact integer. (Engine-native `ANALYZE TABLE` fills
    * the catalog the same way — this is the queryable, versionable
    * form a lakehouse stores next to the data.) */
  query("s18_table_stats", oracle = Some(
      // exact integer statistics per slice — the ANALYZE contract
      """SELECT lang, count(*) AS n_rows,
        |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
        |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS text_bytes,
        |       CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS null_texts,
        |       count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        sum(octet_length(col("text")).cast("long")).as("text_bytes"),
        count(when(col("text").isNull, 1)).as("null_texts"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")
  }

  /** S19: versioned table + TIME TRAVEL
    * ([[graft.relational.Versioned]]) — the lakehouse snapshot
    * contract on plain parquet: version 1 (even doc_ids) commits, then
    * version 2 (all docs) commits over it, and the query reads the
    * PINNED v1 AFTER v2 landed plus the latest pointer — so the oracle
    * hash certifies that later writes never disturb a pinned snapshot
    * and that the pointer flip is atomic-read-consistent. Training
    * reproducibility is exactly this: the run pins the corpus version
    * it saw. */
  query("s19_time_travel", oracle = Some(
      // version 1 == the even-ids aggregate, version 2 == the full
      // aggregate: a pinned snapshot disturbed by the later write, or a
      // stale/mixed latest pointer, breaks the hash
      """SELECT CAST(1 AS BIGINT) AS version, lang, count(*) AS n_docs
        |FROM documents WHERE doc_id % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS version, lang, count(*) AS n_docs
        |FROM documents GROUP BY 2
        |ORDER BY version, lang""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_tt") + "/t"
    val docs = tbl(s, dir, "documents")
    def langCounts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val v1 = graft.relational.Versioned.write(
      langCounts(docs.filter(col("doc_id") % 2 === 0)), tmp)
    graft.relational.Versioned.write(langCounts(docs), tmp)
    val pinned = graft.relational.Versioned.read(s, tmp, Some(v1))
      .withColumn("version", lit(1L))
    val latest = graft.relational.Versioned.read(s, tmp)
      .withColumn("version", lit(2L))
    pinned.unionByName(latest)
      .select(col("version"), col("lang"), col("n_docs"))
      .orderBy("version", "lang")
  }

  /** S22: change-data-feed read ([[graft.relational.Versioned.changes]])
    * — the Delta-CDF/Iceberg-changelog contract on the versioned layout:
    * v1 = per-lang counts over even docs sans 'fr', v2 = the full corpus
    * sans 'de', so the feed carries exactly one insert (fr), one delete
    * (de) and three updates (en/es/zh count changes) at every SF. The
    * oracle recomputes both versions straight from `documents` — which
    * also independently proves the versioned storage round-trips the
    * aggregates faithfully.
    * Two snapshot scans meet in ONE co-partitioned full-outer equi-join on
    * the key columns, and 16-byte payload fingerprints decide update vs
    * unchanged, so the payload crosses the exchange once. */
  query("s22_change_feed", oracle = Some(
      // s22: both snapshot aggregates recomputed straight from documents
      // (independently proving the versioned storage round-trips them),
      // then the same keyed classification; unchanged rows not emitted,
      // absent sides totalized to -1
      """WITH v1 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents WHERE doc_id % 2 = 0 AND lang <> 'fr' GROUP BY 1),
        |v2 AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents WHERE lang <> 'de' GROUP BY 1),
        |j AS (SELECT coalesce(v1.lang, v2.lang) AS lang,
        |  v1.n_docs AS n_before, v2.n_docs AS n_after
        |  FROM v1 FULL OUTER JOIN v2 ON v1.lang = v2.lang)
        |SELECT lang,
        |  CASE WHEN n_before IS NULL THEN 'insert'
        |       WHEN n_after IS NULL THEN 'delete'
        |       ELSE 'update' END AS change_type,
        |  coalesce(n_before, -1) AS n_before,
        |  coalesce(n_after, -1) AS n_after
        |FROM j
        |WHERE n_before IS NULL OR n_after IS NULL OR n_before <> n_after
        |ORDER BY lang""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_cdf") + "/t"
    val docs = tbl(s, dir, "documents")
    def langCounts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    graft.relational.Versioned.write(
      langCounts(docs.filter(col("doc_id") % 2 === 0 && col("lang") =!= "fr")), tmp)
    graft.relational.Versioned.write(
      langCounts(docs.filter(col("lang") =!= "de")), tmp)
    graft.relational.Versioned.changes(s, tmp, 1L, 2L, Seq("lang"))
      .select(col("lang"), col("change_type"),
        coalesce(col("__pre.n_docs"), lit(-1L)).as("n_before"),
        coalesce(col("__post.n_docs"), lit(-1L)).as("n_after"))
      .orderBy("lang")
  }

  /** S23: CDC MERGE apply ([[graft.relational.Merge.applyChanges]]) —
    * the write-side twin of s22's change-feed READ: a Debezium-style
    * change batch (per-row `__op` upsert/delete) applied to the
    * versioned orders snapshot in ONE full-outer equi-join, committed
    * as the next version, and read back from the committed snapshot
    * (self-scan proof). The md5-bucket directives exercise every MERGE
    * branch at every SF: bucket 0 = matched delete, 1 = matched upsert
    * (update: status 'U', price + 1000.0 — one IEEE op, bit-identical
    * on both engines), 2 = unmatched upsert (insert under a shifted
    * key), 3 = unmatched delete (the redelivered-tombstone no-op — its
    * keys never exist, and the hash proves nothing leaked). Bad `__op`
    * values fail in-plan via raise_error, so a malformed batch can
    * never half-apply. At 100 TB the target side of the join reads
    * exchange-free from a key-bucketed layout ([[graft.relational
    * .Bucketing]]); the oracle mirrors the merge DECLARATIVELY
    * (kept/updated/inserted unions) so the engine's join-based apply is
    * checked against independently-stated semantics, not itself. */
  query("s23_merge_apply", oracle = Some(
      // s23: the MERGE mirrored DECLARATIVELY — kept / updated / inserted
      // unions under the same md5 directive buckets (0 delete, 1 update,
      // 2 insert; bucket-3 ghost deletes touch nothing by construction)
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)),1,8) AS BIGINT) % 10 AS b
        |  FROM orders)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM base WHERE b NOT IN (0, 1)
        |  UNION ALL
        |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice + 1000.0 AS o_totalprice
        |  FROM base WHERE b = 1
        |  UNION ALL
        |  SELECT o_orderkey + 100000000 AS o_orderkey, 'N' AS o_orderstatus, o_totalprice
        |  FROM base WHERE b = 2)
        |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_merge") + "/t"
    val orders = tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    graft.relational.Versioned.write(orders, tmp)
    val base = orders.withColumn("__bkt", expr(
      "cast(conv(substring(md5(cast(o_orderkey as string)),1,8),16,10) as bigint) % 10"))
    val dels = base.filter(col("__bkt") === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit("delete").as("__op"))
    val upds = base.filter(col("__bkt") === 1)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + lit(1000.0)).as("o_totalprice"),
        lit("upsert").as("__op"))
    val ins = base.filter(col("__bkt") === 2)
      .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"),
        lit("upsert").as("__op"))
    val ghostDels = base.filter(col("__bkt") === 3)
      .select((col("o_orderkey") + lit(900000000L)).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"), lit("delete").as("__op"))
    val batch = dels.unionByName(upds).unionByName(ins).unionByName(ghostDels)
    val (_, merged) =
      graft.relational.Merge.applyChanges(s, tmp, batch, Seq("o_orderkey"))
    merged.orderBy("o_orderkey")
  }

  /** S24: merge-on-read positional deletes
    * ([[graft.relational.DeleteVectors]]) — the Iceberg/Delta
    * deletion-vector shape s23's MERGE rewrite avoids paying
    * per-delete: deleting from a 100 TB base must not rewrite the
    * base, so a delete writes only the POSITIONS (O(|deleted|) bytes,
    * parquet APPEND — concurrent delete writers never rewrite each
    * other) and the reader subtracts them with one anti-join at scan
    * time. Two delete batches land here (a lang purge, then a source
    * takedown) with DELIBERATE overlap — docs matching both are
    * deleted twice, and the DISTINCT position set makes the replay a
    * no-op (the st18 idempotence story for deletes). The readback is
    * the full surviving projection, so one wrongly-kept or
    * wrongly-dropped row fails the hash; the oracle is the plain
    * predicate filter the MoR pipeline must reproduce.
    * The read's anti-join strategy is left to AQE: broadcast for small delete
    * sets, shuffle for mass deletes, where a forced broadcast would run out
    * of memory exactly when deletes are largest. */
  query("s24_delete_vectors", oracle = Some(
      // s24: the MoR read must reproduce the plain predicate filter
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE NOT (lang = 'zh' OR source = 'src3')
        |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    // the base rewrite pays a global row_number sort — memoized per input
    // dir so repeated invocations in one run reuse the materialization
    // (appendDeletes would otherwise also re-append, doubling the DV —
    // harmless for DISTINCT semantics, but the memo makes it moot).
    val tmp = scratchFor("graft_dv", dir) { tmp =>
      val base = tbl(s, dir, "documents")
        .withColumn("_pos", row_number().over(
          Window.orderBy("doc_id")).cast("long"))
      base.write.mode("overwrite").parquet(s"$tmp/base")
      val b = s.read.parquet(s"$tmp/base")
      graft.relational.DeleteVectors.appendDeletes(
        b.filter(col("lang") === "zh").select("_pos"), s"$tmp/dv")
      graft.relational.DeleteVectors.appendDeletes(
        b.filter(col("source") === "src3").select("_pos"), s"$tmp/dv")
    }
    graft.relational.DeleteVectors.read(s, s"$tmp/base", s"$tmp/dv")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** S20: snapshot EXPIRY ([[graft.relational.Versioned.expire]]) — the
    * retention half s19 left as policy: three commits, then expire to
    * the newest two; the query ASSERTS in-plan that v1's directory is
    * physically gone and that the expiry reported exactly [1], then
    * reads the two survivors. A failed delete, an over-eager one, or a
    * moved pointer all either throw or hash-mismatch.
    * Pure filesystem-catalog work: a bounded listing and a recursive delete
    * per doomed version, with no data read and no job; the pointer target is
    * spared, so serving never breaks mid-expiry. */
  query("s20_snapshot_expire", oracle = Some(
      // survivors after expiry: pinned v2 (doc_id % 2) + latest v3 (all) —
      // the deleted v1 must be absent from disk (engine-side require), so
      // only these rows can appear
      """SELECT CAST(2 AS BIGINT) AS version, lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
        |UNION ALL
        |SELECT CAST(3 AS BIGINT) AS version, lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY lang
        |ORDER BY version, lang""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_exp") + "/t"
    val docs = tbl(s, dir, "documents")
    def langCounts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    graft.relational.Versioned.write(langCounts(docs.filter(col("doc_id") % 3 === 0)), tmp)
    val v2 = graft.relational.Versioned.write(
      langCounts(docs.filter(col("doc_id") % 2 === 0)), tmp)
    graft.relational.Versioned.write(langCounts(docs), tmp)
    val deleted = graft.relational.Versioned.expire(s, tmp, keep = 2)
    require(deleted == Seq(1L), s"expiry deleted $deleted, expected [1]")
    require(!new java.io.File(s"$tmp/v=1").exists(), "v=1 survived expiry")
    require(graft.relational.Versioned.versions(s, tmp) == Seq(2L, 3L),
      "retained set wrong")
    val pinned = graft.relational.Versioned.read(s, tmp, Some(v2))
      .withColumn("version", lit(2L))
    val latest = graft.relational.Versioned.read(s, tmp)
      .withColumn("version", lit(3L))
    pinned.unionByName(latest)
      .select(col("version"), col("lang"), col("n_docs"))
      .orderBy("version", "lang")
  }

  /** S21: table HISTORY ([[graft.relational.Versioned.versions]]) — the
    * DESCRIBE-HISTORY surface of the versioned table: one row per
    * retained snapshot with its audit stats (rowcount, distinct langs,
    * doc total), read from the snapshots themselves so the listing can
    * never drift from the data. Snapshot count is bounded by retention
    * ([[graft.relational.Versioned.expire]]), so the per-version loop
    * is catalog-sized, not data-sized. */
  query("s21_table_history", oracle = Some(
      // per-snapshot audit stats from the same three splits
      """SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(sum(doc_id) AS BIGINT) AS sum_ids, FALSE AS is_latest
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT 2, CAST(count(*) AS BIGINT), CAST(count(DISTINCT lang) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT), FALSE
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 3, CAST(count(*) AS BIGINT), CAST(count(DISTINCT lang) AS BIGINT),
        |       CAST(sum(doc_id) AS BIGINT), TRUE
        |FROM documents
        |ORDER BY version""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_hist") + "/t"
    val docs = tbl(s, dir, "documents")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang")
    graft.relational.Versioned.write(snap(docs.filter(col("doc_id") % 3 === 0)), tmp)
    graft.relational.Versioned.write(snap(docs.filter(col("doc_id") % 2 === 0)), tmp)
    graft.relational.Versioned.write(snap(docs), tmp)
    val latest = graft.relational.Versioned.latestVersion(s, tmp).getOrElse(-1L)
    graft.relational.Versioned.versions(s, tmp).map { v =>
      graft.relational.Versioned.read(s, tmp, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("lang")).as("n_langs"),
          sum(col("doc_id")).as("sum_ids"))
        .select(lit(v).as("version"), col("n_rows"), col("n_langs"),
          col("sum_ids"), lit(v == latest).as("is_latest"))
    }.reduce(_.unionByName(_))
      .orderBy("version")
  }
}
