package graft.queries

/**
 * DuckDB-equivalent ANSI SQL for every SQL-expressible query in [[Queries]].
 * Keys match `SparkEntry.queries`; column aliases match the Spark output
 * exactly (the driver sorts columns by name and hash-compares values).
 *
 * Queries intentionally omitted (no faithful SQL equivalent, driver records
 * a rows-only check): a08_approx_distinct and a16_approx_percentiles —
 * their answers rest on sketch internals (HLL++, KLL) that DuckDB cannot
 * reproduce; VerifyExtras covers each with an error bound against the
 * exact computation. RegistrySpec pins this list.
 */
object Oracle {

  /** Shared CTE: distinct 5-word shingle sets per document (chr(31) joined,
    * mirroring TextOps.ShingleSep) + exact pairwise Jaccard via the shingle
    * inverted index.
    *
    * `postingsCap` mirrors Dedup.NearDup.maxShinglePostings: when set, a
    * shingle held by more than `cap` docs is excluded from CANDIDATE
    * generation only (the intersection count is still computed exactly over
    * the full shingle sets of each surviving candidate pair), so the oracle
    * drops exactly the pairs the Spark skew guard drops — pairs whose every
    * shared shingle is boilerplate. d04 (MinHash-LSH) has no postings cap on
    * the Spark side, so its oracle stays uncapped. */
  private def jaccardSql(minJ: Double, postingsCap: Option[Int] = None): String = {
    val pr = postingsCap match {
      case Some(cap) =>
        s"""rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $cap),
           |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
           |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |         FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id),
           |pr AS (SELECT c.id_a, c.id_b, count(*) AS inter
           |       FROM cand c JOIN sh a ON a.doc_id = c.id_a
           |       JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s GROUP BY 1, 2)""".stripMargin
      case None =>
        """pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          |       FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)""".stripMargin
    }
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
       |          i -> list_aggregate(w[i:i+4], 'string_agg', chr(31)))) AS s
       |        FROM tok WHERE len(w) >= 5),
       |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |$pr,
       |jac AS (SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
       |               CAST(ca.n + cb.n - inter AS BIGINT) AS uni,
       |               round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 6) AS jaccard
       |        FROM pr JOIN cnt ca ON ca.doc_id = pr.id_a JOIN cnt cb ON cb.doc_id = pr.id_b)
       |SELECT id_a, id_b, inter, uni, jaccard FROM jac
       |WHERE jaccard >= $minJ ORDER BY id_a, id_b""".stripMargin
  }

  /** The t20 hashed-linear micro-score over a word list `w`: md5 bucket,
    * then the md5('qw<bucket>')-derived integer micro-weight, summed —
    * shared by the t20 and d15 mirrors so the model stays one definition. */
  private val qMicroSum =
    """CAST(list_aggregate(list_transform(w, t ->
      |    CAST('0x' || substring(md5('qw' ||
      |      CAST(CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % 256 AS VARCHAR)
      |    ), 1, 8) AS BIGINT) % 2000001 - 1000000), 'sum') AS BIGINT)""".stripMargin

  private val sumSq = "list_aggregate(list_transform(%s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')"
  /** The t16/t17 BPE pipeline as shared CTE text (word split, in-word
    * pair counts, top-8 merge ranking, wrapped-separator replace-chain
    * encode, per-doc char/token sums) — one tokenizer definition for
    * every BPE-derived oracle (t17 per-doc, t28 per-language). */
  private lazy val bpeCoreSql: String = {
    val inter = """regexp_replace(word, '(.)', chr(1) || '\1' || chr(1), 'g')"""
    val enc = (1 to 8).foldLeft(inter) { (acc, r) =>
      s"replace($acc, (SELECT chr(1)||substring(pair,1,1)||chr(1)||chr(1)" +
        s"||substring(pair,2,1)||chr(1) FROM mr WHERE rnk=$r), " +
        s"(SELECT chr(1)||pair||chr(1) FROM mr WHERE rnk=$r))"
    }
    s"""w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |wf AS (SELECT doc_id, word FROM w WHERE length(word) > 0),
       |pc AS (SELECT pair, count(*) AS cnt FROM (
       |         SELECT unnest(list_transform(range(1, length(word)),
       |           i -> substring(word, i, 2))) AS pair
       |         FROM wf WHERE length(word) >= 2) GROUP BY pair),
       |mr AS (SELECT pair, row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rnk FROM pc),
       |enc AS (SELECT doc_id, length(word) AS n_chars, $enc AS e FROM wf),
       |tok AS (SELECT doc_id, n_chars,
       |          (length(e) - length(replace(e, chr(1), ''))) // 2 AS n_tok FROM enc),
       |agg AS (SELECT doc_id, sum(n_chars) AS nc, sum(n_tok) AS nt FROM tok GROUP BY doc_id)""".stripMargin
  }

  /** Okapi BM25 of every document against the 3-term fixture query as
    * shared CTE text ending in `sc(doc_id, n_qterms, score)` — one
    * formula definition for t18 (per-doc scores) and x29 (the sparse
    * leg of the hybrid fusion). */
  private lazy val bm25CoreSql: String =
    """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
      |stats AS (SELECT count(*) AS n, sum(dl) AS total FROM dl),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       WHERE term IN ('stream', 'data', 'query') GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |         CAST(count(*) AS BIGINT) AS n_qterms,
      |         sum(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
      |             * tf.tf * 2.2
      |             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
      |                 / (CAST(stats.total AS DOUBLE) / stats.n)))) AS score
      |       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      |       GROUP BY 1)""".stripMargin

  /** The t03 stopword-profile language classifier as shared CTE text
    * ending in `g(doc_id, s_de..s_zh, lang_guess)` — one classifier
    * definition for t03 and the t31 confusion matrix. */
  private lazy val langidCoreSql: String =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sc AS (SELECT doc_id,
      |  CAST(len(list_filter(ws, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS s_de,
      |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS s_en,
      |  CAST(len(list_filter(ws, x -> x IN ('el','que','los','una','es'))) AS BIGINT) AS s_es,
      |  CAST(len(list_filter(ws, x -> x IN ('le','les','des','une','est'))) AS BIGINT) AS s_fr,
      |  CAST(len(list_filter(ws, x -> x IN ('de','shi','le','bu','wo'))) AS BIGINT) AS s_zh
      |  FROM w),
      |g AS (SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
      |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
      |       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
      |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
      |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_guess
      |  FROM sc)""".stripMargin

  private def norm(c: String): String = s"sqrt(${sumSq.format(c)})"
  private def dot(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"

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

  /** Shared by v10 (inline) and v11 (served from the persisted bucketed
    * sign index): the storage split may never change the answer. */
  /** `corpusPred` restricts the CORPUS (neighbor) side only — v17's
    * delete semantics: tombstoned vectors leave the index, while the
    * query workload is external and unaffected. Shortlist AND rerank
    * read the restricted corpus, so survivor promotion is exercised. */
  private def twoStageHammingSql(corpusPred: String = "TRUE"): String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
       |           FROM embeddings WHERE vec_id < 32),
       |z AS (SELECT q.query_id, e.vec_id AS neighbor_id,
       |        unnest(q.qe) AS qx, unnest(e.embedding) AS ex
       |      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
       |                              AND ($corpusPred)),
       |hs AS (SELECT query_id, neighbor_id,
       |        sum(CASE WHEN (qx >= 0) <> (ex >= 0) THEN 1 ELSE 0 END) AS ham
       |       FROM z GROUP BY 1, 2),
       |hk AS (SELECT query_id, neighbor_id FROM (
       |        SELECT query_id, neighbor_id,
       |          row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) AS rnk
       |        FROM hs) WHERE rnk <= 50),
       |sc AS (SELECT hk.query_id, hk.neighbor_id,
       |  round(${dot("q.qe", "e.embedding")} / (${norm("q.qe")} * ${norm("e.embedding")}), 6) AS cos
       |  FROM hk JOIN embeddings e ON e.vec_id = hk.neighbor_id
       |          JOIN q ON q.query_id = hk.query_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |        CAST(row_number() OVER (PARTITION BY query_id
       |          ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |      FROM sc)
       |SELECT query_id, neighbor_id, rnk, cos
       |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** Multi-source BFS hop distances over the same doubled event bipartite
    * graph — shared VERBATIM by x19 (direct) and x20 (persisted bucketed
    * layout), the x16/x18 proof obligation again: one oracle text for
    * both registrations means the storage split must be invisible. UNION
    * dedups (node, dist) pairs, dist is bounded by the hop cap so the
    * recursion terminates, min(dist) per node is the hop distance. */
  private val bfsSql: String =
    """WITH RECURSIVE e0 AS (SELECT DISTINCT user_id AS src,
      |    1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
      |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |seeds AS (SELECT DISTINCT user_id AS node FROM events
      |          WHERE user_id % 50 = 0),
      |bfs(node, dist) AS (
      |  SELECT node, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, b.dist + 1 FROM bfs b JOIN e ON e.src = b.node
      |  WHERE b.dist < 4
      |)
      |SELECT node AS node_id,
      |  CASE WHEN node >= 1000000 THEN 'page' ELSE 'user' END AS node_type,
      |  CAST(min(dist) AS BIGINT) AS dist
      |FROM bfs GROUP BY node ORDER BY node_id""".stripMargin

  /** Integer-exact 3-round PageRank over the doubled event bipartite graph
    * — shared VERBATIM by x16 (direct) and x18 (persisted bucketed layout):
    * one oracle text for both registrations is the proof obligation that
    * the storage split is invisible in the result. */
  /** x24: the pagerank CTE shape with teleport restricted to the seed
    * set and the integer scale bounded on the SEED count; every step the
    * same `//` truncating division as the engine's `div`. */
  private val trustrankSql: String =
    """WITH e0 AS (SELECT DISTINCT user_id AS src,
      |    1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
      |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |n AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
      |sds AS (SELECT node FROM n WHERE node < 1000000 AND node % 50 = 0),
      |sc AS (SELECT max(CAST(power(10, t.k) AS BIGINT)) AS scale
      |       FROM range(0, 19) t(k), (SELECT count(*) AS s FROM sds) c
      |       WHERE CAST(power(10, t.k) AS BIGINT) <= (9223372036854775807 // 85) // c.s),
      |r0 AS (SELECT n.node,
      |         CASE WHEN sds.node IS NOT NULL THEN (SELECT scale FROM sc)
      |              ELSE 0 END AS rank
      |       FROM n LEFT JOIN sds USING (node)),
      |c1 AS (SELECT e.dst AS node, sum(r0.rank // deg.deg) AS m
      |       FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
      |r1 AS (SELECT n.node,
      |         CAST(CASE WHEN sds.node IS NOT NULL
      |                   THEN (SELECT 15 * scale // 100 FROM sc) ELSE 0 END
      |           + (85 * coalesce(c1.m, 0)) // 100 AS BIGINT) AS rank
      |       FROM n LEFT JOIN sds USING (node) LEFT JOIN c1 USING (node)),
      |c2 AS (SELECT e.dst AS node, sum(r1.rank // deg.deg) AS m
      |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
      |r2 AS (SELECT n.node,
      |         CAST(CASE WHEN sds.node IS NOT NULL
      |                   THEN (SELECT 15 * scale // 100 FROM sc) ELSE 0 END
      |           + (85 * coalesce(c2.m, 0)) // 100 AS BIGINT) AS rank
      |       FROM n LEFT JOIN sds USING (node) LEFT JOIN c2 USING (node)),
      |c3 AS (SELECT e.dst AS node, sum(r2.rank // deg.deg) AS m
      |       FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
      |r3 AS (SELECT n.node,
      |         CAST(CASE WHEN sds.node IS NOT NULL
      |                   THEN (SELECT 15 * scale // 100 FROM sc) ELSE 0 END
      |           + (85 * coalesce(c3.m, 0)) // 100 AS BIGINT) AS rank
      |       FROM n LEFT JOIN sds USING (node) LEFT JOIN c3 USING (node))
      |SELECT node AS node_id,
      |  CASE WHEN node >= 1000000 THEN 'page' ELSE 'user' END AS node_type,
      |  rank
      |FROM r3 ORDER BY node_id""".stripMargin

  private val pagerankSql: String =
    """WITH e0 AS (SELECT DISTINCT user_id AS src,
      |    1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
      |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      |n AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
      |nc AS (SELECT count(*) AS n FROM n),
      |sc AS (SELECT max(CAST(power(10, t.k) AS BIGINT)) AS scale
      |       FROM range(0, 19) t(k), nc
      |       WHERE CAST(power(10, t.k) AS BIGINT) <= (9223372036854775807 // 85) // nc.n),
      |r0 AS (SELECT node, (SELECT scale FROM sc) AS rank FROM n),
      |c1 AS (SELECT e.dst AS node, sum(r0.rank // deg.deg) AS m
      |       FROM e JOIN deg USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
      |r1 AS (SELECT n.node,
      |         CAST((SELECT 15 * scale // 100 FROM sc)
      |           + (85 * coalesce(c1.m, 0)) // 100 AS BIGINT) AS rank
      |       FROM n LEFT JOIN c1 USING (node)),
      |c2 AS (SELECT e.dst AS node, sum(r1.rank // deg.deg) AS m
      |       FROM e JOIN deg USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
      |r2 AS (SELECT n.node,
      |         CAST((SELECT 15 * scale // 100 FROM sc)
      |           + (85 * coalesce(c2.m, 0)) // 100 AS BIGINT) AS rank
      |       FROM n LEFT JOIN c2 USING (node)),
      |c3 AS (SELECT e.dst AS node, sum(r2.rank // deg.deg) AS m
      |       FROM e JOIN deg USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
      |r3 AS (SELECT n.node,
      |         CAST((SELECT 15 * scale // 100 FROM sc)
      |           + (85 * coalesce(c3.m, 0)) // 100 AS BIGINT) AS rank
      |       FROM n LEFT JOIN c3 USING (node))
      |SELECT node AS node_id,
      |  CASE WHEN node >= 1000000 THEN 'page' ELSE 'user' END AS node_type, rank
      |FROM r3 ORDER BY node_id""".stripMargin

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

  // ===== bit-exact 64-bit hashing in DuckDB SQL ============================
  //
  // d05 (FNV-1a + splitmix64 SimHash) and t04 (Karp-Rabin rolling hash +
  // XXH64 min-shingle fingerprint) output RAW 64-bit hash values, so their
  // oracles must reproduce the kernels bit-for-bit (VERDICT r10 #3). DuckDB
  // BIGINT traps on overflow, so all arithmetic runs in HUGEINT mod 2^64:
  // 64x64-bit multiply splits into 32-bit halves (each partial < 2^65 fits
  // HUGEINT); xor/shifts are native on non-negative HUGEINTs < 2^64.
  // Ordered folds (FNV over chars, XXH64 chunk loops, the window chain)
  // use list_reduce; intermediate values are staged through single-element
  // list_transform lambdas (`let`) so nested steps reference a VARIABLE
  // instead of textually duplicating a subexpression — without this the
  // fmix-of-mix-of-mulmod nesting would blow the SQL up combinatorially.
  // The Python mirror of each kernel was validated against the JVM
  // (XXH64.hashLong/hashUnsafeBytes vectors, 46/46 exact) and this SQL
  // against the Spark dumps (500/500 docs identical at sf0.01).

  private val Mod = "18446744073709551616::HUGEINT"
  private val XxP1 = BigInt("9E3779B185EBCA87", 16)
  private val XxP2 = BigInt("C2B2AE3D27D4EB4F", 16)
  private val XxP3 = BigInt("165667B19E3779F9", 16)
  private val XxP4 = BigInt("85EBCA77C2B2AE63", 16)
  private val XxP5 = BigInt("27D4EB2F165667C5", 16)

  /** let-binding via a single-element lambda: `body` sees `expr` as `v`. */
  private def let(expr: String, v: String, body: String): String =
    s"list_extract(list_transform([$expr], $v -> $body), 1)"

  /** (a * c) mod 2^64 with the multiply split into 32-bit halves. */
  private def mulmod(a: String, c: BigInt): String = {
    val bhi = c >> 32; val blo = c & 0xffffffffL
    s"((($a) % 4294967296) * $blo + (((($a) % 4294967296) * $bhi + " +
      s"(($a) // 4294967296) * $blo) % 4294967296) * 4294967296) % $Mod"
  }

  /** 64-bit rotate-left of a non-negative HUGEINT < 2^64. */
  private def rotl(x: String, r: Int): String =
    s"(((($x) << $r) % $Mod) + (($x) >> ${64 - r}))"

  /** XXH64 avalanche finalizer; `h` must be a short variable name. */
  private def fmix(h: String): String =
    let(s"xor($h, ($h) >> 33)", "f0",
      let(mulmod("f0", XxP2), "f1",
        let("xor(f1, f1 >> 29)", "f2",
          let(mulmod("f2", XxP3), "f3",
            "xor(f3, f3 >> 32)"))))

  /** XXH64.hashLong(v, s) — the window-chain combiner of the native
    * shingle kernel (functions/TextExpressions.scala). */
  private def xxhashLong(v: String, s: String): String =
    let(mulmod(v, XxP2), "q0",
      let(mulmod(rotl("q0", 31), XxP1), "q1",
        let(s"xor((($s) + ${(XxP5 + 8) % (BigInt(1) << 64)}) % $Mod, q1)", "m0",
          let(s"(${mulmod(rotl("m0", 27), XxP1)} + $XxP4) % $Mod", "m1",
            fmix("m1")))))

  /** Byte p (1-based) of an ASCII word column as HUGEINT. */
  private def byteAt(word: String, p: String): String =
    s"CAST(unicode(substr($word, CAST($p AS INT), 1)) AS HUGEINT)"

  /** XXH64.hashUnsafeBytes(word, seed=42) for words < 32 bytes (the
    * documents corpus maxes at 8; the >= 32-byte four-lane header is
    * deliberately not mirrored — the Spark side would still be right,
    * the cross-SF sweep would catch the divergence loudly). */
  private def xxh64Word(word: String): String = {
    val chunk8 = (0 until 8)
      .map(j => s"${byteAt(word, s"8*i+${j + 1}")} * ${BigInt(1) << (8 * j)}")
      .mkString("(", " + ", ")")
    val chunks = s"list_transform(range(0, length($word) // 8), i -> $chunk8)"
    val step8 = let(mulmod("cv", XxP2), "c0",
      let(mulmod(rotl("c0", 31), XxP1), "c1",
        let("xor(ch, c1)", "c2",
          s"(${mulmod(rotl("c2", 27), XxP1)} + $XxP4) % $Mod")))
    val hAfter8 = s"list_reduce(list_prepend((${42 + XxP5} + length($word)) % $Mod, " +
      s"$chunks), (ch, cv) -> $step8)"
    val k4 = (0 until 4)
      .map(j => s"${byteAt(word, s"(length($word)//8)*8+${j + 1}")} * ${BigInt(1) << (8 * j)}")
      .mkString("(", " + ", ")")
    val with4 = let(s"xor(h8, ${mulmod(k4, XxP1)})", "d0",
      s"(${mulmod(rotl("d0", 23), XxP2)} + $XxP3) % $Mod")
    val hAfter4 = let(hAfter8, "h8",
      s"CASE WHEN length($word) % 8 >= 4 THEN $with4 ELSE h8 END")
    val tailCodes = s"list_transform(range((length($word)//4)*4 + 1, " +
      s"length($word) + 1), p -> ${byteAt(word, "p")})"
    val stepT = let(s"xor(th, ${mulmod("tv", XxP5)})", "t0",
      mulmod(rotl("t0", 11), XxP1))
    val hTail = s"list_reduce(list_prepend($hAfter4, $tailCodes), (th, tv) -> $stepT)"
    let(hTail, "hf", fmix("hf"))
  }

  /** Non-negative HUGEINT < 2^64 reinterpreted as a signed BIGINT. */
  private def toSigned(x: String): String =
    s"CAST(CASE WHEN ($x) >= 9223372036854775808 THEN ($x) - $Mod ELSE ($x) END AS BIGINT)"

  /** splitmix64 of a non-negative HUGEINT < 2^64 (Dedup.splitmix64). */
  private def splitmixSql(x: String): String =
    let(s"(($x) + 11400714819323198485) % $Mod", "z0",
      let(mulmod("xor(z0, z0 >> 30)", BigInt("bf58476d1ce4e5b9", 16)), "z1",
        let(mulmod("xor(z1, z1 >> 27)", BigInt("94d049bb133111eb", 16)), "z2",
          "xor(z2, z2 >> 31)")))

  // ===== bit-exact float mirrors of the ANN family =========================
  //
  // v03 (hyperplane LSH), d16 (SemDeDup) and v05/v12 (IVF serve) are
  // deterministic float pipelines end to end, so their oracles reproduce
  // the full engine math — including the trained k-means centroids — in
  // DuckDB SQL (the r11 d05/t04 precedent extended from integer hashing
  // to IEEE float):
  //  - float -> double casts are exact, so per-element products match;
  //  - DuckDB's list 'sum' folds sequentially like the JVM kernels'
  //    while-loops (already proven bit-exact by the v01/v02 cosine
  //    oracles over the same corpus);
  //  - IEEE doubles make +, *, /, sqrt and the float round-trip
  //    CAST(x AS FLOAT) deterministic and engine-independent;
  //  - every argmax/rank tie is broken on an integer id on both sides.
  // The Lloyd chain below reproduces Similarity.ivfCentroids exactly:
  // hash-ordered top-20000 sample (xxhash64 == XXH64.hashLong mirrored in
  // HUGEINT), k = clamp(round(sqrt(n))), stride init, 5 unrolled
  // iterations of {unit-normalize centroids, argmax-dot assignment
  // (lowest index ties), per-cluster mean in SAMPLE ORDER, empty cluster
  // keeps previous}, means cast back to FLOAT per dim. MATERIALIZED is
  // load-bearing: each CTE is referenced repeatedly and DuckDB would
  // otherwise re-evaluate the whole chain per reference. Dim is pinned
  // to the testdata's 64 (a regeneration at another dim fails the hash
  // compare loudly, never silently). Validated bit-exact against JVM
  // centroid dumps and the Spark result dumps at sf0.01 AND sf0.1.

  /** dot(a, b) in exact engine order for float/double lists. */
  private def fdot(a: String, b: String): String = dot(a, b)

  /** Lloyd-chain CTE text ending in: smp(pos, v) hash-ordered sample,
    * c5(cl, cen) trained float centroids, uf(cl, u) unit rows,
    * asg(vec_id, cl) full-corpus nearest-centroid assignment. */
  private val lloydCtes: String = {
    val hashOrd = toSigned(xxhashLong("CAST(vec_id AS HUGEINT)", "42::HUGEINT"))
    def units(src: String, name: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT cl, CASE WHEN ns = 0 THEN list_transform(cen, x -> 0.0)
         |         ELSE list_transform(cen, x -> CAST(x AS DOUBLE) * (1.0 / sqrt(ns))) END AS u
         |  FROM (SELECT cl, cen, ${sumSq.format("cen")} AS ns FROM $src))""".stripMargin
    val head =
      s"""smp AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY $hashOrd, vec_id) AS pos, embedding AS v
         |  FROM embeddings QUALIFY pos <= 20000),
         |prm AS MATERIALIZED (
         |  SELECT n, GREATEST(1, n // k) AS stride, k FROM (
         |    SELECT n, LEAST(n, GREATEST(4, CAST(floor(sqrt(CAST(n AS DOUBLE)) + 0.5) AS BIGINT))) AS k
         |    FROM (SELECT count(*) AS n FROM smp))),
         |c0 AS MATERIALIZED (
         |  SELECT r.cl, s.v AS cen
         |  FROM (SELECT unnest(range(0, (SELECT k FROM prm))) AS cl) r
         |  JOIN prm ON true
         |  JOIN smp s ON s.pos = ((r.cl * prm.stride) % prm.n) + 1)""".stripMargin
    val iters = (0 until 5).map { it =>
      s"""${units(s"c$it", s"u$it")},
         |a$it AS MATERIALIZED (
         |  SELECT pos, cl FROM (
         |    SELECT s.pos, u.cl,
         |      row_number() OVER (PARTITION BY s.pos ORDER BY ${fdot("s.v", "u.u")} DESC, u.cl) AS rn
         |    FROM smp s CROSS JOIN u$it u) WHERE rn = 1),
         |g$it AS MATERIALIZED (
         |  SELECT a.cl, dd.d, list_aggregate(list(CAST(s.v[dd.d] AS DOUBLE) ORDER BY s.pos), 'sum') AS sm,
         |         count(*) AS cnt
         |  FROM a$it a JOIN smp s USING (pos), range(1, 65) dd(d)
         |  GROUP BY a.cl, dd.d),
         |n$it AS MATERIALIZED (
         |  SELECT cl, list(CAST(sm / cnt AS FLOAT) ORDER BY d) AS cen FROM g$it GROUP BY cl),
         |c${it + 1} AS MATERIALIZED (
         |  SELECT c.cl, coalesce(n.cen, c.cen) AS cen FROM c$it c LEFT JOIN n$it n USING (cl))""".stripMargin
    }.mkString(",\n")
    val tail =
      s"""${units("c5", "uf")},
         |asg AS MATERIALIZED (
         |  SELECT vec_id, cl FROM (
         |    SELECT e.vec_id, u.cl,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${fdot("e.embedding", "u.u")} DESC, u.cl) AS rn
         |    FROM embeddings e CROSS JOIN uf u) WHERE rn = 1)""".stripMargin
    s"$head,\n$iters,\n$tail"
  }

  /** v26 mirror: power-iteration PCA — the lloydCtes float discipline
    * applied to the scatter matrix. Hash-ordered sample; per-dim means
    * as sample-order list folds; 4 unrolled iterations of {centered
    * per-row dot against the current component, per-dim sample-order
    * accumulation of w_i * centered_i, norm, unit-normalize, float
    * round-trip per dim}; then the map-only serve: centered projection
    * (score) + residual fold per corpus row, round-6, the final norm as
    * the lambda literal. The residual square is written as t * t with
    * the subexpression duplicated — NEVER power(t, 2), whose libm
    * contract does not promise exactness. Dim pinned to 64 like the
    * Lloyd chain (a regeneration at another dim fails loudly). */
  /** PCA power-iteration CTE text (no WITH) ending in: mul(mu) per-dim
    * mean list, p4(p) trained float component, nm3(nm) final norm =
    * lambda, and rs(vec_id, score, resid2_r) the full-corpus serve —
    * shared by the v26 dump and the x45 coreset composition. */
  private val pcaCtes: String = {
    val hashOrd = toSigned(xxhashLong("CAST(vec_id AS HUGEINT)", "42::HUGEINT"))
    val iters = (0 until 4).map { it =>
      s"""w$it AS MATERIALIZED (
         |  SELECT s.pos, list_aggregate(list_transform(list_zip(s.v, mul.mu, p$it.p),
         |    x -> (CAST(x[1] AS DOUBLE) - x[2]) * CAST(x[3] AS DOUBLE)), 'sum') AS w
         |  FROM smp s CROSS JOIN mul CROSS JOIN p$it),
         |u$it AS MATERIALIZED (
         |  SELECT dd.d, list_aggregate(list(w.w * (CAST(s.v[dd.d] AS DOUBLE) - mu.m)
         |    ORDER BY s.pos), 'sum') AS u
         |  FROM smp s JOIN w$it w USING (pos), range(1, 65) dd(d)
         |  JOIN mu ON mu.d = dd.d GROUP BY dd.d),
         |nm$it AS MATERIALIZED (
         |  SELECT sqrt(list_aggregate(list(u * u ORDER BY d), 'sum')) AS nm FROM u$it),
         |p${it + 1} AS MATERIALIZED (
         |  SELECT list(CAST(u / nm AS FLOAT) ORDER BY d) AS p
         |  FROM u$it CROSS JOIN nm$it)""".stripMargin
    }.mkString(",\n")
    s"""smp AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY $hashOrd, vec_id) AS pos, embedding AS v
       |  FROM embeddings QUALIFY pos <= 20000),
       |mu AS MATERIALIZED (
       |  SELECT dd.d, list_aggregate(list(CAST(s.v[dd.d] AS DOUBLE) ORDER BY s.pos), 'sum')
       |    / (SELECT count(*) FROM smp) AS m
       |  FROM smp s, range(1, 65) dd(d) GROUP BY dd.d),
       |mul AS MATERIALIZED (SELECT list(m ORDER BY d) AS mu FROM mu),
       |p0 AS (SELECT list_transform(range(1, 65), x -> 0.125) AS p),
       |$iters,
       |sc AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    list_aggregate(list_transform(list_zip(e.embedding, mul.mu, p4.p),
       |      x -> (CAST(x[1] AS DOUBLE) - x[2]) * CAST(x[3] AS DOUBLE)), 'sum') AS score
       |  FROM embeddings e CROSS JOIN mul CROSS JOIN p4),
       |rs AS MATERIALIZED (
       |  SELECT s.vec_id, s.score,
       |    round(list_aggregate(list_transform(list_zip(e.embedding, mul.mu, p4.p),
       |      x -> ((CAST(x[1] AS DOUBLE) - x[2]) - s.score * CAST(x[3] AS DOUBLE))
       |         * ((CAST(x[1] AS DOUBLE) - x[2]) - s.score * CAST(x[3] AS DOUBLE))), 'sum'), 6)
       |      AS resid2_r
       |  FROM sc s JOIN embeddings e USING (vec_id) CROSS JOIN mul CROSS JOIN p4)""".stripMargin
  }

  private val v26Sql: String =
    s"""WITH $pcaCtes
       |SELECT vec_id, round(score, 6) AS score_r, resid2_r,
       |  (SELECT round(nm, 6) FROM nm3) AS lambda_r
       |FROM rs ORDER BY vec_id""".stripMargin

  /** v03 mirror: 16-table/4-plane random-hyperplane LSH. Plane component
    * (table t, plane p, dim d) = splitmix64(42 ^ t<<42 ^ p<<21 ^ d)
    * top-53 bits mapped to [-1, 1) — power-of-two scaling, so the
    * HUGEINT -> DOUBLE conversion is exact (Similarity.planeComponent).
    * Bucket = sign bits of the per-plane dot folds; candidates share a
    * (table, bucket) cell; exact round-6 cosine rerank, (cos DESC, id)
    * rank — the TopK heap's own tie order. */
  private val v03Sql: String = {
    val smx = splitmixSql(
      "xor(xor(xor(42::HUGEINT, CAST(t AS HUGEINT) << 42), " +
        "CAST(p AS HUGEINT) << 21), CAST(d AS HUGEINT))")
    s"""WITH planes AS MATERIALIZED (
       |  SELECT t, p, d,
       |    (CAST(($smx) >> 11 AS DOUBLE) / 9007199254740992.0 * 2.0 - 1.0) AS comp
       |  FROM range(0, 16) tt(t), range(0, 4) pp(p), range(0, 64) dd(d)),
       |planes_l AS MATERIALIZED (
       |  SELECT t, p, list(comp ORDER BY d) AS pl FROM planes GROUP BY t, p),
       |sig AS MATERIALIZED (
       |  SELECT e.vec_id, l.t, l.p, ${fdot("e.embedding", "l.pl")} AS s
       |  FROM embeddings e CROSS JOIN planes_l l),
       |bkt AS MATERIALIZED (
       |  SELECT vec_id, t,
       |    sum(CASE WHEN s >= 0 THEN 1 << CAST(p AS INT) ELSE 0 END) AS bucket
       |  FROM sig GROUP BY vec_id, t),
       |qb AS (SELECT vec_id AS query_id, t, bucket FROM bkt WHERE vec_id < 32),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT qb.query_id, cb.vec_id AS neighbor_id
       |  FROM bkt cb JOIN qb ON cb.t = qb.t AND cb.bucket = qb.bucket
       |  WHERE cb.vec_id <> qb.query_id),
       |sc AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    round(${fdot("q.embedding", "e.embedding")} / (${norm("q.embedding")} * ${norm("e.embedding")}), 6) AS cos
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.neighbor_id
       |  JOIN embeddings q ON q.vec_id = c.query_id),
       |r AS (SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk, cos
       |  FROM sc)
       |SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** d16 mirror: the full SemDeDup pipeline on the mirrored quantizer —
    * round-6 cosine to the RAW (non-unit) assigned centroid, within-
    * cluster pairs at cos >= 0.35, transitive closure as a recursive
    * reachability CTE (comp_id = min reachable id), survivor = arg-min
    * (cos_c, vec_id) per component. */
  private val d16Sql: String =
    s"""WITH RECURSIVE $lloydCtes,
       |sc0 AS MATERIALIZED (
       |  SELECT a.cl, e.vec_id, e.embedding,
       |    round(${fdot("e.embedding", "c.cen")} / (${norm("e.embedding")} * ${norm("c.cen")}), 6) AS cos_c
       |  FROM embeddings e JOIN asg a USING (vec_id) JOIN c5 c ON c.cl = a.cl),
       |prs AS MATERIALIZED (
       |  SELECT l.vec_id AS id_a, r.vec_id AS id_b
       |  FROM sc0 l JOIN sc0 r ON l.cl = r.cl AND l.vec_id < r.vec_id
       |  WHERE round(${fdot("l.embedding", "r.embedding")} / (${norm("l.embedding")} * ${norm("r.embedding")}), 6) >= 0.35),
       |edges AS (SELECT id_a AS a, id_b AS b FROM prs UNION SELECT id_b, id_a FROM prs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (SELECT a AS vec_id, LEAST(a, min(b)) AS comp_id FROM reach GROUP BY a),
       |keepers AS MATERIALIZED (
       |  SELECT comp_id, vec_id AS keep_id FROM (
       |    SELECT c.comp_id, c.vec_id,
       |      row_number() OVER (PARTITION BY c.comp_id ORDER BY s.cos_c, c.vec_id) AS rn
       |    FROM comp c JOIN sc0 s USING (vec_id)) WHERE rn = 1)
       |SELECT s.vec_id, CAST(s.cl AS BIGINT) AS cl,
       |  coalesce(c.comp_id, s.vec_id) AS comp_id, s.cos_c,
       |  (c.comp_id IS NULL OR k.keep_id = s.vec_id) AS kept
       |FROM sc0 s
       |LEFT JOIN comp c USING (vec_id)
       |LEFT JOIN keepers k ON k.comp_id = c.comp_id
       |ORDER BY s.vec_id""".stripMargin

  /** v05/v12 mirror (one SQL serves both — the indexed serve path scores
    * the identical candidate set because a corpus vector lives in exactly
    * one inverted list): 12-probe IVF over the mirrored quantizer, exact
    * round-6 cosine rerank, (cos DESC, id) rank. */
  private val v05Sql: String =
    s"""WITH $lloydCtes,
       |qp AS MATERIALIZED (
       |  SELECT query_id, cl FROM (
       |    SELECT e.vec_id AS query_id, u.cl,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${fdot("e.embedding", "u.u")} DESC, u.cl) AS rn
       |    FROM embeddings e CROSS JOIN uf u WHERE e.vec_id < 32) WHERE rn <= 12),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
       |  FROM qp q JOIN asg a USING (cl)
       |  WHERE a.vec_id <> q.query_id),
       |sc AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    round(${fdot("q.embedding", "e.embedding")} / (${norm("q.embedding")} * ${norm("e.embedding")}), 6) AS cos
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.neighbor_id
       |  JOIN embeddings q ON q.vec_id = c.query_id),
       |r AS (SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk, cos
       |  FROM sc)
       |SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  /** Squared L2 between two float/double lists in exact engine order:
    * per-dim diff (the exact difference of two floats fits a double, so
    * double-subtract == float-subtract pre-rounding), sequential sum. */
  private def l2sq(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), " +
      "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
      "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), 'sum')"

  /** unitVec mirror: float unit-normalization (each element rounds back
    * to FLOAT — double-divide + FLOAT cast == the JVM (x / n).toFloat);
    * the zero vector stays itself. */
  private def unitF(v: String, nrm: String): String =
    s"CASE WHEN $nrm = 0 THEN $v " +
      s"ELSE list_transform($v, x -> CAST(CAST(x AS DOUBLE) / $nrm AS FLOAT)) END"

  /** Per-element float residual a - b (Similarity's Array.tabulate float
    * subtraction — see [[l2sq]] for why double-sub + FLOAT cast is the
    * identical rounding). */
  private def fsubF(a: String, b: String): String =
    s"list_transform(list_zip($a, $b), " +
      "x -> CAST(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE) AS FLOAT))"

  /** kmeansL2 mirror (Similarity.kmeansL2): the subspace-sized L2 Lloyd
    * chain over a `(pos, s, sv)` subvector CTE named `input` — stride
    * init from the hash-ordered sample, 5 unrolled iterations of
    * {nearest-L2 assignment (lowest index ties), per-(subspace, cluster)
    * mean in SAMPLE ORDER cast back to FLOAT, empty cluster keeps
    * previous}. Ends in `b5(s, cl, cen)` — one ksub=16 codebook per
    * subspace. A `pprm(n, k, stride)` CTE must be emitted once before. */
  private def pqBookChain(input: String): String = {
    val init =
      s"""b0 AS MATERIALIZED (
         |  SELECT ns.s, r.cl, ns.sv AS cen
         |  FROM (SELECT unnest(range(0, (SELECT k FROM pprm))) AS cl) r
         |  JOIN pprm ON true
         |  JOIN $input ns ON ns.pos = ((r.cl * pprm.stride) % pprm.n) + 1)""".stripMargin
    val iters = (0 until 5).map { it =>
      s"""pa$it AS MATERIALIZED (
         |  SELECT pos, s, cl FROM (
         |    SELECT n.pos, n.s, b.cl,
         |      row_number() OVER (PARTITION BY n.pos, n.s ORDER BY ${l2sq("n.sv", "b.cen")}, b.cl) AS rn
         |    FROM $input n JOIN b$it b ON b.s = n.s) WHERE rn = 1),
         |pg$it AS MATERIALIZED (
         |  SELECT a.s, a.cl, dd.d,
         |    list_aggregate(list(CAST(n.sv[dd.d] AS DOUBLE) ORDER BY n.pos), 'sum') AS sm,
         |    count(*) AS cnt
         |  FROM pa$it a JOIN $input n USING (pos, s), range(1, 9) dd(d)
         |  GROUP BY a.s, a.cl, dd.d),
         |pn$it AS MATERIALIZED (
         |  SELECT s, cl, list(CAST(sm / cnt AS FLOAT) ORDER BY d) AS cen
         |  FROM pg$it GROUP BY s, cl),
         |b${it + 1} AS MATERIALIZED (
         |  SELECT b.s, b.cl, coalesce(n.cen, b.cen) AS cen
         |  FROM b$it b LEFT JOIN pn$it n USING (s, cl))""".stripMargin
    }.mkString(",\n")
    s"$init,\n$iters"
  }

  /** Shared ADC tail: `adc(query_id, neighbor_id, adc)` -> 192-shortlist
    * by (adc ASC, id ASC) — the TopK heap's (-adc DESC, id ASC) order —
    * then the exact round-6 cosine rerank to top-5. */
  private val pqTailSql: String =
    s"""short AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rn
       |    FROM adc) WHERE rn <= 192),
       |rsc AS (
       |  SELECT c.query_id, c.neighbor_id,
       |    round(${fdot("q.embedding", "e.embedding")} / (${norm("q.embedding")} * ${norm("e.embedding")}), 6) AS cos
       |  FROM short c
       |  JOIN embeddings e ON e.vec_id = c.neighbor_id
       |  JOIN embeddings q ON q.vec_id = c.query_id),
       |rr AS (SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk, cos
       |  FROM rsc)
       |SELECT query_id, neighbor_id, rnk, cos FROM rr WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin

  /** v13/v14 mirror (one SQL serves both — the indexed serve scores the
    * identical shortlist): flat PQ — codebooks trained per subspace over
    * the UNIT-NORMALIZED hash-ordered sample (Similarity.pqCodebooks),
    * corpus encoded to nearest codes, per-query ADC table, 192-shortlist
    * by raw-double ADC, exact rerank. The ADC sum over subspaces runs in
    * s ORDER (ordered-list fold), matching the engine's
    * aggregate(transform(codes, ...)) left fold. */
  private val v13Sql: String = {
    val hashOrd = toSigned(xxhashLong("CAST(vec_id AS HUGEINT)", "42::HUGEINT"))
    s"""WITH smp AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY $hashOrd, vec_id) AS pos, embedding AS v
       |  FROM embeddings QUALIFY pos <= 20000),
       |nsmp0 AS MATERIALIZED (
       |  SELECT pos, ${unitF("v", "nrm")} AS nv
       |  FROM (SELECT pos, v, ${norm("v")} AS nrm FROM smp)),
       |nsmp AS MATERIALIZED (
       |  SELECT pos, ss.s, nv[ss.s * 8 + 1 : ss.s * 8 + 8] AS sv
       |  FROM nsmp0, range(0, 8) ss(s)),
       |pprm AS MATERIALIZED (
       |  SELECT n, LEAST(16, n) AS k, GREATEST(1, n // LEAST(16, n)) AS stride
       |  FROM (SELECT count(*) AS n FROM smp)),
       |${pqBookChain("nsmp")},
       |ne AS MATERIALIZED (
       |  SELECT vec_id, ${unitF("embedding", "nrm")} AS nv
       |  FROM (SELECT vec_id, embedding, ${norm("embedding")} AS nrm FROM embeddings)),
       |nsub AS MATERIALIZED (
       |  SELECT vec_id, ss.s, nv[ss.s * 8 + 1 : ss.s * 8 + 8] AS sv
       |  FROM ne, range(0, 8) ss(s)),
       |codes AS MATERIALIZED (
       |  SELECT vec_id AS neighbor_id, s, cl AS code FROM (
       |    SELECT n.vec_id, n.s, b.cl,
       |      row_number() OVER (PARTITION BY n.vec_id, n.s ORDER BY ${l2sq("n.sv", "b.cen")}, b.cl) AS rn
       |    FROM nsub n JOIN b5 b ON b.s = n.s) WHERE rn = 1),
       |qtab AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, q.s, b.cl AS code, ${l2sq("q.sv", "b.cen")} AS d2
       |  FROM nsub q JOIN b5 b ON b.s = q.s WHERE q.vec_id < 32),
       |adc AS MATERIALIZED (
       |  SELECT c.neighbor_id, t.query_id,
       |    list_aggregate(list(t.d2 ORDER BY t.s), 'sum') AS adc
       |  FROM codes c JOIN qtab t ON t.s = c.s AND t.code = c.code
       |  WHERE t.query_id <> c.neighbor_id
       |  GROUP BY c.neighbor_id, t.query_id),
       |$pqTailSql""".stripMargin
  }

  /** v15/v16 mirror (one SQL serves both): IVFADC — the coarse Lloyd
    * quantizer (same chain as d16/v05) composed with PQ codebooks trained
    * on coarse-cell RESIDUALS of the normalized sample
    * (Similarity.ivfPqResidualBooks). Cell assignment here runs on the
    * NORMALIZED vector (the engine's encode/probe UDFs normalize first);
    * residual reference points are the FLOAT unit centroids `cus`; each
    * query carries one ADC table per probed cell, keyed (cl, s, code). */
  private val v15Sql: String =
    s"""WITH $lloydCtes,
       |cus AS MATERIALIZED (
       |  SELECT cl, ${unitF("cen", "nrm")} AS cu
       |  FROM (SELECT cl, cen, ${norm("cen")} AS nrm FROM c5)),
       |ne AS MATERIALIZED (
       |  SELECT vec_id, ${unitF("embedding", "nrm")} AS nv
       |  FROM (SELECT vec_id, embedding, ${norm("embedding")} AS nrm FROM embeddings)),
       |nasg AS MATERIALIZED (
       |  SELECT vec_id, cl FROM (
       |    SELECT n.vec_id, u.cl,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY ${fdot("n.nv", "u.u")} DESC, u.cl) AS rn
       |    FROM ne n CROSS JOIN uf u) WHERE rn = 1),
       |nsmp0 AS MATERIALIZED (
       |  SELECT pos, ${unitF("v", "nrm")} AS nv
       |  FROM (SELECT pos, v, ${norm("v")} AS nrm FROM smp)),
       |rasg AS MATERIALIZED (
       |  SELECT pos, cl FROM (
       |    SELECT n.pos, u.cl,
       |      row_number() OVER (PARTITION BY n.pos ORDER BY ${fdot("n.nv", "u.u")} DESC, u.cl) AS rn
       |    FROM nsmp0 n CROSS JOIN uf u) WHERE rn = 1),
       |rsmp AS MATERIALIZED (
       |  SELECT n.pos, ss.s, (${fsubF("n.nv", "c.cu")})[ss.s * 8 + 1 : ss.s * 8 + 8] AS sv
       |  FROM nsmp0 n JOIN rasg a USING (pos) JOIN cus c USING (cl), range(0, 8) ss(s)),
       |pprm AS MATERIALIZED (
       |  SELECT n, LEAST(16, n) AS k, GREATEST(1, n // LEAST(16, n)) AS stride
       |  FROM (SELECT count(*) AS n FROM smp)),
       |${pqBookChain("rsmp")},
       |rsub AS MATERIALIZED (
       |  SELECT n.vec_id, a.cl, ss.s,
       |    (${fsubF("n.nv", "c.cu")})[ss.s * 8 + 1 : ss.s * 8 + 8] AS sv
       |  FROM ne n JOIN nasg a USING (vec_id) JOIN cus c USING (cl), range(0, 8) ss(s)),
       |codes AS MATERIALIZED (
       |  SELECT vec_id AS neighbor_id, cl, s, code FROM (
       |    SELECT n.vec_id, n.cl, n.s, b.cl AS code,
       |      row_number() OVER (PARTITION BY n.vec_id, n.s ORDER BY ${l2sq("n.sv", "b.cen")}, b.cl) AS rn
       |    FROM rsub n JOIN b5 b ON b.s = n.s) WHERE rn = 1),
       |qp AS MATERIALIZED (
       |  SELECT query_id, cl FROM (
       |    SELECT n.vec_id AS query_id, u.cl,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY ${fdot("n.nv", "u.u")} DESC, u.cl) AS rn
       |    FROM ne n CROSS JOIN uf u WHERE n.vec_id < 32) WHERE rn <= 12),
       |qrsub AS MATERIALIZED (
       |  SELECT q.query_id, q.cl, ss.s,
       |    (${fsubF("n.nv", "c.cu")})[ss.s * 8 + 1 : ss.s * 8 + 8] AS sv
       |  FROM qp q JOIN ne n ON n.vec_id = q.query_id JOIN cus c USING (cl),
       |       range(0, 8) ss(s)),
       |qtab AS MATERIALIZED (
       |  SELECT q.query_id, q.cl, q.s, b.cl AS code, ${l2sq("q.sv", "b.cen")} AS d2
       |  FROM qrsub q JOIN b5 b ON b.s = q.s),
       |adc AS MATERIALIZED (
       |  SELECT c.neighbor_id, t.query_id,
       |    list_aggregate(list(t.d2 ORDER BY t.s), 'sum') AS adc
       |  FROM codes c JOIN qtab t ON t.cl = c.cl AND t.s = c.s AND t.code = c.code
       |  WHERE t.query_id <> c.neighbor_id
       |  GROUP BY c.neighbor_id, t.query_id),
       |$pqTailSql""".stripMargin

  /** d05 mirror: FNV-1a (UTF-16 units == ASCII bytes here) + splitmix64
    * per word (Dedup.hash64), then 64 per-bit +/-1 votes and the sign
    * vector (Dedup.simhash64). string_split keeps empty words, matching
    * split(" ", -1) on the Spark side. */
  private val d05Sql: String = {
    val fnv = "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
      "list_transform(range(1, length(word)+1), i -> " +
      s"CAST(unicode(substr(word, CAST(i AS INT), 1)) AS HUGEINT))), " +
      s"(h, c) -> ${mulmod("xor(h, c)", BigInt("100000001b3", 16))})"
    val smx = splitmixSql(fnv)
    s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |wh AS (SELECT doc_id, $smx AS h FROM w),
       |bits AS (SELECT doc_id, b,
       |    sum(CASE WHEN (h >> CAST(b AS INT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM wh CROSS JOIN (SELECT unnest(range(0, 64)) AS b) GROUP BY doc_id, b),
       |fp AS (SELECT doc_id,
       |    sum(CASE WHEN v > 0 THEN 1::HUGEINT << CAST(b AS INT) ELSE 0::HUGEINT END) AS u
       |  FROM bits GROUP BY doc_id)
       |SELECT doc_id, ${toSigned("u")} AS simhash
       |FROM fp ORDER BY doc_id""".stripMargin
  }

  /** Shared CTE core for t04/d23: per-doc 5-word window hashes at their
    * word positions — per-word XXH64 (seed 42) + the chained hashLong
    * combine, exactly TextKernels.shingleHashes/shingleHashSeq. `wins`
    * yields (doc_id, pos0 0-based window start, whash HUGEINT). */
  private val xxhWinCtes: String = {
    val chain5 = "list_reduce(list_prepend(42::HUGEINT, [h, g1, g2, g3, g4]), " +
      s"(acc, v) -> ${xxhashLong("v", "acc")})"
    s"""docs AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents),
       |w AS (SELECT doc_id, unnest(words) AS word,
       |        generate_subscripts(words, 1) AS pos, len(words) AS nw FROM docs),
       |wh AS (SELECT doc_id, pos, nw, ${xxh64Word("word")} AS h FROM w),
       |seq AS (SELECT doc_id, pos, nw, h,
       |         lead(h, 1) OVER pw AS g1, lead(h, 2) OVER pw AS g2,
       |         lead(h, 3) OVER pw AS g3, lead(h, 4) OVER pw AS g4
       |        FROM wh WINDOW pw AS (PARTITION BY doc_id ORDER BY pos)),
       |wins AS (SELECT doc_id, pos - 1 AS pos0, $chain5 AS whash
       |         FROM seq WHERE pos + 4 <= nw)""".stripMargin
  }

  /** t04 mirror: Karp-Rabin rolling hash (31*h + c mod 2^64 over chars,
    * TextOps.rollingHash64) + the winnowing fingerprint (min over the
    * 5-word windows of chained XXH64.hashLong over per-word XXH64 hashes
    * — TextKernels.shingleHashes; dedup is irrelevant under min; < 5
    * words -> empty shingle array -> NULL fingerprint on both sides). */
  private val t04Sql: String = {
    val roll = "list_reduce(list_prepend(1125899906842597::HUGEINT, " +
      "list_transform(range(1, length(text) + 1), i -> " +
      "CAST(unicode(substr(text, CAST(i AS INT), 1)) AS HUGEINT))), " +
      s"(h, c) -> (31 * h + c) % $Mod)"
    s"""WITH $xxhWinCtes,
       |fp AS (SELECT doc_id, min(${toSigned("whash")}) AS fingerprint
       |       FROM wins GROUP BY doc_id)
       |SELECT d.doc_id, ${toSigned(roll)} AS rolling_hash, fp.fingerprint
       |FROM docs d LEFT JOIN fp ON fp.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  /** d23 mirror: ExactSubstr spans — cross-doc duplicated 5-word windows
    * (count(DISTINCT doc) >= 2 per window hash), merged into maximal
    * spans per doc via gaps-and-islands (break when the gap exceeds w;
    * the first row's NULL lag falls to the ELSE 1 branch, matching
    * Spark's when().otherwise()). The dup set has unique hashes, so the
    * flag-back join cannot fan out — it IS the Spark side's left-semi. */
  private val d23Sql: String =
    s"""WITH $xxhWinCtes,
       |dup AS (SELECT whash FROM (
       |    SELECT whash, count(DISTINCT doc_id) AS nd FROM wins GROUP BY whash)
       |  WHERE nd >= 2),
       |fl AS (SELECT w.doc_id, w.pos0 FROM wins w JOIN dup USING (whash)),
       |isl AS (SELECT doc_id, pos0,
       |    CASE WHEN pos0 - lag(pos0) OVER (PARTITION BY doc_id ORDER BY pos0) <= 5
       |         THEN 0 ELSE 1 END AS brk FROM fl),
       |isl2 AS (SELECT doc_id, pos0,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos0) AS island FROM isl)
       |SELECT doc_id, CAST(min(pos0) AS BIGINT) AS span_start,
       |  CAST(max(pos0) + 5 AS BIGINT) AS span_end,
       |  count(*) AS n_windows
       |FROM isl2 GROUP BY doc_id, island ORDER BY doc_id, span_start""".stripMargin

  /** Shared CTE prefix for the x22-x25/x30 co-visitation family: the
    * similarity edge list (p1 < p2) from the events incidence — identical
    * to x23's derivation (integer cross-multiplied Jaccard, no floats). */
  private val covisitEdgesCte: String =
    """up AS (SELECT DISTINCT user_id AS u,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS p
      |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
      |pc AS (SELECT p, count(*) AS c FROM up GROUP BY p),
      |pr AS (SELECT a.p AS p1, b.p AS p2, count(*) AS inter
      |       FROM up a JOIN up b ON a.u = b.u AND a.p < b.p GROUP BY 1, 2),
      |e AS MATERIALIZED (SELECT p1, p2
      |      FROM pr JOIN pc c1 ON c1.p = pr.p1 JOIN pc c2 ON c2.p = pr.p2
      |      WHERE 50 * inter >= 17 * (c1.c + c2.c - inter))""".stripMargin

  /** x25 mirror: the iterate-until-fixpoint k-core peel, UNROLLED as
    * chained CTEs (the x16/x24 precedent — VERDICT r10 #3). Peeling is
    * monotone and idempotent at fixpoint, so a fixed unroll >= the true
    * round count computes the exact fixpoint; measured rounds are 2/2/5
    * at sf0.001/0.01/0.1, so 12 is a 2x+ margin. Each round = one degree
    * census + both-endpoints-survive join, exactly the step Covisit.kCore
    * iterates under LoopConf.fixpoint. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH ").append(covisitEdgesCte).append(",\n")
    sb.append("s0 AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e " +
      "UNION ALL SELECT p2, p1 FROM e)")
    for (r <- 1 to rounds) {
      // MATERIALIZED is load-bearing: each round references its predecessor
      // three times, and DuckDB's default CTE inlining would expand the
      // unroll into 3^rounds scans ("Too many open files" at 12 rounds).
      sb.append(s""",
        |k$r AS MATERIALIZED (SELECT src AS node FROM s${r - 1}
        |  GROUP BY src HAVING count(*) >= $k),
        |s$r AS MATERIALIZED (SELECT s.src, s.dst FROM s${r - 1} s
        |        JOIN k$r x ON x.node = s.src JOIN k$r y ON y.node = s.dst)""".stripMargin)
    }
    sb.append(s"""
      |SELECT src AS node, count(*) AS core_deg FROM s$rounds
      |GROUP BY src ORDER BY node""".stripMargin)
    sb.toString
  }

  /** Per-round k-truss support census over edge set `t$r`: the same
    * degree-ordered wedge enumeration as Covisit.triangles, which kTruss's
    * edgeSupport and triangleCounts share (ties orient a->b via <=, wedges
    * deduped x < y, each triangle credits its three canonical edges
    * once). */
  private def trussRoundCtes(r: Int): String =
    s"""d$r AS MATERIALIZED (SELECT n, count(*) AS d FROM
      |  (SELECT a AS n FROM t$r UNION ALL SELECT b FROM t$r) GROUP BY n),
      |o$r AS MATERIALIZED (SELECT CASE WHEN da.d <= db.d THEN t.a ELSE t.b END AS src,
      |               CASE WHEN da.d <= db.d THEN t.b ELSE t.a END AS dst
      |        FROM t$r t JOIN d$r da ON da.n = t.a JOIN d$r db ON db.n = t.b),
      |w$r AS (SELECT o1.src, o1.dst AS x, o2.dst AS y
      |        FROM o$r o1 JOIN o$r o2 ON o1.src = o2.src AND o1.dst < o2.dst),
      |tr$r AS (SELECT w.src AS n1, w.x AS n2, w.y AS n3
      |         FROM w$r w JOIN t$r t ON t.a = w.x AND t.b = w.y),
      |su$r AS MATERIALIZED (SELECT a, b, count(*) AS support FROM (
      |    SELECT least(n1, n2) AS a, greatest(n1, n2) AS b FROM tr$r
      |    UNION ALL SELECT least(n1, n3), greatest(n1, n3) FROM tr$r
      |    UNION ALL SELECT n2, n3 FROM tr$r) GROUP BY a, b)""".stripMargin

  /** x30 mirror: the k-truss fixpoint unrolled (support >= k-2 among
    * survivors, re-censused per round; measured rounds are 1/2/2 at the
    * three SFs, so 6 is a 3x margin). The final round's census also
    * provides the within-truss support the query reports. */
  private def ktrussSql(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append("WITH ").append(covisitEdgesCte).append(",\n")
    sb.append("t0 AS MATERIALIZED (SELECT DISTINCT p1 AS a, p2 AS b FROM e)")
    for (r <- 0 until rounds) {
      sb.append(",\n").append(trussRoundCtes(r)).append(s""",
        |t${r + 1} AS MATERIALIZED (SELECT t.a, t.b FROM t$r t
        |  JOIN su$r s ON s.a = t.a AND s.b = t.b AND s.support >= ${k - 2})""".stripMargin)
    }
    sb.append(",\n").append(trussRoundCtes(rounds))
    sb.append(s"""
      |SELECT t.a AS p1, t.b AS p2, coalesce(s.support, 0) AS support
      |FROM t$rounds t LEFT JOIN su$rounds s ON s.a = t.a AND s.b = t.b
      |ORDER BY p1, p2""".stripMargin)
    sb.toString
  }

  /** t48's gate mirror — also serves st25, the streaming form of the
    * same operator (keyed-state assembler; StreamingSpec proves
    * stream == batch), the v11/v12 shared-SQL precedent. */
  private def t48Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |    event_id, event_type, epoch_us(ts) AS tsu FROM events),
      |d AS (SELECT user_id, day, event_type,
      |    CASE WHEN CAST('0x' || substring(md5('role:' || CAST(event_id AS VARCHAR)),1,8) AS BIGINT) % 10 < 4 THEN 'user'
      |         WHEN CAST('0x' || substring(md5('role:' || CAST(event_id AS VARCHAR)),1,8) AS BIGINT) % 10 < 9 THEN 'assistant'
      |         ELSE 'system' END AS role,
      |    row_number() OVER w AS pos,
      |    sum(CASE WHEN CAST('0x' || substring(md5('role:' || CAST(event_id AS VARCHAR)),1,8) AS BIGINT) % 10 < 9 THEN 1 ELSE 0 END)
      |      OVER w AS pos2
      |  FROM e WINDOW w AS (PARTITION BY user_id, day ORDER BY tsu, event_id)),
      |r AS (SELECT *, CASE WHEN role <> 'system' AND
      |    ((pos2 % 2 = 1 AND role <> 'user') OR (pos2 % 2 = 0 AND role <> 'assistant'))
      |    THEN 1 ELSE 0 END AS viol FROM d),
      |c AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_turns,
      |    CAST(sum(CASE WHEN role <> 'system' THEN 1 ELSE 0 END) AS BIGINT) AS n_nonsys,
      |    CAST(sum(CASE WHEN role = 'system' AND pos > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_sys_late,
      |    CAST(sum(viol) AS BIGINT) AS n_role_viol,
      |    string_agg('<|' || role || '|>' || event_type, '' ORDER BY pos) AS rendered
      |  FROM r GROUP BY 1, 2)
      |SELECT user_id, day, n_turns, n_nonsys, n_sys_late, n_role_viol,
      |  rendered, CAST(length(rendered) AS BIGINT) AS n_chars,
      |  (n_role_viol = 0 AND n_sys_late = 0 AND n_nonsys >= 2
      |    AND length(rendered) <= 60) AS kept
      |FROM c ORDER BY user_id, day""".stripMargin

  val sql: Map[String, String] = Map(
    "s05_scan_project" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity < 10 ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // computed over the ORIGINAL parquet: the Spark side must deliver the
    // same numbers through its JSONL write+read roundtrip
    "s06_jsonl_roundtrip" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // same source-side contract as s06: the CSV write+read must be lossless
    "s07_csv_roundtrip" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // Same lossless-boundary contract as s06/s07, through ORC.
    "s10_orc_roundtrip" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // Runs against the SOURCE parquet: the partitioned write + pruned read
    // must be a lossless identity over the selected languages.
    "s08_partition_prune" ->
      """SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents WHERE lang IN ('en', 'fr')
        |GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    // post-state of the dynamic partition overwrite, declaratively: the
    // reprocessed 'en' partition carries doubled n_chars, every other
    // partition is untouched
    "s15_partition_overwrite" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN lang = 'en' THEN n_chars * 2 ELSE n_chars END)
        |    AS BIGINT) AS sum_chars,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "p04_name_coalesce" ->
      """SELECT p_partkey, CASE WHEN p_brand <> 'Brand#11' THEN p_brand ELSE p_type END AS display_name
        |FROM part ORDER BY p_partkey""".stripMargin,

    "p10_concat" ->
      "SELECT c_custkey, c_name || '#' || c_mktsegment AS name_seg FROM customer ORDER BY c_custkey",

    "p11_prefix_stats" ->
      """SELECT substring(p_type, 1, 5) AS type_prefix, count(*) AS cnt,
        |       round(avg(p_retailprice), 2) AS avg_price_r,
        |       min(p_retailprice) AS min_price, max(p_retailprice) AS max_price,
        |       CAST(sum(p_size) AS BIGINT) AS sum_size
        |FROM part GROUP BY 1 ORDER BY type_prefix""".stripMargin,

    "p12_date_trunc" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS cnt,
        |       round(sum(o_totalprice), 2) AS sum_price_r
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,

    "p05_geo_rd_to_wgs84" -> geoSql,

    // p13: same point derivation; pairs found INDEPENDENTLY via a
    // bounding-box inequality join + exact integer check — the engine's
    // grid-cell decomposition must be invisible
    // s24: the MoR read must reproduce the plain predicate filter
    "s24_delete_vectors" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE NOT (lang = 'zh' OR source = 'src3')
        |ORDER BY doc_id""".stripMargin,

    // p14: same planted pentagon ring, the shoelace/centroid/edge sums
    // as list_transform folds, two final rounded divisions
    "p14_polygon_census" ->
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
        |FROM m ORDER BY o_orderkey""".stripMargin,

    "p13_spatial_neighbors" ->
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
        |ORDER BY id_a, id_b""".stripMargin,

    "f01_temporal_filter" ->
      """SELECT o_orderkey, o_orderstatus, strftime(o_orderdate, '%Y-%m-%d') AS od
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |ORDER BY o_orderkey""".stripMargin,

    "f02_status_filter" ->
      """SELECT o_orderpriority, count(*) AS cnt FROM orders
        |WHERE o_orderstatus = 'F' GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "f04_multivalue" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        |FROM documents WHERE len(string_split(text, ' ')) > 80 ORDER BY doc_id""".stripMargin,

    // NOT EXISTS, not NOT IN: a NULL in the subquery column would make
    // NOT IN return zero rows while Spark's left_anti keeps unmatched rows
    "f06_orphan_delete" ->
      """SELECT l_returnflag, count(*) AS orphan_cnt FROM lineitem l
        |WHERE NOT EXISTS (SELECT 1 FROM part p
        |                  WHERE p.p_size <= 40 AND p.p_partkey = l.l_partkey)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "k02_dedup_lastwins" ->
      """WITH r AS (SELECT user_id, event_id, event_type, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |SELECT user_id, event_id, event_type, value FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "j00_adressen_build" -> j00Sql,

    "j01_join_5way" ->
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue_r,
        |       count(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "j02_update_join" ->
      """SELECT c_custkey, coalesce(n_name, 'ONBEKEND') AS nation_name
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey ORDER BY c_custkey""".stripMargin,

    "j03_repair_join" ->
      """WITH lo AS (SELECT o_custkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |SELECT c_custkey, c_acctbal, coalesce(lo.o_totalprice, -1.0) AS last_price
        |FROM customer LEFT JOIN lo ON c_custkey = lo.o_custkey AND lo.rn = 1
        |ORDER BY c_custkey""".stripMargin,

    "j11_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate >= TIMESTAMP '1998-04-01')
        |ORDER BY c_custkey""".stripMargin,

    "j12_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    // j13: identical dirty-catalog derivation, the two blocking passes as
    // plain joins (cap never binds on this uniform data — proven in spec),
    // composite score, per-catalog-record argmax via row_number
    "j13_entity_resolution" ->
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
        |ORDER BY c.cat_id""".stripMargin,

    "e01_explode_words" ->
      """SELECT word, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin,

    // e03: the oracle answers with the ORIGINAL text and constant true —
    // any out-of-order token in the engine's rebuild fails the hash
    "e03_posexplode_rebuild" ->
      """SELECT doc_id,
        |  CAST(len(string_split(coalesce(text, ''), ' ')) AS BIGINT) AS n_words,
        |  coalesce(text, '') AS rebuilt,
        |  true AS roundtrip_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "a01_group_stats" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value_r,
        |       round(avg(value), 4) AS avg_value_r, min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "a02_scalar_counts" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |       CAST(count(CASE WHEN l_quantity < 5 THEN 1 END) AS BIGINT) AS n_low_qty,
        |       CAST(count(CASE WHEN l_discount = 0.0 THEN 1 END) AS BIGINT) AS n_no_discount
        |FROM lineitem""".stripMargin,

    "a03_distinct" ->
      """SELECT DISTINCT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey
        |FROM customer ORDER BY c_mktsegment, c_nationkey""".stripMargin,

    "a05_max_top1" ->
      """SELECT strftime(max(o_orderdate), '%Y-%m-%d') AS max_date,
        |       max(o_totalprice) AS max_price, max(o_orderkey) AS max_orderkey
        |FROM orders""".stripMargin,

    // Spark `percentile` and DuckDB `quantile_cont` both compute the
    // type-7 interpolated quantile over the sorted values
    "a06_percentiles" ->
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50_r,
        |       round(quantile_cont(value, 0.9), 6) AS p90_r,
        |       round(quantile_cont(value, 0.99), 6) AS p99_r
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // microsecond precision both sides (Spark: ts div 1000 of the long
    // nanos; DuckDB truncates TIMESTAMP(NANOS) to micros on read, so
    // epoch_us is exact); (tsu, event_id) is unique per user so every
    // offset function is deterministic
    "a11_lead_lag" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
        |           FROM events WHERE user_id < 50)
        |SELECT event_id, user_id, event_type,
        |       tsu - lag(tsu, 1) OVER w AS us_since_prev,
        |       lead(event_type, 1) OVER w AS next_type,
        |       first_value(event_id) OVER w AS first_event
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |ORDER BY event_id""".stripMargin,

    "a07_window_rank" ->
      """WITH r AS (SELECT o_custkey, o_orderkey,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum_r
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC))
        |SELECT o_custkey, o_orderkey, rnk, drnk, quartile, run_sum_r
        |FROM r WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,

    // pivot == conditional aggregation; the explicit value list keeps the
    // two engines' column sets identical
    "x07_pivot" ->
      """SELECT o_orderpriority,
        |       CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS f_cnt,
        |       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS f_sum_r,
        |       CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS o_cnt,
        |       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS o_sum_r,
        |       CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS p_cnt,
        |       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS p_sum_r
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "u01_null_dummies" ->
      """SELECT p_partkey,
        |       CASE WHEN p_size = 1 OR p_size > 48 THEN NULL ELSE CAST(p_size AS BIGINT) END AS size_clean
        |FROM part ORDER BY p_partkey""".stripMargin,

    // u02: same mask directive, rank-based exact lower median per nation
    // over observed cents, repaired rows join the medians back
    "u02_impute_median" ->
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
        |ORDER BY c.c_custkey""".stripMargin,

    // u03: same md5 mask; the fill uses the engine-portable running-
    // count group trick (each gap-group holds exactly one observation,
    // at its head) instead of last_value IGNORE NULLS — same semantics,
    // independent mechanism
    "u03_ffill" ->
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
        |FROM f ORDER BY event_id""".stripMargin,

    // u05: same planted versions; each election restated with
    // row_number windows instead of the engine's struct arg-max
    "u05_golden_record" ->
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
        |ORDER BY base.key""".stripMargin,

    // st24: u03's group-trick LOCF restated over the FfillOut schema —
    // the stream must emit exactly the batch fill
    "st24_stream_ffill" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST('0x' || substring(md5('ffill:' || CAST(event_id AS VARCHAR)),1,8) AS BIGINT) % 4 = 0 AS masked
        |  FROM events),
        |g AS (SELECT *, CASE WHEN NOT masked THEN cents END AS obs,
        |    count(CASE WHEN NOT masked THEN 1 END) OVER (
        |      PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM e),
        |f AS (SELECT user_id, event_id, ts_us, masked,
        |    max(obs) OVER (PARTITION BY user_id, grp) AS cents_filled
        |  FROM g)
        |SELECT user_id, event_id, ts_us, masked, cents_filled,
        |  masked AND cents_filled IS NOT NULL AS was_filled
        |FROM f ORDER BY event_id""".stripMargin,

    // u04: rank-exact p05/p95 bounds (k_lo = ceil(n/20) and its top
    // mirror), clip counts and the exact winsorized integer sum
    "u04_winsorize" ->
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
        |ORDER BY c.nation""".stripMargin,

    "d01_dedup_exact_groups" ->
      """SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    "d02_dedup_exact_keep" ->
      """SELECT min(doc_id) AS doc_id, min(n_chars) AS n_chars
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,

    "d03_neardup_ngram" ->
      jaccardSql(0.2, postingsCap = Some(graft.llm.Dedup.NearDup.maxShinglePostings)),

    // d29: bucketed deterministic negative sampling — md5 bucket + rank
    // resolution, direct d03-pair exclusion (same capped jaccard CTEs),
    // first 4 distinct survivors by draw order
    "d29_negative_sampling" -> {
      val cap = graft.llm.Dedup.NearDup.maxShinglePostings
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
         |          i -> list_aggregate(w[i:i+4], 'string_agg', chr(31)))) AS s
         |        FROM tok WHERE len(w) >= 5),
         |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $cap),
         |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |cpair AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id),
         |pr AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |       FROM cpair c JOIN sh a ON a.doc_id = c.id_a
         |       JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s GROUP BY 1, 2),
         |jac AS (SELECT id_a, id_b
         |        FROM pr JOIN cnt ca ON ca.doc_id = pr.id_a
         |        JOIN cnt cb ON cb.doc_id = pr.id_b
         |        WHERE round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 6) >= 0.2),
         |ex AS (SELECT id_a AS anchor_id, id_b AS neg_id FROM jac
         |       UNION ALL SELECT id_b, id_a FROM jac),
         |bkt AS (SELECT doc_id,
         |    CAST('0x' || substring(md5('g:' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) % 64 AS g
         |  FROM documents),
         |rk AS (SELECT doc_id, g,
         |    CAST(row_number() OVER (PARTITION BY g ORDER BY doc_id) - 1 AS BIGINT) AS r
         |  FROM bkt),
         |gsz AS (SELECT g, CAST(count(*) AS BIGINT) AS gsz FROM bkt GROUP BY 1),
         |dr AS (SELECT d.doc_id AS anchor_id, j.j,
         |    CAST('0x' || substring(md5('b:' || CAST(d.doc_id AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)),1,8) AS BIGINT) % 64 AS g,
         |    CAST('0x' || substring(md5('p:' || CAST(d.doc_id AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)),1,8) AS BIGINT) AS p
         |  FROM documents d, (SELECT unnest(range(1, 7)) AS j) j
         |  WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)),1,8) AS BIGINT) % 100 < 10),
         |cand AS (SELECT dr.anchor_id, dr.j, rk.doc_id AS neg_id
         |  FROM dr JOIN gsz USING (g) JOIN rk ON rk.g = dr.g AND rk.r = dr.p % gsz.gsz),
         |kept AS (SELECT anchor_id, neg_id, min(j) AS j FROM cand
         |  WHERE neg_id <> anchor_id
         |    AND NOT EXISTS (SELECT 1 FROM ex
         |          WHERE ex.anchor_id = cand.anchor_id AND ex.neg_id = cand.neg_id)
         |  GROUP BY 1, 2),
         |rkd AS (SELECT anchor_id, neg_id, j,
         |    CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY j, neg_id) AS BIGINT) AS rnk
         |  FROM kept)
         |SELECT anchor_id, rnk, neg_id, CAST(j AS BIGINT) AS draw
         |FROM rkd WHERE rnk <= 4 ORDER BY anchor_id, rnk""".stripMargin
    },

    // Broder containment over the SAME shingle/candidate CTEs as d03,
    // but normalized by the contained side's set size, both directions
    "d17_containment" -> {
      val cap = graft.llm.Dedup.NearDup.maxShinglePostings
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
         |          i -> list_aggregate(w[i:i+4], 'string_agg', chr(31)))) AS s
         |        FROM tok WHERE len(w) >= 5),
         |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $cap),
         |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id),
         |pr AS (SELECT c.id_a, c.id_b, count(*) AS inter
         |       FROM cand c JOIN sh a ON a.doc_id = c.id_a
         |       JOIN sh b ON b.doc_id = c.id_b AND b.s = a.s GROUP BY 1, 2),
         |dir AS (SELECT pr.id_a AS contained_id, pr.id_b AS container_id,
         |               pr.inter, ca.n AS n_contained
         |        FROM pr JOIN cnt ca ON ca.doc_id = pr.id_a
         |        UNION ALL
         |        SELECT pr.id_b, pr.id_a, pr.inter, cb.n
         |        FROM pr JOIN cnt cb ON cb.doc_id = pr.id_b)
         |SELECT contained_id, container_id, CAST(inter AS BIGINT) AS inter,
         |  CAST(n_contained AS BIGINT) AS n_contained,
         |  round(CAST(inter AS DOUBLE) / n_contained, 6) AS containment
         |FROM dir WHERE round(CAST(inter AS DOUBLE) / n_contained, 6) >= 0.5
         |ORDER BY contained_id, container_id""".stripMargin
    },

    // transitive closure of the d03 pair graph via a recursive CTE: comp =
    // min reachable id, matching the Spark min-label-propagation fixpoint
    // the d07 closure joined to source metadata; clustered = any comp
    // label, canonical = the min-id representative, ppm integer division
    "d21_dup_rate_by_source" -> {
      val edgesSql = jaccardSql(0.2,
        postingsCap = Some(graft.llm.Dedup.NearDup.maxShinglePostings))
      s"""WITH RECURSIVE je AS (SELECT id_a, id_b FROM ($edgesSql) t),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM je
         |       UNION ALL SELECT id_b, id_a FROM je),
         |r AS (SELECT src AS id, src AS comp FROM ed
         |      UNION
         |      SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
         |lab AS (SELECT id AS doc_id, min(comp) AS comp_id FROM r GROUP BY 1),
         |j AS (SELECT d.source, d.doc_id, lab.comp_id
         |      FROM documents d LEFT JOIN lab USING (doc_id))
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN comp_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
         |  CAST(sum(CASE WHEN comp_id = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
         |  1000000 * CAST(sum(CASE WHEN comp_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    // count(*) AS dup_ppm
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // survivors after expiry: pinned v2 (doc_id % 2) + latest v3 (all) —
    // the deleted v1 must be absent from disk (engine-side require), so
    // only these rows can appear
    "s20_snapshot_expire" ->
      """SELECT CAST(2 AS BIGINT) AS version, lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents WHERE doc_id % 2 = 0 GROUP BY lang
        |UNION ALL
        |SELECT CAST(3 AS BIGINT) AS version, lang, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY lang
        |ORDER BY version, lang""".stripMargin,

    // per-snapshot audit stats from the same three splits
    "s21_table_history" ->
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
        |ORDER BY version""".stripMargin,

    // deterministic walks: step k from cur picks sorted-adjacency index
    // md5(seed:k:cur) mod degree — same 32-bit hex prefix rule both
    // engines (the t20 '0x' cast pattern)
    "x34_random_walks" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT user_id AS src,
        |         1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |ed AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |adj AS (SELECT src, dst,
        |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst) AS BIGINT) - 1 AS rnk,
        |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
        |  FROM ed),
        |sd AS (SELECT DISTINCT src AS seed FROM ed
        |       WHERE src < 1000000 AND src % 100 = 0),
        |w AS (SELECT seed, CAST(0 AS BIGINT) AS step, seed AS node FROM sd
        |      UNION ALL
        |      SELECT w.seed, w.step + 1, adj.dst
        |      FROM w JOIN adj ON adj.src = w.node
        |        AND adj.rnk = CAST('0x' || substring(md5(
        |              w.seed || ':' || (w.step + 1) || ':' || w.node), 1, 8) AS BIGINT) % adj.deg
        |      WHERE w.step < 3)
        |SELECT seed, step, node FROM w ORDER BY seed, step""".stripMargin,

    // time-respecting path enumeration (hop-bounded recursive CTE): an
    // edge extends a path iff its ts >= the path's arrival; min arrival
    // per node over <= 4-hop paths — min-merge dominance makes this
    // equal to the engine's delta-frontier relaxation loop
    "x32_temporal_reach" ->
      """WITH RECURSIVE ct AS (
        |  SELECT user_id AS u,
        |         1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT) AS p,
        |         epoch_us(ts) AS t
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |ed AS (SELECT u AS src, p AS dst, t FROM ct
        |       UNION ALL SELECT p, u, t FROM ct),
        |r AS (SELECT DISTINCT user_id AS node, CAST(0 AS BIGINT) AS arr, 0 AS hop
        |      FROM events WHERE user_id % 50 = 0
        |      UNION
        |      SELECT ed.dst, ed.t, r.hop + 1
        |      FROM r JOIN ed ON ed.src = r.node AND ed.t >= r.arr
        |      WHERE r.hop < 4)
        |SELECT node AS node_id,
        |       CASE WHEN node >= 1000000 THEN 'page' ELSE 'user' END AS node_type,
        |       CAST(min(arr) AS BIGINT) AS arrival_us
        |FROM r GROUP BY 1, 2 ORDER BY node_id""".stripMargin,

    // the d21 closure, reduced to (cluster, source) pairs and self-joined
    // on the cluster id: shared-cluster counts per unordered source pair
    "d22_source_overlap" -> {
      val edgesSql = jaccardSql(0.2,
        postingsCap = Some(graft.llm.Dedup.NearDup.maxShinglePostings))
      s"""WITH RECURSIVE je AS (SELECT id_a, id_b FROM ($edgesSql) t),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM je
         |       UNION ALL SELECT id_b, id_a FROM je),
         |r AS (SELECT src AS id, src AS comp FROM ed
         |      UNION
         |      SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
         |lab AS (SELECT id AS doc_id, min(comp) AS comp_id FROM r GROUP BY 1),
         |cs AS (SELECT DISTINCT lab.comp_id, d.source
         |       FROM documents d JOIN lab USING (doc_id))
         |SELECT a.source AS src_a, b.source AS src_b,
         |       CAST(count(DISTINCT a.comp_id) AS BIGINT) AS n_shared_clusters
         |FROM cs a JOIN cs b ON a.comp_id = b.comp_id AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin
    },

    // nearest of the 8 seed centroids by squared L2 (same sequential
    // double fold as the engine's aggregate HOF), argmin on the ROUNDED
    // distance with cluster-id tie-break
    "v23_kmeans_assign" -> {
      val d2 = "list_aggregate(list_transform(list_zip(e.embedding, c.embedding), " +
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
        "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), 'sum')"
      s"""WITH c AS (SELECT vec_id AS cluster_id, embedding FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT e.vec_id, c.cluster_id, round($d2, 6) AS dist2
         |       FROM embeddings e CROSS JOIN c),
         |r AS (SELECT vec_id, cluster_id, dist2,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster_id) AS rn
         |      FROM sc)
         |SELECT vec_id, cluster_id, dist2 AS dist2_r FROM r WHERE rn = 1
         |ORDER BY vec_id""".stripMargin
    },

    // v25: v23's assignment verbatim, then per-(cluster, dim) means via
    // range-indexed unnest, movement/norm folded per cluster
    "v26_pca_power" -> v26Sql,

    // x45: the embedding-side composed chain — pcaCtes' trained serve
    // (rs) + v23's verbatim seed assignment, admission on the ROUNDED
    // residual (cross-engine stable), per-cluster (resid2, id) election
    "x45_coreset" -> {
      val d2 = "list_aggregate(list_transform(list_zip(e.embedding, c.embedding), " +
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
        "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), 'sum')"
      s"""WITH $pcaCtes,
         |c AS (SELECT vec_id AS cluster_id, embedding FROM embeddings WHERE vec_id < 8),
         |scd AS (SELECT e.vec_id, c.cluster_id, round($d2, 6) AS dist2
         |        FROM embeddings e CROSS JOIN c),
         |asg AS (SELECT vec_id, cluster_id FROM (
         |          SELECT vec_id, cluster_id,
         |            row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster_id) AS rn
         |          FROM scd) WHERE rn = 1),
         |adm AS (SELECT a.cluster_id, r.vec_id, round(r.score, 6) AS score_r, r.resid2_r
         |        FROM rs r JOIN asg a USING (vec_id) WHERE r.resid2_r <= 0.99),
         |w AS (SELECT cluster_id, vec_id, score_r, resid2_r,
         |        row_number() OVER (PARTITION BY cluster_id ORDER BY resid2_r, vec_id) AS rnk,
         |        CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_admitted
         |      FROM adm)
         |SELECT cluster_id, CAST(rnk AS BIGINT) AS rnk, vec_id, score_r, resid2_r,
         |  n_admitted
         |FROM w WHERE rnk <= 4 ORDER BY cluster_id, rnk""".stripMargin
    },

    "v25_lloyd_step" -> {
      val d2 = "list_aggregate(list_transform(list_zip(e.embedding, c.embedding), " +
        "x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * " +
        "(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))), 'sum')"
      s"""WITH c AS (SELECT vec_id AS cluster_id, embedding FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT e.vec_id, e.embedding, c.cluster_id, round($d2, 6) AS dist2
         |       FROM embeddings e CROSS JOIN c),
         |r AS (SELECT vec_id, embedding, cluster_id,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cluster_id) AS rn
         |      FROM sc),
         |a AS (SELECT vec_id, embedding, cluster_id FROM r WHERE rn = 1),
         |n AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_assigned FROM a GROUP BY 1),
         |u AS (SELECT cluster_id, unnest(range(1, len(embedding) + 1)) AS dim, embedding FROM a),
         |m AS (SELECT cluster_id, dim, avg(CAST(embedding[CAST(dim AS INT)] AS DOUBLE)) AS mv
         |      FROM u GROUP BY 1, 2),
         |su AS (SELECT cluster_id, unnest(range(1, len(embedding) + 1)) AS dim, embedding FROM c),
         |sv AS (SELECT cluster_id, dim, CAST(embedding[CAST(dim AS INT)] AS DOUBLE) AS sv
         |       FROM su)
         |SELECT m.cluster_id, n.n_assigned,
         |  round(sqrt(sum((m.mv - sv.sv) * (m.mv - sv.sv))), 6) AS movement_r,
         |  round(sqrt(sum(m.mv * m.mv)), 6) AS new_norm_r
         |FROM m JOIN sv ON m.cluster_id = sv.cluster_id AND m.dim = sv.dim
         |JOIN n ON n.cluster_id = m.cluster_id
         |GROUP BY m.cluster_id, n.n_assigned
         |ORDER BY m.cluster_id""".stripMargin
    },

    // same totalized components as t24, then the integer ppm weight —
    // cluster sizes and the 1/n division both exact integers
    "d19_soft_dedup_weights" -> {
      val edgesSql = jaccardSql(0.2,
        postingsCap = Some(graft.llm.Dedup.NearDup.maxShinglePostings))
      s"""WITH RECURSIVE je AS (SELECT id_a, id_b FROM ($edgesSql) t),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM je
         |       UNION ALL SELECT id_b, id_a FROM je),
         |r AS (SELECT src AS id, src AS comp FROM ed
         |      UNION
         |      SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
         |lab AS (SELECT id AS doc_id, min(comp) AS comp_id FROM r GROUP BY 1),
         |cl AS (SELECT d.doc_id, coalesce(lab.comp_id, d.doc_id) AS cluster
         |       FROM documents d LEFT JOIN lab USING (doc_id)),
         |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
         |       FROM cl GROUP BY 1)
         |SELECT cl.doc_id, cl.cluster, sz.n_members,
         |       1000000 // sz.n_members AS weight_ppm
         |FROM cl JOIN sz USING (cluster) ORDER BY doc_id""".stripMargin
    },

    // explode -> per-(doc, word) counts -> per-doc fold, ratios as exact
    // integer ppm — the same split-on-single-space token contract as the
    // rest of the t-family
    "t25_lexical_diversity" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |             FROM documents),
        |f AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |        CAST(count(*) AS BIGINT) AS n_types,
        |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        |      FROM f GROUP BY 1)
        |SELECT doc_id, n_words, n_types, hapax,
        |       1000000 * n_types // n_words AS ttr_ppm,
        |       1000000 * hapax // n_words AS hapax_ppm
        |FROM d ORDER BY doc_id""".stripMargin,

    // the d07 recursive component closure totalized over ALL documents
    // (LEFT join, singleton = own cluster), then the identical md5
    // cluster-hash split rule — a near-dup pair split across
    // train/holdout anywhere is a hash mismatch
    "t24_leakfree_split" -> {
      val edgesSql = jaccardSql(0.2,
        postingsCap = Some(graft.llm.Dedup.NearDup.maxShinglePostings))
      s"""WITH RECURSIVE je AS (SELECT id_a, id_b FROM ($edgesSql) t),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM je
         |       UNION ALL SELECT id_b, id_a FROM je),
         |r AS (SELECT src AS id, src AS comp FROM ed
         |      UNION
         |      SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
         |lab AS (SELECT id AS doc_id, min(comp) AS comp_id FROM r GROUP BY 1),
         |cl AS (SELECT d.doc_id, coalesce(lab.comp_id, d.doc_id) AS cluster
         |       FROM documents d LEFT JOIN lab USING (doc_id))
         |SELECT doc_id, cluster,
         |  CASE WHEN CAST('0x' || substring(md5('sp' || CAST(cluster AS VARCHAR)), 1, 8) AS BIGINT)
         |         % 100 >= 10 THEN 'train' ELSE 'holdout' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin
    },

    "d07_dedup_components" -> {
      val edgesSql = jaccardSql(0.2,
        postingsCap = Some(graft.llm.Dedup.NearDup.maxShinglePostings))
      s"""WITH RECURSIVE je AS (SELECT id_a, id_b FROM ($edgesSql) t),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM je
         |       UNION ALL SELECT id_b, id_a FROM je),
         |r AS (SELECT src AS id, src AS comp FROM ed
         |      UNION
         |      SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
         |lab AS (SELECT id AS doc_id, min(comp) AS comp_id FROM r GROUP BY 1),
         |sz AS (SELECT comp_id, count(*) AS n_members FROM lab GROUP BY 1)
         |SELECT lab.doc_id, lab.comp_id, sz.n_members
         |FROM lab JOIN sz USING (comp_id) ORDER BY doc_id""".stripMargin
    },

    // train/eval shingle-overlap contamination: 3-gram shingles (1-based
    // INCLUSIVE slice w[i:i+2] = 3 words), distinct per doc; overlap counts
    // over shingle STRINGS equal Spark's counts over 64-bit shingle hashes
    // (collision odds ~n^2/2^65, same contract as d03)
    "d08_decontaminate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |          i -> list_aggregate(w[i:i+2], 'string_agg', chr(31)))) AS s
        |        FROM tok WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
        |ov AS (SELECT t.doc_id, b.doc_id AS bench_id, CAST(count(*) AS BIGINT) AS shared
        |       FROM sh t JOIN sh b ON t.s = b.s AND t.doc_id % 97 <> 0 AND b.doc_id % 97 = 0
        |       GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_docs,
        |       CAST(max(shared) AS BIGINT) AS max_shared
        |FROM ov WHERE shared >= 2 GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // t44: same string-shingle mirror as d08, bench universe = %97 slice
    // + planted full/40%-prefix leak copies; ppm over each doc's own set
    // t46: same pair/union-vocab assembly (two joins + fold, no full
    // outer), identical term expression shape, one rounded sum
    "t46_js_divergence" ->
      """WITH cnt AS (SELECT source, unnest(string_split(coalesce(text, ''), ' ')) AS word
        |  FROM documents),
        |c AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
        |      FROM cnt GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        |pairs AS (SELECT a.source AS s1, b.source AS s2
        |          FROM tot a JOIN tot b ON a.source < b.source),
        |r AS (SELECT p.s1, p.s2, c.word, c.c AS c1, CAST(0 AS BIGINT) AS c2
        |      FROM c JOIN pairs p ON c.source = p.s1
        |      UNION ALL
        |      SELECT p.s1, p.s2, c.word, CAST(0 AS BIGINT), c.c
        |      FROM c JOIN pairs p ON c.source = p.s2),
        |g AS (SELECT s1, s2, word, CAST(sum(c1) AS BIGINT) AS c1,
        |        CAST(sum(c2) AS BIGINT) AS c2
        |      FROM r GROUP BY 1, 2, 3),
        |t AS (SELECT g.s1, g.s2,
        |    CASE WHEN g.c1 > 0 THEN 0.5 * (CAST(g.c1 AS DOUBLE) / a.n)
        |      * ln(2.0 * (CAST(g.c1 AS DOUBLE) / a.n)
        |        / ((CAST(g.c1 AS DOUBLE) / a.n) + (CAST(g.c2 AS DOUBLE) / b.n)))
        |      ELSE 0.0 END
        |    + CASE WHEN g.c2 > 0 THEN 0.5 * (CAST(g.c2 AS DOUBLE) / b.n)
        |      * ln(2.0 * (CAST(g.c2 AS DOUBLE) / b.n)
        |        / ((CAST(g.c1 AS DOUBLE) / a.n) + (CAST(g.c2 AS DOUBLE) / b.n)))
        |      ELSE 0.0 END AS term
        |  FROM g JOIN tot a ON a.source = g.s1 JOIN tot b ON b.source = g.s2)
        |SELECT s1, s2, CAST(count(*) AS BIGINT) AS n_words,
        |  round(sum(term), 6) AS jsd_r
        |FROM t GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin,

    // t45: exact-integer unigram/bigram folds over bigram-able docs,
    // ratio stays integer until one double division + ln + round
    "t45_pmi_collocations" ->
      """WITH tok AS (SELECT string_split(coalesce(text, ''), ' ') AS w
        |  FROM documents WHERE len(string_split(coalesce(text, ''), ' ')) >= 2),
        |uni AS (SELECT unnest(w) AS word FROM tok),
        |uc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
        |bp AS (SELECT w, unnest(range(1, len(w))) AS i FROM tok),
        |bi AS (SELECT w[CAST(i AS INT)] AS w1, w[CAST(i + 1 AS INT)] AS w2
        |       FROM bp),
        |bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM bi
        |       GROUP BY 1, 2 HAVING count(*) >= 10),
        |tot AS (SELECT CAST(sum(len(w)) AS BIGINT) AS n_uni,
        |          CAST(sum(len(w) - 1) AS BIGINT) AS n_bi FROM tok)
        |SELECT bc.w1, bc.w2, bc.c_xy, a.c AS c_x, b.c AS c_y,
        |  round(ln(CAST(bc.c_xy * tot.n_uni * tot.n_uni AS DOUBLE)
        |    / CAST(tot.n_bi * a.c * b.c AS DOUBLE)), 6) AS pmi_r
        |FROM bc JOIN uc a ON a.word = bc.w1
        |JOIN uc b ON b.word = bc.w2
        |CROSS JOIN tot
        |ORDER BY bc.w1, bc.w2""".stripMargin,

    "t44_contam_score" ->
      """WITH docs AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
        |bench AS (
        |  SELECT text FROM docs WHERE doc_id % 97 = 0
        |  UNION ALL SELECT text FROM docs WHERE doc_id % 131 = 5
        |  UNION ALL SELECT list_aggregate(
        |      w[1:greatest(1, CAST((len(w) * 2) // 5 AS INT))], 'string_agg', ' ')
        |    FROM (SELECT string_split(text, ' ') AS w FROM docs WHERE doc_id % 131 = 9)),
        |bsh AS (SELECT DISTINCT unnest(list_transform(range(1, len(w) - 1),
        |          i -> list_aggregate(w[i:i+2], 'string_agg', chr(31)))) AS s
        |        FROM (SELECT string_split(text, ' ') AS w FROM bench) WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |          i -> list_aggregate(w[i:i+2], 'string_agg', chr(31)))) AS s
        |       FROM (SELECT doc_id, string_split(text, ' ') AS w FROM docs)
        |       WHERE len(w) >= 3),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
        |h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit FROM sh
        |      WHERE s IN (SELECT s FROM bsh) GROUP BY 1)
        |SELECT n.doc_id, n.n_sh, coalesce(h.n_hit, 0) AS n_hit,
        |  CAST((coalesce(h.n_hit, 0) * 1000000) // n.n_sh AS BIGINT) AS contam_ppm,
        |  CASE WHEN coalesce(h.n_hit, 0) = 0 THEN 'clean'
        |       WHEN (coalesce(h.n_hit, 0) * 1000000) // n.n_sh <= 500000 THEN 'partial'
        |       ELSE 'contaminated' END AS tier
        |FROM n LEFT JOIN h ON n.doc_id = h.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    // d03's candidate shape at w=4 with a >=2-shared-shingles gate
    // + classic levenshtein over the 10-word prefixes, identical in DuckDB.
    "d11_edit_distance" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 2),
        |          i -> list_aggregate(w[i:i+3], 'string_agg', chr(31)))) AS s
        |        FROM tok WHERE len(w) >= 4),
        |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
        |pc AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000),
        |shr AS (SELECT sh.doc_id, sh.s FROM sh JOIN pc USING (s)),
        |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM shr a JOIN shr b ON a.s = b.s AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2 HAVING count(*) >= 2),
        |pref AS (SELECT doc_id,
        |           list_aggregate(string_split(text, ' ')[1:10], 'string_agg', ' ') AS p
        |         FROM documents)
        |SELECT id_a, id_b, CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS dist
        |FROM cand JOIN pref pa ON pa.doc_id = id_a JOIN pref pb ON pb.doc_id = id_b
        |WHERE levenshtein(pa.p, pb.p) <= 30
        |ORDER BY id_a, id_b""".stripMargin,

    // Rebuilds the engine's content-defined chunking verbatim: the same
    // md5-prefix-mod-4 word boundary rule, the same running-sum chunk ids,
    // the same space-joined chunk md5 — then the shared-chunk stats. All
    // selection is integer; only the informational fraction is rounded.
    // d28: both variants through the d12 window-chunker mirror, then
    // distinct-set compare per doc
    "d28_cdc_edit_stability" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        |ed AS (SELECT doc_id, list_concat(list_concat(
        |         w[1:CAST(len(w) // 2 AS INT)],
        |         [CASE WHEN doc_id % 2 = 0 THEN 'zzedit' ELSE 'zzy' END]),
        |         w[CAST(len(w) // 2 + 1 AS INT):]) AS w FROM d),
        |ow AS (SELECT doc_id, unnest(w) AS word,
        |         generate_subscripts(w, 1) AS pos FROM d),
        |ew AS (SELECT doc_id, unnest(w) AS word,
        |         generate_subscripts(w, 1) AS pos FROM ed),
        |oc AS (SELECT DISTINCT doc_id, md5(string_agg(word, ' ' ORDER BY pos))
        |         AS chunk_hash
        |       FROM (SELECT doc_id, pos, word, sum(CASE WHEN
        |           CAST('0x' || substring(md5(word), 1, 4) AS BIGINT) % 4 = 0
        |           THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS chunk_id FROM ow)
        |       GROUP BY doc_id, chunk_id),
        |ec AS (SELECT DISTINCT doc_id, md5(string_agg(word, ' ' ORDER BY pos))
        |         AS chunk_hash
        |       FROM (SELECT doc_id, pos, word, sum(CASE WHEN
        |           CAST('0x' || substring(md5(word), 1, 4) AS BIGINT) % 4 = 0
        |           THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS chunk_id FROM ew)
        |       GROUP BY doc_id, chunk_id),
        |cm AS (SELECT oc.doc_id, CAST(count(*) AS BIGINT) AS n_common
        |       FROM oc JOIN ec ON oc.doc_id = ec.doc_id
        |         AND oc.chunk_hash = ec.chunk_hash GROUP BY 1),
        |no AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_orig
        |       FROM oc GROUP BY 1),
        |ne AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_edit
        |       FROM ec GROUP BY 1)
        |SELECT no.doc_id, no.n_orig, ne.n_edit,
        |  CAST(coalesce(cm.n_common, 0) AS BIGINT) AS n_common,
        |  no.n_orig - CAST(coalesce(cm.n_common, 0) AS BIGINT) AS ch_orig,
        |  ne.n_edit - CAST(coalesce(cm.n_common, 0) AS BIGINT) AS ch_edit
        |FROM no JOIN ne USING (doc_id) LEFT JOIN cm USING (doc_id)
        |ORDER BY no.doc_id""".stripMargin,

    "d12_chunk_dedup" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |             generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents),
        |b AS (SELECT doc_id, pos, word,
        |        CASE WHEN CAST('0x' || substring(md5(word), 1, 4) AS BIGINT) % 4 = 0
        |             THEN 1 ELSE 0 END AS bnd
        |      FROM w),
        |c AS (SELECT doc_id, pos, word,
        |        sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
        |      FROM b),
        |ch AS (SELECT doc_id, chunk_id,
        |         md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_hash
        |       FROM c GROUP BY doc_id, chunk_id),
        |g AS (SELECT chunk_hash, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1),
        |p AS (SELECT ch.doc_id, count(*) AS n_chunks,
        |        sum(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS n_shared
        |      FROM ch JOIN g USING (chunk_hash) GROUP BY 1)
        |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(n_shared AS BIGINT) AS n_shared,
        |  round(CAST(n_shared AS DOUBLE) / n_chunks, 6) AS shared_frac
        |FROM p ORDER BY doc_id""".stripMargin,

    // Rebuilds the d12 chunking verbatim, then the REMOVER semantics:
    // a chunk occurrence survives iff its doc is the min doc_id owning
    // that chunk md5; clean_text re-joins surviving chunks in document
    // order ('' when everything was removed). All selection integer/string.
    "d14_chunk_remove" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
        |             generate_subscripts(string_split(text, ' '), 1) AS pos
        |           FROM documents),
        |b AS (SELECT doc_id, pos, word,
        |        CASE WHEN CAST('0x' || substring(md5(word), 1, 4) AS BIGINT) % 4 = 0
        |             THEN 1 ELSE 0 END AS bnd
        |      FROM w),
        |c AS (SELECT doc_id, pos, word,
        |        sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
        |      FROM b),
        |ch AS (SELECT doc_id, chunk_id, min(pos) AS cpos,
        |         string_agg(word, ' ' ORDER BY pos) AS chunk
        |       FROM c GROUP BY doc_id, chunk_id),
        |h AS (SELECT doc_id, cpos, chunk, md5(chunk) AS chunk_hash FROM ch),
        |f AS (SELECT chunk_hash, min(doc_id) AS first_doc FROM h GROUP BY 1),
        |j AS (SELECT h.doc_id, h.cpos, h.chunk,
        |        h.doc_id = f.first_doc AS keep
        |      FROM h JOIN f USING (chunk_hash)),
        |stats AS (SELECT doc_id, count(*) AS n_chunks,
        |            sum(CASE WHEN keep THEN 0 ELSE 1 END) AS n_removed
        |          FROM j GROUP BY 1),
        |txt AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY cpos) AS clean_text
        |        FROM j WHERE keep GROUP BY 1)
        |SELECT s.doc_id, coalesce(t.clean_text, '') AS clean_text,
        |  CAST(s.n_chunks AS BIGINT) AS n_chunks,
        |  CAST(s.n_removed AS BIGINT) AS n_removed
        |FROM stats s LEFT JOIN txt t USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    // Admission = NOT IN existing fingerprints; within-batch keep-first by
    // min doc_id per fingerprint. Mirrors the 5-word-prefix canonical key.
    "d10_incremental_dedup" ->
      """WITH k AS (SELECT doc_id, lang, source,
        |  md5(list_aggregate(string_split(text, ' ')[1:5], 'string_agg', ' ')) AS fp
        |  FROM documents),
        |fresh AS (SELECT * FROM k WHERE doc_id % 3 = 0
        |  AND fp NOT IN (SELECT fp FROM k WHERE doc_id % 3 <> 0)),
        |w AS (SELECT fp, min(doc_id) AS doc_id FROM fresh GROUP BY fp)
        |SELECT f.doc_id, f.lang, f.source FROM fresh f
        |JOIN w ON f.fp = w.fp AND f.doc_id = w.doc_id
        |ORDER BY f.doc_id""".stripMargin,

    // Identical EXACT semantics to d08 (mod-89 split): the Bloom gate is a
    // pure pre-filter and must be invisible in the answer.
    // same chunk-count rule (1 + ceil((len-32)/24)), same 1-based
    // INCLUSIVE slice semantics, chunk text compared verbatim
    "t26_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t2 AS (SELECT doc_id, w, len(w) AS l FROM t),
        |c AS (SELECT doc_id, unnest(list_transform(
        |        range(0, CASE WHEN l <= 32 THEN 1 ELSE (l - 32 + 23) // 24 + 1 END),
        |        i -> struct_pack(i := i,
        |               c := array_to_string(w[i*24+1:i*24+32], ' ')))) AS u
        |      FROM t2)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx, u.c AS chunk,
        |       CAST(len(string_split(u.c, ' ')) AS BIGINT) AS n_tok
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // t47: t26's chunker at w=s=10, the t03 stopword argmax per window,
    // per-doc census with a lag-based switch count and the struct
    // arg-min majority election (ties to the alphabetically smallest)
    // t48: (user_id, day) conversations, md5-planted roles; pos2 = running
    // non-system count (unique ordering, RANGE==ROWS) makes the alternation
    // violation per-row, so the whole gate is one window + one fold —
    // same single-pass shape as the Spark plan, every count BIGINT.
    // st25 is the SAME operator on the streaming engine (keyed-state
    // assembler, StreamingSpec proves stream == batch) — shared mirror,
    // the v11/v12 precedent.
    "st25_sft_gate" -> t48Sql,
    "t48_sft_assembly" -> t48Sql,

    // t49: t02's proven round-4 score recovered as an exact e4 integer,
    // DESC-cumulative survivors over <= 11 bucket rows per lang, ppm of
    // the same-partition totals
    "t49_quality_tradeoff" ->
      """WITH q AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    len(list_filter(string_split(text, ' '),
        |      x -> x IN ('the','a','of','and','to'))) AS stop0
        |  FROM documents),
        |sc AS (SELECT lang, n_words,
        |    CAST(round(round(least(1.0, n_words / 200.0) * 0.5 +
        |      (CAST(stop0 AS DOUBLE) / n_words) * 0.5, 4) * 10000) AS BIGINT) // 1000
        |      AS bucket
        |  FROM q),
        |b AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_words) AS BIGINT) AS n_tokens
        |  FROM sc GROUP BY 1, 2),
        |w AS (SELECT lang, bucket, n_docs, n_tokens,
        |    CAST(sum(n_docs) OVER dsc AS BIGINT) AS kept_docs,
        |    CAST(sum(n_tokens) OVER dsc AS BIGINT) AS kept_tokens,
        |    CAST(sum(n_docs) OVER al AS BIGINT) AS tot_docs,
        |    CAST(sum(n_tokens) OVER al AS BIGINT) AS tot_tokens
        |  FROM b WINDOW dsc AS (PARTITION BY lang ORDER BY bucket DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    al AS (PARTITION BY lang))
        |SELECT lang, bucket, n_docs, n_tokens, kept_docs, kept_tokens,
        |  (1000000 * kept_docs) // tot_docs AS kept_docs_ppm,
        |  (1000000 * kept_tokens) // tot_tokens AS kept_tokens_ppm
        |FROM w ORDER BY lang, bucket""".stripMargin,

    "t47_codeswitch_census" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t2 AS (SELECT doc_id, w, len(w) AS l FROM t),
        |c AS (SELECT doc_id, unnest(list_transform(
        |        range(0, CASE WHEN l <= 10 THEN 1 ELSE (l - 10 + 9) // 10 + 1 END),
        |        i -> struct_pack(i := i,
        |               c := array_to_string(w[i*10+1:i*10+10], ' ')))) AS u
        |      FROM t2),
        |cw AS (SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx,
        |        string_split(u.c, ' ') AS ws FROM c),
        |sc AS (SELECT doc_id, chunk_idx,
        |  CAST(len(list_filter(ws, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(ws, x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(ws, x -> x IN ('el','que','los','una','es'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(ws, x -> x IN ('le','les','des','une','est'))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(ws, x -> x IN ('de','shi','le','bu','wo'))) AS BIGINT) AS s_zh
        |  FROM cw),
        |g AS (SELECT doc_id, chunk_idx,
        |  CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_guess
        |  FROM sc),
        |sw AS (SELECT doc_id, lang_guess,
        |  CASE WHEN lag(lang_guess) OVER (PARTITION BY doc_id ORDER BY chunk_idx)
        |            IS DISTINCT FROM lang_guess
        |        AND lag(lang_guess) OVER (PARTITION BY doc_id ORDER BY chunk_idx)
        |            IS NOT NULL
        |       THEN 1 ELSE 0 END AS switch
        |  FROM g),
        |cen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
        |        CAST(count(DISTINCT lang_guess) AS BIGINT) AS n_langs,
        |        CAST(sum(switch) AS BIGINT) AS n_switches
        |  FROM sw GROUP BY 1),
        |vt AS (SELECT doc_id, lang_guess, count(*) AS cnt FROM g GROUP BY 1, 2),
        |mj AS (SELECT doc_id, lang_guess AS major_lang FROM (
        |    SELECT doc_id, lang_guess,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, lang_guess) AS rn
        |    FROM vt) WHERE rn = 1)
        |SELECT cen.doc_id, cen.n_windows, cen.n_langs, cen.n_switches,
        |  mj.major_lang, cen.n_langs > 1 AS is_mixed
        |FROM cen JOIN mj USING (doc_id) ORDER BY cen.doc_id""".stripMargin,

    // the admission complement of d08: admitted = incoming docs with NO
    // bench doc sharing >= 2 shingles (same string-shingle/64-bit-hash
    // collision contract); the bloom tier is invisible by construction
    "st15_decontaminate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |          i -> list_aggregate(w[i:i+2], 'string_agg', chr(31)))) AS s
        |        FROM tok WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
        |bad AS (SELECT DISTINCT t.doc_id
        |        FROM sh t JOIN sh b ON t.s = b.s
        |          AND t.doc_id % 97 <> 0 AND b.doc_id % 97 = 0
        |        GROUP BY t.doc_id, b.doc_id HAVING count(*) >= 2)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id % 97 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY d.doc_id""".stripMargin,

    // admitted = batch vectors with NO corpus vector at rounded cosine
    // >= tau; same dot/norm/round(6) contract as v02/d06
    "d20_semantic_admission" ->
      s"""WITH b AS (SELECT vec_id, embedding, label, ${norm("embedding")} AS nrm
         |           FROM embeddings WHERE vec_id % 2 = 1),
         |c AS (SELECT embedding, ${norm("embedding")} AS nrm
         |      FROM embeddings WHERE vec_id % 2 = 0),
         |hit AS (SELECT DISTINCT b.vec_id
         |        FROM b JOIN c
         |          ON round(${dot("b.embedding", "c.embedding")} / (b.nrm * c.nrm), 6) >= 0.35)
         |SELECT b.vec_id, b.label FROM b
         |WHERE b.vec_id NOT IN (SELECT vec_id FROM hit)
         |ORDER BY b.vec_id""".stripMargin,

    "d09_bloom_decontaminate" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |          i -> list_aggregate(w[i:i+2], 'string_agg', chr(31)))) AS s
        |        FROM tok WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
        |ov AS (SELECT t.doc_id, b.doc_id AS bench_id, CAST(count(*) AS BIGINT) AS shared
        |       FROM sh t JOIN sh b ON t.s = b.s AND t.doc_id % 89 <> 0 AND b.doc_id % 89 = 0
        |       GROUP BY 1, 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_docs,
        |       CAST(max(shared) AS BIGINT) AS max_shared
        |FROM ov WHERE shared >= 2 GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // MinHash-LSH reproduces the exact-Jaccard result at this threshold
    // (P(miss | j >= 0.7) < 1e-4 with k=32, bands=16) — the oracle IS the
    // exact computation the LSH path approximates.
    "d04_minhash_lsh" -> jaccardSql(0.7),

    // d27: the FULL minhash signature kernel from first principles —
    // per-word XXH64 (xxhWinCtes) -> splitmix64(whash ^ seed_i) ->
    // per-seed SIGNED min (the engine compares signed longs, so the
    // mirror's min runs over the signed reinterpretation); seed
    // constants precomputed from the one JVM definition
    "d27_sketch_calibration" -> {
      val k = 16
      def smxOf(x: String): String =
        let(s"(($x) + 11400714819323198485) % $Mod", "z0",
          let(mulmod("xor(z0, z0 >> 30)", BigInt("bf58476d1ce4e5b9", 16)), "z1",
            let(mulmod("xor(z1, z1 >> 27)", BigInt("94d049bb133111eb", 16)), "z2",
              "xor(z2, z2 >> 31)")))
      val sigCols = (0 until k).map { i =>
        val seed = java.lang.Long.toUnsignedString(
          graft.llm.Dedup.splitmix64(0x5eed0000L + i))
        s"min(${toSigned(smxOf(s"xor(whash, $seed::HUGEINT)"))}) AS s$i"
      }.mkString(",\n|          ")
      val matchSum = (0 until k)
        .map(i => s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $xxhWinCtes,
         |sh AS (SELECT DISTINCT doc_id, whash FROM wins),
         |sig AS (SELECT doc_id,
         |          $sigCols
         |        FROM sh GROUP BY doc_id),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |       FROM sh a JOIN sh b ON a.whash = b.whash AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |jac AS (SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
         |          CAST(ca.n + cb.n - inter AS BIGINT) AS uni
         |        FROM pr JOIN cnt ca ON ca.doc_id = pr.id_a
         |        JOIN cnt cb ON cb.doc_id = pr.id_b
         |        WHERE round(CAST(inter AS DOUBLE) / (ca.n + cb.n - inter), 6) >= 0.2),
         |m AS (SELECT j.id_a, j.id_b, j.inter, j.uni,
         |        CAST($matchSum AS BIGINT) AS est_matches
         |      FROM jac j JOIN sig a ON a.doc_id = j.id_a
         |      JOIN sig b ON b.doc_id = j.id_b)
         |SELECT id_a, id_b,
         |  CAST((inter * 1000000) // uni AS BIGINT) AS exact_ppm,
         |  est_matches,
         |  CAST((est_matches * 1000000) // $k AS BIGINT) AS est_ppm,
         |  CAST((est_matches * 1000000) // $k - (inter * 1000000) // uni AS BIGINT) AS err_ppm
         |FROM m ORDER BY id_a, id_b""".stripMargin
    },

    // d26: ALL capped candidates (minJ 0 — the postings cap now BINDS, so
    // the oracle mirrors it), banded by cross-multiplied exact Jaccard
    "d26_threshold_audit" -> {
      val pairsSql = jaccardSql(0.0,
        postingsCap = Some(graft.llm.Dedup.NearDup.maxShinglePostings))
      s"""WITH pr2 AS ($pairsSql),
         |b AS (SELECT (inter * 20) // uni AS band, CAST(count(*) AS BIGINT) AS n_pairs
         |      FROM pr2 GROUP BY 1)
         |SELECT CAST(band AS BIGINT) AS band,
         |  CAST(band * 50000 AS BIGINT) AS j_lo_ppm, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY band DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_or_above
         |FROM b ORDER BY band""".stripMargin
    },

    // d13 = d04 served from the persisted bucketed signature index: the
    // storage split must be invisible, so the oracle is d04's VERBATIM.
    "d13_indexed_neardup" -> jaccardSql(0.7),

    // st09: cross-corpus admission — batch (odd ids) docs with no corpus
    // (even ids) near-dup at 5-gram jaccard >= 0.5; unshingle-able docs
    // admitted. Same shingle CTE as jaccardSql; the cross-side predicate
    // replaces the id_a < id_b self-pairing. NOT IN is safe: batch_id is
    // never null (it comes from the shingle join's doc_id).
    "st09_neardup_admission" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
        |          i -> list_aggregate(w[i:i+4], 'string_agg', chr(31)))) AS s
        |        FROM tok WHERE len(w) >= 5),
        |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pr AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, count(*) AS inter
        |       FROM sh b JOIN sh c ON b.s = c.s
        |        AND b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
        |       GROUP BY 1, 2),
        |rej AS (SELECT DISTINCT batch_id FROM pr
        |        JOIN cnt cb ON cb.doc_id = pr.batch_id
        |        JOIN cnt cc ON cc.doc_id = pr.corpus_id
        |        WHERE CAST(inter AS DOUBLE) / (cb.n + cc.n - inter) >= 0.5)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT batch_id FROM rej)
        |ORDER BY doc_id""".stripMargin,

    "t01_token_count" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // τ=2 temperature mix: sqrt is IEEE correctly-rounded in both
    // engines (pow is not — why the temperature is 2); the only FP sums
    // run over the handful of language rows
    "t23_mixture_weights" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |           FROM documents GROUP BY lang),
        |t AS (SELECT sum(n_tokens) AS tot,
        |             sum(sqrt(CAST(n_tokens AS DOUBLE))) AS stot FROM c)
        |SELECT c.lang, c.n_docs, c.n_tokens,
        |  round(CAST(c.n_tokens AS DOUBLE) / t.tot, 6) AS flat_r,
        |  round(sqrt(CAST(c.n_tokens AS DOUBLE)) / t.stot, 6) AS weight_r,
        |  CAST(round(1000000.0 * sqrt(CAST(c.n_tokens AS DOUBLE)) / t.stot, 0)
        |    AS BIGINT) AS epoch_tokens
        |FROM c, t ORDER BY c.lang""".stripMargin,

    "t02_text_quality" ->
      """WITH q AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words0, length(text) AS n_chars0,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','to'))) AS stop0
        |  FROM documents)
        |SELECT doc_id, CAST(n_words0 AS BIGINT) AS n_words, CAST(n_chars0 AS BIGINT) AS n_chars_calc,
        |       CAST(stop0 AS BIGINT) AS stop_cnt,
        |       round(CAST(n_chars0 - (n_words0 - 1) AS DOUBLE) / n_words0, 4) AS avg_word_len,
        |       round(least(1.0, n_words0 / 200.0) * 0.5 + (CAST(stop0 AS DOUBLE) / n_words0) * 0.5, 4) AS quality_score
        |FROM q ORDER BY doc_id""".stripMargin,

    "t03_langid" ->
      s"""WITH $langidCoreSql
         |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh, lang_guess
         |FROM g ORDER BY doc_id""".stripMargin,

    // the shared langid core joined back to the LABELED lang: one
    // classifier definition for t03 (per-doc) and t31 (the confusion
    // matrix + row-normalized ppm)
    "t31_langid_confusion" ->
      s"""WITH $langidCoreSql,
         |j AS (SELECT d.lang, g.lang_guess FROM documents d
         |      JOIN g ON g.doc_id = d.doc_id),
         |cell AS (SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS cnt
         |         FROM j GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM cell GROUP BY 1)
         |SELECT cell.lang, cell.lang_guess, cell.cnt,
         |       1000000 * cell.cnt // tot.n AS row_ppm
         |FROM cell JOIN tot USING (lang)
         |ORDER BY lang, lang_guess""".stripMargin,

    // ANN family bit-exact float mirrors (see the section above the sql
    // map): v03 hyperplane-LSH, d16 SemDeDup, and the IVF serve paths
    // v05/v12 — one SQL serves both IVF forms, their candidate sets and
    // scores are identical by construction.
    "v03_ann_lsh" -> v03Sql,
    "d16_semantic_dedup" -> d16Sql,
    "v05_ann_ivf" -> v05Sql,
    "v12_indexed_ivf" -> v05Sql,
    "v13_pq_ann" -> v13Sql,
    "v14_indexed_pq" -> v13Sql,
    "v15_ivfpq" -> v15Sql,
    "v16_indexed_ivfpq" -> v15Sql,

    "v01_knn_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 32),
         |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  round(${dot("q.qe", "e.embedding")} / (${norm("q.qe")} * ${norm("e.embedding")}), 6) AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk, cos
         |  FROM sc)
         |SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // v24: both rankings rebuilt with the same round-6 cosine and
    // (cos DESC, neighbor ASC) order; post-filter = unfiltered top-20,
    // keep label%3=0 survivors in rank order, take 5; n_post/overlap
    // totalized to 0 per query
    "v24_filtered_knn" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 32),
         |fsc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  round(${dot("q.qe", "e.embedding")} / (${norm("q.qe")} * ${norm("e.embedding")}), 6) AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id WHERE e.label % 7 = 0),
         |fr AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM fsc),
         |ex AS (SELECT query_id, neighbor_id FROM fr WHERE rnk <= 5),
         |asc0 AS (SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
         |  round(${dot("q.qe", "e.embedding")} / (${norm("q.qe")} * ${norm("e.embedding")}), 6) AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |ar AS (SELECT query_id, neighbor_id, label,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM asc0),
         |pf AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY rnk) AS prnk
         |  FROM ar WHERE rnk <= 20 AND label % 7 = 0),
         |p5 AS (SELECT query_id, neighbor_id FROM pf WHERE prnk <= 5),
         |np AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_post FROM p5 GROUP BY 1),
         |ov AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS overlap
         |  FROM ex e JOIN p5 p ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
         |  GROUP BY 1)
         |SELECT q.query_id, coalesce(np.n_post, 0) AS n_post,
         |  coalesce(ov.overlap, 0) AS overlap
         |FROM q LEFT JOIN np USING (query_id) LEFT JOIN ov USING (query_id)
         |ORDER BY query_id""".stripMargin,

    // both rankings rebuilt with the same round-6 cosine and
    // (cos DESC, neighbor ASC) order; truncation = 1-based inclusive
    // list slice [1:16]; overlap totalized to 0 per query
    "v20_matryoshka" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 32),
         |fsc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  round(${dot("q.qe", "e.embedding")} / (${norm("q.qe")} * ${norm("e.embedding")}), 6) AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |fr AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM fsc),
         |tsc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  round(${dot("q.qe[1:16]", "e.embedding[1:16]")} / (${norm("q.qe[1:16]")} * ${norm("e.embedding[1:16]")}), 6) AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |tr AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk FROM tsc),
         |ov AS (SELECT f.query_id, CAST(count(*) AS BIGINT) AS overlap5
         |  FROM (SELECT * FROM fr WHERE rnk <= 5) f
         |  JOIN (SELECT * FROM tr WHERE rnk <= 5) t
         |    ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
         |  GROUP BY 1)
         |SELECT q.query_id, coalesce(ov.overlap5, 0) AS overlap5
         |FROM q LEFT JOIN ov USING (query_id) ORDER BY query_id""".stripMargin,

    // v21's mutual pairs scored by the Artetxe & Schwenk ratio margin in
    // cross-multiplied integer form: per-node (sum, count) over the same
    // micro-unit top-3 cosines, margin_ppm = 2*cos*ca*cb*10^6 // (sa*cb +
    // sb*ca) — identical `//` truncation as the engine's `div`
    "v22_margin_mining" ->
      s"""WITH n AS (SELECT vec_id, embedding, ${norm("embedding")} AS nrm FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |  round(${dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
         |f AS (SELECT * FROM p WHERE cos >= 0.3),
         |r AS (SELECT vec_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM f),
         |k AS (SELECT vec_id, neighbor_id,
         |  CAST(round(cos * 1000000) AS BIGINT) AS cos_i FROM r WHERE rnk <= 3),
         |st AS (SELECT vec_id, CAST(sum(cos_i) AS BIGINT) AS nb_sum,
         |  CAST(count(*) AS BIGINT) AS nb_cnt FROM k GROUP BY 1)
         |SELECT a.vec_id AS id_a, a.neighbor_id AS id_b, a.cos_i AS cos_ppm,
         |  CAST(2 * a.cos_i * sa.nb_cnt * sb.nb_cnt * 1000000
         |       // (sa.nb_sum * sb.nb_cnt + sb.nb_sum * sa.nb_cnt) AS BIGINT) AS margin_ppm
         |FROM k a
         |JOIN k b ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id
         |JOIN st sa ON sa.vec_id = a.vec_id
         |JOIN st sb ON sb.vec_id = a.neighbor_id
         |WHERE a.vec_id < a.neighbor_id
         |ORDER BY id_a, id_b""".stripMargin,

    // top 3-gram per doc by (count DESC, gram ASC) + the Gopher
    // top-gram character-coverage ppm; space-joined grams (words are
    // space-split, so the join is unambiguous)
    "t30_repetition" ->
      """WITH tok AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |         string_split(text, ' ') AS w FROM documents),
        |sh AS (SELECT doc_id, n_chars, unnest(list_transform(range(1, len(w) - 1),
        |          i -> list_aggregate(w[i:i+2], 'string_agg', ' '))) AS gram
        |       FROM tok WHERE len(w) >= 3),
        |c AS (SELECT doc_id, n_chars, gram, CAST(count(*) AS BIGINT) AS cnt
        |      FROM sh GROUP BY 1, 2, 3),
        |m AS (SELECT doc_id, max(cnt) AS cnt FROM c GROUP BY 1),
        |e AS (SELECT c.doc_id, c.n_chars, min(c.gram) AS top_gram,
        |        max(c.cnt) AS top_cnt
        |      FROM c JOIN m ON m.doc_id = c.doc_id AND m.cnt = c.cnt
        |      GROUP BY 1, 2)
        |SELECT doc_id, top_gram, CAST(top_cnt AS BIGINT) AS top_cnt,
        |       CAST(1000000 * top_cnt * length(top_gram) // n_chars AS BIGINT) AS top_char_ppm
        |FROM e ORDER BY doc_id""".stripMargin,

    // nearest aspect bucket by lcm(144)-scaled integer ratio distance,
    // ties to the lower bucket index; same synthetic width/height
    // derivation as m01
    "m07_aspect_buckets" ->
      """WITH m AS (SELECT doc_id,
        |    CAST(16 + octet_length(encode(coalesce(text, ''))) % 48 AS BIGINT) AS width,
        |    CAST(16 + (octet_length(encode(coalesce(text, ''))) * 7) % 48 AS BIGINT) AS height
        |  FROM documents),
        |b(bw, bh, idx) AS (VALUES (1, 1, 0), (4, 3, 1), (3, 4, 2), (16, 9, 3),
        |                          (9, 16, 4), (2, 1, 5), (1, 2, 6)),
        |sc AS (SELECT m.doc_id, m.width, m.height, b.bw, b.bh,
        |         CAST(b.idx AS BIGINT) AS idx,
        |         abs(m.width * b.bh - m.height * b.bw) * (144 // b.bh) AS score
        |       FROM m CROSS JOIN b),
        |best AS (SELECT doc_id, width, height, bw, bh, idx,
        |           row_number() OVER (PARTITION BY doc_id ORDER BY score, idx) AS rn
        |         FROM sc)
        |SELECT doc_id, width, height,
        |       CAST(bw AS VARCHAR) || ':' || CAST(bh AS VARCHAR) AS ar_bucket,
        |       idx AS bucket_idx, width * height AS n_pixels
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // phrase postings (distinct 3-grams per doc, space-joined), df-capped
    // hub guard, top-3 phrases by (df DESC, phrase ASC), per-doc match
    // counts over the postings join
    "t32_phrase_index" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |        i -> list_aggregate(w[i:i+2], 'string_agg', ' '))) AS phrase
        |      FROM tok WHERE len(w) >= 3),
        |d AS (SELECT phrase, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1
        |      HAVING count(*) <= 1000),
        |q AS (SELECT phrase FROM d ORDER BY df DESC, phrase LIMIT 3)
        |SELECT g.doc_id, doc.lang, CAST(count(*) AS BIGINT) AS n_matched
        |FROM g JOIN q USING (phrase) JOIN documents doc ON doc.doc_id = g.doc_id
        |GROUP BY g.doc_id, doc.lang ORDER BY g.doc_id""".stripMargin,

    // per-type hourly spine (integer epoch-micros div hours) LEFT-joined
    // onto the counts, absent hours zero-filled
    "a29_gapfill_spine" ->
      """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, unnest(range(min(h), max(h) + 1)) AS h
        |      FROM c GROUP BY event_type)
        |SELECT s.event_type, CAST(s.h AS BIGINT) AS hour_idx,
        |       coalesce(c.cnt, 0) AS cnt
        |FROM s LEFT JOIN c ON c.event_type = s.event_type AND c.h = s.h
        |ORDER BY s.event_type, hour_idx""".stripMargin,

    // per-user consecutive-event gaps over (ts, event_id) order: count
    // over 6h, max gap, total idle — exact integer micros -> seconds
    "a28_inactivity_gaps" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events),
        |g AS (SELECT user_id,
        |        tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS gap
        |      FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |       CAST(sum(CASE WHEN gap > 21600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps_6h,
        |       CAST(max(gap) // 1000000 AS BIGINT) AS max_gap_s,
        |       CAST(sum(CASE WHEN gap > 21600000000 THEN gap ELSE 0 END) // 1000000 AS BIGINT) AS idle_s
        |FROM g WHERE gap IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the v19 ranking in both directions, kept iff mutual; canonical
    // a < b with both ranks
    "v21_mutual_knn" ->
      s"""WITH n AS (SELECT vec_id, embedding, ${norm("embedding")} AS nrm FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |  round(${dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
         |f AS (SELECT * FROM p WHERE cos >= 0.3),
         |r AS (SELECT vec_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM f),
         |k AS (SELECT vec_id, neighbor_id, rnk FROM r WHERE rnk <= 3)
         |SELECT a.vec_id AS id_a, a.neighbor_id AS id_b,
         |       a.rnk AS rnk_ab, b.rnk AS rnk_ba
         |FROM k a JOIN k b
         |  ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id
         |WHERE a.vec_id < a.neighbor_id
         |ORDER BY id_a, id_b""".stripMargin,

    // the v02 pair rule (round-6 cosine, threshold) + per-node top-3 by
    // (cos DESC, neighbor ASC) — the heap's exact total order
    "v19_knn_graph" ->
      s"""WITH n AS (SELECT vec_id, embedding, ${norm("embedding")} AS nrm FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |  round(${dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
         |f AS (SELECT * FROM p WHERE cos >= 0.3),
         |r AS (SELECT vec_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM f)
         |SELECT vec_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 3
         |ORDER BY vec_id, rnk""".stripMargin,

    // raw-dot ranking (NO norm division) — both engines accumulate the
    // dot sequentially in double, so round(dot, 6) is cross-engine exact
    "v18_mips" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 32),
         |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  round(${dot("q.qe", "e.embedding")}, 6) AS dot
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS BIGINT) AS rnk, dot
         |  FROM sc)
         |SELECT query_id, neighbor_id, rnk, dot FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "v02_cosine_pairs" ->
      s"""WITH n AS (SELECT vec_id, embedding, ${norm("embedding")} AS nrm FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin,

    // keep-first dedup over exact cosine pairs; same dot/norm/round(6)
    // contract as v02 so the threshold compare is cross-engine stable
    "d06_embedding_neardup" ->
      s"""WITH n AS (SELECT vec_id, embedding, ${norm("embedding")} AS nrm FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id_b AS doc_id, min(id_a) AS dup_of, count(*) AS n_near
         |FROM p WHERE cos >= 0.35 GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "v04_norms" ->
      s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
         |       round(${norm("embedding")}, 6) AS norm_r
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    // coalesce mirrors fromDocuments' null-text -> empty-payload policy
    "m01_multimodal_meta" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |       CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
        |       CAST(16 + octet_length(encode(coalesce(text, ''))) % 48 AS BIGINT) AS width,
        |       CAST(16 + (octet_length(encode(coalesce(text, ''))) * 7) % 48 AS BIGINT) AS height,
        |       CAST(1 + octet_length(encode(coalesce(text, ''))) % 8 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the stub codec is deterministic byte arithmetic (checksum = byte sum;
    // feat[j] += byte/255.0 over positions ≡ j mod 8, in byte order), so
    // the oracle recomputes it from the text bytes. Documents are pure
    // ASCII (asserted: octet_length(blob) == length for every row), so
    // ascii(substring(...)) IS the payload byte; per-position division
    // before a sequential in-order sum mirrors the stub's FP op order.
    "m02_media_features" ->
      """WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |f AS (SELECT doc_id, n,
        |  CAST(coalesce(list_aggregate(list_transform(range(1, n + 1),
        |    i -> ascii(substring(text, CAST(i AS INT), 1))), 'sum'), 0) AS BIGINT) AS checksum,
        |  list_transform(range(0, 8), j ->
        |    coalesce(list_aggregate(list_transform(range(1 + j, n + 1, 8),
        |      i -> ascii(substring(text, CAST(i AS INT), 1)) / 255.0), 'sum'), 0.0)) AS feat
        |  FROM b)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bytes, checksum,
        |       round(feat[1], 6) AS feat0_r, round(feat[8], 6) AS feat7_r,
        |       round(list_aggregate(feat, 'sum'), 6) AS feat_sum_r
        |FROM f ORDER BY doc_id""".stripMargin,

    // frame sampling mirror: step = max(1, len // 4), offsets i*step while
    // < len, frames are 16-byte substrings (ASCII: char == byte)
    "m03_frame_sample" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents),
        |p AS (SELECT doc_id, text, len, greatest(1, len // 4) AS step FROM d),
        |fr AS (SELECT doc_id, i, substring(text, CAST(i * step + 1 AS INT), 16) AS frame
        |       FROM p CROSS JOIN (SELECT unnest(range(0, 4)) AS i) r
        |       WHERE i * step < len)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sampled,
        |       md5(arg_min(frame, i)) AS frame0_md5,
        |       CAST(sum(length(frame)) AS BIGINT) AS frames_bytes
        |FROM fr GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // Perceptual-hash near-dup mirror: recomputes the identical 64-bit
    // average-hash from the ASCII text bytes (block j = positions = j mod
    // 64, bit j via the multiplication-only mean compare; c_j =
    // ceil((n-j)/64)), then compares ALL pairs quadratically — the oracle
    // may be quadratic, the engine's banded plan may not. ham as the sum
    // of per-bit absolute differences == popcount of the 64-bit xor.
    // ASSUMES A PURE-ASCII CORPUS: this mirror sums characters/codepoints
    // (ascii(substring(...))) while the engine hashes UTF-8 payload BYTES
    // — the two agree only when every char is one byte. The engine's m04
    // query asserts the fixture property in-plan (octet_length == length,
    // the t17 control-char guard's sibling), so a non-ASCII corpus fails
    // loudly instead of silently diverging from this oracle.
    "m04_phash_neardup" ->
      """WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |s AS (SELECT doc_id, n,
        |   list_transform(range(0, 64), j ->
        |     coalesce(list_aggregate(list_transform(range(CAST(1 + j AS BIGINT), n + 1, 64),
        |        i -> ascii(substring(text, CAST(i AS INT), 1))), 'sum'), 0)) AS bs,
        |   coalesce(list_aggregate(list_transform(range(1, n + 1),
        |        i -> ascii(substring(text, CAST(i AS INT), 1))), 'sum'), 0) AS total
        | FROM b),
        |bits AS (SELECT doc_id,
        |   list_transform(range(0, 64), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * n > total * greatest(0, (n - j + 63) // 64)
        |          THEN 1 ELSE 0 END) AS bt
        | FROM s),
        |p AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |        coalesce(list_aggregate(list_transform(range(1, 65),
        |          i -> abs(a.bt[CAST(i AS INT)] - c.bt[CAST(i AS INT)])), 'sum'), 0) AS ham
        |      FROM bits a JOIN bits c ON a.doc_id < c.doc_id)
        |SELECT id_a, id_b, CAST(ham AS BIGINT) AS ham
        |FROM p WHERE ham <= 3 ORDER BY id_a, id_b""".stripMargin,

    // m05: frame slicing (step = max(1, n//8), prefix offsets < n, 64-byte
    // windows) + the m04 per-frame average-hash, packed into two 32-bit
    // halves so hamming is two xor+bit_count calls; candidates mirror the
    // engine's rare-band join INCLUDING the boilerplate-band cap (a pair
    // whose matching bands are all capped is dropped on both sides)
    // k-anonymity with generalization: level-0 classes >= 10 release
    // as-is; violators pool per nation (level 1), still-violating pool
    // fully suppressed (level 2); row conservation rides the hash
    "a30_kanonymity" ->
      """WITH l0 AS (SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM customer GROUP BY 1, 2),
        |ok0 AS (SELECT CAST(0 AS BIGINT) AS gen_level, CAST(nation AS VARCHAR) AS nation_out,
        |          segment AS segment_out, n AS n_rows
        |        FROM l0 WHERE n >= 10),
        |l1 AS (SELECT nation, CAST(sum(n) AS BIGINT) AS n FROM l0 WHERE n < 10 GROUP BY 1),
        |ok1 AS (SELECT CAST(1 AS BIGINT), CAST(nation AS VARCHAR), '*', n
        |        FROM l1 WHERE n >= 10),
        |l2 AS (SELECT CAST(2 AS BIGINT), '*', '*', CAST(sum(n) AS BIGINT)
        |       FROM l1 WHERE n < 10 HAVING sum(n) > 0)
        |SELECT * FROM ok0 UNION ALL SELECT * FROM ok1 UNION ALL SELECT * FROM l2
        |ORDER BY gen_level, nation_out, segment_out""".stripMargin,

    // exact two-sample KS per event_type between user_id-parity
    // snapshots: identical running-count construction; the statistic is
    // the INTEGER max |cumA*nB - cumB*nA| (tie-safe: per-distinct-value
    // max of a nondecreasing running count = inclusive-through-v count
    // on both engines regardless of tie order); only the final rounded
    // ratio is floating
    "a31_ks_drift" ->
      """WITH e AS (SELECT event_type, value,
        |             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
        |           FROM events),
        |c AS (SELECT event_type, value,
        |        sum(a) OVER (PARTITION BY event_type ORDER BY value
        |                     ROWS UNBOUNDED PRECEDING) AS ca,
        |        sum(1 - a) OVER (PARTITION BY event_type ORDER BY value
        |                         ROWS UNBOUNDED PRECEDING) AS cb
        |      FROM e),
        |g AS (SELECT event_type, value, max(ca) AS ca, max(cb) AS cb
        |      FROM c GROUP BY 1, 2),
        |t AS (SELECT event_type, max(ca) AS n_a, max(cb) AS n_b
        |      FROM g GROUP BY 1)
        |SELECT g.event_type, CAST(n_a AS BIGINT) AS n_a,
        |       CAST(n_b AS BIGINT) AS n_b,
        |       CAST(max(abs(ca * n_b - cb * n_a)) AS BIGINT) AS d_num,
        |       round(max(abs(ca * n_b - cb * n_a)) / (1.0 * n_a * n_b), 6) AS ks_r
        |FROM g JOIN t USING (event_type)
        |GROUP BY 1, n_a, n_b ORDER BY 1""".stripMargin,

    // per-candidate FD: distinct (lhs, rhs) -> per-lhs rhs count ->
    // violation census; includes the true key FD
    "x35_fd_profile" ->
      """WITH f1 AS (SELECT 'o_orderkey->o_custkey' AS fd,
        |        CAST(count(*) AS BIGINT) AS n_lhs,
        |        CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating
        |      FROM (SELECT o_orderkey AS l, count(DISTINCT o_custkey) AS nr
        |            FROM orders GROUP BY 1)),
        |f2 AS (SELECT 'o_custkey->o_orderpriority',
        |        CAST(count(*) AS BIGINT),
        |        CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      FROM (SELECT o_custkey AS l, count(DISTINCT o_orderpriority) AS nr
        |            FROM orders GROUP BY 1)),
        |f3 AS (SELECT 'o_custkey->o_orderstatus',
        |        CAST(count(*) AS BIGINT),
        |        CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      FROM (SELECT o_custkey AS l, count(DISTINCT o_orderstatus) AS nr
        |            FROM orders GROUP BY 1)),
        |u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3)
        |SELECT fd, n_lhs, n_violating, n_violating = 0 AS holds
        |FROM u ORDER BY fd""".stripMargin,

    // power-of-two capacity tiers via length(bin(n-1)) — integer
    // ceil(log2), no FP near boundaries; pad waste exact
    "t34_length_buckets" ->
      """WITH d AS (SELECT doc_id,
        |    greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 1) AS n_words
        |  FROM documents),
        |c AS (SELECT doc_id, n_words,
        |    greatest(CAST(1 AS BIGINT) << length(bin(n_words - 1)), 16) AS cap
        |  FROM d)
        |SELECT cap, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_words) AS BIGINT) AS sum_words,
        |       CAST(sum(cap - n_words) AS BIGINT) AS pad_tokens,
        |       CAST(1000000 * sum(cap - n_words) // (cap * count(*)) AS BIGINT) AS waste_ppm
        |FROM c GROUP BY cap ORDER BY cap""".stripMargin,

    // exact join-cardinality forecast from the two per-key histograms;
    // hottest key = max product, min key on ties
    "x33_join_profile" ->
      """WITH a AS (SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS na
        |           FROM lineitem GROUP BY 1),
        |b AS (SELECT o_orderkey AS key, CAST(count(*) AS BIGINT) AS nb
        |      FROM orders GROUP BY 1),
        |f AS (SELECT coalesce(a.key, b.key) AS key,
        |        coalesce(na, 0) AS na, coalesce(nb, 0) AS nb,
        |        coalesce(na, 0) * coalesce(nb, 0) AS prod
        |      FROM a FULL JOIN b ON a.key = b.key)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(sum(CASE WHEN na > 0 AND nb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keys_matched,
        |       CAST(sum(na) AS BIGINT) AS rows_a, CAST(sum(nb) AS BIGINT) AS rows_b,
        |       CAST(sum(prod) AS BIGINT) AS join_rows,
        |       CAST(max(prod) AS BIGINT) AS max_fanout,
        |       CAST(min(key) FILTER (WHERE prod = (SELECT max(prod) FROM f)) AS BIGINT) AS hot_key,
        |       CAST(1000000 * sum(prod) // (sum(na) + sum(nb)) AS BIGINT) AS amp_ppm
        |FROM f""".stripMargin,

    // hash-seeded word dropout: drop position i iff md5(doc_id:i) starts
    // with '0' — identical md5 hex both engines, 1-based positions,
    // space rebuild
    "t33_word_dropout" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |k AS (SELECT doc_id, len(w) AS n_words,
        |        list_filter(range(1, len(w) + 1),
        |          i -> substring(md5(doc_id || ':' || i), 1, 1) <> '0') AS keep,
        |        w
        |      FROM t)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |       CAST(n_words - len(keep) AS BIGINT) AS n_dropped,
        |       list_aggregate(list_transform(keep, i -> w[CAST(i AS INT)]),
        |         'string_agg', ' ') AS aug_text
        |FROM k ORDER BY doc_id""".stripMargin,

    // per-video consecutive-frame Hamming stats: the m05 frame/hash
    // derivation verbatim, then a (doc, fi-1) self-join + popcount of
    // the xor'd 32-bit halves
    "m08_frame_coherence" ->
      """WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) > 0),
        |fr AS (SELECT doc_id, CAST(t.i AS BIGINT) AS fi,
        |         substring(text, CAST(t.i * greatest(1, n // 8) + 1 AS INT), 64) AS f
        |       FROM b, unnest(range(0, 8)) AS t(i)
        |       WHERE t.i * greatest(1, n // 8) < n),
        |ph AS (SELECT doc_id, fi, length(f) AS m,
        |   list_transform(range(0, 64), j ->
        |     coalesce(list_aggregate(list_transform(range(CAST(1 + j AS BIGINT), length(f) + 1, 64),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0)) AS bs,
        |   coalesce(list_aggregate(list_transform(range(1, length(f) + 1),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0) AS total
        | FROM fr),
        |bits AS (SELECT doc_id, fi,
        |   CAST(coalesce(list_aggregate(list_transform(range(0, 32), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h1,
        |   CAST(coalesce(list_aggregate(list_transform(range(32, 64), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j - 32) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h2
        | FROM ph),
        |pair AS (SELECT c.doc_id,
        |           bit_count(xor(p.h1, c.h1)) + bit_count(xor(p.h2, c.h2)) AS ham
        |         FROM bits c JOIN bits p
        |           ON p.doc_id = c.doc_id AND p.fi = c.fi - 1)
        |SELECT doc_id, CAST(count(*) + 1 AS BIGINT) AS n_frames,
        |       CAST(min(ham) AS BIGINT) AS min_ham,
        |       CAST(max(ham) AS BIGINT) AS max_ham,
        |       CAST(sum(ham) AS BIGINT) AS sum_ham
        |FROM pair GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // m10: the m08 frame/hash CTE chain verbatim, then cut flags, a
    // running shot counter over FRAMES (single-frame docs = one shot),
    // per-shot lengths, and the census
    // m11: full constellation mirror — frames, -1-padded peak test,
    // 3 lead unions, df-capped postings, key equi-join, offset vote
    "m11_constellation" ->
      """WITH base AS (SELECT doc_id, coalesce(text, '') AS w FROM documents
        |  WHERE length(coalesce(text, '')) // 16 >= 12),
        |tr AS (SELECT doc_id * 2 AS tid, w AS wave FROM base
        |       UNION ALL
        |       SELECT doc_id * 2 + 1, substring(w, 49) FROM base
        |       WHERE doc_id % 5 = 0),
        |fr0 AS (SELECT tid, wave, unnest(range(0, length(wave) // 16)) AS i
        |        FROM tr WHERE length(wave) // 16 >= 3),
        |fr AS (SELECT tid, CAST(i AS BIGINT) AS t,
        |    CAST('0x' || substring(md5(
        |      substring(wave, CAST(i * 16 + 1 AS INT), 16)), 1, 12) AS BIGINT) AS fh
        |  FROM fr0),
        |pk AS (SELECT tid, t, fh FROM (
        |    SELECT tid, t, fh,
        |      lag(fh, 1, -1) OVER (PARTITION BY tid ORDER BY t) AS l,
        |      lead(fh, 1, -1) OVER (PARTITION BY tid ORDER BY t) AS r
        |    FROM fr) WHERE fh > l AND fh >= r),
        |ld AS (SELECT tid, t, fh,
        |    lead(t, 1) OVER w AS t1, lead(fh, 1) OVER w AS h1,
        |    lead(t, 2) OVER w AS t2, lead(fh, 2) OVER w AS h2,
        |    lead(t, 3) OVER w AS t3, lead(fh, 3) OVER w AS h3
        |  FROM pk WINDOW w AS (PARTITION BY tid ORDER BY t)),
        |po0 AS (
        |  SELECT tid, t, md5(CAST(fh AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)
        |    || ':' || CAST(t1 - t AS VARCHAR)) AS key FROM ld WHERE t1 IS NOT NULL
        |  UNION ALL
        |  SELECT tid, t, md5(CAST(fh AS VARCHAR) || ':' || CAST(h2 AS VARCHAR)
        |    || ':' || CAST(t2 - t AS VARCHAR)) FROM ld WHERE t2 IS NOT NULL
        |  UNION ALL
        |  SELECT tid, t, md5(CAST(fh AS VARCHAR) || ':' || CAST(h3 AS VARCHAR)
        |    || ':' || CAST(t3 - t AS VARCHAR)) FROM ld WHERE t3 IS NOT NULL),
        |po AS (SELECT tid, t, key FROM (
        |    SELECT *, row_number() OVER (PARTITION BY key ORDER BY tid, t) AS rn
        |    FROM po0) WHERE rn <= 32),
        |cd AS (SELECT a.tid AS track_a, b.tid AS track_b, a.t - b.t AS off
        |       FROM po a JOIN po b ON a.key = b.key AND a.tid < b.tid),
        |vt AS (SELECT track_a, track_b, off, CAST(count(*) AS BIGINT) AS v
        |       FROM cd GROUP BY 1, 2, 3),
        |ag AS (SELECT track_a, track_b, CAST(sum(v) AS BIGINT) AS n_matches,
        |         CAST(count(*) AS BIGINT) AS n_offsets FROM vt GROUP BY 1, 2),
        |bst AS (SELECT track_a, track_b, off AS best_offset, v AS votes_best
        |        FROM (SELECT *, row_number() OVER (PARTITION BY track_a, track_b
        |            ORDER BY v DESC, off) AS rn FROM vt) WHERE rn = 1)
        |SELECT ag.track_a, ag.track_b, ag.n_matches, ag.n_offsets,
        |  CAST(bst.best_offset AS BIGINT) AS best_offset, bst.votes_best
        |FROM ag JOIN bst USING (track_a, track_b)
        |WHERE ag.n_matches >= 4
        |ORDER BY ag.track_a, ag.track_b""".stripMargin,

    "m10_shot_segments" ->
      """WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) > 0),
        |fr AS (SELECT doc_id, CAST(t.i AS BIGINT) AS fi,
        |         substring(text, CAST(t.i * greatest(1, n // 8) + 1 AS INT), 64) AS f
        |       FROM b, unnest(range(0, 8)) AS t(i)
        |       WHERE t.i * greatest(1, n // 8) < n),
        |ph AS (SELECT doc_id, fi, length(f) AS m,
        |   list_transform(range(0, 64), j ->
        |     coalesce(list_aggregate(list_transform(range(CAST(1 + j AS BIGINT), length(f) + 1, 64),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0)) AS bs,
        |   coalesce(list_aggregate(list_transform(range(1, length(f) + 1),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0) AS total
        | FROM fr),
        |bits AS (SELECT doc_id, fi,
        |   CAST(coalesce(list_aggregate(list_transform(range(0, 32), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h1,
        |   CAST(coalesce(list_aggregate(list_transform(range(32, 64), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j - 32) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h2
        | FROM ph),
        |cuts AS (SELECT c.doc_id, c.fi,
        |           CASE WHEN bit_count(xor(p.h1, c.h1)) + bit_count(xor(p.h2, c.h2)) > 21
        |                THEN 1 ELSE 0 END AS cut
        |         FROM bits c JOIN bits p
        |           ON p.doc_id = c.doc_id AND p.fi = c.fi - 1),
        |f2 AS (SELECT bits.doc_id, bits.fi, coalesce(cuts.cut, 0) AS cut
        |       FROM bits LEFT JOIN cuts ON cuts.doc_id = bits.doc_id AND cuts.fi = bits.fi),
        |sh AS (SELECT doc_id, fi, cut, sum(cut) OVER (PARTITION BY doc_id ORDER BY fi
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot FROM f2),
        |per AS (SELECT doc_id, shot, CAST(count(*) AS BIGINT) AS len FROM sh GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shots,
        |          CAST(max(len) AS BIGINT) AS longest_shot,
        |          CAST(sum(len) AS BIGINT) AS n_frames FROM per GROUP BY 1),
        |fc AS (SELECT doc_id, min(fi) AS first_cut FROM sh WHERE cut = 1 GROUP BY 1)
        |SELECT agg.doc_id, n_frames, n_shots, longest_shot,
        |  CAST(coalesce(fc.first_cut, -1) AS BIGINT) AS first_cut_fi
        |FROM agg LEFT JOIN fc USING (doc_id)
        |ORDER BY agg.doc_id""".stripMargin,

    "m05_video_neardup" -> {
      val cap = graft.llm.Multimodal.MediaNearDup.maxBandPostings
      s"""WITH b AS (SELECT doc_id, text, length(text) AS n FROM documents
         |           WHERE length(text) > 0),
         |fr AS (SELECT doc_id, CAST(t.i AS BIGINT) AS fi,
         |         substring(text, CAST(t.i * greatest(1, n // 8) + 1 AS INT), 64) AS f
         |       FROM b, unnest(range(0, 8)) AS t(i)
         |       WHERE t.i * greatest(1, n // 8) < n),
         |ph AS (SELECT doc_id, fi, length(f) AS m,
         |   list_transform(range(0, 64), j ->
         |     coalesce(list_aggregate(list_transform(range(CAST(1 + j AS BIGINT), length(f) + 1, 64),
         |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0)) AS bs,
         |   coalesce(list_aggregate(list_transform(range(1, length(f) + 1),
         |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0) AS total
         | FROM fr),
         |bits AS (SELECT doc_id, fi,
         |   CAST(coalesce(list_aggregate(list_transform(range(0, 32), j ->
         |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
         |          THEN CAST(power(2, j) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h1,
         |   CAST(coalesce(list_aggregate(list_transform(range(32, 64), j ->
         |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
         |          THEN CAST(power(2, j - 32) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h2
         | FROM ph),
         |bands AS (SELECT doc_id, fi, t.bi,
         |    CASE t.bi WHEN 0 THEN h1 % 65536 WHEN 1 THEN h1 // 65536
         |              WHEN 2 THEN h2 % 65536 ELSE h2 // 65536 END AS bv
         |  FROM bits, unnest(range(0, 4)) AS t(bi)),
         |rare AS (SELECT bi, bv FROM bands GROUP BY bi, bv HAVING count(*) <= $cap),
         |rb AS (SELECT bands.doc_id, bands.fi, bands.bi, bands.bv
         |       FROM bands JOIN rare USING (bi, bv)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, a.fi AS fa,
         |           c.doc_id AS id_b, c.fi AS fb
         |         FROM rb a JOIN rb c ON a.bi = c.bi AND a.bv = c.bv
         |           AND a.doc_id < c.doc_id),
         |fp AS (SELECT cand.id_a, cand.id_b, cand.fa,
         |         bit_count(xor(x.h1, y.h1)) + bit_count(xor(x.h2, y.h2)) AS ham
         |       FROM cand JOIN bits x ON x.doc_id = cand.id_a AND x.fi = cand.fa
         |       JOIN bits y ON y.doc_id = cand.id_b AND y.fi = cand.fb)
         |SELECT id_a, id_b, CAST(count(DISTINCT fa) AS BIGINT) AS shared_frames
         |FROM fp WHERE ham <= 3
         |GROUP BY 1, 2 HAVING count(DISTINCT fa) >= 2
         |ORDER BY id_a, id_b""".stripMargin
    },

    // d18: the d17 CTEs plus the bottom-k sketch rule — row_number over
    // the identical (32-bit md5 prefix, shingle) total order the engine's
    // TopKStr heap keeps, probe joined against full (capped) postings
    "d18_containment_sketch" -> {
      val cap = graft.llm.Dedup.NearDup.maxShinglePostings
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
         |          i -> list_aggregate(w[i:i+4], 'string_agg', chr(31)))) AS s
         |        FROM tok WHERE len(w) >= 5),
         |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $cap),
         |shc AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
         |pref AS (SELECT doc_id, s,
         |           CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) AS pf FROM shc),
         |bk AS (SELECT doc_id, s FROM (
         |         SELECT doc_id, s,
         |                row_number() OVER (PARTITION BY doc_id ORDER BY pf, s) AS rn
         |         FROM pref) t WHERE rn <= 16),
         |cand AS (SELECT DISTINCT bk.doc_id AS contained_id,
         |           shc.doc_id AS container_id
         |         FROM bk JOIN shc ON bk.s = shc.s AND bk.doc_id <> shc.doc_id),
         |pr AS (SELECT c.contained_id, c.container_id, count(*) AS inter
         |       FROM cand c JOIN sh a ON a.doc_id = c.contained_id
         |       JOIN sh b ON b.doc_id = c.container_id AND b.s = a.s
         |       GROUP BY 1, 2)
         |SELECT pr.contained_id, pr.container_id, CAST(pr.inter AS BIGINT) AS inter,
         |  CAST(cn.n AS BIGINT) AS n_contained,
         |  round(CAST(pr.inter AS DOUBLE) / cn.n, 6) AS containment
         |FROM pr JOIN cnt cn ON cn.doc_id = pr.contained_id
         |WHERE round(CAST(pr.inter AS DOUBLE) / cn.n, 6) >= 0.5
         |ORDER BY contained_id, container_id""".stripMargin
    },

    "v06_quantize" ->
      """WITH s AS (SELECT vec_id, embedding,
        |  greatest(list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max'),
        |           4.9406564584124654e-324) AS scale
        |  FROM embeddings),
        |q AS (SELECT vec_id, scale,
        |  list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale * 127) AS BIGINT)) AS qv
        |  FROM s)
        |SELECT vec_id, round(scale, 6) AS scale_r,
        |       CAST(coalesce(list_aggregate(qv, 'sum'), 0) AS BIGINT) AS qsum,
        |       CAST(coalesce(list_aggregate(list_transform(qv, v -> abs(v)), 'sum'), 0) AS BIGINT) AS qabs
        |FROM q ORDER BY vec_id""".stripMargin,

    "t05_normalize" ->
      """SELECT doc_id,
        |       md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS norm_hash,
        |       CAST(length(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    // bucket = first 32 md5 bits of the decimal doc_id -> [0, 2^32) -> % 100:
    // overflow-free at any doc_id (the r2 multiplicative form overflowed
    // BIGINT past doc_id ~3.5e9, yielding negative buckets in Spark and a
    // conversion error in DuckDB)
    "t06_stratified_sample" ->
      """WITH b AS (SELECT doc_id, lang,
        |  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < CASE WHEN lang = 'en' THEN 30 ELSE 10 END
        |ORDER BY doc_id""".stripMargin,

    // repetition over w=3 word windows: slice is 1-based INCLUSIVE both
    // ends (w[i:i+2] = 3 words), range exclusive (1..len-2 = len-2 windows)
    "t07_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(greatest(len(w) - 2, 0) AS BIGINT) AS n_windows,
        |  CAST(CASE WHEN len(w) >= 3 THEN len(list_distinct(list_transform(
        |    range(1, len(w) - 1), i -> list_aggregate(w[i:i+2], 'string_agg', chr(31)))))
        |    ELSE 0 END AS BIGINT) AS n_distinct
        |  FROM tok)
        |SELECT doc_id, n_windows, n_distinct,
        |  CASE WHEN n_windows > 0
        |       THEN round(1 - CAST(n_distinct AS DOUBLE) / n_windows, 6) END AS rep_ratio
        |FROM c ORDER BY doc_id""".stripMargin,

    // greedy packing is inherently sequential per stratum: the oracle walks
    // each lang's docs in doc_id order via a recursive CTE, carrying the
    // same (seq_id, running-token) state the Spark packer keeps
    "t08_pack_sequences" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang,
        |         CAST(coalesce(len(string_split(text, ' ')), 0) AS BIGINT) AS n_words,
        |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang, n_words, rn,
        |         CAST(0 AS BIGINT) AS seq_id, n_words AS seq_tokens
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT d.doc_id, d.lang, d.n_words, d.rn,
        |         CASE WHEN p.seq_tokens + d.n_words > 256
        |              THEN p.seq_id + 1 ELSE p.seq_id END,
        |         CASE WHEN p.seq_tokens + d.n_words > 256
        |              THEN d.n_words ELSE p.seq_tokens + d.n_words END
        |  FROM p JOIN d ON d.lang = p.lang AND d.rn = p.rn + 1)
        |SELECT doc_id, lang, n_words, seq_id, seq_tokens
        |FROM p ORDER BY doc_id""".stripMargin,

    // strict-integer regex gate mirrors the Spark side: DuckDB would
    // otherwise ROUND '93.5' to 94 where Spark nulls/truncates
    "x01_json_extract" ->
      """WITH j AS (SELECT event_id, json_extract_string(props, '$.k') AS ks FROM events)
        |SELECT event_id,
        |       CASE WHEN regexp_matches(ks, '^-?[0-9]+$') THEN CAST(ks AS BIGINT) END AS k_val
        |FROM j
        |WHERE CASE WHEN regexp_matches(ks, '^-?[0-9]+$') THEN CAST(ks AS BIGINT) END >= 90
        |ORDER BY event_id""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN is the oracle for the union+window
    // formulation. Sub-microsecond ordering is invisible to DuckDB (it
    // reads TIMESTAMP(NANOS) at us precision); events in this corpus are
    // seconds apart, so the us-truncated comparison agrees.
    // batch mirror of the stream-stream interval join; values are raw
    // pass-through doubles (bit-identical, no rounding needed)
    // window form of the streaming heap: ranks on the raw double (both
    // engines compare identical parquet doubles), rounds only the output
    "st05_window_topk" ->
      """WITH e AS (SELECT event_id, event_type, value, date_trunc('hour', ts) AS h
        |           FROM events),
        |r AS (SELECT h, event_type, event_id, value,
        |        row_number() OVER (PARTITION BY h, event_type
        |          ORDER BY value DESC, event_id) AS rnk FROM e)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |       CAST(rnk AS BIGINT) AS rnk, event_id, round(value, 2) AS value_r
        |FROM r WHERE rnk <= 3 ORDER BY win_start, event_type, rnk""".stripMargin,

    "st04_interval_join" ->
      """SELECT c.event_id AS click_id, c.user_id,
        |       epoch_us(c.ts) AS click_ts_us, c.value AS click_value,
        |       v.event_id AS view_id, epoch_us(v.ts) AS view_ts_us,
        |       v.value AS view_value
        |FROM events c JOIN events v
        |  ON v.user_id = c.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts BETWEEN c.ts - INTERVAL 60 MINUTE AND c.ts
        |ORDER BY click_id, view_id""".stripMargin,

    // exactly-once admission over an at-least-once log: re-delivered
    // copies are exact, so dedup by event_id reconstructs the original
    "st18_dedup_redelivery" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    // keep-first per near-dup fingerprint, the min-doc_id election form:
    // the fingerprint chain is null-text -> id class, short (<5 words) ->
    // exact-content class, else min md5 over the distinct 5-word shingles
    // (chr(31)-joined, the engine's ShingleSep) — salted prefixes keep
    // the classes disjoint; md5 hex + lexicographic min reproduce the
    // Spark expression byte-for-byte
    "st19_neardedup_election" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
        |          i -> list_aggregate(w[i:i+4], 'string_agg', chr(31)))) AS s
        |        FROM tok WHERE len(w) >= 5),
        |mn AS (SELECT doc_id, min(md5(s)) AS m
        |       FROM (SELECT DISTINCT doc_id, s FROM sh0) GROUP BY 1),
        |fp AS (SELECT d.doc_id,
        |         CASE WHEN d.text IS NULL THEN 'null:' || CAST(d.doc_id AS VARCHAR)
        |              WHEN mn.m IS NOT NULL THEN 'fp:' || mn.m
        |              ELSE 'short:' || md5(d.text) END AS f
        |       FROM documents d LEFT JOIN mn USING (doc_id)),
        |win AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN win USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // converged maintained aggregate: however the delta batches were
    // split, the folded table equals the plain GROUP BY over the log
    // (values as exact integer cents — floor(value*100))
    "st20_maintained_agg" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // converged upsert state: the max-event_id row per user, however
    // the batches were split
    "st14_upsert_state" ->
      """WITH last AS (SELECT user_id, max(event_id) AS event_id
        |              FROM events GROUP BY user_id)
        |SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
        |       e.event_type, e.value
        |FROM events e JOIN last USING (user_id, event_id)
        |ORDER BY user_id""".stripMargin,

    // LEFT SEMI st04: one row per click with >= 1 preceding view — the
    // EXISTS form, never multiplied per matching view
    "st13_semi_join" ->
      """SELECT c.event_id AS click_id, c.user_id,
        |       epoch_us(c.ts) AS click_ts_us, c.value AS click_value
        |FROM events c
        |WHERE c.event_type = 'click' AND EXISTS (
        |  SELECT 1 FROM events v
        |  WHERE v.event_type = 'view' AND v.user_id = c.user_id
        |    AND v.ts BETWEEN c.ts - INTERVAL 60 MINUTE AND c.ts)
        |ORDER BY click_id""".stripMargin,

    // LEFT OUTER st04: the side filters move into CTEs so the outer
    // join's null-padding applies to genuinely unmatched clicks only
    "st12_outer_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts, value
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id AS view_id, user_id, ts, value
        |      FROM events WHERE event_type = 'view')
        |SELECT c.click_id, c.user_id,
        |       epoch_us(c.ts) AS click_ts_us, c.value AS click_value,
        |       v.view_id, epoch_us(v.ts) AS view_ts_us,
        |       v.value AS view_value
        |FROM c LEFT JOIN v
        |  ON v.user_id = c.user_id
        | AND v.ts BETWEEN c.ts - INTERVAL 60 MINUTE AND c.ts
        |ORDER BY click_id, view_id""".stripMargin,

    // first-50 per (type, hour) in (ts, event_id) order — the quota
    // contract the streaming keyed-state form enforces incrementally
    "st17_rate_limit" ->
      """WITH r AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS BIGINT) AS admit_seq
        |  FROM events)
        |SELECT event_id, event_type, ts_us, admit_seq
        |FROM r WHERE admit_seq <= 50 ORDER BY event_id""".stripMargin,

    // every click and view exactly once, null-padded when unmatched;
    // the compare sorts rows, so the null-keyed order is hash-safe
    "st16_full_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id, ts, value
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id AS view_id, user_id, ts, value
        |      FROM events WHERE event_type = 'view')
        |SELECT coalesce(c.user_id, v.user_id) AS "user",
        |       c.click_id, epoch_us(c.ts) AS click_ts_us,
        |       c.value AS click_value, v.view_id,
        |       epoch_us(v.ts) AS view_ts_us, v.value AS view_value
        |FROM c FULL JOIN v
        |  ON v.user_id = c.user_id
        | AND v.ts BETWEEN c.ts - INTERVAL 60 MINUTE AND c.ts
        |ORDER BY coalesce(c.click_id, -1), coalesce(v.view_id, -1)""".stripMargin,

    "x04_asof_join" ->
      """WITH clicks AS (SELECT event_id, user_id, ts, value FROM events
        |               WHERE event_type = 'click'),
        |v0 AS (SELECT user_id, ts, event_id AS view_event_id, value AS view_value
        |       FROM events WHERE event_type = 'view'),
        |views AS (SELECT user_id, ts, view_event_id, view_value
        |          FROM (SELECT *, row_number() OVER (PARTITION BY user_id, ts
        |                             ORDER BY view_event_id DESC) AS rn FROM v0)
        |          WHERE rn = 1)
        |SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, c.value,
        |       v.view_event_id, v.view_value
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    // plain BETWEEN join oracle for the binned range join; the 1-hour
    // interval bound is exact in both engines (events are seconds apart,
    // so us-vs-ns boundary truncation cannot flip a containment test)
    "x05_range_join" ->
      """WITH iv AS (SELECT event_id AS interval_id, ts AS s, ts + INTERVAL 1 HOUR AS e
        |            FROM events WHERE user_id < 5 AND event_type = 'click')
        |SELECT iv.interval_id, count(*) AS n_points
        |FROM iv JOIN events p ON p.ts >= iv.s AND p.ts <= iv.e
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the overlap join's oracle is the quadratic two-inequality form the
    // binned plan replaces; timestamps cross as epoch micros
    "x21_interval_overlap" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS c_start,
        |             epoch_us(ts) + 1800000000 AS c_end
        |           FROM events WHERE user_id < 15 AND event_type = 'click'),
        |v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS v_start,
        |        epoch_us(ts) + 1800000000 AS v_end
        |      FROM events WHERE user_id < 15 AND event_type = 'view')
        |SELECT c.user_id, c.click_id, v.view_id,
        |       least(c.c_end, v.v_end) - greatest(c.c_start, v.v_start) AS overlap_us
        |FROM c JOIN v ON c.user_id = v.user_id
        |  AND c.c_start <= v.v_end AND v.v_start <= c.c_end
        |ORDER BY c.user_id, c.click_id, v.view_id""".stripMargin,

    // same incidence -> exact Jaccard edge rule as the engine, with the
    // threshold as the identical integer cross-multiplication
    "x22_covisit_sim" ->
      """WITH up AS (SELECT DISTINCT user_id AS u,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS p
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |pc AS (SELECT p, count(*) AS c FROM up GROUP BY p),
        |pr AS (SELECT a.p AS p1, b.p AS p2, count(*) AS inter
        |       FROM up a JOIN up b ON a.u = b.u AND a.p < b.p GROUP BY 1, 2)
        |SELECT p1, p2, inter, c1.c + c2.c - inter AS uni
        |FROM pr JOIN pc c1 ON c1.p = pr.p1 JOIN pc c2 ON c2.p = pr.p2
        |WHERE 50 * inter >= 17 * (c1.c + c2.c - inter)
        |ORDER BY p1, p2""".stripMargin,

    // m09: same planted silence gap, codepoint energy, window flags,
    // run/trim folds over the flag list (DuckDB lists are 1-based)
    // m12: m09's VAD-flag CTEs + run extraction, m10's hash-cut chain +
    // per-shot intervals, overlap in integer 1/(nw*F) duration units,
    // (ov DESC, shot ASC) election via row_number
    "m12_av_align" ->
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t,
        |    CAST('0x' || substring(md5('sil:' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS h
        |  FROM documents),
        |p AS (SELECT doc_id, t, h, length(t) // 16 AS nw FROM d WHERE length(t) // 16 >= 6),
        |w AS (SELECT doc_id, nw, t, 1 + (h // 8) % 3 AS lw,
        |        h % (nw - (1 + (h // 8) % 3) + 1) AS sw FROM p),
        |wav AS (SELECT doc_id, nw,
        |    substring(t, 1, CAST(sw * 16 AS INT)) || repeat(' ', CAST(lw * 16 AS INT)) ||
        |    substring(t, CAST((sw + lw) * 16 + 1 AS INT), CAST((nw - sw - lw) * 16 AS INT)) AS wave
        |  FROM w),
        |f AS (SELECT doc_id, nw,
        |    list_transform(range(0, nw), i ->
        |      list_aggregate(list_transform(range(1, 17), j ->
        |        greatest(ascii(substring(wave, CAST(i * 16 + j AS INT), 1)) - 32, 0)),
        |        'sum') >= 400) AS flags
        |  FROM wav),
        |runs AS (SELECT doc_id, nw,
        |    list_filter(range(0, nw), i -> flags[CAST(i + 1 AS INT)]
        |      AND (i = 0 OR NOT flags[CAST(i AS INT)])) AS ss,
        |    list_filter(range(0, nw), i -> flags[CAST(i + 1 AS INT)]
        |      AND (i = nw - 1 OR NOT flags[CAST(i + 2 AS INT)])) AS ee
        |  FROM f),
        |segs AS (SELECT doc_id, nw, CAST(u.k AS BIGINT) AS seg_idx,
        |    CAST(u.s AS BIGINT) AS sw, CAST(u.e AS BIGINT) AS ew
        |  FROM (SELECT doc_id, nw, unnest(list_transform(range(0, len(ss)),
        |          k -> struct_pack(k := k, s := ss[CAST(k + 1 AS INT)],
        |                           e := ee[CAST(k + 1 AS INT)]))) AS u
        |        FROM runs)),
        |b AS (SELECT doc_id, text, length(text) AS n FROM documents
        |           WHERE length(text) > 0),
        |fr AS (SELECT doc_id, CAST(t.i AS BIGINT) AS fi,
        |         substring(text, CAST(t.i * greatest(1, n // 8) + 1 AS INT), 64) AS f
        |       FROM b, unnest(range(0, 8)) AS t(i)
        |       WHERE t.i * greatest(1, n // 8) < n),
        |ph AS (SELECT doc_id, fi, length(f) AS m,
        |   list_transform(range(0, 64), j ->
        |     coalesce(list_aggregate(list_transform(range(CAST(1 + j AS BIGINT), length(f) + 1, 64),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0)) AS bs,
        |   coalesce(list_aggregate(list_transform(range(1, length(f) + 1),
        |        i -> ascii(substring(f, CAST(i AS INT), 1))), 'sum'), 0) AS total
        | FROM fr),
        |bits AS (SELECT doc_id, fi,
        |   CAST(coalesce(list_aggregate(list_transform(range(0, 32), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h1,
        |   CAST(coalesce(list_aggregate(list_transform(range(32, 64), j ->
        |     CASE WHEN bs[CAST(j + 1 AS INT)] * m > total * greatest(0, (m - j + 63) // 64)
        |          THEN CAST(power(2, j - 32) AS BIGINT) ELSE 0 END), 'sum'), 0) AS BIGINT) AS h2
        | FROM ph),
        |cuts AS (SELECT c.doc_id, c.fi,
        |           CASE WHEN bit_count(xor(p.h1, c.h1)) + bit_count(xor(p.h2, c.h2)) > 21
        |                THEN 1 ELSE 0 END AS cut
        |         FROM bits c JOIN bits p
        |           ON p.doc_id = c.doc_id AND p.fi = c.fi - 1),
        |f2 AS (SELECT bits.doc_id, bits.fi, coalesce(cuts.cut, 0) AS cut
        |       FROM bits LEFT JOIN cuts ON cuts.doc_id = bits.doc_id AND cuts.fi = bits.fi),
        |sh AS (SELECT doc_id, fi, cut, sum(cut) OVER (PARTITION BY doc_id ORDER BY fi
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot FROM f2),
        |shiv AS (SELECT doc_id, shot, CAST(min(fi) AS BIGINT) AS sf,
        |           CAST(max(fi) AS BIGINT) AS ef FROM sh GROUP BY 1, 2),
        |fcnt AS (SELECT doc_id, CAST(sum(ef - sf + 1) AS BIGINT) AS fn
        |         FROM shiv GROUP BY 1),
        |ovl AS (SELECT s.doc_id, s.seg_idx, s.sw, s.ew, v.shot,
        |    least((s.ew + 1) * c.fn, (v.ef + 1) * s.nw) -
        |      greatest(s.sw * c.fn, v.sf * s.nw) AS ov
        |  FROM segs s JOIN shiv v USING (doc_id) JOIN fcnt c USING (doc_id)),
        |el AS (SELECT doc_id, seg_idx, sw, ew, shot, ov,
        |    row_number() OVER (PARTITION BY doc_id, seg_idx ORDER BY ov DESC, shot) AS rn,
        |    CAST(count(*) OVER (PARTITION BY doc_id, seg_idx) AS BIGINT) AS n_shots_hit
        |  FROM ovl WHERE ov > 0)
        |SELECT doc_id, seg_idx, sw, ew, CAST(shot AS BIGINT) AS best_shot, ov AS ov_units,
        |  n_shots_hit
        |FROM el WHERE rn = 1 ORDER BY doc_id, seg_idx""".stripMargin,

    "m09_audio_segments" ->
      """WITH d AS (SELECT doc_id, coalesce(text, '') AS t,
        |    CAST('0x' || substring(md5('sil:' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS h
        |  FROM documents),
        |p AS (SELECT doc_id, t, h, length(t) // 16 AS nw FROM d WHERE length(t) // 16 >= 6),
        |w AS (SELECT doc_id, nw, t, 1 + (h // 8) % 3 AS lw,
        |        h % (nw - (1 + (h // 8) % 3) + 1) AS sw FROM p),
        |wav AS (SELECT doc_id, nw,
        |    substring(t, 1, CAST(sw * 16 AS INT)) || repeat(' ', CAST(lw * 16 AS INT)) ||
        |    substring(t, CAST((sw + lw) * 16 + 1 AS INT), CAST((nw - sw - lw) * 16 AS INT)) AS wave
        |  FROM w),
        |f AS (SELECT doc_id, nw,
        |    list_transform(range(0, nw), i ->
        |      list_aggregate(list_transform(range(1, 17), j ->
        |        greatest(ascii(substring(wave, CAST(i * 16 + j AS INT), 1)) - 32, 0)),
        |        'sum') >= 400) AS flags
        |  FROM wav)
        |SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
        |  CAST(len(list_filter(flags, x -> x)) AS BIGINT) AS n_speech,
        |  CAST(len(list_filter(range(0, nw),
        |    i -> flags[CAST(i + 1 AS INT)] AND (i = 0 OR NOT flags[CAST(i AS INT)]))) AS BIGINT)
        |    AS n_segments,
        |  CAST(coalesce(list_position(flags, true) - 1, nw) AS BIGINT) AS lead_trim,
        |  CAST(coalesce(list_position(list_reverse(flags), true) - 1, nw) AS BIGINT) AS tail_trim
        |FROM f ORDER BY doc_id""".stripMargin,

    // x39: same incidence/cap/rounded ln weights; the per-user election
    // stated with row_number instead of the engine's arg_max
    "x39_adamic_adar" ->
      """WITH up AS (SELECT DISTINCT user_id AS u,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS p
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |dw AS (SELECT p, round(1.0 / ln(CAST(count(*) AS DOUBLE)), 6) AS w
        |       FROM up GROUP BY p HAVING count(*) >= 2),
        |cap AS (SELECT p, u FROM (
        |    SELECT p, u, row_number() OVER (PARTITION BY p ORDER BY
        |      CAST('0x' || substring(md5('smp:' || CAST(u AS VARCHAR)),1,8) AS BIGINT), u) AS rn
        |    FROM up) WHERE rn <= 64),
        |pr AS (SELECT a.u AS ua, b.u AS ub,
        |         CAST(count(*) AS BIGINT) AS n_common, round(sum(dw.w), 6) AS aa_r
        |       FROM cap a JOIN cap b ON a.p = b.p AND a.u < b.u
        |       JOIN dw ON dw.p = a.p
        |       GROUP BY 1, 2),
        |bo AS (SELECT ua AS user_id, ub AS peer_id, n_common, aa_r FROM pr
        |       UNION ALL SELECT ub, ua, n_common, aa_r FROM pr),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY aa_r DESC, peer_id) AS rn FROM bo)
        |SELECT user_id, peer_id, n_common, aa_r FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    // naive ordered-chain triangle enumeration (p1 < p2 < p3) over the
    // same thresholded edge set: each triangle appears once, so per-node
    // participation counts match the engine's degree-oriented form —
    // orientation only changes HOW triangles are found, never which
    "d05_simhash" -> d05Sql,

    "t04_fingerprint" -> t04Sql,

    "d23_exact_substr" -> d23Sql,

    "x25_kcore" -> kcoreSql(k = 8, rounds = 12),

    "x30_ktruss" -> ktrussSql(k = 3, rounds = 6),

    "x23_triangle_count" ->
      """WITH up AS (SELECT DISTINCT user_id AS u,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS p
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |pc AS (SELECT p, count(*) AS c FROM up GROUP BY p),
        |pr AS (SELECT a.p AS p1, b.p AS p2, count(*) AS inter
        |       FROM up a JOIN up b ON a.u = b.u AND a.p < b.p GROUP BY 1, 2),
        |e AS (SELECT p1, p2
        |      FROM pr JOIN pc c1 ON c1.p = pr.p1 JOIN pc c2 ON c2.p = pr.p2
        |      WHERE 50 * inter >= 17 * (c1.c + c2.c - inter)),
        |tri AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
        |        FROM e e1 JOIN e e2 ON e2.p1 = e1.p2
        |        JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
        |SELECT node, count(*) AS tri_cnt FROM (
        |  SELECT a AS node FROM tri UNION ALL
        |  SELECT b FROM tri UNION ALL
        |  SELECT c FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin,

    // per-dim sums via unnest + generate_subscripts mirror the vec_sum
    // aggregate; round(6) absorbs cross-engine accumulation-order ulps
    "x06_label_centroids" ->
      """WITH pd AS (SELECT label, unnest(embedding) AS v,
        |                   generate_subscripts(embedding, 1) AS pos
        |            FROM embeddings),
        |ds AS (SELECT label, pos, sum(CAST(v AS DOUBLE)) AS s FROM pd GROUP BY 1, 2),
        |n AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1)
        |SELECT CAST(ds.label AS BIGINT) AS label, max(n.n_vecs) AS n_vecs,
        |       round(sum(s / n.n_vecs), 6) AS centroid_sum_r,
        |       round(sqrt(sum((s / n.n_vecs) * (s / n.n_vecs))), 6) AS centroid_norm_r
        |FROM ds JOIN n ON ds.label = n.label GROUP BY 1 ORDER BY 1""".stripMargin,

    // the composed training-mix pipeline: quality gate (t02 formulas) ->
    // hash-keyed keep-first dedup -> md5-prefix stratified sample (t06) ->
    // per-language token budget
    "x08_training_mix" ->
      """WITH q AS (SELECT doc_id, lang, text,
        |    len(string_split(text, ' ')) AS n_words0,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','to'))) AS stop0
        |  FROM documents),
        |sc AS (SELECT doc_id, lang, text, CAST(n_words0 AS BIGINT) AS n_words,
        |    round(least(1.0, n_words0 / 200.0) * 0.5 + (CAST(stop0 AS DOUBLE) / n_words0) * 0.5, 4) AS quality_score
        |  FROM q),
        |d AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |      FROM sc WHERE quality_score >= 0.2),
        |sm AS (SELECT * FROM d WHERE rn = 1
        |       AND CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
        |           < CASE WHEN lang = 'en' THEN 30 ELSE 10 END)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_words) AS BIGINT) AS sum_tokens,
        |       CAST(sum(CAST(round(quality_score * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_quality_bp
        |FROM sm GROUP BY lang ORDER BY lang""".stripMargin,

    // x44: the composed corpus-build chain — x08's quality mirror,
    // keep-first dedup as row_number, d08's string-shingle overlap at
    // w=5 against the bucket-99 base-family holdout, then t08's
    // recursive greedy packer over the survivors
    "x44_corpus_build" ->
      """WITH RECURSIVE
        |trn AS (SELECT doc_id, lang, text FROM documents
        |  WHERE CAST('0x' || substring(md5(CAST(doc_id % 10000000 AS VARCHAR)), 1, 8) AS BIGINT) % 100 <> 99),
        |bch AS (SELECT doc_id, text FROM documents
        |  WHERE CAST('0x' || substring(md5(CAST(doc_id % 10000000 AS VARCHAR)), 1, 8) AS BIGINT) % 100 = 99
        |    AND doc_id < 10000000),
        |q AS (SELECT doc_id, lang, text,
        |    len(string_split(text, ' ')) AS n_words0,
        |    len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','to'))) AS stop0
        |  FROM trn),
        |sc AS (SELECT doc_id, lang, text, CAST(n_words0 AS BIGINT) AS n_words,
        |    round(least(1.0, n_words0 / 200.0) * 0.5 + (CAST(stop0 AS DOUBLE) / n_words0) * 0.5, 4) AS quality_score
        |  FROM q),
        |dd AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS drn
        |       FROM sc WHERE quality_score >= 0.2),
        |ded AS (SELECT doc_id, lang, text, n_words FROM dd WHERE drn = 1),
        |ttok AS (SELECT doc_id, string_split(text, ' ') AS w FROM ded),
        |tsh AS (SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
        |      i -> list_aggregate(w[i:i+4], 'string_agg', chr(31)))) AS s
        |    FROM ttok WHERE len(w) >= 5)),
        |btok AS (SELECT doc_id, string_split(text, ' ') AS w FROM bch),
        |bsh AS (SELECT DISTINCT doc_id, s FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
        |      i -> list_aggregate(w[i:i+4], 'string_agg', chr(31)))) AS s
        |    FROM btok WHERE len(w) >= 5)),
        |ov AS (SELECT t.doc_id, b.doc_id AS bid, count(*) AS shared
        |       FROM tsh t JOIN bsh b ON t.s = b.s GROUP BY 1, 2),
        |cont AS (SELECT DISTINCT doc_id FROM ov WHERE shared >= 2),
        |sm AS (SELECT d.doc_id, d.lang, d.n_words FROM ded d
        |  WHERE d.doc_id NOT IN (SELECT doc_id FROM cont)
        |    AND CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
        |        < CASE WHEN d.lang = 'en' THEN 30 ELSE 10 END),
        |d2 AS (SELECT doc_id, lang, n_words,
        |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn FROM sm),
        |p AS (
        |  SELECT doc_id, lang, n_words, rn,
        |         CAST(0 AS BIGINT) AS seq_id, n_words AS seq_tokens
        |  FROM d2 WHERE rn = 1
        |  UNION ALL
        |  SELECT d.doc_id, d.lang, d.n_words, d.rn,
        |         CASE WHEN p.seq_tokens + d.n_words > 256
        |              THEN p.seq_id + 1 ELSE p.seq_id END,
        |         CASE WHEN p.seq_tokens + d.n_words > 256
        |              THEN d.n_words ELSE p.seq_tokens + d.n_words END
        |  FROM p JOIN d2 d ON d.lang = p.lang AND d.rn = p.rn + 1)
        |SELECT doc_id, lang, n_words, seq_id, seq_tokens
        |FROM p ORDER BY doc_id""".stripMargin,

    // IDENTICAL pattern text both engines (interpolated from TextOps.Pii —
    // common Java-regex/RE2 subset, greedy, no alternation); replacement
    // order email -> ip -> phone; audit counts are placeholder counts
    // derived from the redacted string (mirrors the Spark side, where each
    // regex runs exactly once per row)
    "t10_pii_redact" -> {
      val (e, i, p) = (graft.llm.TextOps.Pii.EmailRe,
        graft.llm.TextOps.Pii.Ipv4Re, graft.llm.TextOps.Pii.PhoneRe)
      s"""WITH c AS (SELECT c_custkey,
         |  c_name || ' ' || translate(lower(c_name), '#', '.') || '@example.com ip 10.' ||
         |  CAST(c_custkey % 256 AS VARCHAR) || '.' || CAST(c_nationkey AS VARCHAR) || '.' ||
         |  CAST((c_custkey * 7) % 256 AS VARCHAR) || ' tel 06-' ||
         |  lpad(CAST((c_custkey * 7919) % 10000 AS VARCHAR), 4, '0') || '-' ||
         |  lpad(CAST((c_custkey * 104729) % 10000 AS VARCHAR), 4, '0') AS contact
         |  FROM customer),
         |r AS (SELECT c_custkey,
         |  regexp_replace(regexp_replace(regexp_replace(contact,
         |    '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'), '$p', '<PHONE>', 'g') AS redacted
         |  FROM c)
         |SELECT c_custkey,
         |  CAST((length(redacted) - length(replace(redacted, '<EMAIL>', ''))) // 7 AS BIGINT) AS n_emails,
         |  CAST((length(redacted) - length(replace(redacted, '<IP>', ''))) // 4 AS BIGINT) AS n_ips,
         |  CAST((length(redacted) - length(replace(redacted, '<PHONE>', ''))) // 7 AS BIGINT) AS n_phones,
         |  redacted
         |FROM r ORDER BY c_custkey""".stripMargin
    },

    // corpus-wide keep-first line dedup over aligned 10-word chunks; the
    // oracle elects winners with a window over the line STRING (exact),
    // Spark groups by its md5 (same negligible-collision contract as d02);
    // 1-based inclusive slice w[i*10+1 : i*10+10] == Spark slice(w, i*10+1, 10)
    "t11_line_dedup" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ln AS (SELECT doc_id, unnest(list_transform(range(0, CAST(ceil(len(w) / 10.0) AS INT)),
        |         i -> {'line_no': i, 'line': list_aggregate(w[i*10+1:i*10+10], 'string_agg', ' ')})) AS s
        |       FROM tok),
        |l AS (SELECT doc_id, CAST(s.line_no AS BIGINT) AS line_no, s.line AS line FROM ln),
        |k AS (SELECT doc_id, line_no, line,
        |        row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn FROM l),
        |re AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |         string_agg(line, ' ' ORDER BY line_no) AS dedup_text
        |       FROM k WHERE rn = 1 GROUP BY 1),
        |cn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l GROUP BY 1)
        |SELECT d.doc_id, coalesce(cn.n_lines, 0) AS n_lines,
        |       coalesce(re.n_kept, 0) AS n_kept, coalesce(re.dedup_text, '') AS dedup_text
        |FROM documents d LEFT JOIN cn ON cn.doc_id = d.doc_id
        |LEFT JOIN re ON re.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin,

    // t36: identical census (conditional counts by doc_id parity), same
    // total order on the top-50 cut, same add-1 smoothing over the
    // top-K universe; round(6) after the float math (t12 discipline)
    "t36_token_drift" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |cens AS (SELECT token,
        |           CAST(count(*) FILTER (doc_id % 2 = 0) AS BIGINT) AS c_a,
        |           CAST(count(*) FILTER (doc_id % 2 = 1) AS BIGINT) AS c_b
        |         FROM tok GROUP BY 1),
        |top AS (SELECT * FROM cens ORDER BY (c_a + c_b) DESC, token ASC LIMIT 50),
        |tot AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM top)
        |SELECT token, c_a, c_b,
        |       round(((c_a + 1.0) / (n_a + 50) - (c_b + 1.0) / (n_b + 50))
        |             * ln(((c_a + 1.0) / (n_a + 50)) / ((c_b + 1.0) / (n_b + 50))), 6) AS psi_r
        |FROM top, tot ORDER BY token""".stripMargin,

    // t37: identical deterministic corruption plant (same md5 bucket,
    // same three replace rules — artifact chars spelled chr() so the
    // SQL stays ASCII), then the same three census scans: chr(195) =
    // the mojibake lead 'A-tilde', chr(65533) = U+FFFD, and the C1
    // control class via the same regex; ppm under integer floor-div
    "t37_encoding_census" ->
      """WITH b AS (SELECT doc_id, text,
        |  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bk
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  CASE WHEN bk < 10 THEN replace(text, 'value', 'v' || chr(195) || chr(161) || 'lue')
        |       WHEN bk < 20 THEN replace(text, 'table', 'ta' || chr(65533) || 'ble')
        |       WHEN bk < 25 THEN replace(text, 'query', 'qu' || chr(146) || 'ery')
        |       ELSE text END AS text
        |  FROM b),
        |m AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(text) - length(replace(text, chr(195), '')) AS BIGINT) AS moji,
        |  CAST(length(text) - length(replace(text, chr(65533), '')) AS BIGINT) AS repl,
        |  CAST(length(text) - length(regexp_replace(text, '[\x{80}-\x{9f}]', '', 'g')) AS BIGINT) AS ctrl
        |  FROM c)
        |SELECT doc_id, n_chars, moji, repl, ctrl,
        |  CASE WHEN n_chars > 0 THEN (moji + repl + ctrl) * 1000000 // n_chars ELSE 0 END AS score_ppm,
        |  (CASE WHEN n_chars > 0 THEN (moji + repl + ctrl) * 1000000 // n_chars ELSE 0 END) >= 2000 AS flagged
        |FROM m ORDER BY doc_id""".stripMargin,

    // t38: identical deterministic junk plant (same md5 bucket; repeat()
    // for the 3-symbol repetition, base64-of-md5-chain blocks for the
    // random blob — both engines' md5/base64 are the same RFC outputs),
    // then the census: per-(doc,char) counts -> Shannon entropy in
    // bits/char, round(6) before the verdict thresholds on BOTH engines
    "t38_entropy_census" ->
      """WITH b AS (SELECT doc_id, text,
        |  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bk
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  CASE WHEN bk < 10 THEN repeat('ab ', 150)
        |       WHEN bk < 20 THEN list_aggregate(list_transform(range(16),
        |           i -> to_base64(unhex(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))))),
        |           'string_agg', '')
        |       ELSE text END AS text
        |  FROM b),
        |h AS (SELECT doc_id, cch, CAST(count(*) AS DOUBLE) AS cnt
        |      FROM (SELECT doc_id, unnest(string_split(text, '')) AS cch FROM c)
        |      GROUP BY 1, 2),
        |t AS (SELECT doc_id, sum(cnt) AS n, CAST(count(*) AS BIGINT) AS n_distinct
        |      FROM h GROUP BY 1),
        |e AS (SELECT h.doc_id, round(sum(-(cnt / t.n) * log2(cnt / t.n)), 6) AS entropy,
        |             CAST(max(t.n) AS BIGINT) AS n_chars, max(t.n_distinct) AS n_distinct
        |      FROM h JOIN t USING (doc_id) GROUP BY 1)
        |SELECT doc_id, n_chars, n_distinct, entropy,
        |  CASE WHEN n_chars = 0 THEN 'empty'
        |       WHEN entropy < 2.5 THEN 'junk_repetitive'
        |       WHEN entropy > 5.0 THEN 'junk_random'
        |       ELSE 'clean' END AS verdict
        |FROM e ORDER BY doc_id""".stripMargin,

    // t39: identical deterministic URL/text plant (same md5 bucket, same
    // subdomain/domain/template rotation); the oracle states the
    // registered-domain truth directly per branch (oracle-as-spec for the
    // public-suffix rule the Spark side derives from the hostname), then
    // the same census: count / distinct hosts / distinct text
    // fingerprints, integer ppm shares against the 1-row corpus total
    "t39_domain_reputation" ->
      """WITH b AS (SELECT doc_id, text,
        |  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bk
        |  FROM documents),
        |u AS (SELECT doc_id, bk,
        |  CASE doc_id % 4 WHEN 0 THEN 'www' WHEN 1 THEN 'm' WHEN 2 THEN 'cdn' ELSE 'blog' END
        |    || '.' ||
        |  CASE WHEN bk < 25 THEN 'contentfarm.biz'
        |       WHEN bk < 40 THEN 'news.co.uk'
        |       WHEN bk < 55 THEN 'blog.example.com'
        |       ELSE 'site' || CAST(bk % 8 AS VARCHAR) || '.org' END AS host,
        |  CASE WHEN bk < 25 THEN 'contentfarm.biz'
        |       WHEN bk < 40 THEN 'news.co.uk'
        |       WHEN bk < 55 THEN 'example.com'
        |       ELSE 'site' || CAST(bk % 8 AS VARCHAR) || '.org' END AS registered_domain,
        |  CASE WHEN bk < 25 THEN 'breaking news template ' ||
        |         (CASE doc_id % 3 WHEN 0 THEN 'one' WHEN 1 THEN 'two' ELSE 'three' END)
        |       ELSE text END AS text
        |  FROM b),
        |c AS (SELECT registered_domain,
        |        CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        |        CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_uniq
        |      FROM u GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM documents)
        |SELECT registered_domain, n_docs, n_hosts,
        |  (n_docs - n_uniq) * 1000000 // n_docs AS dup_ppm,
        |  n_docs * 1000000 // total AS share_ppm,
        |  ((n_docs - n_uniq) * 1000000 // n_docs >= 500000
        |    OR n_docs * 1000000 // total >= 200000) AS flagged
        |FROM c, t ORDER BY registered_domain""".stripMargin,

    // d24: identical deterministic decoration plant (4 variants per page
    // group), then the SAME canonicalization rule chain mirrored step by
    // step in DuckDB string functions (lowercase scheme+host, drop
    // fragment, drop :443/:80, drop tracking params, sort surviving
    // params, strip trailing path slashes), then the collapse census
    "d24_url_dedup" ->
      """WITH g AS (SELECT doc_id, doc_id // 4 AS p, doc_id % 4 AS v FROM documents),
        |m AS (SELECT doc_id,
        |  CASE v
        |    WHEN 0 THEN 'https://www.site' || (p % 7) || '.org/articles/item' || p || '?b=2&a=1'
        |    WHEN 1 THEN 'https://www.site' || (p % 7) || '.org/articles/item' || p || '/?a=1&utm_source=feed&b=2'
        |    WHEN 2 THEN 'HTTPS://WWW.SITE' || (p % 7) || '.ORG:443/articles/item' || p || '?a=1&b=2'
        |    ELSE 'https://www.site' || (p % 7) || '.org/articles/item' || p || '?a=1&b=2#section-3'
        |  END AS url FROM g),
        |s1 AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |  regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*$', '') AS nofrag
        |  FROM m),
        |s2 AS (SELECT doc_id, scheme,
        |  regexp_replace(lower(regexp_extract(nofrag, '^([^/?]+)', 1)), ':(443|80)$', '') AS host,
        |  regexp_replace(nofrag, '^[^/?]+', '') AS pathq
        |  FROM s1),
        |s3 AS (SELECT doc_id, scheme, host,
        |  CASE WHEN regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') = ''
        |       THEN '/' ELSE regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/+$', '') END AS path,
        |  array_to_string(list_sort(list_filter(
        |    string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
        |    x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)(=|$)'))), '&') AS qs
        |  FROM s2),
        |c AS (SELECT doc_id,
        |  scheme || '://' || host || path ||
        |    (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS canonical_url
        |  FROM s3)
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_variants,
        |  min(doc_id) AS kept_doc_id
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // a32: same census (space tokenization), same totally-ordered top-100
    // cut, same closed-form OLS of log2(freq) on log2(rank) — the fit
    // sums ride a scalar subframe over exactly 100 rows; round(6) after
    // the float math on both engines
    "a32_zipf_fit" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |cens AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
        |top AS (SELECT token, cnt FROM cens ORDER BY cnt DESC, token LIMIT 100),
        |r AS (SELECT token, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
        |      FROM top),
        |xy AS (SELECT token, cnt, rank, log2(rank) AS x, log2(cnt) AS y FROM r),
        |f AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
        |SELECT rank, token, cnt,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round(y - ((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |             + (n * sxy - sx * sy) / (n * sxx - sx * sx) * x), 6) AS resid_r
        |FROM xy, f ORDER BY rank""".stripMargin,

    // d25: identical page/snapshot/fate plant, then the same per-side
    // collapse (arg_min fingerprint by doc_id) and FULL OUTER classify;
    // planted URLs are already canonical so the oracle states them
    // directly; NULL side-ids coalesced to -1 on both engines
    "d25_crawl_diff" ->
      """WITH g AS (SELECT doc_id, doc_id // 2 AS pg, doc_id % 2 AS snap FROM documents),
        |p AS (SELECT doc_id, pg, snap, pg % 100 AS pb FROM g
        |      WHERE NOT (pg % 100 < 10 AND doc_id % 2 = 1)
        |        AND NOT (pg % 100 >= 10 AND pg % 100 < 20 AND doc_id % 2 = 0)),
        |m AS (SELECT doc_id, snap,
        |  'https://www.site' || CAST(pg % 7 AS VARCHAR) || '.org/p/' || CAST(pg AS VARCHAR) AS canonical_url,
        |  CASE WHEN pb >= 20 AND pb < 35
        |       THEN 'v' || CAST(snap AS VARCHAR) || '-' || CAST(pg AS VARCHAR)
        |       ELSE 'stable-' || CAST(pg AS VARCHAR) END AS text
        |  FROM p),
        |a AS (SELECT canonical_url, arg_min(md5(text), doc_id) AS fp, min(doc_id) AS a_doc_id
        |      FROM m WHERE snap = 0 GROUP BY 1),
        |b AS (SELECT canonical_url, arg_min(md5(text), doc_id) AS fp, min(doc_id) AS b_doc_id
        |      FROM m WHERE snap = 1 GROUP BY 1)
        |SELECT coalesce(a.canonical_url, b.canonical_url) AS canonical_url,
        |  CASE WHEN a.canonical_url IS NULL THEN 'added'
        |       WHEN b.canonical_url IS NULL THEN 'removed'
        |       WHEN a.fp <> b.fp THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  coalesce(a_doc_id, -1) AS a_doc_id,
        |  coalesce(b_doc_id, -1) AS b_doc_id
        |FROM a FULL OUTER JOIN b ON a.canonical_url = b.canonical_url
        |ORDER BY 1""".stripMargin,

    // x36: oracle-as-spec — the planted anchors are a pure function of
    // doc_id, so the oracle states the edge truth directly (dst rotation
    // over j in 0..doc_id%3) instead of re-running the href extraction
    "x36_link_graph" ->
      """WITH l AS (SELECT doc_id,
        |  unnest(list_transform(range(doc_id % 3 + 1), j -> (doc_id + j + 1) % 5)) AS d
        |  FROM documents),
        |e AS (SELECT 'site' || CAST(doc_id % 5 AS VARCHAR) || '.org' AS src_domain,
        |             'site' || CAST(d AS VARCHAR) || '.org' AS dst_domain
        |      FROM l)
        |SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n_links
        |FROM e WHERE src_domain <> dst_domain
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // t40: identical deterministic URL plant; the oracle states the
    // segment-boundary prefix-match truth with a correlated EXISTS
    // (path = prefix OR starts_with(path, prefix || '/')) — the spec the
    // engine's prefix-explode equi-join must reproduce
    "t40_path_blocklist" ->
      """WITH b AS (SELECT doc_id,
        |  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bk
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  'site' || CAST(doc_id % 5 AS VARCHAR) || '.org' AS domain,
        |  CASE WHEN bk < 20 THEN '/private/doc' || CAST(doc_id AS VARCHAR)
        |       WHEN bk < 30 THEN '/tmp/cache/' || CAST(doc_id AS VARCHAR)
        |       ELSE '/articles/item' || CAST(doc_id AS VARCHAR) END AS path
        |  FROM b),
        |r AS (SELECT * FROM (VALUES
        |  ('site0.org', '/private'), ('site1.org', '/private'),
        |  ('site2.org', '/private'), ('site3.org', '/tmp')) AS t(domain, prefix))
        |SELECT m.doc_id, 'https://www.' || m.domain || m.path AS url,
        |  EXISTS (SELECT 1 FROM r WHERE r.domain = m.domain
        |          AND (m.path = r.prefix OR starts_with(m.path, r.prefix || '/'))) AS blocked
        |FROM m ORDER BY doc_id""".stripMargin,

    // t41: same deterministic admission — token count = split-on-space
    // length (the word_count kernel's contract), order = md5(doc_id)
    // with doc_id tiebreak, inclusive running sum, keep while <= budget
    "t41_token_budget" ->
      """WITH d AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  md5(CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id) AS cum_tokens
        |  FROM d)
        |SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin,

    // t42: identical deterministic residue plant (same md5 bucket, same
    // three replace rules), then the same three regexp-class counts —
    // disjoint alternations, so Java and RE2 count identically
    "t42_markup_residue" ->
      """WITH b AS (SELECT doc_id, text,
        |  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bk
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  CASE WHEN bk < 10 THEN replace(text, 'value', '<div class="x">value</div>')
        |       WHEN bk < 20 THEN replace(text, 'table', 'ta&nbsp;ble&#160;')
        |       WHEN bk < 25 THEN replace(text, 'query', 'function(query){color:red;} var q')
        |       ELSE text END AS text
        |  FROM b),
        |m AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(regexp_extract_all(text, '</?[A-Za-z][A-Za-z0-9]*[^<>]*>')) AS BIGINT) AS tags,
        |  CAST(len(regexp_extract_all(text, '&(#[0-9]+|[A-Za-z]+);')) AS BIGINT) AS entities,
        |  CAST(len(regexp_extract_all(text, 'function\s*\(|\bvar\s+[A-Za-z_]|\{[^{}]*:[^{}]*;[^{}]*\}')) AS BIGINT) AS script
        |  FROM c)
        |SELECT doc_id, n_chars, tags, entities, script,
        |  CASE WHEN n_chars > 0 THEN (tags + entities + script) * 1000000 // n_chars ELSE 0 END AS residue_ppm,
        |  (CASE WHEN n_chars > 0 THEN (tags + entities + script) * 1000000 // n_chars ELSE 0 END) >= 5000 AS flagged
        |FROM m ORDER BY doc_id""".stripMargin,

    // st21: same fetch-log derivation (url from user_id, fingerprint =
    // md5(event_type)), same declarative contract — lag over the URL
    // partition in (epoch-micros, event_id) order; microsecond ordering
    // is exact on both engines (the st02 discipline)
    "st21_crawl_changes" ->
      """WITH f AS (SELECT event_id,
        |  'https://www.site' || CAST(user_id % 7 AS VARCHAR) || '.org/u/' || CAST(user_id AS VARCHAR) AS url,
        |  md5(event_type) AS fp, epoch_us(ts) AS tsu
        |  FROM events),
        |l AS (SELECT event_id, url, fp,
        |  lag(fp) OVER (PARTITION BY url ORDER BY tsu, event_id) AS prev
        |  FROM f)
        |SELECT event_id, url,
        |  CASE WHEN prev IS NULL THEN 'new'
        |       WHEN prev <> fp THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM l ORDER BY event_id""".stripMargin,

    // a33: same hour bucketing (epoch-micros div 3600000000 mod 24),
    // same closed-form chi-square 24*sum(c^2)/n - n (zero cells drop out
    // of sum(c^2) algebraically — no grid completion on either engine),
    // same (count DESC, hour ASC) peak tie order
    "a33_hour_chi2" ->
      """WITH c AS (SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hr,
        |  CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, hr, cnt,
        |  row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, hr) AS rk
        |  FROM c),
        |s AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(sum(cnt * cnt) AS BIGINT) AS ss FROM c GROUP BY 1)
        |SELECT s.event_type, s.n,
        |  round(24.0 * s.ss / s.n - s.n, 6) AS chi2_r,
        |  CAST(r.hr AS BIGINT) AS peak_hour, r.cnt AS peak_cnt
        |FROM s JOIN r ON s.event_type = r.event_type AND r.rk = 1
        |ORDER BY 1""".stripMargin,

    // s22: both snapshot aggregates recomputed straight from documents
    // (independently proving the versioned storage round-trips them),
    // then the same keyed classification; unchanged rows not emitted,
    // absent sides totalized to -1
    "s22_change_feed" ->
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
        |ORDER BY lang""".stripMargin,

    // a39: same per-user fold, doubled average ranks, corr() of ranks
    // a40: hourly counts per day, bounded pairwise slopes (<= 276/day),
    // value at lower-median rank over (slope, hi, hj)
    "a40_theil_sen" ->
      """WITH hc AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    (epoch_us(ts) // 3600000000) % 24 AS h, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.day, a.h AS hi, b.h AS hj,
        |    CAST(b.c - a.c AS DOUBLE) / (b.h - a.h) AS slope
        |  FROM hc a JOIN hc b ON a.day = b.day AND a.h < b.h),
        |r AS (SELECT *, row_number() OVER (
        |      PARTITION BY day ORDER BY slope, hi, hj) AS rk,
        |    count(*) OVER (PARTITION BY day) AS np FROM p),
        |nh AS (SELECT day, CAST(count(*) AS BIGINT) AS n_hours
        |       FROM hc GROUP BY 1)
        |SELECT r.day, nh.n_hours, CAST(r.np AS BIGINT) AS n_pairs,
        |  round(r.slope, 6) AS slope
        |FROM r JOIN nh USING (day)
        |WHERE rk = (np + 1) // 2
        |ORDER BY r.day""".stripMargin,

    // a45: hourly counts, forecast = the lag-24 count via a shifted
    // equi-join, integer error folds, two ppm divisions
    // a46: same md5 raters, 3x3 confusion marginals/diagonal, po/pe/kappa
    // as exact ppm integer divisions (HUGEINT for the marginal product —
    // all operands positive by fixture construction, so DuckDB's floor
    // division and Spark's truncate-toward-zero div agree)
    // a48: same md5 raters/coverage/shift plants, per-(item, class) counts,
    // doubled per-item disagreement keeps 1/(m_u - 1) integral (m_u in
    // {2, 3}), one truncating ppm division with HUGEINT intermediates
    "a48_krippendorff" ->
      """WITH base AS (SELECT c_custkey AS key,
        |    CAST('0x' || substring(md5('kb:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 3 AS base
        |  FROM customer),
        |rt AS (SELECT b.key, b.base, r.rater,
        |    CAST('0x' || substring(md5('kc' || r.rater || ':' || CAST(b.key AS VARCHAR)),1,8) AS BIGINT) % 3 AS cover,
        |    CAST('0x' || substring(md5('kv' || r.rater || ':' || CAST(b.key AS VARCHAR)),1,8) AS BIGINT) % 4 AS roll,
        |    CAST('0x' || substring(md5('ks' || r.rater || ':' || CAST(b.key AS VARCHAR)),1,8) AS BIGINT) % 2 AS shift
        |  FROM base b CROSS JOIN (SELECT unnest(range(0, 3)) AS rater) r),
        |ratings AS (SELECT key,
        |    CASE WHEN roll < 3 THEN base ELSE (base + 1 + shift) % 3 END AS val
        |  FROM rt WHERE cover <> 0),
        |pic AS (SELECT key, val, CAST(count(*) AS BIGINT) AS r_uc
        |  FROM ratings GROUP BY 1, 2),
        |pi AS (SELECT key, CAST(sum(r_uc) AS BIGINT) AS m_u,
        |    CAST(sum(r_uc * (r_uc - 1)) AS BIGINT) AS agree_pairs
        |  FROM pic GROUP BY 1 HAVING sum(r_uc) >= 2),
        |pi2 AS (SELECT key, m_u,
        |    (2 * (m_u * (m_u - 1) - agree_pairs)) // (m_u - 1) AS o2_u FROM pi),
        |marg AS (SELECT pic.val AS class, CAST(sum(pic.r_uc) AS BIGINT) AS n_c
        |  FROM pic JOIN pi2 USING (key) GROUP BY 1),
        |sm AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM pi2) AS n_items,
        |    (SELECT CAST(sum(o2_u) AS BIGINT) FROM pi2) AS o2,
        |    CAST(sum(n_c) AS BIGINT) AS n,
        |    sum(CAST(n_c AS HUGEINT) * n_c) AS sq
        |  FROM marg),
        |sm2 AS (SELECT n_items, o2, n,
        |    CAST(1000000 - (CAST(1000000 AS HUGEINT) * o2 * (n - 1))
        |      // (2 * (CAST(n AS HUGEINT) * n - sq)) AS BIGINT) AS alpha_ppm
        |  FROM sm)
        |SELECT marg.class, marg.n_c, sm2.n_items, sm2.o2, sm2.n, sm2.alpha_ppm
        |FROM marg CROSS JOIN sm2 ORDER BY marg.class""".stripMargin,

    // a47: same md5 gold/pred plant, contingency cells + marginals,
    // per-cell ppm contributions truncate once on positive operands
    // (HUGEINT: n_pg^2 is corpus^2-sized), purity rows via arg-min
    "a47_bcubed" ->
      """WITH r AS (SELECT
        |    CAST('0x' || substring(md5('bg:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 7 AS gold,
        |    CAST('0x' || substring(md5('bc:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 10 AS copy_roll,
        |    CAST('0x' || substring(md5('bn:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 5 AS noise
        |  FROM customer),
        |p AS (SELECT gold,
        |    CASE WHEN copy_roll < 7 THEN gold ELSE noise + 7 END AS pred
        |  FROM r),
        |cells AS (SELECT pred, gold, CAST(count(*) AS BIGINT) AS n_pg
        |  FROM p GROUP BY 1, 2),
        |np AS (SELECT pred, CAST(sum(n_pg) AS BIGINT) AS n_p FROM cells GROUP BY 1),
        |ng AS (SELECT gold, CAST(sum(n_pg) AS BIGINT) AS n_g FROM cells GROUP BY 1),
        |sized AS (SELECT c.pred, c.gold, c.n_pg, np.n_p, ng.n_g
        |  FROM cells c JOIN np USING (pred) JOIN ng USING (gold)),
        |sm AS (SELECT n,
        |    CAST(ps // n AS BIGINT) AS prec_ppm,
        |    CAST(rs // n AS BIGINT) AS rec_ppm
        |  FROM (SELECT CAST(sum(n_pg) AS BIGINT) AS n,
        |          sum((CAST(1000000 AS HUGEINT) * n_pg * n_pg) // n_p) AS ps,
        |          sum((CAST(1000000 AS HUGEINT) * n_pg * n_pg) // n_g) AS rs
        |        FROM sized)),
        |sm2 AS (SELECT n, prec_ppm, rec_ppm,
        |    (2 * prec_ppm * rec_ppm) // (prec_ppm + rec_ppm) AS f1_ppm
        |  FROM sm),
        |pg AS (SELECT gold AS gold_class, any_value(n_g) AS n_g,
        |    max(n_pg) AS n_best,
        |    min(struct_pack(nc := -n_pg, v := pred)).v AS best_pred
        |  FROM sized GROUP BY 1),
        |pg2 AS (SELECT gold_class, n_g, best_pred, n_best,
        |    (1000000 * n_best) // n_g AS purity_ppm
        |  FROM pg)
        |SELECT pg2.gold_class, pg2.n_g, pg2.best_pred, pg2.n_best,
        |  pg2.purity_ppm, sm2.n, sm2.prec_ppm, sm2.rec_ppm, sm2.f1_ppm
        |FROM pg2 CROSS JOIN sm2 ORDER BY pg2.gold_class""".stripMargin,

    "a46_cohens_kappa" ->
      """WITH r AS (SELECT c_custkey AS key,
        |    CAST('0x' || substring(md5('ra:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 3 AS a,
        |    CAST('0x' || substring(md5('rb:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 5 AS agree_roll,
        |    CAST('0x' || substring(md5('rc:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 2 AS shift
        |  FROM customer),
        |rb AS (SELECT key, a,
        |    CASE WHEN agree_roll < 3 THEN a ELSE (a + 1 + shift) % 3 END AS b
        |  FROM r),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree FROM rb),
        |ma AS (SELECT a AS class, CAST(count(*) AS BIGINT) AS n_a FROM rb GROUP BY 1),
        |mb AS (SELECT b AS class, CAST(count(*) AS BIGINT) AS n_b FROM rb GROUP BY 1),
        |dg AS (SELECT a AS class, CAST(count(*) AS BIGINT) AS n_both FROM rb WHERE a = b GROUP BY 1),
        |pc AS (SELECT coalesce(ma.class, mb.class, dg.class) AS class,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
        |    coalesce(n_both, 0) AS n_both
        |  FROM ma FULL JOIN mb ON ma.class = mb.class
        |  FULL JOIN dg ON coalesce(ma.class, mb.class) = dg.class),
        |sm AS (SELECT n, n_agree,
        |    (1000000 * n_agree) // n AS po_ppm,
        |    CAST((CAST(1000000 AS HUGEINT) * marg)
        |      // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm
        |  FROM (SELECT any_value(n) AS n, any_value(n_agree) AS n_agree,
        |          CAST(sum(CAST(n_a AS HUGEINT) * n_b) AS HUGEINT) AS marg
        |        FROM pc CROSS JOIN tot)),
        |sm2 AS (SELECT n, n_agree, po_ppm, pe_ppm,
        |    (1000000 * (po_ppm - pe_ppm)) // (1000000 - pe_ppm) AS kappa_ppm
        |  FROM sm)
        |SELECT pc.class, pc.n_a, pc.n_b, pc.n_both,
        |  sm2.n, sm2.n_agree, sm2.po_ppm, sm2.pe_ppm, sm2.kappa_ppm
        |FROM pc CROSS JOIN sm2 ORDER BY pc.class""".stripMargin,

    "a45_seasonal_backtest" ->
      """WITH hc AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT a.event_type, a.c, f.c AS f, abs(a.c - f.c) AS abs_err
        |      FROM hc a JOIN hc f
        |        ON a.event_type = f.event_type AND a.hr = f.hr + 24)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(sum(c) AS BIGINT) AS total_actual,
        |  CAST(sum(abs_err) AS BIGINT) AS total_abs_err,
        |  (1000000 * CAST(sum(abs_err) AS BIGINT)) // CAST(count(*) AS BIGINT)
        |    AS mae_uhr,
        |  (1000000 * CAST(sum(abs_err) AS BIGINT)) // CAST(sum(c) AS BIGINT)
        |    AS wape_ppm
        |FROM s GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // a44: same plants, equal-width ppm bins, integer ppm divisions,
    // n-weighted gap sum divided once
    "a44_calibration" ->
      """WITH c AS (SELECT c_custkey,
        |    CAST('0x' || substring(md5('chrn:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 5 = 0 AS label,
        |    CAST('0x' || substring(md5('pred:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 500000 AS h
        |  FROM customer),
        |p AS (SELECT *, h + CASE WHEN label THEN 400000 ELSE 50000 END AS pred_ppm
        |      FROM c),
        |b AS (SELECT pred_ppm // 100000 AS bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(pred_ppm) AS BIGINT) AS sum_pred
        |  FROM p GROUP BY 1),
        |g AS (SELECT bin, n, n_pos, sum_pred // n AS mean_pred_ppm,
        |    (1000000 * n_pos) // n AS obs_ppm,
        |    abs((1000000 * n_pos) // n - sum_pred // n) AS gap_ppm FROM b),
        |e AS (SELECT CAST(sum(n * gap_ppm) // sum(n) AS BIGINT) AS ece_ppm FROM g)
        |SELECT g.bin, g.n, g.n_pos, g.mean_pred_ppm, g.obs_ppm, g.gap_ppm,
        |  e.ece_ppm
        |FROM g CROSS JOIN e ORDER BY g.bin""".stripMargin,

    // a43: same plant, ntile over (score DESC, key), exact cumulative
    // folds, ppm divisions of exact integers
    "a43_gains_table" ->
      """WITH c AS (SELECT c_custkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
        |    CAST('0x' || substring(md5('chrn:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 5 = 0 AS label
        |  FROM customer),
        |s AS (SELECT *, cents + CASE WHEN label THEN 2000 ELSE 0 END AS score
        |      FROM c),
        |d AS (SELECT CAST(ntile(10) OVER (ORDER BY score DESC, c_custkey) AS BIGINT)
        |        AS decile, label FROM s),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |      FROM d GROUP BY 1),
        |r AS (SELECT *, CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
        |        CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
        |        CAST(sum(n) OVER () AS BIGINT) AS tot_n,
        |        CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
        |      FROM g)
        |SELECT decile, n, n_pos, (1000000 * n_pos) // n AS rate_ppm, cum_pos,
        |  CAST((CAST(1000000 AS HUGEINT) * cum_pos * tot_n)
        |    // (CAST(cum_n AS HUGEINT) * tot_pos) AS BIGINT) AS cum_lift_ppm
        |FROM r ORDER BY decile""".stripMargin,

    // a42: one lag per user stream, exact transition fold, one ppm
    // division against the from-type row total
    "a42_markov_transitions" ->
      """WITH e AS (SELECT event_type, coalesce(
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id), '(start)') AS prev
        |  FROM events),
        |t AS (SELECT prev AS from_type, event_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |r AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n
        |      FROM t GROUP BY 1)
        |SELECT t.from_type, t.to_type, t.n, r.row_n,
        |  (1000000 * t.n) // r.row_n AS p_ppm
        |FROM t JOIN r USING (from_type)
        |ORDER BY t.from_type, t.to_type""".stripMargin,

    // a41: doubled average ranks (2*min_rank + tie_count - 1), integer
    // 2U and one ppm division at the end — the a39 tie discipline
    "a41_mann_whitney" ->
      """WITH e AS (SELECT event_type, user_id % 2 = 0 AS is_a,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *, CAST(rank() OVER (
        |      PARTITION BY event_type ORDER BY cents) AS BIGINT) AS mr,
        |    CAST(count(*) OVER (PARTITION BY event_type, cents) AS BIGINT) AS tc
        |  FROM e),
        |f AS (SELECT event_type,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN is_a THEN 2 * mr + tc - 1 ELSE 0 END) AS BIGINT)
        |      AS r2_a
        |  FROM r GROUP BY 1)
        |SELECT event_type, n_a, n_b,
        |  r2_a - n_a * (n_a + 1) AS u2_a,
        |  (1000000 * (r2_a - n_a * (n_a + 1))) // (2 * n_a * n_b) AS auc_ppm
        |FROM f ORDER BY event_type""".stripMargin,

    "a39_spearman" ->
      """WITH pu AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_ev,
        |    round(sum(value), 2) AS sum_v
        |  FROM events GROUP BY 1, 2),
        |pu2 AS (SELECT *, sum_v / n_ev AS avg_v FROM pu),
        |r AS (SELECT event_type,
        |    CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY n_ev)
        |      + count(*) OVER (PARTITION BY event_type, n_ev) - 1 AS DOUBLE) AS r_n,
        |    CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY sum_v)
        |      + count(*) OVER (PARTITION BY event_type, sum_v) - 1 AS DOUBLE) AS r_s,
        |    CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY avg_v)
        |      + count(*) OVER (PARTITION BY event_type, avg_v) - 1 AS DOUBLE) AS r_a
        |  FROM pu2)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |  round(corr(r_n, r_s), 6) AS rho_sum_r,
        |  round(corr(r_n, r_a), 6) AS rho_avg_r
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,

    // a38: same per-source census, rank window on the aggregate, exact
    // cross-multiplied Gini and top-k shares
    "a38_gini_sources" ->
      """WITH bs AS (SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |    CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY 1),
        |m AS (SELECT source, 'docs' AS measure, docs AS x FROM bs
        |      UNION ALL SELECT source, 'tokens', toks FROM bs),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY measure ORDER BY x, source) AS BIGINT) AS i,
        |        CAST(count(*) OVER (PARTITION BY measure) AS BIGINT) AS nw
        |      FROM m),
        |g AS (SELECT measure, CAST(count(*) AS BIGINT) AS n_sources,
        |        CAST(sum(x) AS BIGINT) AS total,
        |        CAST(sum(i * x) AS BIGINT) AS iwx,
        |        CAST(sum(CASE WHEN i > nw - 1 THEN x ELSE 0 END) AS BIGINT) AS t1,
        |        CAST(sum(CASE WHEN i > nw - 5 THEN x ELSE 0 END) AS BIGINT) AS t5
        |      FROM r GROUP BY 1)
        |SELECT measure, n_sources, total,
        |  CAST((1000000 * (2 * iwx - (n_sources + 1) * total)) // (n_sources * total) AS BIGINT)
        |    AS gini_ppm,
        |  CAST((t1 * 1000000) // total AS BIGINT) AS top1_ppm,
        |  CAST((t5 * 1000000) // total AS BIGINT) AS top5_ppm
        |FROM g ORDER BY measure""".stripMargin,

    // a37: same plant cut, zero-filled spine, integer CUSUM argmax
    // (earliest-split tiebreak) and cross-multiplied ppm verdict
    "a37_cusum" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tu, user_id FROM events
        |  WHERE NOT (event_type = 'click' AND epoch_us(ts) >= 1705363200000000
        |             AND user_id % 3 = 0)),
        |hc AS (SELECT event_type, tu // 3600000000 AS h, CAST(count(*) AS BIGINT) AS x
        |       FROM e GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hc GROUP BY 1),
        |sp AS (SELECT event_type, h0, unnest(range(h0, h1 + 1)) AS h FROM b),
        |se AS (SELECT sp.event_type, sp.h0, sp.h, coalesce(hc.x, 0) AS x
        |       FROM sp LEFT JOIN hc ON sp.event_type = hc.event_type AND sp.h = hc.h),
        |st AS (SELECT event_type, sum(x) AS s_total, count(*) AS n FROM se GROUP BY 1),
        |cu AS (SELECT se.event_type, st.s_total, st.n, se.h0,
        |         se.h - se.h0 + 1 AS t,
        |         sum(x) OVER (PARTITION BY se.event_type ORDER BY se.h
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |       FROM se JOIN st USING (event_type)),
        |cc AS (SELECT *, abs(n * p - t * s_total) AS c FROM cu WHERE t < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY c DESC, t) AS rn FROM cc)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s_total AS BIGINT) AS s_total,
        |  CAST(t AS BIGINT) AS cp_t, CAST(h0 + t AS BIGINT) AS cp_hour,
        |  CAST(c AS BIGINT) AS cusum,
        |  CAST((1000000 * n * abs(p * (n - t) - (s_total - p) * t))
        |    // (s_total * t * (n - t)) AS BIGINT) AS reldiff_ppm,
        |  CASE WHEN (1000000 * n * abs(p * (n - t) - (s_total - p) * t))
        |    // (s_total * t * (n - t)) >= 100000 THEN 'shift' ELSE 'stable' END AS verdict
        |FROM r WHERE rn = 1
        |ORDER BY event_type""".stripMargin,

    // a36: same integer-cents first digit, same ppm integer arithmetic,
    // Benford constants as a VALUES table
    "a36_benford" ->
      """WITH d AS (SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
        |b(digit, benford_ppm) AS (VALUES (1, 301030), (2, 176091), (3, 124939),
        |  (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
        |SELECT c.digit, c.cnt,
        |  CAST((c.cnt * 1000000) // t.n AS BIGINT) AS share_ppm,
        |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
        |  CAST((c.cnt * 1000000) // t.n - b.benford_ppm AS BIGINT) AS excess_ppm,
        |  CASE WHEN (c.cnt * 1000000) // t.n - b.benford_ppm > 35000 THEN 'over'
        |       WHEN (c.cnt * 1000000) // t.n - b.benford_ppm < -35000 THEN 'under'
        |       ELSE 'near' END AS verdict
        |FROM c JOIN b ON b.digit = c.digit CROSS JOIN t
        |ORDER BY c.digit""".stripMargin,

    // a35: identical sensitive derivation (planted homogeneous nations),
    // (class, sens) census, class-sized fold, same verdict rule
    "a35_ldiversity" ->
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    CASE WHEN c_nationkey % 5 = 4
        |         THEN c_mktsegment || '-' || CAST(c_custkey % 40 AS VARCHAR)
        |         ELSE c_mktsegment END AS segment,
        |    CASE WHEN c_nationkey % 5 = 2 THEN 'fixed'
        |         ELSE 'band' || CAST(CAST(floor(c_acctbal / 2000) AS BIGINT) AS VARCHAR)
        |    END AS sens
        |  FROM customer),
        |cells AS (SELECT nation, segment, sens, CAST(count(*) AS BIGINT) AS cnt
        |          FROM c GROUP BY 1, 2, 3)
        |SELECT nation, segment, CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS l_distinct,
        |  CAST(max(cnt) AS BIGINT) AS top_cnt,
        |  CAST((max(cnt) * 1000000) // sum(cnt) AS BIGINT) AS top_share_ppm,
        |  CASE WHEN sum(cnt) < 10 THEN 'k_fail'
        |       WHEN count(*) < 3 THEN 'l_fail' ELSE 'ok' END AS verdict
        |FROM cells GROUP BY nation, segment
        |ORDER BY nation, segment""".stripMargin,

    // st23: direct bottom-8 per lang over the FULL corpus — the engine
    // path is incremental maintenance WITH a replayed batch, so the
    // hash-compare is the maintenance==rebuild-under-redelivery proof
    "st23_sample_maintain" ->
      """WITH p AS (SELECT lang, doc_id,
        |    CAST('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS pri
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rnk
        |      FROM p)
        |SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, pri
        |FROM r WHERE rnk <= 8
        |ORDER BY lang, rnk""".stripMargin,

    // t43: the DIRECT bottom-k over the full corpus — the engine runs
    // the two-step incremental merge, so the hash-compare IS the
    // append==rebuild proof
    "t43_sample_merge" ->
      """WITH p AS (SELECT source, doc_id,
        |    CAST('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS pri
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rnk
        |      FROM p)
        |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, pri
        |FROM r WHERE rnk <= 16
        |ORDER BY source, rnk""".stripMargin,

    // st22: same planted arrival delays; lateness stated with ONE flat
    // global running max over arrival order — the engine's two-phase
    // bucketed prefix scan must be invisible
    "st22_watermark_audit" ->
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS t,
        |    CAST('0x' || substring(md5('arr:' || CAST(event_id AS VARCHAR)),1,8) AS BIGINT) % 10 AS d
        |  FROM events),
        |a AS (SELECT event_id, event_type, t,
        |    t + CASE d WHEN 0 THEN 1800000000 WHEN 1 THEN 7200000000
        |               WHEN 2 THEN 21600000000 ELSE 0 END AS arr
        |  FROM e),
        |r AS (SELECT event_type, t,
        |    max(t) OVER (ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM a),
        |l AS (SELECT event_type, greatest(coalesce(pm - t, 0), 0) AS late_us FROM r),
        |x AS (SELECT event_type, late_us,
        |    CAST(unnest([900, 3600, 14400]) AS BIGINT) AS delay_s FROM l)
        |SELECT event_type, delay_s,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST((sum(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END) * 1000000)
        |    // count(*) AS BIGINT) AS drop_ppm,
        |  CAST(max(late_us) AS BIGINT) AS max_late_us
        |FROM x GROUP BY 1, 2 ORDER BY event_type, delay_s""".stripMargin,

    // a34: same zero-filled spine and n-scaled integer centering; lags
    // as a 12-row cross join + equi-join on (type, h - k) — semantics
    // stated independently of the engine's window-lag implementation
    "a34_acf_hourly" ->
      """WITH hc AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hc GROUP BY 1),
        |sp AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS h FROM b),
        |se AS (SELECT sp.event_type, sp.h, coalesce(hc.x, 0) AS x
        |       FROM sp LEFT JOIN hc ON sp.event_type = hc.event_type AND sp.h = hc.h),
        |st AS (SELECT event_type, sum(x) AS s, count(*) AS n FROM se GROUP BY 1),
        |c AS (SELECT se.event_type, h, n * x - s AS cx FROM se JOIN st USING (event_type)),
        |den AS (SELECT event_type, sum(cx * cx) AS den FROM c GROUP BY 1),
        |num AS (SELECT a.event_type, k.lag_k, sum(a.cx * p.cx) AS num
        |        FROM c a JOIN (SELECT unnest(range(1, 13)) AS lag_k) k ON true
        |        JOIN c p ON p.event_type = a.event_type AND p.h = a.h - k.lag_k
        |        GROUP BY 1, 2)
        |SELECT n.event_type, CAST(n.lag_k AS BIGINT) AS lag_k,
        |  CAST(n.num AS BIGINT) AS num, CAST(d.den AS BIGINT) AS den,
        |  round(CAST(n.num AS DOUBLE) / d.den, 6) AS acf_r
        |FROM num n JOIN den d USING (event_type)
        |ORDER BY n.event_type, n.lag_k""".stripMargin,

    // x41: same planted durations as x38; per-interval hour range via
    // range(), clipped overlap in exact micros, per-hour fold
    "x41_interval_apportion" ->
      """WITH iv AS (SELECT event_id, epoch_us(ts) AS s0,
        |    epoch_us(ts) + (event_id % 8 + 1) * 10800000000 AS e0 FROM events),
        |x AS (SELECT s0, e0,
        |    unnest(range(s0 // 3600000000, (e0 - 1) // 3600000000 + 1)) AS h
        |  FROM iv)
        |SELECT CAST(h AS BIGINT) AS hour,
        |  CAST(sum(least(e0, (h + 1) * 3600000000) - greatest(s0, h * 3600000000)) AS BIGINT)
        |    AS busy_us,
        |  CAST(count(*) AS BIGINT) AS n_iv
        |FROM x GROUP BY h
        |ORDER BY hour""".stripMargin,

    // x43: the oracle states the ANALYTIC truth of the planted
    // structure (groups isolated; per group blocks 1-3 weld into the
    // SCC, block 4 only descends into it, block 0 is only reached;
    // giant = min-id tie-break -> group 0); the Spark side must
    // reproduce it structurally via SCC + two BFS sweeps
    "x43_bowtie" ->
      """WITH n AS (SELECT doc_id AS id, (doc_id // 10) % 5 AS r,
        |    doc_id // 50 AS g FROM documents),
        |c AS (SELECT id,
        |    CASE WHEN g = 0 AND r IN (1, 2, 3) THEN 'core'
        |         WHEN g = 0 AND r = 4 THEN 'in'
        |         WHEN g = 0 AND r = 0 THEN 'out'
        |         ELSE 'other' END AS cls FROM n)
        |SELECT cls, CAST(count(*) AS BIGINT) AS n_nodes,
        |  min(id) AS min_node, max(id) AS max_node
        |FROM c GROUP BY cls ORDER BY cls""".stripMargin,

    // x42: the x37 planted edges made undirected, block partition
    // (id // 10), exact-integer folds, one rounded contribution
    "x42_modularity" ->
      """WITH n AS (SELECT doc_id AS id, doc_id // 10 AS b FROM documents),
        |ring AS (SELECT id AS src, (id // 10) * 10 + (id % 10 + 1) % 10 AS dst
        |         FROM n WHERE b % 5 <> 4),
        |chain AS (SELECT id AS src, id - 1 AS dst FROM n
        |          WHERE b % 5 = 4 AND id % 10 <> 0),
        |cross_e AS (SELECT id AS src, id - 10 AS dst FROM n
        |            WHERE b % 5 <> 0 AND id % 10 = 0),
        |d0 AS (SELECT * FROM ring UNION ALL SELECT * FROM chain
        |       UNION ALL SELECT * FROM cross_e),
        |und AS (SELECT DISTINCT src, dst FROM
        |        (SELECT src, dst FROM d0 UNION ALL SELECT dst, src FROM d0)),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM und),
        |deg AS (SELECT src AS id, count(*) AS d FROM und GROUP BY 1),
        |dc AS (SELECT id // 10 AS community, CAST(sum(d) AS BIGINT) AS deg_sum,
        |         CAST(count(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1),
        |ic AS (SELECT src // 10 AS community, CAST(count(*) AS BIGINT) AS intra2
        |       FROM und WHERE src // 10 = dst // 10 GROUP BY 1)
        |SELECT dc.community, dc.n_nodes,
        |  CAST(coalesce(ic.intra2, 0) AS BIGINT) AS intra2, dc.deg_sum, m.m2,
        |  round(CAST(coalesce(ic.intra2, 0) AS DOUBLE) / m.m2
        |    - (CAST(dc.deg_sum AS DOUBLE) / m.m2) * (CAST(dc.deg_sum AS DOUBLE) / m.m2),
        |    6) AS q_contrib
        |FROM dc LEFT JOIN ic USING (community) CROSS JOIN m
        |ORDER BY dc.community""".stripMargin,

    // x38: same deterministic durations, running-max-end boundary test,
    // running island counter, per-island fold
    "x38_interval_islands" ->
      """WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS s0,
        |    epoch_us(ts) + (event_id % 8 + 1) * 10800000000 AS e0 FROM events),
        |f AS (SELECT *, max(e0) OVER (PARTITION BY user_id ORDER BY s0, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv),
        |g AS (SELECT *, CASE WHEN pm IS NULL OR s0 > pm THEN 1 ELSE 0 END AS nw FROM f),
        |h AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY s0, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM g)
        |SELECT user_id, CAST(island AS BIGINT) AS island_idx,
        |  CAST(min(s0) AS BIGINT) AS island_start,
        |  CAST(max(e0) AS BIGINT) AS island_end,
        |  CAST(max(e0) - min(s0) AS BIGINT) AS span_us,
        |  CAST(count(*) AS BIGINT) AS n_iv
        |FROM h GROUP BY user_id, island
        |ORDER BY user_id, island_idx""".stripMargin,

    // s23: the MERGE mirrored DECLARATIVELY — kept / updated / inserted
    // unions under the same md5 directive buckets (0 delete, 1 update,
    // 2 insert; bucket-3 ghost deletes touch nothing by construction)
    "s23_merge_apply" ->
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
        |ORDER BY o_orderkey""".stripMargin,

    // x37: identical planted edge rule, then SCC from first principles —
    // RECURSIVE reachability closure (UNION set semantics terminates on
    // cycles; chain-of-5 cross edges keep it linear in the corpus),
    // mutual-reach pairs + self, scc_id = min of the class
    "x37_scc" ->
      """WITH RECURSIVE n AS (SELECT doc_id AS id, doc_id // 10 AS b FROM documents),
        |e AS (
        |  SELECT id AS src, (id // 10) * 10 + ((id % 10) + 1) % 10 AS dst
        |    FROM n WHERE b % 5 <> 4
        |  UNION ALL
        |  SELECT id, id - 1 FROM n WHERE b % 5 = 4 AND id % 10 <> 0
        |  UNION ALL
        |  SELECT id, id - 10 FROM n WHERE b % 5 <> 0 AND id % 10 = 0),
        |r AS (
        |  SELECT src, dst FROM e
        |  UNION
        |  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src),
        |m AS (
        |  SELECT id AS node, id AS member FROM n
        |  UNION
        |  SELECT r1.src, r1.dst FROM r r1 JOIN r r2
        |    ON r1.src = r2.dst AND r1.dst = r2.src),
        |s AS (SELECT node, min(member) AS scc_id FROM m GROUP BY 1),
        |z AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size FROM s GROUP BY 1)
        |SELECT s.node, s.scc_id, z.scc_size
        |FROM s JOIN z USING (scc_id) ORDER BY node""".stripMargin,

    // t35: same 10-word line derivation as t11; boilerplate = a line in
    // >= 2 distinct docs of the SAME source, removed everywhere it
    // appears within that source (Spark keys the census on md5(line) —
    // the d02 negligible-collision contract — DuckDB on the raw line)
    "t35_boilerplate" ->
      """WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |ln AS (SELECT doc_id, source, unnest(list_transform(range(0, CAST(ceil(len(w) / 10.0) AS INT)),
        |         i -> {'line_no': i, 'line': list_aggregate(w[i*10+1:i*10+10], 'string_agg', ' ')})) AS s
        |       FROM tok),
        |l AS (SELECT doc_id, source, CAST(s.line_no AS BIGINT) AS line_no, s.line AS line FROM ln),
        |bp AS (SELECT source, line FROM (
        |         SELECT source, line, count(DISTINCT doc_id) AS nd
        |         FROM l GROUP BY 1, 2) WHERE nd >= 2),
        |k AS (SELECT l.* FROM l LEFT JOIN bp
        |        ON bp.source = l.source AND bp.line = l.line
        |      WHERE bp.line IS NULL),
        |re AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |         string_agg(line, ' ' ORDER BY line_no) AS clean_text
        |       FROM k GROUP BY 1),
        |cn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l GROUP BY 1)
        |SELECT d.doc_id, coalesce(cn.n_lines, 0) AS n_lines,
        |       coalesce(cn.n_lines, 0) - coalesce(re.n_kept, 0) AS n_removed,
        |       coalesce(re.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN cn ON cn.doc_id = d.doc_id
        |LEFT JOIN re ON re.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin,

    // same fixture blocklist derivation (top-20 frequent >= 6-char
    // terms, count desc / term asc), same integer keep threshold
    "t29_blocklist" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |blk AS (SELECT term FROM (
        |          SELECT term, count(*) AS cnt FROM tok
        |          WHERE length(term) >= 6 GROUP BY 1)
        |        ORDER BY cnt DESC, term ASC LIMIT 20),
        |h AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_hits
        |      FROM tok JOIN blk USING (term) GROUP BY 1)
        |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |       CASE WHEN coalesce(h.n_hits, 0) < 5 THEN 1 ELSE 0 END AS kept
        |FROM documents d LEFT JOIN h USING (doc_id) ORDER BY d.doc_id""".stripMargin,

    // t11's block derivation, keep-first WITHIN the doc (min line_no per
    // (doc, line)), order-stable rebuild — the intra-doc half of CCNet
    "t27_intradoc_dedup" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ln AS (SELECT doc_id, unnest(list_transform(range(0, CAST(ceil(len(w) / 10.0) AS INT)),
        |         i -> {'line_no': i, 'line': list_aggregate(w[i*10+1:i*10+10], 'string_agg', ' ')})) AS s
        |       FROM tok),
        |l AS (SELECT doc_id, CAST(s.line_no AS BIGINT) AS line_no, s.line AS line FROM ln),
        |k AS (SELECT doc_id, line_no, line,
        |        row_number() OVER (PARTITION BY doc_id, line ORDER BY line_no) AS rn FROM l),
        |re AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |         string_agg(line, ' ' ORDER BY line_no) AS text_dedup
        |       FROM k WHERE rn = 1 GROUP BY 1),
        |cn AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines FROM l GROUP BY 1)
        |SELECT cn.doc_id, cn.n_lines, re.n_kept, re.text_dedup
        |FROM cn JOIN re USING (doc_id) ORDER BY doc_id""".stripMargin,

    // same synthetic width/height derivation as the m-family, same
    // row-major clipped 16x16 grid — pure integer math both sides
    "m06_patch_grid" ->
      """WITH m AS (SELECT doc_id,
        |    16 + octet_length(encode(coalesce(text, ''))) % 48 AS w,
        |    16 + (octet_length(encode(coalesce(text, ''))) * 7) % 48 AS h
        |  FROM documents),
        |g AS (SELECT doc_id, w, h,
        |    (w + 15) // 16 AS nx, (h + 15) // 16 AS ny FROM m),
        |p AS (SELECT doc_id, w, h, nx,
        |    unnest(range(0, nx * ny)) AS i FROM g)
        |SELECT doc_id, CAST(i AS BIGINT) AS patch_idx,
        |  CAST((i % nx) * 16 AS BIGINT) AS px,
        |  CAST((i // nx) * 16 AS BIGINT) AS py,
        |  CAST(least(16, w - (i % nx) * 16) AS BIGINT) AS pw,
        |  CAST(least(16, h - (i // nx) * 16) AS BIGINT) AS ph
        |FROM p ORDER BY doc_id, patch_idx""".stripMargin,

    // Novelty = 1 - (shingles with corpus df >= 2) / (doc's shingles);
    // integer '/' is float division in both engines, quotient rounded.
    "t14_novelty" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |          i -> list_aggregate(w[i:i+2], 'string_agg', chr(31)))) AS s
        |        FROM tok WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
        |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s)
        |SELECT sh.doc_id, count(*) AS n_sh,
        |  CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  round(1.0 - sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) / count(*), 6)
        |    AS novelty_r
        |FROM sh JOIN df USING (s) GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin,

    // Weighted priority sampling: integer-exact priorities (hash DIV
    // weight), the k smallest with doc_id tie-break — TopK's exact order.
    "t15_weighted_sample" ->
      """WITH p AS (SELECT doc_id,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      // greatest(n_chars, 1) AS pri
        |  FROM documents),
        |r AS (SELECT doc_id, pri,
        |        row_number() OVER (ORDER BY pri, doc_id) AS rnk FROM p)
        |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, pri
        |FROM r WHERE rnk <= 50 ORDER BY rnk""".stripMargin,

    // The window form of the BPE merge-pair selection: count DESC with
    // pair ASC tie-break is exactly the heap's composite integer order
    // (ASCII corpus, so string order == char-code order).
    "t16_bpe_merges" ->
      """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
        |p AS (SELECT lang, unnest(list_transform(range(1, length(word)),
        |         i -> substring(word, i, 2))) AS pair
        |      FROM w WHERE length(word) >= 2),
        |c AS (SELECT lang, pair, count(*) AS cnt FROM p GROUP BY 1, 2),
        |r AS (SELECT lang, pair, CAST(cnt AS BIGINT) AS cnt,
        |        CAST(row_number() OVER (PARTITION BY lang
        |          ORDER BY cnt DESC, pair ASC) AS BIGINT) AS rnk
        |      FROM c)
        |SELECT lang, rnk, pair, cnt FROM r WHERE rnk <= 10
        |ORDER BY lang, rnk""".stripMargin,

    // BPE application mirror: derives the same global top-8 merge table
    // (cnt DESC, pair ASC — binary collation both engines on the ASCII
    // corpus) and walks the same per-word chain: every token wrapped in
    // chr(1) on BOTH sides (token-exact matches — see bpeEncode's
    // scaladoc), one replace(chr(1)a chr(1)chr(1)b chr(1) -> chr(1)ab
    // chr(1)) per merge in priority order; tokens = separators // 2.
    // RE2's '\1' backref and Java's '$1' denote the same group; '.'
    // excludes newline in both (corpus asserted control-char-free).
    // LEFT JOIN keeps empty docs at 0.
    "t17_bpe_encode" ->
      s"""WITH $bpeCoreSql
         |SELECT d.doc_id,
         |  CAST(coalesce(a.nc, 0) AS BIGINT) AS n_char_tokens,
         |  CAST(coalesce(a.nt, 0) AS BIGINT) AS n_bpe_tokens,
         |  CAST(coalesce(a.nc, 0) - coalesce(a.nt, 0) AS BIGINT) AS n_merged
         |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the identical BPE core (shared CTE text — one tokenizer by
    // construction), rolled up per language with integer ppm ratios
    "t28_fertility" ->
      s"""WITH $bpeCoreSql,
         |wl AS (SELECT doc_id, lang,
         |         len(string_split(text, ' ')) AS nw FROM documents),
         |j AS (SELECT wl.lang, wl.nw, coalesce(a.nc, 0) AS nc,
         |        coalesce(a.nt, 0) AS nt
         |      FROM wl LEFT JOIN agg a USING (doc_id))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST(sum(nc) AS BIGINT) AS n_chars,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  1000000 * CAST(sum(nt) AS BIGINT) // CAST(sum(nw) AS BIGINT) AS fertility_ppm,
         |  1000000 * CAST(sum(nc) AS BIGINT) // CAST(sum(nt) AS BIGINT) AS chars_per_token_ppm
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // BM25 mirror: identical Okapi formula with identical ASSOCIATION and
    // the same exact literal constants (2.2, 0.25 — NOT 1.2+1.0/1-0.75,
    // which differ in the last ulp); avgdl = CAST(total AS DOUBLE)/n both
    // engines; the per-doc sum over <= 3 terms is rounded per the
    // FP-aggregation contract.
    "t18_bm25" ->
      s"""WITH $bm25CoreSql
         |SELECT doc_id, n_qterms, round(score, 6) AS bm25_r
         |FROM sc ORDER BY doc_id""".stripMargin,

    // RRF: the shared BM25 core ranks the sparse leg, the v01 cosine
    // shape (query vector 0) ranks the dense leg, fusion sums the
    // integer 10^9 // (60 + r) keys — rank-based, no score scales meet
    "x29_hybrid_rrf" ->
      s"""WITH $bm25CoreSql,
         |sp0 AS (SELECT doc_id,
         |          CAST(round(round(score, 6) * 1000000, 0) AS BIGINT) AS s6 FROM sc),
         |spr AS (SELECT doc_id,
         |          row_number() OVER (ORDER BY s6 DESC, doc_id) AS r_sparse
         |        FROM sp0),
         |sp AS (SELECT doc_id, r_sparse FROM spr WHERE r_sparse <= 20),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |dsc AS (SELECT e.vec_id AS doc_id,
         |          round(${dot("q.qe", "e.embedding")} / (${norm("q.qe")} * ${norm("e.embedding")}), 6) AS cos
         |        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
         |der AS (SELECT doc_id,
         |          row_number() OVER (ORDER BY cos DESC, doc_id) AS r_dense FROM dsc),
         |de AS (SELECT doc_id, r_dense FROM der WHERE r_dense <= 20),
         |f AS (SELECT coalesce(sp.doc_id, de.doc_id) AS doc_id,
         |        coalesce(sp.r_sparse, 0) AS r_sparse,
         |        coalesce(de.r_dense, 0) AS r_dense
         |      FROM sp FULL JOIN de ON sp.doc_id = de.doc_id),
         |rr AS (SELECT doc_id, CAST(r_sparse AS BIGINT) AS r_sparse,
         |         CAST(r_dense AS BIGINT) AS r_dense,
         |         CAST(CASE WHEN r_sparse > 0 THEN 1000000000 // (60 + r_sparse) ELSE 0 END
         |           + CASE WHEN r_dense > 0 THEN 1000000000 // (60 + r_dense) ELSE 0 END
         |           AS BIGINT) AS rrf
         |       FROM f),
         |top AS (SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS fused_rank
         |        FROM rr)
         |SELECT CAST(fused_rank AS BIGINT) AS fused_rank, doc_id,
         |       r_sparse, r_dense, rrf
         |FROM top WHERE fused_rank <= 10 ORDER BY fused_rank""".stripMargin,

    // DSIR mirror: same md5-prefix-mod-256 token buckets, same add-one
    // models (target = lang 'en', source = all docs), and the SAME
    // per-bucket integer micro-log construction — the only FP step is the
    // one rounding per model-table bucket (ln ulp noise would need the
    // fractional part within ~2e-9 of .5 to flip it); per-doc scores are
    // exact integer sums, so the hash-compare never rides accumulation
    // order.
    "t19_dsir_weights" ->
      """WITH tok AS (SELECT doc_id, lang = 'en' AS tgt,
        |               unnest(string_split(text, ' ')) AS w FROM documents),
        |tb AS (SELECT doc_id, tgt,
        |         CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % 256 AS b FROM tok),
        |cnt AS (SELECT b, count(*) AS cs,
        |          sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct FROM tb GROUP BY b),
        |tot AS (SELECT sum(cs) AS s, sum(ct) AS t FROM cnt),
        |tabl AS (SELECT b,
        |      CAST(round((ln(ct + 1.0) - ln(cs + 1.0)) * 1000000) AS BIGINT)
        |    + CAST(round((ln(s + 256.0) - ln(t + 256.0)) * 1000000) AS BIGINT) AS l
        |  FROM cnt, tot)
        |SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(l) AS BIGINT) AS dsir_mlog
        |FROM tb JOIN tabl USING (b) GROUP BY tb.doc_id
        |ORDER BY tb.doc_id""".stripMargin,

    // CCNet terciles: the t12 score pipeline verbatim, then ntile(3) per
    // language over the ROUNDED score + doc_id — the identical total
    // order both engines sort, so the equal-count split lands identically
    "t22_quality_buckets" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS wd FROM tok),
        |c1 AS (SELECT wd, count(*) AS c1 FROM uni GROUP BY wd),
        |v AS (SELECT count(*) AS v FROM c1),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
        |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b2
        |       FROM tok WHERE len(w) >= 2),
        |c2 AS (SELECT b2, count(*) AS c2 FROM bg GROUP BY b2),
        |sc AS (SELECT g.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS lp
        |       FROM bg g JOIN c2 USING (b2) JOIN c1 ON g.w1 = c1.wd CROSS JOIN v),
        |s AS (SELECT doc_id, round(avg(lp), 6) AS avg_logp_r FROM sc GROUP BY doc_id),
        |b AS (SELECT s.doc_id, d.lang, s.avg_logp_r,
        |        CAST(ntile(3) OVER (PARTITION BY d.lang
        |          ORDER BY s.avg_logp_r DESC, s.doc_id) AS BIGINT) AS tile
        |      FROM s JOIN documents d USING (doc_id))
        |SELECT doc_id, lang, avg_logp_r, tile,
        |  CASE tile WHEN 1 THEN 'head' WHEN 3 THEN 'tail' ELSE 'middle' END AS bucket
        |FROM b ORDER BY doc_id""".stripMargin,

    // Gopher rule battery: every rule mirrored as the SAME integer
    // cross-multiplication (never a ratio), '...' counted by the same
    // non-overlapping replace arithmetic, integer-exact end to end
    "t21_gopher_rules" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_word_chars,
        |  CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |    + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT)
        |    AS n_symbols,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT)
        |    AS n_stop_hits
        |  FROM documents)
        |SELECT doc_id, n_words, n_word_chars, n_symbols, n_alpha_words, n_stop_hits,
        |  n_words >= 30 AND n_words <= 100000 AS wc_ok,
        |  n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10 AS mwl_ok,
        |  n_symbols * 10 < n_words AS sym_ok,
        |  n_alpha_words * 5 >= n_words * 4 AS alpha_ok,
        |  n_stop_hits >= 2 AS stop_ok,
        |  (n_words >= 30 AND n_words <= 100000)
        |    AND (n_word_chars >= n_words * 3 AND n_word_chars <= n_words * 10)
        |    AND (n_symbols * 10 < n_words)
        |    AND (n_alpha_words * 5 >= n_words * 4)
        |    AND (n_stop_hits >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    // Hashed-linear-classifier mirror: identical md5-derived integer
    // micro-weights (bucket then 'qw<bucket>' weight hash), integer sum
    // per doc, keep = sum > 0 * n as 0/1 — no FP anywhere.
    "t20_quality_classifier" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  $qMicroSum AS q_mscore
        |  FROM tok)
        |SELECT doc_id, n_tokens, q_mscore,
        |  CAST(CASE WHEN q_mscore > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,

    // Cluster-keep-best mirror: d07's recursive closure over the same
    // jaccard edges, each component's winner re-elected as ORDER BY
    // (q_mscore DESC, doc_id DESC) LIMIT 1 — identical to the engine's
    // arg_max over the (q_mscore, doc_id) struct. All integer.
    "d15_cluster_keep_best" -> {
      val edgesSql = jaccardSql(0.2,
        postingsCap = Some(graft.llm.Dedup.NearDup.maxShinglePostings))
      s"""WITH RECURSIVE je AS (SELECT id_a, id_b FROM ($edgesSql) t),
         |ed AS (SELECT id_a AS src, id_b AS dst FROM je
         |       UNION ALL SELECT id_b, id_a FROM je),
         |r AS (SELECT src AS id, src AS comp FROM ed
         |      UNION
         |      SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
         |lab AS (SELECT id AS doc_id, min(comp) AS comp_id FROM r GROUP BY 1),
         |q AS (SELECT doc_id, $qMicroSum AS q_mscore
         |      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
         |m AS (SELECT lab.comp_id, lab.doc_id, q.q_mscore,
         |        row_number() OVER (PARTITION BY lab.comp_id
         |          ORDER BY q.q_mscore DESC, lab.doc_id DESC) AS rnk,
         |        count(*) OVER (PARTITION BY lab.comp_id) AS n_members
         |      FROM lab JOIN q USING (doc_id))
         |SELECT comp_id, CAST(n_members AS BIGINT) AS n_members,
         |  doc_id AS keep_id, q_mscore AS keep_mscore
         |FROM m WHERE rnk = 1 ORDER BY comp_id""".stripMargin
    },

    // Add-one-smoothed bigram LM trained on the corpus itself; the FP mean
    // is rounded (6 dp vs ~1e-13 accumulation noise), all counts exact.
    "t12_bigram_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |uni AS (SELECT unnest(w) AS wd FROM tok),
        |c1 AS (SELECT wd, count(*) AS c1 FROM uni GROUP BY wd),
        |v AS (SELECT count(*) AS v FROM c1),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1,
        |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS b2
        |       FROM tok WHERE len(w) >= 2),
        |c2 AS (SELECT b2, count(*) AS c2 FROM bg GROUP BY b2),
        |sc AS (SELECT g.doc_id, ln((c2.c2 + 1.0) / (c1.c1 + v.v)) AS lp
        |       FROM bg g JOIN c2 USING (b2) JOIN c1 ON g.w1 = c1.wd CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logp_r
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Recomputes the engine's deterministic sign rule (parity of the first
    // md5 hex char of "p,j") and folds the same dot products; sums are
    // FP-rounded on both sides.
    "v07_random_projection" ->
      """WITH u AS (SELECT vec_id, unnest(embedding) AS x,
        |             generate_subscripts(embedding, 1) AS j FROM embeddings),
        |s AS (SELECT vec_id, j - 1 AS j0, CAST(x AS DOUBLE) AS x FROM u),
        |m AS (SELECT p, j0,
        |        CASE WHEN ascii(substring(md5(p || ',' || j0), 1, 1)) % 2 = 0
        |             THEN 1.0 ELSE -1.0 END AS sgn
        |      FROM (SELECT unnest(range(0, 4)) AS p)
        |      CROSS JOIN (SELECT DISTINCT j0 FROM s)),
        |pr AS (SELECT s.vec_id, m.p, round(sum(s.x * m.sgn), 6) AS v
        |       FROM s JOIN m ON s.j0 = m.j0 GROUP BY 1, 2)
        |SELECT vec_id,
        |  max(CASE WHEN p = 0 THEN v END) AS proj0,
        |  max(CASE WHEN p = 1 THEN v END) AS proj1,
        |  max(CASE WHEN p = 2 THEN v END) AS proj2,
        |  max(CASE WHEN p = 3 THEN v END) AS proj3
        |FROM pr GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // Hamming recomputed WITHOUT the bit packing: count of dims where the
    // sign (x >= 0) disagrees. The engine's packed XOR/popcount must be
    // exactly this integer, so the whole quantization layer is verified
    // semantics-free. Ranking is all-integer (ham, neighbor_id).
    "v08_hamming_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings WHERE vec_id < 32),
        |z AS (SELECT q.query_id, e.vec_id AS neighbor_id,
        |        unnest(q.qe) AS qx, unnest(e.embedding) AS ex
        |      FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
        |sc AS (SELECT query_id, neighbor_id,
        |        CAST(sum(CASE WHEN (qx >= 0) <> (ex >= 0) THEN 1 ELSE 0 END) AS BIGINT) AS ham
        |       FROM z GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, ham,
        |        CAST(row_number() OVER (PARTITION BY query_id
        |          ORDER BY ham, neighbor_id) AS BIGINT) AS rnk
        |      FROM sc)
        |SELECT query_id, neighbor_id, rnk, ham
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    // Recall audit: both top-5 sets rebuilt independently (v01's rounded-
    // cosine ranking, v08's sign-disagreement hamming ranking), then the
    // per-query overlap. Both rankings are deterministic, so the audit is
    // integer-exact — no recall tolerance needed.
    "v09_ann_recall_audit" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
         |           FROM embeddings WHERE vec_id < 32),
         |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  round(${dot("q.qe", "e.embedding")} / (${norm("q.qe")} * ${norm("e.embedding")}), 6) AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |ck AS (SELECT query_id, neighbor_id FROM (
         |        SELECT query_id, neighbor_id,
         |          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |        FROM sc) WHERE rnk <= 5),
         |z AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |        unnest(q.qe) AS qx, unnest(e.embedding) AS ex
         |      FROM q JOIN embeddings e ON e.vec_id <> q.query_id),
         |hs AS (SELECT query_id, neighbor_id,
         |        sum(CASE WHEN (qx >= 0) <> (ex >= 0) THEN 1 ELSE 0 END) AS ham
         |       FROM z GROUP BY 1, 2),
         |hk AS (SELECT query_id, neighbor_id FROM (
         |        SELECT query_id, neighbor_id,
         |          row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) AS rnk
         |        FROM hs) WHERE rnk <= 5)
         |SELECT ck.query_id,
         |  CAST(sum(CASE WHEN hk.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_overlap,
         |  round(sum(CASE WHEN hk.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 6) AS recall_r
         |FROM ck LEFT JOIN hk USING (query_id, neighbor_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Two-stage mirror: hamming top-50 shortlist (sign-disagreement count,
    // integer rank), then the exact rounded-cosine rerank of candidates
    // only — stage boundaries identical to the engine's, so hash-exact.
    "v10_hamming_rerank" -> twoStageHammingSql(),

    // v11 runs the SAME two-stage semantics served from the persisted
    // bucketed sign index — the index must be invisible in the result, so
    // its oracle IS v10's SQL.
    "v11_indexed_ann" -> twoStageHammingSql(),

    // v17: the identical two-stage computation over the corpus MINUS the
    // tombstoned ids — the delete must be equivalent to never having
    // indexed those vectors at all
    "v17_index_delete" -> twoStageHammingSql("e.vec_id % 17 <> 0"),

    // The oracle is the window form the heap aggregate replaces: rank DESC
    // with doc_id ASC tie-break is TopK's exact total order.
    "t13_source_quota" ->
      """WITH b AS (SELECT source, doc_id,
        |  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS rk
        |  FROM documents),
        |r AS (SELECT source, doc_id, rk,
        |  row_number() OVER (PARTITION BY source ORDER BY rk DESC, doc_id) AS rnk FROM b)
        |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, rk
        |FROM r WHERE rnk <= 15 ORDER BY source, rnk""".stripMargin,

    // rank key is all-integer (tf desc, df asc, term asc) so row selection
    // never rides on a float comparison; ln() ulp noise lives only in the
    // rounded informational score
    // the audit form keeps the sketch hash-checkable: exact top-20 term
    // counts are oracle-able, and the CMS overestimate bound is pinned
    // TRUE — the sketch is seeded, so a violation is a deterministic
    // hash mismatch, not a flake
    "a20_cms_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
        |r AS (SELECT term, CAST(cnt AS BIGINT) AS cnt,
        |        row_number() OVER (ORDER BY cnt DESC, term) AS rnk FROM c)
        |SELECT term, cnt, TRUE AS bound_ok
        |FROM r WHERE rnk <= 20 ORDER BY cnt DESC, term""".stripMargin,

    // exact-distinct oracle for the bitmap aggregate: equality is the
    // whole point — a dropped/invented bit anywhere in the roaring
    // container lifecycle shows up as a count mismatch
    "a21_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // version 1 == the even-ids aggregate, version 2 == the full
    // aggregate: a pinned snapshot disturbed by the later write, or a
    // stale/mixed latest pointer, breaks the hash
    "s19_time_travel" ->
      """SELECT CAST(1 AS BIGINT) AS version, lang, count(*) AS n_docs
        |FROM documents WHERE doc_id % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS version, lang, count(*) AS n_docs
        |FROM documents GROUP BY 2
        |ORDER BY version, lang""".stripMargin,

    // exact integer statistics per slice — the ANALYZE contract
    "s18_table_stats" ->
      """SELECT lang, count(*) AS n_rows,
        |       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
        |       CAST(sum(octet_length(encode(text))) AS BIGINT) AS text_bytes,
        |       CAST(count(CASE WHEN text IS NULL THEN 1 END) AS BIGINT) AS null_texts,
        |       count(DISTINCT source) AS n_sources
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // the converged maintained aggregate == the one-shot declarative
    // aggregate: lost partials, double-applied slots, or misrouted keys
    // anywhere across the three folds break the hash
    "s17_incremental_agg" ->
      """SELECT event_type AS key, count(*) AS cnt,
        |       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // the oracle sees only the published data: a publish that dropped,
    // duplicated, or reordered anything through the stage/swap is a hash
    // mismatch
    "s16_wap" ->
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // the declarative statement of the bitmap rollup: exact distinct per
    // day and per trailing-7-day window — a dropped or invented bit
    // anywhere in the store/OR path is a count mismatch
    "a24_retention" ->
      """WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS d, user_id
        |            FROM events),
        |days AS (SELECT DISTINCT d FROM du),
        |dau AS (SELECT d, count(*) AS dau FROM du GROUP BY 1),
        |wau AS (SELECT a.d, count(DISTINCT b.user_id) AS wau
        |        FROM days a JOIN du b
        |          ON b.d BETWEEN a.d - INTERVAL 6 DAY AND a.d
        |        GROUP BY 1)
        |SELECT strftime(dau.d, '%Y-%m-%d') AS day,
        |       CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
        |       1000000 * dau.dau // wau.wau AS stickiness_ppm
        |FROM dau JOIN wau USING (d) ORDER BY day""".stripMargin,

    // the exact distinct count is oracle-able; the union-homomorphism +
    // 5%-of-exact bound is pinned TRUE — the sketch is deterministic, so
    // a violation is a hash mismatch, not a flake (the a20 discipline)
    "a23_sketch_rollup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |       TRUE AS reagg_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // ISO-week truncation agrees across engines (Monday start); week
    // index = exact integer day-diff div 7
    "a27_cohort_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |              CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS c0 FROM uw GROUP BY 1)
        |SELECT strftime(c.c0, '%Y-%m-%d') AS cohort_week,
        |       CAST(date_diff('day', c.c0, uw.wk) // 7 AS BIGINT) AS week_idx,
        |       count(DISTINCT uw.user_id) AS n_users
        |FROM uw JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // st08's island rule for the sessions, integer in-session positions
    // for strict ordering, the same three chained conditional mins
    "a26_session_funnel" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
        |           FROM events),
        |i AS (SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
        |                       OR tsu - lag(tsu) OVER w >= 1800000000
        |                     THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
        |        ORDER BY tsu, event_id) AS sid FROM i),
        |d AS (SELECT user_id, sid, event_type,
        |        row_number() OVER (PARTITION BY user_id, sid
        |          ORDER BY tsu, event_id) AS pos FROM g),
        |p1 AS (SELECT user_id, sid,
        |         min(CASE WHEN event_type = 'view' THEN pos END) AS p1
        |       FROM d GROUP BY 1, 2),
        |p2 AS (SELECT d.user_id, d.sid,
        |         min(CASE WHEN d.event_type = 'click' AND d.pos > p1.p1
        |               THEN d.pos END) AS p2
        |       FROM d JOIN p1 USING (user_id, sid) GROUP BY 1, 2),
        |p3 AS (SELECT d.user_id, d.sid,
        |         min(CASE WHEN d.event_type = 'purchase' AND d.pos > p2.p2
        |               THEN d.pos END) AS p3
        |       FROM d JOIN p2 USING (user_id, sid) GROUP BY 1, 2)
        |SELECT p1.user_id, count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN p1.p1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_view,
        |  CAST(sum(CASE WHEN p2.p2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_click,
        |  CAST(sum(CASE WHEN p3.p3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_purchase
        |FROM p1 JOIN p2 USING (user_id, sid) JOIN p3 USING (user_id, sid)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // median, MAD, and the 3-MAD census rebuilt from the same cent
    // domain: weighted median = smallest value with 2*cum >= n (the
    // ceil(n/2) cross-multiplication), everything 64-bit integer
    "a25_mad_outliers" ->
      """WITH h AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v,
        |             count(*) AS c
        |           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |n AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
        |hc AS (SELECT event_type, v, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
        |       FROM h),
        |med AS (SELECT hc.event_type, min(v) AS med_c
        |        FROM hc JOIN n USING (event_type)
        |        WHERE 2 * cum >= n.n GROUP BY 1),
        |d AS (SELECT h.event_type, abs(h.v - med.med_c) AS dev,
        |        CAST(sum(h.c) AS BIGINT) AS c
        |      FROM h JOIN med USING (event_type) GROUP BY 1, 2),
        |dc AS (SELECT event_type, dev, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum
        |       FROM d),
        |mad AS (SELECT dc.event_type, min(dev) AS mad_c
        |        FROM dc JOIN n USING (event_type)
        |        WHERE 2 * cum >= n.n GROUP BY 1),
        |outl AS (SELECT d.event_type, CAST(sum(d.c) AS BIGINT) AS n_outliers
        |         FROM d JOIN mad USING (event_type)
        |         WHERE d.dev > 3 * mad.mad_c GROUP BY 1)
        |SELECT n.event_type, n.n, med.med_c, mad.mad_c,
        |       coalesce(outl.n_outliers, 0) AS n_outliers
        |FROM n JOIN med USING (event_type) JOIN mad USING (event_type)
        |LEFT JOIN outl USING (event_type) ORDER BY event_type""".stripMargin,

    // histogram quantiles vs the sort-based quantile_disc: both engines
    // pick rank ceil(q*n) over the same cent-scaled total order (the
    // cent mapping is monotone, so quantile-of-cents == cent-of-quantile;
    // round(value*100) evaluates on identical IEEE doubles both sides).
    // Quantiles cross the boundary as cents — exact integers
    "a22_hist_quantiles" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(round(quantile_disc(value, 0.50) * 100, 0) AS BIGINT) AS p50_c,
        |       CAST(round(quantile_disc(value, 0.90) * 100, 0) AS BIGINT) AS p90_c,
        |       CAST(round(quantile_disc(value, 0.99) * 100, 0) AS BIGINT) AS p99_c
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "t09_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |r AS (SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
        |        CAST(df.df AS BIGINT) AS df,
        |        round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score_r,
        |        row_number() OVER (PARTITION BY tf.doc_id
        |          ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk
        |      FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, score_r, rnk
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,

    // the oracle is the PLAIN group-by: salting must be invisible in the
    // result. cnt composes exactly; qty rounds the accumulation-order ulps
    "x09_salted_agg" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS qty_r
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "x02_rollup" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |       coalesce(o_orderpriority, '(all)') AS priority,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price_r
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    // the oracle is the window form the heap aggregate replaces: identical
    // rows prove the bounded-heap path == sort-everything path
    "a10_topk_agg" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders)
        |SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, o_orderkey,
        |       round(o_totalprice, 2) AS price_r
        |FROM r WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin,

    // The oracle is the window form a12 replaces: row 1 under (price DESC,
    // orderkey DESC) is exactly Spark's lexicographic struct max.
    "a12_argmax" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS cnt FROM orders)
        |SELECT o_orderpriority, o_orderkey AS best_orderkey,
        |       o_totalprice AS best_price, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin,

    // Mode with deterministic tie-break: max count, then alphabetically
    // first type — exactly min(struct(-cnt, value)).
    "a15_mode" ->
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, cnt,
        |        sum(cnt) OVER (PARTITION BY user_id) AS n_events,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY cnt DESC, event_type) AS rn FROM c)
        |SELECT user_id, event_type AS mode_type, CAST(cnt AS BIGINT) AS mode_cnt,
        |       CAST(n_events AS BIGINT) AS n_events
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // CDC diff across dump generations: FULL OUTER on the key, classify,
    // drop the unchanged majority.
    "x13_snapshot_diff" ->
      """WITH o AS (SELECT doc_id AS o_id, md5(text) AS o_hash FROM documents
        |           WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id AS n_id,
        |        md5(CASE WHEN doc_id % 5 = 0 THEN upper(text) ELSE text END) AS n_hash
        |      FROM documents WHERE doc_id % 11 <> 0),
        |j AS (SELECT o_id, n_id, o_hash, n_hash,
        |        CASE WHEN o_id IS NULL THEN 'added'
        |             WHEN n_id IS NULL THEN 'removed'
        |             WHEN o_hash <> n_hash THEN 'changed' END AS status
        |      FROM o FULL OUTER JOIN n ON o.o_id = n.n_id)
        |SELECT coalesce(o_id, n_id) AS doc_id, status FROM j
        |WHERE status IS NOT NULL ORDER BY doc_id""".stripMargin,

    "a13_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
        |       count(*) AS cnt, round(avg(o_totalprice), 2) AS avg_price_r
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    // Running max(view ts) over each user's sequence; click converts if a
    // view precedes it by <= 30 min. Same default RANGE frame both engines.
    "a14_funnel" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
        |           FROM events),
        |m AS (SELECT *, max(CASE WHEN event_type = 'view' THEN tsu END)
        |        OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS last_view
        |      FROM e)
        |SELECT user_id, count(*) AS n_clicks,
        |  CAST(sum(CASE WHEN last_view IS NOT NULL AND tsu - last_view <= 1800000000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_conv,
        |  CAST(max(CASE WHEN last_view IS NOT NULL AND tsu - last_view <= 1800000000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS converted
        |FROM m WHERE event_type = 'click' GROUP BY user_id ORDER BY user_id""".stripMargin,

    // The merged two-generation read must aggregate exactly like the CASE
    // projection over the unified source.
    "s09_schema_evolution" ->
      """SELECT lang, count(*) AS n_docs,
        |  count(CASE WHEN doc_id % 2 <> 0 THEN 1 END) AS n_with_source,
        |  CAST(coalesce(sum(CASE WHEN doc_id % 2 <> 0 THEN n_chars END), 0) AS BIGINT)
        |    AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "x11_rolling_window" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS es, o_totalprice
        |  FROM orders WHERE o_custkey < 150)
        |SELECT o_orderkey, o_custkey,
        |       count(*) OVER w AS n_7d,
        |       round(sum(o_totalprice) OVER w, 2) AS spend_7d_r
        |FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY es
        |  RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "x10_cube" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |       coalesce(o_orderpriority, '(all)') AS priority,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price_r
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    // per-column rounding sized to each statistic's accumulation noise
    // (corr 6dp dimensionless; covar 2dp over ~5e10 sums; stddevs 6/4dp)
    // One-pass regression moments; rounding sized per statistic like a09.
    "a19_regression" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_r,
        |       round(regr_intercept(l_extendedprice, l_quantity), 3) AS icept_r,
        |       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2_r
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Exact rational window stats; ties broken by orderkey inside the sort
    // key so both engines rank identically.
    "a18_cume_dist" ->
      """SELECT o_orderkey, o_orderstatus,
        |       round(percent_rank() OVER w, 6) AS pr,
        |       round(cume_dist() OVER w, 6) AS cd
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    // explode_outer: empty match lists keep the parent row as NULL.
    "e02_explode_outer" ->
      """WITH t AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x = 'stream') AS m
        |  FROM documents)
        |SELECT doc_id,
        |       unnest(CASE WHEN len(m) = 0 THEN [NULL] ELSE m END) AS word
        |FROM t ORDER BY doc_id, word""".stripMargin,

    // LIMIT selection is deterministic: (price DESC, orderkey) is total.
    "a17_global_topn" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,

    "s11_text_roundtrip" ->
      """SELECT count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_texts
        |FROM documents""".stripMargin,

    // Z-order audit recomputed from the source: the 32-term interleave
    // SQL is GENERATED from the same loop as the engine's Column form
    // (Layout.zValueSql), so the two expressions can never drift. All
    // outputs integer.
    // x46: the same generated z expression over the 8-bit-normalized
    // dims, value-based file buckets, per-file zone maps, probe-grid
    // intersection counts — files AND rows read per layout vs true matches
    "x46_zonemap_census" -> {
      val z = graft.relational.Layout.zValueSql("c8", "h8")
      s"""WITH rows0 AS (SELECT doc_id, lang,
         |    least(n_chars // 4, 255) AS c8,
         |    (CAST('0x' || substring(md5(lang),1,4) AS BIGINT)) // 256 AS h8
         |  FROM documents),
         |mx AS (SELECT max(doc_id) AS m FROM rows0),
         |wf AS (SELECT r.*, ($z) // ${1L << 12} AS zfile,
         |    doc_id // ((mx.m // 16) + 1) AS lfile
         |  FROM rows0 r CROSS JOIN mx),
         |zm AS (SELECT zfile AS f, min(c8) AS min_c, max(c8) AS max_c,
         |    min(h8) AS min_h, max(h8) AS max_h,
         |    CAST(count(*) AS BIGINT) AS n_rows FROM wf GROUP BY 1),
         |lm AS (SELECT lfile AS f, min(c8) AS min_c, max(c8) AS max_c,
         |    min(h8) AS min_h, max(h8) AS max_h,
         |    CAST(count(*) AS BIGINT) AS n_rows FROM wf GROUP BY 1),
         |pr AS (SELECT DISTINCT lang, h8 FROM rows0),
         |probes AS (SELECT pr.lang, pr.h8, CAST(b.i * 32 AS BIGINT) AS band_lo
         |  FROM pr CROSS JOIN (SELECT unnest(range(0, 8)) AS i) b),
         |zr AS (SELECT p.lang, p.band_lo,
         |    CAST(sum(CASE WHEN z.f IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS z_files_read,
         |    CAST(sum(coalesce(z.n_rows, 0)) AS BIGINT) AS z_rows_read
         |  FROM probes p LEFT JOIN zm z
         |    ON z.min_c <= p.band_lo + 31 AND z.max_c >= p.band_lo
         |    AND z.min_h <= p.h8 AND z.max_h >= p.h8
         |  GROUP BY 1, 2),
         |lr AS (SELECT p.lang, p.band_lo,
         |    CAST(sum(CASE WHEN l.f IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS lin_files_read,
         |    CAST(sum(coalesce(l.n_rows, 0)) AS BIGINT) AS lin_rows_read
         |  FROM probes p LEFT JOIN lm l
         |    ON l.min_c <= p.band_lo + 31 AND l.max_c >= p.band_lo
         |    AND l.min_h <= p.h8 AND l.max_h >= p.h8
         |  GROUP BY 1, 2),
         |mt AS (SELECT lang, (c8 // 32) * 32 AS band_lo,
         |    CAST(count(*) AS BIGINT) AS n_match FROM rows0 GROUP BY 1, 2)
         |SELECT zr.lang, zr.band_lo, coalesce(mt.n_match, 0) AS n_match,
         |  zr.z_files_read, lr.lin_files_read, zr.z_rows_read, lr.lin_rows_read
         |FROM zr JOIN lr USING (lang, band_lo)
         |LEFT JOIN mt USING (lang, band_lo)
         |ORDER BY zr.lang, zr.band_lo""".stripMargin
    },

    "s13_zorder_layout" ->
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
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    // Full-fidelity readback of the COMPACTED directory vs the same
    // projection over the source: row-exact equality proves the
    // compaction rewrite moved every byte and invented none.
    "s14_compaction" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Manifest recomputed from the SOURCE table: the engine computes it
    // from the files it wrote, so equality proves the shard export carries
    // exactly the corpus. All integers (order-independent md5-prefix sum).
    "s12_shard_export" ->
      """WITH d AS (SELECT *,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8
        |      AS shard
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(CAST('0x' || substring(md5(text), 1, 8) AS BIGINT)) AS BIGINT)
        |    AS checksum
        |FROM d GROUP BY shard ORDER BY shard""".stripMargin,

    "x12_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |       coalesce(o_orderpriority, '(all)') AS priority,
        |       count(*) AS cnt, round(sum(o_totalprice), 2) AS sum_price_r
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin,

    "a09_corr_stats" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       round(corr(l_quantity, l_extendedprice), 6) AS corr_r,
        |       round(covar_pop(l_quantity, l_extendedprice), 2) AS covar_pop_r,
        |       round(stddev_samp(l_quantity), 6) AS stddev_qty_r,
        |       round(stddev_samp(l_extendedprice), 4) AS stddev_price_r
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "x03_set_ops" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY c_custkey""".stripMargin,

    "x14_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY c_custkey""".stripMargin,

    // UNPIVOT mirror: the UNION ALL constant-label form of the melt.
    // Column names match the engine's unpivot output (status_col carries
    // the source column name). All counts integer.
    "x17_unpivot" ->
      """WITH w AS (SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_p
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, 'cnt_O' AS status_col, cnt_o AS cnt FROM w
        |UNION ALL
        |SELECT o_orderpriority, 'cnt_F' AS status_col, cnt_f AS cnt FROM w
        |UNION ALL
        |SELECT o_orderpriority, 'cnt_P' AS status_col, cnt_p AS cnt FROM w
        |ORDER BY o_orderpriority, status_col""".stripMargin,

    // Integer PageRank mirror: the same three join+aggregate rounds as
    // chained CTEs. Every value is integer (rank div deg contributions,
    // div-100 damping), so the match is hash-exact with no rounding.
    // DuckDB's sum() widens to HUGEINT; each round casts back to BIGINT,
    // which is exact within the n*scale*85 < 2^63 bound — guaranteed by
    // construction here: `sc` mirrors PageRank.autoScale (largest power
    // of 10 with 10^k <= (2^63-1) // 85 // node_count; power(10, k) is
    // exact in a double through 10^18, so the BIGINT cast is exact).
    "x16_pagerank" -> pagerankSql,

    "x24_trustrank" -> trustrankSql,

    // same integer sufficient statistics, one final double expression —
    // IEEE-identical inputs, so the rounded coefficient matches exactly
    "x26_assortativity" ->
      """WITH e0 AS (SELECT DISTINCT user_id AS src,
        |    1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src),
        |j AS (SELECT dx.d AS dx, dy.d AS dy
        |      FROM e JOIN deg dx ON dx.src = e.src
        |      JOIN deg dy ON dy.src = e.dst),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |         CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
        |         CAST(sum(dx * dy) AS BIGINT) AS sxy,
        |         CAST(sum(dx * dx) AS BIGINT) AS sxx,
        |         CAST(sum(dy * dy) AS BIGINT) AS syy
        |       FROM j)
        |SELECT n_edges, sx, sy, sxy, sxx, syy,
        |  round(CAST(n_edges * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE) *
        |         CAST(n_edges * syy - sy * sy AS DOUBLE)), 6) AS assortativity_r
        |FROM st""".stripMargin,

    // recursive-CTE BFS over the same edge derivation; see bfsSql scaladoc
    "x19_bfs_dist" -> bfsSql,

    // the indexed form serves the SAME hop counts from the persisted
    // bucketed layout — one oracle text, verbatim, for both (the
    // x16/x18 discipline): the storage split must be invisible
    "x20_bfs_indexed" -> bfsSql,

    // x40: both sweeps as recursive BFS closures; elections via
    // 1-row ORDER BY ... LIMIT subqueries
    "x40_diameter_sweep" ->
      """WITH RECURSIVE e0 AS (SELECT DISTINCT user_id AS src,
        |    1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |s0 AS (SELECT min(src) AS seed FROM e),
        |b1(node, dist) AS (
        |  SELECT seed, 0 FROM s0
        |  UNION
        |  SELECT e.dst, b.dist + 1 FROM b1 b JOIN e ON e.src = b.node
        |  WHERE b.dist < 12),
        |d1 AS (SELECT node, min(dist) AS dist FROM b1 GROUP BY 1),
        |u AS (SELECT node, dist FROM d1 ORDER BY dist DESC, node LIMIT 1),
        |b2(node, dist) AS (
        |  SELECT node, 0 FROM u
        |  UNION
        |  SELECT e.dst, b.dist + 1 FROM b2 b JOIN e ON e.src = b.node
        |  WHERE b.dist < 12),
        |d2 AS (SELECT node, min(dist) AS dist FROM b2 GROUP BY 1),
        |v AS (SELECT node, dist FROM d2 ORDER BY dist DESC, node LIMIT 1)
        |SELECT (SELECT seed FROM s0) AS seed,
        |  (SELECT CAST(dist AS BIGINT) FROM u) AS ecc_seed,
        |  (SELECT node FROM u) AS far_a,
        |  (SELECT CAST(dist AS BIGINT) FROM v) AS diam_lb,
        |  (SELECT node FROM v) AS far_b,
        |  (SELECT CAST(count(*) AS BIGINT) FROM d2) AS n_reached""".stripMargin,

    // one-row integer graph profile; components via the recursive CC
    // over the same canonical undirected edge set
    "x31_graph_summary" ->
      """WITH RECURSIVE e0 AS (SELECT DISTINCT user_id AS src,
        |    1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |und AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
        |ed AS (SELECT a AS src, b AS dst FROM und
        |       UNION ALL SELECT b, a FROM und),
        |r AS (SELECT src AS id, src AS comp FROM ed
        |      UNION
        |      SELECT ed.dst AS id, r.comp FROM r JOIN ed ON ed.src = r.id),
        |lab AS (SELECT id, min(comp) AS comp FROM r GROUP BY 1),
        |cs AS (SELECT comp, count(*) AS sz FROM lab GROUP BY 1),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1)
        |SELECT (SELECT count(*) FROM deg) AS n_nodes,
        |       (SELECT count(*) FROM und) AS n_edges,
        |       (SELECT count(*) FROM cs) AS n_components,
        |       (SELECT CAST(max(sz) AS BIGINT) FROM cs) AS max_component,
        |       (SELECT CAST(max(d) AS BIGINT) FROM deg) AS max_degree""".stripMargin,

    // 3 synchronous LPA rounds unrolled as chained CTEs: votes from the
    // PREVIOUS round's labels, winner = (cnt DESC, label ASC) — the
    // row_number form of the engine's arg_max on (cnt, -label)
    "x28_label_prop" -> {
      def round(prev: String, v: String, w: String, next: String): String =
        s"""$v AS (SELECT e.dst AS node, l.label, count(*) AS cnt
           |     FROM e JOIN $prev l ON l.node = e.src GROUP BY 1, 2),
           |$w AS (SELECT node, label FROM (
           |     SELECT node, label, row_number() OVER (PARTITION BY node
           |       ORDER BY cnt DESC, label) AS rn FROM $v) WHERE rn = 1),
           |$next AS (SELECT p.node, coalesce($w.label, p.label) AS label
           |     FROM $prev p LEFT JOIN $w USING (node))""".stripMargin
      s"""WITH e0 AS (SELECT DISTINCT user_id AS src,
         |    1000000 + CAST(json_extract_string(props, '$$.k') AS BIGINT) AS dst
         |  FROM events WHERE json_extract_string(props, '$$.k') IS NOT NULL),
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |l0 AS (SELECT node, node AS label FROM
         |       (SELECT src AS node FROM e UNION SELECT dst FROM e)),
         |${round("l0", "v1", "w1", "l1")},
         |${round("l1", "v2", "w2", "l2")},
         |${round("l2", "v3", "w3", "l3")}
         |SELECT node AS node_id,
         |  CASE WHEN node >= 1000000 THEN 'page' ELSE 'user' END AS node_type,
         |  label FROM l3 ORDER BY node_id""".stripMargin
    },

    // per-landmark recursive BFS, then the identical integer harmonic
    // rule: 12 // dist (lcm(1..4) scaling) summed as exact integers;
    // the UNION-dedup recursion needs min(dist) per (seed, node) before
    // the 1/d fold, exactly like bfsSql's per-node min
    "x27_harmonic" ->
      """WITH RECURSIVE e0 AS (SELECT DISTINCT user_id AS src,
        |    1000000 + CAST(json_extract_string(props, '$.k') AS BIGINT) AS dst
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |lms AS (SELECT DISTINCT user_id AS node FROM events
        |        WHERE user_id % 100 = 0),
        |bfs(seed, node, dist) AS (
        |  SELECT node, node, 0 FROM lms
        |  UNION
        |  SELECT b.seed, e.dst, b.dist + 1 FROM bfs b JOIN e ON e.src = b.node
        |  WHERE b.dist < 4
        |),
        |d AS (SELECT seed, node, min(dist) AS dist FROM bfs GROUP BY 1, 2)
        |SELECT node AS node_id,
        |  CASE WHEN node >= 1000000 THEN 'page' ELSE 'user' END AS node_type,
        |  count(*) AS n_lm, CAST(sum(12 // dist) AS BIGINT) AS harm12
        |FROM d WHERE dist >= 1 GROUP BY node ORDER BY node_id""".stripMargin,

    // the indexed form serves the SAME integer-exact iteration from the
    // persisted bucketed layout — one oracle text, verbatim, for both:
    // the storage split must be invisible in the result
    "x18_pagerank_indexed" -> pagerankSql,

    // SCD-2 mirror: same change-compression (emit only when the state
    // differs from the previous event) and the same second window for
    // version/validity; timestamps as epoch micros on both sides.
    "x15_scd2" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
        |           FROM events WHERE user_id < 50),
        |d AS (SELECT *, lag(event_type, 1) OVER
        |        (PARTITION BY user_id ORDER BY tsu, event_id) AS prev_type
        |      FROM e),
        |ch AS (SELECT * FROM d
        |       WHERE prev_type IS NULL OR event_type <> prev_type)
        |SELECT event_id, user_id, event_type AS state,
        |  tsu AS valid_from_us,
        |  lead(tsu, 1) OVER w AS valid_to_us,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  CAST(CASE WHEN lead(tsu, 1) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_current
        |FROM ch
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |ORDER BY event_id""".stripMargin,

    "st01_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |       count(*) AS cnt, round(sum(value), 2) AS sum_value_r
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    // exact windowed distinct: the bitmap aggregate is exact, so the
    // oracle is the plain distinct count — no error band anywhere
    "st11_window_distinct" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,

    // Quality gate -> keep-first fingerprint election -> per-lang counts:
    // the deterministic batch form of the streaming ingest front door.
    "st07_stream_ingest" ->
      """WITH g AS (SELECT doc_id, lang,
        |    md5(list_aggregate(string_split(text, ' ')[1:5], 'string_agg', ' ')) AS fp
        |  FROM documents WHERE len(string_split(text, ' ')) >= 30),
        |w AS (SELECT fp, min(doc_id) AS doc_id FROM g GROUP BY fp)
        |SELECT g.lang, count(*) AS n_admitted
        |FROM g JOIN w ON g.fp = w.fp AND g.doc_id = w.doc_id
        |GROUP BY g.lang ORDER BY g.lang""".stripMargin,

    // Stream-static enrichment mirror: LEFT join keeps unmatched users in
    // an explicit '(none)' segment (dim restricted to make that path real).
    "st06_stream_static" ->
      """WITH d AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 100)
        |SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       coalesce(d.c_mktsegment, '(none)') AS segment,
        |       count(*) AS cnt, round(sum(e.value), 2) AS sum_value_r
        |FROM events e LEFT JOIN d ON e.user_id = d.c_custkey
        |GROUP BY 1, 2 ORDER BY win_start, segment""".stripMargin,

    // sliding window = each event unnested into its size/slide = 2
    // covering window starts (floor-to-slide and one slide earlier)
    "st03_sliding_window" ->
      """WITH e AS (SELECT value, epoch_us(ts) AS us FROM events),
        |w AS (SELECT value,
        |        (us // 1800000000) * 1800000000 - t.k * 1800000000 AS ws_us
        |      FROM e, (SELECT unnest([0, 1]) AS k) t)
        |SELECT strftime(make_timestamp(ws_us), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       count(*) AS cnt, round(sum(value), 2) AS sum_value_r
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    // Island detection mirror of the native session_window: a new session
    // starts when the gap to the previous event is >= 30 min (Spark's
    // session ends are exclusive, so an event landing exactly at
    // last + gap opens a new window). All keys integer epoch-micros.
    "st08_session_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value
        |           FROM events WHERE user_id < 200),
        |d AS (SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
        |                       OR tsu - lag(tsu) OVER w >= 1800000000
        |                     THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
        |        ORDER BY tsu, event_id) AS sid FROM d)
        |SELECT user_id, min(tsu) AS start_us, max(tsu) + 1800000000 AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value_r
        |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,

    // st08's island detection for the sessions, st05's row_number rule for
    // the in-session ranking (value DESC, event_id — the heap's exact
    // total order); window keys as epoch micros like st08
    "st10_session_topk" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value
        |           FROM events WHERE user_id < 200),
        |d AS (SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
        |                       OR tsu - lag(tsu) OVER w >= 1800000000
        |                     THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
        |        ORDER BY tsu, event_id) AS sid FROM d),
        |s AS (SELECT user_id, sid, min(tsu) AS start_us,
        |        max(tsu) + 1800000000 AS end_us
        |      FROM g GROUP BY user_id, sid),
        |r AS (SELECT user_id, sid, event_id, value,
        |        row_number() OVER (PARTITION BY user_id, sid
        |          ORDER BY value DESC, event_id) AS rnk
        |      FROM g)
        |SELECT s.user_id, s.start_us, s.end_us, CAST(r.rnk AS BIGINT) AS rnk,
        |       r.event_id, round(r.value, 2) AS value_r
        |FROM r JOIN s ON r.user_id = s.user_id AND r.sid = s.sid
        |WHERE r.rnk <= 3
        |ORDER BY s.user_id, s.start_us, rnk""".stripMargin,

    "st02_sessionize" ->
      """WITH g AS (SELECT user_id,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS ns
        |  FROM events)
        |SELECT user_id, count(*) AS n_events, CAST(sum(ns) AS BIGINT) AS n_sessions
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
