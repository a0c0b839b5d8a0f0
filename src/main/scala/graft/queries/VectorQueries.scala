package graft.queries

import graft.llm.Similarity
import org.apache.spark.sql.functions._
import Queries.{scratch, embeddings, embeddingsPar}
import Oracle.{norm, dot, xxhashLong, toSigned, splitmixSql, fdot, lloydCtes, pcaCtes}

/** Vector queries (v) over the embeddings table: exact kNN, the ANN family
  * (LSH, IVF, PQ, IVFPQ) and its indexed forms, and vector analytics. */
object VectorQueries extends QueryFamily {

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

  // ===== LLM: similarity search =============================================

  /** Brute-force exact top-k for a bounded query set: broadcast queries +
    * one corpus scan — the correct *exact* plan at any corpus size. */
  query("v01_knn_brute", oracle = Some(
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 32),
         |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  round(${dot("q.qe", "e.embedding")} / (${norm("q.qe")} * ${norm("e.embedding")}), 6) AS cos
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk, cos
         |  FROM sc)
         |SELECT query_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.knnBrute(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V24: filtered-ANN serve audit ([[Similarity.filteredKnnAudit]]) —
    * pre-filter (score survivors only; exact) vs post-filter (unfiltered
    * top-20, keep survivors, take 5) under the `label % 7 == 0`
    * predicate (~20% selectivity — top-20 carries ~4 expected
    * survivors, so the under-fill and disagreement failure modes
    * post-filtering pays are BOTH live in the data, not just priced in
    * the spec). Hash-exact: both rankings share the round-6 cosine
    * total order.
    * Both rankings stream the corpus once through the bounded-heap top-k with
    * the queries broadcast (shuffle = queries x k), and the re-rank window
    * covers at most 20 rows per query. */
  query("v24_filtered_knn", oracle = Some(
      // v24: both rankings rebuilt with the same round-6 cosine and
      // (cos DESC, neighbor ASC) order; post-filter = unfiltered top-20,
      // keep label%3=0 survivors in rank order, take 5; n_post/overlap
      // totalized to 0 per query
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
         |ORDER BY query_id""".stripMargin)) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.filteredKnnAudit(emb, emb.filter(col("vec_id") < 32),
        col("label") % 7 === 0)
      .orderBy("query_id")
  }

  /** V20: Matryoshka truncation audit (Kusupati et al. 2022 MRL
    * serving: score with the first d' dims, keep the full vector only
    * for rerank) — exact top-5 over the 16-dim PREFIX vs exact top-5
    * over all 64 dims, per-query overlap as an integer 0..5. The
    * dimension-adaptive twin of v09's ANN recall audit: before
    * deploying prefix-scored retrieval you measure exactly what the
    * truncation costs, and both rankings are deterministic (same
    * (cos DESC, neighbor ASC) total order), so the audit is hash-exact
    * — no recall floor needed. Truncation is a map-only `slice`;
    * cosine renormalizes per-space by construction. */
  query("v20_matryoshka", oracle = Some(
      // both rankings rebuilt with the same round-6 cosine and
      // (cos DESC, neighbor ASC) order; truncation = 1-based inclusive
      // list slice [1:16]; overlap totalized to 0 per query
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
         |FROM q LEFT JOIN ov USING (query_id) ORDER BY query_id""".stripMargin)) { (s, dir) =>
    val emb = embeddings(s, dir)
    val tr = emb.withColumn("embedding", slice(col("embedding"), 1, 16))
    val full = Similarity.knnBrute(emb, emb.filter(col("vec_id") < 32), k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val trunc = Similarity.knnBrute(tr, tr.filter(col("vec_id") < 32), k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val overlap = full.join(trunc, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("overlap5"))
    full.select("query_id").distinct()
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("overlap5"), lit(0L)).as("overlap5"))
      .orderBy("query_id")
  }

  /** V19: kNN-graph construction ([[Similarity.knnGraph]]) — every
    * vector's top-3 cosine neighbors among pairs at cos >= 0.3: the
    * all-vs-all substrate of graph-based curation (SemDeDup clustering,
    * kNN-connectivity diversity, label propagation over embeddings).
    * Pair generation through the v02 block-grid kernel (no cartesian,
    * no driver collect), selection through the bounded heap — shuffle =
    * nodes x k. Oracle: the full quadratic with the same threshold and
    * (cos DESC, neighbor ASC) total order. */
  query("v19_knn_graph", oracle = Some(
      // the v02 pair rule (round-6 cosine, threshold) + per-node top-3 by
      // (cos DESC, neighbor ASC) — the heap's exact total order
      s"""WITH n AS (SELECT vec_id, embedding, ${norm("embedding")} AS nrm FROM embeddings),
         |p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         |  round(${dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
         |f AS (SELECT * FROM p WHERE cos >= 0.3),
         |r AS (SELECT vec_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM f)
         |SELECT vec_id, neighbor_id, rnk, cos FROM r WHERE rnk <= 3
         |ORDER BY vec_id, rnk""".stripMargin)) { (s, dir) =>
    Similarity.knnGraph(embeddings(s, dir), k = 3, minCos = 0.3)
      .orderBy("vec_id", "rnk")
  }

  /** V21: MUTUAL kNN pairs — the reliable-match criterion of bitext /
    * parallel-data mining (the symmetric core of Artetxe & Schwenk's
    * margin retrieval): a pair qualifies iff each vector is in the
    * OTHER's top-3 — one-directional neighbors are mostly hubness
    * noise, mutuality is the cheap strong filter. Composes the v19
    * graph with a self-join on the reversed edge (ids-only shuffle);
    * output canonical (a < b) pairs with both ranks. */
  query("v21_mutual_knn", oracle = Some(
      // the v19 ranking in both directions, kept iff mutual; canonical
      // a < b with both ranks
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
         |ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
    val g = Similarity.knnGraph(embeddingsPar(s, dir), k = 3, minCos = 0.3)
      .select(col("vec_id"), col("neighbor_id"), col("rnk"))
    val rev = g.select(col("vec_id").as("neighbor_id"),
      col("neighbor_id").as("vec_id"), col("rnk").as("rnk_back"))
    g.join(rev, Seq("vec_id", "neighbor_id"))
      .filter(col("vec_id") < col("neighbor_id"))
      .select(col("vec_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("rnk").as("rnk_ab"), col("rnk_back").as("rnk_ba"))
      .orderBy("id_a", "id_b")
  }

  /** V22: margin-based bitext/parallel-pair mining (Artetxe & Schwenk
    * 2019's ratio margin over the v21 mutual-kNN pairs): a candidate
    * pair's cosine is scored AGAINST both endpoints' neighborhood
    * averages — margin = cos(x,y) / ((avg_k(x) + avg_k(y)) / 2) — so a
    * hub vector that is "close to everything" stops producing false
    * matches (its own average is high, its margins collapse toward 1).
    * Entirely integer once the heap's micro-unit cosines come back:
    * margin_ppm = 2*cos*ca*cb*10^6 div (sa*cb + sb*ca) — the
    * cross-multiplied form of the ratio with per-node (sum, count)
    * neighbor stats, so nothing floating crosses the hash. Composes the
    * L104 kNN graph (block-grid pairs, bounded heap) + one tiny
    * per-node stats aggregate + ids-only joins. */
  query("v22_margin_mining", oracle = Some(
      // v21's mutual pairs scored by the Artetxe & Schwenk ratio margin in
      // cross-multiplied integer form: per-node (sum, count) over the same
      // micro-unit top-3 cosines, margin_ppm = 2*cos*ca*cb*10^6 // (sa*cb +
      // sb*ca) — identical `//` truncation as the engine's `div`
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
         |ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
    val g = Similarity.knnGraph(embeddingsPar(s, dir), k = 3, minCos = 0.3)
      .withColumn("cos_i", round(col("cos") * 1e6).cast("long"))
      .select("vec_id", "neighbor_id", "cos_i")
    val stats = g.groupBy("vec_id")
      .agg(sum("cos_i").as("nb_sum"), count(lit(1)).as("nb_cnt"))
    val rev = g.select(col("vec_id").as("neighbor_id"),
      col("neighbor_id").as("vec_id"))
    g.join(rev, Seq("vec_id", "neighbor_id")) // mutual-kNN gate (v21)
      .filter(col("vec_id") < col("neighbor_id"))
      .join(stats.select(col("vec_id"), col("nb_sum").as("sa"),
        col("nb_cnt").as("ca")), "vec_id")
      .join(stats.select(col("vec_id").as("neighbor_id"),
        col("nb_sum").as("sb"), col("nb_cnt").as("cb")), "neighbor_id")
      .select(col("vec_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cos_i").as("cos_ppm"),
        expr("2 * cos_i * ca * cb * 1000000 div (sa * cb + sb * ca)")
          .as("margin_ppm"))
      .orderBy("id_a", "id_b")
  }

  /** V23: one Lloyd ASSIGNMENT step (k-means over embeddings — the
    * clustering substrate SemDeDup/diversity sampling build on): every
    * vector assigned to the nearest of 8 fixed seed centroids by
    * squared L2, centroids riding the plan as a LITERAL (model-as-data:
    * an 8 x 64 table is driver-bounded by construction — the t16 BPE
    * merge-table precedent), the per-vector argmin an in-row array_sort
    * over (round-6 dist2, cluster idx) — MAP-ONLY, zero shuffle, zero
    * join: assignment runs at scan speed, which is what makes Lloyd
    * iterations affordable at corpus scale (the update half is x06's
    * vec_sum centroid aggregate). Distances accumulate sequentially
    * per row in double (float widened first), so round-6 is
    * cross-engine exact. */
  query("v23_kmeans_assign", oracle = Some {
      // nearest of the 8 seed centroids by squared L2 (same sequential
      // double fold as the engine's aggregate HOF), argmin on the ROUNDED
      // distance with cluster-id tie-break
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
    }) { (s, dir) =>
    val emb = embeddingsPar(s, dir)
    // bounded, documented collect: 8 seed centroids (vec_id < 8)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
    // r13: assignment through the codegen NearestSeed kernel — identical
    // rule and bit-identical (rounded dist2, id-tiebreak) output to the
    // round-6 HOF array_sort it replaces (VectorKernelSpec), one tight
    // primitive loop per row instead of 8 interpreted zip_with+aggregate
    emb.withColumn("__best", graft.functions.VectorExpressions.nearestSeed(
        col("embedding"), seeds.map(_._1).toSeq, seeds.map(_._2.toSeq).toSeq))
      .select(col("vec_id"), col("__best.cluster_id").as("cluster_id"),
        col("__best.dist2").as("dist2_r"))
      .orderBy("vec_id")
  }

  /** V25: one k-means Lloyd UPDATE step — v23 is the assign half, this
    * closes the loop (assign -> per-cluster mean -> how far each
    * centroid moved), the convergence census a distributed k-means
    * driver reads every iteration (movement ~ 0 = stop; a cluster's
    * n_assigned collapsing = re-seed it). Assignment reuses v23's
    * EXACT rule (rounded dist2, cluster-id tiebreak — the two queries
    * can never disagree); the mean is the native vec_sum aggregate
    * (map-side partials, one k-row result) divided in-plan, movement
    * is the L2 distance to the seed via the literal seed table
    * (element_at lookup, no second join), summaries rounded 6 (the x06
    * centroid discipline). One corpus scan + one k-row aggregate per
    * iteration — nothing else shuffles; the seed collect is the
    * bounded 8-row model-as-data pattern. */
  query("v25_lloyd_step", oracle = Some {
      // v25: v23's assignment verbatim, then per-(cluster, dim) means via
      // range-indexed unnest, movement/norm folded per cluster
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
    }) { (s, dir) =>
    val emb = embeddings(s, dir)
    // bounded, documented collect: 8 seed centroids (vec_id < 8)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
    val seedLit = array(seeds.map { case (_, c) =>
      array(c.map(lit): _*)
    }.toIndexedSeq: _*)
    // r13: v23's exact assignment rule through the codegen NearestSeed
    // kernel (bit-identical; VectorKernelSpec) — the two queries still
    // cannot disagree, and the scan loses its interpreted HOF chain
    emb.withColumn("cluster_id",
        graft.functions.VectorExpressions.nearestSeed(col("embedding"),
          seeds.map(_._1).toSeq, seeds.map(_._2.toSeq).toSeq)
          .getField("cluster_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_assigned"),
        graft.functions.VectorAggregates.vecSum(col("embedding")).as("__sum"))
      .withColumn("__mean", transform(col("__sum"), x => x / col("n_assigned")))
      .withColumn("__seed", element_at(seedLit, (col("cluster_id") + 1).cast("int")))
      .select(col("cluster_id"), col("n_assigned"),
        round(sqrt(aggregate(
          zip_with(col("__mean"), col("__seed"), (m, sd) => (m - sd) * (m - sd)),
          lit(0.0), (a, v) => a + v)), 6).as("movement_r"),
        round(sqrt(aggregate(col("__mean"), lit(0.0), (a, v) => a + v * v)), 6)
          .as("new_norm_r"))
      .orderBy("cluster_id")
  }

  /** V26: top principal component + whitening-lite serve
    * ([[Similarity.pcaPower]]) — the missing piece between the raw
    * embedding column and everything downstream of it: the projection
    * (score) is the 1-d feature a calibration/drift censor reads, and
    * the residual norm is the out-of-distribution flag (a vector the
    * dominant direction can't explain came from outside the training
    * distribution — the admission-control signal d20/v09 want). TRAIN
    * is the trained-op pattern the IVF/PQ family established: one
    * corpus scan collects the bounded hash-ordered sample, 4 power
    * iterations run driver-local with sequential folds, and the means
    * + component ride the serve plan as LITERALS (model-as-data).
    * SERVE is map-only at scan speed: per row one centered dot
    * (score), one residual fold — zero shuffle, zero join; the only
    * exchange is the output sort. Every float op is in the mirror
    * discipline (double accumulation in pinned order, float round-trip
    * per iteration, round-6 outputs), so the whole train+serve chain
    * is DuckDB-hash-exact like d16/v13/v15. */
  query("v26_pca_power", oracle = Some(v26Sql)) { (s, dir) =>
    val emb = embeddings(s, dir)
    val (mu, pc, lambda) = Similarity.pcaPower(emb)
    // r13: serve through the codegen PcaScore/PcaResid2 kernels — the
    // same sequential double folds over the float-widened row, asserted
    // bit-identical to the HOF chain in VectorKernelSpec; round-6 stays
    // Spark-side, so the output contract is untouched
    val pcD = pc.map(_.toDouble).toSeq
    emb.select(col("vec_id"),
        round(graft.functions.VectorExpressions.pcaScore(
          col("embedding"), mu.toSeq, pcD), 6).as("score_r"),
        round(graft.functions.VectorExpressions.pcaResid2(
          col("embedding"), mu.toSeq, pcD), 6).as("resid2_r"),
        round(lit(lambda), 6).as("lambda_r"))
      .orderBy("vec_id")
  }

  /** V18: exact Maximum-Inner-Product Search ([[Similarity.mipsBrute]])
    * — the recommendation-serving primitive: top-k by RAW dot, not
    * cosine (magnitude is signal: popularity/quality-scaled item
    * embeddings). Broadcast queries, one corpus scan, bounded-heap
    * selection. LlmOpsSpec checks the ranking against cosine top-k over
    * Bachrach/Neyshabur-augmented vectors, the reduction that lets a
    * cosine ANN index serve MIPS. */
  query("v18_mips", oracle = Some(
      // raw-dot ranking (NO norm division) — both engines accumulate the
      // dot sequentially in double, so round(dot, 6) is cross-engine exact
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 32),
         |sc AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |  round(${dot("q.qe", "e.embedding")}, 6) AS dot
         |  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS BIGINT) AS rnk, dot
         |  FROM sc)
         |SELECT query_id, neighbor_id, rnk, dot FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.mipsBrute(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** All-pairs cosine >= threshold — the exact quadratic baseline the ANN
    * paths are audited against. Runs the distributed block-grid kernel:
    * identical output to the declarative join form (asserted bit-for-bit
    * in LlmOpsSpec), no driver collect, no corpus broadcast — shuffle is
    * n x numBlocks embedding copies and each task holds two blocks. */
  query("v02_cosine_pairs", oracle = Some(
      s"""WITH n AS (SELECT vec_id, embedding, ${norm("embedding")} AS nrm FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.3 ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
    Similarity.cosinePairsGrid(embeddings(s, dir), minCos = 0.3)
      .orderBy("id_a", "id_b")
  }

  /** ANN via multi-table random-hyperplane LSH — bucketed equi-join
    * candidates, exact rerank; the 100 TB path (the oracle mirrors it
    * bit-exactly; recall is asserted against brute force in ScalaTest). */
  query("v03_ann_lsh", oracle = Some(
      // ANN family bit-exact float mirrors (see the ANN-mirror section of
      // Oracle.scala): v03 hyperplane-LSH, d16 SemDeDup, and the IVF serve paths
      // v05/v12 — one SQL serves both IVF forms, their candidate sets and
      // scores are identical by construction.
      v03Sql)) { (s, dir) =>
    val emb = embeddingsPar(s, dir)
    Similarity.annLsh(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** Embedding norms / dimensionality audit (native codegen'd vec_norm). */
  query("v04_norms", oracle = Some(
      s"""SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
         |       round(${norm("embedding")}, 6) AS norm_r
         |FROM embeddings ORDER BY vec_id""".stripMargin)) { (s, dir) =>
    embeddings(s, dir)
      .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"),
        round(graft.functions.VectorExpressions.vecNorm(col("embedding")), 6).as("norm_r"))
      .orderBy("vec_id")
  }

  /** ANN via IVF coarse quantization — the second scale path (oracle
    * mirrored bit-exactly; recall asserted vs brute force in ScalaTest).
    * Cost is the cluster-id equi-join of probed query lists against the
    * corpus inverted lists (~ corpus * nprobe / c); centroids train
    * driver-side on one bounded TakeOrdered sample. */
  query("v05_ann_ivf", oracle = Some(v05Sql)) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.annIvf(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V13: product-quantization ANN ([[Similarity.annPq]]) — the third
    * scale path: the shortlist scan reads 8 offset-codes per corpus
    * vector instead of 64 floats (32x scan compression), ADC scoring is
    * a codegen'd table-lookup fold, exact cosine rerank restores true
    * order. The oracle mirrors it bit-exactly; VerifyExtras asserts a
    * recall@5 floor vs brute force, like v03/v05. */
  query("v13_pq_ann", oracle = Some(v13Sql)) { (s, dir) =>
    val emb = embeddingsPar(s, dir)
    Similarity.annPq(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** Int8 scalar quantization of embeddings (max-abs scaling) — the
    * storage-compression op of an embedding pipeline. Output is the audit
    * view: per-vector scale + quantized checksum. */
  query("v06_quantize", oracle = Some(
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
        |FROM q ORDER BY vec_id""".stripMargin)) { (s, dir) =>
    embeddings(s, dir)
      // floor the scale at the min subnormal: an all-zero vector must
      // quantize to zeros, not divide 0/0 into a NaN that ANSI cast rejects
      .withColumn("scale",
        greatest(
          aggregate(transform(col("embedding"), x => abs(x.cast("double"))),
            lit(0.0), (acc, v) => greatest(acc, v)),
          lit(java.lang.Double.MIN_VALUE)))
      .withColumn("q", transform(col("embedding"),
        x => round(x.cast("double") / col("scale") * 127).cast("long")))
      .select(col("vec_id"),
        round(col("scale"), 6).as("scale_r"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("qsum"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + abs(v)).as("qabs"))
      .orderBy("vec_id")
  }

  /** V7: random-projection dimensionality reduction
    * ([[Similarity.randomProjection]]) — 64-dim embeddings to 4 projected
    * components through a deterministic md5-seeded ±1 matrix. Map-only,
    * no shuffle; the oracle recomputes the identical sign rule in SQL. */
  query("v07_random_projection", oracle = Some(
      // Recomputes the engine's deterministic sign rule (parity of the first
      // md5 hex char of "p,j") and folds the same dot products; sums are
      // FP-rounded on both sides.
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
        |FROM pr GROUP BY vec_id ORDER BY vec_id""".stripMargin)) { (s, dir) =>
    Similarity.randomProjection(embeddings(s, dir), dims = 64, outDims = 4)
      .orderBy("vec_id")
  }

  /** V8: binary-quantized Hamming top-k ([[Similarity.hammingAnn]]) —
    * sign-bit packing (32x corpus compression) + XOR/popcount scan +
    * bounded-heap selection. Integer-exact ranking (ham asc, neighbor
    * asc); the oracle recomputes hamming as the sign-disagreement count
    * over the unpacked floats — packing must be semantics-free. */
  query("v08_hamming_ann", oracle = Some(
      // Hamming recomputed WITHOUT the bit packing: count of dims where the
      // sign (x >= 0) disagrees. The engine's packed XOR/popcount must be
      // exactly this integer, so the whole quantization layer is verified
      // semantics-free. Ranking is all-integer (ham, neighbor_id).
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
        |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.hammingAnn(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V9: ANN recall audit — the evaluation operator a production ANN
    * deployment runs continuously: per query, how many of the exact
    * cosine top-k does the cheap index (here the v08 binary-Hamming path)
    * recover? Composes the two verified kernels and reduces to an
    * integer overlap count per query (both top-k sets are deterministic —
    * rounded cosine + id tie-break, integer hamming — so the audit is
    * hash-exact, unlike a float recall). Scale shape: both inputs are
    * top-k frames of |queries| x k rows; the audit join is negligible
    * next to the scans that build them. And it reports the honest
    * number: raw 64-bit sign quantization recalls only ~0.2 of the
    * cosine top-5 at sf0.01 — the measurement that tells a deployment
    * the binary path is a COARSE pre-filter needing an exact rerank
    * stage (which is how v08's production use composes). */
  query("v09_ann_recall_audit", oracle = Some(
      // Recall audit: both top-5 sets rebuilt independently (v01's rounded-
      // cosine ranking, v08's sign-disagreement hamming ranking), then the
      // per-query overlap. Both rankings are deterministic, so the audit is
      // integer-exact — no recall tolerance needed.
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
         |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    val emb = embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 32)
    val exact = Similarity.knnBrute(emb, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = Similarity.hammingAnn(emb, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"),
        count(lit(1)).as("k"))
      .select(col("query_id"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("k"), 6).as("recall_r"))
      .orderBy("query_id")
  }

  /** V10: binary shortlist + exact rerank ([[Similarity.hammingRerank]])
    * — the two-stage production path the v09 audit motivates: hamming
    * top-50 pre-filter (popcount over packed bits, 32x cheaper than
    * float), exact cosine rerank of candidates only. Both stages are
    * deterministic, so the oracle mirrors them exactly. */
  query("v10_hamming_rerank", oracle = Some(
      // Two-stage mirror: hamming top-50 shortlist (sign-disagreement count,
      // integer rank), then the exact rounded-cosine rerank of candidates
      // only — stage boundaries identical to the engine's, so hash-exact.
      twoStageHammingSql())) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.hammingRerank(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V11: the index-build / query split of the binary ANN path
    * ([[Similarity.buildSignIndex]] + [[Similarity.hammingRerankIndexed]]):
    * sign-bit signatures packed ONCE into a vec_id-bucketed table (data
    * under an explicit temp path; catalog metadata in-session), then the
    * two-stage shortlist + rerank served from it with zero corpus-side
    * exchanges (plan-asserted in ScaleOpsSpec). Same parameters as v10
    * and the oracle IS v10's SQL: the index must be invisible in the
    * result. The timed cost deliberately INCLUDES the index build — this
    * query is the deployment round-trip, not the steady-state probe. */
  query("v11_indexed_ann", oracle = Some(
      // v11 runs the SAME two-stage semantics served from the persisted
      // bucketed sign index — the index must be invisible in the result, so
      // its oracle IS v10's SQL.
      twoStageHammingSql())) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.buildSignIndex(emb, "graft_v11_sign_idx", buckets = 8,
      path = Some(scratch("graft_sign_idx")))
    Similarity.hammingRerankIndexed(s, "graft_v11_sign_idx",
        emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V17: takedown DELETE on the persisted sign-bit index
    * ([[Similarity.deleteFromSignIndex]]) — the maintenance verb v11's
    * build/append lifecycle was missing: a right-to-be-forgotten batch
    * (vec_id % 17 == 0 here) lands as an append-only tombstone side
    * table, the stored corpus is neither read nor rewritten, and the
    * SAME serve call excludes the deleted rows via a broadcast anti-join
    * (corpus side still exchange-free). The oracle re-runs the exact
    * two-stage computation over the corpus MINUS the deleted ids —
    * shortlist membership shifts as survivors move up, so a leaked
    * tombstone anywhere is a hash mismatch, not just a missing row. */
  query("v17_index_delete", oracle = Some(
      // v17: the identical two-stage computation over the corpus MINUS the
      // tombstoned ids — the delete must be equivalent to never having
      // indexed those vectors at all
      twoStageHammingSql("e.vec_id % 17 <> 0"))) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.buildSignIndex(emb, "graft_v17_sign_idx", buckets = 8,
      path = Some(scratch("graft_v17_idx")))
    Similarity.deleteFromSignIndex(s, "graft_v17_sign_idx",
      emb.filter(col("vec_id") % 17 === 0).select("vec_id"))
    Similarity.hammingRerankIndexed(s, "graft_v17_sign_idx",
        emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V12: the index-build / query split of the IVF path
    * ([[Similarity.buildIvfIndex]] + [[Similarity.annIvfIndexed]]) — the
    * FAISS train/add/search contract as tables: centroids trained once,
    * lists persisted bucketed on `cl` (data under an explicit temp path;
    * catalog metadata in-session), probes served by scoring corpus
    * vectors in place at the bucketed scan (zero corpus-side exchanges,
    * plan-asserted in ScaleOpsSpec). Same parameters as v05 and — because
    * the stored centroids are exactly the ones [[Similarity.annIvf]]
    * trains on this corpus — the result is row-identical to v05
    * (ScaleOpsSpec asserts it); the VerifyExtras recall audit applies the
    * same floor. As with v11, the timed cost INCLUDES the index build:
    * the query is the deployment round-trip. */
  query("v12_indexed_ivf", oracle = Some(v05Sql)) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.buildIvfIndex(emb, "graft_v12_ivf_idx", buckets = 8,
      path = Some(scratch("graft_ivf_idx")))
    Similarity.annIvfIndexed(s, "graft_v12_ivf_idx",
        emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V14: PQ served from the persisted [[Similarity.buildPqIndex]] table
    * — build-in-query like v12/x18 (the driver verifies the serve path
    * each round); the serve scan reads stored codes and reranks against
    * the same bucketed table, zero corpus exchanges (ScaleOpsSpec).
    * Deterministic codebooks make this row-identical to v13's inline
    * path — the storage split is invisible. */
  query("v14_indexed_pq", oracle = Some(v13Sql)) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.buildPqIndex(emb, "graft_v14_pq_idx", buckets = 8,
      path = Some(scratch("graft_pq_idx")))
    Similarity.annPqIndexed(s, "graft_v14_pq_idx",
        emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V15: IVFADC ([[Similarity.annIvfPq]]) — the IVF x PQ composition a
    * billion-scale deployment runs: the coarse quantizer prunes WHICH
    * vectors are scored (nprobe/c of the corpus, cell-id equi-join), PQ
    * residual codes compress WHAT the scan reads per scored vector (8
    * offset-codes, not 64 floats); exact cosine rerank restores true
    * order. The oracle mirrors it bit-exactly; VerifyExtras asserts the
    * same recall@5 floor as the component paths v05/v13. */
  query("v15_ivfpq", oracle = Some(v15Sql)) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.annIvfPq(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V16: v15 through the PERSISTED IVFADC index
    * ([[Similarity.buildIvfPqIndex]] + [[Similarity.annIvfPqIndexed]]) —
    * probe joins land on the cl-bucketed stored layout (only probed
    * lists read, stored codes scanned as-is, rerank embeddings from the
    * same rows: zero corpus-side exchange). Deterministic training makes
    * the storage split invisible: identical rows to v15. */
  query("v16_indexed_ivfpq", oracle = Some(v15Sql)) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.buildIvfPqIndex(emb, "graft_v16_ivfpq_idx", buckets = 8,
      path = Some(scratch("graft_ivfpq_idx")))
    Similarity.annIvfPqIndexed(s, "graft_v16_ivfpq_idx",
        emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }
}
