package graft.queries

import graft.llm.{Dedup, Similarity, TextOps, WebOps}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Queries.{tbl, tblPar, scratch, embeddings, sampleBucket}
import Oracle.{jaccardSql, qMicroSum, norm, dot, Mod, let, mulmod, toSigned, splitmixSql, fdot,
  lloydCtes, xxhWinCtes}

/** LLM-data dedup queries (d): exact, near-duplicate (shingle, MinHash,
  * SimHash), semantic and chunk-level dedup, decontamination and the audits
  * of those thresholds and sketches. */
object DedupQueries extends QueryFamily {

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

  // ===== LLM: dedup =========================================================

  /** Exact dedup groups: one shuffle on the content hash. */
  query("d01_dedup_exact_groups", oracle = Some(
      """SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin)) { (s, dir) =>
    Dedup.exactGroups(tbl(s, dir, "documents")).orderBy("content_hash")
  }

  /** Exact dedup survivors (keep-first policy). */
  query("d02_dedup_exact_keep", oracle = Some(
      """SELECT min(doc_id) AS doc_id, min(n_chars) AS n_chars
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    Dedup.exactDedup(tbl(s, dir, "documents")).orderBy("doc_id")
  }

  /** n-gram Jaccard near-dup via shingle inverted index (no cartesian).
    * Candidates come from an equi-join on 8-byte shingle hashes, skew-guarded
    * by a window count on the same exchange. */
  query("d03_neardup_ngram", oracle = Some(
      jaccardSql(0.2, postingsCap = Some(graft.llm.Dedup.NearDup.maxShinglePostings)))) { (s, dir) =>
    Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), w = 5, minJ = 0.2)
      .orderBy("id_a", "id_b")
  }

  /** D26: dedup threshold-sensitivity audit — the knob-setting census
    * for the whole near-dup family (d03/d04/d13 all hinge on ONE
    * number, minJ; this shows what each choice would keep): ALL
    * candidate pairs (any shared rare shingle, minJ = 0) banded by
    * exact Jaccard into 0.05-wide integer bands ((inter * 20) div uni
    * — cross-multiplied, no float in the bucketing), with per-band
    * counts and the cumulative pairs-at-or-above census (= the dedup
    * edge count at every candidate threshold, read off one row).
    * A mass of pairs hugging the chosen threshold = fragile config;
    * a clean valley = robust. Candidate generation is the d03
    * skew-guarded postings equi-join — cost bounded by the postings
    * cap even at minJ 0 — and the band census + 21-row cumulative
    * window are aggregate-sized. */
  query("d26_threshold_audit", oracle = Some {
      // d26: ALL capped candidates (minJ 0 — the postings cap now BINDS, so
      // the oracle mirrors it), banded by cross-multiplied exact Jaccard
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
    }) { (s, dir) =>
    val pairs = Dedup.ngramJaccardPairs(tbl(s, dir, "documents"),
      w = 5, minJ = 0.0)
    val bands = pairs.withColumn("band", expr("(inter * 20) div uni"))
      .groupBy("band").agg(count(lit(1)).as("n_pairs"))
    val wcum = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bands.withColumn("n_at_or_above", sum("n_pairs").over(wcum))
      .select(col("band"), (col("band") * 50000L).as("j_lo_ppm"),
        col("n_pairs"), col("n_at_or_above"))
      .orderBy("band")
  }

  /** D27: sketch-calibration audit — the "trust your sketch" census
    * for the d04/d13 minhash path (v09 audits ANN recall; THIS audits
    * the dedup estimator): for every exact-Jaccard pair >= 0.2, the
    * k=16 minhash signature's estimate (matching positions / k) laid
    * against the exact value, err in ppm — the number that says
    * whether the LSH band thresholds are calibrated or lying. The
    * DuckDB oracle recomputes the FULL signature kernel from first
    * principles (per-word XXH64 -> chained window hashLong ->
    * splitmix64(h ^ seed_i) -> per-seed SIGNED min — the engine
    * compares signed longs, so the mirror min must be over the
    * signed reinterpretation), which makes this row family a
    * bit-exactness proof of the entire minhash stack, not just a
    * statistics check. Pair set is the d03 capped candidate join;
    * signatures ride per-doc arrays (k longs), est is one in-row
    * zip_with. */
  query("d27_sketch_calibration", oracle = Some {
      // d27: the FULL minhash signature kernel from first principles —
      // per-word XXH64 (xxhWinCtes) -> splitmix64(whash ^ seed_i) ->
      // per-seed SIGNED min (the engine compares signed longs, so the
      // mirror's min runs over the signed reinterpretation); seed
      // constants precomputed from the one JVM definition
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
    }) { (s, dir) =>
    val k = 16
    val docs = tbl(s, dir, "documents")
    val signed = Dedup.withSignatures(docs, w = 5, k = k)
    val pairs = Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2)
    val sa = signed.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val sb = signed.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
    pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .withColumn("est_matches", expr(
        "bigint(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b)))"))
      .withColumn("exact_ppm", expr("(inter * 1000000) div uni"))
      .withColumn("est_ppm", expr(s"(est_matches * 1000000) div $k"))
      .withColumn("err_ppm", col("est_ppm") - col("exact_ppm"))
      .select(col("id_a"), col("id_b"), col("exact_ppm"), col("est_matches"),
        col("est_ppm"), col("err_ppm"))
      .orderBy("id_a", "id_b")
  }

  /** D17: asymmetric near-containment pairs
    * ([[Dedup.containmentPairs]]) — Broder's |A∩B|/|A| over the d03
    * shingle sets: catches the short-doc-quoted-in-long-doc case whose
    * Jaccard stays tiny because the union is container-sized. Both
    * directions evaluated per candidate pair.
    * Candidates come from d03's skew-guarded postings equi-join, and both
    * directions come from one verified pair row, so nothing corpus-sized
    * moves twice. */
  query("d17_containment", oracle = Some {
      // Broder containment over the SAME shingle/candidate CTEs as d03,
      // but normalized by the contained side's set size, both directions
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
    }) { (s, dir) =>
    Dedup.containmentPairs(tbl(s, dir, "documents"), w = 5, minC = 0.5)
      .orderBy("contained_id", "container_id")
  }

  /** D18: bottom-k sketch-accelerated containment
    * ([[Dedup.containmentSketchPairs]]) — d17's scale path: probe-side
    * postings shrink from |shingles| to k=16 md5-ordered samples per
    * doc, candidates stay directional, survivors verify EXACTLY;
    * P(miss | containment >= 0.5) <= 0.5^16. The oracle mirrors the
    * sketch rule (row_number over the identical (md5-prefix, shingle)
    * order), so the result hash-compares exactly. */
  query("d18_containment_sketch", oracle = Some {
      // d18: the d17 CTEs plus the bottom-k sketch rule — row_number over
      // the identical (32-bit md5 prefix, shingle) total order the engine's
      // TopKStr heap keeps, probe joined against full (capped) postings
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
    }) { (s, dir) =>
    Dedup.containmentSketchPairs(tblPar(s, dir, "documents"), w = 5, k = 16, minC = 0.5)
      .orderBy("contained_id", "container_id")
  }

  /** MinHash-LSH near-dup — banded signatures, candidate equi-join, exact
    * verify. P(miss | j>=0.7) < 1e-4, so it reproduces the exact-Jaccard
    * oracle at these scale factors while staying sub-quadratic. */
  query("d04_minhash_lsh", oracle = Some(
      // MinHash-LSH reproduces the exact-Jaccard result at this threshold
      // (P(miss | j >= 0.7) < 1e-4 with k=32, bands=16) — the oracle IS the
      // exact computation the LSH path approximates.
      jaccardSql(0.7))) { (s, dir) =>
    Dedup.minhashLshPairs(tbl(s, dir, "documents"), w = 5, k = 32, bands = 16,
      minJ = 0.7)
      .orderBy("id_a", "id_b")
  }

  /** D13: d04 through the PERSISTED minhash index
    * ([[Dedup.buildMinhashIndex]] -> [[Dedup.minhashLshPairsIndexed]]) —
    * the index-build/serve split for the most-rerun pipeline at corpus
    * scale: signatures are computed once, written bucketed on doc_id, and
    * candidate generation + verify read the stored table (the shingle
    * payload never shuffles — ScaleOpsSpec asserts the bucketed
    * zero-corpus-exchange plan). The oracle is d04's VERBATIM: the
    * storage split must be invisible in the result. */
  query("d13_indexed_neardup", oracle = Some(
      // d13 = d04 served from the persisted bucketed signature index: the
      // storage split must be invisible, so the oracle is d04's VERBATIM.
      jaccardSql(0.7))) { (s, dir) =>
    Dedup.buildMinhashIndex(tbl(s, dir, "documents"), "graft_d13_minhash_idx",
      w = 5, k = 32, buckets = 8,
      path = Some(scratch("graft_minhash_idx")))
    Dedup.minhashLshPairsIndexed(s, "graft_d13_minhash_idx", k = 32, bands = 16,
        minJ = 0.7)
      .orderBy("id_a", "id_b")
  }

  /** D28: CDC edit-stability audit (the promise content-defined
    * chunking is CHOSEN for, measured: a one-word edit must perturb
    * only the chunk(s) it touches — fixed-width windows shift EVERY
    * downstream chunk and re-upload the whole tail; this census is the
    * number that justifies d12/d14's chunker, and the regression
    * tripwire if the boundary rule ever changes): every doc gets an
    * edited twin (one sentinel word inserted at its middle word
    * position), both variants chunk through the SAME in-kernel fold
    * ([[Dedup.cdcChunkHashes]]), and the per-doc census compares the
    * distinct chunk-hash SETS — n_common survives the edit, ch_orig /
    * ch_edit are the lost/gained chunks. CDC's locality bound: the
    * edit lands in ONE original chunk, so ch_orig <= 1 and ch_edit
    * <= 2 (2 iff the sentinel is itself a boundary word and splits
    * the chunk — even docs insert the interior word 'zzedit', odd
    * docs the boundary word 'zzy', so BOTH classes are live) — the
    * spec asserts the bound for every doc. Chunking is map-only; the
    * census is three hash folds + two |docs|-row joins. */
  query("d28_cdc_edit_stability", oracle = Some(
      // d28: both variants through the d12 window-chunker mirror, then
      // distinct-set compare per doc
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
        |ORDER BY no.doc_id""".stripMargin)) { (s, dir) =>
    val docs = tblPar(s, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 2)
    val edited = docs.withColumn("__w", split(col("text"), " "))
      .withColumn("__p", expr("size(__w) div 2"))
      .withColumn("__sent", when(col("doc_id") % 2 === 0, lit("zzedit"))
        .otherwise(lit("zzy")))
      .withColumn("text", expr(
        "array_join(concat(slice(__w, 1, __p), array(__sent), " +
          "slice(__w, __p + 1, size(__w) - __p)), ' ')"))
      .select(col("doc_id"), col("text"))
    val o = Dedup.cdcChunkHashes(docs).distinct()
    val e = Dedup.cdcChunkHashes(edited).distinct()
    val common = o.join(e, Seq("doc_id", "chunk_hash"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
    o.groupBy("doc_id").agg(count(lit(1)).as("n_orig"))
      .join(e.groupBy("doc_id").agg(count(lit(1)).as("n_edit")), Seq("doc_id"))
      .join(common, Seq("doc_id"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .select(col("doc_id"), col("n_orig"), col("n_edit"), col("n_common"),
        (col("n_orig") - col("n_common")).as("ch_orig"),
        (col("n_edit") - col("n_common")).as("ch_edit"))
      .orderBy("doc_id")
  }

  /** D14: exact substring-span dedup REMOVER ([[Dedup.chunkDedupRemove]])
    * — rewrites each doc with already-seen CDC chunks cut out (keep rule:
    * first-owner doc by min doc_id), the Lee et al. 2022 removal step
    * that d12 only audits. Map-only chunking; first-owner election and
    * re-assembly are hash/doc-id-keyed aggregations with map-side
    * partials; order-stable rebuild via in-aggregate array_sort. */
  query("d14_chunk_remove", oracle = Some(
      // Rebuilds the d12 chunking verbatim, then the REMOVER semantics:
      // a chunk occurrence survives iff its doc is the min doc_id owning
      // that chunk md5; clean_text re-joins surviving chunks in document
      // order ('' when everything was removed). All selection integer/string.
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
        |ORDER BY s.doc_id""".stripMargin)) { (s, dir) =>
    Dedup.chunkDedupRemove(tblPar(s, dir, "documents")).orderBy("doc_id")
  }

  /** D6: embedding-cosine near-dup dedup — keep-first assignment over
    * exact cosine pairs (tau=0.35 is non-vacuous at the oracle SF: 271
    * pairs / 201 dup docs at sf0.01). The scale path swaps the exact pair
    * kernel for LSH candidates via [[Dedup.embeddingNearDupFrom]]. */
  query("d06_embedding_neardup", oracle = Some(
      // keep-first dedup over exact cosine pairs; same dot/norm/round(6)
      // contract as v02 so the threshold compare is cross-engine stable
      s"""WITH n AS (SELECT vec_id, embedding, ${norm("embedding")} AS nrm FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cos
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id_b AS doc_id, min(id_a) AS dup_of, count(*) AS n_near
         |FROM p WHERE cos >= 0.35 GROUP BY 1 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    Dedup.embeddingNearDup(embeddings(s, dir), tau = 0.35)
      .orderBy("doc_id")
  }

  /** D16: SemDeDup — semantic dedup with cluster-bounded pairwise search
    * ([[Dedup.semanticDedup]]): d06's semantics restricted to k-means
    * clusters, sum(|cluster|^2) comparisons instead of |corpus|^2. The
    * oracle mirrors the k-means quantizer bit-exactly (d16Sql); VerifyExtras
    * also recomputes the ENTIRE pipeline —
    * assignment, within-cluster pairs, closure, survivor election — in
    * plain JVM code against the dumped parquet and requires exact
    * equality, and LlmOpsSpec pins the pair-pruning contract against the
    * exact grid.
    * The closure moves 8-byte id labels, and survivor election is one arg_max
    * hash aggregate on the component id, never a window sort. */
  query("d16_semantic_dedup", oracle = Some(d16Sql)) { (s, dir) =>
    Dedup.semanticDedup(embeddings(s, dir), tau = 0.35)
      .orderBy("vec_id")
  }

  /** D7: transitive near-dup clusters — connected components over the d03
    * pair graph; every clustered doc with its canonical representative
    * (min reachable id) and cluster size.
    *
    * Cost shape: the pair generation (~d03) plus diameter+1 propagation
    * rounds. At bench scale the rounds are pure job-scheduling overhead
    * (hundreds of label rows); at real scale each round is one equi-join
    * shuffle on the vertex id — the round COUNT, not the round cost, is
    * what the tiny-cluster structure of near-dup graphs keeps small. */
  query("d07_dedup_components", oracle = Some {
      // transitive closure of the d03 pair graph via a recursive CTE: comp =
      // min reachable id, matching the Spark min-label-propagation fixpoint
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
    }) { (s, dir) =>
    val comps = Dedup.dedupComponents(
      Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), w = 5, minJ = 0.2)
        .select("id_a", "id_b"))
    comps.join(
        comps.groupBy("comp_id").agg(count(lit(1)).as("n_members")), "comp_id")
      .select(col("doc_id"), col("comp_id"), col("n_members"))
      .orderBy("doc_id")
  }

  /** D29: deterministic negative sampling for contrastive training —
    * the batch-prep step an embedding-training pipeline runs after
    * dedup: every anchor needs k negatives that are NOT near-duplicates
    * of the anchor (a near-dup negative is a FALSE negative and
    * actively corrupts the contrastive objective — the reason this op
    * belongs next to the dedup family rather than plain sampling).
    * Fully deterministic and distributed: every doc hashes into one of
    * 64 buckets and gets a WITHIN-BUCKET rank (the only window here is
    * partitioned by bucket — bucket count is the scale knob: size B so
    * |corpus|/B fits a task, and the global-sort ring a naive
    * shuffled-ring sampler needs never exists); each anchor draws 6
    * candidate (bucket, position) pairs from md5 streams, candidates
    * resolve via ONE equi-join on (bucket, rank mod bucket-size), then
    * self-hits and direct d03 near-dup pairs of the anchor are
    * anti-joined away and the first 4 survivors by draw order are kept
    * (6 draws for 4 slots = the over-provisioning that makes the
    * exclusion non-truncating at realistic dup rates; anchors with
    * fewer survivors keep what they have — the audit-visible case).
    * Integer/md5 end to end — fully oracle-able. */
  query("d29_negative_sampling", oracle = Some {
      // d29: bucketed deterministic negative sampling — md5 bucket + rank
      // resolution, direct d03-pair exclusion (same capped jaccard CTEs),
      // first 4 distinct survivors by draw order
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
    }) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val bkt = docs.select(col("doc_id"),
      expr("cast(conv(substring(md5(concat('g:', cast(doc_id as string))),1,8),16,10) as bigint) % 64")
        .as("g"))
    val ranked = bkt.withColumn("r",
      (row_number().over(Window.partitionBy("g").orderBy("doc_id")) - 1)
        .cast("long"))
    val sizes = bkt.groupBy("g").agg(count(lit(1)).as("gsz"))
    val draws = docs.filter(sampleBucket(col("doc_id")) < 10)
      .select(col("doc_id").as("anchor_id"))
      .select(col("anchor_id"), explode(typedLit(List(1, 2, 3, 4, 5, 6))).as("j"))
      .withColumn("g",
        expr("cast(conv(substring(md5(concat('b:', cast(anchor_id as string), ':', cast(j as string))),1,8),16,10) as bigint) % 64"))
      .withColumn("p",
        expr("cast(conv(substring(md5(concat('p:', cast(anchor_id as string), ':', cast(j as string))),1,8),16,10) as bigint)"))
    val cand = draws.join(broadcast(sizes), Seq("g"))
      .withColumn("r", col("p") % col("gsz"))
      .join(ranked, Seq("g", "r"))
      .select(col("anchor_id"), col("j"), col("doc_id").as("neg_id"))
    val pairs = Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2)
      .select(col("id_a"), col("id_b"))
    val ex = pairs.unionByName(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .select(col("id_a").as("anchor_id"), col("id_b").as("neg_id"))
    val kept = cand.filter(col("neg_id") =!= col("anchor_id"))
      .join(ex, Seq("anchor_id", "neg_id"), "left_anti")
      // a bucket can be drawn twice for one anchor and resolve to the
      // same doc — negatives must be distinct within an anchor's set
      .groupBy(col("anchor_id"), col("neg_id")).agg(min(col("j")).as("j"))
    kept.withColumn("rnk", row_number().over(
        Window.partitionBy("anchor_id").orderBy("j", "neg_id")).cast("long"))
      .filter(col("rnk") <= 4)
      .select(col("anchor_id"), col("rnk"), col("neg_id"),
        col("j").cast("long").as("draw"))
      .orderBy("anchor_id", "rnk")
  }

  /** D19: SOFT dedup — down-weight instead of drop: every doc keeps a
    * sampling weight 1/|near-dup cluster| (ppm, integer division), so a
    * 5-way duplicated page contributes one page's worth of expected
    * training mass while unique docs keep weight 1.0. The policy knob
    * between d02's hard drop and keeping everything — hard dedup can
    * hurt when near-dups carry real variation (translations, forks,
    * quote contexts). Same totalized components as t24 (singletons =
    * their own cluster of 1); the weight is map-only on the cluster
    * sizes, integer end to end. */
  query("d19_soft_dedup_weights", oracle = Some {
      // same totalized components as t24, then the integer ppm weight —
      // cluster sizes and the 1/n division both exact integers
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
    }) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val comps = Dedup.dedupComponents(
      Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2).select("id_a", "id_b"))
    val clustered = docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp_id"), col("doc_id")).as("cluster"))
    clustered
      .join(clustered.groupBy("cluster").agg(count(lit(1)).as("n_members")), "cluster")
      .select(col("doc_id"), col("cluster"), col("n_members"),
        expr("1000000 div n_members").as("weight_ppm"))
      .orderBy("doc_id")
  }

  /** D20: SEMANTIC admission ([[Similarity.semanticAdmit]]) — the
    * embedding-level front door: batch = odd vec_ids (the day's crawl),
    * corpus = even vec_ids (already ingested); a batch vector is
    * admitted iff no corpus vector lies within cosine 0.35 (the d06
    * tau). Catches paraphrases/re-renders that byte- and
    * shingle-admission (d10/d13) miss. The batch broadcasts, the corpus
    * streams once map-side — the d08 small-side discipline. */
  query("d20_semantic_admission", oracle = Some(
      // admitted = batch vectors with NO corpus vector at rounded cosine
      // >= tau; same dot/norm/round(6) contract as v02/d06
      s"""WITH b AS (SELECT vec_id, embedding, label, ${norm("embedding")} AS nrm
         |           FROM embeddings WHERE vec_id % 2 = 1),
         |c AS (SELECT embedding, ${norm("embedding")} AS nrm
         |      FROM embeddings WHERE vec_id % 2 = 0),
         |hit AS (SELECT DISTINCT b.vec_id
         |        FROM b JOIN c
         |          ON round(${dot("b.embedding", "c.embedding")} / (b.nrm * c.nrm), 6) >= 0.35)
         |SELECT b.vec_id, b.label FROM b
         |WHERE b.vec_id NOT IN (SELECT vec_id FROM hit)
         |ORDER BY b.vec_id""".stripMargin)) { (s, dir) =>
    val emb = embeddings(s, dir)
    Similarity.semanticAdmit(
        emb.filter(col("vec_id") % 2 === 1),
        emb.filter(col("vec_id") % 2 === 0), tau = 0.35)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** D21: duplication rate by SOURCE — the crawl-triage scorecard: per
    * source, how many docs sit in near-dup clusters, how many are the
    * cluster's canonical survivor, and the dup rate in ppm. The number
    * that decides which feed gets throttled or re-crawled; one label
    * join from the d07 closure onto doc metadata, integer ppm. */
  query("d21_dup_rate_by_source", oracle = Some {
      // the d07 closure joined to source metadata; clustered = any comp
      // label, canonical = the min-id representative, ppm integer division
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
    }) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val comps = Dedup.dedupComponents(
      Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2).select("id_a", "id_b"))
    docs.select(col("doc_id"), col("source"))
      .join(comps, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("comp_id").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("comp_id") === col("doc_id"), 1L).otherwise(0L)).as("n_canonical"))
      .select(col("source"), col("n_docs"), col("n_clustered"), col("n_canonical"),
        expr("1000000 * n_clustered div n_docs").as("dup_ppm"))
      .orderBy("source")
  }

  /** D22: cross-source duplication overlap matrix — d21 says HOW MUCH
    * each feed duplicates; this says WITH WHOM: per unordered source
    * pair, the near-dup clusters containing docs from both (the
    * "who mirrors whom" triage that decides which of two overlapping
    * feeds to drop entirely vs de-prioritize). One (cluster, source)
    * dedup off the d07 closure labels, then a self-join on the cluster
    * id — pair fan-out bounded by sources-per-cluster, never docs —
    * and a distinct-cluster count per pair. */
  query("d22_source_overlap", oracle = Some {
      // the d21 closure, reduced to (cluster, source) pairs and self-joined
      // on the cluster id: shared-cluster counts per unordered source pair
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
    }) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val comps = Dedup.dedupComponents(
      Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2).select("id_a", "id_b"))
    val cs = docs.select(col("doc_id"), col("source"))
      .join(comps, Seq("doc_id"))
      .select(col("comp_id"), col("source")).distinct()
    cs.select(col("comp_id"), col("source").as("src_a"))
      .join(cs.select(col("comp_id"), col("source").as("src_b")), Seq("comp_id"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count_distinct(col("comp_id")).as("n_shared_clusters"))
      .orderBy("src_a", "src_b")
  }

  /** D8: benchmark decontamination — training docs sharing >= 2 distinct
    * 3-gram shingles with any "benchmark" doc (the doc_id % 97 == 0 slice
    * stands in for a held-out eval set; w=3/minShared=2 is non-vacuous at
    * every SF: 12 contaminated docs at sf0.01, ~1.6k at sf0.1). Bench
    * postings broadcast; the corpus is never shuffled. */
  query("d08_decontaminate", oracle = Some(
      // train/eval shingle-overlap contamination: 3-gram shingles (1-based
      // INCLUSIVE slice w[i:i+2] = 3 words), distinct per doc; overlap counts
      // over shingle STRINGS equal Spark's counts over 64-bit shingle hashes
      // (collision odds ~n^2/2^65, same contract as d03)
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
        |FROM ov WHERE shared >= 2 GROUP BY 1 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    Dedup.decontaminate(
        train = docs.filter(col("doc_id") % 97 =!= 0),
        bench = docs.filter(col("doc_id") % 97 === 0),
        w = 3, minShared = 2)
      .orderBy("doc_id")
  }

  /** D23: ExactSubstr span detection ([[Dedup.exactSubstrSpans]], Lee et
    * al. 2022 §4.1) — maximal word-offset spans covered by 5-word windows
    * that occur verbatim in >= 2 documents: the span-granularity
    * complement of d12/d14's chunk dedup, with offsets a pipeline can cut
    * surgically. Positioned window hashes from the codegen
    * shingle_hash_seq kernel; cross-doc census + left-semi flag-back +
    * per-doc island merge — nothing pairwise. Oracle: the bit-exact
    * XXH64 window-hash SQL (t04's core) + the identical gaps-and-islands
    * merge. */
  query("d23_exact_substr", oracle = Some(d23Sql)) { (s, dir) =>
    Dedup.exactSubstrSpans(tbl(s, dir, "documents"), w = 5)
      .orderBy("doc_id", "span_start")
  }

  /** D11: edit-distance near-dup pairs ([[Dedup.editDistancePairs]]) —
    * 4-gram-shingle candidate generation (>= 2 shared) + bounded-prefix
    * thresholded-levenshtein verify. */
  query("d11_edit_distance", oracle = Some(
      // d03's candidate shape at w=4 with a >=2-shared-shingles gate
      // + classic levenshtein over the 10-word prefixes, identical in DuckDB.
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
        |ORDER BY id_a, id_b""".stripMargin)) { (s, dir) =>
    Dedup.editDistancePairs(tbl(s, dir, "documents"), w = 4, maxDist = 30)
      .orderBy("id_a", "id_b")
  }

  /** D12: content-defined chunking shared-content audit
    * ([[Dedup.chunkSharedContent]]) — boundary-by-content chunks, 16-byte
    * chunk hashes, per-doc shared-chunk fraction. The oracle rebuilds the
    * identical chunking (same md5-prefix boundary rule, same running-sum
    * chunk ids, same joined-chunk md5) in SQL.
    * Chunking is an in-kernel fold over each doc's word array (map-only: no
    * explode, no window), and everything after it rides 16-byte chunk hashes
    * through partial-aggregated group-bys. */
  query("d12_chunk_dedup", oracle = Some(
      // Rebuilds the engine's content-defined chunking verbatim: the same
      // md5-prefix-mod-4 word boundary rule, the same running-sum chunk ids,
      // the same space-joined chunk md5 — then the shared-chunk stats. All
      // selection is integer; only the informational fraction is rounded.
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
        |FROM p ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    Dedup.chunkSharedContent(tblPar(s, dir, "documents"), modBoundary = 4)
      .orderBy("doc_id")
  }

  /** D10: incremental dedup ([[Dedup.incrementalDedup]]) — admit the new
    * dump (doc_id % 3 == 0) against the existing corpus, keyed on a
    * canonical 5-word-prefix fingerprint so near-dup families share an
    * admission key (the full-content key is d01/d02's surface; at sf0.01
    * it would make the anti-join vacuously total).
    * The anti-join runs on the 16-byte fingerprint, so only hashes shuffle,
    * and the keep-first election is a partial-aggregated min(doc_id)
    * semi-joined back, with no window sort. */
  query("d10_incremental_dedup", oracle = Some(
      // Admission = NOT IN existing fingerprints; within-batch keep-first by
      // min doc_id per fingerprint. Mirrors the 5-word-prefix canonical key.
      """WITH k AS (SELECT doc_id, lang, source,
        |  md5(list_aggregate(string_split(text, ' ')[1:5], 'string_agg', ' ')) AS fp
        |  FROM documents),
        |fresh AS (SELECT * FROM k WHERE doc_id % 3 = 0
        |  AND fp NOT IN (SELECT fp FROM k WHERE doc_id % 3 <> 0)),
        |w AS (SELECT fp, min(doc_id) AS doc_id FROM fresh GROUP BY fp)
        |SELECT f.doc_id, f.lang, f.source FROM fresh f
        |JOIN w ON f.fp = w.fp AND f.doc_id = w.doc_id
        |ORDER BY f.doc_id""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val fp = (t: Column) => md5(array_join(slice(split(t, " "), 1, 5), " "))
    Dedup.incrementalDedup(
        newBatch = docs.filter(col("doc_id") % 3 === 0),
        corpus = docs.filter(col("doc_id") % 3 =!= 0),
        fpOf = fp)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** D9: Bloom-prefiltered decontamination — same exact-overlap semantics
    * as d08 (the oracle is the same exact SQL: Bloom false positives are
    * discarded by the verifying join, false negatives don't exist), but
    * clean corpus docs are rejected by a native `might_contain` gate BEFORE
    * their shingles explode. A different bench split (mod 89) keeps the two
    * queries' answers independently non-trivial. */
  query("d09_bloom_decontaminate", oracle = Some(
      // Identical EXACT semantics to d08 (mod-89 split): the Bloom gate is a
      // pure pre-filter and must be invisible in the answer.
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
        |FROM ov WHERE shared >= 2 GROUP BY 1 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    Dedup.decontaminateBloom(
        train = docs.filter(col("doc_id") % 89 =!= 0),
        bench = docs.filter(col("doc_id") % 89 === 0),
        w = 3, minShared = 2)
      .orderBy("doc_id")
  }

  /** SimHash fingerprints; the oracle reproduces them bit-exactly (d05Sql). */
  query("d05_simhash", oracle = Some(d05Sql)) { (s, dir) =>
    Dedup.withSimhash(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("simhash"))
      .orderBy("doc_id")
  }

  /** D24: crawl-frontier URL dedup ([[WebOps.urlDedup]]) — the
    * canonicalize-then-collapse step that runs BEFORE content dedup
    * (fetching decoration variants wastes fetches and poisons content
    * dedup with twins). The fixture gives every 4-doc page group the four
    * classic decorations of one logical URL (unsorted params; trailing
    * slash + utm tracking param; uppercase scheme+host + explicit :443;
    * fragment) — all four must collapse to the same canonical row.
    * Canonicalization is map-only built-in string expressions, then ONE hash
    * aggregation on the canonical key whose map-side partials collapse the
    * variants before the exchange. */
  query("d24_url_dedup", oracle = Some(
      // d24: identical deterministic decoration plant (4 variants per page
      // group), then the SAME canonicalization rule chain mirrored step by
      // step in DuckDB string functions (lowercase scheme+host, drop
      // fragment, drop :443/:80, drop tracking params, sort surviving
      // params, strip trailing path slashes), then the collapse census
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
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    val p = expr("doc_id div 4")
    val hostL = concat(lit("www.site"), (p % 7).cast("string"), lit(".org"))
    val path = concat(lit("/articles/item"), p.cast("string"))
    val v = col("doc_id") % 4
    val url = when(v === 0,
      concat(lit("https://"), hostL, path, lit("?b=2&a=1")))
      .when(v === 1,
        concat(lit("https://"), hostL, path, lit("/?a=1&utm_source=feed&b=2")))
      .when(v === 2,
        concat(lit("HTTPS://"), upper(hostL), lit(":443"), path, lit("?a=1&b=2")))
      .otherwise(
        concat(lit("https://"), hostL, path, lit("?a=1&b=2#section-3")))
    val planted = tbl(s, dir, "documents").withColumn("url", url)
    WebOps.urlDedup(planted).orderBy("canonical_url")
  }

  /** D25: crawl-snapshot diff ([[WebOps.crawlDiff]]) — the refresh-QA
    * join run before admitting a new dump. The fixture pairs docs into
    * page groups (doc_id div 2 = page, parity = snapshot) and assigns
    * each page a fate by page bucket: 0-9 removed (present only in A),
    * 10-19 added (only in B), 20-34 changed (content version differs by
    * snapshot), the rest unchanged (content a function of the page
    * alone) — all four statuses live at every SF, detector sees only
    * (doc_id, url, text) per snapshot.
    * Two map-side-collapsed aggregations and ONE full-outer equi-join on the
    * canonical key; only the 16-byte fingerprint rides the join. */
  query("d25_crawl_diff", oracle = Some(
      // d25: identical page/snapshot/fate plant, then the same per-side
      // collapse (arg_min fingerprint by doc_id) and FULL OUTER classify;
      // planted URLs are already canonical so the oracle states them
      // directly; NULL side-ids coalesced to -1 on both engines
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
        |ORDER BY 1""".stripMargin)) { (s, dir) =>
    val pg = expr("doc_id div 2")
    val base = tbl(s, dir, "documents")
      .withColumn("__pg", pg)
      .withColumn("__snap", col("doc_id") % 2)
      .withColumn("__pb", col("__pg") % 100)
      .filter(!(col("__pb") < 10 && col("__snap") === 1) &&
        !(col("__pb") >= 10 && col("__pb") < 20 && col("__snap") === 0))
      .withColumn("url", concat(lit("https://www.site"),
        (col("__pg") % 7).cast("string"), lit(".org/p/"),
        col("__pg").cast("string")))
      .withColumn("text",
        when(col("__pb") >= 20 && col("__pb") < 35,
          concat(lit("v"), col("__snap").cast("string"), lit("-"),
            col("__pg").cast("string")))
          .otherwise(concat(lit("stable-"), col("__pg").cast("string"))))
    val cols = Seq("doc_id", "url", "text").map(col)
    WebOps.crawlDiff(
      base.filter(col("__snap") === 0).select(cols: _*),
      base.filter(col("__snap") === 1).select(cols: _*))
      .orderBy("canonical_url")
  }

  /** D15: cluster-keep-BEST dedup policy — near-dup components (the d07
    * closure) each keep their highest-QUALITY member instead of the
    * smallest id: the production election when duplicates differ in
    * extraction quality. Quality = the t20 integer micro-score, so the
    * whole election is integer-exact; selection through the native
    * `arg_max` ObjectHashAggregate on the (q_mscore, doc_id) composite
    * (unique by id — the determinism contract) with map-side partials:
    * one winner row per component crosses the shuffle, never a window
    * sort. */
  query("d15_cluster_keep_best", oracle = Some {
      // Cluster-keep-best mirror: d07's recursive closure over the same
      // jaccard edges, each component's winner re-elected as ORDER BY
      // (q_mscore DESC, doc_id DESC) LIMIT 1 — identical to the engine's
      // arg_max over the (q_mscore, doc_id) struct. All integer.
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
    }) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val comps = Dedup.dedupComponents(
      Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2).select("id_a", "id_b"))
    val scored = TextOps.qualityScoreLinear(docs)
      .select(col("doc_id"), col("q_mscore"))
    comps.join(scored, "doc_id")
      .groupBy("comp_id")
      .agg(count(lit(1)).as("n_members"),
        graft.functions.VectorAggregates.argMax(
          struct(col("q_mscore"), col("doc_id")),
          struct(col("doc_id").as("keep_id"), col("q_mscore").as("keep_mscore")))
          .as("__b"))
      .select(col("comp_id"), col("n_members"),
        col("__b.keep_id").as("keep_id"), col("__b.keep_mscore").as("keep_mscore"))
      .orderBy("comp_id")
  }
}
