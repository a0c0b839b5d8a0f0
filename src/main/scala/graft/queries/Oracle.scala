package graft.queries

/**
 * The DuckDB SQL that every query declares beside its plan, as one map for
 * the driver's oracle compare (`oracle_sql.json`), plus the SQL helpers
 * that more than one query family shares. Column aliases match the Spark
 * output exactly (the driver sorts columns by name and hash-compares
 * values).
 *
 * Queries with no SQL (a08_approx_distinct and a16_approx_percentiles):
 * their answers rest on sketch internals (HLL++, KLL) that DuckDB cannot
 * reproduce; VerifyExtras covers each with an error bound against the
 * exact computation, and the registry refuses a query that has neither.
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
  private[queries] def jaccardSql(minJ: Double, postingsCap: Option[Int] = None): String = {
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
  private[queries] val qMicroSum =
    """CAST(list_aggregate(list_transform(w, t ->
      |    CAST('0x' || substring(md5('qw' ||
      |      CAST(CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) % 256 AS VARCHAR)
      |    ), 1, 8) AS BIGINT) % 2000001 - 1000000), 'sum') AS BIGINT)""".stripMargin

  private val sumSq = "list_aggregate(list_transform(%s, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')"

  /** Okapi BM25 of every document against the 3-term fixture query as
    * shared CTE text ending in `sc(doc_id, n_qterms, score)` — one
    * formula definition for t18 (per-doc scores) and x29 (the sparse
    * leg of the hybrid fusion). */
  private[queries] lazy val bm25CoreSql: String =
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

  private[queries] def norm(c: String): String = s"sqrt(${sumSq.format(c)})"
  private[queries] def dot(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"

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

  private[queries] val Mod = "18446744073709551616::HUGEINT"
  private val XxP1 = BigInt("9E3779B185EBCA87", 16)
  private val XxP2 = BigInt("C2B2AE3D27D4EB4F", 16)
  private val XxP3 = BigInt("165667B19E3779F9", 16)
  private val XxP4 = BigInt("85EBCA77C2B2AE63", 16)
  private val XxP5 = BigInt("27D4EB2F165667C5", 16)

  /** let-binding via a single-element lambda: `body` sees `expr` as `v`. */
  private[queries] def let(expr: String, v: String, body: String): String =
    s"list_extract(list_transform([$expr], $v -> $body), 1)"

  /** (a * c) mod 2^64 with the multiply split into 32-bit halves. */
  private[queries] def mulmod(a: String, c: BigInt): String = {
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
  private[queries] def xxhashLong(v: String, s: String): String =
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
  private[queries] def toSigned(x: String): String =
    s"CAST(CASE WHEN ($x) >= 9223372036854775808 THEN ($x) - $Mod ELSE ($x) END AS BIGINT)"

  /** splitmix64 of a non-negative HUGEINT < 2^64 (Dedup.splitmix64). */
  private[queries] def splitmixSql(x: String): String =
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
  private[queries] def fdot(a: String, b: String): String = dot(a, b)

  /** Lloyd-chain CTE text ending in: smp(pos, v) hash-ordered sample,
    * c5(cl, cen) trained float centroids, uf(cl, u) unit rows,
    * asg(vec_id, cl) full-corpus nearest-centroid assignment. */
  private[queries] val lloydCtes: String = {
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
  private[queries] val pcaCtes: String = {
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

  /** Shared CTE core for t04/d23: per-doc 5-word window hashes at their
    * word positions — per-word XXH64 (seed 42) + the chained hashLong
    * combine, exactly TextKernels.shingleHashes/shingleHashSeq. `wins`
    * yields (doc_id, pos0 0-based window start, whash HUGEINT). */
  private[queries] val xxhWinCtes: String = {
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

  /** t48's gate mirror — also serves st25, the streaming form of the
    * same operator (keyed-state assembler; StreamingSpec proves
    * stream == batch), the v11/v12 shared-SQL precedent. */
  private[queries] def t48Sql: String =
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

  /** query name -> DuckDB SQL, from the registered specs. */
  lazy val sql: Map[String, String] =
    Queries.specs.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
