package graft.queries

import graft.llm.{Dedup, TextOps, WebOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Queries.{tbl, tblPar, events, sampleBucket}
import Oracle.{jaccardSql, qMicroSum, bm25CoreSql, norm, Mod, toSigned, xxhWinCtes, t48Sql}

/** LLM-data text queries (t): tokenization, quality scoring and filters,
  * language id, sampling, packing, and corpus censuses. */
object TextQueries extends QueryFamily {

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

  // ===== LLM: text analysis =================================================

  /** Token counting: whitespace + BPE-ish regex tokens (both native
    * counting kernels — no token arrays materialized). */
  query("t01_token_count", oracle = Some(
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.wordCount(col("text")).cast("long").as("ws_tokens"),
        TextOps.regexTokenCount(col("text")).cast("long").as("re_tokens"))
      .orderBy("doc_id")
  }

  /** T23: temperature-scaled training-mix weights (the multilingual
    * sampling rule of Conneau & Lample 2019 / the LLaMA data mix, at
    * τ = 2): p_l ∝ sqrt(tokens_l) — up-samples low-resource languages
    * relative to their raw share without flattening the mix. Exact
    * integer token counts feed ONE sqrt per language (IEEE
    * correctly-rounded, unlike pow — why τ is 2 here) and one sum over
    * the handful of language rows; the flat share rides along for the
    * contrast. The 1M-token epoch allocation rounds from the weight. */
  query("t23_mixture_weights", oracle = Some(
      // τ=2 temperature mix: sqrt is IEEE correctly-rounded in both
      // engines (pow is not — why the temperature is 2); the only FP sums
      // run over the handful of language rows
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
        |FROM c, t ORDER BY c.lang""".stripMargin)) { (s, dir) =>
    val counts = tbl(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.wordCount(col("text")).cast("long")).as("n_tokens"))
    val totals = counts.agg(
      sum(col("n_tokens")).as("__tot"),
      sum(sqrt(col("n_tokens").cast("double"))).as("__stot"))
    counts.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("__tot"), 6).as("flat_r"),
        round(sqrt(col("n_tokens").cast("double")) / col("__stot"), 6).as("weight_r"),
        round(lit(1000000.0) * sqrt(col("n_tokens").cast("double")) / col("__stot"), 0)
          .cast("long").as("epoch_tokens"))
      .orderBy("lang")
  }

  /** T24: contamination-safe train/holdout split
    * ([[Dedup.leakFreeSplit]]) — the split is cut along NEAR-DUP CLUSTER
    * boundaries (d07's components over the d03 pair graph, singletons
    * their own cluster), so no near-duplicate pair ever straddles
    * train/holdout: the within-corpus leak a per-doc hash split is blind
    * to. Assignment hashes the cluster id — deterministic md5 rule, the
    * same integer idiom both engines evaluate identically; the only cost
    * beyond the pair graph is the log-diameter component closure and one
    * map-only labeling pass. */
  query("t24_leakfree_split", oracle = Some {
      // the d07 recursive component closure totalized over ALL documents
      // (LEFT join, singleton = own cluster), then the identical md5
      // cluster-hash split rule — a near-dup pair split across
      // train/holdout anywhere is a hash mismatch
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
    }) { (s, dir) =>
    Dedup.leakFreeSplit(tbl(s, dir, "documents"),
        Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), w = 5, minJ = 0.2),
        holdoutPct = 10)
      .orderBy("doc_id")
  }

  /** T25: lexical diversity — type-token ratio + hapax fraction per doc,
    * the classic gibberish/boilerplate detector orthogonal to t02/t21:
    * keyboard-mash has high TTR but no stopwords, template spam has LOW
    * TTR (the same phrases over and over) while passing length checks.
    * Canonical distributed form: explode -> (doc, word) partial-agg
    * count -> per-doc fold — two hash-keyed shuffles with map-side
    * partials, state per task O(distinct words), arbitrary doc lengths
    * (no in-row quadratic). Ratios as ppm integer division — nothing
    * floating crosses the hash. */
  query("t25_lexical_diversity", oracle = Some(
      // explode -> per-(doc, word) counts -> per-doc fold, ratios as exact
      // integer ppm — the same split-on-single-space token contract as the
      // rest of the t-family
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
        |FROM d ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("doc_id"), col("n_words"), col("n_types"), col("hapax"),
        expr("1000000 * n_types div n_words").as("ttr_ppm"),
        expr("1000000 * hapax div n_words").as("hapax_ppm"))
      .orderBy("doc_id")
  }

  /** T26: context-window chunking ([[TextOps.chunkWindows]]) — docs
    * split into 32-token windows at stride 24 (the HF overflow-stride
    * convention: tails never lost, 8-token boundary overlap). Map-only
    * Generate, no shuffle: the chunker runs at scan speed and its output
    * — not the raw corpus — is what downstream packing shuffles. */
  query("t26_chunk_windows", oracle = Some(
      // same chunk-count rule (1 + ceil((len-32)/24)), same 1-based
      // INCLUSIVE slice semantics, chunk text compared verbatim
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t2 AS (SELECT doc_id, w, len(w) AS l FROM t),
        |c AS (SELECT doc_id, unnest(list_transform(
        |        range(0, CASE WHEN l <= 32 THEN 1 ELSE (l - 32 + 23) // 24 + 1 END),
        |        i -> struct_pack(i := i,
        |               c := array_to_string(w[i*24+1:i*24+32], ' ')))) AS u
        |      FROM t2)
        |SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_idx, u.c AS chunk,
        |       CAST(len(string_split(u.c, ' ')) AS BIGINT) AS n_tok
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)) { (s, dir) =>
    TextOps.chunkWindows(tbl(s, dir, "documents"), w = 32, s = 24)
      .orderBy("doc_id", "chunk_idx")
  }

  /** T48: SFT conversation assembly — the gate between raw interaction
    * logs and instruction-tuning data: flat per-turn events become
    * per-conversation training rows ONLY if they pass the structural
    * contract every chat template assumes (a single violation —
    * assistant-first, doubled user turns, a system prompt injected
    * mid-dialog — silently corrupts the loss mask downstream, which is
    * why this validates BEFORE rendering, not after). Conversations
    * key on (user_id, day) — a map-only bucketing, no sessionize
    * window — then per conversation: turn order = (ts, event_id),
    * roles planted by md5 (user/assistant/system so every violation
    * class is live), the gate = {system only at turn 1, non-system
    * turns strictly alternate user-first, >= 2 non-system turns,
    * rendered template within the char budget}, and the rendered
    * '<|role|>text' template built by the array_sort(collect_list)
    * in-group fold (the t11 line-rebuild idiom — deterministic order,
    * NO per-turn window sort). ONE shuffle on the conversation key;
    * both windows and the fold share it (Catalyst reuses the
    * exchange). Per-conversation state is bounded by the day bucket —
    * the property that lets the same plan stream (st08's session
    * window is the streaming twin). */
  query("t48_sft_assembly", oracle = Some(
      // t48: (user_id, day) conversations, md5-planted roles; pos2 = running
      // non-system count (unique ordering, RANGE==ROWS) makes the alternation
      // violation per-row, so the whole gate is one window + one fold —
      // same single-pass shape as the Spark plan, every count BIGINT.
      t48Sql)) { (s, dir) =>
    val wC = Window.partitionBy("user_id", "day").orderBy("__tsu", "event_id")
    // pos2 = running non-system count INCLUDING the current row — for a
    // non-system turn it is exactly its 1-based alternation slot, so the
    // violation flag is per-row and the whole gate folds in ONE pass
    // (the (__tsu, event_id) ordering is unique, so the default RANGE
    // frame equals ROWS on both engines). One scan, one exchange, one
    // Window node (both functions share partitioning and ordering), no
    // join.
    val turns = events(s, dir)
      .withColumn("day", expr("__tsu div 86400000000"))
      .withColumn("rr",
        expr("cast(conv(substring(md5(concat('role:', cast(event_id as string))),1,8),16,10) as bigint) % 10"))
      .withColumn("role", when(col("rr") < 4, "user")
        .when(col("rr") < 9, "assistant").otherwise("system"))
      .withColumn("pos", row_number().over(wC))
      .withColumn("pos2",
        sum(when(col("role") =!= "system", 1L).otherwise(0L)).over(wC))
      .withColumn("viol", when(col("role") =!= "system" &&
        ((col("pos2") % 2 === 1 && col("role") =!= "user") ||
          (col("pos2") % 2 === 0 && col("role") =!= "assistant")), 1L)
        .otherwise(0L))
    turns.groupBy("user_id", "day").agg(
      count(lit(1)).as("n_turns"),
      sum(when(col("role") =!= "system", 1L).otherwise(0L)).as("n_nonsys"),
      sum(when(col("role") === "system" && col("pos") > 1, 1L).otherwise(0L))
        .as("n_sys_late"),
      sum(col("viol")).as("n_role_viol"),
      array_join(transform(array_sort(collect_list(struct(col("pos"),
        concat(lit("<|"), col("role"), lit("|>"), col("event_type"))
          .as("part")))), x => x.getField("part")), "").as("rendered"))
      .select(col("user_id"), col("day"), col("n_turns"), col("n_nonsys"),
        col("n_sys_late"), col("n_role_viol"), col("rendered"),
        length(col("rendered")).cast("long").as("n_chars"))
      .withColumn("kept", col("n_role_viol") === 0 && col("n_sys_late") === 0 &&
        col("n_nonsys") >= 2 && col("n_chars") <= 60)
      .orderBy("user_id", "day")
  }

  /** T49: quality-gate operating-point table — the "choose your
    * threshold" artifact a corpus owner reads BEFORE wiring t02's score
    * into a filter (d26 audits DEDUP thresholds, this audits the
    * quality gate): for every threshold bucket, how many docs and
    * tokens survive, absolute and as ppm of the language's corpus —
    * the retention/quality trade-off curve that decides the operating
    * point (gate at 0.3 and keep 80% of tokens, or at 0.6 and keep
    * 35%?). Integer-exact bucketing: score_e4 = round(score * 10000)
    * recovers the round-4 score as an exact integer on both engines,
    * bucket = score_e4 div 1000; survivors-at-threshold is a
    * DESC-cumulative sum over each language's <= 11 bucket rows — a
    * bounded window, no second corpus pass; totals ride the same
    * partition. ONE corpus fold + an 11-row-per-lang window. */
  query("t49_quality_tradeoff", oracle = Some(
      // t49: t02's proven round-4 score recovered as an exact e4 integer,
      // DESC-cumulative survivors over <= 11 bucket rows per lang, ppm of
      // the same-partition totals
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
        |FROM w ORDER BY lang, bucket""".stripMargin)) { (s, dir) =>
    val q = TextOps.qualityStats(tbl(s, dir, "documents"))
      .select(col("lang"), col("n_words"),
        expr("cast(round(quality_score * 10000) as bigint) div 1000")
          .as("bucket"))
    val b = q.groupBy("lang", "bucket").agg(
      count(lit(1)).as("n_docs"), sum("n_words").as("n_tokens"))
    val wCum = Window.partitionBy("lang")
      .orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("lang")
    b.withColumn("kept_docs", sum("n_docs").over(wCum))
      .withColumn("kept_tokens", sum("n_tokens").over(wCum))
      .withColumn("tot_docs", sum("n_docs").over(wAll))
      .withColumn("tot_tokens", sum("n_tokens").over(wAll))
      .select(col("lang"), col("bucket"), col("n_docs"), col("n_tokens"),
        col("kept_docs"), col("kept_tokens"),
        expr("(1000000 * kept_docs) div tot_docs").as("kept_docs_ppm"),
        expr("(1000000 * kept_tokens) div tot_tokens").as("kept_tokens_ppm"))
      .orderBy("lang", "bucket")
  }

  /** T47: code-switching census — the mixed-language detector a
    * WHOLE-DOC langid (t03) is structurally blind to: a half-English/
    * half-Spanish page argmaxes to one label and then either pollutes
    * the en bucket or is lost to es, when the right routing is "mixed"
    * (drop, split, or route to a multilingual pipeline — the CCNet/
    * fastText curation step after per-doc labeling). Mechanism: the doc
    * is cut into non-overlapping 10-word windows (t26's chunker at
    * w = s = 10, map-only), EACH window classified with t03's stopword
    * argmax, then a per-doc census: window count, distinct guessed
    * langs, the majority lang (ties to the alphabetically smallest via
    * the struct arg-min — no vote sort), and the SWITCH count (adjacent
    * windows disagreeing — a lag over each doc's own windows, the only
    * window function here and bounded by the doc's chunk count, never
    * the corpus). is_mixed = more than one guessed lang. All counting
    * — integer-exact, fully mirrorable. */
  query("t47_codeswitch_census", oracle = Some(
      // t47: t26's chunker at w=s=10, the t03 stopword argmax per window,
      // per-doc census with a lag-based switch count and the struct
      // arg-min majority election (ties to the alphabetically smallest)
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
        |FROM cen JOIN mj USING (doc_id) ORDER BY cen.doc_id""".stripMargin)) { (s, dir) =>
    val wins = TextOps.chunkWindows(tblPar(s, dir, "documents"), w = 10, s = 10)
    val lid = TextOps.langIdScores(wins, textCol = "chunk")
      .select(col("doc_id"), col("chunk_idx"), col("lang_guess"))
    val sw = lid.withColumn("prev", lag(col("lang_guess"), 1).over(
        Window.partitionBy("doc_id").orderBy("chunk_idx")))
      .withColumn("switch",
        when(col("prev").isNotNull && col("prev") =!= col("lang_guess"), 1L)
          .otherwise(0L))
    val votes = lid.groupBy(col("doc_id"), col("lang_guess"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("cnt")).as("nc"), col("lang_guess").as("v")))
        .getField("v").as("major_lang"))
    sw.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col("lang_guess")).as("n_langs"),
        sum(col("switch")).as("n_switches"))
      .join(votes, Seq("doc_id"))
      .withColumn("is_mixed", col("n_langs") > 1)
      .orderBy("doc_id")
  }

  /** Quality scoring (length/stopword/avg-word-length stats). */
  query("t02_text_quality", oracle = Some(
      """WITH q AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words0, length(text) AS n_chars0,
        |  len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','to'))) AS stop0
        |  FROM documents)
        |SELECT doc_id, CAST(n_words0 AS BIGINT) AS n_words, CAST(n_chars0 AS BIGINT) AS n_chars_calc,
        |       CAST(stop0 AS BIGINT) AS stop_cnt,
        |       round(CAST(n_chars0 - (n_words0 - 1) AS DOUBLE) / n_words0, 4) AS avg_word_len,
        |       round(least(1.0, n_words0 / 200.0) * 0.5 + (CAST(stop0 AS DOUBLE) / n_words0) * 0.5, 4) AS quality_score
        |FROM q ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    TextOps.qualityStats(tbl(s, dir, "documents"))
      .select("doc_id", "n_words", "n_chars_calc", "stop_cnt", "avg_word_len",
        "quality_score")
      .orderBy("doc_id")
  }

  /** Language-ID heuristic (closed-form stopword argmax). */
  query("t03_langid", oracle = Some(
      s"""WITH $langidCoreSql
         |SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh, lang_guess
         |FROM g ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    TextOps.langIdScores(tbl(s, dir, "documents"))
      .select("doc_id", "s_de", "s_en", "s_es", "s_fr", "s_zh", "lang_guess")
      .orderBy("doc_id")
  }

  /** T31: language-ID confusion matrix — classifier OBSERVABILITY, the
    * eval loop every deployed heuristic needs: t03's guesses against
    * the labeled lang as (lang, guess) cells with row-normalized ppm.
    * Off-diagonal hot cells are exactly where a langid gate silently
    * biases the corpus (the CCNet failure mode). One partial-aggregated
    * cell count + a broadcast-sized marginal join; integer ppm. */
  query("t31_langid_confusion", oracle = Some(
      // the shared langid core joined back to the LABELED lang: one
      // classifier definition for t03 (per-doc) and t31 (the confusion
      // matrix + row-normalized ppm)
      s"""WITH $langidCoreSql,
         |j AS (SELECT d.lang, g.lang_guess FROM documents d
         |      JOIN g ON g.doc_id = d.doc_id),
         |cell AS (SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS cnt
         |         FROM j GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM cell GROUP BY 1)
         |SELECT cell.lang, cell.lang_guess, cell.cnt,
         |       1000000 * cell.cnt // tot.n AS row_ppm
         |FROM cell JOIN tot USING (lang)
         |ORDER BY lang, lang_guess""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val cells = TextOps.langIdScores(docs)
      .select(col("doc_id"), col("lang_guess"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang", "lang_guess").agg(count(lit(1)).as("cnt"))
    cells
      .join(cells.groupBy("lang").agg(sum(col("cnt")).as("n")), "lang")
      .select(col("lang"), col("lang_guess"), col("cnt"),
        expr("1000000 * cnt div n").as("row_ppm"))
      .orderBy("lang", "lang_guess")
  }

  /** Fingerprints: rolling hash + min-shingle-hash; the oracle reproduces
    * them bit-exactly (t04Sql). */
  query("t04_fingerprint", oracle = Some(t04Sql)) { (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.rollingHash(col("text")).as("rolling_hash"),
        TextOps.docFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** T30: most-frequent-n-gram census (the Gopher "fraction of
    * characters in the most common n-gram" rule — the BAG-side sibling
    * t07's map-only set kernel cannot express, since it needs the
    * per-shingle COUNT, not the deduplicated hash set): per doc the
    * top 3-gram by (count DESC, gram ASC), its count, and the ppm of
    * document characters its occurrences cover — the "same slogan over
    * and over" spam signal a global dup *ratio* (t07) dilutes on long
    * docs. Explode -> (doc, gram) partial-agg count -> per-doc max ->
    * tie-broken min-gram election: all hash aggregates + one semi-join
    * on (doc, cnt), no window, no in-row quadratic. */
  query("t30_repetition", oracle = Some(
      // top 3-gram per doc by (count DESC, gram ASC) + the Gopher
      // top-gram character-coverage ppm; space-joined grams (words are
      // space-split, so the join is unambiguous)
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
        |FROM e ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val ws = split(col("text"), " ")
    val counts = tblPar(s, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        explode(transform(sequence(lit(1), size(ws) - 2),
          i => concat_ws(" ", slice(ws, i, lit(3))))).as("gram"))
      .groupBy("doc_id", "n_chars", "gram").agg(count(lit(1)).as("cnt"))
    val top = counts.groupBy("doc_id").agg(max("cnt").as("cnt"))
    counts.join(top, Seq("doc_id", "cnt"), "left_semi")
      .groupBy("doc_id", "n_chars")
      .agg(min("gram").as("top_gram"), max("cnt").as("top_cnt"))
      .select(col("doc_id"), col("top_gram"), col("top_cnt"),
        expr("1000000 * top_cnt * length(top_gram) div n_chars").as("top_char_ppm"))
      .orderBy("doc_id")
  }

  /** T32: inverted PHRASE index + boolean serve — the text-side member
    * of the index family (v11-v17 are its vector siblings): postings are
    * (3-gram phrase -> doc) pairs off the dedup shingle kernel, df per
    * phrase is one partial-aggregated count with a hub cap (df <= 1000
    * drops boilerplate phrases whose postings would hot-spot a bucket —
    * the d03 postings-cap discipline), and the serve side is ranked
    * boolean retrieval: the 3 highest-df phrases (df DESC, phrase ASC —
    * a deterministic TakeOrderedAndProject, never a full sort) BROADCAST
    * against the postings, per-doc match counts aggregate ids only. At
    * corpus scale the postings persist bucketed by phrase (the v11
    * layout) and a query touches its phrases' buckets, zero corpus
    * exchange — the serve here is that plan's in-frame form. */
  query("t32_phrase_index", oracle = Some(
      // phrase postings (distinct 3-grams per doc, space-joined), df-capped
      // hub guard, top-3 phrases by (df DESC, phrase ASC), per-doc match
      // counts over the postings join
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |        i -> list_aggregate(w[i:i+2], 'string_agg', ' '))) AS phrase
        |      FROM tok WHERE len(w) >= 3),
        |d AS (SELECT phrase, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY 1
        |      HAVING count(*) <= 1000),
        |q AS (SELECT phrase FROM d ORDER BY df DESC, phrase LIMIT 3)
        |SELECT g.doc_id, doc.lang, CAST(count(*) AS BIGINT) AS n_matched
        |FROM g JOIN q USING (phrase) JOIN documents doc ON doc.doc_id = g.doc_id
        |GROUP BY g.doc_id, doc.lang ORDER BY g.doc_id""".stripMargin)) { (s, dir) =>
    val docs = tblPar(s, dir, "documents")
    // the postings ARE the index: materialize once (the m05/v11 build
    // discipline) — election and serve would otherwise each re-run the
    // corpus-wide shingle materialization
    val post = graft.SessionResources.trackPersisted {
      val p = docs.select(col("doc_id"),
          explode(TextOps.shingles(col("text"), 3)).as("phrase"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    val dfreq = post.groupBy("phrase").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 1000)
    val qphrases = dfreq.orderBy(col("df").desc, col("phrase")).limit(3)
    post.join(broadcast(qphrases), "phrase")
      .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_matched"))
      .orderBy("doc_id")
  }

  /** T43: mergeable per-source uniform sample ([[graft.llm.Samples]])
    * — the KMV bottom-k-by-hash sketch sample a corpus pipeline
    * MAINTAINS instead of re-drawing: consistent (a pure function of
    * the id set — partitioning, arrival order, and executor count
    * cannot change it, unlike rand()-based sampling) and mergeable
    * (bottomK(A ∪ B) == merge(bottomK(A), bottomK(B)), priorities
    * riding the sample rows). t06 keeps a hash FRACTION (size tracks
    * the stratum), t15 draws ONE global weighted top-k; this holds
    * exactly k per stratum and folds incrementally. The query RUNS the
    * incremental path — sample 2/3 of the corpus, sample the remaining
    * batch, merge — while the oracle states the DIRECT bottom-k over
    * the full corpus: the hash-compare IS the append==rebuild proof.
    * Scale: bounded-heap TopK partials map-side, |sources| x k rows
    * ever shuffled, merge is sample-sized. */
  query("t43_sample_merge", oracle = Some(
      // t43: the DIRECT bottom-k over the full corpus — the engine runs
      // the two-step incremental merge, so the hash-compare IS the
      // append==rebuild proof
      """WITH p AS (SELECT source, doc_id,
        |    CAST('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS pri
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS rnk
        |      FROM p)
        |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, pri
        |FROM r WHERE rnk <= 16
        |ORDER BY source, rnk""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val s1 = graft.llm.Samples.bottomK(
      docs.filter(col("doc_id") % 3 < 2), "source", "doc_id", 16)
    val s2 = graft.llm.Samples.bottomK(
      docs.filter(col("doc_id") % 3 === 2), "source", "doc_id", 16)
    graft.llm.Samples.merge(s1, s2, "source", "doc_id", 16)
      .orderBy("source", "rnk")
  }

  /** T44: graded contamination score ([[Dedup.contaminationScore]]) —
    * d08 produces the binary drop list (>= k shingles shared with SOME
    * bench doc); this prices EVERY training doc against the bench
    * shingle UNIVERSE as a ppm fraction of the doc's own shingles,
    * the number the removal policy actually consumes (drop
    * contaminated, rewrite partial, keep clean). Bench = the %97 eval
    * slice PLUS planted leaks — full copies of docs = 5 mod 131 (tier
    * 'contaminated' live: ppm = 1e6) and 40%-prefix copies of docs =
    * 9 mod 131 (tier 'partial' live at ~400k ppm, safely off the 50%
    * boundary) — so all three tiers are live at every SF and the
    * detector sees only text. Same scale shape as d08: broadcast
    * bench universe, corpus streams map-side, never shuffled. */
  query("t44_contam_score", oracle = Some(
      // t44: same string-shingle mirror as d08, bench universe = %97 slice
      // + planted full/40%-prefix leak copies; ppm over each doc's own set
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
        |ORDER BY n.doc_id""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents").select(col("doc_id"),
      coalesce(col("text"), lit("")).as("text"))
    val partials = docs.filter(col("doc_id") % 131 === 9)
      .withColumn("__w", expr("split(text, ' ')"))
      .select((col("doc_id") + 2000000L).as("doc_id"),
        expr("array_join(slice(__w, 1, greatest(1, cast((size(__w) * 2) div 5 as int))), ' ')")
          .as("text"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .unionByName(docs.filter(col("doc_id") % 131 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(partials)
    Dedup.contaminationScore(docs, bench, w = 3).orderBy("doc_id")
  }

  /** T45: PMI collocation census (pointwise mutual information — the
    * corpus-linguistics "these two words belong together" score behind
    * phrase mining, tokenizer-merge candidates (the statistical cousin
    * of t16's BPE pair counting) and stop-phrase detection: pmi =
    * ln(p(xy) / (p(x)p(y))) = ln(c_xy * N_uni^2 / (N_bi * c_x * c_y)),
    * positive = the pair co-occurs more than its words' frequencies
    * predict): bigram and unigram counts are exact-integer folds, the
    * ratio stays INTEGER until one double division + one ln + one
    * round at the end (the x39 ln-parity discipline); the collocation
    * floor (c_xy >= 10) kills the noise tail BEFORE the unigram joins.
    * Map-only in-row bigram explode, one bigram fold + one unigram
    * fold, two equi-joins on word (vocab-sized, shuffle-partitioned at
    * corpus scale), 1-row totals frame attached by broadcast. */
  query("t45_pmi_collocations", oracle = Some(
      // t45: exact-integer unigram/bigram folds over bigram-able docs,
      // ratio stays integer until one double division + ln + round
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
        |ORDER BY bc.w1, bc.w2""".stripMargin)) { (s, dir) =>
    val toks = tbl(s, dir, "documents")
      .select(split(coalesce(col("text"), lit("")), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val uni = toks.select(explode(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val bi = toks.select(explode(expr(
        "transform(sequence(0, cast(size(w) - 2 as int)), i -> struct(w[i] as w1, w[i + 1] as w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 10)
    val totals = toks.agg(
      sum(size(col("w")).cast("long")).as("n_uni"),
      sum((size(col("w")) - 1).cast("long")).as("n_bi"))
    bi.join(uni.select(col("word").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        round(log((col("c_xy") * col("n_uni") * col("n_uni")).cast("double") /
          (col("n_bi") * col("c_x") * col("c_y")).cast("double")), 6)
          .as("pmi_r"))
      .orderBy("w1", "w2")
  }

  /** T46: Jensen-Shannon vocabulary drift (the source-vs-source
    * distributional distance a31's KS gives for NUMBERS, stated for
    * TEXT: JSD between two sources' word distributions — symmetric,
    * bounded [0, ln 2], finite even on disjoint vocabularies (where
    * plain KL blows up) — the pairwise drift matrix a corpus-mixture
    * dashboard renders, and the trigger for re-weighting t23's mixture
    * when one source's language shifts): exact-integer word counts per
    * source, each pair's union vocabulary assembled by TWO broadcast
    * joins + a hash fold (never a per-pair full-outer), term =
    * 0.5*p*ln(2p/(p+q)) + 0.5*q*ln(2q/(p+q)) with absent sides
    * contributing exactly 0, one rounded sum per pair (the x39
    * ln-parity discipline). Pairing is |sources|^2 — the DASHBOARD
    * shape; at corpus scale you pin one reference distribution per
    * source and the same plan is linear. */
  query("t46_js_divergence", oracle = Some(
      // t46: same pair/union-vocab assembly (two joins + fold, no full
      // outer), identical term expression shape, one rounded sum
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
        |FROM t GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin)) { (s, dir) =>
    val cnt = tbl(s, dir, "documents")
      .select(col("source"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("source").agg(sum("c").as("n"))
    val srcs = tot.select("source")
    val pairs = srcs.as("a").join(srcs.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("s1"), col("b.source").as("s2"))
    val r1 = cnt.join(broadcast(pairs), col("source") === col("s1"))
      .select(col("s1"), col("s2"), col("word"),
        col("c").as("c1"), lit(0L).as("c2"))
    val r2 = cnt.join(broadcast(pairs), col("source") === col("s2"))
      .select(col("s1"), col("s2"), col("word"),
        lit(0L).as("c1"), col("c").as("c2"))
    val g = r1.union(r2).groupBy("s1", "s2", "word")
      .agg(sum("c1").as("c1"), sum("c2").as("c2"))
      .join(broadcast(tot.select(col("source").as("s1"), col("n").as("n1"))),
        Seq("s1"))
      .join(broadcast(tot.select(col("source").as("s2"), col("n").as("n2"))),
        Seq("s2"))
    val p = col("c1").cast("double") / col("n1")
    val q = col("c2").cast("double") / col("n2")
    val term =
      when(col("c1") > 0, lit(0.5) * p * log(lit(2.0) * p / (p + q)))
        .otherwise(lit(0.0)) +
      when(col("c2") > 0, lit(0.5) * q * log(lit(2.0) * q / (p + q)))
        .otherwise(lit(0.0))
    g.groupBy("s1", "s2")
      .agg(count(lit(1)).as("n_words"), round(sum(term), 6).as("jsd_r"))
      .orderBy("s1", "s2")
  }

  /** T21: the Gopher quality-rule battery ([[TextOps.gopherRules]]) —
    * per-rule boolean attribution + conjunctive keep, every ratio an
    * integer cross-multiplication so the hash compare never rides FP.
    * Map-only scan; the oracle mirrors each rule expression exactly. */
  query("t21_gopher_rules", oracle = Some(
      // Gopher rule battery: every rule mirrored as the SAME integer
      // cross-multiplication (never a ratio), '...' counted by the same
      // non-overlapping replace arithmetic, integer-exact end to end
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
        |FROM m ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    TextOps.gopherRules(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("n_words"), col("n_word_chars"),
        col("n_symbols"), col("n_alpha_words"), col("n_stop_hits"),
        col("wc_ok"), col("mwl_ok"), col("sym_ok"), col("alpha_ok"),
        col("stop_ok"), col("keep"))
      .orderBy("doc_id")
  }

  /** T22: CCNet per-language quality buckets
    * ([[TextOps.qualityBuckets]]) — head/middle/tail terciles of the t12
    * fluency score WITHIN each language (absolute thresholds would empty
    * low-resource languages). Tile assigned over the rounded score +
    * doc_id tie-break: the identical total order in both engines, so
    * ntile splits identically.
    * One language's ranking sorts in one task, the exact form CCNet runs per
    * language; at corpus scale, sampled-quantile thresholds turn the window
    * into a broadcast-joined map. */
  query("t22_quality_buckets", oracle = Some(
      // CCNet terciles: the t12 score pipeline verbatim, then ntile(3) per
      // language over the ROUNDED score + doc_id — the identical total
      // order both engines sort, so the equal-count split lands identically
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
        |FROM b ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    TextOps.qualityBuckets(tblPar(s, dir, "documents"))
      .orderBy("doc_id")
  }

  /** Text normalization: lowercase + whitespace collapse + trim, keyed by
    * content hash — the canonicalization step before exact dedup. Runs the
    * fused [[graft.functions.NormalizeSpaces]] kernel (one byte scan per
    * row) instead of a Java-regex rewrite of the whole corpus; semantics
    * are exactly regexp_replace(trim(lower(text)), " +", " "), which the
    * DuckDB oracle keeps verifying literally (and a property test pins). */
  query("t05_normalize", oracle = Some(
      """SELECT doc_id,
        |       md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS norm_hash,
        |       CAST(length(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS BIGINT) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val norm = graft.functions.TextExpressions.normalizeSpaces(col("text"))
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        md5(norm).as("norm_hash"),
        length(norm).cast("long").as("norm_len"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling for training-mix construction:
    * per-language quotas via a hash-bucket threshold — reproducible across
    * runs/engines, no rand(). Bucket = first 32 bits of md5(doc_id as text)
    * mod 100: always in [0, 100) for ANY doc_id. (The r2 multiplicative form
    * `doc_id * 2654435761 % 100` overflowed Long past doc_id ~3.5e9 —
    * negative buckets silently widened the sample at exactly the corpus
    * sizes this engine targets.) */
  query("t06_stratified_sample", oracle = Some(
      // bucket = first 32 md5 bits of the decimal doc_id -> [0, 2^32) -> % 100:
      // overflow-free at any doc_id (the r2 multiplicative form overflowed
      // BIGINT past doc_id ~3.5e9, yielding negative buckets in Spark and a
      // conversion error in DuckDB)
      """WITH b AS (SELECT doc_id, lang,
        |  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < CASE WHEN lang = 'en' THEN 30 ELSE 10 END
        |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "documents")
      .withColumn("bucket", sampleBucket(col("doc_id")))
      .filter(col("bucket") <
        when(col("lang") === "en", 30).otherwise(10))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")
  }

  /** T7: within-doc repetition ratio (duplicate w-gram fraction) — the
    * Gopher-style repetition quality gate, map-only over native kernels. */
  query("t07_repetition", oracle = Some(
      // repetition over w=3 word windows: slice is 1-based INCLUSIVE both
      // ends (w[i:i+2] = 3 words), range exclusive (1..len-2 = len-2 windows)
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
        |FROM c ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    TextOps.repetitionStats(tbl(s, dir, "documents"), w = 3)
      .select(col("doc_id"), col("n_windows"), col("n_distinct"), col("rep_ratio"))
      .orderBy("doc_id")
  }

  /** T8: greedy token-budget sequence packing (pretraining batch prep):
    * one shuffle on the stratum key, secondary-sorted streaming pack.
    * Budget 256 at ~54 words/doc packs ~4-5 docs per sequence. */
  query("t08_pack_sequences", oracle = Some(
      // greedy packing is inherently sequential per stratum: the oracle walks
      // each lang's docs in doc_id order via a recursive CTE, carrying the
      // same (seq_id, running-token) state the Spark packer keeps
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
        |FROM p ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    TextOps.packSequences(tbl(s, dir, "documents"), budget = 256L)
      .orderBy("doc_id")
  }

  /** T9: TF-IDF top-3 terms per document — integer-deterministic ranking
    * (tf desc, df asc, term asc), informational rounded score.
    * ONE job: the tf aggregation feeds the df build, the probe side and the
    * corpus-size scalar through one reused exchange, and selection is
    * partial_top_k_str on an integer (tf, df) composite, never a per-doc
    * window sort. */
  query("t09_tfidf", oracle = Some(
      // rank key is all-integer (tf desc, df asc, term asc) so row selection
      // never rides on a float comparison; ln() ulp noise lives only in the
      // rounded informational score
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
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)) { (s, dir) =>
    TextOps.tfidfTopTerms(tbl(s, dir, "documents"), k = 3)
      .orderBy("doc_id", "rnk")
  }

  /** T10: PII redaction. The synthetic tables carry no PII-shaped text
    * (documents are digit-free word salad), so the contact blob is DERIVED
    * deterministically from customer key columns — same precedent as p05's
    * RD coordinates from o_orderkey — giving every row one live email, IP,
    * and phone match (never a vacuous 0-match pass). Messier planted
    * fixtures are exercised in LlmOpsSpec. */
  query("t10_pii_redact", oracle = Some {
      // IDENTICAL pattern text both engines (interpolated from TextOps.Pii —
      // common Java-regex/RE2 subset, greedy, no alternation); replacement
      // order email -> ip -> phone; audit counts are placeholder counts
      // derived from the redacted string (mirrors the Spark side, where each
      // regex runs exactly once per row)
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
    }) { (s, dir) =>
    val contact = concat(
      col("c_name"), lit(" "),
      translate(lower(col("c_name")), "#", "."), lit("@example.com ip 10."),
      (col("c_custkey") % 256).cast("string"), lit("."),
      col("c_nationkey").cast("long").cast("string"), lit("."),
      ((col("c_custkey") * 7) % 256).cast("string"), lit(" tel 06-"),
      lpad(((col("c_custkey") * 7919) % 10000).cast("string"), 4, "0"), lit("-"),
      lpad(((col("c_custkey") * 104729) % 10000).cast("string"), 4, "0"))
    TextOps.piiRedact(
        tbl(s, dir, "customer").select(col("c_custkey"), contact.as("contact")),
        "contact")
      .select(col("c_custkey"), col("n_emails"), col("n_ips"), col("n_phones"),
        col("redacted"))
      .orderBy("c_custkey")
  }

  /** T11: corpus-wide line dedup (CCNet-style). The word-salad docs carry
    * no newlines, so "lines" are aligned 10-word chunks — 127 of them
    * repeat across docs at sf0.01 (278 occurrences), so the pass is live
    * at the driver's SF. Winner election shuffles (hash, id, line_no)
    * only; see [[Dedup.lineDedup]]. */
  query("t11_line_dedup", oracle = Some(
      // corpus-wide keep-first line dedup over aligned 10-word chunks; the
      // oracle elects winners with a window over the line STRING (exact),
      // Spark groups by its md5 (same negligible-collision contract as d02);
      // 1-based inclusive slice w[i*10+1 : i*10+10] == Spark slice(w, i*10+1, 10)
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
        |LEFT JOIN re ON re.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val words = split(col("text"), " ")
    val lines = docs.select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0), ceil(size(words) / lit(10.0)).cast("int") - 1),
          i => array_join(slice(words, i * 10 + 1, lit(10)), " ")))
        .as(Seq("line_no", "line")))
      .withColumn("line_no", col("line_no").cast("long"))
    Dedup.lineDedup(docs, lines).orderBy("doc_id")
  }

  /** T36: token-distribution drift between two corpus snapshots (PSI over
    * the top-50 tokens, add-1 smoothed) — snapshots stood in by doc_id
    * parity, deterministically. The crawl-refresh QA gate.
    * Both snapshots are conditional sums of ONE partial-aggregated token
    * census, the top-50 cut is a bounded TakeOrdered, and the smoothing
    * totals are a whole-frame window over those 50 rows. */
  query("t36_token_drift", oracle = Some(
      // t36: identical census (conditional counts by doc_id parity), same
      // total order on the top-50 cut, same add-1 smoothing over the
      // top-K universe; round(6) after the float math (t12 discipline)
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
        |FROM top, tot ORDER BY token""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    TextOps.tokenDrift(docs, col("doc_id") % 2 === 0).orderBy("token")
  }

  /** T35: per-source boilerplate strip (CCNet/jusText template removal) —
    * t11's complement: a line repeated across >= 2 distinct docs of the
    * SAME source is host chrome and is removed from all of them. Same
    * 10-word-chunk line segmentation as t11.
    * The census dedups (source, md5(line), doc) rows in one
    * partial-aggregated exchange of hashes, the strip is a left-anti
    * equi-join on (source, hash) against the boilerplate set, and text moves
    * twice: the anti-join probe and the per-doc reassembly. */
  query("t35_boilerplate", oracle = Some(
      // t35: same 10-word line derivation as t11; boilerplate = a line in
      // >= 2 distinct docs of the SAME source, removed everywhere it
      // appears within that source (Spark keys the census on md5(line) —
      // the d02 negligible-collision contract — DuckDB on the raw line)
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
        |LEFT JOIN re ON re.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val words = split(col("text"), " ")
    val lines = docs.select(col("doc_id"), col("source"), posexplode(
        transform(
          sequence(lit(0), ceil(size(words) / lit(10.0)).cast("int") - 1),
          i => array_join(slice(words, i * 10 + 1, lit(10)), " ")))
        .as(Seq("line_no", "line")))
      .withColumn("line_no", col("line_no").cast("long"))
    TextOps.boilerplateStrip(docs, lines).orderBy("doc_id")
  }

  /** T37: encoding-corruption census ([[TextOps.encodingAnomalies]]) —
    * the ftfy-style mojibake gate crawls run at ingest. The ASCII
    * synthetic corpus carries no real decode damage, so the fixture
    * deterministically re-breaks a hash-selected subset the way real
    * crawls break (the d23/x34 derive-then-detect discipline — the
    * detector sees only the corrupted text and knows nothing of the
    * plant): buckets 0-9 get the UTF-8-read-as-Latin-1 digraph
    * ('value' -> 'v U+00C3 U+00A1 lue'), 10-19 a decoder replacement char
    * ('table' -> 'ta U+FFFD ble'), 20-24 a Windows-1252 C1 control
    * ('query' -> 'qu U+0092 ery'); the other 75% stay clean, so both
    * verdicts are live at every SF. */
  query("t37_encoding_census", oracle = Some(
      // t37: identical deterministic corruption plant (same md5 bucket,
      // same three replace rules — artifact chars spelled chr() so the
      // SQL stays ASCII), then the same three census scans: chr(195) =
      // the mojibake lead 'A-tilde', chr(65533) = U+FFFD, and the C1
      // control class via the same regex; ppm under integer floor-div
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
        |FROM m ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val b = sampleBucket(col("doc_id"))
    val corrupted = tbl(s, dir, "documents").withColumn("text",
      when(b < 10, replace(col("text"), lit("value"), lit("v\u00C3\u00A1lue")))
        .when(b < 20, replace(col("text"), lit("table"), lit("ta\uFFFDble")))
        .when(b < 25, replace(col("text"), lit("query"), lit("qu\u0092ery")))
        .otherwise(col("text")))
    TextOps.encodingAnomalies(corrupted).orderBy("doc_id")
  }

  /** T38: character-entropy junk gate ([[TextOps.entropyCensus]]) — the
    * raw-crawl filter that catches what perplexity scoring never sees:
    * degenerate repetition (slow-collapse scraper loops, error-page spam)
    * at the low end and base64/minified/compressed blobs at the high end.
    * The ASCII synthetic corpus is uniformly mid-band natural text, so the
    * fixture plants both failure modes deterministically (derive-then-
    * detect; detector sees only the text): buckets 0-9 become a 3-symbol
    * repetition (entropy exactly log2(3) ~ 1.585), buckets 10-19 become
    * 384 chars of base64-coded md5 chains (~5.9 bits/char), the other 80%
    * stay clean — all three verdicts live at every SF. */
  query("t38_entropy_census", oracle = Some(
      // t38: identical deterministic junk plant (same md5 bucket; repeat()
      // for the 3-symbol repetition, base64-of-md5-chain blocks for the
      // random blob — both engines' md5/base64 are the same RFC outputs),
      // then the census: per-(doc,char) counts -> Shannon entropy in
      // bits/char, round(6) before the verdict thresholds on BOTH engines
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
        |FROM e ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val b = sampleBucket(col("doc_id"))
    val junkRandom = array_join(
      transform(sequence(lit(0), lit(15)), i =>
        base64(unhex(md5(concat(col("doc_id").cast("string"), lit(":"),
          i.cast("string")))))), "")
    val planted = tbl(s, dir, "documents").withColumn("text",
      when(b < 10, repeat(lit("ab "), 150))
        .when(b < 20, junkRandom)
        .otherwise(col("text")))
    TextOps.entropyCensus(planted).orderBy("doc_id")
  }

  /** T39: per-domain reputation census ([[WebOps.domainReputation]]) —
    * the domain-level blocklist aggregate C4/RefinedWeb/Dolma run before
    * any per-document filtering (a content farm is cheaper to kill once
    * at the domain level). The corpus has no URLs, so the fixture derives
    * them deterministically (derive-then-detect): buckets 0-24 become a
    * content farm (one registered domain, texts overwritten with three
    * rotating templates — the exact-dup signature of scraped spam),
    * buckets 25-39 a multi-part-suffix domain (news.co.uk — exercises the
    * public-suffix rule), 40-54 a subdomain-of-registered case
    * (www.blog.example.com -> example.com), the rest spread over eight
    * site{k}.org domains; four rotating hosts per domain. The detector
    * sees only the url+text columns.
    * One hash aggregation on the registered domain (its distinct counts
    * expand inside the same exchange) plus a broadcast 1-row corpus total;
    * only the text's md5 enters the aggregate. */
  query("t39_domain_reputation", oracle = Some(
      // t39: identical deterministic URL/text plant (same md5 bucket, same
      // subdomain/domain/template rotation); the oracle states the
      // registered-domain truth directly per branch (oracle-as-spec for the
      // public-suffix rule the Spark side derives from the hostname), then
      // the same census: count / distinct hosts / distinct text
      // fingerprints, integer ppm shares against the 1-row corpus total
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
        |FROM c, t ORDER BY registered_domain""".stripMargin)) { (s, dir) =>
    val b = sampleBucket(col("doc_id"))
    val sub = element_at(
      array(lit("www"), lit("m"), lit("cdn"), lit("blog")),
      (col("doc_id") % 4 + 1).cast("int"))
    val dom = when(b < 25, lit("contentfarm.biz"))
      .when(b < 40, lit("news.co.uk"))
      .when(b < 55, lit("blog.example.com"))
      .otherwise(concat(lit("site"), (b % 8).cast("string"), lit(".org")))
    val template = element_at(
      array(lit("breaking news template one"),
        lit("breaking news template two"),
        lit("breaking news template three")),
      (col("doc_id") % 3 + 1).cast("int"))
    val planted = tbl(s, dir, "documents")
      .withColumn("url", concat(lit("https://"), sub, lit("."), dom,
        lit("/doc/"), col("doc_id").cast("string")))
      .withColumn("text", when(b < 25, template).otherwise(col("text")))
    WebOps.domainReputation(planted).orderBy("registered_domain")
  }

  /** T40: robots-style path-prefix blocklist
    * ([[WebOps.pathPrefixBlock]]) — URL filtering against (domain,
    * path-prefix) disallow rules at segment boundaries. The scalable
    * trick under test: the prefix theta-join becomes an equi-join by
    * exploding each URL's own path prefixes (bounded by path depth)
    * against the broadcast rules table. Fixture routes buckets 0-19 to
    * /private/... paths (disallowed on three of five domains) and 20-29
    * to /tmp/... (disallowed on one), so both verdicts are live. */
  query("t40_path_blocklist", oracle = Some(
      // t40: identical deterministic URL plant; the oracle states the
      // segment-boundary prefix-match truth with a correlated EXISTS
      // (path = prefix OR starts_with(path, prefix || '/')) — the spec the
      // engine's prefix-explode equi-join must reproduce
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
        |FROM m ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val b = sampleBucket(col("doc_id"))
    val dom = concat(lit("site"), (col("doc_id") % 5).cast("string"),
      lit(".org"))
    val path = when(b < 20,
      concat(lit("/private/doc"), col("doc_id").cast("string")))
      .when(b < 30, concat(lit("/tmp/cache/"), col("doc_id").cast("string")))
      .otherwise(concat(lit("/articles/item"), col("doc_id").cast("string")))
    val planted = tbl(s, dir, "documents")
      .withColumn("url", concat(lit("https://www."), dom, path))
    val rules = Seq(
      ("site0.org", "/private"), ("site1.org", "/private"),
      ("site2.org", "/private"), ("site3.org", "/tmp"))
      .toDF("domain", "prefix")
    WebOps.pathPrefixBlock(planted, rules).orderBy("doc_id")
  }

  /** T41: per-source token-budget sampling
    * ([[TextOps.tokenBudgetSample]]) — the mixture-recipe admission step
    * (training mixes are specified in tokens per source, not documents).
    * Budget 800 tokens/source keeps a strict ~8-doc prefix of every
    * source at every SF, so admission is live everywhere.
    * The running sum is one window sort per source; at corpus scale the
    * same admission would run on a per-source token-count quantile sketch
    * instead. */
  query("t41_token_budget", oracle = Some(
      // t41: same deterministic admission — token count = split-on-space
      // length (the word_count kernel's contract), order = md5(doc_id)
      // with doc_id tiebreak, inclusive running sum, keep while <= budget
      """WITH d AS (SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  md5(CAST(doc_id AS VARCHAR)) AS rk
        |  FROM documents),
        |c AS (SELECT source, doc_id, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY source ORDER BY rk, doc_id) AS cum_tokens
        |  FROM d)
        |SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 800 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    TextOps.tokenBudgetSample(tbl(s, dir, "documents"), 800L)
      .orderBy("doc_id")
  }

  /** T42: markup-residue census ([[TextOps.markupResidue]]) — the
    * extraction-QA gate (t37's sibling: that one catches broken decodes,
    * this one broken HTML→text extraction). The clean synthetic corpus
    * carries no real extraction damage, so the fixture re-breaks a
    * hash-selected 25% the way real extractions break (derive-then-
    * detect): buckets 0-9 leak tags, 10-19 leak entities, 20-24 leak
    * javascript/css fragments; the detector sees only the text. */
  query("t42_markup_residue", oracle = Some(
      // t42: identical deterministic residue plant (same md5 bucket, same
      // three replace rules), then the same three regexp-class counts —
      // disjoint alternations, so Java and RE2 count identically
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
        |FROM m ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val b = sampleBucket(col("doc_id"))
    val planted = tbl(s, dir, "documents").withColumn("text",
      when(b < 10, replace(col("text"), lit("value"),
        lit("<div class=\"x\">value</div>")))
        .when(b < 20, replace(col("text"), lit("table"),
          lit("ta&nbsp;ble&#160;")))
        .when(b < 25, replace(col("text"), lit("query"),
          lit("function(query){color:red;} var q")))
        .otherwise(col("text")))
    TextOps.markupResidue(planted).orderBy("doc_id")
  }

  /** T29: term-blocklist filtering — the policy/compliance gate every
    * production corpus runs (profanity, PII keywords, licensing terms).
    * The blocklist is a TABLE, not an `isin` literal (the t18/t19
    * model-as-data discipline — real lists run to 10^4+ terms and must
    * stay a broadcast join, never a plan string); here the fixture list
    * is the corpus's 20 most frequent >= 6-char terms, a real deployment
    * drops its list in. Per doc: total blocked-term hits via one explode
    * + broadcast equi-join + partial-aggregated count, keep rule an
    * integer threshold, totalized with a LEFT join so clean docs report
    * 0 hits instead of vanishing. */
  query("t29_blocklist", oracle = Some(
      // same fixture blocklist derivation (top-20 frequent >= 6-char
      // terms, count desc / term asc), same integer keep threshold
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
        |FROM documents d LEFT JOIN h USING (doc_id) ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val blk = docs.select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) >= 6)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(20)
      .select("term")
    val hits = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .join(broadcast(blk), "term")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    docs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_hits"), lit(0L)) < 5, 1L).otherwise(0L).as("kept"))
      .orderBy("doc_id")
  }

  /** T27: INTRA-doc line dedup — t11's corpus-wide keep-first rule
    * applied within each document (the first pass CCNet actually runs:
    * navigation chrome and repeated boilerplate blocks drop before any
    * corpus-level election). Same 10-word-block line derivation as t11;
    * the keep-first-occurrence filter is an IN-ROW indexed lambda
    * (`filter((b, i) -> b not among the first i blocks)`) — map-only,
    * zero shuffle, O(blocks^2) per row over tens of blocks; the rebuild
    * is order-stable by construction. */
  query("t27_intradoc_dedup", oracle = Some(
      // t11's block derivation, keep-first WITHIN the doc (min line_no per
      // (doc, line)), order-stable rebuild — the intra-doc half of CCNet
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
        |FROM cn JOIN re USING (doc_id) ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    // null text -> '' so totality holds (one empty block, not a null row)
    val words = split(coalesce(col("text"), lit("")), " ")
    val blocks = transform(
      sequence(lit(0), ceil(size(words) / lit(10.0)).cast("int") - 1),
      i => array_join(slice(words, i * 10 + 1, lit(10)), " "))
    tblPar(s, dir, "documents")
      .select(col("doc_id"), blocks.as("bl"))
      .select(col("doc_id"),
        size(col("bl")).cast("long").as("n_lines"),
        filter(col("bl"), (b, i) =>
          array_position(slice(col("bl"), lit(1), i), b) === 0).as("kept"))
      .select(col("doc_id"), col("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("text_dedup"))
      .orderBy("doc_id")
  }

  /** T13: fixed-quota per-source sampling — the training-mix knob that
    * caps every source at N docs, deterministically (md5-rank election, no
    * RNG: reruns and retries pick identical docs). Selection runs through
    * the native bounded-heap [[graft.functions.TopK]] aggregate: state is
    * quota x sources pairs with map-side partials, where the window form
    * sorts each source's full row set to keep 15. The 32-bit md5-prefix
    * rank is exact in the heap's double ord; ties break on doc_id inside
    * the aggregate itself, so the pick is total. */
  query("t13_source_quota", oracle = Some(
      // The oracle is the window form the heap aggregate replaces: rank DESC
      // with doc_id ASC tie-break is TopK's exact total order.
      """WITH b AS (SELECT source, doc_id,
        |  CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS rk
        |  FROM documents),
        |r AS (SELECT source, doc_id, rk,
        |  row_number() OVER (PARTITION BY source ORDER BY rk DESC, doc_id) AS rnk FROM b)
        |SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, rk
        |FROM r WHERE rnk <= 15 ORDER BY source, rnk""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "documents")
      .withColumn("rk", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as double)"))
      .groupBy(col("source"))
      .agg(graft.functions.VectorAggregates.topK(col("rk"), col("doc_id"), 15).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("source"), (col("rnk0") + 1).cast("long").as("rnk"),
        col("t.id").as("doc_id"), col("t.ord").cast("long").as("rk"))
      .orderBy("source", "rnk")
  }

  /** T15: weighted priority sampling — pick a fixed-size sample biased
    * toward heavier documents (here: by n_chars, the token-budget proxy),
    * deterministically: priority = md5-prefix32 DIV weight, keep the k
    * smallest. Longer docs draw smaller priorities more often, giving
    * hash-stable weight-leaning selection with NO float anywhere in the
    * pick (integer division both engines, ties broken by doc_id inside
    * the heap — selection can never ride an FP ulp, the t09 rule).
    * Runs through the bounded TopK heap on the negated priority: k pairs
    * of state total, map-side partials, no global sort. */
  query("t15_weighted_sample", oracle = Some(
      // Weighted priority sampling: integer-exact priorities (hash DIV
      // weight), the k smallest with doc_id tie-break — TopK's exact order.
      """WITH p AS (SELECT doc_id,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      // greatest(n_chars, 1) AS pri
        |  FROM documents),
        |r AS (SELECT doc_id, pri,
        |        row_number() OVER (ORDER BY pri, doc_id) AS rnk FROM p)
        |SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, pri
        |FROM r WHERE rnk <= 50 ORDER BY rnk""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "documents")
      .withColumn("pri", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as long)" +
          " div greatest(n_chars, 1)"))
      .groupBy()
      .agg(graft.functions.VectorAggregates
        .topK((-col("pri")).cast("double"), col("doc_id"), 50).as("top"))
      .select(posexplode(col("top")).as(Seq("rnk0", "t")))
      .select((col("rnk0") + 1).cast("long").as("rnk"),
        col("t.id").as("doc_id"), (-col("t.ord")).cast("long").as("pri"))
      .orderBy("rnk")
  }

  /** T16: BPE merge-step statistics — the first iteration of byte-pair-
    * encoding tokenizer training: count adjacent character pairs inside
    * words, per language, and keep each language's top merges. The full
    * trainer is this op iterated (count -> merge best pair -> recount);
    * the count+select step is the part that touches the corpus and must
    * scale, and it is all hash aggregation: pair counts partial-aggregate
    * map-side, then the bounded-heap [[graft.functions.TopK]] keeps 10
    * pairs per language (no per-language sort). The heap id encodes the
    * pair as ascii(c1)*65536 + ascii(c2), so the integer tie-break is
    * exactly lexicographic pair order — selection never leaves integers. */
  query("t16_bpe_merges", oracle = Some(
      // The window form of the BPE merge-pair selection: count DESC with
      // pair ASC tie-break is exactly the heap's composite integer order
      // (ASCII corpus, so string order == char-code order).
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
        |ORDER BY lang, rnk""".stripMargin)) { (s, dir) =>
    tblPar(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("lang"), col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("pair_code",
        // char() wraps codepoints mod 256 and the 2^24 headroom assumes
        // ASCII: non-ASCII input FAILS (assert rides inside the key, the
        // v08 pattern) instead of corrupting the reconstructed pair
        (ascii(substring(col("pair"), 1, 1)) * 65536 +
          ascii(substring(col("pair"), 2, 1)) +
          coalesce(assert_true(
            ascii(substring(col("pair"), 1, 1)) < 128 &&
              ascii(substring(col("pair"), 2, 1)) < 128,
            lit("t16_bpe_merges: non-ASCII pair")).cast("int"), lit(0))).cast("long"))
      // composite ord: cnt desc then pair asc, integer-exact in the double
      // (pair_code < 2^23 for ASCII, cnt * 2^24 < 2^52 at any plausible SF)
      .groupBy(col("lang"))
      .agg(graft.functions.VectorAggregates.topK(
        (col("cnt") * lit(1L << 24) - col("pair_code")).cast("double"),
        col("pair_code"), 10).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("lang"), (col("rnk0") + 1).cast("long").as("rnk"),
        expr("concat(char(t.id div 65536), char(t.id % 65536))").as("pair"),
        ((col("t.ord").cast("long") + col("t.id")) / lit(1L << 24)).cast("long").as("cnt"))
      .orderBy("lang", "rnk")
  }

  /** The t16-trained top-8 merge table as a driver-side literal list —
    * 8 bounded rows (documented collect), shared by t17 and t28 so the
    * tokenizer both queries apply is identical by construction. */
  private def bpeMergesTop8(docs: org.apache.spark.sql.DataFrame): Seq[String] = {
    val merges = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(8)
      .collect().map(_.getString(0)).toSeq
    // the oracle's replace chain is arity-8: a corpus too degenerate to
    // yield 8 merge pairs must fail loudly, not silently diverge
    require(merges.length == 8, s"bpe: corpus yields only ${merges.length} merge pairs")
    merges
  }

  /** T17: BPE tokenizer application ([[TextOps.bpeEncode]]) — closes the
    * loop t16 opens: the global top-8 merge pairs (cnt desc, pair asc —
    * vocabulary-sized TakeOrdered, 8 rows collected) become plan
    * literals, and every document is encoded map-only. All-integer
    * output; the oracle derives the identical merge table and walks the
    * identical per-word replace chain in SQL. */
  query("t17_bpe_encode", oracle = Some(
      // BPE application mirror: derives the same global top-8 merge table
      // (cnt DESC, pair ASC — binary collation both engines on the ASCII
      // corpus) and walks the same per-word chain: every token wrapped in
      // chr(1) on BOTH sides (token-exact matches — see bpeEncode's
      // scaladoc), one replace(chr(1)a chr(1)chr(1)b chr(1) -> chr(1)ab
      // chr(1)) per merge in priority order; tokens = separators // 2.
      // RE2's '\1' backref and Java's '$1' denote the same group; '.'
      // excludes newline in both (corpus asserted control-char-free).
      // LEFT JOIN keeps empty docs at 0.
      s"""WITH $bpeCoreSql
         |SELECT d.doc_id,
         |  CAST(coalesce(a.nc, 0) AS BIGINT) AS n_char_tokens,
         |  CAST(coalesce(a.nt, 0) AS BIGINT) AS n_bpe_tokens,
         |  CAST(coalesce(a.nc, 0) - coalesce(a.nt, 0) AS BIGINT) AS n_merged
         |FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val docs = tblPar(s, dir, "documents")
    TextOps.bpeEncode(docs, bpeMergesTop8(docs)).orderBy("doc_id")
  }

  /** T28: tokenizer FERTILITY audit — tokens-per-word and
    * chars-per-token by language under the t16/t17 BPE: the multilingual
    * tokenizer-efficiency metric (a language with high fertility pays
    * more sequence length per word, skewing effective compute and the
    * t23 mixture). Per-doc counting through the native `bpe_token_count`
    * kernel (one byte scan per merge), then one partial-aggregated
    * roll-up per language; ratios as integer ppm. */
  query("t28_fertility", oracle = Some(
      // the identical BPE core (shared CTE text — one tokenizer by
      // construction), rolled up per language with integer ppm ratios
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
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    val docs = tblPar(s, dir, "documents")
    val enc = TextOps.bpeEncode(docs, bpeMergesTop8(docs))
    docs.select(col("doc_id"), col("lang"),
        TextOps.wordCount(col("text")).cast("long").as("nw"))
      .join(enc, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("n_char_tokens")).as("n_chars"),
        sum(col("n_bpe_tokens")).as("n_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_chars"),
        col("n_tokens"),
        expr("1000000 * n_tokens div n_words").as("fertility_ppm"),
        expr("1000000 * n_chars div n_tokens").as("chars_per_token_ppm"))
      .orderBy("lang")
  }

  /** T18: BM25 relevance scoring (Okapi, k1=1.2, b=0.75) of every
    * document against a 3-term query — the oracle fixture for
    * [[TextOps.bm25]], whose query side is a TABLE: the corpus postings
    * filter to the query vocabulary by broadcast equi-join on the term
    * (the production DSIR shape — an isin(literals) predicate stops
    * being a plan at 10^3+ terms), df/doc-length/corpus stats all
    * partial-aggregated, the corpus-size + total-length constants ride
    * in as a broadcast 1-row frame (the t09 pattern — one job, no eager
    * action). Constants are exact literals (2.2, 0.25) on BOTH engines:
    * 1.2+1.0 != 2.2 in doubles, and a constant off in the last ulp
    * would poison every score. LlmOpsSpec proves query-side scale
    * invariance: a 1000-term table scores the 3-term subset
    * identically. */
  query("t18_bm25", oracle = Some(
      // BM25 mirror: identical Okapi formula with identical ASSOCIATION and
      // the same exact literal constants (2.2, 0.25 — NOT 1.2+1.0/1-0.75,
      // which differ in the last ulp); avgdl = CAST(total AS DOUBLE)/n both
      // engines; the per-doc sum over <= 3 terms is rounded per the
      // FP-aggregation contract.
      s"""WITH $bm25CoreSql
         |SELECT doc_id, n_qterms, round(score, 6) AS bm25_r
         |FROM sc ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val sess = s
    import sess.implicits._
    val qterms = Seq("stream", "data", "query").toDF("term")
    TextOps.bm25(tbl(s, dir, "documents"), qterms).orderBy("doc_id")
  }

  /** T19: DSIR importance weights ([[TextOps.dsirWeights]]) — log
    * p_target - log p_source under hashed unigram models (target =
    * English docs), the Xie et al. 2023 data-selection score. One job:
    * the k-row model table and its totals ride in-plan (broadcast), the
    * probe is a broadcast join, and the per-doc score is an INTEGER sum
    * of per-bucket micro-logs — the only FP step is one rounding per
    * model bucket, identical on both engines. */
  query("t19_dsir_weights", oracle = Some(
      // DSIR mirror: same md5-prefix-mod-256 token buckets, same add-one
      // models (target = lang 'en', source = all docs), and the SAME
      // per-bucket integer micro-log construction — the only FP step is the
      // one rounding per model-table bucket (ln ulp noise would need the
      // fractional part within ~2e-9 of .5 to flip it); per-doc scores are
      // exact integer sums, so the hash-compare never rides accumulation
      // order.
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
        |ORDER BY tb.doc_id""".stripMargin)) { (s, dir) =>
    TextOps.dsirWeights(tblPar(s, dir, "documents"), isTarget = col("lang") === "en")
      .orderBy("doc_id")
  }

  /** T20: hashed linear quality classifier ([[TextOps.qualityScoreLinear]])
    * — the fasttext-style keep/drop filter with the model as data
    * (deterministic fixture weights). Integer-exact end to end; pure
    * map (one in-kernel fold per doc, no explode/join/shuffle). */
  query("t20_quality_classifier", oracle = Some(
      // Hashed-linear-classifier mirror: identical md5-derived integer
      // micro-weights (bucket then 'qw<bucket>' weight hash), integer sum
      // per doc, keep = sum > 0 * n as 0/1 — no FP anywhere.
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |  $qMicroSum AS q_mscore
        |  FROM tok)
        |SELECT doc_id, n_tokens, q_mscore,
        |  CAST(CASE WHEN q_mscore > 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    TextOps.qualityScoreLinear(tblPar(s, dir, "documents")).orderBy("doc_id")
  }

  /** T14: novelty / memorization audit — the fraction of each document's
    * distinct w-gram shingles that recur elsewhere in the corpus (df >= 2).
    * Low novelty marks boilerplate/templated text and self-contamination.
    * Two partial-aggregated shuffles over 8-byte shingle hashes (document
    * frequency, then the per-doc rollup); text never shuffles. */
  query("t14_novelty", oracle = Some(
      // Novelty = 1 - (shingles with corpus df >= 2) / (doc's shingles);
      // integer '/' is float division in both engines, quotient rounded.
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
        |FROM sh JOIN df USING (s) GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin)) { (s, dir) =>
    val sh = Dedup.docShingleHashes(tbl(s, dir, "documents"), 3)
    val postings = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val dfreq = postings.groupBy("s").agg(count(lit(1)).as("df"))
    postings.join(dfreq, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("novelty_r", round(lit(1.0) - col("n_shared") / col("n_sh"), 6))
      .orderBy("doc_id")
  }

  /** T12: corpus-trained bigram-LM fluency scoring ([[TextOps.bigramLm]]) —
    * the CCNet/KenLM-style quality signal. Three aggregations/joins, all
    * partial-aggregated equi-joins on word/bigram keys; V is a plan
    * constant; the FP mean is rounded (accumulation order). */
  query("t12_bigram_lm", oracle = Some(
      // Add-one-smoothed bigram LM trained on the corpus itself; the FP mean
      // is rounded (6 dp vs ~1e-13 accumulation noise), all counts exact.
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
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    TextOps.bigramLm(tblPar(s, dir, "documents")).orderBy("doc_id")
  }

  /** T33: deterministic word-dropout augmentation — the training-data
    * augmentation family (word dropout / random deletion a la Wei & Zou
    * 2019 EDA), made REPRODUCIBLE the way a 100 TB pipeline needs it:
    * the "randomness" is a pure function of (doc_id, position) — drop
    * word i iff md5(doc_id:i) starts with '0' (rate 1/16) — so reruns,
    * retries, and engines produce the identical augmented corpus (no
    * RNG state, no seed plumbing, the t06 hash-sampling discipline
    * applied within the row). MAP-ONLY: index filter + element gather +
    * rebuild are in-row HOFs, the augmenter runs at scan speed. */
  query("t33_word_dropout", oracle = Some(
      // hash-seeded word dropout: drop position i iff md5(doc_id:i) starts
      // with '0' — identical md5 hex both engines, 1-based positions,
      // space rebuild
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
        |FROM k ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val ws = split(col("text"), " ")
    val keptIdx = filter(sequence(lit(1), size(ws)),
      i => substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        i.cast("string"))), 1, 1) =!= "0")
    val kept = transform(keptIdx, i => element_at(ws, i))
    tblPar(s, dir, "documents")
      .select(col("doc_id"), size(ws).cast("long").as("n_words"),
        (size(ws) - size(kept)).cast("long").as("n_dropped"),
        concat_ws(" ", kept).as("aug_text"))
      .orderBy("doc_id")
  }

  /** T34: length-bucketed batching economics — m07's discipline on the
    * sequence axis (dynamic batching for seq2seq/packing planners):
    * docs bucket by word count into power-of-two capacity tiers
    * (pad-to-bucket), and the census prices each tier: doc count,
    * token mass, and PAD WASTE in exact integer tokens + ppm — the
    * number that says whether naive pad-to-max is burning compute vs
    * t08's packing. Bucket id = ceil(log2(n)) via bit_length of (n-1)
    * — pure integer, no log FP; map-only scan then a tiny per-bucket
    * fold. */
  query("t34_length_buckets", oracle = Some(
      // power-of-two capacity tiers via length(bin(n-1)) — integer
      // ceil(log2), no FP near boundaries; pad waste exact
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
        |FROM c GROUP BY cap ORDER BY cap""".stripMargin)) { (s, dir) =>
    val n = size(split(col("text"), " ")).cast("long")
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        greatest(n, lit(1L)).as("n_words"))
      // capacity = next power of two >= n_words (min tier 16):
      // length(bin(x - 1)) is ceil(log2(x)) for x >= 2 — integer exact,
      // no log() FP near tier boundaries
      .withColumn("cap", greatest(
        expr("CAST(shiftleft(CAST(1 AS BIGINT), length(bin(n_words - 1))) AS BIGINT)"),
        lit(16L)))
      .groupBy("cap")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("sum_words"),
        (sum(col("cap") - col("n_words"))).as("pad_tokens"))
      .select(col("cap"), col("n_docs"), col("sum_words"), col("pad_tokens"),
        expr("1000000 * pad_tokens div (cap * n_docs)").as("waste_ppm"))
      .orderBy("cap")
  }
}
