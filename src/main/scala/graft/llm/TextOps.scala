package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale LLM training-data pipelines:
 * tokenization, shingling, quality scoring, language identification, and
 * document fingerprinting over a `documents(doc_id, text, lang, source,
 * n_chars)` table.
 *
 * Everything here is expressed with built-in (codegen'd) Spark functions —
 * split / transform / filter / aggregate higher-order functions — so the
 * whole stage stays inside WholeStageCodegen and is embarrassingly parallel:
 * no shuffles, no UDF boundary in the per-document hot path (the only UDFs in
 * this package are the minhash/simhash signature kernels in Dedup, which do
 * genuine per-row imperative work).
 */
object TextOps {

  /** Unit separator — cannot appear in natural text tokens. */
  final val ShingleSep = "\u001f"

  /** Whitespace word tokenization (single-space discipline of the corpus). */
  def words(text: Column): Column = split(text, " ")

  /** BPE-ish sub-token regex: letter runs, digit runs, single other glyphs. */
  final val TokenRegex = graft.functions.TextKernels.TokenRegex

  /** Count of the [[TokenRegex]] matches in `lower(text)` (the size of
    * `regexp_extract_all`'s array) without materializing the token array —
    * native kernel with an ASCII fast path, Java-regex fallback otherwise. */
  def regexTokenCount(text: Column): Column =
    graft.functions.TextExpressions.regexTokenCount(text)

  /**
   * Distinct `w`-word shingles of a document, each joined with [[ShingleSep]].
   * The shingle *set* (not bag) is what MinHash/Jaccard operate on.
   */
  def shingles(text: Column, w: Int): Column = {
    val ws = words(text)
    when(size(ws) < w, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(ws) - (w - 1)),
        i => concat_ws(ShingleSep, slice(ws, i, lit(w))))))
  }

  /** Stopword profiles for the rule-based language-ID heuristic. The lists
    * are deliberately tiny and fixed: language ID at 100 TB must be a cheap
    * closed-form expression, not a model call. */
  final val StopEn = Seq("the", "a", "of", "and", "to")
  final val StopDe = Seq("der", "die", "das", "und", "ist")
  final val StopEs = Seq("el", "que", "los", "una", "es")
  final val StopFr = Seq("le", "les", "des", "une", "est")
  final val StopZh = Seq("de", "shi", "le", "bu", "wo")

  /** Native stopword-hit count (graft.functions.StopwordCount): identical
    * semantics to size(filter(split(text,' '), w -> w IN stop)) — the form
    * the DuckDB oracle mirrors — without building the word array (the
    * interpreted filter-HOF chain it replaces was ~2.9s of t02 at sf0.1). */
  private def stopCount(text: Column, stop: Seq[String]): Column =
    graft.functions.TextExpressions.stopwordCount(text, stop).cast("long")

  /** Native word count under split(text, ' ') semantics. */
  def wordCount(text: Column): Column =
    graft.functions.TextExpressions.wordCount(text)

  /**
   * Rule-based language ID: count stopword hits per profile, pick the
   * arg-max with alphabetical tie-break (de < en < es < fr < zh) so the
   * result is deterministic and mirrorable in plain SQL.
   */
  def langIdScores(df: DataFrame, textCol: String = "text"): DataFrame = {
    df.withColumn("s_de", stopCount(col(textCol), StopDe))
      .withColumn("s_en", stopCount(col(textCol), StopEn))
      .withColumn("s_es", stopCount(col(textCol), StopEs))
      .withColumn("s_fr", stopCount(col(textCol), StopFr))
      .withColumn("s_zh", stopCount(col(textCol), StopZh))
      .withColumn("lang_guess",
        when(col("s_de") >= greatest(col("s_en"), col("s_es"), col("s_fr"), col("s_zh")), "de")
          .when(col("s_en") >= greatest(col("s_es"), col("s_fr"), col("s_zh")), "en")
          .when(col("s_es") >= greatest(col("s_fr"), col("s_zh")), "es")
          .when(col("s_fr") >= col("s_zh"), "fr")
          .otherwise("zh"))
  }

  /**
   * Per-document quality statistics: word count, char count, average word
   * length, stopword ratio, and a bounded composite quality score — the
   * standard cheap pre-filters of a training-data pipeline.
   */
  def qualityStats(df: DataFrame, textCol: String = "text"): DataFrame = {
    df.withColumn("n_words", wordCount(col(textCol)).cast("long"))
      .withColumn("n_chars_calc", length(col(textCol)).cast("long"))
      .withColumn("stop_cnt", stopCount(col(textCol), StopEn))
      // single-space corpus: total word chars = chars - (n_words - 1)
      .withColumn("avg_word_len",
        round((col("n_chars_calc") - (col("n_words") - 1)).cast("double") / col("n_words"), 4))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_words") / 200.0) * 0.5 +
          (col("stop_cnt").cast("double") / col("n_words")) * 0.5, 4))
  }

  /** The Gopher battery's stopword-presence list (Rae et al. 2022 §A1.1
    * uses exactly this set for the "contains >= 2 of" rule). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /**
   * Gopher quality-filter rules (Rae et al. 2022, appendix A1.1) — the
   * standard rule BATTERY of large-scale corpus curation, distinct from
   * [[qualityStats]]' composite score: each document gets a boolean per
   * rule plus the conjunctive keep decision, so downstream reporting can
   * attribute rejections to rules (the operating mode of a production
   * filter, where "how many docs did rule 3 kill" is a daily question).
   *
   * INTEGER-EXACT by construction: every ratio rule is evaluated as an
   * integer cross-multiplication (5 * n_alpha >= 4 * n_words, never
   * n_alpha / n_words >= 0.8), so the engine-boundary hash compare never
   * rides FP rounding. Map-only over builtins — one WholeStageCodegen
   * span, no shuffle, no UDF: at 100 TB this is a pure scan.
   *
   * Rules (thresholds are the paper's, word-count floor parameterized for
   * the synthetic corpus): word count in [minWords, maxWords]; mean word
   * length in [3, 10] chars; symbol-to-word ratio ('#' + non-overlapping
   * '...') < 1/10; alphabetic-word fraction >= 4/5; >= 2 hits from the
   * 8-word stopword presence list.
   */
  def gopherRules(df: DataFrame, textCol: String = "text",
                  minWords: Int = 30, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val words = split(t, " ")
    val nWords = size(words).cast("long")
    val nChars = length(replace(t, lit(" "), lit(""))).cast("long")
    val nHash = (length(t) - length(replace(t, lit("#"), lit("")))).cast("long")
    val nEll = ((length(t) - length(replace(t, lit("..."), lit(""))))
      .cast("long") / lit(3L)).cast("long")
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val nStop = size(filter(words, w => w.isin(GopherStops: _*))).cast("long")
    df.withColumn("n_words", nWords)
      .withColumn("n_word_chars", nChars)
      .withColumn("n_symbols", nHash + nEll)
      .withColumn("n_alpha_words", nAlpha)
      .withColumn("n_stop_hits", nStop)
      .withColumn("wc_ok", nWords >= minWords && nWords <= maxWords)
      .withColumn("mwl_ok", nChars >= nWords * 3L && nChars <= nWords * 10L)
      .withColumn("sym_ok", (nHash + nEll) * 10L < nWords)
      .withColumn("alpha_ok", nAlpha * 5L >= nWords * 4L)
      .withColumn("stop_ok", nStop >= 2L)
      .withColumn("keep", col("wc_ok") && col("mwl_ok") && col("sym_ok") &&
        col("alpha_ok") && col("stop_ok"))
  }

  /**
   * Polynomial rolling hash over the document's characters (Karp-Rabin,
   * base 31, natural 64-bit wraparound) — an order-sensitive content
   * fingerprint, unlike the md5 content hash used by exact dedup.
   * Pure Scala kernel so it is usable from tests and from the UDF binding.
   */
  def rollingHash64(s: String): Long = {
    var h = 1125899906842597L // large prime seed
    var i = 0
    while (i < s.length) { h = 31 * h + s.charAt(i); i += 1 }
    h
  }

  private val rollingHashUdf = udf { (s: String) =>
    if (s == null) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(rollingHash64(s))
  }

  /** Column binding for [[rollingHash64]]. Deterministic scalar UDF. */
  def rollingHash(text: Column): Column = rollingHashUdf(text)

  /**
   * Winnowing-style document fingerprint: the minimum shingle hash over the
   * document's shingle set (a 1-perm MinHash) — collision-resistant id for
   * near-identical content ordering. Uses the native shingle-hash kernel;
   * array_min over the primitive long array is codegen'd.
   */
  def docFingerprint(text: Column, w: Int = 5): Column =
    array_min(graft.functions.TextExpressions.shingleHashes(text, w))

  /**
   * Within-document repetition (the Gopher-style duplicate-n-gram quality
   * signal): `1 - distinct_windows / total_windows` over w-word windows.
   * Map-only: the distinct count comes from the native shingle-hash kernel
   * (no shingle strings materialized); a doc shorter than w words has 0
   * windows and a NULL ratio. Distinctness is over 64-bit shingle hashes,
   * not strings — within-doc collision probability is ~n^2/2^65,
   * negligible at any real document length.
   */
  def repetitionStats(df: DataFrame, w: Int = 3, textCol: String = "text"): DataFrame =
    df.withColumn("n_windows",
        greatest(wordCount(col(textCol)).cast("long") - (w - 1), lit(0L)))
      .withColumn("n_distinct",
        size(graft.functions.TextExpressions.shingleHashes(col(textCol), w)).cast("long"))
      .withColumn("rep_ratio",
        when(col("n_windows") > 0,
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_windows"), 6)))

  /**
   * TF-IDF top-k terms per document: term frequency within the doc, document
   * frequency across the corpus, `score = tf * ln(N / df)`. Two shuffles,
   * both on the term/doc keys with map-side partial aggregation; the df
   * side is vocabulary-sized (broadcastable at scale, AQE decides).
   *
   * Ranking is INTEGER-deterministic — (tf desc, df asc, term asc) — so the
   * selected rows and their ranks never depend on a float comparison whose
   * last ulp could differ between engines/libms; the float score itself is
   * informational output, rounded.
   *
   * Selection runs through the bounded-heap
   * [[graft.functions.VectorAggregates.topKStr]] aggregate on the
   * integer-exact composite (tf desc, df asc) with the term string as the
   * heap's byte-order tie-break — exactly the oracle's (tf DESC, df ASC,
   * term ASC). The r4 row_number window sorted every document's full term
   * list inside one task; the heap ships at most k terms per doc per
   * mapper. tf * 2^31 - df is integer-exact in a double for tf < 2^20 and
   * df < 2^31; out-of-range inputs FAIL via an assert riding inside the
   * key (the v08 pattern) rather than corrupt the ranking.
   */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3, textCol: String = "text"): DataFrame = {
    // ONE declarative plan, no persist, no eager action: the tf
    // aggregation subtree appears three times (df build, probe side,
    // corpus-size scalar) and ReuseExchange/AQE stage reuse materializes
    // its exchange once — the same A/B lesson as PageRank, where explicit
    // persist measured 60% slower than exchange reuse inside one job (the
    // r4 form paid a persist write plus two eager driver actions).
    // explode_outer keeps a null-term row for null-text docs, so
    // countDistinct(doc_id) over the terms IS the document count.
    val terms = docs.select(col("doc_id"),
        explode_outer(split(col(textCol), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // the corpus size: a 1-row frame broadcast-joined after the heap
    val nFrame = terms.agg(countDistinct(col("doc_id")).as("__n"))
    val tf = terms.filter(col("term").isNotNull)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val guard = coalesce(assert_true(
      col("tf") > 0 && col("tf") < lit(1L << 20) && col("df") < lit(1L << 31),
      lit("tfidf: tf/df outside the integer-exact composite range")).cast("long"), lit(0L))
    val ord = (col("tf") * lit(1L << 31) - col("df") + guard).cast("double")
    tf.join(dfreq, "term")
      .groupBy(col("doc_id"))
      .agg(graft.functions.VectorAggregates.topKStr(ord, col("term"), k).as("top"))
      .crossJoin(broadcast(nFrame)) // 1 row -> BroadcastNestedLoopJoin, not a cartesian
      .select(col("doc_id"), col("__n"), posexplode(col("top")).as(Seq("rnk0", "t")))
      // recover (tf, df) from the composite: df in [1, 2^31) means
      // ord sits in ((tf-1)*2^31, tf*2^31), so the shifted floor-div is
      // exact — no float in the recovery (ord holds an exact integer)
      .withColumn("__ord", col("t.ord").cast("long"))
      .withColumn("tf", expr(s"(__ord + ${(1L << 31) - 1}L) div ${1L << 31}L"))
      .withColumn("df", col("tf") * lit(1L << 31) - col("__ord"))
      .select(col("doc_id"), col("t.id").as("term"), col("tf"), col("df"),
        round(col("tf") * log(col("__n").cast("double") / col("df")), 6).as("score_r"),
        (col("rnk0") + 1).cast("long").as("rnk"))
  }

  /**
   * BPE tokenizer APPLICATION — the other half of the loop the t16
   * merge-statistics op opens: given a learned merge table, encode every
   * document and report its token counts. This is the part of tokenizer
   * deployment that actually touches the corpus at 100 TB, and it is
   * MAP-ONLY: the merge table rides into the plan as literals (the
   * ivfCentroids pattern), every step below is a codegen'd string
   * function inside one projection, and the output is all integers — no
   * rounding contract anywhere.
   *
   * Semantics (deliberately expressible in identical form by a SQL
   * oracle): tokens start as the word's characters; the token list is
   * represented as a string with EVERY token wrapped in \u0001 on both
   * sides (token t -> \u0001t\u0001). Each merge "ab", applied in table
   * order, rewrites every non-overlapping left-to-right occurrence of
   * adjacent token pair (a, b) into the single token "ab" — exactly
   * `replace(s, "\u0001a\u0001\u0001b\u0001", "\u0001ab\u0001")`. The DOUBLE-sided wrap
   * is what makes the match token-exact: a single-separator interleave
   * would also match where b is merely the FIRST CHARACTER of a longer
   * token (after (a,b)->ab, "a\u0001ab" contains "a\u0001a" and would
   * re-merge across the token boundary); with the wrap a match must
   * consume whole tokens. Merges never cross word boundaries (the BPE
   * convention). Token count per word = separators / 2; a document's
   * count sums its non-empty words.
   *
   * Output: `(doc_id, n_char_tokens, n_bpe_tokens, n_merged)` for EVERY
   * document (empty text counts 0, not absent). A document containing
   * the separator char fails loudly (in-plan assert) instead of
   * miscounting.
   */
  def bpeEncode(docs: DataFrame, merges: Seq[String],
                textCol: String = "text"): DataFrame = {
    val sep = "\u0001"
    require(merges.nonEmpty, "bpeEncode: empty merge table")
    merges.foreach { p =>
      require(p.length == 2 && p.forall(c => c > ' ' && c < 127),
        s"bpeEncode: merge pair must be 2 printable-ASCII non-space chars, got '$p'")
    }
    // production counting path: the native bpe_token_count kernel — one
    // byte scan per merge, identical semantics to the replace chain above
    // (LlmOpsSpec asserts it equal to that chain, which it keeps as the
    // executable spec). n_char_tokens = chars minus spaces ==
    // the per-word length sum (empty words contribute zero chars).
    val guard = coalesce(assert_true(!contains(col(textCol), lit(sep)),
      lit("bpeEncode: text contains the \\u0001 token separator")).cast("long"), lit(0L))
    docs.select(col("doc_id"),
        (length(translate(col(textCol), " ", "")).cast("long") + guard)
          .as("n_char_tokens"),
        graft.functions.TextExpressions.bpeTokenCount(col(textCol), merges)
          .as("n_bpe_tokens"))
      .withColumn("n_merged", col("n_char_tokens") - col("n_bpe_tokens"))
  }

  /**
   * Okapi BM25 relevance scoring of every document against a query-term
   * TABLE — the retrieval-grade relevance signal corpus curation uses to
   * up-weight on-topic documents (the scoring half of a DSIR-style data
   * selection pipeline, where the "query" is a whole target-domain
   * vocabulary of thousands of terms).
   *
   * `queryTerms` is any frame with a `term` string column (duplicates are
   * collapsed). The corpus postings are filtered to the query vocabulary
   * by a BROADCAST equi-join on the term BEFORE any aggregation — an
   * `isin(literals)` filter stops being a plan at 10^3+ terms (a
   * kilometer-long predicate re-evaluated per token), while the join form
   * hashes each token once against a broadcast set of any size and keeps
   * the postings frame at |matching tokens|, not |corpus tokens|.
   * Everything downstream is the t09/t18 machinery: df / doc-length /
   * corpus stats all partial-aggregated; the corpus-size + total-length
   * scalars ride in as a broadcast 1-row frame (one job, no eager
   * action). Constants are EXACT literals (2.2 = k1+1, 0.25 = 1-b,
   * 0.75 = b for k1=1.2, b=0.75) on both engines — 1.2+1.0 != 2.2 in
   * doubles, and a constant off by one ulp poisons every score. The
   * per-doc sum over matched-term scores is rounded per the
   * FP-aggregation contract. Output: (doc_id, n_qterms, bm25_r) for docs
   * matching >= 1 query term.
   */
  def bm25(docs: DataFrame, queryTerms: DataFrame,
           textCol: String = "text"): DataFrame = {
    val wc = wordCount(col(textCol)).cast("long")
    val terms = queryTerms.select(col("term")).distinct()
    val tf = docs.select(col("doc_id"), explode(split(col(textCol), " ")).as("term"))
      .join(broadcast(terms), "term")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"), wc.as("dl"))
    val stats = docs.agg(count(lit(1)).as("__n"), sum(wc).as("__total"))
    val avgdl = col("__total").cast("double") / col("__n")
    tf.join(dfreq, "term").join(dl, "doc_id").crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_qterms"),
        round(sum(
          log((col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
            col("tf") * lit(2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))),
          6).as("bm25_r"))
  }

  /**
   * Add-one-smoothed bigram language-model scoring — the CCNet/KenLM-style
   * fluency signal: train bigram statistics ON the corpus, then score every
   * document by its mean bigram log-probability,
   * `avg(ln((c(w1 w2) + 1) / (c(w1) + V)))` over the doc's bigrams.
   * Low scores mark disfluent/boilerplate text for quality filtering.
   *
   * Output: `(doc_id, n_bigrams, avg_logp_r)`; docs with fewer than 2
   * words have no bigrams and are absent (their fluency is undefined).
   *
   * Scale design: ONE job — three shuffles, each an aggregation with
   * map-side partials or an equi-join — unigram counts (vocab-sized),
   * bigram counts (bigram-vocab-sized), and the probe joins keyed on the
   * bigram/word strings themselves (short keys; both engines group
   * identical bytes, so no hash indirection is needed for determinism).
   * The vocabulary size V rides IN-PLAN as a broadcast 1-row aggregate
   * over the same unigram subtree the probe join consumes — ReuseExchange
   * dedupes the shared `uni` exchange, so V costs one extra vocab-sized
   * final aggregate, not a second corpus scan (the t09/PageRank/BM25
   * scalar pattern). Nothing is persisted and no driver action runs
   * before the job: the tokenize/explode subtree is a cheap map consumed
   * twice through the deduped exchanges, where the r5 form persisted the
   * FULL tokenized corpus to executor disk (plus three eager count()
   * actions) before scoring started — at 100 TB that wrote ~the corpus
   * to local disk as the price of a literal V. The per-doc average is
   * accumulation-order FP, so it is rounded per the determinism rules;
   * everything else is exact integer arithmetic.
   */
  def bigramLm(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col(textCol), " ").as("w"))
    val uni = toks.select(explode(col("w")).as("wd"))
      .groupBy("wd").agg(count(lit(1)).as("c1"))
    // V as a broadcast 1-row scalar computed over the uni subtree in-plan.
    // count(when(c1 >= 0, 1)), not count(*): c1 >= 1 always holds, so the
    // value is identical, but the optimizer cannot prove it (it rewrites a
    // bare count(c1) to count(1) via non-nullability and then prunes c1),
    // and a pruned c1 would specialize this branch's token exchange away
    // from the probe join's and defeat ReuseExchange — the corpus token
    // explode would shuffle TWICE instead of once.
    val vFrame = uni.agg(count(when(col("c1") >= 0, lit(1))).as("__v"))
    val bg = toks.filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
          " (a, b) -> struct(a as w1, concat(a, ' ', b) as b2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.b2").as("b2"))
    val c2 = bg.groupBy("b2").agg(count(lit(1)).as("c2"))
    bg.join(c2, "b2")
      .join(uni, col("w1") === col("wd"))
      .crossJoin(broadcast(vFrame))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c2") + lit(1.0)) / (col("c1") + col("__v").cast("double")))), 6)
          .as("avg_logp_r"))
  }

  /**
   * DSIR importance weights (Xie et al. 2023, "Data Selection for Language
   * Models via Importance Resampling"): score every document by how much a
   * TARGET distribution prefers it over the source distribution,
   * `log p_target(x) - log p_source(x)` under hashed bag-of-words unigram
   * models — the standard cheap proxy for "select web data that looks like
   * the high-quality target corpus". `isTarget` marks the target rows (a
   * lang/source/label predicate); the source model is the full corpus.
   *
   * Both models hash tokens into `k` buckets (md5-prefix mod k — the same
   * cross-engine-stable hash family as the CDC chunker) with add-one
   * smoothing. INTEGER-EXACT aggregation: each bucket's log-ratio is
   * rounded to an integer micro-log (x1e6) INSIDE the k-row model table,
   * and per-doc scores are sums of those integers — no FP accumulation
   * ever crosses the hash-compare (the one double->integer rounding per
   * bucket is the only FP step, and it happens identically on a k-row
   * table in both engines). Output: `(doc_id, n_tokens, dsir_mlog)` where
   * dsir_mlog/1e6 ~= log w(x); resample by weight via [[weightedSample]]'s
   * shape (t15).
   *
   * Scale design: ONE job, no driver actions. Token buckets are computed
   * map-side; BOTH models are one k-row aggregation (count + conditional
   * sum in a single pass, map-side partials shrink the shuffle to <= k
   * rows per task); corpus totals ride in-plan as a broadcast 1-row
   * aggregate over the model table (the t09/t18/PageRank scalar pattern);
   * the probe joins tokens to the model by a BROADCAST of the k-row
   * table, so the probe side never exchanges — the cheap scan+split
   * subtree is simply consumed twice (the model pass and the probe pass),
   * and the only corpus-sized shuffle is the per-doc sum of 8-byte longs,
   * partial-aggregated map-side.
   */
  def dsirWeights(docs: DataFrame, isTarget: Column, k: Int = 256,
                  textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col("doc_id"), isTarget.as("tgt"), explode(split(col(textCol), " ")).as("w"))
      .select(col("doc_id"), col("tgt"),
        (expr("cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)") % k).as("b"))
    val model = toks.groupBy("b").agg(
      count(lit(1)).as("cs"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"))
    val totals = model.agg(sum(col("cs")).as("__s"), sum(col("ct")).as("__t"))
    val table = model.crossJoin(broadcast(totals))
      .select(col("b"),
        (round((log(col("ct") + lit(1.0)) - log(col("cs") + lit(1.0))) * lit(1e6))
          .cast("long") +
          round((log(col("__s") + lit(k.toDouble)) - log(col("__t") + lit(k.toDouble))) * lit(1e6))
            .cast("long")).as("l"))
    toks.join(broadcast(table), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("l")).as("dsir_mlog"))
  }

  /**
   * Hashed linear quality classifier — the fasttext-style filter shape of
   * GPT-3/LLaMA data curation (score against a quality model, keep
   * above-threshold docs), with the MODEL AS DATA: a weight per hashed
   * token bucket plus a keep rule. The fixture weights are derived
   * deterministically from the bucket id (md5 of "qw<bucket>" mapped to
   * [-1e6, 1e6] micro-units) so both engines and the oracle share them
   * with zero FP risk; a trained model drops in as a real k-row weight
   * table without changing the plan.
   *
   * INTEGER-EXACT end to end: micro-weights are integers, the per-doc
   * score is their sum, and the keep rule `avg weight > tau` is evaluated
   * as the integer cross-multiplication `sum > tau_micro * n_tokens` —
   * no division, no rounding, no FP anywhere. Output:
   * `(doc_id, n_tokens, q_mscore, keep)` with keep as 0/1 (bigint: the
   * oracle hash-compare never rides a cross-engine boolean repr).
   *
   * Scale shape: pure MAP — the bucket->weight mapping is an expression,
   * so scoring is one in-kernel fold over the doc's token array (no
   * explode, no join, no shuffle; the whole operator runs inside
   * WholeStageCodegen in a single corpus scan).
   */
  def qualityScoreLinear(docs: DataFrame, k: Int = 256, tauMicro: Long = 0L,
                         textCol: String = "text"): DataFrame = {
    // token w -> bucket -> integer micro-weight in [-1e6, 1e6], inlined in
    // the fold lambda (Spark SQL lambdas exist only as HOF arguments)
    val mweight =
      s"""cast(conv(substring(md5(concat('qw',
         |  cast(cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint) % $k as string)
         |  )), 1, 8), 16, 10) as bigint) % 2000001 - 1000000""".stripMargin
    docs.select(
        col("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"),
        expr(s"aggregate(split($textCol, ' '), 0L, (acc, w) -> acc + ($mweight))")
          .as("q_mscore"))
      .withColumn("keep",
        (col("q_mscore") > lit(tauMicro) * col("n_tokens")).cast("long"))
  }

  /**
   * PII patterns shared by the redactor, its oracle, and its tests. Written
   * in the common subset of Java regex and RE2 (no lookaround, no
   * backreferences) so the DuckDB oracle runs the IDENTICAL pattern text;
   * all are greedy with no alternation, where leftmost-first (Java) and
   * leftmost-longest (RE2) agree. Canonical text lives next to the kernel
   * ([[graft.functions.TextKernels]]); these aliases keep the oracle's
   * reference site stable.
   */
  object Pii {
    val EmailRe: String = graft.functions.TextKernels.EmailRe
    val Ipv4Re: String = graft.functions.TextKernels.Ipv4Re
    val PhoneRe: String = graft.functions.TextKernels.PhoneRe
  }

  /**
   * PII redaction — the compliance pass every training-data pipeline runs
   * before a corpus ships: emails, IPv4 addresses, and dashed phone numbers
   * replaced by typed placeholders (applied email -> ip -> phone), with
   * per-row REDACTION counts for audit (placeholders present in the final
   * string, by literal substring counting). Served by the fused native
   * kernel ([[graft.functions.PiiRedact]]): ONE expression call per row
   * applies all three patterns to the in-memory string and reads the
   * counts off the result — where the 3-pass spec form materializes three
   * corpus-wide intermediate strings and three `replace()` copies just to
   * count. Map-only, codegen'd, no shuffle, one corpus scan;
   * kernel == spec property-tested (TextKernelsPropSpec, LlmOpsSpec).
   */
  def piiRedact(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("__pii", graft.functions.TextExpressions.piiRedact(col(textCol)))
      .withColumn("redacted", col("__pii.redacted"))
      .withColumn("n_emails", col("__pii.n_emails"))
      .withColumn("n_ips", col("__pii.n_ips"))
      .withColumn("n_phones", col("__pii.n_phones"))
      .drop("__pii")

  /** One input doc's packing assignment: which training sequence it landed
    * in (per stratum) and the sequence's running token total through it. */
  final case class PackedDoc(doc_id: Long, lang: String, n_words: Long,
                             seq_id: Long, seq_tokens: Long)

  /**
   * Greedy token-budget sequence packing — group documents into training
   * sequences of at most `budget` tokens (the pretraining batch-prep step):
   * within each stratum, docs are taken in doc_id order and appended to the
   * current sequence until the next doc would overflow the budget, which
   * starts a new sequence. A doc longer than the budget gets a sequence of
   * its own (never split, never dropped).
   *
   * Scale design: `groupByKey(stratum).flatMapSortedGroups(doc_id)` is
   * Spark's secondary sort — ONE shuffle on the stratum key, the group
   * streamed to the packer in doc order (never collected), O(1) state per
   * group. Packing is inherently sequential per stratum, so at 100 TB the
   * stratum key must be bounded: pass a sharded key (e.g. lang + a hash
   * bucket of doc_id) and each shard packs independently in parallel.
   */
  /**
   * Fixed-length context-window chunking with overlap — the sequence-prep
   * step between raw documents and [[packSequences]]: every doc splits
   * into windows of `w` tokens advancing by stride `s` (the HuggingFace
   * overflow-stride convention), so a training example never loses the
   * tail of a long doc and boundary context survives in the `w - s`
   * token overlap. Chunk count = 1 + ceil((len - w) / s) (never a
   * fully-contained redundant tail; a short doc is one chunk; chunks
   * cover the doc exactly). MAP-ONLY: split + in-row `transform` over
   * the start sequence + one `posexplode` — no shuffle, no state, whole
   * operator in one Generate stage; at 100 TB this runs at scan speed
   * and the output is what the packer shuffles, not the raw corpus.
   */
  def chunkWindows(docs: DataFrame, w: Int, s: Int): DataFrame = {
    require(w > 0 && s > 0 && s <= w, "need 0 < stride <= window")
    val toks = words(col("text"))
    val len = size(toks)
    // ceil((len - w) / s) as exact-in-double floor division: operands are
    // token counts, far inside 2^53
    val nChunks = when(len <= w, lit(1))
      .otherwise(floor((len - w + lit(s - 1)) / lit(s)).cast("int") + 1)
    docs
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(toks, i * s + 1, lit(w)), " "))).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk"),
        size(split(col("chunk"), " ")).cast("long").as("n_tok"))
  }

  def packSequences(docs: DataFrame, budget: Long,
                    stratumCol: String = "lang"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(budget > 0, "token budget must be positive")
    docs
      .select(col("doc_id").cast("long"), col(stratumCol).cast("string").as("lang"),
        coalesce(wordCount(col("text")).cast("long"), lit(0L)).as("n_words"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapSortedGroups($"doc_id") { (lang: String, it: Iterator[(Long, String, Long)]) =>
        var seq = 0L
        var acc = 0L
        it.map { case (id, _, n) =>
          if (acc > 0 && acc + n > budget) { seq += 1; acc = 0L }
          acc += n
          PackedDoc(id, lang, n, seq, acc)
        }
      }
      .toDF()
  }

  /**
   * CCNet-style per-language quality buckets (Wenzek et al. 2020): rank
   * every scorable document by the [[bigramLm]] fluency score WITHIN its
   * language and cut the ranking into `n` equal-count tiles —
   * head/middle/tail at the default 3, the split CCNet trains on head+middle
   * of. Language-relative tiling is the point: an absolute threshold would
   * empty the bucket for low-resource languages whose n-gram statistics
   * score systematically lower.
   *
   * Determinism: the tile is assigned over the ROUNDED score (the same
   * round(6) the t12 hash-compare proves cross-engine-equal) with doc_id
   * as total tie-break, so both engines sort the identical key and ntile
   * splits identically. Docs with no bigram (< 2 words) are unscorable
   * and absent — the caller's totalization choice, one outer join away.
   *
   * Scale: the per-language ntile is a per-language sort — languages
   * distribute across tasks, but ONE language's ranking lands in one
   * task (the exact form; CCNet itself sorts per-language shards). At
   * corpus scale swap the exact tile for threshold assignment off a
   * sampled quantile sketch (a16's percentile machinery) and the window
   * disappears into a broadcast-joined map — kept exact here because the
   * driver hash-compares the assignment.
   */
  def qualityBuckets(docs: DataFrame, n: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 2, "need at least two buckets")
    val labels = array((1 to n).map {
      case 1           => lit("head")
      case i if i == n => lit("tail")
      case _           => lit("middle")
    }: _*)
    bigramLm(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("tile", ntile(n).over(
        Window.partitionBy(col("lang"))
          .orderBy(col("avg_logp_r").desc, col("doc_id"))))
      .select(col("doc_id"), col("lang"), col("avg_logp_r"),
        col("tile").cast("long").as("tile"),
        element_at(labels, col("tile")).as("bucket"))
  }

  /**
   * Per-source boilerplate strip — the CCNet/jusText/Dolma template-removal
   * step web-corpus pipelines run BEFORE corpus-wide dedup: a line that
   * appears verbatim in >= 2 distinct documents of the SAME source (host)
   * is template chrome (navigation, footer, cookie banner), and is removed
   * from EVERY document of that source. The complement of
   * [[graft.llm.Dedup.lineDedup]]: t11 keeps one global first occurrence of
   * a repeated line; this deletes all within-source occurrences, because a
   * host repeating itself is markup, not content.
   *
   * `lines` is the caller's (doc_id, source, line_no, line) segmentation
   * (the 10-word-chunk discipline of t11 in [[queries.Queries]]).
   * Output per input doc, totalized: (doc_id, n_lines, n_removed,
   * clean_text) with clean_text the kept lines rejoined in line_no order.
   *
   * Scale shape: the census dedups (source, md5(line), doc_id) occurrence
   * rows — ONE partial-aggregated shuffle moving 16-byte hashes, never
   * line text — then counts docs per (source, hash); the strip is a LEFT
   * ANTI equi-join of the lines against the (small, template-sized)
   * boilerplate set on the derived (source, hash) key; reassembly is one
   * per-doc aggregate bounded by doc length. Nothing is pairwise and no
   * stage moves text through a wide shuffle twice.
   */
  /**
   * Token-distribution drift census between two corpus snapshots — the
   * crawl-refresh QA monitor production pipelines run before admitting a
   * new dump: for the corpus-wide top-`topK` tokens, the per-token
   * population-stability-index contribution
   * `(p_A - p_B) * ln(p_A / p_B)` with add-1 smoothing over the top-K
   * universe, where A/B is the caller's snapshot predicate (here the
   * deterministic doc_id parity — the stand-in for previous-vs-current
   * dump ids). A large total PSI (sum of the column) flags a shifted
   * scrape (encoding regression, spam flood, template change) before it
   * poisons training.
   *
   * Determinism: the top-K cut is totally ordered (count DESC, token
   * ASC); the contribution is rounded to 6 dp AFTER the float math (the
   * t12 cross-engine discipline — both engines compute IEEE doubles and
   * the ulp-level ln/division differences sit 10 digits below the
   * rounding).
   *
   * Scale shape: ONE partial-aggregated token census (conditional sums —
   * the two snapshots are columns of one aggregate, never two scans or a
   * join), a bounded top-K, and the smoothing totals via a whole-frame
   * window over exactly `topK` rows (bounded by the limit, not the
   * corpus). No grid join, nothing pairwise, text never shuffles.
   */
  def tokenDrift(docs: DataFrame, isA: Column, topK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs.select(isA.as("__a"),
      explode(words(col("text"))).as("token"))
    val cens = tok.groupBy("token").agg(
      sum(when(col("__a"), 1L).otherwise(0L)).as("c_a"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("c_b"))
    val top = cens
      .orderBy((col("c_a") + col("c_b")).desc, col("token")).limit(topK)
    val w = Window.partitionBy()
    val p = (col("c_a") + lit(1)) / (col("n_a") + lit(topK))
    val q = (col("c_b") + lit(1)) / (col("n_b") + lit(topK))
    top
      .withColumn("n_a", sum("c_a").over(w))
      .withColumn("n_b", sum("c_b").over(w))
      .select(col("token"), col("c_a"), col("c_b"),
        round((p - q) * log(p / q), 6).as("psi_r"))
  }

  /** Per-source token-budget sampling — the mixture-recipe admission
    * step: a training mix is specified in TOKENS per source ("30B web,
    * 5B code, 2B books"), not documents, so each source keeps a
    * deterministic pseudo-random prefix of its docs until the token
    * budget fills (greedy inclusive-cumsum admission; the L42 doc-count
    * quota and L91 temperature weights are the other two faces of the
    * mixing knob). Order is md5(doc_id) — stable across runs and
    * engines, no RNG — with doc_id tiebreak.
    *
    * Shape: token counts via the native word_count kernel (map-only),
    * then ONE window sort per source for the running sum. Exact
    * prefix-by-cumsum is sort-bound by definition; at corpus scale the
    * same admission runs approximately via a per-source token-count
    * quantile sketch (admit below the budget's rank quantile) — kept
    * exact here because the driver hash-compares the admitted set. */
  def tokenBudgetSample(docs: DataFrame, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("__rk", "doc_id")
    docs
      .withColumn("n_tokens", graft.functions.TextExpressions
        .wordCount(col("text")).cast("long"))
      .withColumn("__rk", md5(col("doc_id").cast("string")))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("source"), col("doc_id"), col("n_tokens"),
        col("cum_tokens"))
  }

  /** Zipf-law fit over the corpus token-frequency head — the one-number
    * corpus-health check (natural language obeys freq ~ rank^-s with
    * s ~ 1; a much flatter slope means template/boilerplate flooding, a
    * much steeper one means a collapsed vocabulary — both are corpus
    * defects that per-document filters cannot see). Census = ONE
    * partial-aggregated token count; head cut = bounded top-K totally
    * ordered (count DESC, token ASC); the OLS fit of log2(freq) on
    * log2(rank) rides whole-frame window sums over exactly `topK` rows
    * (bounded by the limit, not the corpus — the t36 discipline), solved
    * in closed form: no iteration, no driver math. Emits the head with
    * per-rank log-log residuals (where the fit breaks tells you WHICH
    * ranks are anomalous — a spam token bulges its own rank) plus the
    * fitted slope on every row; round(6) after the float math. */
  def zipfFit(docs: DataFrame, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cens = docs.select(explode(words(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val top = cens.orderBy(col("cnt").desc, col("token")).limit(topK)
    val wOrd = Window.partitionBy().orderBy(col("cnt").desc, col("token"))
    val wAll = Window.partitionBy()
    val slope =
      (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
    val intercept = (col("sy") - slope * col("sx")) / col("n")
    top
      .withColumn("rank", row_number().over(wOrd).cast("long"))
      .withColumn("x", log(2.0, col("rank")))
      .withColumn("y", log(2.0, col("cnt")))
      .withColumn("n", count(lit(1)).over(wAll).cast("double"))
      .withColumn("sx", sum(col("x")).over(wAll))
      .withColumn("sy", sum(col("y")).over(wAll))
      .withColumn("sxy", sum(col("x") * col("y")).over(wAll))
      .withColumn("sxx", sum(col("x") * col("x")).over(wAll))
      .select(col("rank"), col("token"), col("cnt"),
        round(slope, 6).as("slope"),
        round(col("y") - (intercept + slope * col("x")), 6).as("resid_r"))
  }

  /** Encoding-corruption census (the ftfy/CCNet "fix or drop mojibake"
    * gate web pipelines run at ingest): per document, counts of the
    * three dominant artifact classes a broken decode leaves behind —
    * `moji` = U+00C3 'Ã' occurrences (the tell-tale lead character of
    * UTF-8 bytes re-decoded as Latin-1: every two-byte UTF-8 sequence
    * C3 xx mis-reads as 'Ã' + junk), `repl` = U+FFFD replacement
    * characters (a decoder already gave up), `ctrl` = C1 control block
    * U+0080–U+009F (Windows-1252 bytes pushed through a Latin-1
    * decode). `score_ppm` = anomalies per million characters under
    * integer floor-division, `flagged` at >= 2000 ppm — the doc-level
    * verdict a pipeline uses to route documents to re-decode or drop.
    *
    * Map-only: three codegen'd single-char scans (`translate`) plus one
    * regex class scan per row; no shuffle, no UDF — at 100 TB this is a
    * pure pass-through stage that fuses into whatever scan precedes it.
    */
  def encodingAnomalies(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def charCount(ch: String): Column =
      (length(t) - length(translate(t, ch, ""))).cast("long")
    docs
      .withColumn("n_chars", length(t).cast("long"))
      .withColumn("moji", charCount("\u00C3"))
      .withColumn("repl", charCount("\uFFFD"))
      .withColumn("ctrl",
        (length(t) - length(regexp_replace(t, "[\\x{80}-\\x{9F}]", "")))
          .cast("long"))
      .withColumn("score_ppm",
        when(col("n_chars") > 0,
          expr("(moji + repl + ctrl) * 1000000 div n_chars"))
          .otherwise(lit(0L)))
      .select(col("doc_id"), col("n_chars"), col("moji"), col("repl"),
        col("ctrl"), col("score_ppm"),
        (col("score_ppm") >= 2000L).as("flagged"))
  }

  /** Character-entropy junk gate (the raw-crawl complement of perplexity
    * filtering — CCNet buckets score fluency, THIS catches what a language
    * model never should see at all): per document, Shannon entropy in
    * bits/char over the codepoint distribution, plus character and
    * distinct-codepoint counts. Degenerate repetition (error-page spam,
    * scraper loops) collapses toward log2(alphabet) ~ 1-2 bits; base64
    * blobs / minified JS / compressed junk saturate toward 6; natural
    * language sits in the 3.5-4.7 band — so a doc outside
    * [`lowBits`, `highBits`] is routed to drop, with the verdict kept as a
    * string for downstream audit tables.
    *
    * Map-only: ONE native codegen kernel call per row
    * ([[graft.functions.TextExpressions.charStats]] — single UTF-8 byte
    * pass, no String materialization, deterministic-order entropy fold);
    * no shuffle, no UDF, fuses into whatever scan precedes it. At 100 TB
    * this rides the ingest pass for free, like [[encodingAnomalies]]. */
  def entropyCensus(docs: DataFrame, textCol: String = "text",
                    lowBits: Double = 2.5, highBits: Double = 5.0): DataFrame = {
    val stats = graft.functions.TextExpressions.charStats(col(textCol))
    docs
      .withColumn("__cs", stats)
      .select(col("doc_id"),
        col("__cs.n_chars").as("n_chars"),
        col("__cs.n_distinct").as("n_distinct"),
        round(col("__cs.entropy"), 6).as("entropy"))
      .withColumn("verdict",
        when(col("n_chars") === 0L, lit("empty"))
          .when(col("entropy") < lowBits, lit("junk_repetitive"))
          .when(col("entropy") > highBits, lit("junk_random"))
          .otherwise(lit("clean")))
  }

  /** Markup-residue census (the extraction-QA gate that pairs with
    * [[encodingAnomalies]] — that one catches broken DECODES, this one
    * catches broken EXTRACTION: when trafilatura/jusText-style HTML→text
    * conversion fails, tags, entities and script fragments leak into the
    * "plain text" and poison training): per doc, counts of the three
    * residue classes — `tags` (`<div`, `</p>`, `<br/>`-style markup),
    * `entities` (`&nbsp;`-style named or `&#160;`-style numeric), and
    * `script` (javascript/css giveaway substrings `function(`, `var `,
    * `{…}` css rule heads); residue-per-million tokens of damage under
    * integer floor-division, flagged at >= 5000 ppm. Map-only: three
    * codegen regexp counts per row, no shuffle, no UDF. */
  def markupResidue(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def reCount(re: String): Column =
      size(regexp_extract_all(t, lit(re), lit(0))).cast("long")
    docs
      .withColumn("n_chars", length(t).cast("long"))
      .withColumn("tags", reCount("</?[A-Za-z][A-Za-z0-9]*[^<>]*>"))
      .withColumn("entities", reCount("&(#[0-9]+|[A-Za-z]+);"))
      .withColumn("script", reCount("function\\s*\\(|\\bvar\\s+[A-Za-z_]|\\{[^{}]*:[^{}]*;[^{}]*\\}"))
      .withColumn("residue_ppm",
        when(col("n_chars") > 0,
          expr("(tags + entities + script) * 1000000 div n_chars"))
          .otherwise(lit(0L)))
      .select(col("doc_id"), col("n_chars"), col("tags"), col("entities"),
        col("script"), col("residue_ppm"),
        (col("residue_ppm") >= 5000L).as("flagged"))
  }

  def boilerplateStrip(docs: DataFrame, lines: DataFrame): DataFrame = {
    val boiler = lines
      .select(col("source"), md5(col("line")).as("__h"), col("doc_id"))
      .distinct()
      .groupBy("source", "__h").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("source"), col("__h"))
    val kept = lines.withColumn("__h", md5(col("line")))
      .join(boiler, Seq("source", "__h"), "left_anti")
    val reassembled = kept.groupBy("doc_id").agg(
      count(lit(1)).as("__n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x.getField("line")), " ").as("clean_text"))
    val counts = lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
    docs.select("doc_id").join(counts, Seq("doc_id"), "left")
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        (coalesce(col("n_lines"), lit(0L)) -
          coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
