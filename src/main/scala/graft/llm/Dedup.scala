package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.{vecDot, vecNorm}
import org.apache.spark.storage.StorageLevel

/**
 * Deduplication operators for LLM training-data pipelines, over a
 * `documents(doc_id, text, ...)` table:
 *
 *  - exact dedup: content-hash groupBy (one shuffle on the hash key);
 *  - n-gram Jaccard near-dup: shingle-inverted-index join — candidates are
 *    generated by an equi-join on the shingle string, never by a cartesian;
 *  - MinHash-LSH near-dup: signature -> banded bucket equi-join -> exact
 *    Jaccard verification of candidates only — the 100 TB scale path;
 *  - SimHash: 64-bit word-bag fingerprints ([[withSimhash]]).
 *
 * Scale design: every candidate generator here is an equi-join on a derived
 * key (content hash / shingle / (band, band-hash) / simhash chunk), so Spark
 * shuffles both sides by that key and joins co-located partitions. Nothing
 * in this file compares all pairs. Hot keys (a shingle shared by thousands
 * of boilerplate docs) are the classic skew hazard: cap per-key fanout with
 * [[NearDup.maxShinglePostings]] before pairing.
 */
object Dedup {

  /** Exact-dup groups: content hash -> member count + representative id. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))

  /** Exact dedup, keep-first policy: one surviving row per distinct text.
    * Groups by the 128-bit content hash, NOT the text itself — the shuffle
    * moves 16-byte keys where grouping by `text` would move the whole corpus
    * payload as grouping keys (the scale-killer at 100 TB). md5 collisions
    * are out of reach for non-adversarial corpora (~n^2/2^129). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("n_chars")).as("n_chars"))
      .drop("__h")

  /**
   * Edit-distance near-dup pairs — fuzzy matching where token-set overlap
   * is too coarse (transpositions, small in-word edits): candidates from
   * the shingle inverted index (the d03 generator, equi-join on rare
   * shingle hashes), verified by `levenshtein` over each document's
   * BOUNDED 10-word prefix. Bounding the operand keeps the O(len_a *
   * len_b) DP cost a small constant per pair at any corpus scale — a
   * full-text Levenshtein is deliberately not offered (unbounded
   * quadratic work per pair is a scale trap). Both engines implement the
   * classic distance, so the oracle mirrors it exactly.
   *
   * Candidates must share `minShared` distinct rare shingles (default 2):
   * one shared w-gram admits ~10x the pairs of two at the same data (and
   * superlinearly more as the corpus grows), almost all of them far
   * beyond any useful distance — the second shingle is the cheapest
   * verifier-side order-of-magnitude there is. The Spark-side check runs
   * the THRESHOLDED 3-arg levenshtein (banded DP, O(len * maxDist),
   * early-abandons at the threshold); the oracle keeps the plain 2-arg
   * form — identical keep-set, since the 3-arg form returns the exact
   * distance whenever it is <= the threshold.
   */
  def editDistancePairs(docs: DataFrame, w: Int = 4,
                        maxDist: Int = 30, prefixWords: Int = 10,
                        minShared: Int = 2): DataFrame = {
    val sh = materialized(docShingleHashes(docs, w))
    val pref = docs.select(col("doc_id"),
      array_join(slice(split(col("text"), " "), 1, prefixWords), " ").as("pref"))
    candidatePairsFrom(sh, minShared)
      .join(pref.select(col("doc_id").as("id_a"), col("pref").as("pref_a")), "id_a")
      .join(pref.select(col("doc_id").as("id_b"), col("pref").as("pref_b")), "id_b")
      .withColumn("dist",
        levenshtein(col("pref_a"), col("pref_b"), maxDist).cast("long"))
      .filter(col("dist") >= 0) // 3-arg levenshtein returns -1 above the bound
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /**
   * Incremental (cross-corpus) dedup — the daily-ingest pass: a new dump
   * is admitted only where its content fingerprint is absent from the
   * EXISTING corpus, then deduped within itself (keep-first by doc_id).
   *
   * Scale design: the admission test is a LEFT ANTI equi-join on the
   * 16-byte fingerprint — only hashes ever shuffle, never document text
   * (at 100 TB the corpus side is a pre-built distinct-fingerprint index,
   * re-read from parquet per dump, not recomputed). The within-batch
   * election is the d01 shape: min(doc_id) per hash with map-side
   * partials + a semi-join back, never a window sort over the batch.
   * `fpOf` defaults to the full-content hash; callers pass a coarser
   * canonical fingerprint (e.g. a normalized prefix) to fold near-dup
   * families into the same admission key.
   */
  def incrementalDedup(newBatch: DataFrame, corpus: DataFrame,
                       fpOf: Column => Column = md5(_)): DataFrame = {
    val nb = newBatch.withColumn("__fp", fpOf(col("text")))
    val existing = corpus.select(fpOf(col("text")).as("__fp")).distinct()
    val fresh = nb.join(existing, Seq("__fp"), "left_anti")
    val winners = fresh.groupBy("__fp").agg(min(col("doc_id")).as("doc_id"))
    fresh.join(winners, Seq("__fp", "doc_id"), "left_semi").drop("__fp")
  }

  /** Persist + eagerly materialize a frame that the downstream plan
    * references on several branches (candidate generation AND both verify
    * sides), so the expensive shingle/signature subtree is computed once
    * instead of once per branch. The persisted handle is registered with
    * [[graft.SessionResources]]: long-lived sessions release it
    * deterministically between queries (Bench does) instead of waiting for
    * the ContextCleaner. At 100 TB the better entry points are the `...From`
    * variants over a signature table materialized to parquet. */
  private def materialized(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    graft.SessionResources.trackPersisted(p)
  }

  /** doc_id -> distinct shingle set (array) + its cardinality. */
  /** Shingle-ability is decided on the CHEAP word-count predicate, not on
    * `size(sh) > 0` over the computed array: the optimizer pushes the
    * filter toward the scan, and a filter that references the shingle
    * column drags the whole shingle computation below every exchange
    * (and evaluates it a second time for the projection — the guide's
    * §4.4 duplication, measured as a single-task 1.6 s stage in d18).
    * Equivalent by construction: shingles(text, w) is non-empty iff
    * size(split(text, ' ')) >= w — TextOps.words IS split-on-space.
    * The predicate itself is the native byte-scan
    * [[graft.functions.TextExpressions.wordCount]] (spaces+1 under the
    * same split semantics, no word-array allocation): r12 measured the
    * `size(split(...))` form costing 20-30% on the whole near-dup family
    * (d03/d04/d13/d19/d20/st09/d16) because every scanned row allocated
    * the full word array just to be counted. */
  def docShingles(docs: DataFrame, w: Int): DataFrame =
    docs.filter(graft.functions.TextExpressions.wordCount(col("text")) >= w)
      .select(col("doc_id"), TextOps.shingles(col("text"), w).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))

  /** Same, but shingles hashed to 64-bit immediately: all joins and
    * intersections downstream move 8-byte keys instead of ~w*8-char strings.
    * Collision risk at 64 bits is ~n^2/2^65 — negligible below billions of
    * distinct shingles per partition-set. Uses the native
    * [[graft.functions.ShingleHashes]] codegen expression (in-place byte
    * hashing, no per-shingle string construction) — the HOF chain it
    * replaces was ~2/3 of each near-dup query in the r2 bench. */
  def docShingleHashes(docs: DataFrame, w: Int): DataFrame =
    // same cheap-predicate filter as [[docShingles]]: the kernel returns
    // empty exactly when the space-delimited word count is < w
    docs.filter(graft.functions.TextExpressions.wordCount(col("text")) >= w)
      .select(col("doc_id"),
        graft.functions.TextExpressions.shingleHashes(col("text"), w).as("sh"))
      .withColumn("n_sh", size(col("sh")).cast("long"))

  object NearDup {
    /** Skew guard: a shingle appearing in more than this many docs is
      * boilerplate and is dropped from candidate generation (its pairs are
      * still reachable through their other, rarer shared shingles). */
    val maxShinglePostings = 1000
  }

  /**
   * Exact n-gram Jaccard over candidate pairs that share >= 1 shingle.
   * Inverted-index self-equi-join on the shingle key: cost is
   * sum over shingles of postings^2, not |docs|^2.
   *
   * Output: (id_a, id_b, inter, uni, jaccard) for pairs with jaccard >= minJ.
   */
  def ngramJaccardPairs(docs: DataFrame, w: Int = 5, minJ: Double = 0.2): DataFrame =
    // the shingle table feeds three plan branches (postings + both verify
    // sides): materialize it once instead of recomputing the shingle UDF
    // subtree per branch (r2 bench: 9.6s -> the recompute was ~2/3 of it)
    ngramJaccardPairsFrom(materialized(docShingleHashes(docs, w)), minJ)

  /**
   * Jaccard pairing from an existing hashed-shingle table `(doc_id, sh,
   * n_sh)` — [[docShingleHashes]] output. At 100 TB materialize that table
   * once (parquet, bucketed by doc_id) and pair from it; the one-shot
   * [[ngramJaccardPairs]] persists it for the query's lifetime instead.
   */
  /** Ordered candidate pairs (id_a < id_b) sharing at least one non-capped
    * shingle — the inverted-index equi-join generator shared by the
    * Jaccard and edit-distance verifiers.
    *
    * Skew guard: drop boilerplate shingles from candidate generation.
    * groupBy + join, NOT a window count: a window partition cannot
    * partial-aggregate, so the hot shingle this guard exists to drop
    * would first be materialized and sorted inside ONE task — the exact
    * straggler/OOM the guard prevents. groupBy counts the hot key
    * map-side (tiny partials), and the join back reuses the shuffle-by-s
    * partitioning the pairing join needs anyway. */
  private def candidatePairsFrom(sh: DataFrame, minShared: Int = 1): DataFrame = {
    val postings = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val rareShingles = postings.groupBy(col("s"))
      .agg(count(lit(1)).as("__pc"))
      .filter(col("__pc") <= NearDup.maxShinglePostings)
      .select(col("s"))
    val p = postings.join(rareShingles, Seq("s"))
    val a = p.select(col("s"), col("doc_id").as("id_a"))
    val b = p.select(col("s"), col("doc_id").as("id_b"))
    val joined = a.join(b, Seq("s")).filter(col("id_a") < col("id_b"))
    if (minShared <= 1) joined.select("id_a", "id_b").distinct()
    else joined.groupBy("id_a", "id_b").agg(count(lit(1)).as("__ns"))
      .filter(col("__ns") >= minShared).select("id_a", "id_b")
  }

  def ngramJaccardPairsFrom(sh: DataFrame, minJ: Double = 0.2): DataFrame = {
    // the guard affects CANDIDATE GENERATION only; the score is computed
    // exactly from the full shingle sets (array_intersect). Note the guard's
    // one semantic edge: a pair whose shared shingles are ALL capped
    // boilerplate produces no candidate and is dropped entirely (the DuckDB
    // oracle mirrors the same cap in its candidate CTE, so both engines
    // agree). Pairs with at least one rare shared shingle score exactly.
    val candidates = candidatePairsFrom(sh)
    val shA = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("n_sh").as("n_a"))
    val shB = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("n_sh").as("n_b"))
    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni", (col("n_a") + col("n_b") - col("inter")).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 6))
      .filter(col("jaccard") >= minJ)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"), col("jaccard"))
  }

  /**
   * Asymmetric near-CONTAINMENT pairs (Broder's containment coefficient
   * `|A ∩ B| / |A|` over the same w-shingle sets as d03) — the
   * quote/boilerplate/mirror-page detector Jaccard structurally misses:
   * a short document fully quoted inside a long one has tiny Jaccard
   * (the union is container-sized) but containment ~= 1. Candidates come
   * from the same skew-guarded inverted-index equi-join as the Jaccard
   * verifier — one shared shingle suffices, boilerplate shingles capped
   * — and each candidate pair is evaluated in BOTH directions, emitting
   * a row per (contained, container) direction clearing `minC`. Exact
   * intersections over 8-byte shingle hashes; the ratio rounds at 6 like
   * every verifier ratio.
   *
   * Scale: identical movement profile to [[ngramJaccardPairsFrom]] —
   * postings and id pairs shuffle, shingle arrays join candidates only;
   * the direction explode doubles candidate rows, nothing corpus-sized.
   */
  def containmentPairs(docs: DataFrame, w: Int = 5, minC: Double = 0.5): DataFrame = {
    val sh = materialized(docShingleHashes(docs, w))
    val candidates = candidatePairsFrom(sh)
    val shA = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("n_sh").as("n_a"))
    val shB = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("n_sh").as("n_b"))
    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .select(explode(array(
          struct(col("id_a").as("contained_id"), col("id_b").as("container_id"),
            col("inter"), col("n_a").as("n_contained")),
          struct(col("id_b").as("contained_id"), col("id_a").as("container_id"),
            col("inter"), col("n_b").as("n_contained")))).as("d"))
      .select(col("d.contained_id").as("contained_id"),
        col("d.container_id").as("container_id"),
        col("d.inter").as("inter"), col("d.n_contained").as("n_contained"))
      .withColumn("containment",
        round(col("inter").cast("double") / col("n_contained"), 6))
      .filter(col("containment") >= minC)
  }

  /**
   * Bottom-k sketch-ACCELERATED containment — [[containmentPairs]]'s
   * scale path: the full-postings candidate join prices every document
   * at |shingles| posting rows; here the PROBE side shrinks to each
   * document's bottom-k shingles by md5 order (a uniform k-sample of
   * its set — hash order is independent of membership anywhere else),
   * joined against the full postings. Directional by construction:
   * probing with A's sketch finds the pairs where A is the CONTAINED
   * side, and the miss probability is exponentially small in k —
   * containment(A in B) >= c means each sketch shingle lands in B with
   * probability >= ~c, so P(no hit) <= (1-c)^k = 1.5e-5 at the c = 0.5,
   * k = 16 defaults. Survivors verify EXACTLY from the full shingle
   * sets (the d03/d04 candidates-cheap/score-exact split), so a
   * reported containment is never an estimate. The same boilerplate
   * postings cap guards both sides; a sketch slot burned on a capped
   * shingle simply degrades the (1-c)^k bound by one draw.
   *
   * Output schema matches [[containmentPairs]]; at the default bar the
   * result is the d17 set minus only pairs the sketch missed (bounded
   * above) or whose shared shingles are all boilerplate (the shared
   * d03 semantic edge).
   */
  def containmentSketchPairs(docs: DataFrame, w: Int = 5, k: Int = 16,
                             minC: Double = 0.5): DataFrame = {
    require(k >= 1, s"sketch size k must be >= 1, got $k")
    val sh = materialized(docShingles(docs, w))
    val postings = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val rare = postings.groupBy(col("s"))
      .agg(count(lit(1)).as("__pc"))
      .filter(col("__pc") <= NearDup.maxShinglePostings)
      .select(col("s"))
    val p = postings.join(rare, Seq("s"))
    // bottom-k by 32-bit md5 prefix, smaller-shingle tie-break — the
    // identical total order a SQL mirror sorts by (prefix ASC, s ASC)
    val bk = p.groupBy(col("doc_id"))
      .agg(graft.functions.VectorAggregates.topKStr(
        -conv(substring(md5(col("s")), 1, 8), 16, 10).cast("double"),
        col("s"), k).as("top"))
      .select(col("doc_id").as("contained_id"), explode(col("top")).as("t"))
      .select(col("contained_id"), col("t.id").as("s"))
    val cand = bk
      .join(p.select(col("s"), col("doc_id").as("container_id")), Seq("s"))
      .filter(col("contained_id") =!= col("container_id"))
      .select("contained_id", "container_id").distinct()
    val shA = sh.select(col("doc_id").as("contained_id"), col("sh").as("sh_a"),
      col("n_sh").as("n_contained"))
    val shB = sh.select(col("doc_id").as("container_id"), col("sh").as("sh_b"))
    cand.join(shA, Seq("contained_id")).join(shB, Seq("container_id"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("containment",
        round(col("inter").cast("double") / col("n_contained"), 6))
      .filter(col("containment") >= minC)
      .select(col("contained_id"), col("container_id"), col("inter"),
        col("n_contained"), col("containment"))
  }

  // ---- MinHash ---------------------------------------------------------------

  /** splitmix64 — public-domain mixing function (Steele et al.), the standard
    * way to derive k independent hash families from one 64-bit value. */
  def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64-bit string hash (FNV-1a over UTF-16 code units, splitmix-finalized).
    * Self-contained so tests and the UDF kernel share one definition. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    splitmix64(h)
  }

  /**
   * MinHash signature kernel over pre-hashed shingles: for permutation i,
   * h_i(s) = splitmix64(h0 ^ seed_i); the signature is the per-permutation
   * minimum over the shingle set. One imperative pass per document
   * (k*|shingles| mixes) — a deliberate UDF: doing this with k generated
   * columns would shuffle the whole exploded posting list instead of one
   * compact array per doc.
   */
  def minhashSignature(shingleHashes: Seq[Long], k: Int): Array[Long] = {
    val seeds = Array.tabulate(k)(i => splitmix64(0x5eed0000L + i))
    val sig = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < shingleHashes.length) {
      val h0 = shingleHashes(j)
      var i = 0
      while (i < k) {
        val h = splitmix64(h0 ^ seeds(i))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      j += 1
    }
    sig
  }

  private def minhashUdf(k: Int) = udf { (sh: Seq[Long]) =>
    if (sh == null || sh.isEmpty) null else minhashSignature(sh, k)
  }

  /** doc_id -> (hashed shingle set, minhash signature of length `k`). */
  def withSignatures(docs: DataFrame, w: Int, k: Int): DataFrame =
    docShingleHashes(docs, w).withColumn("sig", minhashUdf(k)(col("sh")))

  /**
   * MinHash-LSH near-duplicate pairs — the scale path.
   *
   * signatures -> `bands` bands of `k/bands` rows -> band-hash ->
   * equi-join on (band, band_hash) -> distinct candidate pairs ->
   * exact-Jaccard verify (array_intersect on the two shingle sets).
   *
   * With k=32, bands=16 (r=2): P(candidate | j) = 1-(1-j^2)^16, i.e.
   * ~0.999998 at j=0.7 — planted near-dups are found with near-certainty
   * while the expected all-pairs cost never materializes.
   *
   * Output schema matches [[ngramJaccardPairs]] so the two operators are
   * interchangeable downstream.
   */
  def minhashLshPairs(docs: DataFrame, w: Int = 5, k: Int = 32, bands: Int = 16,
                      minJ: Double = 0.7): DataFrame =
    // signatures feed three plan branches (banding + both verify sides):
    // materialize once — recomputing the shingle+signature UDF subtree per
    // branch tripled this operator's cost in the r2 bench (10.4s)
    minhashLshPairsFrom(
      materialized(withSignatures(docs, w, k).filter(col("sig").isNotNull)),
      k, bands, minJ)

  /**
   * LSH pairing from an existing signature table `(doc_id, sh, n_sh, sig)`
   * — [[withSignatures]] output with signatures of length `k`. At 100 TB
   * this is the entry point to use: materialize the signature table ONCE
   * (parquet, bucketed by doc_id) and run banding/verify against it,
   * instead of recomputing shingles + signatures on every plan branch of
   * the one-shot [[minhashLshPairs]].
   */
  def minhashLshPairsFrom(signed: DataFrame, k: Int = 32, bands: Int = 16,
                          minJ: Double = 0.7): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands

    // band the signature: band_hash = xxhash64(band index, r sig values).
    // Only (doc_id, band, band_hash) flows into the join — the shingle sets
    // are re-attached to the (small) candidate set afterwards.
    val banded = signed.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * r + lit(1), lit(r)))))
        .as(Seq("band", "band_hash")))

    val a = banded.select(col("band"), col("band_hash"), col("doc_id").as("id_a"))
    val b = banded.select(col("band"), col("band_hash"), col("doc_id").as("id_b"))

    val candidates = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // re-attach shingle sets from the signature table itself; when the
    // caller materialized it, the verify joins read the materialized data
    // instead of recomputing the shingle/signature subtree.
    val shingleSets = signed.select(col("doc_id"), col("sh"), col("n_sh"))
    val shA = shingleSets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"), col("n_sh").as("n_a"))
    val shB = shingleSets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"), col("n_sh").as("n_b"))

    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni", (col("n_a") + col("n_b") - col("inter")).cast("long"))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 6))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "inter", "uni", "jaccard")
  }

  // ---- persisted minhash index (index build / serve split) -------------------

  /**
   * Index-build half of a production near-dup deployment (the v11
   * sign-bit-index pattern applied to MinHash): shingle + sign each corpus
   * document ONCE and persist `(doc_id, sh, n_sh, sig)` bucketed on doc_id
   * ([[graft.relational.Bucketing]]). Near-dup dedup is the single
   * most-rerun pipeline at corpus scale — every daily ingest needs the
   * corpus side — and re-hashing 100 TB per run is exactly the cost this
   * split deletes: [[minhashLshPairsIndexed]] and [[nearDupAdmit]] read
   * stored signatures, and the verify-side shingle re-attach joins id-only
   * candidates against the bucket layout, so the corpus payload (`sh`, the
   * dominant bytes) never shuffles. The shingle/signature parameters
   * (w, k) are recorded as table properties, so a reader can check that
   * its batch signatures match the index's.
   */
  def buildMinhashIndex(docs: DataFrame, table: String, w: Int = 5, k: Int = 32,
                        buckets: Int = 8, path: Option[String] = None,
                        writerTasksPerBucket: Int = 1): Unit = {
    graft.relational.Bucketing.writeBucketed(
      withSignatures(docs, w, k).filter(col("sig").isNotNull),
      table, "doc_id", buckets, path = path,
      writerTasksPerBucket = writerTasksPerBucket)
    docs.sparkSession.sql(
      s"ALTER TABLE $table SET TBLPROPERTIES " +
        s"('graft.minhash.w' = '$w', 'graft.minhash.k' = '$k')")
  }

  /** Within-corpus LSH pairing served from a [[buildMinhashIndex]] table —
    * identical output to [[minhashLshPairs]] on the same corpus (the
    * storage split is invisible in the result; d13 proves it against d04's
    * oracle verbatim). The banded-posting shuffle moves (doc_id, band,
    * band_hash) rows only; shingle sets reach the verify through the
    * bucketed scan on both join sides. */
  def minhashLshPairsIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                             k: Int = 32, bands: Int = 16,
                             minJ: Double = 0.7): DataFrame =
    minhashLshPairsFrom(graft.relational.Bucketing.read(spark, table), k, bands, minJ)

  /**
   * Incremental-ingest near-dup ADMISSION — the production daily-crawl
   * front door, composing the persisted index with d10's LEFT ANTI
   * discipline: a new batch document is admitted iff it near-dup matches
   * NO document of the indexed corpus (exact-Jaccard >= minJ against LSH
   * candidates). Signatures are computed for the (small) batch only; the
   * corpus contributes stored signatures via `index` (a
   * [[buildMinhashIndex]] read — or any `withSignatures`-shaped frame,
   * which is what the streaming gate passes per micro-batch). Candidates
   * come from the cross-side (band, band_hash) equi-join; only batch-side
   * rows and id-only candidates shuffle. NOTE: admission is one-sided and
   * within-batch duplicates are NOT collapsed here — run
   * [[incrementalDedup]] on the admitted set for that.
   */
  def nearDupAdmit(newBatch: DataFrame, index: DataFrame, w: Int = 5,
                   k: Int = 32, bands: Int = 16, minJ: Double = 0.7,
                   materializeBatch: Boolean = true): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val r = k / bands
    def banded(signed: DataFrame, idAs: String) = signed.select(
      col("doc_id").as(idAs),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * r + lit(1), lit(r)))))
        .as(Seq("band", "band_hash")))
    // the batch signature frame feeds two branches (banding + verify):
    // persist it by default; callers composing this inside a scope that
    // manages its own caching (or cannot persist) pass false and let the
    // planner recompute the cheap batch-sized subtree
    val signedRaw = withSignatures(newBatch, w, k).filter(col("sig").isNotNull)
    val signedNew = if (materializeBatch) materialized(signedRaw) else signedRaw
    // candidates: new-batch band postings probe the corpus postings
    val cand = banded(signedNew, "new_id")
      .join(banded(index, "corpus_id"), Seq("band", "band_hash"))
      .select("new_id", "corpus_id").distinct()
    // exact-Jaccard verify: batch shingles re-attach from the (persisted)
    // batch signature frame, corpus shingles from the bucketed index
    val matched = cand
      .join(signedNew.select(col("doc_id").as("new_id"), col("sh").as("sh_n"),
        col("n_sh").as("n_n")), "new_id")
      .join(index.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"),
        col("n_sh").as("n_c")), "corpus_id")
      .withColumn("inter", size(array_intersect(col("sh_n"), col("sh_c"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_n") + col("n_c") - col("inter")))
      .filter(col("jaccard") >= minJ)
      .select(col("new_id").as("doc_id")).distinct()
    newBatch.join(matched, Seq("doc_id"), "left_anti")
  }

  // ---- Line-level dedup ------------------------------------------------------

  /**
   * Corpus-wide line deduplication (the CCNet-style paragraph dedup pass:
   * boilerplate lines — headers, navigation, license blocks — repeat across
   * millions of pages and are removed everywhere but their first
   * occurrence). Input is an exploded line view `(doc_id, line_no, line)`;
   * output is one row per input doc: `(doc_id, n_lines, n_kept,
   * dedup_text)` with the surviving lines re-joined in order (docs whose
   * every line first appeared elsewhere survive with empty text —
   * dropping them is a separate filter policy).
   *
   * Scale design: the winner election groups by the 16-byte md5 of the
   * line, so the election shuffle moves `(hash, doc_id, line_no)` — never
   * line text — and `min` partial-aggregates map-side, which makes the
   * classic hot line (one header shared by 1e7 docs) a non-event (same
   * skew reasoning as the d03 postings guard; a window over the line key
   * would sort the hot line's occurrences inside ONE task). The join back
   * on `(doc_id, line_no)` and the reassembly groupBy `doc_id` are the
   * only shuffles that carry text, each moving the corpus once.
   */
  def lineDedup(docs: DataFrame, lines: DataFrame): DataFrame = {
    val keep = lines
      .groupBy(md5(col("line")).as("__h"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("k"))
      .select(col("k.doc_id").as("doc_id"), col("k.line_no").as("line_no"))
    val kept = lines.join(keep, Seq("doc_id", "line_no"))
    val reassembled = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
          x => x.getField("line")), " ").as("dedup_text"))
    val counts = lines.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
    docs.select("doc_id").join(counts, Seq("doc_id"), "left")
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /**
   * Content-defined chunking (CDC) shared-content audit — the word-level
   * analogue of the rolling-hash chunking that backup/dedup systems and
   * exact-substring training-data dedup (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better", §4.1) use: chunk
   * boundaries are decided by the CONTENT (a word whose md5-prefix ≡ 0 mod
   * `modBoundary` starts a new chunk), never by offsets, so an identical
   * text run produces identical chunks no matter where it sits inside a
   * document. Insertions/deletions only perturb the chunks they touch —
   * the property fixed-width windows lack.
   *
   * Output: per doc, `(doc_id, n_chunks, n_shared, shared_frac)` where
   * n_shared counts its chunks whose hash occurs in >= 2 distinct docs.
   *
   * Scale shape: the chunking itself is MAP-ONLY — a single in-kernel
   * fold over each doc's word array (a boundary word closes the running
   * chunk and starts the next) emits the doc's chunk list with no
   * explode, no shuffle, and no window; corpus words never become rows.
   * After that, everything rides 16-byte chunk hashes through hash-keyed
   * group-bys with map-side partials: chunk hash -> distinct-doc count,
   * doc -> stats. (The equivalent running-boundary-count window
   * formulation — what the DuckDB oracle runs — shuffles every word and
   * sorts per doc; the fold needs neither.)
   */
  /** The CDC chunk-list expression shared by [[chunkSharedContent]] and
    * [[chunkDedupRemove]]: one in-kernel fold over the doc's word array —
    * fold state is (done: chunks emitted so far, cur: the open chunk). */
  private def cdcChunksExpr(modBoundary: Int): String =
    s"""aggregate(
       |  split(text, ' '),
       |  struct(cast(array() as array<string>) as done, cast(null as string) as cur),
       |  (acc, w) -> if(cast(conv(substring(md5(w), 1, 4), 16, 10) as bigint) % $modBoundary = 0,
       |    struct(if(acc.cur is null, acc.done, array_append(acc.done, acc.cur)) as done,
       |           w as cur),
       |    struct(acc.done as done,
       |           if(acc.cur is null, w, concat(acc.cur, ' ', w)) as cur)),
       |  acc -> if(acc.cur is null, acc.done, array_append(acc.done, acc.cur)))""".stripMargin

  /** Per-doc CDC chunk hashes — the raw (doc_id, chunk_hash) layer the
    * d12/d14 pipelines fold; exposed for audits (d28) that compare a
    * doc's chunk SET across edits. Map-only (the in-kernel fold). */
  def cdcChunkHashes(docs: DataFrame, modBoundary: Int = 4): DataFrame =
    docs
      .select(col("doc_id"), explode(expr(cdcChunksExpr(modBoundary))).as("chunk"))
      .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"))

  def chunkSharedContent(docs: DataFrame, modBoundary: Int = 4): DataFrame = {
    val chunks = cdcChunkHashes(docs, modBoundary)
    val global = chunks.groupBy("chunk_hash")
      .agg(countDistinct(col("doc_id")).as("nd"))
    chunks.join(global, Seq("chunk_hash"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_chunks"), 6).as("shared_frac"))
  }

  /**
   * Exact substring-span dedup REMOVER — the completion of the
   * [[chunkSharedContent]] audit: instead of reporting shared spans, it
   * rewrites each document with its already-seen spans cut out, the
   * Lee et al. 2022 "remove all but one occurrence of duplicated
   * substrings" step that measurably improves trained-model quality.
   *
   * Keep rule (deterministic, corpus-order-free): a chunk occurrence
   * survives iff its doc is the SMALLEST doc_id containing that chunk
   * hash — the first-owner doc keeps all its occurrences, every later doc
   * loses the span. Output per doc: `(doc_id, clean_text, n_chunks,
   * n_removed)` with clean_text the surviving chunks re-joined in
   * document order ('' when everything was removed).
   *
   * Scale shape: chunking is the same MAP-ONLY in-kernel fold as the
   * audit (no word rows, no window); the first-owner election is one
   * hash-keyed groupBy on 16-byte chunk hashes with map-side `min`
   * partials; the chunk payload then moves through exactly two
   * unavoidable-for-a-rewriter exchanges — the hash equi-join that tags
   * each occurrence with its owner and the doc_id re-assembly groupBy.
   * Re-assembly is order-stable with no per-doc sort task: chunks carry
   * their fold position, and array_sort over the collected (pos, chunk)
   * structs orders each doc's own chunks inside the aggregate.
   *
   * Deliberate two-consumer shape: the chunk subtree is evaluated twice
   * (election + probe). The single-scan alternative — repartition on the
   * hash and elect via min over the full (doc_id, pos, chunk) struct so
   * ReuseExchange can share the probe's exchange (the t09 trick; a bare
   * min(doc_id) lets pruning specialize the branches apart) — was built
   * and A/B-measured ~10% SLOWER at sf0.1 (3.7 -> 4.1 s median,
   * same-sitting): it trades the cheap re-fold for payload-sized
   * aggregate state (one chunk string per distinct hash in the election's
   * hash map) and a second payload read of the shuffle files, where this
   * form's election shuffles 24-byte (hash, id) rows only.
   */
  def chunkDedupRemove(docs: DataFrame, modBoundary: Int = 4): DataFrame = {
    val chunks = docs
      .select(col("doc_id"),
        posexplode(expr(cdcChunksExpr(modBoundary))).as(Seq("pos", "chunk")))
      .select(col("doc_id"), col("pos"), col("chunk"),
        md5(col("chunk")).as("chunk_hash"))
    val firstOwner = chunks.groupBy("chunk_hash")
      .agg(min(col("doc_id")).as("first_doc"))
    chunks.join(firstOwner, Seq("chunk_hash"))
      .groupBy("doc_id")
      .agg(
        array_join(expr(
          "transform(array_sort(collect_list(" +
            "case when doc_id = first_doc then struct(pos, chunk) end)), x -> x.chunk)"),
          " ").as("clean_text"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("doc_id") === col("first_doc"), 0L).otherwise(1L))
          .as("n_removed"))
      .select(col("doc_id"), col("clean_text"), col("n_chunks"), col("n_removed"))
  }

  /**
   * ExactSubstr span detection (Lee et al. 2022, §4.1 — the suffix-array
   * method's scalable windowed form): find, per document, the maximal
   * WORD-OFFSET spans covered by w-word windows that also occur verbatim
   * in at least one OTHER document. d12/d14 operate at chunk granularity
   * (drop/keep whole chunks); this is the span-granularity complement —
   * the output offsets let a pipeline surgically cut the duplicated run
   * and keep the unique remainder of the document, which is Lee et al.'s
   * actual removal semantics.
   *
   * Output: `(doc_id, span_start, span_end, n_windows)` — span covers
   * word indices [span_start, span_end) (0-based), n_windows = how many
   * duplicated windows merged into it. Overlapping or TOUCHING windows
   * merge (gap <= w): between two touching duplicated windows every word
   * is part of some duplicated run.
   *
   * Scale shape: positioned window hashes come from the codegen
   * [[graft.functions.TextExpressions.shingleHashSeq]] kernel (map-only)
   * + posexplode; the cross-doc census is one (h, doc_id) dedup + one
   * partial-aggregated count — never a pair join, so a boilerplate
   * window shared by a million docs costs its posting count, not its
   * pairs. The flag-back is a LEFT SEMI equi-join on the 8-byte hash,
   * and the island merge is a per-doc window bounded by document length.
   * Nothing in the pipeline is quadratic in corpus size.
   */
  def exactSubstrSpans(docs: DataFrame, w: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = docs.select(col("doc_id"),
      posexplode(graft.functions.TextExpressions.shingleHashSeq(col("text"), w))
        .as(Seq("pos", "h")))
    // windows duplicated ACROSS documents (within-doc repetition is
    // t07/t27/t30's surface): distinct (h, doc) first so a window
    // repeated inside one doc counts that doc once
    val dup = wins.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("h"))
    val flagged = wins.join(dup, Seq("h"), "left_semi")
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    flagged
      .withColumn("__brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) <= w, lit(0))
          .otherwise(lit(1)))
      .withColumn("__island", sum(col("__brk")).over(byPos))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + w).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  // ---- Decontamination -------------------------------------------------------

  /**
   * Train/eval n-gram overlap decontamination — the pre-training scan that
   * finds benchmark (eval-set) content inside the training corpus. No
   * counterpart in the reference; it is the standard contamination check of
   * large-scale pipelines (GPT-3 appendix C and The Pile run 13-gram
   * variants of exactly this shape).
   *
   * Output: one row per contaminated training doc,
   * `(doc_id, n_bench_docs, max_shared)` — the number of benchmark docs it
   * shares >= `minShared` distinct w-gram shingles with, and the largest
   * such overlap.
   *
   * Scale design: benchmark suites are tiny (~1e5 docs) against a 100 TB
   * corpus, so the bench side's exploded shingle-hash postings are
   * BROADCAST and the corpus streams map-side through the hash join — the
   * corpus itself is never shuffled. The per-(train, bench) overlap count
   * aggregates 16-byte id pairs with map-side partials, and all keys are
   * 64-bit shingle hashes from the native kernel, never shingle strings.
   * Both sides' shingle arrays are distinct sets, so the join emits exactly
   * one row per shared shingle: `count(*)` IS the intersection size.
   */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    w: Int = 3, minShared: Int = 2): DataFrame = {
    val t = docShingleHashes(train, w)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val b = docShingleHashes(bench, w)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("s"))
    t.join(broadcast(b), Seq("s"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_docs"), max(col("shared")).as("max_shared"))
  }

  /**
   * Graded contamination score — the decision-grade complement of
   * [[decontaminate]]: d08 answers "which docs share >= k shingles with
   * SOME bench doc" (the binary drop list); this prices EVERY training
   * doc against the bench shingle UNIVERSE as a fraction of the doc's
   * own shingles — the number the quota policy actually consumes
   * (drop if contaminated, rewrite/mask if partial, keep if clean).
   *
   * Output: one row per train doc with shingles —
   * (doc_id, n_sh, n_hit, contam_ppm, tier) where contam_ppm =
   * n_hit * 1e6 div n_sh (exact integers) and tier is clean (0 hits) /
   * partial (<= 50%) / contaminated (> 50%).
   *
   * Scale shape: d08's exactly — the bench shingle universe is a
   * distinct hash set, BROADCAST; the corpus streams map-side through
   * a left-semi hash join (hits counted with map-side partials) and is
   * never shuffled; zero-hit docs rejoin via the doc-id-keyed
   * left-outer against the doc-sized (id, n_sh) frame.
   */
  def contaminationScore(train: DataFrame, bench: DataFrame,
                         w: Int = 3): DataFrame = {
    val bsh = docShingleHashes(bench, w)
      .select(explode(col("sh")).as("s")).distinct()
    val t = docShingleHashes(train, w)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"), col("sh"))
      .filter(col("n_sh") > 0)
    val hits = t.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(bsh), Seq("s"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    t.select("doc_id", "n_sh").join(hits, Seq("doc_id"), "left_outer")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("contam_ppm", expr("(n_hit * 1000000) div n_sh"))
      .withColumn("tier", when(col("n_hit") === 0, lit("clean"))
        .when(col("contam_ppm") <= 500000, lit("partial"))
        .otherwise(lit("contaminated")))
  }

  /**
   * Bloom-prefiltered decontamination — result-identical to
   * [[decontaminate]] (the exact broadcast-join overlap scan IS the final
   * verifier, so Bloom false positives cannot surface), but the corpus side
   * is first gated by a Bloom filter over the bench shingle hashes.
   *
   * Scale design: d08 already never shuffles the corpus, but it does
   * EXPLODE every training document's shingles through the broadcast join
   * (~n_words rows per doc at 100 TB, joined then discarded for the >99%
   * of clean docs). Here the gate runs BEFORE the explode, inside the
   * scan's projection: Spark's native `BloomFilterMightContain` expression
   * (codegen, bloom deserialized once per task) counts, per document, how
   * many of its shingle hashes might be bench shingles; only docs reaching
   * `minShared` possible hits — a necessary condition for sharing
   * `minShared` distinct shingles with any single bench doc, since Bloom
   * has no false negatives — ever explode. Everything downstream of the
   * gate is [[decontaminate]]'s exact plan on the tiny surviving slice.
   * The filter is sized by `BloomFilter.optimalNumOfBits` at the given fpp
   * and built in ONE distributed aggregation over the (small, by d08's
   * contract) bench side — `BloomFilterAggregate` merges per-partition
   * filters map-side — then travels to executors as a task-binary literal.
   */
  def decontaminateBloom(train: DataFrame, bench: DataFrame,
                         w: Int = 3, minShared: Int = 2,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge

    val benchSh = materialized(docShingleHashes(bench, w))
    val b = benchSh.select(col("doc_id").as("bench_id"), explode(col("sh")).as("s"))
    val bfBytes = benchBloomBytes(benchSh, fpp)
    val mightContain = bloomMightContain(bfBytes) _

    val survivors = docShingleHashes(train, w)
      .filter(size(filter(col("sh"), mightContain)) >= minShared)
    survivors.select(col("doc_id"), explode(col("sh")).as("s"))
      .join(broadcast(b), Seq("s"))
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bench_docs"), max(col("shared")).as("max_shared"))
  }

  /** Serialized engine-native Bloom filter over a [[docShingleHashes]]
    * frame's 64-bit shingle hashes — the broadcast-free prefilter literal
    * shared by [[decontaminateBloom]] and the streaming decontamination
    * gate. Capacity bound = total posting rows: cheap on the small side
    * and errs toward a LOWER effective fpp. sum() is NULL on an empty
    * bench side — an empty benchmark set is a legal call and must yield
    * a valid (match-nothing) filter, not an NPE. */
  private[graft] def benchBloomBytes(benchSh: DataFrame, fpp: Double): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.ColumnBridge
    val nItems = math.max(1L,
      benchSh.agg(coalesce(sum(col("n_sh")), lit(0L))).head.getLong(0))
    val nBits = org.apache.spark.util.sketch.BloomFilter.create(nItems, fpp).bitSize()
    benchSh.select(explode(col("sh")).as("s"))
      .select(ColumnBridge.column(
        new BloomFilterAggregate(ColumnBridge.expression(col("s")),
          Literal(nItems), Literal(nBits)).toAggregateExpression()).as("bf"))
      .head.getAs[Array[Byte]](0)
  }

  /** Row-local probe of a [[benchBloomBytes]] literal: codegen
    * `might_contain` against the in-plan serialized filter. */
  private[graft] def bloomMightContain(bfBytes: Array[Byte])(x: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      BloomFilterMightContain(Literal(bfBytes), ColumnBridge.expression(x)))
  }

  // ---- SimHash ---------------------------------------------------------------

  /**
   * 64-bit SimHash over the word bag: each word votes its hash bits +/-1;
   * the fingerprint is the sign vector. Hamming distance approximates
   * cosine distance of the bag-of-words vectors.
   */
  def simhash64(words: Seq[String]): Long = {
    val votes = new Array[Int](64)
    var j = 0
    while (j < words.length) {
      val h = hash64(words(j))
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      j += 1
    }
    var fp = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) fp |= (1L << i); i += 1 }
    fp
  }

  private val simhashUdf = udf { (text: String) =>
    if (text == null) null.asInstanceOf[java.lang.Long]
    // split(" ", -1) == Spark's split(text, " "): trailing empties kept,
    // so fingerprints are identical to the former words-array form
    else java.lang.Long.valueOf(simhash64(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(text.split(" ", -1))))
  }

  /** doc_id -> simhash fingerprint. The UDF splits inside the kernel — no
    * Spark-side word array is materialized and boxed per row. */
  def withSimhash(docs: DataFrame): DataFrame =
    docs.withColumn("simhash", simhashUdf(col("text")))

  /**
   * Embedding-cosine near-dup dedup (the fifth dedup family, alongside
   * exact / n-gram Jaccard / MinHash-LSH / SimHash): keep-first semantics
   * over cosine-threshold pairs — every doc with at least one LOWER-id
   * neighbor at cos >= tau is a duplicate of its smallest such neighbor
   * (`dup_of`), reported with its near-neighbor count.
   *
   * Pairs are injected via [[embeddingNearDupFrom]] so the candidate source
   * is interchangeable: the exact block-grid kernel
   * ([[Similarity.cosinePairsGrid]]) where an oracle-checkable answer is
   * wanted; LSH-bucketed candidate pairs at 100 TB, where all-pairs is
   * impossible and the equi-join on (table, bucket) is the scale path.
   */
  def embeddingNearDup(emb: DataFrame, tau: Double): DataFrame =
    embeddingNearDupFrom(Similarity.cosinePairsGrid(emb, tau))

  /** Keep-first grouping of `(id_a < id_b, cos)` pairs: group on the higher
    * id, keep the smallest lower id. One shuffle on the 8-byte doc id; the
    * pair frame carries no payloads. */
  def embeddingNearDupFrom(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("id_b"))
      .agg(min(col("id_a")).as("dup_of"), count(lit(1)).as("n_near"))
      .select(col("id_b").as("doc_id"), col("dup_of"), col("n_near"))

  /**
   * SemDeDup — semantic dedup via clustered pruning (Abbas et al. 2023,
   * arXiv:2303.09540): duplicate search runs ONLY inside k-means clusters.
   * Where [[embeddingNearDup]]'s exact grid pays |corpus|^2 comparisons,
   * the cluster assignment caps the pairwise stage at sum(|cluster|^2) —
   * with sqrt-sized clustering that is ~|corpus|^1.5 — at the cost of
   * missing pairs that straddle a cluster boundary (the paper's measured
   * trade; raising `c` sharpens clusters and shrinks the quadratic term).
   * The clustering plays exactly the role LSH bands play for MinHash: a
   * deterministic pruning structure that turns all-pairs into an
   * equi-join.
   *
   * Deterministic end to end: centroids from [[Similarity.ivfCentroids]]
   * (deterministic sample, fixed iterations, lowest-index argmax ties),
   * pairs at rounded cos >= tau, transitive closure via
   * [[dedupComponents]], and per component ONE survivor — the member
   * LEAST similar to its centroid (the paper's diversity-preserving
   * representative choice), ties to the smallest vec_id, elected by the
   * arg_max hash aggregate (no window sort).
   *
   * Output, one row per input vector, total-ordered by vec_id:
   * `(vec_id, cl, comp_id, cos_c, kept)` — comp_id is the component's
   * smallest member id (self for singletons), cos_c the rounded
   * similarity to the assigned centroid. Every component lies wholly
   * inside one cluster by construction (pairs never cross `cl`).
   */
  def semanticDedup(emb: DataFrame, tau: Double, c: Int = 0): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents = Similarity.ivfCentroids(emb, c)
    val centsDf = broadcast(
      cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cl", "centroid"))
    // one scored frame feeds three consumers (pair gen x2, final output):
    // materialize it so assignment + norms run once
    val scored = materialized(
      Similarity.ivfAssigned(emb, cents).join(centsDf, Seq("cl"))
        .select(col("cl"), col("vec_id"), col("embedding"),
          round(try_divide(vecDot(col("embedding"), col("centroid")),
            vecNorm(col("embedding")) * vecNorm(col("centroid"))), 6).as("cos_c")))
    // within-cluster pairs: a self-equi-join on the cluster id — the
    // SemDeDup cost model made explicit in the plan (no cross product)
    val l = scored.select(col("cl"), col("vec_id").as("id_a"),
      col("embedding").as("ea"))
    val r = scored.select(col("cl"), col("vec_id").as("id_b"),
      col("embedding").as("eb"))
    val pairs = l.join(r, Seq("cl"))
      .filter(col("id_a") < col("id_b"))
      // zero-norm discipline as in Similarity.cosinePairsGrid: try_divide
      // NULLs the 0/0, and the null-rejecting filter drops the pair
      .withColumn("cos",
        round(try_divide(vecDot(col("ea"), col("eb")),
          vecNorm(col("ea")) * vecNorm(col("eb"))), 6))
      .filter(!isnan(col("cos")) && col("cos") >= tau)
      .select("id_a", "id_b")
    val comps = dedupComponents(pairs)
      .select(col("doc_id").as("vec_id"), col("comp_id"))
    // survivor per component: arg-min (cos_c, vec_id) as an arg_max hash
    // aggregate over the negated composite — partial-aggregates map-side
    val winners = comps.join(scored.select("vec_id", "cos_c"), Seq("vec_id"))
      .groupBy(col("comp_id"))
      .agg(graft.functions.VectorAggregates.argMax(
        struct((-col("cos_c")).as("o1"), (-col("vec_id")).as("o2")),
        col("vec_id")).as("keep_id"))
    scored.select(col("vec_id"), col("cl"), col("cos_c"))
      .join(comps, Seq("vec_id"), "left")
      .join(winners, Seq("comp_id"), "left")
      .select(col("vec_id"), col("cl").cast("long").as("cl"),
        coalesce(col("comp_id"), col("vec_id")).as("comp_id"),
        col("cos_c"),
        (col("comp_id").isNull || col("keep_id") === col("vec_id")).as("kept"))
  }

  /**
   * Transitive near-dup clusters: connected components over an undirected
   * pair frame — every participating doc gets `comp_id` = the smallest
   * doc_id reachable through the pair graph. This is the canonical cluster
   * step after ANY pairwise stage (Jaccard / MinHash / SimHash / embedding
   * pairs): pairwise keep-first only collapses direct links; a dedup that
   * keeps one representative per cluster needs the closure.
   *
   * Implementation: iterative min-label propagation WITH pointer jumping.
   * Each round (1) pushes labels across edges (equi-join on the 8-byte
   * vertex id) and keeps the per-vertex min (partial-aggregating groupBy),
   * then (2) shortcuts every node to its label's own label — the
   * path-doubling step of star-contraction-style CC algorithms, as one
   * more equi-join on the label id. Labels are monotonically
   * non-increasing, so the loop stops the first round nothing changes.
   * Step (1) alone needs diameter rounds — an adversarial long-chain pair
   * graph used to FAIL the 25-round cap; with the jump the label-chain
   * distance halves per round, so rounds = O(log diameter) (diameter
   * 2^25 before the cap bites; a 100-node path converges in ~8 rounds,
   * property-tested). The loop is [[graft.LoopConf.fixpoint]]: each
   * round's labels are a local checkpoint that the label-sum probe
   * materializes, freed by the ContextCleaner once the loop drops them.
   */
  /** Below this many (undirected) pairs the component closure runs as a
    * driver-side union-find over the collected edge list instead of the
    * iterative join loop — the same adaptive small-side reasoning as a
    * broadcast join (AQE), applied to an iterative algorithm: a 1e6-edge
    * list is ~16 MB on the driver, while the loop would pay
    * rounds x (broadcast + shuffle + persist + action) of pure scheduling
    * for a graph that fits in one array. Near-dup pair graphs are tiny
    * relative to their corpora (pairs are the OUTPUT of dedup candidate
    * pruning), so real pipelines hit this path long before 100 TB corpora
    * stop qualifying; beyond it, the loop's per-round equi-join + partial
    * aggregation is the plan that scales. */
  val componentsDriverMaxEdges: Long = 1000000L

  /** Round cap of the distributed closure: label-chain diameter 2^25. */
  private val ComponentsMaxRounds = 25

  def dedupComponents(pairs: DataFrame,
                      driverMaxEdges: Long = componentsDriverMaxEdges): DataFrame = {
    // Double each undirected pair into both directions with ONE explode
    // pass, not union(pairs, pairs.swapped): a union materializes the pair
    // subplan (candidate join + verify) once per branch, and the pair
    // generator is the expensive half of the whole closure.
    val edges = graft.SessionResources.trackPersisted(
      pairs.select(explode(array(
          struct(col("id_a").as("src"), col("id_b").as("dst")),
          struct(col("id_b").as("src"), col("id_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    if (edges.count() <= 2 * driverMaxEdges)
      return componentsDriverSide(pairs.sparkSession, edges)
    // initialize with the neighborhood min (self + direct neighbors): this
    // IS round 1 of the propagation, folded into the init pass — one fewer
    // checkpoint/aggregate cycle in the loop
    val labels0 = edges.select(col("src").as("id"), col("src").as("comp"))
      .union(edges.select(col("dst").as("id"), col("src").as("comp")))
      .groupBy("id").agg(min("comp").as("comp"))
      .localCheckpoint(false) // materialized by the first label sum
    // ONE join-free action per round: labels only ever decrease, so the
    // decimal(38,0) label sum (overflow-safe for any 64-bit id universe)
    // strictly decreases exactly when any label changed — equal sums are
    // the fixpoint. A NULL sum is the empty graph: nothing to propagate.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
    val labels = graft.LoopConf.fixpoint("dedupComponents", labels0, ComponentsMaxRounds,
        empty = (_: java.math.BigDecimal) == null)(labelSum) { cur =>
      // the jump below is a SELF-join of this round's propagation result:
      // without a leaf-node barrier the logical plan would double every
      // round (2^rounds nodes — plan strings alone OOM by round ~10), so
      // the round's frame is cut to a LogicalRDD leaf via an eager local
      // checkpoint. Local (executor-block, unreplicated) is the right
      // checkpoint tier for loop state that is cheap to reconstruct from
      // `pairs`; the blocks are label-table-sized and the ContextCleaner
      // frees each round's blocks as the loop drops its reference.
      val prop = cur.union(
          edges.join(cur.withColumnRenamed("id", "src"), "src")
            .select(col("dst").as("id"), col("comp")))
        .groupBy("id").agg(min("comp").as("comp"))
        .localCheckpoint(true)
      // pointer jump: adopt the label's own label. Every comp value is a
      // node id (labels are reachable node ids), so the left side always
      // matches; ids are unique on both sides, so the join is 1:1 and
      // jump <= comp by monotonicity. This is the path-doubling half of
      // small-star contraction, expressed as the same equi-join shape.
      prop.join(
          prop.select(col("id").as("comp"), col("comp").as("jump")), Seq("comp"), "left")
        .select(col("id"), coalesce(col("jump"), col("comp")).as("comp"))
    }
    labels.select(col("id").as("doc_id"), col("comp").as("comp_id"))
  }

  /**
   * Contamination-safe train/holdout split: assign each NEAR-DUP CLUSTER
   * — not each document — to a split, so no near-duplicate pair ever
   * straddles the boundary. The naive per-doc hash split leaks: a
   * training doc's near-duplicate lands in holdout with probability
   * 2·p·(1-p), and eval on that holdout overstates generalization
   * (the within-corpus face of benchmark decontamination — d08 guards
   * against EXTERNAL eval sets, this guards the split you cut yourself).
   *
   * `pairs` is any near-dup pair frame (id_a, id_b) — n-gram Jaccard,
   * MinHash, SimHash, embedding-cosine all qualify. Cluster label =
   * [[dedupComponents]] over the pairs (log-diameter equi-join rounds);
   * docs in no pair are their own singleton cluster via a LEFT join —
   * split totality. The split rule hashes the CLUSTER id (md5, 'sp'
   * domain-separation prefix, holdoutPct of 100) — deterministic across
   * engines, reruns, and cluster sizes; assignment itself is map-only.
   */
  def leakFreeSplit(docs: DataFrame, pairs: DataFrame,
                    holdoutPct: Int = 10): DataFrame = {
    require(holdoutPct >= 0 && holdoutPct <= 100, "holdoutPct in [0,100]")
    val comps = dedupComponents(pairs.select("id_a", "id_b"))
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp_id"), col("doc_id")).as("cluster"))
      .withColumn("split",
        when(expr("cast(conv(substring(md5(concat('sp', cast(cluster as string))), 1, 8), 16, 10) as bigint)")
          % 100 >= holdoutPct, "train").otherwise("holdout"))
  }

  /** Small-graph component closure: collect the (already direction-doubled)
    * edge list and run path-compressed union-find with min-id roots —
    * exact same fixpoint as the propagation loop, none of its per-round
    * scheduling. Package-private for the parity property test. */
  private[llm] def componentsDriverSide(spark: org.apache.spark.sql.SparkSession,
                                        edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val rows = edges.select(col("src"), col("dst")).collect()
    java.util.Arrays.sort(rows, Ordering.by((r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1)))) // determinism: collect order is not
    rows.foreach { r =>
      val ra = find(r.getLong(0))
      val rb = find(r.getLong(1))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val verts = rows.iterator.map(_.getLong(0)).toArray.distinct
    val s = spark
    import s.implicits._
    verts.toSeq.map(v => (v, find(v))).toDF("doc_id", "comp_id")
  }
}
