package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.{hammingDist, vecDot, vecNorm}

/**
 * Embedding similarity search over `embeddings(vec_id, embedding:
 * array<float>, label)`:
 *
 *  - [[cosine]]: codegen'd cosine via zip_with/aggregate higher-order
 *    functions (floats widened to double before accumulation);
 *  - [[knnBrute]]: exact top-k for a *small query set* against the full
 *    corpus — a broadcast of the queries + one linear scan; this is the
 *    correct plan even at 100 TB (no shuffle of the corpus, no cartesian
 *    blow-up: cost = |corpus| * |queries|, queries bounded);
 *  - [[cosinePairs]]: exact all-pairs >= threshold — the *oracle baseline*,
 *    quadratic by construction; [[cosinePairsGrid]] is the same semantics
 *    as a distributed block-grid kernel (no driver collect, no corpus
 *    broadcast);
 *  - [[annLsh]]: random-hyperplane LSH with L independent tables — the
 *    100 TB scale path: candidates come from equi-joins on (table, bucket),
 *    never from a cross product.
 */
object Similarity {

  /** Left-fold dot product with float->double widening; element order is
    * the array order, so the result is bit-stable across engines.
    * HOF (codegen-fallback) form — kept as the dependency-free Column API;
    * the hot paths below use the native codegen'd vec_dot/vec_norm
    * expressions ([[graft.functions.VectorExpressions]]) which compute the
    * identical sequential fold ~40x faster. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** L2-normalize an embedding (double elements). */
  def normalize(a: Column): Column = {
    val n = norm(a)
    transform(a, x => x.cast("double") / n)
  }

  /**
   * Exact top-k neighbors for each query vector. `queries` must be small
   * (it is broadcast); the corpus side streams. Ranking uses the *rounded*
   * cosine with vec_id tie-break so results are reproducible across engines.
   *
   * Selection runs through the bounded-heap
   * [[graft.functions.VectorAggregates.topK]] aggregate, NOT a per-query
   * window sort: the r4 row_number form shuffled every scored corpus row to
   * |queries| reducers and sorted |corpus| rows inside each — a single-task
   * sort of the whole corpus per query at a 10^9-row corpus. The heap
   * partial-aggregates map-side (each task ships at most k pairs per
   * query), so shuffle volume is |queries| x k, independent of corpus size.
   */
  def knnBrute(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), vecNorm(col("embedding")).as("nrm_q")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      vecNorm(col("embedding")).as("nrm_c"))
    // norms computed once per SIDE (N + Q loops), not once per pair (N * Q);
    // cos = dot / (norm_q * norm_c) in the same association as the oracle.
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), round(
        vecDot(col("q_emb"), col("c_emb")) / (col("nrm_q") * col("nrm_c")), 6).as("cos"))
    topKByCosine(scored, k)
  }

  /**
   * Filtered-ANN serve audit — the pre-filter vs post-filter decision
   * every vector store makes when a metadata predicate rides the vector
   * query ("top-5 similar docs WHERE license = permissive"): PRE-filter
   * scores only the predicate's survivors (exact, but needs a
   * filter-aware index); POST-filter takes the unfiltered top-`overfetch`
   * and keeps survivors (works on any index, loses recall when the
   * predicate is selective — the failure mode this audit prices). Per
   * query: `n_post` = how many of the k slots post-filtering filled at
   * all, `overlap` = how many match the exact filtered top-k. Both
   * rankings share the round-6 cosine and (cos DESC, neighbor ASC) total
   * order, so the audit is hash-exact — no recall floor needed.
   *
   * Plan shape: two broadcast-query corpus scans through [[knnBrute]]'s
   * bounded-heap selection (shuffle = queries x k, never a corpus
   * window), a re-rank window over <= `overfetch` rows per query
   * (bounded by the constant, not the corpus), and query-sized joins.
   */
  def filteredKnnAudit(corpus: DataFrame, queries: DataFrame, keep: Column,
                       k: Int = 5, overfetch: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exact = knnBrute(corpus.filter(keep), queries, k)
      .select(col("query_id"), col("neighbor_id"))
    val post = knnBrute(corpus, queries, overfetch)
      .join(corpus.filter(keep).select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"))
      .withColumn("__prnk", row_number().over(
        Window.partitionBy("query_id").orderBy("rnk")))
      .filter(col("__prnk") <= k)
      .select(col("query_id"), col("neighbor_id"))
    val np = post.groupBy("query_id").agg(count(lit(1)).as("n_post"))
    val ov = exact.join(post, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("overlap"))
    queries.select(col("vec_id").as("query_id"))
      .join(np, Seq("query_id"), "left")
      .join(ov, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_post"), lit(0L)).as("n_post"),
        coalesce(col("overlap"), lit(0L)).as("overlap"))
  }

  /**
   * Shared heap selection for the cosine-ranked paths: keep the k best
   * (cos desc, neighbor_id asc) rows per query_id from a
   * `(query_id, neighbor_id, cos)` frame where `cos` is already rounded
   * to 6 decimals.
   *
   * The heap key is the cosine scaled to an exact integer-in-double:
   * cos6 = cos * 10^6 is an integer in [-10^6, 10^6] (|cos| <= 1 after
   * rounding), far inside double's 2^53 exact range, and d -> nearest
   * double is monotone, so ordering on cos6 IS ordering on cos. The
   * TopK aggregate's own tie-break (ord desc, id asc) supplies the
   * neighbor_id ordering — no composite key packing needed. Recovery
   * cos = cos6 / 10^6 is a correctly-rounded IEEE division of exact
   * operands, so it reproduces round(x, 6)'s nearest-double bit-for-bit.
   *
   * A NaN cosine (zero-norm vector) would silently rank weakest in the
   * heap where the old window ranked NaN first — neither is meaningful,
   * so the key FAILS on NaN (assert_true rides inside the key expression,
   * the v08 pattern, so pruning can never drop it).
   */
  private def topKByCosine(scored: DataFrame, k: Int): DataFrame = {
    val guard = coalesce(
      assert_true(!isnan(col("cos")), lit("NaN cosine: zero-norm embedding"))
        .cast("double"), lit(0.0))
    val ord = round(col("cos") * lit(1000000.0)) + guard
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorAggregates.topK(ord, col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        (col("rnk0") + 1).cast("long").as("rnk"),
        (col("t.ord") / lit(1000000.0)).as("cos"))
  }

  /**
   * Exact Maximum-Inner-Product Search for a bounded query set — the
   * recommendation-serving primitive (user-embedding · item-embeddings,
   * two-tower retrieval): top-k by RAW dot product, NOT cosine — a
   * popular long item beats an on-angle obscure one, which is the point.
   * Same plan discipline as [[knnBrute]]: broadcast queries, one corpus
   * scan, selection through the bounded heap on the integer-scaled
   * rounded score (shuffle = queries x k, no per-query window sort).
   * The heap key needs |round(dot,6)*10^6| inside double's exact 2^53
   * integer range — |dot| <= ~4·10^8, any real embedding regime.
   */
  def mipsBrute(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val scored = c.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(vecDot(col("q_emb"), col("c_emb")), 6).as("dot"))
    val guard = coalesce(
      assert_true(!isnan(col("dot")), lit("NaN dot product")).cast("double"), lit(0.0))
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorAggregates.topK(
        round(col("dot") * lit(1000000.0)) + guard, col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        (col("rnk0") + 1).cast("long").as("rnk"),
        (col("t.ord") / lit(1000000.0)).as("dot"))
  }

  /**
   * The MIPS -> cosine reduction (Bachrach et al. 2014 / Neyshabur &
   * Srebro 2015): augment every corpus vector with one extra coordinate
   * sqrt(M^2 - |x|^2) (M = the corpus max norm) and queries with 0. All
   * augmented corpus vectors then share norm M, so cosine ORDER on the
   * augmented space == inner-product order on the original — which lets
   * every cosine ANN structure in this engine (sign-bit, IVF, PQ
   * indexes) serve MIPS unchanged: augment at index build, augment the
   * query, done. Returns (corpusAug, queriesAug); LlmOpsSpec proves
   * rank-for-rank agreement of cosine-over-augmented with [[mipsBrute]].
   * Map-only after one 1-row max-norm aggregate broadcast in-plan.
   */
  def mipsAugment(corpus: DataFrame, queries: DataFrame): (DataFrame, DataFrame) = {
    val withNorm = corpus
      .withColumn("__nrm", vecNorm(col("embedding")))
    val m = broadcast(withNorm.agg(max(col("__nrm")).as("__m")))
    val corpusAug = withNorm.crossJoin(m)
      .withColumn("embedding", concat(col("embedding"), array(
        sqrt(greatest(col("__m") * col("__m") - col("__nrm") * col("__nrm"),
          lit(0.0))).cast("float"))))
      .drop("__nrm", "__m")
    val queriesAug = queries
      .withColumn("embedding", concat(col("embedding"), array(lit(0.0f))))
    (corpusAug, queriesAug)
  }

  /**
   * All pairs (a < b) with rounded cosine >= minCos. Quadratic — the
   * verification oracle for [[annLsh]]/ScalaTest at small scale factors; at
   * scale use [[annLsh]] or [[Dedup.minhashLshPairs]]-style bucketing.
   */
  def cosinePairs(emb: DataFrame, minCos: Double): DataFrame = {
    val n = emb
      .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"))
    val a = n.select(col("vec_id").as("id_a"), col("embedding").as("e_a"), col("nrm").as("nrm_a"))
    val b = n.select(col("vec_id").as("id_b"), col("embedding").as("e_b"), col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      // zero-norm vectors: ANSI division ERRORS on the 0/0; try_divide
      // yields NULL instead, and the null-rejecting filter below then
      // drops the pair — matching the grid kernel, whose scala-side 0/0
      // is NaN and fails its `>=`. (A bare non-try `/` plus `cos >=
      // minCos` would either crash (ANSI) or, with NaN, KEEP the pair:
      // Spark's NaN-safe ordering ranks NaN ABOVE every number.)
      .withColumn("cos",
        round(try_divide(vecDot(col("e_a"), col("e_b")), col("nrm_a") * col("nrm_b")), 6))
      .filter(!isnan(col("cos")) && col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** Sequential-fold L2 norm with float->double widening — the scala-side
    * twin of the native vec_norm expression (identical fold order). */
  private[graft] def l2(v: Array[Float]): Double = {
    var s = 0.0
    var d = 0
    while (d < v.length) { s += v(d).toDouble * v(d).toDouble; d += 1 }
    math.sqrt(s)
  }

  /** Sequential-fold cosine rounded to 6 decimals: bit-identical to the
    * declarative round(vec_dot(a,b) / (vec_norm(a)*vec_norm(b)), 6) —
    * same dot fold, same norm product (IEEE multiply is commutative, so
    * operand order is irrelevant), and scala BigDecimal(double) HALF_UP
    * == Spark's round() exactly. Non-finite ratios (zero-norm vectors)
    * return NaN, which scala's >= threshold compare rejects; the
    * declarative path needs an explicit !isnan filter to match, because
    * Spark's NaN-safe ordering treats NaN as GREATER than any number
    * (round(NaN) >= t would keep the row) — [[cosinePairs]] carries that
    * filter. */
  private[graft] def roundedCos(a: Array[Float], na: Double,
                                b: Array[Float], nb: Double): Double = {
    var s = 0.0
    var d = 0
    val m = math.min(a.length, b.length)
    while (d < m) { s += a(d).toDouble * b(d).toDouble; d += 1 }
    val raw = s / (na * nb)
    if (java.lang.Double.isFinite(raw))
      BigDecimal(raw).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    else Double.NaN
  }

  /**
   * [[cosinePairs]] as a distributed block-grid kernel: SAME exact
   * all-pairs semantics and bit-identical output (same sequential dot
   * fold, same norms, same HALF_UP rounding), with NO driver collect and
   * NO corpus broadcast — the predecessor's bounded-corpus contract
   * (collect + broadcast, maxCorpus guard) is gone.
   *
   * Vectors hash-assign to one of `numBlocks` blocks; each vector
   * replicates to the `numBlocks` grid cells its block participates in
   * (cell (i,j), i <= j, holds blocks i and j), and each cell enumerates
   * its pairs locally in one flatMapGroups pass: diagonal cells pair
   * within-block (sorted, so id_a < id_b for free), off-diagonal cells
   * pair across their two sides (emitting min-id first). Every unordered
   * pair lands in EXACTLY one cell — (block(a), block(b)) ordered — so
   * the union over cells is the all-pairs set with no dedup step.
   *
   * Scale shape: shuffle = n x numBlocks embedding copies (a join
   * materializes n^2 pair rows), each task holds ~2n/numBlocks vectors,
   * and the O(n^2) dot products — inherent to exact all-pairs — spread
   * over numBlocks*(numBlocks+1)/2 independent tasks with no driver
   * involvement. Size numBlocks so two blocks fit an executor: at 10^8
   * vectors x 256 B, numBlocks=4096 holds ~12 MB sides across ~8.4M
   * cells. The COMPUTE stays quadratic by construction — at corpus scale
   * the production paths remain [[annLsh]]/[[annIvf]]/minhash-LSH; this
   * is the exact form those are audited against (v09).
   *
   * `numBlocks = 0` AUTO-SIZES the grid IN-PLAN (the pageRankFixed
   * broadcast-scalar pattern, no driver action): B = ceil(corpus bytes /
   * 8 MB) from the same 1-row count x dim aggregate, i.e. each block ~8 MB
   * and a cell's two sides ~16 MB — executor-safe at any corpus size, and
   * reproducing the scaladoc's 10^8 x 256 B -> B~=3200 sizing rule. B is a
   * pure partitioning choice: the pair set is identical at every B (the
   * ScalaTest proves 1/8/13/auto bit-identical), so auto can never change
   * a result, only the task shape.
   */
  def cosinePairsGrid(emb: DataFrame, minCos: Double,
                      numBlocks: Int = 16): DataFrame = {
    require(numBlocks >= 0, s"numBlocks must be >= 0 (0 = auto): $numBlocks")
    val spark = emb.sparkSession
    import spark.implicits._
    // B rides in-plan as a broadcast 1-row scalar: explicit callers get a
    // literal frame, auto derives ceil(n * dim * 4B / 8 MB) from one
    // aggregate over the (reused) embedding scan. The closure below is
    // B-independent — cells key on the (bi, bj) struct, not bi*B+bj — so
    // no plan-time Int is needed anywhere.
    val bFrame =
      if (numBlocks >= 1) spark.range(1).select(lit(numBlocks).as("__B"))
      else emb.agg(count(lit(1)).as("__n"),
          coalesce(max(size(col("embedding"))), lit(1)).as("__d"))
        .select(greatest(lit(1L),
          ceil(col("__n") * col("__d") * lit(4) / lit(8e6)).cast("long"))
          .cast("int").as("__B"))
    // cells for block b: (b,x) for x >= b and (x,b) for x < b — one cell
    // per x in [0,B), so each row fans out to exactly B cells
    val cells = emb
      .crossJoin(broadcast(bFrame))
      .select(col("vec_id"), col("embedding"), col("__B"),
        pmod(xxhash64(col("vec_id")), col("__B")).cast("int").as("blk"))
      .select(col("vec_id"), col("embedding"), col("blk"),
        explode(expr("transform(sequence(0, __B - 1), " +
          "x -> CASE WHEN x >= blk THEN named_struct('bi', blk, 'bj', x) " +
          "ELSE named_struct('bi', x, 'bj', blk) END)"))
          .as("cell"))
      .select(col("cell.bi"), col("cell.bj"), col("blk"), col("vec_id"), col("embedding"))
      .as[(Int, Int, Int, Long, Array[Float])]
    cells.groupByKey(r => (r._1, r._2))
      .flatMapGroups { (cell: (Int, Int), it: Iterator[(Int, Int, Int, Long, Array[Float])]) =>
        val bi = cell._1
        val bj = cell._2
        val rows = it.map(r => (r._3, r._4, r._5)).toArray
        val lo = rows.filter(_._1 == bi).sortBy(_._2)
        val hi = if (bi == bj) lo else rows.filter(_._1 == bj).sortBy(_._2)
        // norms once per side (O(n)), not once per pair (O(n^2))
        val loN = lo.map(r => l2(r._3))
        val hiN = if (bi == bj) loN else hi.map(r => l2(r._3))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        var i = 0
        while (i < lo.length) {
          val idA = lo(i)._2
          val va = lo(i)._3
          val na = loN(i)
          var j = if (bi == bj) i + 1 else 0
          while (j < hi.length) {
            val c = roundedCos(va, na, hi(j)._3, hiN(j))
            if (c >= minCos) { // NaN compares false
              val idB = hi(j)._2
              out += (if (idA < idB) (idA, idB, c) else (idB, idA, c))
            }
            j += 1
          }
          i += 1
        }
        out.iterator
      }
      .toDF("id_a", "id_b", "cos")
  }

  /**
   * kNN-GRAPH construction — every corpus vector's top-k cosine
   * neighbors (among pairs at cos >= minCos), the substrate of
   * graph-based curation: SemDeDup-style clustering, kNN-connectivity
   * diversity metrics, graph-propagated quality labels, UMAP/HNSW
   * bootstrap. Unlike [[knnBrute]] (bounded QUERY set vs the corpus)
   * this is all-vs-all: pair generation runs the distributed block-grid
   * kernel ([[cosinePairsGrid]] — no cartesian node, no driver collect,
   * a task holds two blocks), pairs double into both directions with one
   * explode, and per-node selection goes through the bounded heap on the
   * integer-scaled cosine — shuffle = nodes x k, never a per-node sort.
   * The minCos floor is what keeps the pair set sub-quadratic in
   * practice; at corpus scale swap the exact grid for LSH-bucketed
   * candidates ([[withLshBuckets]]) with the same downstream heap.
   */
  def knnGraph(emb: DataFrame, k: Int, minCos: Double): DataFrame = {
    val pairs = cosinePairsGrid(emb, minCos)
    val directed = pairs.select(explode(array(
        struct(col("id_a").as("query_id"), col("id_b").as("neighbor_id"), col("cos")),
        struct(col("id_b").as("query_id"), col("id_a").as("neighbor_id"), col("cos")))).as("e"))
      .select(col("e.query_id"), col("e.neighbor_id"), col("e.cos"))
    topKByCosine(directed, k)
      .withColumnRenamed("query_id", "vec_id")
  }

  /**
   * SEMANTIC admission — the embedding-level front door completing the
   * d10/d13/st09 admission family: a new-crawl batch vector is admitted
   * iff NO corpus vector lies within cosine `tau` (paraphrases and
   * re-renders that shingle admission misses — same text semantics,
   * different bytes). Plan shape is the d08 small-side discipline: the
   * DAILY BATCH broadcasts (bounded by construction — it's one crawl
   * day against the full corpus), the corpus streams ONCE map-side
   * through the broadcast join, and the per-batch-vector max cosine
   * partial-aggregates — the corpus is never shuffled and never holds
   * state. Exact by construction (every corpus vector is scored); the
   * documented scale alternative once the batch itself outgrows a
   * broadcast is the persisted-IVF probe ([[annIvfIndexed]]) feeding
   * the same threshold rule.
   */
  def semanticAdmit(batch: DataFrame, corpus: DataFrame, tau: Double): DataFrame = {
    val b = broadcast(batch
      .select(col("vec_id").as("__bid"), col("embedding").as("__be"),
        vecNorm(col("embedding")).as("__bn")))
    val hits = corpus
      .select(col("embedding").as("__ce"), vecNorm(col("embedding")).as("__cn"))
      .join(b, round(vecDot(col("__be"), col("__ce")) / (col("__bn") * col("__cn")), 6)
        >= tau)
      .select(col("__bid")).distinct()
    batch.join(hits, batch("vec_id") === hits("__bid"), "left_anti")
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * table t, plane p, dimension d -> double. Pure function of the seed, so
    * every executor (and every test) derives identical planes. */
  def planeComponent(seed: Long, table: Int, plane: Int, d: Int): Double = {
    val h = Dedup.splitmix64(seed ^ (table.toLong << 42) ^ (plane.toLong << 21) ^ d.toLong)
    // top 53 bits -> uniform [0,1) -> [-1,1)
    (h >>> 11) * (1.0 / (1L << 53)) * 2.0 - 1.0
  }

  /** Bucket kernel: sign bits of the vector against `planes` hyperplanes. */
  def lshBucket(vec: Seq[Float], seed: Long, table: Int, planes: Int): Int = {
    var bucket = 0
    var p = 0
    while (p < planes) {
      var s = 0.0
      var d = 0
      while (d < vec.length) { s += vec(d) * planeComponent(seed, table, p, d); d += 1 }
      if (s >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  private def bucketsUdf(seed: Long, tables: Int, planes: Int) = udf { (v: Seq[Float]) =>
    if (v == null) null else Array.tabulate(tables)(t => lshBucket(v, seed, t, planes))
  }

  /** vec_id -> one LSH bucket per table: rows (vec_id, table, bucket).
    * Defaults tuned for weakly-clustered corpora (top-neighbor cosine ~0.4):
    * recall ~ 1-(1-(1-acos(c)/pi)^planes)^tables — at c=0.4 that is ~0.94
    * with 16 tables of 4 planes (vs ~0.57 at the r2 default 8x5, measured
    * 0.45). Raise `planes` when the corpus has tight clusters (keeps buckets
    * selective), raise `tables` to buy recall with compute. */
  def withLshBuckets(emb: DataFrame, seed: Long = 42L, tables: Int = 16,
                     planes: Int = 4): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      posexplode(bucketsUdf(seed, tables, planes)(col("embedding")))
        .as(Seq("table", "bucket")))

  // ---- IVF (inverted-file) ANN ---------------------------------------------

  /** Default size of the deterministic training sample for [[ivfCentroids]]:
    * bounded driver memory (sampleSize x dim floats) at any corpus size. */
  val IvfTrainingSample = 20000

  /**
   * Top principal component by driver-local power iteration over the
   * bounded hash-ordered training sample (the [[ivfCentroids]] sample
   * discipline: ONE corpus scan, driver memory sampleSize x dim) — the
   * dimensionality-reduction primitive of the embedding surface: the
   * projection cuts serve-time dims, and the residual norm is the
   * out-of-distribution flag (a row the component can't explain is a
   * row the training distribution didn't contain).
   *
   * Deterministic end to end, in the Lloyd-codebook discipline that
   * makes the DuckDB mirror bit-exact: all-positive start 1/sqrt(dim)
   * (exact for power-of-two dims), per-dim means and every accumulation
   * fold SEQUENTIALLY in sample order, each iterate unit-normalized in
   * double then cast back to FLOAT per dim (the float round-trip is the
   * cross-engine synchronization point). The data is CENTERED (true
   * PCA, not just the top singular direction of the raw matrix).
   *
   * Returns (per-dim means, unit component as float, ||C v|| of the
   * last iteration — the scatter-matrix top-eigenvalue estimate).
   * Power iteration per Golub & Van Loan, Matrix Computations §7.3;
   * the reference (digitaldutch/BAG_parser) has no vector surface.
   */
  def pcaPower(emb: DataFrame, iters: Int = 4,
               sampleSize: Int = IvfTrainingSample): (Array[Double], Array[Float], Double) = {
    val sample = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleSize)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pcaPower: empty corpus")
    val n = sample.length
    val dim = sample.head.length
    val mu = new Array[Double](dim)
    var i = 0
    while (i < n) {
      var d = 0
      while (d < dim) { mu(d) += sample(i)(d); d += 1 }
      i += 1
    }
    var d0 = 0
    while (d0 < dim) { mu(d0) /= n; d0 += 1 }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    var it = 0
    while (it < iters) {
      val u = new Array[Double](dim)
      i = 0
      while (i < n) {
        var w = 0.0
        var d = 0
        while (d < dim) { w += (sample(i)(d) - mu(d)) * v(d); d += 1 }
        d = 0
        while (d < dim) { u(d) += w * (sample(i)(d) - mu(d)); d += 1 }
        i += 1
      }
      var nm = 0.0
      var d = 0
      while (d < dim) { nm += u(d) * u(d); d += 1 }
      nm = math.sqrt(nm)
      lambda = nm
      val vf = new Array[Double](dim)
      d = 0
      while (d < dim) { vf(d) = (u(d) / nm).toFloat.toDouble; d += 1 }
      v = vf
      it += 1
    }
    (mu, v.map(_.toFloat), lambda)
  }

  /**
   * Deterministic sampled k-means coarse quantizer. ONE distributed pass:
   * a hash-ordered top-`sampleSize` sample (TakeOrdered — per-partition
   * top-k + driver merge, never a full sort) is collected, and Lloyd
   * iterations run driver-local over that sample. At 100 TB the corpus is
   * scanned exactly once for training, and driver memory stays bounded by
   * sampleSize x dim — the r2 form ran 4-5 eager full-corpus passes
   * (count + init collect + one distributed aggregate per iteration).
   *
   * `c <= 0` selects sqrt(sample size) centroids — the standard IVF sizing
   * (balances list length |corpus|/c against probe fanout c).
   */
  def ivfCentroids(emb: DataFrame, c: Int = 0, iters: Int = 5,
                   sampleSize: Int = IvfTrainingSample): Array[Array[Float]] = {
    val sample = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleSize)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "ivfCentroids: empty corpus")
    val dim = sample.head.length
    val k = math.min(sample.length,
      if (c > 0) c else math.max(4, math.round(math.sqrt(sample.length.toDouble)).toInt))
    val stride = math.max(1, sample.length / k)
    var centroids = Array.tabulate(k)(i => sample((i * stride) % sample.length).clone())
    var it = 0
    while (it < iters) {
      val units = unitRows(centroids)
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val best = bestOf(v, units)
        counts(best) += 1
        var d = 0
        val m = math.min(dim, v.length) // tolerate ragged vectors, like bestOf
        while (d < m) { sums(best)(d) += v(d); d += 1 }
      }
      centroids = Array.tabulate(k) { ci =>
        if (counts(ci) == 0L) centroids(ci) // empty cluster: keep previous
        else Array.tabulate(dim)(d => (sums(ci)(d) / counts(ci)).toFloat)
      }
      it += 1
    }
    centroids
  }

  /** Unit-normalize centroid rows ONCE so per-row assignment is a plain dot
    * product: argmax dot(v, c-hat) == argmax cos(v, c). The r2 form
    * recomputed every centroid norm per corpus row. Zero rows score 0. */
  private def unitRows(cs: Array[Array[Float]]): Array[Array[Double]] =
    cs.map { cen =>
      var ns = 0.0
      var d = 0
      while (d < cen.length) { ns += cen(d).toDouble * cen(d).toDouble; d += 1 }
      val inv = if (ns == 0.0) 0.0 else 1.0 / math.sqrt(ns)
      val out = new Array[Double](cen.length)
      d = 0
      while (d < cen.length) { out(d) = cen(d) * inv; d += 1 }
      out
    }

  private def scoresOf(v: Seq[Float], units: Array[Array[Double]]): Array[Double] =
    units.map { u =>
      var s = 0.0
      val m = math.min(u.length, v.length)
      var d = 0
      while (d < m) { s += v(d) * u(d); d += 1 }
      s
    }

  /** argmax-cosine cluster id; deterministic lowest-index ties. */
  private def bestOf(v: Seq[Float], units: Array[Array[Double]]): Int = {
    var best = 0
    var bestS = Double.NegativeInfinity
    var ci = 0
    while (ci < units.length) {
      val u = units(ci)
      var s = 0.0
      val m = math.min(u.length, v.length)
      var d = 0
      while (d < m) { s += v(d) * u(d); d += 1 }
      if (s > bestS) { best = ci; bestS = s }
      ci += 1
    }
    best
  }

  private def assignUdf(units: Array[Array[Double]]) = udf { (v: Seq[Float]) =>
    bestOf(v, units)
  }

  private def probeUdf(units: Array[Array[Double]], nprobe: Int) = udf { (v: Seq[Float]) =>
    scoresOf(v, units).zipWithIndex.sortBy { case (s, i) => (-s, i) }
      .take(nprobe).map(_._2)
  }

  /**
   * IVF ANN search — the second scale path next to [[annLsh]]: corpus is
   * partitioned into c inverted lists by nearest centroid; each query probes
   * its `nprobe` closest lists (equi-join on the cluster id) and reranks
   * exactly. Cost ~ |corpus| * nprobe / c per query instead of |corpus|.
   *
   * Standard IVF semantics: may return fewer than k neighbors when the
   * probed lists hold fewer candidates. Defaults: c = sqrt(training sample)
   * (the standard IVF sizing), nprobe = 12 — raise nprobe to trade compute
   * for recall; c close to |corpus| degenerates to one-vector lists.
   * Measured mean recall@5 at defaults: 0.87/0.85/0.76 at sf0.001/0.01/0.1
   * (weakly-clustered synthetic embeddings); floors asserted in LlmOpsSpec
   * for both this path and [[annLsh]] (0.86-0.94 at its defaults).
   */
  def annIvf(emb: DataFrame, queries: DataFrame, k: Int, c: Int = 0,
             nprobe: Int = 12): DataFrame = {
    val units = unitRows(ivfCentroids(emb, c))
    // candidate generation moves IDS ONLY: (neighbor_id, cl) x (query_id, cl).
    // The r3 form carried both embedding payloads through the candidate
    // dedup shuffle — at 100 TB that shuffle (dim x 4 bytes x candidate
    // count) dominates; deduping 16-byte id pairs first and re-attaching
    // embeddings by equi-join moves each embedding once per surviving row.
    val corpusIds = emb.select(col("vec_id").as("neighbor_id"),
      assignUdf(units)(col("embedding")).as("cl"))
    val queryIds = queries.select(col("vec_id").as("query_id"),
      explode(probeUdf(units, nprobe)(col("embedding"))).as("cl"))
    val candidates = corpusIds.join(queryIds, Seq("cl"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    rerank(candidates, emb, queries, k, dedupCandidates = true)
  }

  /** Shared exact-rerank tail for the ANN paths: re-attach embeddings to an
    * id-only candidate set (corpus side by equi-join; the bounded query side
    * broadcast), score, and keep the top `k` per query. Selection goes
    * through the same bounded heap as [[knnBrute]] — the candidate set is
    * bounded by construction today (LSH bucket collisions / IVF probe
    * lists / Hamming shortlists), but the heap makes the tail safe even
    * for a future caller with an UNBOUNDED candidate frame: no per-query
    * window sort exists to reintroduce the v01-class scale hazard.
    *
    * `dedupCandidates` is for generators that emit the same (query,
    * neighbor) pair from several independent structures (LSH tables, IVF
    * probe lists). A pair-keyed `dropDuplicates` would be its own
    * exchange on (query_id, neighbor_id) — and the very next step shuffles
    * the survivors AGAIN onto neighbor_id for the embedding re-attach.
    * Instead the dedup runs as a neighbor-keyed `collect_set(query_id)`
    * aggregate: exact pair dedup (set semantics per neighbor), and its
    * output partitioning IS the re-attach join's requirement, so the
    * candidate ids shuffle once, not twice. Hot-neighbor state is bounded
    * by |queries| (broadcast-bounded by contract). Generators whose pairs
    * are distinct by construction (Hamming shortlists off a bounded heap)
    * keep the plain join and skip the aggregate entirely. */
  private def rerank(candidates: DataFrame, emb: DataFrame, queries: DataFrame,
                     k: Int, dedupCandidates: Boolean = false): DataFrame = {
    val cand =
      if (dedupCandidates)
        candidates.groupBy(col("neighbor_id"))
          .agg(collect_set(col("query_id")).as("qids"))
          .select(col("neighbor_id"), explode(col("qids")).as("query_id"))
      else candidates
    val c = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      vecNorm(col("embedding")).as("nrm_c"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), vecNorm(col("embedding")).as("nrm_q")))
    val scored = cand.join(c, Seq("neighbor_id")).join(q, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), round(
        vecDot(col("q_emb"), col("c_emb")) / (col("nrm_q") * col("nrm_c")), 6).as("cos"))
    topKByCosine(scored, k)
  }

  /**
   * Approximate top-k: candidates = corpus vectors sharing an LSH bucket
   * with the query in >= 1 of the L tables (equi-join on (table, bucket)),
   * then exact cosine rank within candidates. Recall grows with L; cost is
   * the bucket-collision count, not |corpus| * |queries|.
   */
  def annLsh(emb: DataFrame, queries: DataFrame, k: Int, seed: Long = 42L,
             tables: Int = 16, planes: Int = 4): DataFrame = {
    // banding moves IDS ONLY — (table, bucket, vec_id) is ~20 bytes/row where
    // the r3 form exploded the corpus embedding `tables` times into the join
    // and then shuffled candidate PAIRS with both payloads attached; the
    // id-first dedup + re-attach (same trick as minhashLshPairsFrom) moves
    // each embedding once per surviving candidate row instead.
    val cb = withLshBuckets(emb, seed, tables, planes)
      .select(col("table"), col("bucket"), col("vec_id").as("neighbor_id"))
    val qb = withLshBuckets(queries, seed, tables, planes)
      .select(col("table"), col("bucket"), col("vec_id").as("query_id"))
    val candidates = cb.join(qb, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    rerank(candidates, emb, queries, k, dedupCandidates = true)
  }

  /** Deterministic ±1 sign for projection plane `p`, input dimension `j`:
    * parity of the first hex character of md5("p,j"). Seedless and
    * engine-mirrorable (the oracle recomputes the identical rule in SQL),
    * with the statistical guarantees of Achlioptas' database-friendly
    * random projections (±1 entries). */
  def projectionSign(p: Int, j: Int): Double = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p,$j".getBytes("UTF-8"))
    val hexChar = "%x".format((h(0) >> 4) & 0xf).charAt(0)
    if (hexChar.toInt % 2 == 0) 1.0 else -1.0
  }

  /**
   * Random-projection dimensionality reduction: dim-`dims` embeddings down
   * to `outDims` components via a deterministic ±1 plane matrix
   * ([[projectionSign]] — no RNG state, reruns and retries project
   * identically on any cluster). Johnson-Lindenstrauss at the usual rates;
   * the projection is MAP-ONLY: the outDims x dims sign matrix rides into
   * the plan as literals, each component is a codegen'd zip_with/aggregate
   * fold over the vector, one corpus scan, no shuffle. At 100 TB this is
   * the standard pre-pass that shrinks an embedding corpus before ANN
   * indexing or clustering ever touches it.
   */
  def randomProjection(emb: DataFrame, dims: Int, outDims: Int): DataFrame = {
    val projCols = (0 until outDims).map { p =>
      val signs = typedLit((0 until dims).map(j => projectionSign(p, j)))
      round(aggregate(
          zip_with(col("embedding"), signs, (x, s) => x * s),
          lit(0.0), (acc, x) => acc + x), 6)
        .as(s"proj$p")
    }
    emb.select(col("vec_id") +: projCols: _*)
  }

  /** Bits per packed word for [[signBits]]. 32 (not 64) so each bit weight
    * 2^i stays exactly representable through the double `pow` the packing
    * fold uses — no dependence on wrap-around semantics that ANSI mode
    * would reject. The packed array is array<bigint> with the low 32 bits
    * populated per word. */
  val SignWordBits = 32

  /**
   * Binary (sign) quantization: pack each embedding's sign bits
   * (x >= 0 -> 1) into 32-bit words, dim/32 words per vector — a 32x
   * compression of the corpus (4-byte float -> 1 bit per dim). Word `w`
   * holds dims [w*32, w*32+32), dim d at bit position (d - w*32).
   * Map-only, no shuffle; the packed column is what a 100 TB corpus
   * actually stores for coarse search.
   */
  def signBits(a: Column): Column = {
    val wb = SignWordBits
    // size/wb is a DOUBLE divide on Columns; floor+cast keeps sequence()
    // on integer bounds. The empty-array guard matters: sequence(0, -1)
    // does NOT yield [] (Spark infers step -1 and produces [0, -1], whose
    // element_at(a, 0) then throws), so an empty embedding must
    // short-circuit to an empty signature explicitly.
    val nWords = floor((size(a) + lit(wb - 1)) / lit(wb)).cast("int")
    when(size(a) === 0, expr("cast(array() as array<bigint>)")).otherwise(
      transform(sequence(lit(0), nWords - lit(1)), w =>
        aggregate(
          sequence(w * wb, least(size(a) - 1, w * wb + (wb - 1))),
          lit(0L),
          (acc, i) => when(element_at(a, (i + 1).cast("int")) >= lit(0.0f),
              acc + pow(lit(2.0), (i - w * wb).cast("double")).cast("long"))
            .otherwise(acc))))
  }

  /** Hamming distance between two [[signBits]]-packed arrays:
    * popcount(xor) per word, summed. Integer-exact — safe to hash-compare
    * across engines and to rank on without float tie hazards. HOF
    * (dependency-free Column API) form; the scan path uses the codegen'd
    * native [[graft.functions.PackedHamming]], which computes the
    * identical integer for equal-length signatures (asserted in
    * LlmOpsSpec). On mismatched lengths they deliberately differ: this
    * form yields NULL (zip_with pads), the native kernel ERRORS — a
    * truncated distance is never returned by either. */
  def hammingPacked(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0L), (acc, v) => acc + v.cast("long"))

  /**
   * Exact Hamming top-k over the binary quantization: pack both sides
   * once (map-only), broadcast the bounded query set, one corpus scan of
   * XOR+popcount per (query, candidate), and keep the k best per query
   * through the bounded-heap [[graft.functions.VectorAggregates.topK]]
   * aggregate — map-side partials ship at most k pairs per query per
   * task, so there is NO per-query sort and no candidate shuffle. The
   * same plan at 100 TB: |corpus| * |queries| word-XORs (32x cheaper than
   * float cosine), shuffle volume |queries| x k.
   *
   * Ranking is integer-total: hamming asc, then neighbor_id asc — no
   * float anywhere in the selection.
   */
  def hammingAnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    hammingAnnFrom(
      corpus
        .select(col("vec_id").as("neighbor_id"), signBits(col("embedding")).as("c_sig")),
      queries, k)

  /** [[hammingAnn]] over a PRE-PACKED corpus `(neighbor_id, c_sig)` — the
    * query half of the index/query split ([[buildSignIndex]]): a stored
    * signature table is scanned as-is, nothing re-packs per query. */
  def hammingAnnFrom(signed: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), signBits(col("embedding")).as("q_sig")))
    val scored = signed.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        hammingDist(col("q_sig"), col("c_sig")).as("ham"))
    // top_k keeps the LARGEST ord: feed a composite negative key that
    // encodes (ham asc, neighbor_id asc) exactly in a double — valid only
    // for neighbor_id in [0, 2^31) and ham < 2^20; ham is a bit count
    // bounded by the embedding dimension, so this caps dims at ~1M
    // (2^20), where ham * 2^31 + id < 2^51 is integer-exact. Out-of-range
    // inputs FAIL (assert_true) instead of silently corrupting the
    // ranking; the assert rides inside the key expression so column
    // pruning can never drop it.
    val guard = coalesce(
      assert_true(col("neighbor_id") >= 0 && col("neighbor_id") < lit(1L << 31) &&
        col("ham") < lit(1L << 20)).cast("long"), lit(0L))
    val ordKey = -(col("ham") * lit(1L << 31) + col("neighbor_id") + guard).cast("double")
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorAggregates.topK(ordKey, col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("query_id"), col("t.id").as("neighbor_id"),
        (col("rnk0") + 1).cast("long").as("rnk"),
        // recover the hamming distance from the composite key
        floor(-col("t.ord") / lit(1L << 31).cast("double")).cast("long").as("ham"))
  }

  /**
   * The production composition of the binary path: a Hamming SHORTLIST
   * (cheap popcount scan over the 32x-compressed signatures, `shortlist`
   * candidates per query through the bounded heap) followed by an exact
   * cosine rerank of only those candidates — the two-stage design the
   * v09_ann_recall_audit measurement motivates:
   * raw sign-bit top-k alone recalls poorly, but as a pre-filter it cuts
   * the exact-scoring cost |corpus|/shortlist-fold while the rerank
   * restores cosine-exact ordering within the shortlist. Same shape as
   * [[annLsh]]'s candidates->rerank tail: ids only through the shortlist
   * shuffle, embeddings re-attached to `shortlist x |queries|` rows.
   */
  def hammingRerank(corpus: DataFrame, queries: DataFrame, k: Int,
                    shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val candidates = hammingAnn(corpus, queries, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    rerank(candidates, corpus, queries, k)
  }

  // ---- persisted sign-bit index (index build / query split) ----------------

  /**
   * Index-build half of a production binary-ANN deployment: pack each
   * corpus embedding's sign bits ONCE and persist `(vec_id, sig,
   * embedding)` as a table bucketed on vec_id
   * ([[graft.relational.Bucketing]]). Querying via
   * [[hammingRerankIndexed]] then touches the corpus with ZERO exchanges:
   * the shortlist scan reads stored signatures (no per-query re-packing),
   * and the rerank's embedding re-attach joins the id-only candidates
   * against the bucket layout — only the `queries x shortlist` candidate
   * rows move to the buckets, the corpus never shuffles. A growing corpus
   * grows incrementally via [[appendToSignIndex]] (ScaleOpsSpec proves
   * incremental == rebuild with a batch-sized write).
   */
  def buildSignIndex(emb: DataFrame, table: String, buckets: Int,
                     path: Option[String] = None,
                     writerTasksPerBucket: Int = 1): Unit =
    graft.relational.Bucketing.writeBucketed(
      emb.select(col("vec_id"), signBits(col("embedding")).as("sig"),
        col("embedding")),
      table, "vec_id", buckets, path = path,
      writerTasksPerBucket = writerTasksPerBucket)

  /** Incremental growth of a [[buildSignIndex]] table: pack the NEW
    * batch's sign bits and append under the table's own catalog bucket
    * scheme ([[graft.relational.Bucketing.appendBucketed]]) — batch-sized
    * work, the stored corpus is neither read nor re-shuffled, and
    * [[hammingRerankIndexed]] serves old + new rows through the same
    * bucketed scan. (Unlike the minhash index there are no tunable
    * signature parameters to pin: the sign-bit packing is fully
    * determined by the embedding dimension.) */
  def appendToSignIndex(emb: DataFrame, table: String,
                        writerTasksPerBucket: Int = 1): Unit =
    graft.relational.Bucketing.appendBucketed(
      emb.select(col("vec_id"), signBits(col("embedding")).as("sig"),
        col("embedding")),
      table, writerTasksPerBucket = writerTasksPerBucket)

  private def tombstoneTable(table: String): String = s"${table}_tombstones"

  /**
   * Takedown / right-to-be-forgotten DELETE on a [[buildSignIndex]]
   * table — the maintenance verb a deployed training-corpus index cannot
   * ship without. A physical per-row delete from a bucketed parquet
   * table would rewrite whole buckets per request, so deletes follow the
   * warehouse tombstone discipline (Delta/Iceberg delete files): the id
   * batch APPENDS to a companion `{table}_tombstones` side table —
   * batch-sized, crash-safe (append-only, duplicate ids harmless), the
   * stored corpus untouched — and every serve path anti-joins the
   * tombstones. Takedown sets are tiny relative to the corpus, so the
   * anti-join is a BROADCAST: the serve plan stays corpus-exchange-free.
   * When tombstones accumulate, [[vacuumSignIndex]] folds them in
   * physically. The same discipline drops onto the minhash/IVF/PQ index
   * tables unchanged — they share the Bucketing layout and id column.
   */
  def deleteFromSignIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                          ids: DataFrame): Unit = {
    val t = tombstoneTable(table)
    val batch = ids.select(col("vec_id").cast("long").as("vec_id")).distinct()
    if (spark.catalog.tableExists(t))
      batch.repartition(1).write.format("parquet").mode("append").saveAsTable(t)
    else graft.relational.Bucketing.writeSmallTable(batch, t)
  }

  /** The live (post-delete) index view: stored rows minus tombstones.
    * Broadcast LEFT ANTI — zero added exchange on the corpus side. */
  private def liveIndex(spark: org.apache.spark.sql.SparkSession,
                        table: String): DataFrame = {
    val idx = graft.relational.Bucketing.read(spark, table)
    val t = tombstoneTable(table)
    if (spark.catalog.tableExists(t))
      idx.join(broadcast(spark.table(t)), Seq("vec_id"), "left_anti")
    else idx
  }

  /**
   * Fold accumulated tombstones into the physical layout: write the
   * surviving rows as a NEW bucketed table under the same spec (fresh
   * path), swap it in with a catalog rename, drop the tombstone table.
   * Cost is one corpus rewrite — amortized over many deletes (run at a
   * tombstone-fraction threshold); serving is never interrupted and
   * never wrong: before the swap the anti-join serves, after it the
   * clean layout does. No-op without tombstones.
   */
  def vacuumSignIndex(spark: org.apache.spark.sql.SparkSession, table: String,
                      path: Option[String] = None,
                      writerTasksPerBucket: Int = 1): Unit = {
    val t = tombstoneTable(table)
    if (!spark.catalog.tableExists(t)) return
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val spec = spark.sessionState.catalog.getTableMetadata(ident).bucketSpec
      .getOrElse(throw new IllegalStateException(s"vacuum: $table is not bucketed"))
    val survivors = liveIndex(spark, table)
    val staging = s"${table}__vacuum"
    graft.relational.Bucketing.writeBucketed(survivors, staging,
      spec.bucketColumnNames.head, spec.numBuckets,
      path = path.orElse(Some(
        java.nio.file.Files.createTempDirectory(s"${table}_vacuum").toString)),
      writerTasksPerBucket = writerTasksPerBucket)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
    spark.sql(s"DROP TABLE $t")
  }

  /** Two-stage shortlist + exact rerank ([[hammingRerank]]) served from a
    * [[buildSignIndex]] table — shuffle-free on the corpus side, and
    * tombstone-aware: deleted ids ([[deleteFromSignIndex]]) are excluded
    * from shortlist AND rerank by a broadcast anti-join. */
  def hammingRerankIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
                           queries: DataFrame, k: Int, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val idx = liveIndex(spark, table)
    val candidates = hammingAnnFrom(
        idx.select(col("vec_id").as("neighbor_id"), col("sig").as("c_sig")),
        queries, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    rerank(candidates, idx.select(col("vec_id"), col("embedding")), queries, k)
  }

  // ---- persisted IVF index (train once / add incrementally / probe) --------

  /** The quantized corpus frame shared by build and append: every vector
    * labeled with its nearest-centroid list id `cl`. ALL corpus columns
    * ride into the index (not just vec_id + embedding) so filtered
    * serving ([[annIvfIndexed]]'s `predicate`) can constrain the scan on
    * any metadata the corpus carried at build time. */
  private[llm] def ivfAssigned(emb: DataFrame, cents: Array[Array[Float]]): DataFrame =
    emb.select(assignUdf(unitRows(cents))(col("embedding")).as("cl") +:
      emb.columns.map(col).toIndexedSeq: _*)

  /**
   * Index-build half of an IVF-ANN deployment — the classic `train`/`add`
   * split (FAISS's IndexIVF contract) expressed as Spark tables. Centroids
   * are trained ONCE ([[ivfCentroids]], deterministic sample) and persisted
   * in a tiny `<table>_centroids` companion table; the corpus is quantized
   * to its inverted lists and persisted as `(cl, vec_id, embedding)`
   * bucketed on the list id `cl` ([[graft.relational.Bucketing]]).
   *
   * The centroids are the index's pinned parameters — the exact analogue
   * of the minhash index's (w, k) table properties: [[appendToIvfIndex]]
   * quantizes new batches with the STORED centroids, never retraining, so
   * old and new rows always share one list geometry (retraining the
   * quantizer is a rebuild decision, not an append). Serving
   * ([[annIvfIndexed]]) probes lists through the bucketed layout with the
   * query side broadcast — the corpus is scored in place at the scan and
   * never shuffles.
   *
   * Reference analogue: the reference re-derives its lookup structures
   * from scratch on every monthly extract (database_sqlite.py:274-289
   * rebuilds indices post-load); the persisted-index family replaces that
   * with build-once/append-daily at corpus scale.
   */
  def buildIvfIndex(emb: DataFrame, table: String, c: Int = 0, buckets: Int = 8,
                    path: Option[String] = None,
                    writerTasksPerBucket: Int = 1,
                    centroids: Option[Array[Array[Float]]] = None): Unit = {
    val cents = centroids.getOrElse(ivfCentroids(emb, c))
    graft.relational.Bucketing.writeBucketed(
      ivfAssigned(emb, cents), table, "cl", buckets, path = path,
      writerTasksPerBucket = writerTasksPerBucket)
    val spark = emb.sparkSession
    import spark.implicits._
    graft.relational.Bucketing.writeSmallTable(
      cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cl", "centroid"),
      centroidTable(table),
      path = path.map(p => s"$p/_centroids"))
  }

  private def centroidTable(table: String): String = s"${table}_centroids"

  /** The index's stored quantizer, list-id order. */
  def readIvfCentroids(spark: SparkSession, table: String): Array[Array[Float]] =
    spark.table(centroidTable(table))
      .orderBy(col("cl")).select("centroid").collect()
      .map(_.getSeq[Float](0).toArray)

  /** Incremental growth of a [[buildIvfIndex]] table: quantize the NEW
    * batch against the index's stored centroids and append under the
    * table's own bucket scheme
    * ([[graft.relational.Bucketing.appendBucketed]]). Batch-sized work —
    * the stored lists are neither read nor re-shuffled — and because the
    * quantizer is frozen, the grown index is bit-identical to a rebuild
    * over old+new with the same centroids (ScaleOpsSpec proves it). */
  def appendToIvfIndex(newBatch: DataFrame, table: String,
                       writerTasksPerBucket: Int = 1): Unit = {
    val spark = newBatch.sparkSession
    require(spark.catalog.tableExists(centroidTable(table)),
      s"appendToIvfIndex: ${centroidTable(table)} not found — not a buildIvfIndex table")
    graft.relational.Bucketing.appendBucketed(
      ivfAssigned(newBatch, readIvfCentroids(spark, table)), table,
      writerTasksPerBucket = writerTasksPerBucket)
  }

  /**
   * IVF search served from a [[buildIvfIndex]] table — identical output to
   * [[annIvf]] on the same corpus when the index was built with the
   * centroids [[annIvf]] would train (the storage split is invisible;
   * ScaleOpsSpec asserts row-exact equality). Each query probes its
   * `nprobe` closest lists; the probe set joins the bucketed layout on
   * `cl` with the (bounded, broadcast) query side carrying its embedding,
   * so corpus vectors are scored WHERE THEY SIT at the bucketed scan:
   * unlike the inline [[annIvf]] — which must shuffle id-only candidates
   * to re-attach embeddings — the serve path moves zero corpus bytes.
   * Per-list pruning replaces the corpus-wide scan: cost ~ |corpus| *
   * nprobe / c rows touched, and the only exchange in the plan is the
   * final top-k heap aggregation on query_id.
   */
  /**
   * `predicate` enables FILTERED ANN — the production shape where search
   * is constrained to a metadata slice (lang = 'en', source = trusted,
   * license-clean) — as a PRE-filter: it lands on the index scan itself
   * (pushed into the bucketed read, before any scoring), so the
   * probe-list scan shrinks WITH the predicate's selectivity. A
   * post-filter on the top-k would instead silently return fewer than k
   * (the classic filtered-ANN bug); pre-filtering keeps k semantics
   * exact over the qualifying subset. Columns the predicate references
   * must be part of the index row (store them at buildIvfIndex time by
   * keeping them on the corpus frame).
   */
  def annIvfIndexed(spark: SparkSession, table: String, queries: DataFrame,
                    k: Int, nprobe: Int = 12,
                    predicate: Option[Column] = None): DataFrame = {
    val units = unitRows(readIvfCentroids(spark, table))
    val idx0 = graft.relational.Bucketing.read(spark, table)
    val idx = predicate.fold(idx0)(idx0.filter)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      explode(probeUdf(units, nprobe)(col("embedding"))).as("cl")))
    val scored = idx.join(q, Seq("cl"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(vecDot(col("q_emb"), col("embedding")) /
          (vecNorm(col("q_emb")) * vecNorm(col("embedding"))), 6).as("cos"))
    topKByCosine(scored, k)
  }

  // ---- product quantization (Jégou, Douze & Schmid 2011) -------------------

  /** Default PQ geometry: 8 subspaces x 16 centroids = 8 codes (one byte
    * of entropy each) per vector — a 32x compression of a 64-dim float
    * corpus, the third member of the compression ladder next to int8
    * scalar quantization (v06, 4x) and sign bits (v08, 32x but
    * rank-blind within a word). */
  val PqM = 8
  val PqKsub = 16

  /**
   * PQ codebooks: the embedding is split into `m` contiguous subvectors
   * and each subspace gets its own `ksub`-centroid L2 k-means codebook,
   * trained driver-local over the SAME bounded deterministic sample as
   * [[ivfCentroids]] (one corpus scan; memory sampleSize x dim). Vectors
   * are L2-NORMALIZED before the split, so the asymmetric-distance order
   * downstream is exactly the cosine order the rerank uses (L2^2 on unit
   * vectors = 2 - 2cos). Returns [m][ksub][dim/m]. Quantization error
   * falls as product codes span ksub^m cells from m * ksub trained
   * centroids — the reason PQ beats one flat ksub-means at equal memory.
   */
  def pqCodebooks(emb: DataFrame, m: Int = PqM, ksub: Int = PqKsub,
                  iters: Int = 5,
                  sampleSize: Int = IvfTrainingSample): Array[Array[Array[Float]]] = {
    val sample = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleSize)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "pqCodebooks: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"pqCodebooks: dim $dim not divisible by m = $m")
    val sub = dim / m
    val normed = sample.map(unitVec)
    Array.tabulate(m) { s =>
      kmeansL2(normed.map(v =>
        java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub)), ksub, iters)
    }
  }

  /** In-place-free unit normalization; the zero vector stays zero. */
  private def unitVec(v: Array[Float]): Array[Float] = {
    val n = l2(v)
    if (n == 0.0) v else v.map(x => (x / n).toFloat)
  }

  /** Driver-local L2 Lloyd iterations, deterministic stride init and
    * lowest-index ties — the subspace-sized sibling of [[ivfCentroids]]'
    * cosine form. */
  private def kmeansL2(xs: Array[Array[Float]], k: Int, iters: Int): Array[Array[Float]] = {
    val kk = math.min(k, xs.length)
    val stride = math.max(1, xs.length / kk)
    var cs = Array.tabulate(kk)(i => xs((i * stride) % xs.length).clone())
    val dim = xs.head.length
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](kk, dim)
      val counts = new Array[Long](kk)
      xs.foreach { v =>
        val best = nearestL2(v, cs)
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
      }
      cs = Array.tabulate(kk) { ci =>
        if (counts(ci) == 0L) cs(ci)
        else Array.tabulate(dim)(d => (sums(ci)(d) / counts(ci)).toFloat)
      }
      it += 1
    }
    cs
  }

  private def nearestL2(v: Array[Float], cs: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var ci = 0
    while (ci < cs.length) {
      val c = cs(ci)
      var d2 = 0.0
      var d = 0
      while (d < c.length) {
        val diff = v(d).toDouble - c(d)
        d2 += diff * diff
        d += 1
      }
      if (d2 < bestD) { best = ci; bestD = d2 }
      ci += 1
    }
    best
  }

  /** Encode: per subspace, the nearest codebook entry, OFFSET-coded as
    * `s * ksub + code` so the scan-side ADC lookup is a bare
    * element_at(tab, code + 1) with zero per-subspace arithmetic. */
  private def pqEncodeUdf(books: Array[Array[Array[Float]]], ksub: Int) =
    udf { (v: Seq[Float]) =>
      val nv = unitVec(v.toArray)
      val sub = books(0)(0).length
      Array.tabulate(books.length) { s =>
        val sv = java.util.Arrays.copyOfRange(nv, s * sub, (s + 1) * sub)
        s * ksub + nearestL2(sv, books(s))
      }
    }

  /** The query's asymmetric-distance table, flattened to m * ksub doubles:
    * entry s * ksub + j = ||q_s - c_sj||^2 on the normalized query. */
  private def adcTabUdf(books: Array[Array[Array[Float]]], ksub: Int) =
    udf { (v: Seq[Float]) =>
      val nv = unitVec(v.toArray)
      val sub = books(0)(0).length
      val tab = new Array[Double](books.length * ksub)
      var s = 0
      while (s < books.length) {
        var j = 0
        while (j < books(s).length) {
          val c = books(s)(j)
          var d2 = 0.0
          var d = 0
          while (d < sub) {
            val diff = nv(s * sub + d).toDouble - c(d)
            d2 += diff * diff
            d += 1
          }
          tab(s * ksub + j) = d2
          j += 1
        }
        s += 1
      }
      tab
    }

  /**
   * PQ-ANN search — the third scale path next to [[annLsh]] and
   * [[annIvf]], and the one that changes what the corpus SCAN costs: the
   * shortlist pass reads m offset-codes per vector (8 ints here) instead
   * of dim floats, with the query's distance table riding in broadcast.
   * Per (query, vector) the asymmetric distance is m table lookups — a
   * codegen'd transform/aggregate fold over builtins, no UDF in the
   * corpus-sized hot path (the only UDFs run once per corpus row at
   * encode and once per query at table build). Shortlist selection goes
   * through the bounded top-k heap (map-side partials, |queries| x
   * shortlist pairs shuffle), then the exact cosine rerank restores true
   * ordering — the ADC's approximation error never ranks the final k,
   * only membership in the shortlist (v10's two-stage discipline).
   */
  def annPq(emb: DataFrame, queries: DataFrame, k: Int, m: Int = PqM,
            ksub: Int = PqKsub, shortlist: Int = 192): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val books = pqCodebooks(emb, m, ksub)
    val codes = emb.select(col("vec_id").as("neighbor_id"),
      pqEncodeUdf(books, ksub)(col("embedding")).as("codes"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      adcTabUdf(books, ksub)(col("embedding")).as("tab")))
    val scored = codes.join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(transform(col("codes"),
            c => element_at(col("tab"), c + 1)),
          lit(0.0), (acc, x) => acc + x).as("adc"))
    val candidates = scored
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorAggregates
        .topK(-col("adc"), col("neighbor_id"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"))
    rerank(candidates, emb, queries, k)
  }

  // ---- persisted PQ index (train once / add incrementally / query) ---------

  private def codebookTable(table: String): String = s"${table}_codebooks"

  /** The encoded corpus frame shared by PQ build and append:
    * (vec_id, offset codes, embedding). The raw embedding rides along for
    * the serve path's exact rerank — the codes answer WHICH vectors to
    * rerank, the stored embedding answers the rerank itself without
    * touching any second table. */
  private[llm] def pqAssigned(emb: DataFrame, books: Array[Array[Array[Float]]],
                              ksub: Int): DataFrame =
    emb.select(col("vec_id"), pqEncodeUdf(books, ksub)(col("embedding")).as("codes"),
      col("embedding"))

  /**
   * Index-build half of a PQ-ANN deployment — the same train/add contract
   * as [[buildIvfIndex]]: codebooks are trained ONCE and persisted in a
   * tiny `<table>_codebooks` companion table (one row per (subspace,
   * entry) with its offset code and subvector — the pinned parameters an
   * append must never retrain), and the corpus is encoded and persisted
   * as `(vec_id, codes, embedding)` bucketed on vec_id, so the serve
   * path's rerank re-attach is exchange-free on the corpus side (the
   * sign-index discipline).
   */
  def buildPqIndex(emb: DataFrame, table: String, m: Int = PqM,
                   ksub: Int = PqKsub, buckets: Int = 8,
                   path: Option[String] = None,
                   writerTasksPerBucket: Int = 1,
                   codebooks: Option[Array[Array[Array[Float]]]] = None): Unit = {
    val books = codebooks.getOrElse(pqCodebooks(emb, m, ksub))
    graft.relational.Bucketing.writeBucketed(
      pqAssigned(emb, books, ksub), table, "vec_id", buckets, path = path,
      writerTasksPerBucket = writerTasksPerBucket)
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = for {
      (book, s) <- books.zipWithIndex
      (cen, j) <- book.zipWithIndex
    } yield (s, j, s * ksub + j, ksub, cen.toSeq)
    graft.relational.Bucketing.writeSmallTable(
      rows.toSeq.toDF("s", "j", "code", "ksub", "centroid"),
      codebookTable(table),
      path = path.map(p => s"$p/_codebooks"))
  }

  /** The index's stored codebooks + the offset-coding ksub they were
    * pinned with. */
  def readPqCodebooks(spark: SparkSession, table: String): (Array[Array[Array[Float]]], Int) = {
    val rows = spark.table(codebookTable(table))
      .orderBy(col("s"), col("j"))
      .select(col("s"), col("ksub"), col("centroid")).collect()
    require(rows.nonEmpty, s"readPqCodebooks: empty ${codebookTable(table)}")
    val ksub = rows.head.getInt(1)
    val books = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Float](2).toArray).toArray).toArray
    (books, ksub)
  }

  /** Incremental growth of a [[buildPqIndex]] table: encode the NEW batch
    * with the STORED codebooks and append under the table's bucket scheme
    * — batch-sized work, frozen quantizer, so the grown index is
    * bit-identical to a rebuild over old+new with the same codebooks
    * (ScaleOpsSpec proves it). */
  def appendToPqIndex(newBatch: DataFrame, table: String,
                      writerTasksPerBucket: Int = 1): Unit = {
    val spark = newBatch.sparkSession
    require(spark.catalog.tableExists(codebookTable(table)),
      s"appendToPqIndex: ${codebookTable(table)} not found — not a buildPqIndex table")
    val (books, ksub) = readPqCodebooks(spark, table)
    graft.relational.Bucketing.appendBucketed(
      pqAssigned(newBatch, books, ksub), table,
      writerTasksPerBucket = writerTasksPerBucket)
  }

  /**
   * PQ search served from a [[buildPqIndex]] table — identical output to
   * [[annPq]] on the same corpus (deterministic training, so build-time
   * and inline codebooks coincide; ScaleOpsSpec asserts row-exact
   * equality). The ADC shortlist scan reads stored codes as they sit
   * (nothing re-encodes per query), and the exact rerank re-attaches
   * embeddings from the SAME bucketed table, so the corpus never
   * shuffles: the only exchanges are the two query-keyed heap
   * aggregations (shortlist + final k), both |queries|-sized.
   */
  def annPqIndexed(spark: SparkSession, table: String, queries: DataFrame,
                   k: Int, shortlist: Int = 192): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val (books, ksub) = readPqCodebooks(spark, table)
    val idx = graft.relational.Bucketing.read(spark, table)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      adcTabUdf(books, ksub)(col("embedding")).as("tab")))
    val scored = idx.select(col("vec_id").as("neighbor_id"), col("codes"))
      .join(q, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(transform(col("codes"),
            c => element_at(col("tab"), c + 1)),
          lit(0.0), (acc, x) => acc + x).as("adc"))
    val candidates = scored
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorAggregates
        .topK(-col("adc"), col("neighbor_id"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"))
    rerank(candidates, idx.select(col("vec_id"), col("embedding")), queries, k)
  }

  // ---- IVF + PQ composition (IVFADC; Jégou, Douze & Schmid 2011 §IV) -------

  /** Unit-normalized float copies of the coarse centroids — the residual
    * REFERENCE points: encode and query must subtract the same vector or
    * the ADC distances silently drift. */
  private def unitCentroidsF(cents: Array[Array[Float]]): Array[Array[Float]] =
    cents.map(unitVec)

  /** PQ codebooks trained over coarse-assignment RESIDUALS of the same
    * bounded deterministic sample both quantizers train on — the Faiss
    * IVFADC training recipe: residuals concentrate near zero once the
    * coarse cell is subtracted, so the same ksub entries per subspace
    * spend their resolution on the fine structure the coarse quantizer
    * left behind (why IVF+PQ beats PQ alone at equal code size). */
  def ivfPqResidualBooks(emb: DataFrame, cents: Array[Array[Float]],
                         m: Int = PqM, ksub: Int = PqKsub, iters: Int = 5,
                         sampleSize: Int = IvfTrainingSample): Array[Array[Array[Float]]] = {
    val sample = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleSize)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "ivfPqResidualBooks: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"ivfPqResidualBooks: dim $dim not divisible by m = $m")
    val units = unitRows(cents)
    val cus = unitCentroidsF(cents)
    val sub = dim / m
    val residuals = sample.map { v =>
      val nv = unitVec(v)
      val cu = cus(bestOf(nv, units))
      Array.tabulate(dim)(d =>
        (if (d < nv.length) nv(d) else 0f) - (if (d < cu.length) cu(d) else 0f))
    }
    Array.tabulate(m) { s =>
      kmeansL2(residuals.map(r =>
        java.util.Arrays.copyOfRange(r, s * sub, (s + 1) * sub)), ksub, iters)
    }
  }

  /** Encode: coarse cell + offset-coded PQ codes of the residual, one
    * pass per corpus row. */
  private def ivfPqEncodeUdf(units: Array[Array[Double]], cus: Array[Array[Float]],
                             books: Array[Array[Array[Float]]], ksub: Int) =
    udf { (v: Seq[Float]) =>
      val nv = unitVec(v.toArray)
      val ci = bestOf(nv, units)
      val cu = cus(ci)
      val sub = books(0)(0).length
      val dim = books.length * sub
      val r = Array.tabulate(dim)(d =>
        (if (d < nv.length) nv(d) else 0f) - (if (d < cu.length) cu(d) else 0f))
      val codes = Array.tabulate(books.length)(s =>
        s * ksub + nearestL2(java.util.Arrays.copyOfRange(r, s * sub, (s + 1) * sub),
          books(s)))
      (ci, codes)
    }

  /** Per query: the `nprobe` closest coarse cells, each with its OWN
    * asymmetric-distance table over the query's residual IN THAT CELL —
    * the table is cell-relative because the stored codes are. */
  private def ivfPqTabUdf(units: Array[Array[Double]], cus: Array[Array[Float]],
                          books: Array[Array[Array[Float]]], ksub: Int, nprobe: Int) =
    udf { (v: Seq[Float]) =>
      val nv = unitVec(v.toArray)
      val cells = scoresOf(nv, units).zipWithIndex
        .sortBy { case (s, i) => (-s, i) }.take(nprobe).map(_._2)
      val sub = books(0)(0).length
      val dim = books.length * sub
      cells.map { ci =>
        val cu = cus(ci)
        val r = Array.tabulate(dim)(d =>
          (if (d < nv.length) nv(d) else 0f) - (if (d < cu.length) cu(d) else 0f))
        val tab = new Array[Double](books.length * ksub)
        var s = 0
        while (s < books.length) {
          var j = 0
          while (j < books(s).length) {
            val cen = books(s)(j)
            var d2 = 0.0
            var d = 0
            while (d < sub) {
              val diff = r(s * sub + d).toDouble - cen(d)
              d2 += diff * diff
              d += 1
            }
            tab(s * ksub + j) = d2
            j += 1
          }
          s += 1
        }
        (ci, tab)
      }
    }

  /**
   * IVFADC search — the composition the standalone paths build toward
   * and the shape a billion-scale deployment actually runs (the Faiss
   * default): the coarse quantizer prunes WHICH vectors are scored
   * (`nprobe / c` of the corpus, via the equi-join on the cell id — the
   * IVF half), and PQ codes over residuals compress WHAT the scan reads
   * per scored vector (m offset-codes instead of dim floats — the PQ
   * half). Both prunings compose multiplicatively: per query the ADC
   * work is |corpus| * nprobe / c rows x m table lookups, against
   * |corpus| * m for flat PQ (v13) and |corpus| * nprobe / c * dim
   * floats for IVF with raw rerank-side reads (v05).
   *
   * The per-(query, cell) distance tables ride in one broadcast
   * (|queries| x nprobe rows of m * ksub doubles); the corpus-sided ADC
   * fold is the same codegen'd transform/aggregate as v13 — no UDF
   * touches a corpus-sized frame at query time. Candidate pairs are
   * unique by construction (one cell per stored vector), so the
   * shortlist heap consumes the join directly; the exact cosine rerank
   * restores true order (v10's two-stage discipline: ADC error decides
   * shortlist MEMBERSHIP, never the final ranking). A persisted form
   * would bucket the codes table by `cl` so probed lists become
   * partition-pruned scans — the v12/v14 index discipline; inline here,
   * the broadcast equi-join on `cl` does the pruning.
   */
  def annIvfPq(emb: DataFrame, queries: DataFrame, k: Int, c: Int = 0,
               m: Int = PqM, ksub: Int = PqKsub, nprobe: Int = 12,
               shortlist: Int = 192): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val cents = ivfCentroids(emb, c)
    val units = unitRows(cents)
    val cus = unitCentroidsF(cents)
    val books = ivfPqResidualBooks(emb, cents, m, ksub)
    val codes = emb.select(col("vec_id").as("neighbor_id"),
        ivfPqEncodeUdf(units, cus, books, ksub)(col("embedding")).as("e"))
      .select(col("neighbor_id"), col("e._1").as("cl"), col("e._2").as("codes"))
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
        explode(ivfPqTabUdf(units, cus, books, ksub, nprobe)(col("embedding"))).as("ct"))
      .select(col("query_id"), col("ct._1").as("cl"), col("ct._2").as("tab")))
    val scored = codes.join(q, Seq("cl"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(transform(col("codes"), cd => element_at(col("tab"), cd + 1)),
          lit(0.0), (acc, x) => acc + x).as("adc"))
    val candidates = scored
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorAggregates
        .topK(-col("adc"), col("neighbor_id"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"))
    rerank(candidates, emb, queries, k)
  }

  // ---- persisted IVFADC index (train once / add incrementally / query) -----

  /** The encoded corpus frame shared by IVFADC build and append:
    * (cl, vec_id, codes, embedding) — cell id for the probe join, codes
    * for the ADC scan, the raw embedding riding along for the exact
    * rerank (the v14 single-table discipline). */
  private def ivfPqAssigned(emb: DataFrame, cents: Array[Array[Float]],
                            books: Array[Array[Array[Float]]], ksub: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        ivfPqEncodeUdf(unitRows(cents), unitCentroidsF(cents), books, ksub)(
          col("embedding")).as("e"))
      .select(col("e._1").as("cl"), col("vec_id"),
        col("e._2").as("codes"), col("embedding"))

  /**
   * Index-build half of an IVFADC deployment — [[buildIvfIndex]]'s
   * list-bucketed layout carrying [[buildPqIndex]]'s codes: the corpus
   * persists as `(cl, vec_id, codes, embedding)` BUCKETED ON THE LIST ID,
   * so a probe touches only its lists' buckets, and what it reads there
   * is 8 offset-codes per vector, not 64 floats. BOTH trained parameter
   * sets pin in companion tables (`_centroids` + `_codebooks` — the
   * quantizers an append must never retrain); the codebooks are
   * residual-trained, so they are only meaningful relative to their
   * centroids and the pair freezes together.
   */
  def buildIvfPqIndex(emb: DataFrame, table: String, c: Int = 0, m: Int = PqM,
                      ksub: Int = PqKsub, buckets: Int = 8,
                      path: Option[String] = None,
                      writerTasksPerBucket: Int = 1,
                      params: Option[(Array[Array[Float]], Array[Array[Array[Float]]])] =
                        None): Unit = {
    val (cents, books) = params.getOrElse {
      val cs = ivfCentroids(emb, c)
      (cs, ivfPqResidualBooks(emb, cs, m, ksub))
    }
    graft.relational.Bucketing.writeBucketed(
      ivfPqAssigned(emb, cents, books, ksub), table, "cl", buckets, path = path,
      writerTasksPerBucket = writerTasksPerBucket)
    val spark = emb.sparkSession
    import spark.implicits._
    graft.relational.Bucketing.writeSmallTable(
      cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
        .toDF("cl", "centroid"),
      centroidTable(table),
      path = path.map(p => s"$p/_centroids"))
    val bookRows = for {
      (book, s) <- books.zipWithIndex
      (cen, j) <- book.zipWithIndex
    } yield (s, j, s * ksub + j, ksub, cen.toSeq)
    graft.relational.Bucketing.writeSmallTable(
      bookRows.toSeq.toDF("s", "j", "code", "ksub", "centroid"),
      codebookTable(table),
      path = path.map(p => s"$p/_codebooks"))
  }

  /** Incremental growth of a [[buildIvfPqIndex]] table: encode the NEW
    * batch with BOTH stored parameter sets and append under the table's
    * bucket scheme — batch-sized work, frozen quantizer pair, so the
    * grown index is bit-identical to a rebuild over old+new with the
    * same parameters (ScaleOpsSpec proves it). */
  def appendToIvfPqIndex(newBatch: DataFrame, table: String,
                         writerTasksPerBucket: Int = 1): Unit = {
    val spark = newBatch.sparkSession
    require(spark.catalog.tableExists(centroidTable(table)) &&
        spark.catalog.tableExists(codebookTable(table)),
      s"appendToIvfPqIndex: companion tables for $table not found — not a buildIvfPqIndex table")
    val cents = readIvfCentroids(spark, table)
    val (books, ksub) = readPqCodebooks(spark, table)
    graft.relational.Bucketing.appendBucketed(
      ivfPqAssigned(newBatch, cents, books, ksub), table,
      writerTasksPerBucket = writerTasksPerBucket)
  }

  /**
   * IVFADC search served from a [[buildIvfPqIndex]] table — identical
   * output to [[annIvfPq]] on the same corpus (deterministic training:
   * build-time and inline parameters coincide; ScaleOpsSpec asserts
   * row-exact equality). The probe equi-join lands on the cl-bucketed
   * scan, so only probed lists are read and what the ADC fold touches
   * there is stored codes — nothing re-encodes at query time, the corpus
   * never shuffles, and the exact rerank re-attaches embeddings from the
   * SAME table rows. The only exchanges are the two query-keyed heap
   * aggregations. `predicate` pre-filters the index scan (the
   * [[annIvfIndexed]] filtered-ANN discipline: k semantics stay exact
   * over the qualifying slice, and the scan shrinks with selectivity).
   */
  def annIvfPqIndexed(spark: SparkSession, table: String, queries: DataFrame,
                      k: Int, nprobe: Int = 12, shortlist: Int = 192,
                      predicate: Option[Column] = None): DataFrame = {
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val cents = readIvfCentroids(spark, table)
    val (books, ksub) = readPqCodebooks(spark, table)
    val units = unitRows(cents)
    val cus = unitCentroidsF(cents)
    val idx0 = graft.relational.Bucketing.read(spark, table)
    val idx = predicate.fold(idx0)(idx0.filter)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
        explode(ivfPqTabUdf(units, cus, books, ksub, nprobe)(col("embedding"))).as("ct"))
      .select(col("query_id"), col("ct._1").as("cl"), col("ct._2").as("tab")))
    val scored = idx.join(q, Seq("cl"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(transform(col("codes"), cd => element_at(col("tab"), cd + 1)),
          lit(0.0), (acc, x) => acc + x).as("adc"))
    val candidates = scored
      .groupBy(col("query_id"))
      .agg(graft.functions.VectorAggregates
        .topK(-col("adc"), col("neighbor_id"), shortlist).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"))
    rerank(candidates, idx.select(col("vec_id"), col("embedding")), queries, k)
  }
}
