package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Fixed-iteration, integer-exact PageRank — the graph-quality signal
 * web-scale corpus curation uses (page authority as a training-data
 * quality weight; the CommonCrawl-derived pipelines rank hosts exactly
 * this way before sampling).
 *
 * Why integer arithmetic: floating-point PageRank sums are
 * accumulation-order dependent, so a cluster rerun (or a different
 * engine) produces ulp-different ranks and any downstream threshold or
 * sort can flip. Here every step is 64-bit integer math — rank starts at
 * `scale` (10^12) per node, each edge carries `rank div out_degree`, and
 * the damping update is (15*scale) div 100 + (85 * in_mass) div 100 —
 * so two engines that implement integer division identically produce
 * IDENTICAL ranks, hash-comparable with no rounding contract. The same
 * trick as t15's hash-div-weight priorities, applied to an iterative
 * algorithm.
 *
 * Scale shape: each iteration is one equi-join of the edge list with the
 * current rank vector on the 8-byte src id plus one partial-aggregated
 * groupBy on dst — the standard distributed PageRank round (GraphX's
 * Pregel formulation lowers to the same join+aggregate). The iteration
 * count is a compile-time constant (plans unroll; every 5th round cuts
 * lineage, [[RoundsPerCut]]). Mass at dangling nodes (out-degree
 * 0) is dropped, which is deterministic and harmless for a fixed-round
 * scoring pass; feed an undirected (doubled) edge list to avoid danglers
 * entirely.
 *
 * Overflow bound: in_mass <= total mass = n * scale, so 85 * in_mass
 * needs n * scale * 85 < 2^63. By default `scale` AUTO-SIZES to the
 * largest power of 10 satisfying that bound for the measured node count
 * ([[autoScale]] — one count action over the node set), so the operator
 * works unmodified from fixture graphs (n=2e3 -> 10^13) to web-scale
 * corpus graphs (n=10^9 -> 10^8, still 8 exact decimal digits of rank);
 * the r4 fixed 10^12 default capped graphs at ~10^5 nodes. The damping
 * expression keeps an assert_true on the summed in-mass, so a graph
 * that exceeds the bound (possible only with an explicit oversized
 * `scale`) FAILS the job instead of wrapping to garbage ranks (non-ANSI
 * long arithmetic wraps silently). Residual: a wrap *inside* the sum
 * itself that lands back in [0, 2^63/85) is undetected — that needs
 * total mass past 2^64, i.e. ~100x past the guarded bound.
 */
object PageRank {

  /** Largest power of 10 with n * scale * 85 <= Long.MaxValue — the
    * finest rank granularity that provably cannot overflow the damping
    * multiply. Any SQL engine mirrors it as
    * `max(10^k) where 10^k <= (2^63-1) // 85 // n`. */
  def autoScale(n: Long): Long = {
    require(n > 0, s"autoScale needs a non-empty node set, got n=$n")
    val cap = Long.MaxValue / 85L / n
    require(cap >= 1L, s"node count $n too large for integer PageRank (scale < 1)")
    var s = 1L
    while (s <= cap / 10L) s *= 10L
    s
  }

  /** `scale <= 0` (the default) auto-sizes via [[autoScale]]. PageRank is
    * [[trustRankFixed]] with every node a seed: the teleport term's 0/1
    * weight is 1 everywhere, so the ranks are exactly the plain damping
    * update's. */
  def pageRankFixed(edges: DataFrame, iters: Int = 3, scale: Long = 0L): DataFrame = {
    // The edge list, degrees, and node set are loop-invariant and appear
    // in every round's plan — deliberately NOT persisted: ReuseExchange
    // already dedupes the identical exchanges inside the one job, and an
    // A/B on the bench showed explicit caching 60% SLOWER here (cache
    // write cost + broken whole-stage pipelines). For tens of rounds,
    // checkpoint instead (lineage, not recompute, becomes the problem) —
    // or better, serve the loop-invariant side from a stored bucketed
    // layout: [[buildEdgeLayout]] + [[pageRankIndexed]].
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    iterate(e, deg, nodes.withColumn("__s", lit(1L)), iters, scale, "pageRankFixed: node count")
  }

  /** The L62/L64 index-split applied to iterated graph scoring: persist
    * the loop-INVARIANT side once, bucketed on its join key, so each
    * round's joins only shuffle the loop-VARIANT rank vector.
    * [[pageRankFixed]] re-shuffles the full edge list into the contrib
    * join every round (the per-round exchanges are identical, but
    * ReuseExchange dedupes within one round's plan, not across the
    * re-planned rounds of a checkpointed 10-30 round job); at 10^9 edges
    * that per-round edge exchange dominates. Here `edges` and `degrees`
    * store bucketed on `src` (their join is co-bucketed: exchange-free on
    * both sides) and `nodes` on `node`, so the only per-round exchanges
    * left are rank-vector-sized (|nodes| rows). Integer-exact semantics
    * are untouched — the storage split is invisible in the result
    * (GraphSpec proves indexed == direct bit-for-bit). A growing graph
    * appends batches via [[appendToEdgeLayout]] without rebuilding. */
  /** Returns the deduped edge-row count (computed anyway for bucket
    * auto-sizing) so serve-side loops can size their shuffles from it
    * ([[graft.LoopConf]]) without re-scanning the store. */
  def buildEdgeLayout(edges: DataFrame, name: String, buckets: Int = 0,
                      basePath: Option[String] = None): Long = {
    import graft.relational.Bucketing
    def sub(part: String) = basePath.map(p => s"$p/$part")
    // the deduped edge list feeds all three writes (and the bucket
    // auto-sizing count): persist it so the upstream edge derivation +
    // distinct run once, not once per table
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // buckets <= 0: auto-size to the graph, ~4M edge rows (~64 MB)
      // per bucket — the same auto-sizing discipline as the in-plan rank
      // scale and the v02 grid. A fixed count is wrong at BOTH ends: 32
      // buckets on a bench-sized graph made per-bucket task scheduling
      // 2.5x the serve cost (probe-measured), and 32 on a 10^9-edge graph
      // is 500M rows per bucket file. The count() materializes the
      // persisted frame the first write needs anyway.
      val n = e.count()
      val b =
        if (buckets > 0) buckets
        else math.max(8, math.min(1024,
          ((n + RowsPerBucket - 1) / RowsPerBucket).toInt))
      Bucketing.writeBucketed(e, s"${name}_edges", "src", b,
        path = sub("edges"))
      Bucketing.writeBucketed(
        e.groupBy("src").agg(count(lit(1)).as("deg")), s"${name}_degrees", "src", b,
        path = sub("degrees"))
      Bucketing.writeBucketed(
        e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct(),
        s"${name}_nodes", "node", b,
        path = sub("nodes"))
      n
    } finally e.unpersist()
  }

  /** Auto-sizing target for [[buildEdgeLayout]]: edge rows per bucket. */
  private val RowsPerBucket = 4L * 1000 * 1000

  /**
   * Incremental growth of a [[buildEdgeLayout]] layout — the daily-crawl
   * write mode of the graph side (new links between pages arrive with
   * every batch; rebuilding a 10^9-edge layout per batch is the cost this
   * deletes). All three tables grow by APPEND under their own bucket
   * schemes ([[graft.relational.Bucketing.appendBucketed]]):
   *
   *  - edges: the batch is deduped within itself AND against the stored
   *    edge set (a LEFT ANTI bucket-join — the stored side is read through
   *    its bucket layout without shuffling, only batch rows move), so the
   *    stored edge set keeps its build-time set semantics.
   *  - degrees: the surviving batch edges append per-src DELTA rows;
   *    [[pageRankIndexed]] sums them on read. The sum runs on the bucketed
   *    scan's own distribution — no exchange — so serving stays
   *    corpus-shuffle-free (ScaleOpsSpec re-asserts it on a grown layout).
   *  - nodes: batch endpoints append possibly-duplicated; the read-side
   *    distinct collapses them, again exchange-free on the bucket key.
   *
   * Work and bytes written are batch-sized; the stored tables are never
   * rewritten. ScaleOpsSpec proves a grown layout serves bit-identical
   * ranks to a from-scratch rebuild over the union.
   */
  def appendToEdgeLayout(newEdges: DataFrame, name: String): Unit = {
    import graft.relational.Bucketing
    val spark = newEdges.sparkSession
    // The anti-join reads the very table the first append writes: the
    // batch MUST be materialized against the pre-append snapshot before
    // any write, and a lazy persist is not enough — a partition recomputed
    // after the edge append would see its own output in the anti-join and
    // vanish, silently starving the degree/node writes. The eager local
    // checkpoint cuts the lineage to stored blocks (the dedupComponents
    // loop-state discipline), so all three writes read one frozen batch.
    val fresh = newEdges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst")).distinct()
      .join(Bucketing.read(spark, s"${name}_edges"), Seq("src", "dst"), "left_anti")
      .localCheckpoint(true)
    Bucketing.appendBucketed(fresh, s"${name}_edges")
    Bucketing.appendBucketed(
      fresh.groupBy("src").agg(count(lit(1)).as("deg")), s"${name}_degrees")
    Bucketing.appendBucketed(
      fresh.select(col("src").as("node"))
        .union(fresh.select(col("dst").as("node"))).distinct(),
      s"${name}_nodes")
  }

  /** Run the iteration against a [[buildEdgeLayout]] layout. Degrees are
    * summed and nodes deduped ON READ — identity passes over a freshly
    * built layout, and what makes [[appendToEdgeLayout]]'s delta rows
    * correct after growth; both run on the bucketed scans' own hash
    * distribution, so they add no exchange to the loop. */
  def pageRankIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
                      iters: Int = 3, scale: Long = 0L): DataFrame = {
    import graft.relational.Bucketing
    iterate(Bucketing.read(spark, s"${name}_edges"),
      Bucketing.read(spark, s"${name}_degrees")
        .groupBy("src").agg(sum(col("deg")).as("deg")),
      Bucketing.read(spark, s"${name}_nodes").distinct().withColumn("__s", lit(1L)),
      iters, scale, "pageRankFixed: node count")
  }

  /**
   * TrustRank (Gyöngyi, Garcia-Molina & Pedersen 2004) — personalized
   * PageRank with the teleport restricted to a TRUSTED seed set: rank
   * mass enters the graph only at the seeds and decays with link
   * distance, so a page's score measures "how reachable from trust" —
   * the canonical web-spam demotion signal, and the natural upgrade of
   * x19's hop distances from "how far" to "how much flow". Same
   * integer-exact discipline as [[pageRankFixed]]: seeds start at
   * `scale`, non-seeds at 0, each round is
   * `seed * (15*scale div 100) + (85 * in_mass) div 100` — all 64-bit
   * integer ops, so engines agree bit-for-bit. The auto-sized scale
   * bounds on the SEED count (total mass never exceeds |seeds| * scale
   * — teleport adds 0.15 of seed mass, propagation keeps 0.85 of what
   * exists), giving small trusted sets finer granularity than the
   * all-nodes bound. Per round: the same one edge equi-join + one
   * partial-aggregated groupBy as PageRank; the seed flag rides on the
   * node frame, no extra join in the loop. A seed set that holds none of
   * the graph's nodes is not an error: every node comes back with rank 0.
   */
  def trustRankFixed(edges: DataFrame, seeds: DataFrame, iters: Int = 3,
                     scale: Long = 0L): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val sd = seeds.select(col("node").cast("long").as("node")).distinct()
      .withColumn("__s", lit(1L))
    // the seed flag becomes a 0/1 long on the node frame: the teleport
    // term multiplies by it, so the loop never re-joins the seed set
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(sd, Seq("node"), "left")
      .select(col("node"), coalesce(col("__s"), lit(0L)).as("__s"))
    iterate(e, deg, nodes, iters, scale, "trustRankFixed: seed count")
  }

  /** Rounds between lineage cuts of the rank vector. The unrolled plan
    * grows linearly in iteration count and the planner stalls long before
    * the executors do (10-30 round corpus-graph scoring), so every 5th
    * round — never the last: the final plan returns to the caller lazily —
    * is cut with an eager `localCheckpoint` (executor-block, unreplicated:
    * the right tier for loop state that is cheap to reconstruct from
    * `edges`). Each cut is one materialize of the rank vector (|nodes|
    * rows); fixture-scale 3-round runs never reach one. Integer ranks are
    * bit-stable, so a cut can never change the result, only the plan. */
  private val RoundsPerCut = 5

  /** Core fixed-point loop over pre-built (edge, degree, node) frames —
    * plain parquet-derived (pageRankFixed, trustRankFixed) or stored
    * bucketed (pageRankIndexed); the math is identical. `nodes` carries
    * the 0/1 teleport weight `__s`, and the auto-sized scale bounds on its
    * sum (`what` names that count in the overflow assert). */
  private def iterate(e: DataFrame, deg: DataFrame, nodes: DataFrame,
                      iters: Int, scale: Long, what: String): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // The auto-sized scale rides IN-PLAN as a broadcast 1-row scalar
    // computed by the same rule as [[autoScale]] (pow(10,k) is exact in a
    // double through 10^18, the cast back to long exact through 10^18) —
    // one job end to end, where a driver-side nodes.count() action would
    // scan the edge list a second time before the iteration even starts.
    // ReuseExchange dedupes the node-set subtree against the main plan.
    // An empty graph yields an empty result (no scale to compute); a node
    // count too large for scale >= 1 fails the in-plan assert; a weight sum
    // of 0 (TrustRank whose seeds hold none of the graph's nodes) yields
    // every node with rank 0 — no mass ever enters the graph.
    val scFrame =
      if (scale > 0L)
        e.sparkSession.range(1).select(lit(scale).as("__scale"))
      else nodes.agg(sum(col("__s")).as("__n")).select(expr(
        // __n NULL (empty graph) or 0 (no seed in the graph) empties the
        // filter (nullif keeps the ANSI divide from throwing), so coalesce
        // supplies a dummy positive scale: the crossJoin with zero nodes
        // discards it, preserving the empty-in/empty-out contract, and
        // zero weights multiply it away.
        "coalesce(array_max(filter(transform(sequence(0, 18)," +
          " k -> cast(pow(10, k) as bigint))," +
          s" s -> s <= ${Long.MaxValue}L div 85 div nullif(__n, 0))), 1L)" +
          s" + coalesce(cast(assert_true(__n = 0 OR ${Long.MaxValue}L div 85 div __n >= 1," +
          s" '$what too large for integer scale') as bigint), 0L)")
        .as("__scale"))
    var ranks = nodes.crossJoin(broadcast(scFrame))
      .select(col("node"), col("__s"), (col("__s") * col("__scale")).as("rank"))
    // guard BEFORE the 85x damping multiply: m outside [0, 2^63/85)
    // would wrap. coalesce folds the assert's NULL into the arithmetic
    // so pruning can never drop it.
    val maxMass = Long.MaxValue / 85L
    for (it <- 1 to iters) {
      val contrib = e.join(deg, "src")
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
      ranks = nodes
        .join(contrib.groupBy("node").agg(sum(col("c")).as("m")), Seq("node"), "left")
        .crossJoin(broadcast(scFrame))
        .select(col("node"), col("__s"),
          (col("__s") * expr("(15 * __scale) div 100") +
            expr(s"(85 * (coalesce(m, 0L) + " +
              s"coalesce(cast(assert_true(coalesce(m, 0L) >= 0 and " +
              s"coalesce(m, 0L) <= ${maxMass}L) as long), 0L))) div 100")).as("rank"))
      if (it % RoundsPerCut == 0 && it < iters)
        ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("node"), col("rank"))
  }
}
