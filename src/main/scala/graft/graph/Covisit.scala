package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Co-visitation similarity graph + triangle counting — the two-step
 * graph-structure signal of corpus curation: first project a bipartite
 * incidence (user x page, crawl x domain, doc x shingle...) onto a
 * similarity graph over one side, then read local clustering structure
 * (triangle participation) off it. Dense triangle neighborhoods are the
 * classic link-farm / mirror-cluster detector; the same two ops are the
 * backbone of item-item collaborative filtering.
 *
 * Scale shape, pair generation ([[jaccardEdges]]): candidate pairs are
 * generated KEYED ON THE SHARED ENTITY (one equi self-join on `u`), so
 * cost is sum over users of C(fanout, 2) — bounded by real-world per-user
 * activity, never |pages|^2 (the DIMSUM/item-item-CF discipline). The
 * per-page set sizes ride in as a broadcast aggregate (one row per page —
 * the small side by construction), and the Jaccard threshold is evaluated
 * as an INTEGER cross-multiplication (`den * inter >= num * union`): no
 * float enters the edge decision, so engines and reruns agree exactly.
 *
 * Scale shape, triangles ([[triangleCounts]]): edges are ORIENTED from
 * the lower (degree, id) endpoint to the higher — the classic
 * arboricity-bounded enumeration (Chiba–Nishizeki; Suri & Vassilvitskii's
 * MR formulation): every triangle then has exactly ONE node with two
 * out-edges, so wedges (two out-edges of one node, deduped by id order)
 * enumerate each triangle once, and max out-degree is O(sqrt(|E|))
 * regardless of raw hub degrees — a hub's edges all point IN (its
 * neighbors have lower degree), so the hub that would explode the naive
 * wedge join generates no wedges at all; the quadratic hot key vanishes
 * by construction instead of needing a salt.
 * Both the wedge join and the closure check are equi-joins (on the
 * 8-byte src id and the canonical (a, b) pair); nothing in either op is
 * a cartesian or a window sort.
 */
object Covisit {

  /** Session-tracked MEMORY_AND_DISK materialization (the Dedup
    * discipline): eager, and released by the Verify/Bench harness after
    * each query so storage never accumulates across a run. */
  private def materialized(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    graft.SessionResources.trackPersisted(p)
  }

  /**
   * Project a distinct bipartite incidence `(u, p)` onto the `p` side:
   * edges `(p1, p2, inter, uni)` with `p1 < p2` for every pair whose
   * exact Jaccard overlap `inter / uni >= tauNum / tauDen`.
   *
   * `maxFanout` is the hub guard — the d03 postings-cap discipline
   * applied to the shared-entity key: a user touching f pages generates
   * C(f, 2) pair rows, so one 10^6-page crawler bot would emit 5*10^11
   * rows into the pair join. With `maxFanout > 0`, CANDIDATE generation
   * sees only a deterministic md5-ranked sample of each over-cap user's
   * pages, and surviving candidates are then scored EXACTLY against the
   * full incidence (a candidate-bounded semi-join recount — same split
   * as d03: the cap prunes candidates, never the score). The one
   * semantic edge mirrors d03's: a pair co-visited ONLY by capped-out
   * hub slots loses its candidate (reachable through any other shared
   * user). `maxFanout = 0` (default, and the registered query's form)
   * is exact end to end.
   */
  def jaccardEdges(incidence: DataFrame, tauNum: Long, tauDen: Long,
                   maxFanout: Int = 0): DataFrame = {
    require(tauNum >= 0 && tauDen > 0, "threshold must be a non-negative rational")
    // the deduped incidence feeds THREE subtrees (both pair-join sides +
    // the size aggregate): materialize it once — ReuseExchange covers the
    // twin join sides, but the size branch would otherwise re-derive from
    // a second source scan (the d03 shingle-table lesson)
    val up = materialized(
      incidence.select(col("u"), col("p").cast("long").as("p")).distinct())
    val genSide =
      if (maxFanout <= 0) up
      else up
        .groupBy(col("u"))
        .agg(graft.functions.VectorAggregates.topK(
          -conv(substring(md5(concat(col("u"), lit(":"), col("p"))), 1, 8), 16, 10)
            .cast("double"),
          col("p"), maxFanout).as("top"))
        .select(col("u"), explode(col("top")).as("t"))
        .select(col("u"), col("t.id").as("p"))
    val pairs0 = genSide.select(col("u"), col("p").as("p1"))
      .join(genSide.select(col("u"), col("p").as("p2")), Seq("u"))
      .filter(col("p1") < col("p2"))
    val pairs =
      if (maxFanout <= 0)
        pairs0.groupBy("p1", "p2").agg(count(lit(1)).as("inter"))
      else {
        // exact recount over the FULL incidence, candidate-bounded: each
        // candidate fans out to p1's true user set, then a semi-join
        // keeps the users also on p2 — |cand| x |p1| rows, never C(f,2)
        val cand = pairs0.select("p1", "p2").distinct()
        cand.join(up.select(col("p").as("p1"), col("u")), Seq("p1"))
          .join(up.select(col("p").as("p2"), col("u")), Seq("p2", "u"), "left_semi")
          .groupBy("p1", "p2").agg(count(lit(1)).as("inter"))
      }
    val sizes = up.groupBy(col("p")).agg(count(lit(1)).as("c"))
    pairs
      .join(broadcast(sizes.select(col("p").as("p1"), col("c").as("c1"))), Seq("p1"))
      .join(broadcast(sizes.select(col("p").as("p2"), col("c").as("c2"))), Seq("p2"))
      .withColumn("uni", col("c1") + col("c2") - col("inter"))
      .filter(lit(tauDen) * col("inter") >= lit(tauNum) * col("uni"))
      .select("p1", "p2", "inter", "uni")
  }

  /**
   * k-core decomposition by iterative peeling (Seidman 1983; the
   * Batagelj–Zaveršnik peel expressed as a dataflow fixpoint): repeatedly
   * drop nodes with degree < k until none remain — the surviving maximal
   * subgraph where EVERY node keeps >= k neighbors. The dense-core signal
   * of corpus curation: link farms and mirror clusters live in high
   * cores, and "in the k-core" is a robustness statement no raw degree
   * threshold gives (a hub wired to leaves has high degree and no core).
   *
   * Scale shape: each round is one partial-aggregated degree count plus
   * two LEFT SEMI equi-joins (edges whose BOTH endpoints survive) — no
   * window, no cartesian; the edge set shrinks monotonically, so the peel
   * runs uncapped under [[graft.LoopConf.fixpoint]] (each round's state is
   * a lazy localCheckpoint, and the convergence count is the action that
   * materializes it). Rounds are bounded by the peel depth (small in
   * practice — single digits even on web graphs at fixed k).
   *
   * Input: canonical `(p1, p2)` edges with `p1 < p2`. Output:
   * `(node, core_deg)` for k-core members, `core_deg` the within-core
   * degree (>= k by construction).
   */
  def kCore(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e0 = edges.select(col("p1").cast("long").as("a"), col("p2").cast("long").as("b"))
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("d"))
      .select(col("d.src").as("src"), col("d.dst").as("dst"))
      .localCheckpoint(false) // materialized by the sizing count below
    // the peel is a many-round loop over monotonically shrinking state:
    // size its shuffles once from the edge count (graft.LoopConf)
    val core = graft.LoopConf.scoped(edges.sparkSession, e0.count()) {
      graft.LoopConf.fixpoint("kCore", e0, empty = (_: Long) == 0L)(_.count()) { e =>
        val keep = e.groupBy("src").agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("src").as("node"))
        e.join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
          .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
      }
    }
    core.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /**
   * k-TRUSS decomposition (Cohen 2008) — the edge-level sibling of
   * [[kCore]] and the stronger dense-subgraph signal: an edge survives
   * iff it participates in >= k-2 triangles among surviving edges,
   * iterated to fixpoint. A k-core can be a sparse star-of-stars; a
   * k-truss demands every EDGE be triangle-reinforced, which is the
   * mutual-corroboration structure of real communities and the tell of
   * ring-wired link farms. Per round: one triangle enumeration over the
   * SHRINKING canonical edge set (the degree-ordered orientation of
   * [[triangleCounts]] — hubs generate zero wedges, both stages
   * equi-joins), one per-edge support count with map-side partials, one
   * filter; monotone edge removal guarantees termination,
   * localCheckpoint cuts each round's lineage, and the convergence
   * count doubles as the materializing action. Output: surviving edges
   * (p1 < p2) with their within-truss support.
   */
  def kTruss(edges: DataFrame, k: Int): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3 (support threshold k-2 >= 1)")
    val e0 = edges.select(col("p1").cast("long").as("a"), col("p2").cast("long").as("b"))
      .distinct().localCheckpoint(true)
    // NOT LoopConf-scoped (unlike kCore/SCC/BFS): each round's triangle
    // enumeration is real compute (the wedge join), which wants AQE's
    // dynamic post-shuffle sizing — an edge-count-derived constant
    // under-parallelizes the wedge stage (r12 probe: scoping cost +0.8 s)
    //
    // each round CHECKPOINTS its support frame, and the terminal round's
    // support IS the final answer — convergence means every edge of the
    // last state passed `support >= k-2`, so `sup` (computed over exactly
    // that state) is complete for the survivors, and no triangle
    // enumeration runs after the fixpoint (it would cost ~1/(rounds+1) of
    // the query).
    var sup: DataFrame = null
    val e = graft.LoopConf.fixpoint("kTruss", e0, empty = (_: Long) == 0L)(_.count()) { e =>
      // lazy: the round's count materializes BOTH checkpoints in one job
      sup = edgeSupport(e).localCheckpoint(false)
      e.join(sup.filter(col("support") >= k - 2), Seq("a", "b"), "left_semi")
    }
    if (sup == null) // empty input graph: no support was ever computed
      e.select(col("a").as("p1"), col("b").as("p2"), lit(0L).as("support"))
    else
      e.join(sup, Seq("a", "b"), "left")
        .select(col("a").as("p1"), col("b").as("p2"),
          coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Every triangle of a canonical (a < b) edge list exactly once, as
    * (n1, n2, n3) with n2 < n3: edges are oriented lower (degree, id) ->
    * higher, wedges are two out-edges of one src deduped by id order on
    * the tips, and the closure check joins the canonical edge list
    * (x < y matches a < b). `e` feeds degree counting, orientation AND the
    * closure check, so callers pass a materialized frame. */
  private def triangles(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // a < b canonically, so the id tie-break folds into "<=" on the degrees
    val oriented = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("src"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("dst"))
    val wedges = oriented.select(col("src"), col("dst").as("x"))
      .join(oriented.select(col("src"), col("dst").as("y")), Seq("src"))
      .filter(col("x") < col("y"))
    wedges.join(e.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"))
      .select(col("src").as("n1"), col("x").as("n2"), col("y").as("n3"))
  }

  /** Per-edge triangle support over a canonical (a < b) edge list: every
    * triangle credits its three edges once. */
  private def edgeSupport(e: DataFrame): DataFrame =
    triangles(e).select(explode(array(
        struct(least(col("n1"), col("n2")).as("a"), greatest(col("n1"), col("n2")).as("b")),
        struct(least(col("n1"), col("n3")).as("a"), greatest(col("n1"), col("n3")).as("b")),
        struct(col("n2").as("a"), col("n3").as("b")))).as("t"))
      .select(col("t.a").as("a"), col("t.b").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))

  /**
   * Per-node triangle participation counts over a canonical undirected
   * edge list `(p1, p2)` with `p1 < p2`. Output: `(node, tri_cnt)` for
   * every node in at least one triangle; each triangle contributes 1 to
   * each of its three corners.
   */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // materialized so an expensive upstream edge derivation (x22's
    // similarity pipeline) runs once, not three times
    val e = materialized(
      edges.select(col("p1").cast("long").as("a"), col("p2").cast("long").as("b")))
    triangles(e).select(explode(array(col("n1"), col("n2"), col("n3"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
  }
}
