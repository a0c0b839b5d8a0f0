package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Multi-source BFS hop distances — the graph-proximity signal of corpus
 * curation (distance from a trusted seed set as a quality prior: link
 * distance from curated domains is the classic web-spam feature), and the
 * third member of the graph family next to PageRank and the component
 * closure.
 *
 * Scale shape: round h equi-joins the (h-1)-FRONTIER — not the full
 * known set — against the edge list on the 8-byte src id, anti-joins the
 * discoveries against the known set, and unions the disjoint remainder
 * in. Per round that is one src equi-join + one node anti-join, the
 * PageRank round shape with a SHRINKING variant side: the edge list is
 * loop-invariant (serve it from the stored bucketed layout via
 * [[bfsIndexed]] and it never shuffles), and the frontier empties when
 * the reachable set saturates, so the loop exits early on diameter <
 * maxHops instead of scheduling dead rounds. Distances are exact hop
 * counts — integers, so reruns and engines agree bit-for-bit (the x16
 * integer-rank discipline for free).
 *
 * Each round's frontier is cut to a stored block with an eager
 * localCheckpoint (the components-loop discipline: a self-growing plan
 * would double per round), and the action that materializes it doubles
 * as the early-exit probe. The anti-join's known set is served from a
 * BINARY-COUNTER fold of the hop blocks ([[FoldedSet]]): per round the
 * known side is <= log2(hops)+1 stored blocks (a diameter-sized crawl
 * run reads a bounded-fan-in union, not `hops` separate blocks), and a
 * node's row is REwritten only when two equal-weight blocks merge —
 * O(V * log hops) total write volume. The frontier-only alternative
 * (skip the anti-join, min(dist) at the end) would make per-round reads
 * frontier-sized, but on hub-heavy web graphs it re-expands every
 * rediscovered hub each round and never saturates, so post-diameter
 * rounds cost full edge-join passes and early exit is lost — the
 * anti-join's known-set scan is what makes the frontier SHRINK, which
 * dominates at 100 TB. The OUTPUT keeps one disjoint block per hop,
 * unioned lazily: output write volume stays O(V).
 *
 * Output: (node, dist) for every node within maxHops of a seed; seeds
 * report dist 0 whether or not they have edges. Unreached nodes are
 * absent (policy — a "dist = null" totalization is one outer join away).
 */
object Bfs {

  /**
   * Binary-counter (LSM-style) fold of append-only DataFrame blocks:
   * `add` pushes a weight-1 block and merges equal-weight neighbours
   * (union + eager localCheckpoint) like binary addition carries, so
   * after n adds at most log2(n)+1 blocks exist (`view` unions them
   * lazily) and each row has been rewritten at most log2(n) times.
   */
  final class FoldedSet {
    private var blocks: List[(Long, DataFrame)] = Nil // ascending weight

    def add(block: DataFrame): Unit = {
      var w = 1L
      var blk = block
      while (blocks.nonEmpty && blocks.head._1 == w) {
        blk = blk.union(blocks.head._2).localCheckpoint(false)
        w *= 2
        blocks = blocks.tail
      }
      blocks = (w, blk) :: blocks
    }

    def nBlocks: Int = blocks.size
    def view: DataFrame = blocks.map(_._2).reduce(_ union _)
  }

  /** `edgeRowsHint >= 0` sizes the loop's shuffles from the edge count
    * and skips AQE's per-stage re-planning jobs inside the hop loop
    * ([[graft.LoopConf]]) — pass it when the caller already materialized
    * the edge frame and knows its count; -1 keeps the session conf. */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int,
                   edgeRowsHint: Long = -1L): DataFrame =
    frontierLoop(edges, seeds.select(col("node").cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("dist")), Seq("node"), maxHops, edgeRowsHint)

  /**
   * Per-LANDMARK BFS distances: the [[bfsDistances]] loop with the seed
   * id carried through the frontier, so the output is (seed, node, dist)
   * — every node's exact hop distance to EACH landmark, not the min over
   * the set. This is the primitive of pivot-based centrality estimation
   * (Eppstein & Wang 2004): exact all-pairs closeness is O(V·E) and
   * unpayable, but a bounded landmark sample gives an unbiased estimate
   * whose error shrinks with the sample, and the whole computation stays
   * L bounded BFS runs fused into ONE loop — frontier rows are
   * (seed, node) pairs, so per-round cost is <= landmarks x the
   * single-source frontier, with the same shrinking-frontier early exit,
   * binary-counter known-set fold, and per-hop disjoint output blocks.
   * The edge side is loop-invariant and joins on the node alone, so the
   * [[bfsIndexed]] bucketed-layout serving applies unchanged.
   */
  def landmarkDistances(edges: DataFrame, landmarks: DataFrame,
                        maxHops: Int, edgeRowsHint: Long = -1L): DataFrame =
    frontierLoop(edges, landmarks.select(col("node").cast("long").as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist")),
      Seq("seed", "node"), maxHops, edgeRowsHint)

  /** The hop loop of [[bfsDistances]] and [[landmarkDistances]]. Rows are
    * keyed by `keys` (ending in "node"; a leading "seed" rides through
    * unchanged), `start` holds the hop-0 rows as `keys :+ "dist"`. */
  private def frontierLoop(edges: DataFrame, start: DataFrame, keys: Seq[String],
                           maxHops: Int, edgeRowsHint: Long): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val keyCols = keys.map(col)
    val carried = keys.filter(_ != "node").map(col)
    def loop(): DataFrame = {
      // one stored block per hop for the OUTPUT (disjoint, never
      // rewritten); the anti-join side folds the same key sets with
      // bounded fan-in
      val frontiers = scala.collection.mutable.ArrayBuffer(start.localCheckpoint(true))
      val known = new FoldedSet
      known.add(frontiers.last.select(keyCols: _*))
      var h = 1
      var exhausted = frontiers.last.isEmpty
      while (h <= maxHops && !exhausted) {
        val frontier = frontiers.last
        val next = frontier.join(e, frontier("node") === e("src"))
          .select(carried :+ e("dst").as("node"): _*).distinct()
          .join(known.view, keys, "left_anti")
          .select(keyCols :+ lit(h.toLong).as("dist"): _*)
          // r13: lazy — the isEmpty probe (and the next hop's join)
          // materialize the blocks; the plan cut is identical
          .localCheckpoint(false)
        frontiers += next
        known.add(next.select(keyCols: _*))
        exhausted = next.isEmpty
        h += 1
      }
      // hop blocks are pairwise disjoint by the anti-join: plain union,
      // no min-aggregate needed
      frontiers.reduce(_ union _)
    }
    if (edgeRowsHint >= 0L)
      graft.LoopConf.scoped(edges.sparkSession, edgeRowsHint)(loop())
    else loop()
  }

  /** BFS served from a [[PageRank.buildEdgeLayout]] layout: the
    * loop-invariant edge side reads the src-bucketed store, so each
    * round shuffles only the frontier. */
  def bfsIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
                 seeds: DataFrame, maxHops: Int,
                 edgeRowsHint: Long = -1L): DataFrame =
    bfsDistances(graft.relational.Bucketing.read(spark, s"${name}_edges"),
      seeds, maxHops, edgeRowsHint)

  /**
   * TEMPORAL (time-respecting) reachability — earliest-arrival BFS over
   * timestamped contact edges: an edge (src, dst, ts) propagates only
   * when `ts >= arrival(src)`, so influence flows forward in event time
   * (contact tracing, cascade/contagion analysis, "who could have seen
   * this document after it entered the corpus" provenance queries —
   * structure plain BFS is blind to: a path that exists topologically
   * may be unusable because its edges happened in the wrong order).
   *
   * arrival(n) = min over time-respecting paths of <= maxHops edges of
   * the LAST edge's timestamp; seeds start at arrival 0. Exact integer
   * micros, so engines agree bit-for-bit.
   *
   * Scale shape: the BFS round discipline with a RELAXATION twist —
   * because a later round can IMPROVE an arrival (a longer path whose
   * last edge is earlier), the known set is a min-merge, and the
   * per-round expansion side is the DELTA frontier (rows whose arrival
   * improved last round, found by an anti-join on the (node, arrival)
   * pair): min-merge dominance makes delta expansion complete — any
   * edge usable from a dominated arrival is usable from the minimal
   * one. Per round: one src equi-join against the loop-invariant edge
   * list + one partial-aggregated min + one merge aggregate, lineage
   * cut per round.
   */
  def temporalArrivals(contacts: DataFrame, seeds: DataFrame,
                       maxHops: Int, edgeRowsHint: Long = -1L): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    if (edgeRowsHint >= 0L)
      return graft.LoopConf.scoped(contacts.sparkSession, edgeRowsHint)(
        temporalArrivals(contacts, seeds, maxHops, -1L))
    val e = contacts.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("ts").cast("long").as("ts"))
    var arr = seeds.select(col("node").cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("arr"))
      .localCheckpoint(true)
    var frontier = arr
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      val next = e.join(frontier, e("src") === frontier("node"))
        .filter(col("ts") >= col("arr"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("ts")).as("arr"))
      val merged = arr.unionByName(next)
        .groupBy("node").agg(min("arr").as("arr"))
        .localCheckpoint(false)
      // delta frontier: nodes whose minimal arrival changed this round
      frontier = merged.join(arr, Seq("node", "arr"), "left_anti")
        .localCheckpoint(false)
      arr = merged
      hop += 1
    }
    arr
  }
}
