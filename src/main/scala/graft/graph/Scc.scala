package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Strongly connected components of a DIRECTED graph — the web-graph
 * bowtie decomposition (Broder et al. 2000): on a crawl's link graph the
 * giant SCC is the navigable core, IN/OUT tendrils are link farms and
 * dead archives, and per-SCC structure feeds the same quality priors
 * TrustRank consumes. Undirected components (the d07 closure) cannot see
 * this — mutual reachability is a strictly finer equivalence.
 *
 * Algorithm: iterative forward-min coloring + per-root backward reach
 * (the distributed FW-BW-min family, Stergiou-style). Per outer round:
 *
 *  1. COLOR: propagate `color(v) = min(color(u) over ancestors u, v)`
 *     along forward edges to fixpoint. A node with `color(v) = v` is a
 *     ROOT. Exactness: for any root r, SCC(r) is entirely inside r's
 *     color region — an SCC member v with v < r would itself be an
 *     ancestor of r and force color(r) <= v < r; and every ancestor of
 *     an SCC member is an ancestor of r, so no smaller color can leak
 *     in. Any v -> * -> r path from inside the region also stays inside
 *     (each intermediate w has r ->* w ->* r, so w is IN SCC(r)).
 *  2. PEEL: within each color region, backward-reach its root (reached
 *     seeds = the roots; a node joins when an out-neighbor of the SAME
 *     color is reached). The reached set of region r is EXACTLY SCC(r)
 *     by the argument above. ALL roots peel simultaneously — one round
 *     removes one SCC per color region, so rounds = the longest chain
 *     of SCCs hidden behind a smaller-labeled ancestor (O(log n)
 *     expected on random labelings).
 *
 * Scale shape per iteration: one edge equi-join + partial-aggregated
 * min (coloring), one edge equi-join + (node, color) semi-join
 * (reach) — both O(E) with map-side combine; the node frames are O(V)
 * and every round's lineage is cut at a localCheckpoint (the
 * components-loop discipline). Convergence tests are node-frame counts
 * (driver-side scalars, the d07 contract). Emits (node, scc_id =
 * minimum member id, scc_size).
 */
object Scc {

  /** Outer peel rounds: one SCC per color region per round, O(log n)
    * expected on random labelings. */
  private val MaxOuterRounds = 25
  /** Hops per coloring or reach fixpoint ([[graft.LoopConf.fixpoint]]). */
  private val MaxFixpointRounds = 200

  /** Convergence is detected on the materialized frame with one scalar
    * aggregate per round — sum(color) strictly decreases / reach count
    * strictly increases until fixpoint — instead of a per-row change
    * flag, so the probe action is a metadata-cheap scan of the
    * checkpointed blocks. (Fusing several hops between lineage cuts lost
    * its A/B: OPTIMIZATION_r13.md.) An empty edge frame yields an empty
    * result. */
  def stronglyConnected(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    var rem = e0.localCheckpoint(true)
    var nodes = rem.select(col("src").as("node"))
      .union(rem.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    var remaining = nodes.count()
    if (remaining == 0)
      return nodes.select(col("node"), col("node").as("scc_id"), lit(0L).as("scc_size"))
    var done: DataFrame = null
    var outer = 0
    val edgeRows = rem.count()
    // Every round below is loop-internal materialization over state that
    // only SHRINKS from here: size the loop's shuffle once (LoopConf).
    graft.LoopConf.scoped(edges.sparkSession, edgeRows) {
    while (remaining > 0 && outer < MaxOuterRounds) {
      // 1. forward-min coloring to fixpoint: one hop per round, each
      //    hop ONE exchange — state and edge-propagated candidates union
      //    into a single min-aggregate on node (instead of join-back +
      //    merge, which cost two more exchanges per hop).
      //    sum(color) over the node frame is strictly monotone decreasing
      //    under the min-fold (colors only ever decrease), so round-over-
      //    round equality of the exact DECIMAL(38,0) sum IS the fixpoint.
      val colors0 = nodes.withColumn("color", col("node"))
        .groupBy("node").agg(min("color").as("color")) // establish hash(node)
        .localCheckpoint(true)
      def colorSum(df: DataFrame): java.math.BigDecimal = {
        val v = df.agg(sum(col("color").cast("decimal(38,0)"))).head().get(0)
        if (v == null) java.math.BigDecimal.ZERO
        else v.asInstanceOf[java.math.BigDecimal]
      }
      val colors = graft.LoopConf.fixpoint("SCC coloring", colors0,
          MaxFixpointRounds)(colorSum) { c =>
        c.unionByName(
            rem.join(c.select(col("node").as("src"), col("color")), "src")
              .select(col("dst").as("node"), col("color")))
          .groupBy("node").agg(min("color").as("color"))
      }

      // 2. backward reach from every root, within its color region: the
      //    reach flag is monotone increasing, so the reached-row count is
      //    the convergence scalar. Per hop the hits aggregate to one
      //    per-node color-set row (groupBy on the 8-byte node id — the
      //    hop's single exchange) and merge back through a join both of
      //    whose sides already carry hash(node).
      val reached0 = colors
        .withColumn("r", col("node") === col("color")).localCheckpoint(false)
      val reached = graft.LoopConf.fixpoint("SCC backward reach", reached0,
          MaxFixpointRounds)(_.filter(col("r")).count()) { cur =>
        val hit = rem
          .join(cur.select(col("node").as("dst"), col("color").as("dc"),
            col("r").as("dr")), "dst")
          .filter(col("dr"))
          .groupBy(col("src").as("node"))
          .agg(collect_set(col("dc")).as("__hc"))
        cur.join(hit, Seq("node"), "left")
          .select(col("node"), col("color"),
            (col("r") || coalesce(array_contains(col("__hc"), col("color")),
              lit(false))).as("r"))
      }

      // r13: lazy round-tail checkpoints — nodes is materialized by the
      // remaining-count probe, members/done/rem by their first consumer;
      // the plan cut (LogicalRDD leaf) happens either way
      val members = reached.filter(col("r"))
        .select(col("node"), col("color").as("scc_id")).localCheckpoint(false)
      done = (if (done == null) members else done.union(members))
        .localCheckpoint(false)
      nodes = nodes.join(members.select("node"), Seq("node"), "left_anti")
        .localCheckpoint(false)
      rem = rem
        .join(members.select(col("node").as("src")), Seq("src"), "left_anti")
        .join(members.select(col("node").as("dst")), Seq("dst"), "left_anti")
        .select("src", "dst").localCheckpoint(false)
      remaining = nodes.count()
      outer += 1
    }
    }
    require(remaining == 0,
      s"SCC peeling exceeded $MaxOuterRounds outer rounds")
    val sizes = done.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    done.join(sizes, "scc_id").select("node", "scc_id", "scc_size")
  }
}
