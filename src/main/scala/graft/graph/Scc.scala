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

  /** Convergence is detected on the materialized frame with one scalar
    * aggregate per round — sum(color) strictly decreases / reach count
    * strictly increases until fixpoint — instead of a per-row change
    * flag, so the probe action is a metadata-cheap scan of the
    * checkpointed blocks. (Fusing several hops between lineage cuts lost
    * its A/B: OPTIMIZATION_r13.md.) */
  def stronglyConnected(edges: DataFrame, maxOuterRounds: Int = 25,
                        maxFixpointRounds: Int = 200): DataFrame = {
    val e0 = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst")).distinct()
    var rem = e0.localCheckpoint(true)
    var nodes = rem.select(col("src").as("node"))
      .union(rem.select(col("dst").as("node")))
      .distinct().localCheckpoint(true)
    var done: DataFrame = null
    var outer = 0
    var remaining = nodes.count()
    val edgeRows = rem.count()
    // Every round below is loop-internal materialization over state that
    // only SHRINKS from here: size the loop's shuffle once (LoopConf).
    graft.LoopConf.scoped(edges.sparkSession, edgeRows) {
    while (remaining > 0 && outer < maxOuterRounds) {
      // 1. forward-min coloring to fixpoint: one hop per round, each
      //    hop ONE exchange — state and edge-propagated candidates union
      //    into a single min-aggregate on node (instead of join-back +
      //    merge, which cost two more exchanges per hop).
      //    sum(color) over the node frame is strictly monotone decreasing
      //    under the min-fold (colors only ever decrease), so round-over-
      //    round equality of the exact DECIMAL(38,0) sum IS the fixpoint.
      var colors = nodes.withColumn("color", col("node"))
        .groupBy("node").agg(min("color").as("color")) // establish hash(node)
        .localCheckpoint(true)
      def colorSum(df: DataFrame): java.math.BigDecimal = {
        val v = df.agg(sum(col("color").cast("decimal(38,0)"))).head().get(0)
        if (v == null) java.math.BigDecimal.ZERO
        else v.asInstanceOf[java.math.BigDecimal]
      }
      var prevSum = colorSum(colors)
      var converged = remaining == 0
      var it = 0
      while (!converged && it < maxFixpointRounds) {
        // r13: LAZY checkpoint — the colorSum probe right below is a
        // full-scan aggregate, so it materializes the checkpoint blocks
        // and computes the convergence scalar in ONE job (the eager form
        // paid a separate materialization job per hop)
        colors = colors.unionByName(
            rem.join(colors.select(col("node").as("src"), col("color")), "src")
              .select(col("dst").as("node"), col("color")))
          .groupBy("node").agg(min("color").as("color"))
          .localCheckpoint(false)
        it += 1
        val s = colorSum(colors)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        if (sys.env.contains("GRAFT_LOOP_DEBUG"))
          System.err.println(s"[scc] outer=$outer colorIt=$it converged=$converged")
      }
      require(converged || {
        // cap hit: one more hop decides exactness
        val probe = rem
          .join(colors.select(col("node").as("src"), col("color").as("c")), "src")
          .groupBy(col("dst").as("node")).agg(min(col("c")).as("pc"))
        colors.join(probe, Seq("node"), "left")
          .filter(coalesce(col("pc"), col("color")) < col("color")).isEmpty
      }, s"SCC coloring did not converge in $maxFixpointRounds rounds")

      // 2. backward reach from every root, within its color region: the
      //    reach flag is monotone increasing, so the reached-row count is
      //    the convergence scalar. Per hop the hits aggregate to one
      //    per-node color-set row (groupBy on the 8-byte node id — the
      //    hop's single exchange) and merge back through a join both of
      //    whose sides already carry hash(node).
      var reached = colors
        .withColumn("r", col("node") === col("color")).localCheckpoint(false)
      var prevReached = reached.filter(col("r")).count()
      converged = false
      it = 0
      while (!converged && it < maxFixpointRounds) {
        val hit = rem
          .join(reached.select(col("node").as("dst"), col("color").as("dc"),
            col("r").as("dr")), "dst")
          .filter(col("dr"))
          .groupBy(col("src").as("node"))
          .agg(collect_set(col("dc")).as("__hc"))
        it += 1
        reached = reached.join(hit, Seq("node"), "left")
          .select(col("node"), col("color"),
            (col("r") || coalesce(array_contains(col("__hc"), col("color")),
              lit(false))).as("r"))
          .localCheckpoint(false) // materialized by the count probe
        val n = reached.filter(col("r")).count()
        converged = n == prevReached
        prevReached = n
      }
      require(converged || {
        val probe = rem
          .join(reached.select(col("node").as("dst"), col("color").as("dc"),
            col("r").as("dr")), "dst")
          .filter(col("dr"))
          .select(col("src").as("node"), col("dc").as("color"))
          .distinct()
        reached.filter(!col("r"))
          .join(probe, Seq("node", "color"), "left_semi").isEmpty
      }, s"SCC backward reach did not converge in $maxFixpointRounds rounds")

      if (sys.env.contains("GRAFT_LOOP_DEBUG"))
        System.err.println(s"[scc] outer=$outer colorHops+reachHops done, " +
          s"remaining=$remaining prevReached=$prevReached")
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
      s"SCC peeling exceeded $maxOuterRounds outer rounds")
    val sizes = done.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    done.join(sizes, "scc_id").select("node", "scc_id", "scc_size")
  }
}
