package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Scale proof for the curate chain's shuffle shape (VERDICT r10 #5): the
 * J1-J7 enrichment joins are DESIGNED to reuse one nummer_id partitioning
 * of the wide frame (curate/Adressen.scala header). This spec asserts that
 * design as an executable plan property instead of a review comment, with
 * broadcasts disabled so the fixture-scale plan has the same join
 * algorithms a 9M-row run gets.
 *
 * The wide-frame shuffles permitted are exactly:
 *   1. verblijfsobjecten by pand join key + panden by id   (J1 vbo⋈pand)
 *   2. that result by nummer_id + nummers by id            (J1 n⋈(v+p))
 *   -- the arg_max dedup and every following enrichment join then reuse
 *      the nummer_id partitioning; only the SMALL update sides
 *      (lastPand, plaatsen winners, woonplaats overrides, neven pairs)
 *      shuffle.
 * Everything else (dims o/w in production) broadcasts; here they add
 * their own exchanges because broadcasts are off, and they are counted.
 */
class CuratePlanSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("curate-plan-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // force the large-scale join algorithm (SMJ) everywhere so the plan
    // shape matches what a 9M-row run plans, not a toy broadcast plan
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .getOrCreate()

  /** All plan nodes, crossing AQE stage, reused-exchange and cached-plan
    * boundaries (the adressen4 persist introduces an InMemoryRelation). */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def walk(n: SparkPlan): Unit = {
      seen += n
      val extra: Seq[SparkPlan] = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
        case _ => Nil
      }
      (n.children ++ extra).foreach(walk)
    }
    walk(p)
    seen.distinct.toSeq
  }

  test("curate chain: one nummer_id shuffle of the wide frame, reused by J3-J7") {
    val df = queries.CoreQueries("j00_adressen_build")(spark, "/root/testdata/sf0.001")
    df.collect()
    val nodes = allNodes(df.queryExecution.executedPlan)
    val shuffles = nodes.collect { case e: ShuffleExchangeLike => e }
    val byKey = shuffles.groupBy(_.outputPartitioning.toString.replaceAll("#\\d+", "")
      .replaceAll(", \\d+\\)", ")"))
    val counts = byKey.view.mapValues(_.size).toMap
    val info = counts.toSeq.sortBy(_._1).map { case (k, v) => s"$v x $k" }.mkString("\n")

    // HASH-partitioned nummer_id shuffles — derivation (one each):
    //   1. verblijfsobjecten side of the J1 nummers join (v.nummer_id)
    //   2. the wide j1 frame into the arg_max PK dedup — the ONLY
    //      wide-frame nummer_id shuffle; J3-J7 all reuse its partitioning
    //   3. lastPand's multi-pand groupBy          (small update side)
    //   4. the fused lig/stand winners' groupBy   (small update side)
    //   5. numWpl J7 override join side           (small update side)
    //   6. hoofdVals J6 backfill join side        (small update side)
    // The j00 wrapper's final ORDER BY adds a rangepartitioning on
    // nummer_id, excluded here. A second wide-frame hash shuffle (the r10
    // `.as("__k")` rename bug) would push this to 7 and fail.
    val numIdShuffles = shuffles.count(e =>
      e.outputPartitioning.toString.startsWith("hashpartitioning") &&
        e.outputPartitioning.toString.contains("nummer_id"))
    assert(numIdShuffles <= 6, s"nummer_id hash shuffles regressed:\n$info")

    // the wide frame must never re-shuffle AFTER its arg_max dedup: no
    // exchange in the plan may carry the full 24-column adressen payload
    // (detect by output width — the wide frame's exchanges move >= 20
    // columns; update sides and dims move < 12).
    val wide = shuffles.filter(_.child.output.size >= 20)
    // exactly 2: n⋈(v+p)'s two inputs are narrow; the wide exchanges are
    // the dedup input (26 cols) and the final orderBy range partition.
    assert(wide.size <= 2, "wide-frame exchanges regressed: " +
      wide.map(e => s"${e.child.output.size} cols ${e.outputPartitioning}")
        .mkString("; ") + s"\nall:\n$info")

    // the J6 self-join must read adressen4 from the persist, not recompute
    // the chain twice: the cached relation appears, and only once.
    val caches = nodes.collect { case c: InMemoryTableScanExec => c }
    assert(caches.nonEmpty, "adressen4/deleteOrphans persist missing from plan")

    graft.curate.Adressen.releaseCaches(spark)
  }
}
