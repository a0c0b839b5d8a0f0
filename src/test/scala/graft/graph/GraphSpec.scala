package graft.graph

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Integer PageRank: hand-computed star-graph golden + determinism. */
@graft.SlowTest
class GraphSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graph-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def edgesDf(e: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    e.toDF("src", "dst")
  }

  private def nodesDf(n: Seq[Long]) = {
    val s = spark
    import s.implicits._
    n.toDF("node")
  }

  test("bfsDistances: hop goldens, unreachable absent, early exit past the diameter") {
    // directed chain 1->2->3->4 with a side branch 2->10, island 99->98,
    // and an edgeless seed 7
    val e = edgesDf(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 2L -> 10L, 99L -> 98L))
    val got = Bfs.bfsDistances(e, nodesDf(Seq(1L, 7L)), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 7L -> 0L, 2L -> 1L, 3L -> 2L, 10L -> 2L, 4L -> 3L),
      s"golden mismatch: $got")
    // maxHops caps the horizon: dist > cap rows are absent, not clamped
    val capped = Bfs.bfsDistances(e, nodesDf(Seq(1L)), maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped === Map(1L -> 0L, 2L -> 1L))
    // shortest of several paths wins: diamond 1->{2,3}->4 plus long way round
    val d = edgesDf(Seq(1L -> 2L, 1L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L, 1L -> 5L))
    val dd = Bfs.bfsDistances(d, nodesDf(Seq(1L)), maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dd(5L) === 1L && dd(4L) === 2L)
  }

  test("bfsIndexed == direct over the stored edge layout") {
    val e = edgesDf(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 2L -> 10L, 4L -> 1L))
    PageRank.buildEdgeLayout(e, "bfs_layout_t", buckets = 4)
    val direct = Bfs.bfsDistances(e, nodesDf(Seq(1L)), maxHops = 3)
      .collect().map(_.toString).sorted
    val indexed = Bfs.bfsIndexed(spark, "bfs_layout_t", nodesDf(Seq(1L)), maxHops = 3)
      .collect().map(_.toString).sorted
    assert(direct.nonEmpty && indexed === direct)

    // plan guarantee (broadcast off — at corpus scale neither side
    // broadcasts, the case the layout exists for): the round's
    // frontier-src join reads the bucketed edge scan and the ONLY hash
    // exchange is the frontier arriving at the edges' distribution — the
    // loop-invariant edge list never shuffles
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val se = graft.relational.Bucketing.read(spark, "bfs_layout_t_edges")
      val frontier = nodesDf(Seq(1L)).localCheckpoint(true)
      val p = frontier.join(se, frontier("node") === se("src"))
        .queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        s"round join does not read the bucketed layout:\n$p")
      assert("Exchange hashpartitioning".r.findAllMatchIn(p).size === 1,
        s"expected only the frontier-side exchange:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("pageRankFixed: star-graph golden after one integer round") {
    // undirected star 1 - {2, 3}: deg(1)=2, deg(2)=deg(3)=1. With S=10^12:
    //   r1(center) = 0.15S + 85*(S + S) div 100          = 1_850_000_000_000
    //   r1(leaf)   = 0.15S + 85*(S div 2) div 100        =   575_000_000_000
    // and total mass stays 3S exactly (no dangling, integer divs exact here).
    val e = edgesDf(Seq(1L -> 2L, 1L -> 3L, 2L -> 1L, 3L -> 1L))
    val r = PageRank.pageRankFixed(e, iters = 1, scale = 1000000000000L)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) === 1850000000000L)
    assert(r(2L) === 575000000000L)
    assert(r(3L) === 575000000000L)
    assert(r.values.sum === 3000000000000L)
  }

  test("pageRankFixed: ranks are identical across reruns and asymmetry ranks the hub first") {
    // ASYMMETRIC graph (a symmetric one makes every rank equal and any
    // mass-conserving bug passes): undirected star 1 - {2, 3, 4} plus a
    // tail 4 - 5. Node 1 is the hub; node 5 is the most peripheral.
    val e = edgesDf(Seq(
      1L -> 2L, 2L -> 1L, 1L -> 3L, 3L -> 1L,
      1L -> 4L, 4L -> 1L, 4L -> 5L, 5L -> 4L))
    val a = PageRank.pageRankFixed(e, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = PageRank.pageRankFixed(e, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a === b, "integer PageRank must be bit-identical across reruns")
    // strict ordering: hub above every leaf, bridge (4) above the tail (5),
    // and the symmetric leaves 2/3 exactly equal
    assert(a(1L) > a(4L), s"hub must outrank the bridge: $a")
    assert(a(4L) > a(5L), s"bridge must outrank the tail: $a")
    assert(a(1L) > a(2L) && a(2L) === a(3L), s"leaves symmetric, below hub: $a")
  }

  test("autoScale: largest power of 10 with n * scale * 85 within 2^63, never overflowing") {
    val cap = Long.MaxValue / 85L
    val powersOf10 = Iterator.iterate(1L)(_ * 10L)
      .takeWhile(_ <= 1000000000000000000L).toSet
    for (n <- Seq(1L, 3L, 1000L, 1000000L, 100000000L, 1000000000L, cap / 10, cap)) {
      val s = PageRank.autoScale(n)
      assert(powersOf10.contains(s), s"n=$n scale=$s not a power of 10")
      // the bound holds ...
      assert(s <= cap / n, s"n=$n scale=$s overflows the damping multiply")
      // ... and is tight: 10x more would overflow (or exceed the cap)
      assert(s > cap / n / 10L, s"n=$n scale=$s not maximal")
    }
    // fixture-sized graphs keep >= 12 decimal digits; web-scale keeps >= 8
    assert(PageRank.autoScale(3L) == 10000000000000000L)
    assert(PageRank.autoScale(1000000L) == 100000000000L)
    assert(PageRank.autoScale(1000000000L) == 100000000L)
    intercept[IllegalArgumentException](PageRank.autoScale(0L))
  }

  test("pageRankFixed: an empty graph yields an empty result, not an assert failure") {
    // regression (r5 ADVICE): with zero nodes the in-plan auto-scale's
    // `MaxValue div 85 div __n` is NULL (non-ANSI div-by-zero), which made
    // assert_true(NULL) raise a misleading 'node count too large' error;
    // the guard's `__n = 0 OR ...` arm plus the coalesced dummy scale must
    // restore the documented empty-in/empty-out contract.
    val s = spark
    import s.implicits._
    val e = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(PageRank.pageRankFixed(e, iters = 2).count() === 0L)
  }

  test("checkpointEvery cuts plan depth at 10 iterations without changing a single rank") {
    // a small ring: every rank stays exactly S each round (closed-form
    // golden), so any checkpoint-induced divergence is immediately fatal.
    val n = 50L
    val ring = spark.range(n).select(col("id").as("src"),
        ((col("id") + 1L) % n).as("dst"))
    val e = ring.union(ring.select(col("dst").as("src"), col("src").as("dst")))
    val five = PageRank.pageRankFixed(e, iters = 5)
    val ten = PageRank.pageRankFixed(e, iters = 10)
    val scale = PageRank.autoScale(n)
    for (r <- Seq(five, ten)) {
      val stats = r.agg(count(lit(1)), min(col("rank")), max(col("rank"))).head()
      assert(stats.getLong(0) == n && stats.getLong(1) == scale && stats.getLong(2) == scale)
    }
    // every 5th round is cut, never the last: 5 rounds plan fully
    // unrolled, 10 rounds plan only the 5 above one LogicalRDD cut — so the
    // 10-round analyzed plan is about the 5-round one's size, where a fully
    // unrolled one would be about twice it
    def cuts(df: org.apache.spark.sql.DataFrame): Int = df.queryExecution.analyzed
      .collect { case r: org.apache.spark.sql.execution.LogicalRDD => r }.size
    assert(cuts(five) === 0 && cuts(ten) === 1)
    val fiveLen = five.queryExecution.analyzed.treeString.length
    val tenLen = ten.queryExecution.analyzed.treeString.length
    assert(tenLen * 2 < fiveLen * 3,
      s"checkpoint did not cut lineage: $tenLen vs $fiveLen")
  }

  test("pageRankFixed auto-scale golden on a 10^6-node ring") {
    // undirected ring of n = 10^6 nodes: every node has deg 2 and receives
    // 2 * (S div 2) = S back each round (S = autoScale(10^6) = 10^11 is
    // even and divisible by 100), so every rank stays EXACTLY S — a
    // closed-form golden that exercises the auto-sized scale at the node
    // count the r4 fixed default could not survive (10^6 * 10^12 * 85
    // overflows 2^63; the assert_true guard would have failed the job).
    val s = spark
    import s.implicits._
    val n = 1000000L
    val ring = spark.range(n).select(col("id").as("src"),
        ((col("id") + 1L) % n).as("dst"))
    val e = ring.union(ring.select(col("dst").as("src"), col("src").as("dst")))
    val scale = PageRank.autoScale(n)
    assert(scale == 100000000000L)
    val ranks = PageRank.pageRankFixed(e, iters = 1)
    val stats = ranks.agg(count(lit(1)), min(col("rank")), max(col("rank")))
      .head()
    assert(stats.getLong(0) == n)
    assert(stats.getLong(1) == scale && stats.getLong(2) == scale,
      s"ring ranks must all stay at S=$scale, got [${stats.getLong(1)}, ${stats.getLong(2)}]")
  }

  test("trustRankFixed: seed-star golden — teleport only at seeds, mass decays from trust") {
    // seed 1 -> {2, 3}; 4 is disconnected from trust (edge 4 -> 2 only
    // SENDS); with one seed the auto scale is the full 10^16
    val e = edgesDf(Seq(1L -> 2L, 1L -> 3L, 4L -> 2L))
    val s = PageRank.autoScale(1L) // seed-count bound: 10^17
    assert(s == 100000000000000000L)
    val ranks = PageRank.trustRankFixed(e, nodesDf(Seq(1L)), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r0: node1 = S, others 0. contrib: 1 (deg 2) sends S div 2 to 2 and 3;
    // 4 (deg 1) sends 0. r1(1) = 15S div 100; r1(2) = r1(3) = 85*(S div 2)
    // div 100; r1(4) = 0 — no teleport at a non-seed
    assert(ranks(1L) === 15L * s / 100L)
    assert(ranks(2L) === 85L * (s / 2L) / 100L)
    assert(ranks(3L) === ranks(2L))
    assert(ranks(4L) === 0L)
    // two rounds on a chain: mass reaches distance 2 attenuated by 0.85^2
    // exactly — r2(3) = (85 * ((85 * S) div 100)) div 100
    val chain = edgesDf(Seq(1L -> 2L, 2L -> 3L))
    val r2 = PageRank.trustRankFixed(chain, nodesDf(Seq(1L)), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2(3L) === 85L * (85L * s / 100L) / 100L, s"chain golden: $r2")
    assert(r2(1L) === 15L * s / 100L)
    // deterministic across reruns (integer math end to end)
    val again = PageRank.trustRankFixed(e, nodesDf(Seq(1L)), iters = 3).collect()
    val first = PageRank.trustRankFixed(e, nodesDf(Seq(1L)), iters = 3).collect()
    assert(again.map(_.toString).sorted === first.map(_.toString).sorted)
  }

  test("trustRankFixed: a seed set outside the graph yields all-zero ranks, not DIVIDE_BY_ZERO") {
    // seed count 0 on a non-empty graph: no mass ever enters, so every
    // node of the graph is present with rank 0
    val ranks = PageRank.trustRankFixed(edgesDf(Seq(1L -> 2L)), nodesDf(Seq.empty), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks === Map(1L -> 0L, 2L -> 0L))
    val stray = PageRank.trustRankFixed(edgesDf(Seq(1L -> 2L)), nodesDf(Seq(7L)), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stray === Map(1L -> 0L, 2L -> 0L))
  }

  private def canonEdges(e: Seq[(Long, Long)]) = {
    val s = spark
    import s.implicits._
    e.toDF("p1", "p2")
  }

  test("triangleCounts: hand golden — two sharing triangles, tail node absent") {
    // {1,2,3} and {2,3,4} are triangles; 4-5 is a tail; 5 touches none
    val e = canonEdges(Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 2L -> 4L, 3L -> 4L, 4L -> 5L))
    val got = Covisit.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L), s"golden mismatch: $got")
  }

  test("triangleCounts: K4 has four triangles with every node in three; a star has none") {
    val k4 = canonEdges(for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield a -> b)
    val got = Covisit.triangleCounts(k4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // hub with 6 spokes: oriented edges all point INTO the hub, so the
    // wedge join generates nothing — the hub-safety property, observable
    // as an empty result instead of a quadratic wedge set
    val star = canonEdges((2L to 7L).map(sp => 1L -> sp))
    assert(Covisit.triangleCounts(star).isEmpty)
  }

  test("jaccardEdges: integer threshold rule, exact inter/union bookkeeping") {
    val s = spark
    import s.implicits._
    // p1 and p2 share all of {1,2,3} (J=1); p3={1,9} vs p1 J=1/4 < 17/50
    val inc = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (1L, 2L), (2L, 2L), (3L, 2L),
      (1L, 3L), (9L, 3L),
      // duplicate incidence rows must not inflate the counts
      (1L, 1L), (1L, 2L)).toDF("u", "p")
    val got = Covisit.jaccardEdges(inc, 17, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((1L, 2L, 3L, 3L)), s"got ${got.toSeq}")
    // lowering the threshold to 1/4 admits the weak pairs too (p3 vs
    // p1 and the identical p3 vs p2 both sit exactly at 1/4)
    val loose = Covisit.jaccardEdges(inc, 1, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose === Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $loose")
  }

  test("kCore: peel cascades, cycles survive at 2, paths empty, within-core degrees exact") {
    // K4 with a pendant tail 4-5-6: 3-core = K4 exactly (the tail peels
    // in cascade: 6 first, then 5, then nothing — 5 had degree 2)
    val k4tail = canonEdges((for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield a -> b) ++ Seq(4L -> 5L, 5L -> 6L))
    val core3 = Covisit.kCore(k4tail, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $core3")
    // a cycle is its own 2-core; a path has none
    val cycle = canonEdges(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 1L -> 4L))
    assert(Covisit.kCore(cycle, 2).collect().map(_.getLong(1)).forall(_ == 2L))
    assert(Covisit.kCore(cycle, 2).count() === 4)
    val path = canonEdges(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L))
    assert(Covisit.kCore(path, 2).isEmpty)
    // empty input stays empty, k larger than any degree empties everything
    assert(Covisit.kCore(canonEdges(Seq.empty), 1).isEmpty)
    assert(Covisit.kCore(k4tail, 10).isEmpty)
  }

  test("jaccardEdges maxFanout: hub capped in candidate gen, survivors scored exactly") {
    val s = spark
    import s.implicits._
    // pages 1,2 share audience {1,2,3} (J=1); user 99 is a crawler bot
    // touching EVERY page — with the cap at 2 its candidate fanout
    // shrinks, but pair (1,2) survives via users 1-3 and its score must
    // come out EXACT (inter includes the bot row: full-incidence recount)
    val inc = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (1L, 2L), (2L, 2L), (3L, 2L),
      (9L, 3L), (8L, 3L)) ++ (1L to 3L).map(p => (99L, p))
    val exact = Covisit.jaccardEdges(inc.toDF("u", "p"), 17, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val capped = Covisit.jaccardEdges(inc.toDF("u", "p"), 17, 50, maxFanout = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the exact form finds (1,2) with inter 4 (users 1,2,3,99), uni 4
    assert(exact.contains((1L, 2L, 4L, 4L)), s"exact: $exact")
    // capped candidates are a subset; every surviving pair's score is
    // the EXACT full-incidence value, bot row included
    assert(capped.subsetOf(exact), s"capped $capped must be a subset of exact $exact")
    assert(capped.contains((1L, 2L, 4L, 4L)),
      s"pair (1,2) reachable via 3 uncapped users must survive with the exact score: $capped")
  }

  test("triangleCounts over jaccardEdges: the x22 -> x23 composition on a planted cluster") {
    val s = spark
    import s.implicits._
    // pages 1,2,3 share audience {1..5} exactly (a mirror cluster);
    // page 4's audience {6,7} overlaps nothing
    val inc = (for (u <- 1L to 5L; p <- Seq(1L, 2L, 3L)) yield (u, p)) ++
      Seq((6L, 4L), (7L, 4L))
    val edges = Covisit.jaccardEdges(inc.toDF("u", "p"), 17, 50)
    val tri = Covisit.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tri === Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $tri")
  }

  test("kTruss: K4 survives at k=4; bowtie dies at k=4 though it is a 2-core; paths empty") {
    val s = spark
    import s.implicits._
    def df(e: Seq[(Long, Long)]) = e.toDF("p1", "p2")
    // K4 on {1..4}: every edge in 2 triangles -> survives k=4 with support 2
    val k4 = (for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)).toSeq
    val got = Covisit.kTruss(df(k4), k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet === k4.toSet && got.values.forall(_ == 2L), s"got $got")
    // bowtie: triangles {1,2,3} and {3,4,5} share vertex 3 — every node
    // is in a 2-core, but each edge sits in only ONE triangle, so the
    // k=4 truss (support >= 2) is EMPTY: the discriminator k-core misses
    val bowtie = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 4L, 3L -> 5L, 4L -> 5L)
    assert(Covisit.kTruss(df(bowtie), k = 4).count() === 0L)
    // ...while at k=3 (support >= 1) the bowtie survives whole
    val t3 = Covisit.kTruss(df(bowtie), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(t3.keySet === bowtie.toSet && t3.values.forall(_ == 1L))
    // a path has no triangles: empty at any k
    assert(Covisit.kTruss(df(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L)), k = 3).count() === 0L)
    // cascade: a triangle with a pendant edge — the pendant drops in
    // round 1, the triangle stays (its support never depended on it)
    val pend = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 9L)
    val pt = Covisit.kTruss(df(pend), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pt === Set(1L -> 2L, 1L -> 3L, 2L -> 3L))
  }

  test("landmarkDistances: per-seed goldens — NOT the min-over-set bfsDistances gives") {
    // chain 1->2->3->4; seeds 1 and 3. Multi-source BFS would report
    // node 4 at dist 1 (from 3); the landmark form must keep BOTH rows:
    // (1,4,3) and (3,4,1).
    val e = edgesDf(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L))
    val got = Bfs.landmarkDistances(e, nodesDf(Seq(1L, 3L)), maxHops = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      (1L, 1L) -> 0L, (1L, 2L) -> 1L, (1L, 3L) -> 2L, (1L, 4L) -> 3L,
      (3L, 3L) -> 0L, (3L, 4L) -> 1L), s"golden mismatch: $got")
    // horizon caps per seed; each seed's reachable set is independent
    val capped = Bfs.landmarkDistances(e, nodesDf(Seq(1L, 3L)), maxHops = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(capped === Map((1L, 1L) -> 0L, (1L, 2L) -> 1L,
      (3L, 3L) -> 0L, (3L, 4L) -> 1L))
  }

  test("x34 walk rule: md5(seed:step:cur) mod degree over sorted adjacency — independent recompute") {
    val s = spark
    import s.implicits._
    // bipartite-style fixture through the registered query's own edge
    // derivation: users 100, 200 (seeds: % 100 == 0), pages via props.k
    val rows = Seq(
      (1L, 100L, "{\"k\": 1}"), (2L, 100L, "{\"k\": 2}"), (3L, 100L, "{\"k\": 3}"),
      (4L, 200L, "{\"k\": 1}"), (5L, 150L, "{\"k\": 2}"))
      .map { case (e, u, p) => (e, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), u, "view", 1.0, p) }
    val dir = java.nio.file.Files.createTempDirectory("graft_x34").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = graft.queries.ExtendedQueries("x34_random_walks")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    // independent recompute of the whole walk from first principles
    val e0 = Set((100L, 1000001L), (100L, 1000002L), (100L, 1000003L),
      (200L, 1000001L), (150L, 1000002L))
    val adjMap = (e0 ++ e0.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSeq.sorted }
    def md5hex(x: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def pick(seed: Long, step: Int, cur: Long): Long = {
      val ns = adjMap(cur)
      val idx = java.lang.Long.parseLong(md5hex(s"$seed:$step:$cur").take(8), 16) % ns.size
      ns(idx.toInt)
    }
    val expected = Seq(100L, 200L).flatMap { seed =>
      var cur = seed
      ((seed, 0L) -> seed) +: (1 to 3).map { k =>
        cur = pick(seed, k, cur); (seed, k.toLong) -> cur
      }
    }.toMap
    assert(got === expected, s"got $got expected $expected")
    // determinism across reruns (no RNG state anywhere)
    val again = graft.queries.ExtendedQueries("x34_random_walks")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again === got)
  }

  test("temporalArrivals: forward-in-time paths only; relaxation improves arrivals; hop bound") {
    val s = spark
    import s.implicits._
    // contact edges (src, dst, ts):
    //   seed 1 -e(t=10)-> 2 -e(t=20)-> 3      usable (10 <= 20): 3 reached at 20
    //   seed 1 -e(t=30)-> 4 -e(t=25)-> 5      BLOCKED: 25 < arrival(4)=30
    //   seed 1 -e(t=40)-> 6, and 2 -e(t=15)-> 6: 6's min arrival is 15, not 40
    //   3 -e(t=50)-> 7 -e(t=60)-> 8 -e(t=70)-> 9: 9 needs 5 hops -> absent at maxHops=4
    val contacts = Seq(
      (1L, 2L, 10L), (2L, 3L, 20L),
      (1L, 4L, 30L), (4L, 5L, 25L),
      (1L, 6L, 40L), (2L, 6L, 15L),
      (3L, 7L, 50L), (7L, 8L, 60L), (8L, 9L, 70L))
      .toDF("src", "dst", "ts")
    val got = Bfs.temporalArrivals(contacts, nodesDf(Seq(1L)), maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 10L, 3L -> 20L, 4L -> 30L,
      6L -> 15L, 7L -> 50L, 8L -> 60L), s"got $got")
    assert(!got.contains(5L), "wrong-time-order path must not propagate")
    assert(!got.contains(9L), "beyond the hop bound")
    // one more hop reaches 9; arrivals already found never change
    val got5 = Bfs.temporalArrivals(contacts, nodesDf(Seq(1L)), maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got5 === got + (9L -> 70L), s"got5 $got5")
  }

  test("scc: cycles, singleton DAG chain, and the multi-round peel case") {
    // two 3-cycles bridged one-way, a DAG chain with ASCENDING ids off
    // the first cycle (the case that forces multiple peel rounds: the
    // chain shares the root's color, so its singletons surface only as
    // outer rounds peel), and a 2-cycle island
    val e = edgesDf(Seq(
      1L -> 2L, 2L -> 3L, 3L -> 1L, // SCC {1,2,3}
      3L -> 10L, 10L -> 11L, 11L -> 12L, 12L -> 10L, // SCC {10,11,12}
      3L -> 20L, 20L -> 21L, // singleton chain, ascending ids
      50L -> 51L, 51L -> 50L)) // SCC {50,51}
    val got = Scc.stronglyConnected(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      10L -> ((10L, 3L)), 11L -> ((10L, 3L)), 12L -> ((10L, 3L)),
      20L -> ((20L, 1L)), 21L -> ((21L, 1L)),
      50L -> ((50L, 2L)), 51L -> ((50L, 2L))), s"got $got")
  }

  test("scc: descending singleton chain peels in one round as its own roots") {
    val e = edgesDf(Seq(9L -> 8L, 8L -> 7L, 7L -> 6L))
    val got = Scc.stronglyConnected(e).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(9L -> ((9L, 1L)), 8L -> ((8L, 1L)),
      7L -> ((7L, 1L)), 6L -> ((6L, 1L))))
  }

  test("scc: an empty edge frame yields an empty (node, scc_id, scc_size) frame") {
    val s = spark
    import s.implicits._
    val got = Scc.stronglyConnected(Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(got.columns.toSeq === Seq("node", "scc_id", "scc_size"))
    assert(got.collect().isEmpty)
  }

  test("labelPropagation: two bridged cliques settle into two min-id communities") {
    // K4 on {1..4} + K4 on {10..13}, doubled edges, one bridge 4-10: the
    // majority vote inside each clique must beat the single bridge vote,
    // and min-label tie-breaking pulls each clique to its smallest id
    def clique(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a != b) yield (a, b)
    val e = edgesDf(clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(10L, 11L, 12L, 13L))
      ++ Seq(4L -> 10L, 10L -> 4L))
    val got = LabelProp.labelPropagation(e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L))
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L), s"clique A labels: $got")
    assert(Seq(10L, 11L, 12L, 13L).forall(got(_) == 10L), s"clique B labels: $got")
    // determinism: a rerun agrees exactly
    val again = LabelProp.labelPropagation(e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again === got)
  }

  test("landmark harmonic centrality: integer 12/d fold matches the hand sum") {
    // undirected path 1-2-3-4-5 (doubled edges), landmarks {1, 5}.
    // Node 3 sees both at d=2: harm12 = 6+6 = 12. Node 2: d(1)=1, d(5)=3
    // -> 12+4 = 16. Landmark 1 sees landmark 5 at d=4 -> 3.
    val e = edgesDf(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
      .flatMap { case (a, b) => Seq(a -> b, b -> a) })
    val harm = Bfs.landmarkDistances(e, nodesDf(Seq(1L, 5L)), maxHops = 4)
      .filter(col("dist") >= 1)
      .groupBy(col("node"))
      .agg(sum(expr("12 div dist")).as("harm12"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(harm === Map(1L -> 3L, 2L -> 16L, 3L -> 12L, 4L -> 16L, 5L -> 3L),
      s"got $harm")
  }

  test("modularity census: two bridged triangles golden; one-community Q is 0") {
    // triangles {0,1,2} and {10,11,12} (doubled edges) + bridge 2-10:
    // m2 = 14; community = id div 10. Each community: intra2 = 6,
    // deg_sum = 7 -> q = 6/14 - (7/14)^2 = 3/14 - ... = 0.178571
    val tri = Seq(0L -> 1L, 1L -> 2L, 2L -> 0L, 10L -> 11L, 11L -> 12L,
      12L -> 10L, 2L -> 10L)
    val und = edgesDf(tri.flatMap { case (a, b) => Seq(a -> b, b -> a) })
    val got = Modularity.census(und, c => floor(c / lit(10)).cast("long"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(got === Map(
      0L -> ((3L, 6L, 7L, 14L, 0.178571)),
      1L -> ((3L, 6L, 7L, 14L, 0.178571))), s"got $got")
    // whole graph as one community: Q = m2/m2 - 1^2 = 0 by definition
    val one = Modularity.census(und, _ => lit(0L)).collect()
    assert(one.length === 1 && one(0).getDouble(5) === 0.0, s"got ${one.toSeq}")
  }

  test("x43 bow-tie: structural SCC+BFS classification equals the planted truth") {
    val s = spark
    import s.implicits._
    // two 50-id groups: per group blocks 1-3 weld into the 30-node SCC,
    // block 4 is pure-IN, block 0 pure-OUT; giant = group 0 by min id,
    // so group 1 lands entirely in 'other'
    val dir = java.nio.file.Files.createTempDirectory("graft_x43").toString
    (0L until 100L).toDF("doc_id").write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.ExtendedQueries("x43_bowtie")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got === Map(
      "core" -> ((30L, 10L, 39L)),
      "in" -> ((10L, 40L, 49L)),
      "out" -> ((10L, 0L, 9L)),
      "other" -> ((50L, 50L, 99L))), s"got $got")
  }
}
