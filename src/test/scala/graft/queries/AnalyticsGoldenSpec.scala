package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed goldens for the histogram-statistics and session
  * analytics queries on planted event fixtures — the unit-level
  * complement of their DuckDB oracle rows. */
class AnalyticsGoldenSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("analytics-golden-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def writeEvents(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ag").toString
    rows.toDF("event_id", "tsu", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("tsu") * 60000000L)) // minutes -> micros
      .withColumn("props", lit("""{"k": 1}"""))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("t48: SFT assembly — every gate branch on hand conversations") {
    def h32(p: String, id: Long): Long = {
      val md = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$p:$id").substring(0, 8)
      java.lang.Long.parseLong(md, 16)
    }
    def roleOf(id: Long): String = {
      val r = h32("role", id) % 10
      if (r < 4) "user" else if (r < 9) "assistant" else "system"
    }
    // mine event_ids whose md5-planted role matches the script — the
    // spec drives the SAME plant the query uses, no fixture backdoor
    val used = scala.collection.mutable.Set[Long]()
    def pick(role: String): Long = {
      var i = 0L
      while (used(i) || roleOf(i) != role) i += 1
      used += i; i
    }
    val convs: Seq[(Long, Seq[String])] = Seq(
      1L -> Seq("user", "assistant", "user", "assistant"), // kept
      2L -> Seq("system", "user", "assistant"),            // leading system ok
      3L -> Seq("assistant", "user"),                      // assistant-first
      4L -> Seq("user", "user", "assistant"),              // doubled user
      5L -> Seq("user", "system", "assistant"),            // system mid-dialog
      6L -> Seq("user"),                                   // too short
      7L -> Seq("user", "assistant", "user", "assistant",
        "user", "assistant"),                              // over char budget
      8L -> Seq("system"))                                 // all-system (left join)
    val rows = convs.flatMap { case (u, roles) =>
      roles.zipWithIndex.map { case (role, k) =>
        (pick(role), u * 1440L + k, u, "view", 1.0) }
    }
    val dir = writeEvents(rows)
    val got = TextQueries("t48_sft_assembly")(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6), r.getLong(7),
        r.getBoolean(8)))).toMap
    convs.foreach { case (u, roles) =>
      val nonsys = roles.filter(_ != "system")
      val viol = nonsys.zipWithIndex.count { case (ro, i) =>
        (i % 2 == 0 && ro != "user") || (i % 2 == 1 && ro != "assistant") }
      val sysLate = roles.zipWithIndex.count { case (ro, i) =>
        ro == "system" && i > 0 }
      val rend = roles.map(ro => s"<|$ro|>view").mkString
      val kept = viol == 0 && sysLate == 0 && nonsys.size >= 2 &&
        rend.length <= 60
      val want = ((roles.size.toLong, nonsys.size.toLong, sysLate.toLong,
        viol.toLong, rend, rend.length.toLong, kept))
      assert(got((u, u.toLong)) === want, s"conv $u: got ${got((u, u))}")
    }
    // liveness: exactly the two contract-clean short conversations survive
    assert(got.values.count(_._7) === 2)
    assert(got.size === 8)
  }

  test("a25: median, MAD, and the 3-MAD census match the hand computation") {
    // cents: 100 x3, 200 x4, 300 x2, 10000 x1 -> n=10, med=200 (rank 5),
    // devs: 100 x5(3+2), 0 x4, 9800 x1 -> MAD=100 (rank 5); outliers:
    // dev > 300 -> exactly the 10000-cent row
    val vals = Seq.fill(3)(1.00) ++ Seq.fill(4)(2.00) ++ Seq.fill(2)(3.00) ++ Seq(100.00)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (i.toLong, i.toLong, 1L, "t", v)
    }
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a25_mad_outliers")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got === Map("t" -> ((10L, 200L, 100L, 1L))), s"got $got")
  }

  test("a33: closed-form hour chi-square and tie-broken peak match hand computation") {
    // type t: hour 0 x3 + hour 1 x1 -> n=4, ss=10, chi2 = 24*10/4 - 4 = 56
    // type u: hour 2 x2 + hour 5 x2 (tie) -> chi2 = 24*8/4 - 4 = 44, peak = hour 2
    val rows = Seq(
      (1L, 0L, 1L, "t", 1.0), (2L, 10L, 1L, "t", 1.0), (3L, 20L, 1L, "t", 1.0),
      (4L, 70L, 1L, "t", 1.0),
      (5L, 125L, 1L, "u", 1.0), (6L, 130L, 1L, "u", 1.0),
      (7L, 310L, 1L, "u", 1.0), (8L, 320L, 1L, "u", 1.0))
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a33_hour_chi2")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      "t" -> ((4L, 56.0, 0L, 3L)),
      "u" -> ((4L, 44.0, 2L, 2L))), s"got $got")
  }

  test("a26: three sessions reach view / view+click / the full funnel as planted") {
    // user 1, 30-min gap sessions (minutes):
    //  session A t=0..2:    view, click, purchase      -> all three stages
    //  session B t=100..102: click, view, click        -> view then click, no purchase
    //  session C t=200..201: purchase, view            -> view only (purchase precedes)
    val rows = Seq(
      (1L, 0L, 1L, "view", 1.0), (2L, 1L, 1L, "click", 1.0),
      (3L, 2L, 1L, "purchase", 1.0),
      (4L, 100L, 1L, "click", 1.0), (5L, 101L, 1L, "view", 1.0),
      (6L, 102L, 1L, "click", 1.0),
      (7L, 200L, 1L, "purchase", 1.0), (8L, 201L, 1L, "view", 1.0))
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a26_session_funnel")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got === Map(1L -> ((3L, 3L, 2L, 1L))), s"got $got")
  }

  test("a27: cohorts index by ISO week of first activity") {
    // user 1 first active week 0, active again week 2; user 2 first
    // active week 2 only (weeks = 7-day blocks from a Monday epoch
    // anchor: minute offsets chosen inside distinct ISO weeks)
    val wk = 7L * 24 * 60 // minutes per week
    val rows = Seq(
      (1L, 0L, 1L, "view", 1.0),           // 1970-01-01 (week of Mon 1969-12-29)
      (2L, 2 * wk, 1L, "view", 1.0),       // two weeks later
      (3L, 2 * wk + 10, 2L, "view", 1.0))  // user 2's first week
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a27_cohort_retention")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // user 1: cohort 1969-12-29, week_idx 0 and 2; user 2: cohort
    // 1970-01-12, week_idx 0
    assert(got === Map(
      ("1969-12-29", 0L) -> 1L, ("1969-12-29", 2L) -> 1L,
      ("1970-01-12", 0L) -> 1L), s"got $got")
  }

  test("a28: inactivity gaps — strict 6h threshold, single-event users drop, exact seconds") {
    val rows = Seq(
      (1L, 0L, 1L, "view", 1.0),
      (2L, 30L, 1L, "view", 1.0),    // 30 min gap
      (3L, 450L, 1L, "view", 1.0),   // 420 min = 7h gap -> counted
      (4L, 510L, 1L, "view", 1.0),   // 60 min gap
      (5L, 0L, 2L, "view", 1.0),     // single event: no interval, no row
      (6L, 0L, 3L, "view", 1.0),
      (7L, 360L, 3L, "view", 1.0))   // exactly 6h: NOT > threshold
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a28_inactivity_gaps")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got === Map(
      1L -> ((3L, 1L, 25200L, 25200L)),
      3L -> ((1L, 0L, 21600L, 0L))), s"got $got")
  }

  test("x33: join profile — exact cardinality forecast, skew key election, unmatched keys counted") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_x33").toString
    // lineitem: key 1 x3, key 2 x2, key 9 x4 (unmatched on orders)
    Seq(1L, 1L, 1L, 2L, 2L, 9L, 9L, 9L, 9L).toDF("l_orderkey")
      .write.parquet(s"$dir/lineitem.parquet")
    // orders: key 1 x2, key 2 x1, key 7 x5 (unmatched on lineitem)
    Seq(1L, 1L, 2L, 7L, 7L, 7L, 7L, 7L).toDF("o_orderkey")
      .write.parquet(s"$dir/orders.parquet")
    val r = ExtendedQueries("x33_join_profile")(spark, dir).collect().head
    // keys {1,2,7,9}; matched {1,2}; rows 9/8; join = 3*2 + 2*1 = 8;
    // max fanout 6 at key 1; amp = 1e6*8 div 17
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5), r.getLong(6), r.getLong(7)) ===
      ((4L, 2L, 9L, 8L, 8L, 6L, 1L, 1000000L * 8 / 17)), s"got $r")
  }

  test("a31: exact KS drift — ties, identical dists, and full separation") {
    // snapshot A = even user_id, B = odd.
    // type "m" (ties at value 2): A=[1,2,2,5] (n_a=4), B=[2,3] (n_b=2)
    //   through v=1: |1*2-0*4|=2; v=2: |3*2-1*4|=2; v=3: |3*2-2*4|=2;
    //   v=5: |4*2-2*4|=0 -> d_num=2, ks=2/8=0.25
    // type "same": A=[1,2], B=[1,2] -> d_num=0
    // type "split": A=[1,2], B=[10,11] -> d_num=|2*2-0*2|=4, ks=1.0
    val rows = Seq(
      (0L, 0L, 0L, "m", 1.0), (1L, 0L, 2L, "m", 2.0), (2L, 0L, 4L, "m", 2.0),
      (3L, 0L, 6L, "m", 5.0), (4L, 0L, 1L, "m", 2.0), (5L, 0L, 3L, "m", 3.0),
      (6L, 0L, 0L, "same", 1.0), (7L, 0L, 2L, "same", 2.0),
      (8L, 0L, 1L, "same", 1.0), (9L, 0L, 3L, "same", 2.0),
      (10L, 0L, 0L, "split", 1.0), (11L, 0L, 2L, "split", 2.0),
      (12L, 0L, 1L, "split", 10.0), (13L, 0L, 3L, "split", 11.0))
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a31_ks_drift")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got === Map(
      "m" -> ((4L, 2L, 2L, 0.25)),
      "same" -> ((2L, 2L, 0L, 0.0)),
      "split" -> ((2L, 2L, 4L, 1.0))), s"got $got")
  }

  test("a30: k-anonymity generalization — release levels, pooling, row conservation") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_a30").toString
    val rows = Seq.fill(12)((1L, "A")) ++          // level 0: class of 12
      Seq.fill(6)((2L, "A")) ++ Seq.fill(5)((2L, "B")) ++ // pool to nation 2: 11
      Seq.fill(4)((3L, "A"))                        // still < 10: fully suppressed
    rows.toDF("c_nationkey", "c_mktsegment").write.parquet(s"$dir/customer.parquet")
    val got = AnalyticsQueries("a30_kanonymity")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    assert(got === Map(
      (0L, "1", "A") -> 12L,
      (1L, "2", "*") -> 11L,
      (2L, "*", "*") -> 4L), s"got $got")
    assert(got.values.sum === rows.size.toLong, "released rows must conserve input")
  }

  test("a35: l-diversity — ok / l_fail (homogeneous) / k_fail verdicts, refined-QI split") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_a35").toString
    val rows =
      // nation 0 seg A: 12 rows over 3 bands -> ok, top 4/12
      (1L to 4L).map((_, 0L, "A", 100.0)) ++
        (5L to 8L).map((_, 0L, "A", 2100.0)) ++
        (9L to 12L).map((_, 0L, "A", 4100.0)) ++
        // nation 2 (planted 'fixed'): 10 rows, spread bands but sens
        // collapses -> l_fail, attacker posterior 100%
        (13L to 22L).map(i => (i, 2L, "A", (i * 700).toDouble)) ++
        // nation 1 seg B: 5 rows one band -> k_fail
        (23L to 27L).map((_, 1L, "B", 50.0)) ++
        // nation 4: QI refines by custkey % 40 -> (4, "A-1") n=3 k_fail
        Seq((41L, 4L, "A", 100.0), (81L, 4L, "A", 100.0), (121L, 4L, "A", 100.0))
    rows.toDF("c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    val got = AnalyticsQueries("a35_ldiversity")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5), r.getString(6)))).toMap
    assert(got === Map(
      (0L, "A") -> ((12L, 3L, 333333L, "ok")),
      (2L, "A") -> ((10L, 1L, 1000000L, "l_fail")),
      (1L, "B") -> ((5L, 1L, 1000000L, "k_fail")),
      (4L, "A-1") -> ((3L, 1L, 1000000L, "k_fail"))), s"got $got")
  }

  test("a36: benford — integer ppm shares, all three verdicts, cents digit extraction") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_a36").toString
    val prices = Seq(100.00) ++ Seq.fill(2)(200.00) ++ Seq(300.00, 500.00) ++
      Seq.fill(5)(900.00)
    prices.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("o_orderkey", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val got = AnalyticsQueries("a36_benford")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4),
        r.getString(5)))).toMap
    assert(got === Map(
      1L -> ((1L, 100000L, -201030L, "under")),
      2L -> ((2L, 200000L, 23909L, "near")),
      3L -> ((1L, 100000L, -24939L, "near")),
      5L -> ((1L, 100000L, 20819L, "near")),
      9L -> ((5L, 500000L, 454243L, "over"))), s"got $got")
  }

  test("x35: FD profile — key FD holds, violating custkey FDs counted exactly") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_x35").toString
    // custkey 10 has two priorities (violates) but one status (holds);
    // custkey 20 uniform; custkey 30 singleton
    Seq(
      (1L, 10L, "P1", "O"), (2L, 10L, "P2", "O"),
      (3L, 20L, "P1", "F"), (4L, 20L, "P1", "F"),
      (5L, 30L, "P3", "O"))
      .toDF("o_orderkey", "o_custkey", "o_orderpriority", "o_orderstatus")
      .write.parquet(s"$dir/orders.parquet")
    val got = ExtendedQueries("x35_fd_profile")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got === Map(
      "o_orderkey->o_custkey" -> ((5L, 0L, true)),
      "o_custkey->o_orderpriority" -> ((3L, 1L, false)),
      "o_custkey->o_orderstatus" -> ((3L, 0L, true))), s"got $got")
  }

  test("a29: gap-fill spine zero-fills interior hours per type, bounds from the data") {
    val rows = Seq(
      (1L, 0L, 1L, "a", 1.0),    // hour 0
      (2L, 10L, 1L, "a", 1.0),   // hour 0 again
      (3L, 190L, 2L, "a", 1.0),  // hour 3: hours 1, 2 must zero-fill
      (4L, 70L, 3L, "b", 1.0))   // hour 1 only: single-cell spine
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a29_gapfill_spine")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map(
      ("a", 0L) -> 2L, ("a", 1L) -> 0L, ("a", 2L) -> 0L, ("a", 3L) -> 1L,
      ("b", 1L) -> 1L), s"got $got")
  }

  test("a34: ACF — alternating series gives the hand-computed lag signs, zero-filled gaps") {
    // two events in each of hours 0, 2, 4 -> spine [2,0,2,0,2] (hours 1 and
    // 3 zero-filled), S=6, n=5, cx = 5x-6 = [4,-6,4,-6,4], den = 120.
    // lag1 num = -96 -> r=-0.8; lag2 num = 68 -> r=0.566667; lags 5..12
    // have no pairs and emit nothing.
    val rows = Seq(
      (1L, 0L, 1L, "t", 1.0), (2L, 1L, 1L, "t", 1.0),
      (3L, 120L, 1L, "t", 1.0), (4L, 121L, 1L, "t", 1.0),
      (5L, 240L, 1L, "t", 1.0), (6L, 241L, 1L, "t", 1.0))
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a34_acf_hourly")(spark, dir).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.size === 4, s"lags 1..4 only, got $got")
    assert(got(1L) === ((-96L, 120L, -0.8)), s"got $got")
    assert(got(2L) === ((68L, 120L, 0.566667)), s"got $got")
  }

  test("st22: watermark audit equals a flat scala recompute (third implementation)") {
    // 60 events, event time scrambled vs id so the planted arrival jitter
    // interleaves; the scala recompute is a THIRD statement of the
    // semantics (flat sort + running max), independent of both the
    // bucketed two-phase plan and the DuckDB window mirror.
    val rows = (0 until 60).map { i =>
      (i.toLong, ((i * 37) % 720).toLong, 1L, if (i % 2 == 0) "a" else "b", 1.0)
    }
    val dir = writeEvents(rows)
    val got = StreamQueries("st22_watermark_audit")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(3), r.getLong(5)))).toMap
    // flat recompute
    def d10(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"arr:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 8), 16) % 10
    }
    val evs = rows.map { case (id, tmin, _, tp, _) =>
      val t = tmin * 60000000L
      val delay = d10(id) match {
        case 0 => 1800000000L; case 1 => 7200000000L
        case 2 => 21600000000L; case _ => 0L
      }
      (id, tp, t, t + delay)
    }.sortBy(e => (e._4, e._1))
    var runMax = Long.MinValue
    val late = evs.map { case (_, tp, t, _) =>
      val l = math.max(0L, (if (runMax == Long.MinValue) t else math.max(runMax, t)) - t)
      runMax = math.max(runMax, t)
      (tp, l)
    }
    for (tp <- Seq("a", "b"); ds <- Seq(900L, 3600L, 14400L)) {
      val ls = late.filter(_._1 == tp).map(_._2)
      val exp = (ls.count(_ > ds * 1000000L).toLong, ls.max)
      assert(got((tp, ds)) === exp, s"($tp, $ds): got ${got((tp, ds))}, want $exp")
    }
    assert(late.exists(_._2 > 14400L * 1000000L),
      "fixture must exercise the deepest delay tier")
  }

  test("u02: median imputation equals a flat scala recompute; both row classes live") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_u02").toString
    val rows = (1L to 60L).map(i => (i, (i % 3).toInt, (i * 37 % 500).toDouble / 1))
    rows.toDF("c_custkey", "c_nationkey", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    def maskedOf(id: Long): Boolean = {
      val md = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"imp:$id").substring(0, 8)
      java.lang.Long.parseLong(md, 16) % 10 < 2
    }
    val cents = rows.map { case (id, nat, bal) =>
      (id, nat.toLong, math.round(bal * 100), maskedOf(id))
    }
    val expected = cents.filter(_._4).map { case (id, nat, orig, _) =>
      val obs = cents.filter(r => r._2 == nat && !r._4)
        .sortBy(r => (r._3, r._1)).map(_._3)
      val med = obs((obs.size + 1) / 2 - 1)
      id -> ((nat, obs.size.toLong, med, orig, math.abs(orig - med)))
    }.toMap
    assert(expected.nonEmpty, "fixture must mask at least one row")
    assert(expected.size < 60, "fixture must keep observed rows")
    val got = CoreQueries("u02_impute_median")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got === expected, s"got $got, want $expected")
  }

  test("u03: forward-fill equals a flat scala LOCF; filled and leading-null classes live") {
    def maskedOf(id: Long): Boolean = {
      val md = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"ffill:$id").substring(0, 8)
      java.lang.Long.parseLong(md, 16) % 4 == 0
    }
    // pick a masked id to open user 2's stream (leading-null class) and
    // an unmasked one to open user 1's (so user 1's later masked rows fill)
    val maskedId = (0L to 63L).find(maskedOf).get
    val openId = (0L to 63L).find(!maskedOf(_)).get
    val user1 = (0L to 63L).filter(i => i != maskedId && i != openId).take(10)
    val rows = (openId +: user1).zipWithIndex.map { case (id, t) =>
      (id, t.toLong, 1L, "t", (id * 3 % 7).toDouble)
    } :+ ((maskedId, 99L, 2L, "t", 5.0))
    val dir = writeEvents(rows)
    val expected = rows.groupBy(_._3).flatMap { case (_, rs) =>
      var lastObs: Option[Long] = None
      rs.sortBy(r => (r._2, r._1)).map { r =>
        val cents = math.round(r._5 * 100)
        val m = maskedOf(r._1)
        if (!m) lastObs = Some(cents)
        r._1 -> ((r._3, m, lastObs, m && lastObs.nonEmpty))
      }
    }
    assert(expected.exists(e => e._2._2 && e._2._3.nonEmpty), "filled class must be live")
    assert(expected.exists(e => e._2._2 && e._2._3.isEmpty), "leading-null class must be live")
    val got = CoreQueries("u03_ffill")(spark, dir).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    }.toMap
    assert(got === expected, s"got $got, want $expected")
  }

  test("u04: winsorize clips exactly one row per tail on the 40-row hand fixture") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_u04").toString
    // cents 100..4000: n=40 -> k_lo = 2 -> bounds [200, 3900]; the min
    // and max rows clip, the winsorized sum swaps 100->200, 4000->3900
    (1L to 40L).map(i => (i, 7, i.toDouble))
      .toDF("c_custkey", "c_nationkey", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    val got = CoreQueries("u04_winsorize")(spark, dir).collect()
    assert(got.length === 1, s"got ${got.toSeq}")
    val r = got(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ===
      ((7L, 40L, 200L, 3900L, 1L, 1L, 82000L)), s"got $r")
  }

  test("a41: Mann-Whitney — clean separation gives AUC 1.0; a cross-cohort tie averages") {
    // type "s": A (even users) = {10.0, 20.0}, B = {1.0, 2.0} -> every A
    // beats every B: u2 = 2*n_a*n_b, auc_ppm = 1000000.
    // type "t": A = {1.0, 2.0}, B = {1.0} -> tied pair contributes 1/2:
    // U_A = 1.5 of 2 -> u2_a = 3, auc_ppm = 750000.
    val rows = Seq(
      (1L, 0L, 2L, "s", 10.0), (2L, 1L, 4L, "s", 20.0),
      (3L, 2L, 1L, "s", 1.0), (4L, 3L, 3L, "s", 2.0),
      (5L, 4L, 2L, "t", 1.0), (6L, 5L, 4L, "t", 2.0),
      (7L, 6L, 1L, "t", 1.0))
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a41_mann_whitney")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      "s" -> ((2L, 2L, 8L, 1000000L)),
      "t" -> ((2L, 1L, 3L, 750000L))), s"got $got")
  }

  test("a43: gains table — a perfect ranking's top decile captures all positives") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_a43").toString
    // find 2 planted-positive keys among 0..99, give everyone equal
    // cents: the +2000 shift makes the ranking PERFECT -> both
    // positives land in decile 1, lift there = tot_n/tot_pos
    def lbl(id: Long): Boolean = {
      val md = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"chrn:$id").substring(0, 8)
      java.lang.Long.parseLong(md, 16) % 5 == 0
    }
    val keys = (0L to 99L).filter(lbl).take(2) ++ (0L to 99L).filterNot(lbl).take(18)
    keys.map(k => (k, 0, 10.00)).toDF("c_custkey", "c_nationkey", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    val got = AnalyticsQueries("a43_gains_table")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // 20 rows -> 10 deciles of 2; decile 1 = the two positives
    assert(got(1L) === ((2L, 2L, 1000000L, 2L, 10000000L)), s"got $got")
    assert((2L to 10L).forall(d => got(d) === ((2L, 0L, 0L, 2L,
      (1000000L * 2 * 20) / (2 * d * 2)))), s"got $got")
  }

  test("a45: seasonal backtest — lag-24 pairing, exact MAE/WAPE, unpaired hours excluded") {
    // type t: hour 0 -> 3 events, hour 24 -> 5 (err 2), hour 25 -> 4
    // (no hour-1 counterpart: excluded), hour 48 -> 5 (err 0 vs hour 24)
    val mk = (id: Long, hr: Long, n: Int) =>
      (0 until n).map(i => (id * 100 + i, hr * 60 + i.toLong, 1L, "t", 1.0))
    val rows = mk(1, 0, 3) ++ mk(2, 24, 5) ++ mk(3, 25, 4) ++ mk(4, 48, 5)
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a45_seasonal_backtest")(spark, dir).collect()
    assert(got.length === 1, s"got ${got.toSeq}")
    val r = got(0)
    // scored hours: 24 (5 vs 3 -> err 2) and 48 (5 vs 5 -> err 0):
    // n=2, actual=10, abs_err=2, mae = 2e6/2 = 1e6, wape = 2e6/10 = 2e5
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) ===
      (("t", 2L, 10L, 2L, 1000000L, 200000L)), s"got $r")
  }

  test("a46: Cohen's kappa — flat recompute of raters, marginals, po/pe/kappa") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_a46").toString
    def h32(p: String, id: Long): Long = {
      val md = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$p:$id").substring(0, 8)
      java.lang.Long.parseLong(md, 16)
    }
    val keys = (0L until 90L)
    keys.map(k => (k, 0, 1.00)).toDF("c_custkey", "c_nationkey", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    // third implementation: flat scala over the same md5 plants
    val rated = keys.map { k =>
      val a = h32("ra", k) % 3
      val b = if (h32("rb", k) % 5 < 3) a else (a + 1 + h32("rc", k) % 2) % 3
      (a, b)
    }
    val n = rated.size.toLong
    val nAgree = rated.count { case (a, b) => a == b }.toLong
    val nA = rated.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nB = rated.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nBoth = rated.filter(r => r._1 == r._2)
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val po = 1000000L * nAgree / n
    val marg = (0L to 2L).map(c =>
      BigInt(nA.getOrElse(c, 0L)) * BigInt(nB.getOrElse(c, 0L))).sum
    val pe = (BigInt(1000000) * marg / (BigInt(n) * n)).toLong
    val kappa = 1000000L * (po - pe) / (1000000L - pe)
    assert(po > pe && kappa > 0, s"fixture must keep kappa positive: po=$po pe=$pe")
    // classes with disagreement must exist (pe < po < 1e6)
    assert(po < 1000000L, "fixture must contain disagreements")
    val got = AnalyticsQueries("a46_cohens_kappa")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))))
      .toMap
    val want = (0L to 2L).map(c => c -> ((nA.getOrElse(c, 0L),
      nB.getOrElse(c, 0L), nBoth.getOrElse(c, 0L),
      n, nAgree, po, pe, kappa))).toMap
    assert(got === want, s"got $got\nwant $want")
  }

  test("a48: Krippendorff alpha — flat recompute with missing ratings, m_u in {2,3}") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_a48").toString
    def h32(p: String, id: Long): Long = {
      val md = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$p:$id").substring(0, 8)
      java.lang.Long.parseLong(md, 16)
    }
    val keys = (0L until 90L)
    keys.map(k => (k, 0, 1.00)).toDF("c_custkey", "c_nationkey", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    // third implementation: flat scala over the same md5 plants
    val ratings = keys.flatMap { k =>
      val base = h32("kb", k) % 3
      (0 until 3).flatMap { r =>
        if (h32(s"kc$r", k) % 3 == 0) None
        else Some(k -> (if (h32(s"kv$r", k) % 4 < 3) base
        else (base + 1 + h32(s"ks$r", k) % 2) % 3))
      }
    }
    val byItem = ratings.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      .filter(_._2.size >= 2)
    assert(byItem.values.map(_.size).toSet === Set(2, 3),
      "fixture must exercise both m_u = 2 and m_u = 3")
    val o2 = byItem.values.map { vs =>
      val m = vs.size.toLong
      val agree = vs.groupBy(identity).values
        .map(g => g.size.toLong * (g.size - 1)).sum
      2L * (m * (m - 1) - agree) / (m - 1)
    }.sum
    val nC = byItem.values.flatten.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val n = nC.values.sum
    val sq = nC.values.map(c => BigInt(c) * c).sum
    val alpha = (BigInt(1000000) -
      BigInt(1000000) * o2 * (n - 1) / (2 * (BigInt(n) * n - sq))).toLong
    assert(o2 > 0 && alpha > 0 && alpha < 1000000L,
      s"agreement must be above chance but imperfect: o2=$o2 alpha=$alpha")
    val got = AnalyticsQueries("a48_krippendorff")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    val want = (0L to 2L).map(c => c -> ((nC.getOrElse(c, 0L),
      byItem.size.toLong, o2, n, alpha))).toMap
    assert(got === want, s"got $got\nwant $want")
  }

  test("a47: B-cubed — flat recompute of cells, marginals, P/R/F1, purity") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_a47").toString
    def h32(p: String, id: Long): Long = {
      val md = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$p:$id").substring(0, 8)
      java.lang.Long.parseLong(md, 16)
    }
    val keys = (0L until 90L)
    keys.map(k => (k, 0, 1.00)).toDF("c_custkey", "c_nationkey", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    // third implementation: flat scala over the same md5 plants
    val items = keys.map { k =>
      val gold = h32("bg", k) % 7
      val pred = if (h32("bc", k) % 10 < 7) gold else h32("bn", k) % 5 + 7
      (pred, gold)
    }
    val n = items.size.toLong
    val cells = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val np = items.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ng = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    // per-cell ppm truncation, then one division by n — the query's rule
    val ps = cells.map { case ((p, _), c) =>
      BigInt(1000000) * c * c / np(p) }.sum
    val rs = cells.map { case ((_, g), c) =>
      BigInt(1000000) * c * c / ng(g) }.sum
    val prec = (ps / n).toLong
    val rec = (rs / n).toLong
    val f1 = 2L * prec * rec / (prec + rec)
    // fixture liveness: noise clusters exist and both metrics are < 1
    assert(items.exists(_._1 >= 7), "fixture must plant noise clusters")
    assert(prec < 1000000L && rec < 1000000L,
      s"fixture must keep both error modes live: P=$prec R=$rec")
    assert(rec < prec, "splitting gold mass must hurt recall most here")
    val got = AnalyticsQueries("a47_bcubed")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))))
      .toMap
    val want = (0L to 6L).map { g =>
      val mine = cells.collect { case ((p, gg), c) if gg == g => (p, c) }
      val nBest = mine.values.max
      val bestPred = mine.toSeq.map { case (p, c) => (-c, p) }.min._2
      g -> ((ng(g), bestPred, nBest, 1000000L * nBest / ng(g),
        n, prec, rec, f1))
    }.toMap
    assert(got === want, s"got $got\nwant $want")
  }

  test("a44: calibration — hand bins, exact gaps, n-weighted ECE") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_a44").toString
    // recompute the whole census flat from the same md5 plants over a
    // fixed key range, then compare Spark's result exactly
    def h32(p: String, id: Long): Long = {
      val md = org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$p:$id").substring(0, 8)
      java.lang.Long.parseLong(md, 16)
    }
    val keys = (0L until 60L)
    keys.map(k => (k, 0, 1.00)).toDF("c_custkey", "c_nationkey", "c_acctbal")
      .write.parquet(s"$dir/customer.parquet")
    val rows = keys.map { k =>
      val label = h32("chrn", k) % 5 == 0
      val pred = h32("pred", k) % 500000 + (if (label) 400000L else 50000L)
      (pred / 100000, label, pred)
    }
    val flat = rows.groupBy(_._1).map { case (bin, rs) =>
      val n = rs.size.toLong
      val pos = rs.count(_._2).toLong
      val mp = rs.map(_._3).sum / n
      val obs = 1000000L * pos / n
      bin -> ((n, pos, mp, obs, math.abs(obs - mp)))
    }
    val ece = flat.values.map(v => v._1 * v._5).sum / flat.values.map(_._1).sum
    val got = AnalyticsQueries("a44_calibration")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got === flat.map { case (b, v) =>
      b -> ((v._1, v._2, v._3, v._4, v._5, ece)) }, s"got $got, want $flat ece $ece")
    assert(flat.size >= 3 && flat.values.exists(_._5 > 0),
      "fixture must produce multiple bins and a live gap")
  }

  test("u05: survivorship — freshness/completeness conflict, majority and 1-1 tie") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_u05").toString
    // keys chosen per class: 1 = single version; 3 = v0+v1 (newer null
    // balance must NOT clobber); 5 = v0+v2 (1-1 seg tie -> real seg
    // sorts before 'STALE'); 15 = all three (majority seg)
    Seq((1L, "Anna Longname", 0, 10.00, "MACH"),
      (3L, "Bob", 0, 20.00, "AUTO"),
      (5L, "Christopher", 0, 30.00, "FURN"),
      (15L, "Dee", 0, 40.00, "HOUS"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    val got = CoreQueries("u05_golden_record")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getString(5)))).toMap
    assert(got === Map(
      1L -> ((1L, 1001L, "Anna Longname", 1000L, "MACH")),
      // v1 at ts 2003 has NULL cents -> v0's 2000 survives; '-ext' is longest
      3L -> ((2L, 2003L, "Bob-ext", 2000L, "AUTO")),
      // v2 truncates to 'Chris', drifts cents at OLDER ts -> v0 wins both;
      // seg tie 1-1 -> 'FURN' < 'STALE'
      5L -> ((2L, 1005L, "Christopher", 3000L, "FURN")),
      // all three: majority seg 2x HOUS beats STALE; freshest non-null = v0
      15L -> ((3L, 2000L, "Dee-ext", 4000L, "HOUS"))), s"got $got")
  }

  test("a42: Markov transitions — hand matrix, (start) rows estimate the initial state") {
    // user 1: a -> b -> a -> b ; user 2: a -> a
    val rows = Seq((0L, 0L, 1L, "a", 1.0), (1L, 1L, 1L, "b", 1.0),
      (2L, 2L, 1L, "a", 1.0), (3L, 3L, 1L, "b", 1.0),
      (4L, 0L, 2L, "a", 1.0), (5L, 1L, 2L, "a", 1.0))
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a42_markov_transitions")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      ("(start)", "a") -> ((2L, 2L, 1000000L)),
      ("a", "b") -> ((2L, 3L, 666666L)),
      ("a", "a") -> ((1L, 3L, 333333L)),
      ("b", "a") -> ((1L, 1L, 1000000L))), s"got $got")
  }

  test("a40: Theil-Sen shrugs off the outlier hour OLS would chase") {
    // one day, hourly counts 1/2/3/10: slopes 1,1,3,1,4,7 -> sorted
    // 1,1,1,3,4,7, n=6, lower-median rank 3 -> slope 1.0 (OLS ~ 2.7)
    val counts = Seq(0L -> 1, 1L -> 2, 2L -> 3, 3L -> 10)
    val rows = counts.flatMap { case (h, c) =>
      (0 until c).map(i => (h * 100 + i, h * 60 + i % 30, 1L, "t", 1.0))
    }.map { case (id, t, u, ty, v) => (id.toLong, t.toLong, u, ty, v) }
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a40_theil_sen")(spark, dir).collect()
    assert(got.length === 1, s"got ${got.toSeq}")
    val r = got(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ===
      ((0L, 4L, 6L, 1.0)), s"got ${r}")
  }

  test("a39: spearman — rho +1/-1 on monotone fixtures, all-tied column yields null") {
    // type a: activity 1..4, per-event value 10 -> sums 10..40 monotone
    // (rho_sum = 1) but avg constant 10 (zero variance -> rho_avg null).
    // type b: sums reversed -> rho_sum = -1; avgs also decrease -> -1.
    var id = 0L
    def evs(tp: String, user: Long, n: Int, v: Double) = (1 to n).map { _ =>
      id += 1; (id, id % 300, user, tp, v)
    }
    val rows =
      evs("a", 1L, 1, 10.0) ++ evs("a", 2L, 2, 10.0) ++
        evs("a", 3L, 3, 10.0) ++ evs("a", 4L, 4, 10.0) ++
        evs("b", 1L, 1, 40.0) ++ evs("b", 2L, 2, 15.0) ++
        evs("b", 3L, 3, 20.0 / 3) ++ evs("b", 4L, 4, 2.5)
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a39_spearman")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(got("a")._1 === 4L)
    assert(got("a")._2 === Some(1.0), s"got $got")
    assert(got("a")._3 === None, "all-tied avg must yield null rho")
    assert(got("b")._2 === Some(-1.0), s"got $got")
    assert(got("b")._3 === Some(-1.0), s"got $got")
  }

  test("a38: gini — hand-computed 312500 ppm, top shares, sub-5 pool") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_a38").toString
    // per-source doc counts [1,1,2,4], every doc one word -> both measures
    // share the numbers: G = (2*25 - 5*8)/(4*8) = 312500 ppm,
    // top1 = 500000, top5 pools everything (n < 5) = 1000000
    val docs = Seq(("A", "w"), ("B", "w"), ("C", "w"), ("C", "w"),
      ("D", "w"), ("D", "w"), ("D", "w"), ("D", "w"))
    docs.zipWithIndex.map { case ((src, t), i) => (i.toLong, t, src) }
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$dir/documents.parquet")
    val got = AnalyticsQueries("a38_gini_sources")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got === Map(
      "docs" -> ((4L, 8L, 312500L, 500000L, 1000000L)),
      "tokens" -> ((4L, 8L, 312500L, 500000L, 1000000L))), s"got $got")
  }

  test("a37: cusum — hand-computed argmax split, exact ppm, zero-filled interior") {
    // series [2,2,2,0,0,2]: S=8, n=6, C_t = |6P - 8t| peaks at t=3 (C=12);
    // reldiff = 1e6 * 6 * |6*3 - 2*3| / (8*3*3) = exactly 1000000 -> shift
    val rows = Seq(
      (1L, 0L, 1L, "a", 1.0), (2L, 10L, 1L, "a", 1.0),     // hour 0 x2
      (3L, 60L, 1L, "a", 1.0), (4L, 70L, 1L, "a", 1.0),    // hour 1 x2
      (5L, 120L, 1L, "a", 1.0), (6L, 130L, 1L, "a", 1.0),  // hour 2 x2
      (7L, 300L, 1L, "a", 1.0), (8L, 310L, 1L, "a", 1.0))  // hour 5 x2
    val dir = writeEvents(rows)
    val got = AnalyticsQueries("a37_cusum")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7)))).toMap
    assert(got === Map(
      "a" -> ((6L, 8L, 3L, 3L, 12L, 1000000L, "shift"))), s"got $got")
  }

  test("x41: apportionment — clipped edges, full interior hours, mass conservation") {
    // id 0 at minute 30: 3h interval [1800s, 12600s] -> 30min + 60 + 60 + 30
    // id 8 at minute 0: 3h interval [0, 10800s] -> 60 + 60 + 60
    val rows = Seq((0L, 30L, 1L, "t", 1.0), (8L, 0L, 2L, "t", 1.0))
    val dir = writeEvents(rows)
    val M = 60000000L
    val got = ExtendedQueries("x41_interval_apportion")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      0L -> ((90L * M, 2L)), 1L -> ((120L * M, 2L)),
      2L -> ((120L * M, 2L)), 3L -> ((30L * M, 1L))), s"got $got")
    assert(got.values.map(_._1).sum === 360L * M, "interval mass must conserve")
  }

  test("x40: double sweep — exact diameter on a path, unreached component excluded") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_x40").toString
    // bipartite path 1 -p1- 2 -p2- 3 (diameter 4, exact for trees) plus a
    // disconnected (9, p9) island the sweep must not count
    val visits = Seq((1L, 1L), (2L, 1L), (2L, 2L), (3L, 2L), (9L, 9L))
    visits.zipWithIndex.map { case ((u, p), i) =>
      (i.toLong, u, "t", 1.0, s"""{"k": $p}""")
    }.toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("event_id") * 60000000L))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = ExtendedQueries("x40_diameter_sweep")(spark, dir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
    assert(got === Seq((1L, 4L, 3L, 4L, 1L, 5L)), s"got $got")
  }

  test("x39: adamic-adar — niche page outweighs hub, tie elects smallest peer, deg-1 silent") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_x39").toString
    // niche page 100: users 1,2 (w = 1/ln2 = 1.442695); hub page 200:
    // users 1..6 (w = 1/ln6 = 0.558111); page 300: user 7 only (deg 1,
    // no pairs, user 7 absent)
    val visits = Seq((1L, 100L), (2L, 100L)) ++
      (1L to 6L).map((_, 200L)) ++ Seq((7L, 300L))
    visits.zipWithIndex.map { case ((u, p), i) =>
      (i.toLong, u, "t", 1.0, s"""{"k": $p}""")
    }.toDF("event_id", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("event_id") * 60000000L))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val got = ExtendedQueries("x39_adamic_adar")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((2L, 2L, 2.000806)), s"got $got")   // niche + hub
    assert(got(2L) === ((1L, 2L, 2.000806)), s"got $got")
    assert(got(3L) === ((1L, 1L, 0.558111)), s"got $got")   // tie -> peer 1
    assert(!got.contains(7L), "degree-1 page must produce no prediction")
    assert(got.size === 6)
  }

  test("x38: interval islands — overlap chains, full containment, singleton island") {
    // durations are (event_id % 8 + 1) * 180 minutes; times in minutes.
    // user 1 island 1: [0,180)+[60,420)+[200,740)+[300,1740) chain where the
    // id=7 interval swallows everything after it (running-max-end, not lag);
    // island 2: [2000,2180)+[2100,2820) with id=16's [2200,2380) FULLY
    // CONTAINED (extends nothing, still merges). user 2: singleton.
    val rows = Seq(
      (0L, 0L, 1L, "t", 1.0),     // dur 180 -> [0, 180]
      (1L, 60L, 1L, "t", 1.0),    // dur 360 -> [60, 420]
      (2L, 200L, 1L, "t", 1.0),   // dur 540 -> [200, 740]
      (7L, 300L, 1L, "t", 1.0),   // dur 1440 -> [300, 1740]
      (8L, 2000L, 1L, "t", 1.0),  // dur 180 -> [2000, 2180]: new island
      (3L, 2100L, 1L, "t", 1.0),  // dur 720 -> [2100, 2820]
      (16L, 2200L, 1L, "t", 1.0), // dur 180 -> [2200, 2380]: contained
      (24L, 100L, 2L, "t", 1.0))  // user 2 singleton [100, 280]
    val dir = writeEvents(rows)
    val M = 60000000L // minutes -> micros
    val got = ExtendedQueries("x38_interval_islands")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(5)))).toMap
    assert(got === Map(
      (1L, 1L) -> ((0L, 1740L * M, 4L)),
      (1L, 2L) -> ((2000L * M, 2820L * M, 3L)),
      (2L, 1L) -> ((100L * M, 280L * M, 1L))), s"got $got")
  }
}
