package graft.queries

import graft.llm.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Queries.{tbl, events}

/** Aggregation and analytics queries (a): group stats, windows, sketches,
  * distribution tests, forecasting and agreement metrics. */
object AnalyticsQueries extends QueryFamily {

  /** A1: group stats with several aggregate kinds at once. */
  query("a01_group_stats", oracle = Some(
      """SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value_r,
        |       round(avg(value), 4) AS avg_value_r, min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 2).as("sum_value_r"),
        round(avg(col("value")), 4).as("avg_value_r"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")
  }

  /** A2: the scalar-count validation shape — one pass, many counts. */
  query("a02_scalar_counts", oracle = Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |       CAST(count(CASE WHEN l_quantity < 5 THEN 1 END) AS BIGINT) AS n_low_qty,
        |       CAST(count(CASE WHEN l_discount = 0.0 THEN 1 END) AS BIGINT) AS n_no_discount
        |FROM lineitem""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "lineitem")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(when(col("l_quantity") < 5, 1)).as("n_low_qty"),
        count(when(col("l_discount") === 0.0, 1)).as("n_no_discount"))
  }

  /** A3/A4: DISTINCT projection. */
  query("a03_distinct", oracle = Some(
      """SELECT DISTINCT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey
        |FROM customer ORDER BY c_mktsegment, c_nationkey""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey").cast("long").as("c_nationkey"))
      .distinct()
      .orderBy("c_mktsegment", "c_nationkey")
  }

  /** A5: max-via-top-1 (as a straight agg — the Spark-correct plan). */
  query("a05_max_top1", oracle = Some(
      """SELECT strftime(max(o_orderdate), '%Y-%m-%d') AS max_date,
        |       max(o_totalprice) AS max_price, max(o_orderkey) AS max_orderkey
        |FROM orders""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "orders")
      .agg(date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"),
        max(col("o_totalprice")).as("max_price"),
        max(col("o_orderkey")).as("max_orderkey"))
  }

  /** A6: exact interpolated percentiles (engine-native `percentile` — the
    * reference has only count/avg/min/max/sum). Exact, not the
    * approx-sketch variant, so DuckDB's quantile_cont mirrors it.
    * Scale note: EXACT percentiles buffer every group value in the final
    * aggregation — correct only for bounded group cardinality x bounded
    * group size (5 event types here); at open-ended scale use the a08
    * sketch path (fixed-size state) or approx_percentile. */
  query("a06_percentiles", oracle = Some(
      // Spark `percentile` and DuckDB `quantile_cont` both compute the
      // type-7 interpolated quantile over the sorted values
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50_r,
        |       round(quantile_cont(value, 0.9), 6) AS p90_r,
        |       round(quantile_cont(value, 0.99), 6) AS p99_r
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("p50_r"),
        round(expr("percentile(value, 0.9)"), 6).as("p90_r"),
        round(expr("percentile(value, 0.99)"), 6).as("p99_r"))
      .orderBy("event_type")
  }

  /** A22: EXACT discrete quantiles via a bounded-domain value histogram —
    * the scale path a06's engine-native `percentile` lacks. a06 buffers
    * every group value in the final aggregation (state ∝ rows); a16
    * trades exactness for a sketch. This form is exact AND bounded-state
    * when the value domain is fixed-point (money, counts, scores —
    * `events.value` is 2-decimal): count per (type, cent) — one
    * partial-aggregated shuffle whose result is DOMAIN-sized, not
    * row-sized — then cumulate the tiny histogram and pick the
    * percentile_disc element, smallest v with cume >= ceil(q*n), as the
    * integer cross-multiplication `100*cum >= qnum*n` (no FP anywhere in
    * the selection). The window sorts per-type HISTOGRAMS (≤ |domain|
    * rows each), never the corpus; at 100 TB the histogram is still
    * ~50k rows per type. Quantiles cross the oracle boundary as cents
    * (long) — exact integers, no float representation to drift. */
  query("a22_hist_quantiles", oracle = Some(
      // histogram quantiles vs the sort-based quantile_disc: both engines
      // pick rank ceil(q*n) over the same cent-scaled total order (the
      // cent mapping is monotone, so quantile-of-cents == cent-of-quantile;
      // round(value*100) evaluates on identical IEEE doubles both sides).
      // Quantiles cross the boundary as cents — exact integers
      """SELECT event_type, count(*) AS n,
        |       CAST(round(quantile_disc(value, 0.50) * 100, 0) AS BIGINT) AS p50_c,
        |       CAST(round(quantile_disc(value, 0.90) * 100, 0) AS BIGINT) AS p90_c,
        |       CAST(round(quantile_disc(value, 0.99) * 100, 0) AS BIGINT) AS p99_c
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    val hist = tbl(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100, 0).cast("long").as("v"))
      .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def pick(qnum: Int): Column =
      min(when(col("cum") * 100 >= lit(qnum) * col("n"), col("v")))
    hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"), pick(50).as("p50_c"),
        pick(90).as("p90_c"), pick(99).as("p99_c"))
      .orderBy("event_type")
  }

  /** A23: re-aggregatable SKETCH TABLES — the warehouse pattern that
    * makes distinct counts affordable at 100 TB: store one HLL sketch
    * per (event_type, day) partition (datasketches `hll_sketch_agg`,
    * mergeable state, map-side partials), then answer ANY rollup by
    * UNIONING stored sketches (`hll_union_agg`) without touching raw
    * data — a year-over-arbitrary-ranges distinct-users dashboard reads
    * 365 sketch rows per type, not the event log. The query materializes
    * the daily sketch table, serves the all-time rollup from it, and
    * hash-checks two DETERMINISTIC facts against the oracle: the exact
    * distinct count, and `reagg_ok` — the merged estimate equals the
    * single-pass sketch estimate (union-homomorphism, the property the
    * whole pattern rests on) AND lands within 5% of exact. lgConfigK
    * is PINNED at 14 (standard error ~0.8%, so the 5% bound is ~6
    * sigma): the default lgK=12's ~1.6% error made 5% a 3-sigma bound,
    * and at sf0.1 one group genuinely tripped it — found by running
    * the full oracle compare at 10x the driver's gate SF (r10). */
  query("a23_sketch_rollup", oracle = Some(
      // the exact distinct count is oracle-able; the union-homomorphism +
      // 5%-of-exact bound is pinned TRUE — the sketch is deterministic, so
      // a violation is a hash mismatch, not a flake (the a20 discipline)
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |       TRUE AS reagg_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    val ev = events(s, dir)
      .withColumn("day", expr("date_trunc('DAY', timestamp_micros(__tsu))"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
    val merged = daily.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val direct = ev.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("est_direct"),
        countDistinct(col("user_id")).as("n_exact"))
    merged.join(direct, "event_type")
      .select(col("event_type"), col("n_exact"),
        (col("est") === col("est_direct") &&
          abs(col("est") - col("n_exact")) * 100 <= col("n_exact") * 5).as("reagg_ok"))
      .orderBy("event_type")
  }

  /** A24: rolling retention (DAU / trailing-7-day WAU / stickiness)
    * through STORED EXACT BITMAPS — a23's sketch-table pattern without
    * the approximation: the event log reduces once to one roaring
    * bitmap per day (`bitmap_agg`, mergeable map-side partials), and
    * every trailing window is then a bitmap OR over at most 7 stored
    * DAY rows (`bitmap_or_count`) — the day-pair range join touches
    * |days|^2/2 tiny rows, never the raw id space, while the
    * count(DISTINCT) rewrite would reshuffle (day x 7) copies of every
    * event row. Exact at every level because bitmap union is set union;
    * stickiness as integer ppm. */
  query("a24_retention", oracle = Some(
      // the declarative statement of the bitmap rollup: exact distinct per
      // day and per trailing-7-day window — a dropped or invented bit
      // anywhere in the store/OR path is a count mismatch
      """WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS d, user_id
        |            FROM events),
        |days AS (SELECT DISTINCT d FROM du),
        |dau AS (SELECT d, count(*) AS dau FROM du GROUP BY 1),
        |wau AS (SELECT a.d, count(DISTINCT b.user_id) AS wau
        |        FROM days a JOIN du b
        |          ON b.d BETWEEN a.d - INTERVAL 6 DAY AND a.d
        |        GROUP BY 1)
        |SELECT strftime(dau.d, '%Y-%m-%d') AS day,
        |       CAST(dau.dau AS BIGINT) AS dau, CAST(wau.wau AS BIGINT) AS wau,
        |       1000000 * dau.dau // wau.wau AS stickiness_ppm
        |FROM dau JOIN wau USING (d) ORDER BY day""".stripMargin)) { (s, dir) =>
    val ev = events(s, dir)
      .select(date_format(timestamp_micros(col("__tsu")), "yyyy-MM-dd").as("day"),
        col("user_id"))
    val daily = ev.groupBy("day")
      .agg(graft.functions.VectorAggregates.bitmapAgg(col("user_id")).as("bm"),
        graft.functions.VectorAggregates.bitmapDistinct(col("user_id")).as("dau"))
    val wau = daily.alias("a")
      .join(daily.alias("b"),
        datediff(col("a.day").cast("date"), col("b.day").cast("date")).between(0, 6))
      .groupBy(col("a.day").as("day"))
      .agg(graft.functions.VectorAggregates.bitmapOrCount(col("b.bm")).as("wau"))
    daily.select(col("day"), col("dau"))
      .join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("1000000 * dau div wau").as("stickiness_ppm"))
      .orderBy("day")
  }

  /** A25: robust outlier detection — median + MAD (median absolute
    * deviation) + a 3-MAD outlier census per event type, ALL derived
    * from the one a22-style cent histogram: the deviation histogram is
    * a map of the value histogram (|v - med| with the same counts), the
    * weighted median rides the identical `2*cum >= n` integer rule, and
    * the outlier count is a sum over histogram rows. ONE corpus scan
    * total; every later step is domain-sized. Mean/stddev z-scores
    * break under the heavy tails telemetry actually has — MAD has a 50%
    * breakdown point, and the whole chain stays 64-bit-integer exact
    * (cents), so the census hash-compares with no FP contract. */
  query("a25_mad_outliers", oracle = Some(
      // median, MAD, and the 3-MAD census rebuilt from the same cent
      // domain: weighted median = smallest value with 2*cum >= n (the
      // ceil(n/2) cross-multiplication), everything 64-bit integer
      """WITH h AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS v,
        |             count(*) AS c
        |           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |n AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
        |hc AS (SELECT event_type, v, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
        |       FROM h),
        |med AS (SELECT hc.event_type, min(v) AS med_c
        |        FROM hc JOIN n USING (event_type)
        |        WHERE 2 * cum >= n.n GROUP BY 1),
        |d AS (SELECT h.event_type, abs(h.v - med.med_c) AS dev,
        |        CAST(sum(h.c) AS BIGINT) AS c
        |      FROM h JOIN med USING (event_type) GROUP BY 1, 2),
        |dc AS (SELECT event_type, dev, c,
        |         sum(c) OVER (PARTITION BY event_type ORDER BY dev) AS cum
        |       FROM d),
        |mad AS (SELECT dc.event_type, min(dev) AS mad_c
        |        FROM dc JOIN n USING (event_type)
        |        WHERE 2 * cum >= n.n GROUP BY 1),
        |outl AS (SELECT d.event_type, CAST(sum(d.c) AS BIGINT) AS n_outliers
        |         FROM d JOIN mad USING (event_type)
        |         WHERE d.dev > 3 * mad.mad_c GROUP BY 1)
        |SELECT n.event_type, n.n, med.med_c, mad.mad_c,
        |       coalesce(outl.n_outliers, 0) AS n_outliers
        |FROM n JOIN med USING (event_type) JOIN mad USING (event_type)
        |LEFT JOIN outl USING (event_type) ORDER BY event_type""".stripMargin)) { (s, dir) =>
    val hist = tbl(s, dir, "events")
      .filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 100, 0).cast("long").as("v"))
      .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // domain-sized; reused by all three derivations
    val wCum = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val med = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        min(when(col("cum") * 2 >= col("n"), col("v"))).as("med_c"))
    val dev = hist.join(med, "event_type")
      .groupBy(col("event_type"), abs(col("v") - col("med_c")).as("dev"))
      .agg(sum(col("c")).as("c"), max(col("n")).as("n"))
    val wDevCum = Window.partitionBy("event_type").orderBy("dev")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mad = dev
      .withColumn("cum", sum(col("c")).over(wDevCum))
      .groupBy("event_type")
      .agg(min(when(col("cum") * 2 >= col("n"), col("dev"))).as("mad_c"))
    val outliers = dev.join(mad, "event_type")
      .filter(col("dev") > lit(3) * col("mad_c"))
      .groupBy("event_type").agg(sum(col("c")).as("n_outliers"))
    med.join(mad, "event_type")
      .join(outliers, Seq("event_type"), "left")
      .select(col("event_type"), col("n"), col("med_c"), col("mad_c"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** A7: analytic window functions (rank/dense_rank/ntile/running sum) —
    * engine breadth the reference's SQLite surface never exercises. */
  query("a07_window_rank", oracle = Some(
      """WITH r AS (SELECT o_custkey, o_orderkey,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum_r
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC))
        |SELECT o_custkey, o_orderkey, rnk, drnk, quartile, run_sum_r
        |FROM r WHERE rnk <= 3 ORDER BY o_custkey, rnk, o_orderkey""".stripMargin)) { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(s, dir, "orders")
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("run_sum_r", round(sum(col("o_totalprice")).over(wsum), 2))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rnk"), col("drnk"),
        col("quartile"), col("run_sum_r"))
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  /** A11: sequence analytics — lead/lag/first over each user's event
    * stream (the session-delta shape: time since previous event, next
    * event type, first event of the stream). One shuffle on user_id; the
    * window order key (ts, event_id) is unique per user so every offset
    * function is deterministic. */
  query("a11_lead_lag", oracle = Some(
      // microsecond precision both sides (Spark: ts div 1000 of the long
      // nanos; DuckDB truncates TIMESTAMP(NANOS) to micros on read, so
      // epoch_us is exact); (tsu, event_id) is unique per user so every
      // offset function is deterministic
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
        |           FROM events WHERE user_id < 50)
        |SELECT event_id, user_id, event_type,
        |       tsu - lag(tsu, 1) OVER w AS us_since_prev,
        |       lead(event_type, 1) OVER w AS next_type,
        |       first_value(event_id) OVER w AS first_event
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)
        |ORDER BY event_id""".stripMargin)) { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__tsu"), col("event_id"))
    // microsecond precision on BOTH sides (events() normalizes): DuckDB
    // reads any physical ts type at micros, so nanos would hash-diverge
    events(s, dir)
      .filter(col("user_id") < 50)
      .select(col("event_id"), col("user_id"), col("event_type"),
        (col("__tsu") - lag(col("__tsu"), 1).over(w)).as("us_since_prev"),
        lead(col("event_type"), 1).over(w).as("next_type"),
        first(col("event_id")).over(w).as("first_event"))
      .orderBy("event_id")
  }

  /** A8: HyperLogLog++ approximate distinct — THE approximate-aggregate
    * at 100 TB (fixed-size sketch per group vs an exact-distinct shuffle
    * of every key). Rows-only for the driver (DuckDB's approx sketch
    * differs); the relative-error bound vs exact countDistinct is
    * asserted in PlanSpec. */
  query("a08_approx_distinct") { (s, dir) =>
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"))
      .orderBy("l_returnflag")
  }

  /** A28: per-user inactivity gaps (the session-boundary census at the
    * account level — churn/dormancy signals): consecutive-event deltas
    * per user via one bounded window (each partition is one user's
    * events), then gap count over a 6 h threshold, max gap, and total
    * idle time — all exact integer seconds from epoch-micros
    * arithmetic, no timestamp math crosses the hash. */
  query("a28_inactivity_gaps", oracle = Some(
      // per-user consecutive-event gaps over (ts, event_id) order: count
      // over 6h, max gap, total idle — exact integer micros -> seconds
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events),
        |g AS (SELECT user_id,
        |        tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS gap
        |      FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
        |       CAST(sum(CASE WHEN gap > 21600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps_6h,
        |       CAST(max(gap) // 1000000 AS BIGINT) AS max_gap_s,
        |       CAST(sum(CASE WHEN gap > 21600000000 THEN gap ELSE 0 END) // 1000000 AS BIGINT) AS idle_s
        |FROM g WHERE gap IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, dir) =>
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("__tsu"), col("event_id"))
    val thr = 6L * 3600 * 1000000
    events(s, dir)
      .withColumn("__prev", lag(col("__tsu"), 1).over(byUser))
      .filter(col("__prev").isNotNull)
      .withColumn("__gap", col("__tsu") - col("__prev"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum(when(col("__gap") > thr, 1L).otherwise(0L)).as("n_gaps_6h"),
        expr("max(__gap) div 1000000").as("max_gap_s"),
        sum(when(col("__gap") > thr, col("__gap")).otherwise(0L)).as("__idle_us"))
      .select(col("user_id"), col("n_intervals"), col("n_gaps_6h"),
        col("max_gap_s"), expr("__idle_us div 1000000").as("idle_s"))
      .orderBy("user_id")
  }

  /** A29: time-spine densification (gap fill) — the dashboard/ML-feature
    * fix for sparse aggregates: hourly counts per event type LEFT-joined
    * onto each type's full [min, max] hour spine, absent hours
    * zero-filled, so downstream rolling windows and models see an
    * equally-spaced series instead of silently skipping quiet hours.
    * Hours are exact integer epoch-micros div 3600000000 — no timestamp
    * arithmetic crosses the hash; the spine explodes from one tiny
    * per-type (min, max) aggregate, so the only corpus-sized work is the
    * initial count. */
  query("a29_gapfill_spine", oracle = Some(
      // per-type hourly spine (integer epoch-micros div hours) LEFT-joined
      // onto the counts, absent hours zero-filled
      """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, unnest(range(min(h), max(h) + 1)) AS h
        |      FROM c GROUP BY event_type)
        |SELECT s.event_type, CAST(s.h AS BIGINT) AS hour_idx,
        |       coalesce(c.cnt, 0) AS cnt
        |FROM s LEFT JOIN c ON c.event_type = s.event_type AND c.h = s.h
        |ORDER BY s.event_type, hour_idx""".stripMargin)) { (s, dir) =>
    val counts = events(s, dir)
      .select(col("event_type"), expr("__tsu div 3600000000").as("h"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("cnt"))
    val spine = counts.groupBy("event_type")
      .agg(min("h").as("mn"), max("h").as("mx"))
      .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("h"))
    spine.join(counts, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h").as("hour_idx"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("event_type", "hour_idx")
  }

  /** A10: per-group top-k via the native [[graft.functions.TopK]]
    * bounded-heap aggregate — k pairs of state per group with map-side
    * partials, where a07's window form sorts every group's full row set
    * in one task to keep 3. The oracle IS that window form: the heap must
    * reproduce it exactly (total order: price desc, orderkey asc). */
  query("a10_topk_agg", oracle = Some(
      // the oracle is the window form the heap aggregate replaces: identical
      // rows prove the bounded-heap path == sort-everything path
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders)
        |SELECT o_orderpriority, CAST(rnk AS BIGINT) AS rnk, o_orderkey,
        |       round(o_totalprice, 2) AS price_r
        |FROM r WHERE rnk <= 3 ORDER BY o_orderpriority, rnk""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(graft.functions.VectorAggregates
        .topK(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("o_orderpriority"), (col("rnk0") + 1).cast("long").as("rnk"),
        col("t.id").as("o_orderkey"), round(col("t.ord"), 2).as("price_r"))
      .orderBy("o_orderpriority", "rnk")
  }

  /** A18: distribution analytics — percent_rank / cume_dist over each
    * status partition (where does an order sit in its cohort's price
    * distribution). One key shuffle + partition-local sort; the rank
    * denominators are exact counts, so values are rational and safe to
    * round at 6 dp. */
  query("a18_cume_dist", oracle = Some(
      // Exact rational window stats; ties broken by orderkey inside the sort
      // key so both engines rank identically.
      """SELECT o_orderkey, o_orderstatus,
        |       round(percent_rank() OVER w, 6) AS pr,
        |       round(cume_dist() OVER w, 6) AS cd
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)) { (s, dir) =>
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    tbl(s, dir, "orders")
      .filter(col("o_custkey") < 100)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy("o_orderkey")
  }

  /** A17: global top-N — ORDER BY + LIMIT compiles to
    * TakeOrderedAndProject: each partition keeps N rows, the driver merges
    * partials; the full global sort never happens (PlanSpec asserts the
    * physical operator). The everyday "show me the biggest" query that
    * silently becomes a full-table sort when written wrong. */
  query("a17_global_topn", oracle = Some(
      // LIMIT selection is deterministic: (price DESC, orderkey) is total.
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
  }

  /** A19: grouped linear regression — slope / intercept / R² of price vs
    * quantity per return flag in ONE pass of mergeable moment sketches
    * (same partial-aggregation story as a09's corr). Closed-form
    * analytics at any scale: no iteration, no solver, one shuffle of
    * 6 moments per group. Rounding sized to each statistic's
    * accumulation noise (slope/intercept ride ~1e10 sums). */
  query("a19_regression", oracle = Some(
      // One-pass regression moments; rounding sized per statistic like a09.
      """SELECT l_returnflag, count(*) AS cnt,
        |       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope_r,
        |       round(regr_intercept(l_extendedprice, l_quantity), 3) AS icept_r,
        |       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2_r
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope_r"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 3).as("icept_r"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2_r"))
      .orderBy("l_returnflag")
  }

  /** A20: count-min-sketch heavy-hitter audit — the third sketch next to
    * a08's HLL distinct and a16's quantile sketches. The corpus token
    * stream feeds Spark's native `count_min_sketch` aggregate (bounded
    * ~1 MB state, map-side partial merge — one sketch per partition
    * moves, never the tokens); the scalar result is probed per term by
    * the [[graft.functions.CmsEstimate]] kernel. Registered as the v09
    * audit form so the probabilistic side stays hash-checkable: exact
    * top-20 term counts (oracle-able) plus the CMS guarantee
    * `cnt <= est <= cnt + ceil(eps*N)` as a flag the oracle pins TRUE —
    * fixed seed makes the sketch deterministic, so a bound violation is
    * a hash mismatch, not a flake. The one-row collect is the broadcast
    * scalar pattern (bounded at any corpus size). */
  query("a20_cms_heavy_hitters", oracle = Some(
      // the audit form keeps the sketch hash-checkable: exact top-20 term
      // counts are oracle-able, and the CMS overestimate bound is pinned
      // TRUE — the sketch is seeded, so a violation is a deterministic
      // hash mismatch, not a flake
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
        |r AS (SELECT term, CAST(cnt AS BIGINT) AS cnt,
        |        row_number() OVER (ORDER BY cnt DESC, term) AS rnk FROM c)
        |SELECT term, cnt, TRUE AS bound_ok
        |FROM r WHERE rnk <= 20 ORDER BY cnt DESC, term""".stripMargin)) { (s, dir) =>
    val eps = 1e-4
    val tok = tbl(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("term"))
    val sk = tok.agg(
      count_min_sketch(col("term"), lit(eps), lit(0.99), lit(42)).as("sk"),
      count(lit(1)).as("n_tokens")).collect()(0)
    val bound = math.ceil(eps * sk.getAs[Long]("n_tokens")).toLong
    tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(20)
      .withColumn("est", graft.functions.SketchExpressions.cmsEstimate(
        lit(sk.getAs[Array[Byte]]("sk")), col("term")))
      .select(col("term"), col("cnt"),
        (col("est") >= col("cnt") && col("est") <= col("cnt") + lit(bound))
          .as("bound_ok"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** A21: EXACT distinct users per event type through the native
    * [[graft.functions.BitmapDistinct]] aggregate (roaring-style bitmap
    * buffer). `count(distinct id)` plans a first phase keyed on
    * (group, id): at 100 TB every distinct id crosses the wire as a
    * row. The bitmap aggregate keeps ONE mergeable buffer per
    * (group x mapper) — 1 bit per id in dense ranges, 2 bytes in
    * sparse — so the exchange carries |groups| compact buffers instead
    * of the key space. Exact, so the oracle is plain
    * count(DISTINCT ...): any bit lost in container upgrade, merge, or
    * serialization is a hash mismatch. */
  query("a21_bitmap_distinct", oracle = Some(
      // exact-distinct oracle for the bitmap aggregate: equality is the
      // whole point — a dropped/invented bit anywhere in the roaring
      // container lifecycle shows up as a count mismatch
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(graft.functions.VectorAggregates.bitmapDistinct(col("user_id"))
          .as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  /** A16: approximate percentiles — the KLL-sketch scale path for a06's
    * exact form (an exact percentile needs a full sort or all values in
    * one task per group; the sketch is bounded memory + mergeable
    * map-side partials at any row count). No DuckDB oracle (sketch
    * internals differ per engine) — VerifyExtras brackets each reported
    * quantile between the EXACT quantiles at q +/- rank-error. */
  query("a16_approx_percentiles") { (s, dir) =>
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
        .as("ap"))
      .select(col("l_returnflag"), col("ap")(0).as("p50"), col("ap")(1).as("p90"),
        col("ap")(2).as("p99"))
      .orderBy("l_returnflag")
  }

  /** A9: second-moment statistics per group — corr / covariance / stddev
    * in one aggregation pass (map-side partials; Spark and DuckDB both
    * merge single-pass moment sketches). Rounding is per-column, sized to
    * each statistic's accumulation-noise magnitude: corr is dimensionless
    * (6 dp), covar rides ~5e10 intermediate sums (2 dp), price stddev ~3e4
    * (4 dp), quantity stddev ~14 (6 dp). */
  query("a09_corr_stats", oracle = Some(
      // per-column rounding sized to each statistic's accumulation noise
      // (corr 6dp dimensionless; covar 2dp over ~5e10 sums; stddevs 6/4dp)
      """SELECT l_returnflag, count(*) AS cnt,
        |       round(corr(l_quantity, l_extendedprice), 6) AS corr_r,
        |       round(covar_pop(l_quantity, l_extendedprice), 2) AS covar_pop_r,
        |       round(stddev_samp(l_quantity), 6) AS stddev_qty_r,
        |       round(stddev_samp(l_extendedprice), 4) AS stddev_price_r
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_r"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("covar_pop_r"),
        round(stddev_samp(col("l_quantity")), 6).as("stddev_qty_r"),
        round(stddev_samp(col("l_extendedprice")), 4).as("stddev_price_r"))
      .orderBy("l_returnflag")
  }

  /** A13: fixed-width histogram — the one-pass distribution profile
    * (price buckets here; token-length buckets in a corpus audit). Bucket
    * id is a pure projection, so the whole histogram is one partial-
    * aggregated shuffle of bucket ids; both engines compute the same
    * double division before floor, so bucket edges are bit-identical. */
  query("a13_histogram", oracle = Some(
      """SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
        |       count(*) AS cnt, round(avg(o_totalprice), 2) AS avg_price_r
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "orders")
      .withColumn("bucket", floor(col("o_totalprice") / 25000).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), round(avg(col("o_totalprice")), 2).as("avg_price_r"))
      .orderBy("bucket")
  }

  /** A26: multi-stage SESSION funnel — the product-analytics form a14's
    * pairwise rule can't express: within each 30-minute-gap session,
    * did a view occur, then STRICTLY LATER a click, then strictly later
    * a purchase? Ordering is the integer in-session position
    * (row_number by (ts, event_id)), so "later" never rides timestamp
    * ties; stages chain as three session-keyed conditional-min
    * aggregates (each partial-aggregated, joined back on the session
    * key — no per-session re-sort after the one island pass). Output
    * per user: sessions entered at each stage — the funnel table a
    * dashboard plots. */
  query("a26_session_funnel", oracle = Some(
      // st08's island rule for the sessions, integer in-session positions
      // for strict ordering, the same three chained conditional mins
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
        |           FROM events),
        |i AS (SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
        |                       OR tsu - lag(tsu) OVER w >= 1800000000
        |                     THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
        |        ORDER BY tsu, event_id) AS sid FROM i),
        |d AS (SELECT user_id, sid, event_type,
        |        row_number() OVER (PARTITION BY user_id, sid
        |          ORDER BY tsu, event_id) AS pos FROM g),
        |p1 AS (SELECT user_id, sid,
        |         min(CASE WHEN event_type = 'view' THEN pos END) AS p1
        |       FROM d GROUP BY 1, 2),
        |p2 AS (SELECT d.user_id, d.sid,
        |         min(CASE WHEN d.event_type = 'click' AND d.pos > p1.p1
        |               THEN d.pos END) AS p2
        |       FROM d JOIN p1 USING (user_id, sid) GROUP BY 1, 2),
        |p3 AS (SELECT d.user_id, d.sid,
        |         min(CASE WHEN d.event_type = 'purchase' AND d.pos > p2.p2
        |               THEN d.pos END) AS p3
        |       FROM d JOIN p2 USING (user_id, sid) GROUP BY 1, 2)
        |SELECT p1.user_id, count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN p1.p1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_view,
        |  CAST(sum(CASE WHEN p2.p2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_click,
        |  CAST(sum(CASE WHEN p3.p3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_purchase
        |FROM p1 JOIN p2 USING (user_id, sid) JOIN p3 USING (user_id, sid)
        |GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    val wU = Window.partitionBy("user_id").orderBy("__tsu", "event_id")
    val d = events(s, dir)
      .withColumn("prev", lag(col("__tsu"), 1).over(wU))
      .withColumn("ns", when(col("prev").isNull ||
        col("__tsu") - col("prev") >= 1800000000L, 1).otherwise(0))
      .withColumn("sid", sum(col("ns")).over(wU))
      .withColumn("pos", row_number().over(
        Window.partitionBy("user_id", "sid").orderBy("__tsu", "event_id")))
      .select("user_id", "sid", "pos", "event_type")
    // r13: the three chained conditional-min aggregates each re-ran the
    // whole two-window subtree (ReuseExchange dedupes the exchange, not
    // the sort+window above it — QProbe showed five ~300 ms single-task
    // window passes) and joined back on the session key. The funnel per
    // session only needs each stage's ORDERED position list, so collect
    // the three per-session lists in ONE aggregate and elect p1/p2/p3
    // in-row (arrays are session-sized — bounded by the gap rule, never
    // corpus-shaped). Value-identical by construction: array_min over
    // the filtered list is exactly min(when(...)), and a null stage
    // null-propagates through the `>` into the next filter as before.
    // Both groupBys ride the window's user_id partitioning — the whole
    // query keeps ONE corpus-sized exchange.
    val sess = d.groupBy("user_id", "sid").agg(
      collect_list(when(col("event_type") === "view", col("pos"))).as("vs"),
      collect_list(when(col("event_type") === "click", col("pos"))).as("cs"),
      collect_list(when(col("event_type") === "purchase", col("pos"))).as("ps"))
    sess
      .withColumn("p1", array_min(col("vs")))
      .withColumn("p2", array_min(filter(col("cs"), c => c > col("p1"))))
      .withColumn("p3", array_min(filter(col("ps"), x => x > col("p2"))))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("p1").isNotNull, 1L).otherwise(0L)).as("s_view"),
        sum(when(col("p2").isNotNull, 1L).otherwise(0L)).as("s_click"),
        sum(when(col("p3").isNotNull, 1L).otherwise(0L)).as("s_purchase"))
      .orderBy("user_id")
  }

  /** A27: cohort retention matrix — the classic growth-analytics table:
    * users cohorted by their FIRST-event ISO week, each later active
    * week counted into (cohort, week_index) cells. Two partial-
    * aggregated shuffles (first-event per user; distinct user-weeks)
    * plus a broadcast-sized cohort join; week indexes are exact integer
    * day-diffs div 7, so the matrix hash-compares with no calendar FP.
    * At 100 TB this is the a24 discipline's neighbor: the (user, week)
    * dedup is the only corpus-sized exchange, everything after is
    * cohort-count-sized. */
  query("a27_cohort_retention", oracle = Some(
      // ISO-week truncation agrees across engines (Monday start); week
      // index = exact integer day-diff div 7
      """WITH uw AS (SELECT DISTINCT user_id,
        |              CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS c0 FROM uw GROUP BY 1)
        |SELECT strftime(c.c0, '%Y-%m-%d') AS cohort_week,
        |       CAST(date_diff('day', c.c0, uw.wk) // 7 AS BIGINT) AS week_idx,
        |       count(DISTINCT uw.user_id) AS n_users
        |FROM uw JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)) { (s, dir) =>
    val uw = events(s, dir)
      .select(col("user_id"),
        date_trunc("WEEK", timestamp_micros(col("__tsu"))).cast("date").as("wk"))
      .distinct()
    val cohort = uw.groupBy("user_id").agg(min(col("wk")).as("c0"))
    uw.join(cohort, "user_id")
      .groupBy(col("c0"), (datediff(col("wk"), col("c0")) / 7).cast("long").as("week_idx"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("c0"), "yyyy-MM-dd").as("cohort_week"),
        col("week_idx"), col("n_users"))
      .orderBy("cohort_week", "week_idx")
  }

  /** A14: funnel conversion — for every click, was there a view by the
    * same user within the preceding 30 minutes? One key shuffle + one
    * partition-local sort: a running `max(view ts)` over the user's
    * event sequence replaces the naive view x click interval self-join
    * (quadratic on active users). Microsecond precision both sides. */
  query("a14_funnel", oracle = Some(
      // Running max(view ts) over each user's sequence; click converts if a
      // view precedes it by <= 30 min. Same default RANGE frame both engines.
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu
        |           FROM events),
        |m AS (SELECT *, max(CASE WHEN event_type = 'view' THEN tsu END)
        |        OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS last_view
        |      FROM e)
        |SELECT user_id, count(*) AS n_clicks,
        |  CAST(sum(CASE WHEN last_view IS NOT NULL AND tsu - last_view <= 1800000000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_conv,
        |  CAST(max(CASE WHEN last_view IS NOT NULL AND tsu - last_view <= 1800000000
        |       THEN 1 ELSE 0 END) AS BIGINT) AS converted
        |FROM m WHERE event_type = 'click' GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("__tsu"), col("event_id"))
    val conv = col("last_view").isNotNull &&
      (col("__tsu") - col("last_view")) <= lit(30L * 60 * 1000000)
    events(s, dir)
      .withColumn("last_view",
        max(when(col("event_type") === "view", col("__tsu"))).over(w))
      .filter(col("event_type") === "click")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_clicks"),
        sum(when(conv, 1L).otherwise(0L)).as("n_conv"),
        max(when(conv, 1L).otherwise(0L)).as("converted"))
      .orderBy("user_id")
  }

  /** A15: per-group mode (most frequent value) in TWO partial-aggregated
    * hash aggregations — counts per (group, value), then a deterministic
    * arg-max via `min(struct(-cnt, value))` (max count, alphabetically
    * first value on ties). No window, no sort: state is one pair per
    * (group, value) then one struct per group. */
  query("a15_mode", oracle = Some(
      // Mode with deterministic tie-break: max count, then alphabetically
      // first type — exactly min(struct(-cnt, value)).
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, cnt,
        |        sum(cnt) OVER (PARTITION BY user_id) AS n_events,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY cnt DESC, event_type) AS rn FROM c)
        |SELECT user_id, event_type AS mode_type, CAST(cnt AS BIGINT) AS mode_cnt,
        |       CAST(n_events AS BIGINT) AS n_events
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(min(struct((-col("cnt")).as("neg"), col("event_type").as("et"))).as("m"),
        sum(col("cnt")).as("n_events"))
      .select(col("user_id"), col("m.et").as("mode_type"),
        (-col("m.neg")).as("mode_cnt"), col("n_events"))
      .orderBy("user_id")
  }

  /** A30: k-anonymity census WITH the generalization step (the
    * compliance gate tabular training data passes before release —
    * Sweeney's k-anonymity, t10's regex redaction's structured
    * sibling): quasi-identifier classes (nation, segment) below k=10
    * GENERALIZE up the hierarchy — segment suppressed to '*', then
    * nation too — until every released class holds >= k rows or lands
    * in the fully-suppressed pool; every input row is released exactly
    * ONCE at its minimal sufficient level (conservation is part of the
    * oracle hash). Three tiny aggregations over one corpus-sized
    * census — the hierarchy walk touches class counts, never rows
    * again. */
  query("a30_kanonymity", oracle = Some(
      // k-anonymity with generalization: level-0 classes >= 10 release
      // as-is; violators pool per nation (level 1), still-violating pool
      // fully suppressed (level 2); row conservation rides the hash
      """WITH l0 AS (SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment AS segment,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM customer GROUP BY 1, 2),
        |ok0 AS (SELECT CAST(0 AS BIGINT) AS gen_level, CAST(nation AS VARCHAR) AS nation_out,
        |          segment AS segment_out, n AS n_rows
        |        FROM l0 WHERE n >= 10),
        |l1 AS (SELECT nation, CAST(sum(n) AS BIGINT) AS n FROM l0 WHERE n < 10 GROUP BY 1),
        |ok1 AS (SELECT CAST(1 AS BIGINT), CAST(nation AS VARCHAR), '*', n
        |        FROM l1 WHERE n >= 10),
        |l2 AS (SELECT CAST(2 AS BIGINT), '*', '*', CAST(sum(n) AS BIGINT)
        |       FROM l1 WHERE n < 10 HAVING sum(n) > 0)
        |SELECT * FROM ok0 UNION ALL SELECT * FROM ok1 UNION ALL SELECT * FROM l2
        |ORDER BY gen_level, nation_out, segment_out""".stripMargin)) { (s, dir) =>
    val k = 10L
    val l0 = tbl(s, dir, "customer")
      .groupBy(col("c_nationkey").cast("long").as("nation"),
        col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"))
    val ok0 = l0.filter(col("n") >= k)
      .select(lit(0L).as("gen_level"), col("nation").cast("string").as("nation_out"),
        col("segment").as("segment_out"), col("n").as("n_rows"))
    val l1 = l0.filter(col("n") < k)
      .groupBy(col("nation")).agg(sum(col("n")).as("n"))
    val ok1 = l1.filter(col("n") >= k)
      .select(lit(1L).as("gen_level"), col("nation").cast("string").as("nation_out"),
        lit("*").as("segment_out"), col("n").as("n_rows"))
    val l2 = l1.filter(col("n") < k).agg(sum(col("n")).as("n"))
      .filter(col("n").isNotNull && col("n") > 0)
      .select(lit(2L).as("gen_level"), lit("*").as("nation_out"),
        lit("*").as("segment_out"), col("n").as("n_rows"))
    ok0.unionByName(ok1).unionByName(l2)
      .orderBy("gen_level", "nation_out", "segment_out")
  }

  /** A32: Zipf-law fit over the token-frequency head
    * ([[TextOps.zipfFit]]) — the one-number corpus-health check
    * (natural language: freq ~ rank^-s, s ~ 1; flatter = template
    * flooding, steeper = collapsed vocabulary). Bounded top-100 cut,
    * closed-form OLS of log2(freq) on log2(rank) via whole-frame window
    * sums over exactly 100 rows, per-rank residuals expose WHICH ranks
    * break the law. No plant needed — the statistic is live on the raw
    * corpus. */
  query("a32_zipf_fit", oracle = Some(
      // a32: same census (space tokenization), same totally-ordered top-100
      // cut, same closed-form OLS of log2(freq) on log2(rank) — the fit
      // sums ride a scalar subframe over exactly 100 rows; round(6) after
      // the float math on both engines
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |cens AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
        |top AS (SELECT token, cnt FROM cens ORDER BY cnt DESC, token LIMIT 100),
        |r AS (SELECT token, cnt,
        |        CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
        |      FROM top),
        |xy AS (SELECT token, cnt, rank, log2(rank) AS x, log2(cnt) AS y FROM r),
        |f AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx, sum(y) AS sy,
        |             sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
        |SELECT rank, token, cnt,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round(y - ((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |             + (n * sxy - sx * sy) / (n * sxx - sx * sx) * x), 6) AS resid_r
        |FROM xy, f ORDER BY rank""".stripMargin)) { (s, dir) =>
    TextOps.zipfFit(tbl(s, dir, "documents")).orderBy("rank")
  }

  /** A33: hour-of-day chi-square uniformity census — the
    * traffic-structure QA for event streams (a bot flood or a broken
    * ingestion region shows up as hour-of-day mass concentration long
    * before totals move; a31/t36 compare SNAPSHOTS, this tests structure
    * WITHIN one). Per event_type: chi-square against the uniform
    * 24-hour profile via the closed form 24*sum(c^2)/n - n — zero cells
    * contribute nothing to sum(c^2), so NO grid completion, no second
    * pass: one integer census (count + sum of squared counts per type)
    * and one rounded float; peak hour totally ordered (count DESC, hour
    * ASC) for the analyst. */
  query("a33_hour_chi2", oracle = Some(
      // a33: same hour bucketing (epoch-micros div 3600000000 mod 24),
      // same closed-form chi-square 24*sum(c^2)/n - n (zero cells drop out
      // of sum(c^2) algebraically — no grid completion on either engine),
      // same (count DESC, hour ASC) peak tie order
      """WITH c AS (SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hr,
        |  CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, hr, cnt,
        |  row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, hr) AS rk
        |  FROM c),
        |s AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(sum(cnt * cnt) AS BIGINT) AS ss FROM c GROUP BY 1)
        |SELECT s.event_type, s.n,
        |  round(24.0 * s.ss / s.n - s.n, 6) AS chi2_r,
        |  CAST(r.hr AS BIGINT) AS peak_hour, r.cnt AS peak_cnt
        |FROM s JOIN r ON s.event_type = r.event_type AND r.rk = 1
        |ORDER BY 1""".stripMargin)) { (s, dir) =>
    val cells = events(s, dir)
      .withColumn("hr", expr("(__tsu div 3600000000) % 24"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("cnt"))
    cells
      .groupBy("event_type")
      .agg(sum(col("cnt")).as("n"),
        sum(col("cnt") * col("cnt")).as("__ss"),
        max(struct(col("cnt").as("c"), (-col("hr")).as("nh"))).as("__pk"))
      .select(col("event_type"), col("n"),
        round(lit(24.0) * col("__ss") / col("n") - col("n"), 6).as("chi2_r"),
        (-col("__pk.nh")).cast("long").as("peak_hour"),
        col("__pk.c").as("peak_cnt"))
      .orderBy("event_type")
  }

  /** A34: autocorrelation function of the hourly event-count series,
    * lags 1..12 per event_type — the periodicity diagnostic the a33
    * chi-square cannot give (chi-square says "hour mass is uneven",
    * ACF says "it repeats with period p": bot retry storms show as
    * spikes at their retry lag, diurnal traffic as a slow 12/24-hour
    * wave, white noise as ~0 everywhere). The series zero-fills the
    * full per-type hour spine (a29's discipline — a missing hour IS a
    * zero observation, and skipping it would misalign every lag), and
    * the statistic is INTEGER-EXACT: centered terms scaled by n
    * (cx = n*x - S), numerator sum(cx_t * cx_{t-k}), denominator
    * sum(cx^2) — the n^2 factor cancels in the ratio, so the only
    * float is the final rounded quotient. ONE window sort per type
    * computes all 12 lags (lag columns stacked back to rows — no
    * 12-way self-join), denominator folds once per type and broadcasts
    * back in-plan; everything after the hourly census is
    * spine-sized, not event-sized. */
  query("a34_acf_hourly", oracle = Some(
      // a34: same zero-filled spine and n-scaled integer centering; lags
      // as a 12-row cross join + equi-join on (type, h - k) — semantics
      // stated independently of the engine's window-lag implementation
      """WITH hc AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
        |    CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hc GROUP BY 1),
        |sp AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS h FROM b),
        |se AS (SELECT sp.event_type, sp.h, coalesce(hc.x, 0) AS x
        |       FROM sp LEFT JOIN hc ON sp.event_type = hc.event_type AND sp.h = hc.h),
        |st AS (SELECT event_type, sum(x) AS s, count(*) AS n FROM se GROUP BY 1),
        |c AS (SELECT se.event_type, h, n * x - s AS cx FROM se JOIN st USING (event_type)),
        |den AS (SELECT event_type, sum(cx * cx) AS den FROM c GROUP BY 1),
        |num AS (SELECT a.event_type, k.lag_k, sum(a.cx * p.cx) AS num
        |        FROM c a JOIN (SELECT unnest(range(1, 13)) AS lag_k) k ON true
        |        JOIN c p ON p.event_type = a.event_type AND p.h = a.h - k.lag_k
        |        GROUP BY 1, 2)
        |SELECT n.event_type, CAST(n.lag_k AS BIGINT) AS lag_k,
        |  CAST(n.num AS BIGINT) AS num, CAST(d.den AS BIGINT) AS den,
        |  round(CAST(n.num AS DOUBLE) / d.den, 6) AS acf_r
        |FROM num n JOIN den d USING (event_type)
        |ORDER BY n.event_type, n.lag_k""".stripMargin)) { (s, dir) =>
    val K = 12
    val hourly = events(s, dir)
      .withColumn("h", expr("__tsu div 3600000000"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("x"))
    val bounds = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
    val spine = bounds.select(col("event_type"),
      explode(sequence(col("h0"), col("h1"))).as("h"))
    val series = spine.join(hourly, Seq("event_type", "h"), "left_outer")
      .withColumn("x", coalesce(col("x"), lit(0L)))
    val stats = series.groupBy("event_type")
      .agg(sum("x").as("S"), count(lit(1)).as("n"))
    val c = series.join(broadcast(stats), Seq("event_type"))
      .withColumn("cx", col("n") * col("x") - col("S"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val lagged = (1 to K).foldLeft(c)((df, k) =>
      df.withColumn(s"l$k", lag("cx", k).over(w)))
    val stacked = lagged.select(col("event_type"), col("cx"), expr(
      s"stack($K, ${(1 to K).map(k => s"$k, l$k").mkString(", ")}) as (lag_k, cl)"))
    val den = c.groupBy("event_type").agg(sum(col("cx") * col("cx")).as("den"))
    stacked.filter(col("cl").isNotNull)
      .groupBy("event_type", "lag_k")
      .agg(sum(col("cx") * col("cl")).as("num"))
      .join(broadcast(den), Seq("event_type"))
      .select(col("event_type"), col("lag_k").cast("long").as("lag_k"),
        col("num"), col("den"),
        round(col("num").cast("double") / col("den"), 6).as("acf_r"))
      .orderBy("event_type", "lag_k")
  }

  /** A35: l-diversity census (Machanavajjhala et al. 2007 — the
    * homogeneity-attack gate k-anonymity misses: a class of >= k rows
    * still leaks when its SENSITIVE attribute is uniform; a30 counts
    * class sizes, THIS audits the sensitive distribution within each
    * class): per quasi-identifier class (nation, segment), the distinct
    * sensitive-value count (distinct-l), the top value's share in ppm
    * (the attacker's posterior), and the release verdict — ok /
    * k_fail (class too small) / l_fail (big enough but homogeneous).
    * Sensitive values derive from acctbal bands, with nations = 2 mod 5
    * planted to a single constant value (an all-same-diagnosis region)
    * so l_fail is live at every SF alongside ok and k_fail. One
    * corpus-sized (class, sensitive) census, then class-count-sized
    * folds — the audit never touches rows twice. */
  query("a35_ldiversity", oracle = Some(
      // a35: identical sensitive derivation (planted homogeneous nations),
      // (class, sens) census, class-sized fold, same verdict rule
      """WITH c AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    CASE WHEN c_nationkey % 5 = 4
        |         THEN c_mktsegment || '-' || CAST(c_custkey % 40 AS VARCHAR)
        |         ELSE c_mktsegment END AS segment,
        |    CASE WHEN c_nationkey % 5 = 2 THEN 'fixed'
        |         ELSE 'band' || CAST(CAST(floor(c_acctbal / 2000) AS BIGINT) AS VARCHAR)
        |    END AS sens
        |  FROM customer),
        |cells AS (SELECT nation, segment, sens, CAST(count(*) AS BIGINT) AS cnt
        |          FROM c GROUP BY 1, 2, 3)
        |SELECT nation, segment, CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS l_distinct,
        |  CAST(max(cnt) AS BIGINT) AS top_cnt,
        |  CAST((max(cnt) * 1000000) // sum(cnt) AS BIGINT) AS top_share_ppm,
        |  CASE WHEN sum(cnt) < 10 THEN 'k_fail'
        |       WHEN count(*) < 3 THEN 'l_fail' ELSE 'ok' END AS verdict
        |FROM cells GROUP BY nation, segment
        |ORDER BY nation, segment""".stripMargin)) { (s, dir) =>
    val k = 10L
    val l = 3L
    val c = tbl(s, dir, "customer").select(
      col("c_nationkey").cast("long").as("nation"),
      // nations = 4 mod 5 report a fine-grained sub-segment (the
      // over-specific QI that produces sub-k classes at EVERY SF — the
      // failure mode the k check exists for)
      when(col("c_nationkey") % 5 === 4,
        concat(col("c_mktsegment"), lit("-"),
          (col("c_custkey") % 40).cast("string")))
        .otherwise(col("c_mktsegment")).as("segment"),
      when(col("c_nationkey") % 5 === 2, lit("fixed"))
        .otherwise(concat(lit("band"),
          floor(col("c_acctbal") / 2000).cast("long").cast("string")))
        .as("sens"))
    c.groupBy("nation", "segment", "sens").agg(count(lit(1)).as("cnt"))
      .groupBy("nation", "segment")
      .agg(sum("cnt").as("n"), count(lit(1)).as("l_distinct"),
        max("cnt").as("top_cnt"))
      .withColumn("top_share_ppm", expr("(top_cnt * 1000000) div n"))
      .withColumn("verdict",
        when(col("n") < k, lit("k_fail"))
          .when(col("l_distinct") < l, lit("l_fail"))
          .otherwise(lit("ok")))
      .select(col("nation"), col("segment"), col("n"), col("l_distinct"),
        col("top_cnt"), col("top_share_ppm"), col("verdict"))
      .orderBy("nation", "segment")
  }

  /** A36: Benford first-digit census — the classic fabricated-data /
    * broken-ETL tripwire (naturally-grown multiplicative quantities
    * follow P(d) = log10(1 + 1/d); a synthesizer, a unit bug, or a
    * truncated export bends the curve long before totals move): first
    * significant digits taken from the INTEGER cents string (the
    * double never crosses an engine boundary — cast-to-string of
    * doubles differs between engines, of integers never), shares and
    * the Benford law both in integer ppm (law constants precomputed:
    * 301030, 176091, ...), excess = share - law is EXACT integer
    * arithmetic end to end. Per digit: over / under / near verdict at
    * +-35000 ppm (the synthetic prices deviate hard on most digits —
    * the tail digits sit near the law, keeping all three verdicts live
    * at every SF). One map-side census to 9 rows — scan-bound; the
    * 9-row total is a window over the aggregated frame, not the
    * corpus. */
  query("a36_benford", oracle = Some(
      // a36: same integer-cents first digit, same ppm integer arithmetic,
      // Benford constants as a VALUES table
      """WITH d AS (SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
        |b(digit, benford_ppm) AS (VALUES (1, 301030), (2, 176091), (3, 124939),
        |  (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
        |SELECT c.digit, c.cnt,
        |  CAST((c.cnt * 1000000) // t.n AS BIGINT) AS share_ppm,
        |  CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
        |  CAST((c.cnt * 1000000) // t.n - b.benford_ppm AS BIGINT) AS excess_ppm,
        |  CASE WHEN (c.cnt * 1000000) // t.n - b.benford_ppm > 35000 THEN 'over'
        |       WHEN (c.cnt * 1000000) // t.n - b.benford_ppm < -35000 THEN 'under'
        |       ELSE 'near' END AS verdict
        |FROM c JOIN b ON b.digit = c.digit CROSS JOIN t
        |ORDER BY c.digit""".stripMargin)) { (s, dir) =>
    val benford = typedLit(Map(1L -> 301030L, 2L -> 176091L, 3L -> 124939L,
      4L -> 96910L, 5L -> 79181L, 6L -> 66947L, 7L -> 57992L, 8L -> 51153L,
      9L -> 45757L))
    tbl(s, dir, "orders")
      .select(expr(
        "cast(substring(cast(cast(round(o_totalprice * 100) as bigint) as string), 1, 1) as bigint)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
      .withColumn("n", sum("cnt").over(Window.partitionBy()))
      .withColumn("share_ppm", expr("(cnt * 1000000) div n"))
      .withColumn("benford_ppm", element_at(benford, col("digit")))
      .withColumn("excess_ppm", col("share_ppm") - col("benford_ppm"))
      .withColumn("verdict",
        when(col("excess_ppm") > 35000, lit("over"))
          .when(col("excess_ppm") < -35000, lit("under"))
          .otherwise(lit("near")))
      .select(col("digit"), col("cnt"), col("share_ppm"), col("benford_ppm"),
        col("excess_ppm"), col("verdict"))
      .orderBy("digit")
  }

  /** A37: CUSUM changepoint census — the third member of the
    * time-series triptych (a31/t36 = BETWEEN-snapshot drift, a34 =
    * periodicity, THIS = WHEN did the level shift WITHIN one series:
    * the deploy-broke-ingestion / bot-wave-started locator). Per
    * event_type over the zero-filled hour spine: the classic offline
    * CUSUM argmax — C_t = |n*P_t - t*S| maximized over split points
    * (prefix sums from ONE window sort per type, spine-sized), then
    * the shift priced as the relative mean difference in EXACT integer
    * ppm via cross-multiplication (1e6 * n * |P(n-t) - (S-P)t| div
    * (S t (n-t))) — verdict 'shift' at >= 10%. The plant: 'click'
    * events from users = 0 mod 3 stop at 2024-01-16T00:00Z (a fixed
    * absolute cut both engines state verbatim) — a ~33% level drop the
    * detector must locate, while the untouched types stay 'stable';
    * both verdicts live at every SF. Ties in C_t break to the earliest
    * split. */
  query("a37_cusum", oracle = Some(
      // a37: same plant cut, zero-filled spine, integer CUSUM argmax
      // (earliest-split tiebreak) and cross-multiplied ppm verdict
      """WITH e AS (SELECT event_type, epoch_us(ts) AS tu, user_id FROM events
        |  WHERE NOT (event_type = 'click' AND epoch_us(ts) >= 1705363200000000
        |             AND user_id % 3 = 0)),
        |hc AS (SELECT event_type, tu // 3600000000 AS h, CAST(count(*) AS BIGINT) AS x
        |       FROM e GROUP BY 1, 2),
        |b AS (SELECT event_type, min(h) AS h0, max(h) AS h1 FROM hc GROUP BY 1),
        |sp AS (SELECT event_type, h0, unnest(range(h0, h1 + 1)) AS h FROM b),
        |se AS (SELECT sp.event_type, sp.h0, sp.h, coalesce(hc.x, 0) AS x
        |       FROM sp LEFT JOIN hc ON sp.event_type = hc.event_type AND sp.h = hc.h),
        |st AS (SELECT event_type, sum(x) AS s_total, count(*) AS n FROM se GROUP BY 1),
        |cu AS (SELECT se.event_type, st.s_total, st.n, se.h0,
        |         se.h - se.h0 + 1 AS t,
        |         sum(x) OVER (PARTITION BY se.event_type ORDER BY se.h
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |       FROM se JOIN st USING (event_type)),
        |cc AS (SELECT *, abs(n * p - t * s_total) AS c FROM cu WHERE t < n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY c DESC, t) AS rn FROM cc)
        |SELECT event_type, CAST(n AS BIGINT) AS n, CAST(s_total AS BIGINT) AS s_total,
        |  CAST(t AS BIGINT) AS cp_t, CAST(h0 + t AS BIGINT) AS cp_hour,
        |  CAST(c AS BIGINT) AS cusum,
        |  CAST((1000000 * n * abs(p * (n - t) - (s_total - p) * t))
        |    // (s_total * t * (n - t)) AS BIGINT) AS reldiff_ppm,
        |  CASE WHEN (1000000 * n * abs(p * (n - t) - (s_total - p) * t))
        |    // (s_total * t * (n - t)) >= 100000 THEN 'shift' ELSE 'stable' END AS verdict
        |FROM r WHERE rn = 1
        |ORDER BY event_type""".stripMargin)) { (s, dir) =>
    val cutUs = 1705363200000000L // 2024-01-16T00:00:00Z
    val e = events(s, dir).filter(!(col("event_type") === "click" &&
      col("__tsu") >= cutUs && col("user_id") % 3 === 0))
    val hourly = e.withColumn("h", expr("__tsu div 3600000000"))
      .groupBy("event_type", "h").agg(count(lit(1)).as("x"))
    val bounds = hourly.groupBy("event_type")
      .agg(min("h").as("h0"), max("h").as("h1"))
    val spine = bounds.select(col("event_type"), col("h0"),
      explode(sequence(col("h0"), col("h1"))).as("h"))
    val series = spine.join(hourly, Seq("event_type", "h"), "left_outer")
      .withColumn("x", coalesce(col("x"), lit(0L)))
    val stats = series.groupBy("event_type")
      .agg(sum("x").as("s_total"), count(lit(1)).as("n"))
    val wc = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = series.join(broadcast(stats), Seq("event_type"))
      .withColumn("t", col("h") - col("h0") + 1)
      .withColumn("p", sum("x").over(wc))
      .filter(col("t") < col("n"))
      .withColumn("c", abs(col("n") * col("p") - col("t") * col("s_total")))
    cum.groupBy("event_type", "s_total", "n", "h0")
      .agg(max(struct(col("c"), (-col("t")).as("nt"), col("p"))).as("__b"))
      .withColumn("cp_t", -col("__b.nt"))
      .withColumn("__num", abs(col("__b.p") * (col("n") - col("cp_t"))
        - (col("s_total") - col("__b.p")) * col("cp_t")))
      .withColumn("reldiff_ppm", expr(
        "(1000000 * n * __num) div (s_total * cp_t * (n - cp_t))"))
      .select(col("event_type"), col("n"), col("s_total"),
        col("cp_t"), (col("h0") + col("cp_t")).as("cp_hour"),
        col("__b.c").as("cusum"), col("reldiff_ppm"),
        when(col("reldiff_ppm") >= 100000, lit("shift"))
          .otherwise(lit("stable")).as("verdict"))
      .orderBy("event_type")
  }

  /** A38: source-concentration census (Gini + top-k shares) — the
    * corpus-governance number behind "is the dataset really diverse or
    * is it one crawl wearing twenty hats": per measure (doc count and
    * token mass), the EXACT-integer Gini coefficient in ppm over the
    * per-source masses — for sorted x_1 <= ... <= x_n, G = (2*sum(i *
    * x_i) - (n+1)*S) / (n*S), cross-multiplied so no float exists —
    * plus the top-1 and top-5 source shares in ppm (the practical
    * dominance numbers a mixture rebalance consumes; t13/t23 enforce
    * quotas, THIS measures whether they are needed). One corpus-sized
    * census to |sources| rows; the rank window, folds, and shares all
    * run on the 20-row aggregate. */
  query("a38_gini_sources", oracle = Some(
      // a38: same per-source census, rank window on the aggregate, exact
      // cross-multiplied Gini and top-k shares
      """WITH bs AS (SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |    CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY 1),
        |m AS (SELECT source, 'docs' AS measure, docs AS x FROM bs
        |      UNION ALL SELECT source, 'tokens', toks FROM bs),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY measure ORDER BY x, source) AS BIGINT) AS i,
        |        CAST(count(*) OVER (PARTITION BY measure) AS BIGINT) AS nw
        |      FROM m),
        |g AS (SELECT measure, CAST(count(*) AS BIGINT) AS n_sources,
        |        CAST(sum(x) AS BIGINT) AS total,
        |        CAST(sum(i * x) AS BIGINT) AS iwx,
        |        CAST(sum(CASE WHEN i > nw - 1 THEN x ELSE 0 END) AS BIGINT) AS t1,
        |        CAST(sum(CASE WHEN i > nw - 5 THEN x ELSE 0 END) AS BIGINT) AS t5
        |      FROM r GROUP BY 1)
        |SELECT measure, n_sources, total,
        |  CAST((1000000 * (2 * iwx - (n_sources + 1) * total)) // (n_sources * total) AS BIGINT)
        |    AS gini_ppm,
        |  CAST((t1 * 1000000) // total AS BIGINT) AS top1_ppm,
        |  CAST((t5 * 1000000) // total AS BIGINT) AS top5_ppm
        |FROM g ORDER BY measure""".stripMargin)) { (s, dir) =>
    val bySrc = tbl(s, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("docs"),
        sum(size(split(coalesce(col("text"), lit("")), " "))).cast("long")
          .as("toks"))
    val m = bySrc.select(col("source"), lit("docs").as("measure"),
        col("docs").as("x"))
      .unionByName(bySrc.select(col("source"), lit("tokens").as("measure"),
        col("toks").as("x")))
    val w = Window.partitionBy("measure").orderBy("x", "source")
    val ranked = m.withColumn("i", row_number().over(w).cast("long"))
      .withColumn("nw", count(lit(1)).over(Window.partitionBy("measure")))
    ranked.groupBy("measure")
      .agg(count(lit(1)).as("n_sources"), sum("x").as("total"),
        sum(col("i") * col("x")).as("__iwx"),
        sum(when(col("i") > col("nw") - 1, col("x")).otherwise(0L)).as("__t1"),
        sum(when(col("i") > col("nw") - 5, col("x")).otherwise(0L)).as("__t5"))
      .withColumn("gini_ppm", expr(
        "(1000000 * (2 * __iwx - (n_sources + 1) * total)) div (n_sources * total)"))
      .select(col("measure"), col("n_sources"), col("total"), col("gini_ppm"),
        expr("(__t1 * 1000000) div total").as("top1_ppm"),
        expr("(__t5 * 1000000) div total").as("top5_ppm"))
      .orderBy("measure")
  }

  /** A39: Spearman rank correlation — the robust sibling a09's Pearson
    * cannot be (rank-based: outliers and any monotone rescaling leave
    * rho untouched): per event_type over its USERS, does activity
    * predict spend — rho(n_events, total value) reads strongly
    * positive BY CONSTRUCTION (more events sum to more value: the live
    * positive class), while rho(n_events, AVG value) reads ~0 (uniform
    * per-event values: the live null class) — the pair a fraud screen
    * actually compares, since a positive avg-rho is the "whales spend
    * MORE PER EVENT" signal. Ties get textbook average ranks kept
    * INTEGER by doubling (2*avg = 2*min_rank + tie_count - 1); rho is
    * corr() of the doubled ranks (scaling-invariant), rounded 6. Per
    * type: one user fold, two rank windows over |users| rows, one
    * corr aggregate — everything after the per-user fold is
    * user-count-sized.
    * try_divide keeps a zero-variance group's rho NULL instead of throwing
    * under ANSI. */
  query("a39_spearman", oracle = Some(
      // a39: same per-user fold, doubled average ranks, corr() of ranks
      """WITH pu AS (SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_ev,
        |    round(sum(value), 2) AS sum_v
        |  FROM events GROUP BY 1, 2),
        |pu2 AS (SELECT *, sum_v / n_ev AS avg_v FROM pu),
        |r AS (SELECT event_type,
        |    CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY n_ev)
        |      + count(*) OVER (PARTITION BY event_type, n_ev) - 1 AS DOUBLE) AS r_n,
        |    CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY sum_v)
        |      + count(*) OVER (PARTITION BY event_type, sum_v) - 1 AS DOUBLE) AS r_s,
        |    CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY avg_v)
        |      + count(*) OVER (PARTITION BY event_type, avg_v) - 1 AS DOUBLE) AS r_a
        |  FROM pu2)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |  round(corr(r_n, r_s), 6) AS rho_sum_r,
        |  round(corr(r_n, r_a), 6) AS rho_avg_r
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin)) { (s, dir) =>
    val perUser = events(s, dir)
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("n_ev"), round(sum("value"), 2).as("sum_v"))
      .withColumn("avg_v", col("sum_v") / col("n_ev"))
    def ranked2(c: String, out: String)(df: DataFrame): DataFrame = df
      .withColumn("__r", rank().over(
        Window.partitionBy("event_type").orderBy(col(c))).cast("long"))
      .withColumn("__c", count(lit(1)).over(
        Window.partitionBy(col("event_type"), col(c))))
      .withColumn(out, (lit(2) * col("__r") + col("__c") - 1).cast("double"))
      .drop("__r", "__c")
    val r = ranked2("n_ev", "r_n")(
      ranked2("sum_v", "r_s")(ranked2("avg_v", "r_a")(perUser)))
    // corr() under ANSI throws DIVIDE_BY_ZERO on a zero-variance side
    // (an all-tied rank column is legitimate input); try_divide of the
    // explicit moments returns the null DuckDB's corr() gives
    r.groupBy("event_type")
      .agg(count(lit(1)).as("n_users"),
        round(expr(
          "try_divide(covar_samp(r_n, r_s), stddev_samp(r_n) * stddev_samp(r_s))"),
          6).as("rho_sum_r"),
        round(expr(
          "try_divide(covar_samp(r_n, r_a), stddev_samp(r_n) * stddev_samp(r_a))"),
          6).as("rho_avg_r"))
      .orderBy("event_type")
  }

  /** A31: exact two-sample Kolmogorov-Smirnov drift per event_type —
    * t36's numeric sibling (PSI watches categorical token mass, KS
    * watches a continuous feature's whole CDF): between two snapshots
    * (user_id parity as the deterministic dump-id stand-in), the KS
    * statistic D = max |ecdf_A - ecdf_B| over `value`, computed as the
    * INTEGER cross-multiplication max |cumA * nB - cumB * nA| so the
    * reported statistic is exact (the only float is the final rounded
    * ratio). Tie-safe by construction: cumulative counts are
    * aggregated per distinct value with max(), and because both
    * running counts are nondecreasing, the max within a tie group is
    * attained at the group's last row — inclusive-through-v counts on
    * both engines regardless of their tie order.
    *
    * Scale shape: ONE window sort per event_type (exact KS is
    * sort-bound by definition) + a distinct-value dedup + a broadcast
    * of the per-type totals (#event_types rows). At corpus scale the
    * exact sort swaps for the a22 binned-histogram KS (D evaluated at
    * bin edges, error bounded by bin width) — kept exact here because
    * the driver hash-compares D's integer numerator. */
  query("a31_ks_drift", oracle = Some(
      // exact two-sample KS per event_type between user_id-parity
      // snapshots: identical running-count construction; the statistic is
      // the INTEGER max |cumA*nB - cumB*nA| (tie-safe: per-distinct-value
      // max of a nondecreasing running count = inclusive-through-v count
      // on both engines regardless of tie order); only the final rounded
      // ratio is floating
      """WITH e AS (SELECT event_type, value,
        |             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
        |           FROM events),
        |c AS (SELECT event_type, value,
        |        sum(a) OVER (PARTITION BY event_type ORDER BY value
        |                     ROWS UNBOUNDED PRECEDING) AS ca,
        |        sum(1 - a) OVER (PARTITION BY event_type ORDER BY value
        |                         ROWS UNBOUNDED PRECEDING) AS cb
        |      FROM e),
        |g AS (SELECT event_type, value, max(ca) AS ca, max(cb) AS cb
        |      FROM c GROUP BY 1, 2),
        |t AS (SELECT event_type, max(ca) AS n_a, max(cb) AS n_b
        |      FROM g GROUP BY 1)
        |SELECT g.event_type, CAST(n_a AS BIGINT) AS n_a,
        |       CAST(n_b AS BIGINT) AS n_b,
        |       CAST(max(abs(ca * n_b - cb * n_a)) AS BIGINT) AS d_num,
        |       round(max(abs(ca * n_b - cb * n_a)) / (1.0 * n_a * n_b), 6) AS ks_r
        |FROM g JOIN t USING (event_type)
        |GROUP BY 1, n_a, n_b ORDER BY 1""".stripMargin)) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = events(s, dir).select(col("event_type"), col("value"),
      when(col("user_id") % 2 === 0, 1L).otherwise(0L).as("__a"))
    val w = Window.partitionBy("event_type").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = e
      .withColumn("__ca", sum(col("__a")).over(w))
      .withColumn("__cb", sum(lit(1L) - col("__a")).over(w))
      .groupBy("event_type", "value")
      .agg(max("__ca").as("__ca"), max("__cb").as("__cb"))
    val tot = cums.groupBy("event_type")
      .agg(max("__ca").as("n_a"), max("__cb").as("n_b"))
    cums.join(broadcast(tot), Seq("event_type"))
      .groupBy(col("event_type"), col("n_a"), col("n_b"))
      .agg(max(abs(col("__ca") * col("n_b") - col("__cb") * col("n_a")))
        .as("d_num"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("d_num"),
        round(col("d_num") / (col("n_a") * col("n_b")).cast("double"), 6)
          .as("ks_r"))
      .orderBy("event_type")
  }

  /** A40: Theil-Sen robust trend (the median-slope estimator — the
    * trend a19's OLS cannot be trusted for when one hour spikes: OLS
    * drags toward any outlier, Theil-Sen is the MEDIAN of all pairwise
    * slopes, with a 29% breakdown point — the corpus-health "is ingest
    * actually drifting or did one hour burst" number, completing the
    * robust family a25 MAD / a39 Spearman started): per day, hourly
    * event counts (<= 24 points, so the pairwise fan-out is <= 276 BY
    * CONSTRUCTION — the self-join is an equi-join on day, never
    * corpus^2), slope of each (hi < hj) pair = exact-integer deltas
    * divided once in doubles, and the day's estimate is the VALUE at
    * lower-median rank over (slope, hi, hj) — value-at-rank is
    * tie-order-independent, the u02 discipline. Days with a single
    * live hour have no pairs and are absent (a slope needs two
    * points). One count fold + one bounded per-day join + one window
    * sort per day. */
  query("a40_theil_sen", oracle = Some(
      // a40: hourly counts per day, bounded pairwise slopes (<= 276/day),
      // value at lower-median rank over (slope, hi, hj)
      """WITH hc AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    (epoch_us(ts) // 3600000000) % 24 AS h, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT a.day, a.h AS hi, b.h AS hj,
        |    CAST(b.c - a.c AS DOUBLE) / (b.h - a.h) AS slope
        |  FROM hc a JOIN hc b ON a.day = b.day AND a.h < b.h),
        |r AS (SELECT *, row_number() OVER (
        |      PARTITION BY day ORDER BY slope, hi, hj) AS rk,
        |    count(*) OVER (PARTITION BY day) AS np FROM p),
        |nh AS (SELECT day, CAST(count(*) AS BIGINT) AS n_hours
        |       FROM hc GROUP BY 1)
        |SELECT r.day, nh.n_hours, CAST(r.np AS BIGINT) AS n_pairs,
        |  round(r.slope, 6) AS slope
        |FROM r JOIN nh USING (day)
        |WHERE rk = (np + 1) // 2
        |ORDER BY r.day""".stripMargin)) { (s, dir) =>
    val hc = events(s, dir)
      .select(expr("__tsu div 86400000000").as("day"),
        expr("(__tsu div 3600000000) % 24").as("h"))
      .groupBy("day", "h").agg(count(lit(1)).as("c"))
    val pairs = hc.select(col("day"), col("h").as("hi"), col("c").as("ci"))
      .join(hc.select(col("day"), col("h").as("hj"), col("c").as("cj")),
        Seq("day"))
      .filter(col("hi") < col("hj"))
      .withColumn("slope",
        (col("cj") - col("ci")).cast("double") / (col("hj") - col("hi")))
    val wd = Window.partitionBy("day")
    pairs
      .withColumn("rk", row_number().over(
        wd.orderBy(col("slope"), col("hi"), col("hj"))))
      .withColumn("np", count(lit(1)).over(wd))
      .filter(col("rk") === expr("(np + 1) div 2"))
      .join(hc.groupBy("day").agg(count(lit(1)).as("n_hours")), Seq("day"))
      .select(col("day"), col("n_hours"), col("np").as("n_pairs"),
        round(col("slope"), 6).as("slope"))
      .orderBy("day")
  }

  /** A43: decile gains/lift table (the OTHER half of classifier
    * evaluation — a41's AUC is one number, THIS is the deployment
    * curve: rank by score, cut into deciles, and read off how much of
    * the positive class the top-k% captures (campaign targeting, fraud
    * review queues and quality-threshold picks are all "how deep do I
    * dig" decisions made off this table)): label = a deterministic 20%
    * md5 plant, score = balance cents shifted for positives (so the
    * ranking is informative but imperfect — every decile is live);
    * deciles via ntile(10) over (score DESC, key) — the tie-break
    * makes bucket assignment total and engine-agnostic; per-decile
    * and CUMULATIVE positive counts fold exactly, lift = ONE ppm
    * integer division of exact integers (cum_pos * total_n vs cum_n *
    * total_pos) — no float anywhere. One window sort (the decile cut)
    * + one 10-row fold + a 10-row running window. */
  query("a43_gains_table", oracle = Some(
      // a43: same plant, ntile over (score DESC, key), exact cumulative
      // folds, ppm divisions of exact integers
      """WITH c AS (SELECT c_custkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents,
        |    CAST('0x' || substring(md5('chrn:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 5 = 0 AS label
        |  FROM customer),
        |s AS (SELECT *, cents + CASE WHEN label THEN 2000 ELSE 0 END AS score
        |      FROM c),
        |d AS (SELECT CAST(ntile(10) OVER (ORDER BY score DESC, c_custkey) AS BIGINT)
        |        AS decile, label FROM s),
        |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |      FROM d GROUP BY 1),
        |r AS (SELECT *, CAST(sum(n) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
        |        CAST(sum(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
        |        CAST(sum(n) OVER () AS BIGINT) AS tot_n,
        |        CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos
        |      FROM g)
        |SELECT decile, n, n_pos, (1000000 * n_pos) // n AS rate_ppm, cum_pos,
        |  CAST((CAST(1000000 AS HUGEINT) * cum_pos * tot_n)
        |    // (CAST(cum_n AS HUGEINT) * tot_pos) AS BIGINT) AS cum_lift_ppm
        |FROM r ORDER BY decile""".stripMargin)) { (s, dir) =>
    val c = tbl(s, dir, "customer").select(col("c_custkey"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("cents"),
      expr("cast(conv(substring(md5(concat('chrn:', cast(c_custkey as string))),1,8),16,10) as bigint) % 5 = 0")
        .as("label"))
      .withColumn("score",
        col("cents") + when(col("label"), lit(2000L)).otherwise(lit(0L)))
    val dec = c.withColumn("decile", ntile(10).over(
        Window.orderBy(col("score").desc, col("c_custkey"))).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_pos", sum("n_pos").over(w))
      .crossJoin(broadcast(dec.agg(sum("n").as("tot_n"),
        sum("n_pos").as("tot_pos"))))
      .select(col("decile"), col("n"), col("n_pos"),
        expr("(1000000 * n_pos) div n").as("rate_ppm"),
        col("cum_pos"),
        // lift multiplies three corpus-sized terms — at ~1e7+ rows the
        // BIGINT product would wrap silently (non-ANSI) while the oracle
        // raises; widen intermediates to DECIMAL(38,0) (div → BIGINT).
        expr("(cast(1000000 as decimal(38,0)) * cum_pos * tot_n) " +
          "div (cast(cum_n as decimal(38,0)) * tot_pos)")
          .as("cum_lift_ppm"))
      .orderBy("decile")
  }

  /** A45: seasonal-naive backtest (the forecasting-evaluation family
    * opener — before any model earns a slot, it must beat the
    * cheapest seasonal baseline "this hour = the same hour yesterday";
    * this census IS that baseline's scorecard, the denominator of
    * every MASE-style skill metric): per (event_type, absolute hour)
    * exact counts, forecast = the count 24 hours earlier (ONE
    * self-equi-join on the shifted hour key — never a window over the
    * whole series), errors exact integers, and the two deployment
    * numbers per type: MAE ppm and WAPE ppm (total |err| over total
    * actual — the aggregate-safe form of MAPE that a zero-actual hour
    * cannot blow up). Only hours with BOTH an actual and a lag-24
    * counterpart score (the backtest convention). One count fold + one
    * shifted equi-join + one per-type fold; ppm divisions of exact
    * integers — no float. */
  query("a45_seasonal_backtest", oracle = Some(
      // a45: hourly counts, forecast = the lag-24 count via a shifted
      // equi-join, integer error folds, two ppm divisions
      """WITH hc AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT a.event_type, a.c, f.c AS f, abs(a.c - f.c) AS abs_err
        |      FROM hc a JOIN hc f
        |        ON a.event_type = f.event_type AND a.hr = f.hr + 24)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |  CAST(sum(c) AS BIGINT) AS total_actual,
        |  CAST(sum(abs_err) AS BIGINT) AS total_abs_err,
        |  (1000000 * CAST(sum(abs_err) AS BIGINT)) // CAST(count(*) AS BIGINT)
        |    AS mae_uhr,
        |  (1000000 * CAST(sum(abs_err) AS BIGINT)) // CAST(sum(c) AS BIGINT)
        |    AS wape_ppm
        |FROM s GROUP BY event_type
        |ORDER BY event_type""".stripMargin)) { (s, dir) =>
    val hc = events(s, dir)
      .select(col("event_type"), expr("__tsu div 3600000000").as("hr"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("c"))
    val scored = hc.join(
        hc.select(col("event_type"), (col("hr") + 24).as("hr"),
          col("c").as("f")),
        Seq("event_type", "hr"))
      .withColumn("abs_err", abs(col("c") - col("f")))
    scored.groupBy("event_type")
      .agg(count(lit(1)).as("n_hours"),
        sum("c").as("total_actual"),
        sum("abs_err").as("total_abs_err"))
      .select(col("event_type"), col("n_hours"), col("total_actual"),
        col("total_abs_err"),
        expr("(1000000 * total_abs_err) div n_hours").as("mae_uhr"),
        expr("(1000000 * total_abs_err) div total_actual").as("wape_ppm"))
      .orderBy("event_type")
  }

  /** A44: calibration census / ECE (the THIRD leg of classifier
    * evaluation — a41's AUC says the model RANKS well, a43's gains say
    * how deep to dig, THIS asks whether the scores MEAN what they say:
    * a "0.8" bucket should convert 80% of the time — the property
    * thresholded decisions and expected-cost formulas silently assume;
    * reliability diagram + expected calibration error): predictions =
    * a deterministic ppm plant where positives skew high but overlap
    * (so bins are mixed and gaps live), 10 equal-width ppm bins;
    * per bin the OBSERVED rate and MEAN prediction are single integer
    * ppm divisions, the gap their absolute difference, and ECE = the
    * n-weighted gap sum divided ONCE — every number exact-integer, NO
    * float. One corpus fold to bins + a 10-row fold + a broadcast
    * 1-row ECE attach. */
  query("a44_calibration", oracle = Some(
      // a44: same plants, equal-width ppm bins, integer ppm divisions,
      // n-weighted gap sum divided once
      """WITH c AS (SELECT c_custkey,
        |    CAST('0x' || substring(md5('chrn:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 5 = 0 AS label,
        |    CAST('0x' || substring(md5('pred:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 500000 AS h
        |  FROM customer),
        |p AS (SELECT *, h + CASE WHEN label THEN 400000 ELSE 50000 END AS pred_ppm
        |      FROM c),
        |b AS (SELECT pred_ppm // 100000 AS bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(pred_ppm) AS BIGINT) AS sum_pred
        |  FROM p GROUP BY 1),
        |g AS (SELECT bin, n, n_pos, sum_pred // n AS mean_pred_ppm,
        |    (1000000 * n_pos) // n AS obs_ppm,
        |    abs((1000000 * n_pos) // n - sum_pred // n) AS gap_ppm FROM b),
        |e AS (SELECT CAST(sum(n * gap_ppm) // sum(n) AS BIGINT) AS ece_ppm FROM g)
        |SELECT g.bin, g.n, g.n_pos, g.mean_pred_ppm, g.obs_ppm, g.gap_ppm,
        |  e.ece_ppm
        |FROM g CROSS JOIN e ORDER BY g.bin""".stripMargin)) { (s, dir) =>
    val c = tbl(s, dir, "customer").select(col("c_custkey"),
      expr("cast(conv(substring(md5(concat('chrn:', cast(c_custkey as string))),1,8),16,10) as bigint) % 5 = 0")
        .as("label"),
      expr("cast(conv(substring(md5(concat('pred:', cast(c_custkey as string))),1,8),16,10) as bigint) % 500000")
        .as("h"))
      .withColumn("pred_ppm",
        col("h") + when(col("label"), lit(400000L)).otherwise(lit(50000L)))
    val bins = c
      .withColumn("bin", expr("pred_ppm div 100000"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(when(col("label"), 1L).otherwise(0L)).as("n_pos"),
        sum("pred_ppm").as("sum_pred"))
      .withColumn("mean_pred_ppm", expr("sum_pred div n"))
      .withColumn("obs_ppm", expr("(1000000 * n_pos) div n"))
      .withColumn("gap_ppm", abs(col("obs_ppm") - col("mean_pred_ppm")))
    val ece = bins.agg(expr("sum(n * gap_ppm) div sum(n)").as("ece_ppm"))
    bins.crossJoin(broadcast(ece))
      .select(col("bin"), col("n"), col("n_pos"), col("mean_pred_ppm"),
        col("obs_ppm"), col("gap_ppm"), col("ece_ppm"))
      .orderBy("bin")
  }

  /** A46: Cohen's kappa — inter-annotator agreement, the label-QUALITY
    * census the evaluation family (a41 AUC ranks, a43 gains deploys,
    * a44 ECE calibrates) still lacked: before any label trains or
    * evaluates a model, "do two raters even agree beyond chance?" is
    * the gate (kappa is THE standard: raw agreement po is inflated by
    * chance agreement pe whenever classes are imbalanced; kappa =
    * (po - pe) / (1 - pe) corrects it). Fixture: two deterministic
    * md5 raters over 3 classes — rater B copies A on a planted ~3/5
    * of keys and otherwise picks a DIFFERENT class, so po (forced +
    * chance diagonal) and pe (marginal products) are both live and
    * po > pe by construction (kappa stays positive — integer division
    * below truncates toward zero in Spark but floors in DuckDB, so the
    * fixture keeps every division on positive operands). All integer:
    * po_ppm exact, pe_ppm = 1e6 * sum_c(nA_c * nB_c) / n^2 with
    * DECIMAL(38,0)/HUGEINT intermediates (the a43 overflow
    * discipline — the marginal product is corpus^2-sized), kappa_ppm
    * one ppm division of exact integers. One corpus fold to the 3x3
    * confusion diagonal + two 3-row marginal folds + a broadcast
    * 1-row summary attach. */
  query("a46_cohens_kappa", oracle = Some(
      // a46: same md5 raters, 3x3 confusion marginals/diagonal, po/pe/kappa
      // as exact ppm integer divisions (HUGEINT for the marginal product —
      // all operands positive by fixture construction, so DuckDB's floor
      // division and Spark's truncate-toward-zero div agree)
      """WITH r AS (SELECT c_custkey AS key,
        |    CAST('0x' || substring(md5('ra:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 3 AS a,
        |    CAST('0x' || substring(md5('rb:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 5 AS agree_roll,
        |    CAST('0x' || substring(md5('rc:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 2 AS shift
        |  FROM customer),
        |rb AS (SELECT key, a,
        |    CASE WHEN agree_roll < 3 THEN a ELSE (a + 1 + shift) % 3 END AS b
        |  FROM r),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS n_agree FROM rb),
        |ma AS (SELECT a AS class, CAST(count(*) AS BIGINT) AS n_a FROM rb GROUP BY 1),
        |mb AS (SELECT b AS class, CAST(count(*) AS BIGINT) AS n_b FROM rb GROUP BY 1),
        |dg AS (SELECT a AS class, CAST(count(*) AS BIGINT) AS n_both FROM rb WHERE a = b GROUP BY 1),
        |pc AS (SELECT coalesce(ma.class, mb.class, dg.class) AS class,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
        |    coalesce(n_both, 0) AS n_both
        |  FROM ma FULL JOIN mb ON ma.class = mb.class
        |  FULL JOIN dg ON coalesce(ma.class, mb.class) = dg.class),
        |sm AS (SELECT n, n_agree,
        |    (1000000 * n_agree) // n AS po_ppm,
        |    CAST((CAST(1000000 AS HUGEINT) * marg)
        |      // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm
        |  FROM (SELECT any_value(n) AS n, any_value(n_agree) AS n_agree,
        |          CAST(sum(CAST(n_a AS HUGEINT) * n_b) AS HUGEINT) AS marg
        |        FROM pc CROSS JOIN tot)),
        |sm2 AS (SELECT n, n_agree, po_ppm, pe_ppm,
        |    (1000000 * (po_ppm - pe_ppm)) // (1000000 - pe_ppm) AS kappa_ppm
        |  FROM sm)
        |SELECT pc.class, pc.n_a, pc.n_b, pc.n_both,
        |  sm2.n, sm2.n_agree, sm2.po_ppm, sm2.pe_ppm, sm2.kappa_ppm
        |FROM pc CROSS JOIN sm2 ORDER BY pc.class""".stripMargin)) { (s, dir) =>
    val r = tbl(s, dir, "customer").select(col("c_custkey").as("key"),
      expr("cast(conv(substring(md5(concat('ra:', cast(c_custkey as string))),1,8),16,10) as bigint) % 3")
        .as("a"),
      expr("cast(conv(substring(md5(concat('rb:', cast(c_custkey as string))),1,8),16,10) as bigint) % 5")
        .as("agree_roll"),
      expr("cast(conv(substring(md5(concat('rc:', cast(c_custkey as string))),1,8),16,10) as bigint) % 2")
        .as("shift"))
      .withColumn("b", when(col("agree_roll") < 3, col("a"))
        .otherwise((col("a") + lit(1L) + col("shift")) % 3))
    val tot = r.agg(count(lit(1)).as("n"),
      sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("n_agree"))
    val ma = r.groupBy(col("a").as("class")).agg(count(lit(1)).as("n_a"))
    val mb = r.groupBy(col("b").as("class")).agg(count(lit(1)).as("n_b"))
    val diag = r.filter(col("a") === col("b"))
      .groupBy(col("a").as("class")).agg(count(lit(1)).as("n_both"))
    val perClass = ma.join(mb, Seq("class"), "full")
      .join(diag, Seq("class"), "full")
      .select(col("class"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("n_both"), lit(0L)).as("n_both"))
    val summary = perClass.crossJoin(broadcast(tot))
      .agg(first(col("n")).as("n"), first(col("n_agree")).as("n_agree"),
        expr("sum(cast(n_a as decimal(38,0)) * n_b)").as("marg"))
      .select(col("n"), col("n_agree"),
        expr("(1000000 * n_agree) div n").as("po_ppm"),
        expr("(cast(1000000 as decimal(38,0)) * marg) div (cast(n as decimal(38,0)) * n)")
          .as("pe_ppm"))
      .select(col("n"), col("n_agree"), col("po_ppm"), col("pe_ppm"),
        expr("(1000000 * (po_ppm - pe_ppm)) div (1000000 - pe_ppm)")
          .as("kappa_ppm"))
    perClass.crossJoin(broadcast(summary)).orderBy("class")
  }

  /** A48: Krippendorff's alpha — a46's kappa generalized to the shape
    * real annotation tables actually have: MISSING ratings (raters skip
    * items; kappa needs a complete two-rater grid, alpha is THE
    * standard whenever coverage is partial or raters > 2). Nominal
    * form: alpha = 1 - Do/De over the coincidence matrix, where each
    * item with m_u >= 2 ratings contributes its ordered rating pairs
    * weighted 1/(m_u - 1). With 3 raters m_u is 2 or 3, so DOUBLING
    * the per-item disagreement (2 * d_u / (m_u - 1) is 2*d_u or d_u —
    * both integers) keeps the whole computation exact: d_u =
    * m_u(m_u-1) - sum_c r_uc(r_uc-1) (ordered pairs minus agreeing
    * ones), marginals n_c are plain rating counts over kept items, and
    * alpha_ppm = 1e6 - (1e6 * O2 * (n-1)) div (2 * (n^2 - sum n_c^2))
    * — ONE truncating division on positive operands (fixture keeps
    * agreement above chance), DECIMAL(38,0)/HUGEINT because n_c
    * products are corpus^2-sized (the a43/a46/a47 discipline).
    * Fixture: 3 md5 raters, each covering a planted ~2/3 of items,
    * ~3/4 of ratings copying the item's base class — missingness,
    * m_u=2 vs 3, agreement and disagreement all live. Shape: one scan
    * exploding 3 in-row rater structs (map-only), a per-(item, class)
    * fold, a per-item fold, 3-row marginals, broadcast summary. */
  query("a48_krippendorff", oracle = Some(
      // a48: same md5 raters/coverage/shift plants, per-(item, class) counts,
      // doubled per-item disagreement keeps 1/(m_u - 1) integral (m_u in
      // {2, 3}), one truncating ppm division with HUGEINT intermediates
      """WITH base AS (SELECT c_custkey AS key,
        |    CAST('0x' || substring(md5('kb:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 3 AS base
        |  FROM customer),
        |rt AS (SELECT b.key, b.base, r.rater,
        |    CAST('0x' || substring(md5('kc' || r.rater || ':' || CAST(b.key AS VARCHAR)),1,8) AS BIGINT) % 3 AS cover,
        |    CAST('0x' || substring(md5('kv' || r.rater || ':' || CAST(b.key AS VARCHAR)),1,8) AS BIGINT) % 4 AS roll,
        |    CAST('0x' || substring(md5('ks' || r.rater || ':' || CAST(b.key AS VARCHAR)),1,8) AS BIGINT) % 2 AS shift
        |  FROM base b CROSS JOIN (SELECT unnest(range(0, 3)) AS rater) r),
        |ratings AS (SELECT key,
        |    CASE WHEN roll < 3 THEN base ELSE (base + 1 + shift) % 3 END AS val
        |  FROM rt WHERE cover <> 0),
        |pic AS (SELECT key, val, CAST(count(*) AS BIGINT) AS r_uc
        |  FROM ratings GROUP BY 1, 2),
        |pi AS (SELECT key, CAST(sum(r_uc) AS BIGINT) AS m_u,
        |    CAST(sum(r_uc * (r_uc - 1)) AS BIGINT) AS agree_pairs
        |  FROM pic GROUP BY 1 HAVING sum(r_uc) >= 2),
        |pi2 AS (SELECT key, m_u,
        |    (2 * (m_u * (m_u - 1) - agree_pairs)) // (m_u - 1) AS o2_u FROM pi),
        |marg AS (SELECT pic.val AS class, CAST(sum(pic.r_uc) AS BIGINT) AS n_c
        |  FROM pic JOIN pi2 USING (key) GROUP BY 1),
        |sm AS (SELECT
        |    (SELECT CAST(count(*) AS BIGINT) FROM pi2) AS n_items,
        |    (SELECT CAST(sum(o2_u) AS BIGINT) FROM pi2) AS o2,
        |    CAST(sum(n_c) AS BIGINT) AS n,
        |    sum(CAST(n_c AS HUGEINT) * n_c) AS sq
        |  FROM marg),
        |sm2 AS (SELECT n_items, o2, n,
        |    CAST(1000000 - (CAST(1000000 AS HUGEINT) * o2 * (n - 1))
        |      // (2 * (CAST(n AS HUGEINT) * n - sq)) AS BIGINT) AS alpha_ppm
        |  FROM sm)
        |SELECT marg.class, marg.n_c, sm2.n_items, sm2.o2, sm2.n, sm2.alpha_ppm
        |FROM marg CROSS JOIN sm2 ORDER BY marg.class""".stripMargin)) { (s, dir) =>
    val base = tbl(s, dir, "customer").select(col("c_custkey").as("key"),
      expr("cast(conv(substring(md5(concat('kb:', cast(c_custkey as string))),1,8),16,10) as bigint) % 3")
        .as("base"))
    val ratings = base.select(col("key"), col("base"),
      explode(array((0 until 3).map { r =>
        struct(lit(r.toLong).as("rater"),
          expr(s"cast(conv(substring(md5(concat('kc$r:', cast(key as string))),1,8),16,10) as bigint) % 3")
            .as("cover"),
          expr(s"cast(conv(substring(md5(concat('kv$r:', cast(key as string))),1,8),16,10) as bigint) % 4")
            .as("roll"),
          expr(s"cast(conv(substring(md5(concat('ks$r:', cast(key as string))),1,8),16,10) as bigint) % 2")
            .as("shift"))
      }: _*)).as("r"))
      .filter(col("r.cover") =!= 0) // rater skips ~1/3 of items
      .select(col("key"),
        when(col("r.roll") < 3, col("base"))
          .otherwise((col("base") + lit(1L) + col("r.shift")) % 3).as("val"))
    val perItemClass = ratings.groupBy("key", "val").agg(count(lit(1)).as("r_uc"))
    val perItem = perItemClass.groupBy("key").agg(
      sum("r_uc").as("m_u"),
      sum(expr("r_uc * (r_uc - 1)")).as("agree_pairs"))
      .filter(col("m_u") >= 2)
      .withColumn("d_u", expr("m_u * (m_u - 1) - agree_pairs"))
      .withColumn("o2_u", expr("(2 * d_u) div (m_u - 1)"))
    val kept = perItemClass.join(perItem.select("key"), Seq("key"))
    val marg = kept.groupBy(col("val").as("class")).agg(sum("r_uc").as("n_c"))
    val summary = perItem.agg(count(lit(1)).as("n_items"), sum("o2_u").as("o2"))
      .crossJoin(broadcast(marg.agg(sum("n_c").as("n"),
        expr("sum(cast(n_c as decimal(38,0)) * n_c)").as("sq"))))
      .select(col("n_items"), col("o2"), col("n"),
        expr("cast(1000000 - (cast(1000000 as decimal(38,0)) * o2 * (n - 1)) div (2 * (cast(n as decimal(38,0)) * n - sq)) as bigint)")
          .as("alpha_ppm"))
    marg.crossJoin(broadcast(summary))
      .select(col("class"), col("n_c"), col("n_items"), col("o2"), col("n"),
        col("alpha_ppm"))
      .orderBy("class")
  }

  /** A47: B-cubed precision/recall/F1 — the clustering-quality scorecard
    * the dedup family (d04/d05/d07/d16) reports to: pair-counting
    * metrics (Rand) drown small clusters and purity alone rewards
    * shattering, B-cubed is the accepted extrinsic standard (Bagga &
    * Baldwin) because it averages PER ITEM: precision_i = the fraction
    * of item i's predicted cluster sharing its gold class, recall_i =
    * the fraction of its gold class captured by its cluster. The sums
    * collapse onto the (pred, gold) CONTINGENCY TABLE — sum_i n_pg/n_p
    * = sum_cells n_pg^2/n_p — so the whole metric is one corpus fold
    * to cells + two marginal folds, NEVER per-pair (the property that
    * makes it runnable on a 100 TB dedup output; cells are bounded by
    * min(#pred, #gold) x overlap, not n^2). Fixture: 7 md5 gold
    * classes, pred copies gold on a planted ~7/10 of keys and
    * otherwise lands in 5 disjoint noise clusters (ids 7-11), so both
    * error modes are live (split: gold mass leaking to noise clusters
    * hurts recall; the noise clusters MIX gold classes, hurting
    * precision). Integer end to end: per-cell ppm contributions
    * truncate once on positive operands (Spark div == DuckDB // there),
    * DECIMAL(38,0)/HUGEINT widening because n_pg^2 is corpus^2-sized
    * (the a43/a46 overflow discipline); per-gold purity rows ride along
    * (majority pred via the struct arg-min, lowest id ties). */
  query("a47_bcubed", oracle = Some(
      // a47: same md5 gold/pred plant, contingency cells + marginals,
      // per-cell ppm contributions truncate once on positive operands
      // (HUGEINT: n_pg^2 is corpus^2-sized), purity rows via arg-min
      """WITH r AS (SELECT
        |    CAST('0x' || substring(md5('bg:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 7 AS gold,
        |    CAST('0x' || substring(md5('bc:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 10 AS copy_roll,
        |    CAST('0x' || substring(md5('bn:' || CAST(c_custkey AS VARCHAR)),1,8) AS BIGINT) % 5 AS noise
        |  FROM customer),
        |p AS (SELECT gold,
        |    CASE WHEN copy_roll < 7 THEN gold ELSE noise + 7 END AS pred
        |  FROM r),
        |cells AS (SELECT pred, gold, CAST(count(*) AS BIGINT) AS n_pg
        |  FROM p GROUP BY 1, 2),
        |np AS (SELECT pred, CAST(sum(n_pg) AS BIGINT) AS n_p FROM cells GROUP BY 1),
        |ng AS (SELECT gold, CAST(sum(n_pg) AS BIGINT) AS n_g FROM cells GROUP BY 1),
        |sized AS (SELECT c.pred, c.gold, c.n_pg, np.n_p, ng.n_g
        |  FROM cells c JOIN np USING (pred) JOIN ng USING (gold)),
        |sm AS (SELECT n,
        |    CAST(ps // n AS BIGINT) AS prec_ppm,
        |    CAST(rs // n AS BIGINT) AS rec_ppm
        |  FROM (SELECT CAST(sum(n_pg) AS BIGINT) AS n,
        |          sum((CAST(1000000 AS HUGEINT) * n_pg * n_pg) // n_p) AS ps,
        |          sum((CAST(1000000 AS HUGEINT) * n_pg * n_pg) // n_g) AS rs
        |        FROM sized)),
        |sm2 AS (SELECT n, prec_ppm, rec_ppm,
        |    (2 * prec_ppm * rec_ppm) // (prec_ppm + rec_ppm) AS f1_ppm
        |  FROM sm),
        |pg AS (SELECT gold AS gold_class, any_value(n_g) AS n_g,
        |    max(n_pg) AS n_best,
        |    min(struct_pack(nc := -n_pg, v := pred)).v AS best_pred
        |  FROM sized GROUP BY 1),
        |pg2 AS (SELECT gold_class, n_g, best_pred, n_best,
        |    (1000000 * n_best) // n_g AS purity_ppm
        |  FROM pg)
        |SELECT pg2.gold_class, pg2.n_g, pg2.best_pred, pg2.n_best,
        |  pg2.purity_ppm, sm2.n, sm2.prec_ppm, sm2.rec_ppm, sm2.f1_ppm
        |FROM pg2 CROSS JOIN sm2 ORDER BY pg2.gold_class""".stripMargin)) { (s, dir) =>
    val r = tbl(s, dir, "customer").select(
      expr("cast(conv(substring(md5(concat('bg:', cast(c_custkey as string))),1,8),16,10) as bigint) % 7")
        .as("gold"),
      expr("cast(conv(substring(md5(concat('bc:', cast(c_custkey as string))),1,8),16,10) as bigint) % 10")
        .as("copy_roll"),
      expr("cast(conv(substring(md5(concat('bn:', cast(c_custkey as string))),1,8),16,10) as bigint) % 5")
        .as("noise"))
      .withColumn("pred",
        when(col("copy_roll") < 7, col("gold")).otherwise(col("noise") + lit(7L)))
    val cells = r.groupBy("pred", "gold").agg(count(lit(1)).as("n_pg"))
    val np = cells.groupBy("pred").agg(sum("n_pg").as("n_p"))
    val ng = cells.groupBy("gold").agg(sum("n_pg").as("n_g"))
    val sized = cells.join(broadcast(np), Seq("pred"))
      .join(broadcast(ng), Seq("gold"))
    val summary = sized.agg(
      sum("n_pg").as("n"),
      expr("sum((cast(1000000 as decimal(38,0)) * n_pg * n_pg) div n_p)").as("ps"),
      expr("sum((cast(1000000 as decimal(38,0)) * n_pg * n_pg) div n_g)").as("rs"))
      .select(col("n"),
        expr("cast(ps div n as bigint)").as("prec_ppm"),
        expr("cast(rs div n as bigint)").as("rec_ppm"))
      .withColumn("f1_ppm",
        expr("(2 * prec_ppm * rec_ppm) div (prec_ppm + rec_ppm)"))
    val perGold = sized.groupBy(col("gold").as("gold_class"))
      .agg(first("n_g").as("n_g"), max("n_pg").as("n_best"),
        min(struct((-col("n_pg")).as("nc"), col("pred").as("v")))
          .getField("v").as("best_pred"))
      .withColumn("purity_ppm", expr("(1000000 * n_best) div n_g"))
    perGold.crossJoin(broadcast(summary))
      .select(col("gold_class"), col("n_g"), col("best_pred"), col("n_best"),
        col("purity_ppm"), col("n"), col("prec_ppm"), col("rec_ppm"),
        col("f1_ppm"))
      .orderBy("gold_class")
  }

  /** A42: Markov transition census (the user-journey model a14's
    * fixed-sequence funnel cannot express: the FULL first-order
    * transition matrix — from every event type to every next type —
    * estimated per stream, with row-normalized probabilities; churn
    * prediction, next-action ranking and anomaly scoring all start
    * from this matrix): prev = one lag over each user's (ts, id)-
    * ordered stream, transitions fold exactly (integer counts), row
    * shares are ONE ppm integer division against the from-type total
    * — no float. '(start)' rows (a stream's first event) are a live
    * class: they estimate the initial-state distribution. ONE window
    * sort per user + one hash fold + one broadcast-sized row-total
    * join. */
  query("a42_markov_transitions", oracle = Some(
      // a42: one lag per user stream, exact transition fold, one ppm
      // division against the from-type row total
      """WITH e AS (SELECT event_type, coalesce(
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id), '(start)') AS prev
        |  FROM events),
        |t AS (SELECT prev AS from_type, event_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |r AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n
        |      FROM t GROUP BY 1)
        |SELECT t.from_type, t.to_type, t.n, r.row_n,
        |  (1000000 * t.n) // r.row_n AS p_ppm
        |FROM t JOIN r USING (from_type)
        |ORDER BY t.from_type, t.to_type""".stripMargin)) { (s, dir) =>
    val e = events(s, dir)
      .withColumn("prev", coalesce(
        lag("event_type", 1).over(
          Window.partitionBy("user_id").orderBy(col("__tsu"), col("event_id"))),
        lit("(start)")))
    val trans = e.groupBy(col("prev").as("from_type"),
        col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum("n").as("row_n"))
    trans.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"), col("row_n"),
        expr("(1000000 * n) div row_n").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  /** A41: Mann-Whitney rank-sum / exact AUC (the nonparametric A/B
    * effect size — a31's KS says the distributions DIFFER, THIS says
    * by how much and in whose favor: U/(n_a*n_b) is the probability a
    * random A-cohort value outranks a B one — which is ALSO exactly
    * ROC-AUC when the "cohort" is a binary label and the value a
    * classifier score, so the same operator grades t20-style quality
    * classifiers; robust to outliers and any monotone rescaling):
    * cohorts = user-id parity per event_type; ties get textbook
    * average ranks kept INTEGER by doubling (2*avg = 2*min_rank +
    * tie_count - 1, the a39 discipline), 2U_A = sum(2r over A) -
    * n_a(n_a+1), auc_ppm = one integer division at the end — NO float
    * anywhere. One rank window per event_type + one tie-count window
    * + one fold; AUC 500000 = no effect. */
  query("a41_mann_whitney", oracle = Some(
      // a41: doubled average ranks (2*min_rank + tie_count - 1), integer
      // 2U and one ppm division at the end — the a39 tie discipline
      """WITH e AS (SELECT event_type, user_id % 2 = 0 AS is_a,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |r AS (SELECT *, CAST(rank() OVER (
        |      PARTITION BY event_type ORDER BY cents) AS BIGINT) AS mr,
        |    CAST(count(*) OVER (PARTITION BY event_type, cents) AS BIGINT) AS tc
        |  FROM e),
        |f AS (SELECT event_type,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN is_a THEN 2 * mr + tc - 1 ELSE 0 END) AS BIGINT)
        |      AS r2_a
        |  FROM r GROUP BY 1)
        |SELECT event_type, n_a, n_b,
        |  r2_a - n_a * (n_a + 1) AS u2_a,
        |  (1000000 * (r2_a - n_a * (n_a + 1))) // (2 * n_a * n_b) AS auc_ppm
        |FROM f ORDER BY event_type""".stripMargin)) { (s, dir) =>
    val e = events(s, dir).select(col("event_type"),
      (col("user_id") % 2 === 0).as("is_a"),
      expr("cast(round(value * 100) as bigint)").as("cents"))
    val ranked = e
      .withColumn("mr", rank().over(
        Window.partitionBy("event_type").orderBy("cents")).cast("long"))
      .withColumn("tc", count(lit(1)).over(
        Window.partitionBy("event_type", "cents")))
      .withColumn("r2", lit(2L) * col("mr") + col("tc") - 1L)
    ranked.groupBy("event_type")
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("is_a"), col("r2")).otherwise(0L)).as("r2_a"))
      .withColumn("u2_a", col("r2_a") - col("n_a") * (col("n_a") + 1))
      .withColumn("auc_ppm", expr("(1000000 * u2_a) div (2 * n_a * n_b)"))
      .select(col("event_type"), col("n_a"), col("n_b"), col("u2_a"),
        col("auc_ppm"))
      .orderBy("event_type")
  }

  /** A12: per-group arg-max as ONE hash aggregation with map-side partials
    * — `max` over a (value, tie-break key) struct picks a deterministic
    * winner lexicographically, where the window form (a07's shape) shuffles
    * and fully sorts every group to keep one row. State is one struct per
    * group regardless of row count; at 100 TB that is the difference
    * between a table-wide merge-sort and a broadcastable result. */
  query("a12_argmax", oracle = Some(
      // The oracle is the window form a12 replaces: row 1 under (price DESC,
      // orderkey DESC) is exactly Spark's lexicographic struct max.
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn,
        |  count(*) OVER (PARTITION BY o_orderpriority) AS cnt FROM orders)
        |SELECT o_orderpriority, o_orderkey AS best_orderkey,
        |       o_totalprice AS best_price, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin)) { (s, dir) =>
    tbl(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"),
        count(lit(1)).as("cnt"))
      .select(col("o_orderpriority"), col("m.o_orderkey").as("best_orderkey"),
        col("m.o_totalprice").as("best_price"), col("cnt"))
      .orderBy("o_orderpriority")
  }
}
