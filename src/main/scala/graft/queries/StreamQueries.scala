package graft.queries

import graft.llm.{Dedup, TextOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Queries.{tbl, tblPar, scratch, events, eventsTs}
import Oracle.t48Sql

/** Streaming-shaped queries (st), in their batch-equivalent form; where
  * [[graft.streaming.EventStreams]] holds the streaming form, StreamingSpec
  * runs it against these answers. */
object StreamQueries extends QueryFamily {

  /** ST9 batch mirror: cross-corpus near-dup ADMISSION — the streaming
    * ingest front door's gate ([[graft.llm.Dedup.nearDupAdmit]], which a
    * `foreachBatch` sink runs per micro-batch), bounded for the oracle:
    * corpus = even doc_ids (the already-ingested side), batch = odd
    * doc_ids, and a batch doc survives iff it has NO corpus near-dup at
    * 5-gram Jaccard >= 0.5 (LSH candidates, exact verify — planted pairs
    * sit at j >= 0.87, so banding is deterministic here). Docs too short
    * to shingle are admitted (totality). StreamingSpec proves the
    * micro-batch sink admits the same set on planted cross-corpus dups. */
  query("st09_neardup_admission", oracle = Some(
      // st09: cross-corpus admission — batch (odd ids) docs with no corpus
      // (even ids) near-dup at 5-gram jaccard >= 0.5; unshingle-able docs
      // admitted. Same shingle CTE as jaccardSql; the cross-side predicate
      // replaces the id_a < id_b self-pairing. NOT IN is safe: batch_id is
      // never null (it comes from the shingle join's doc_id).
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
        |          i -> list_aggregate(w[i:i+4], 'string_agg', chr(31)))) AS s
        |        FROM tok WHERE len(w) >= 5),
        |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pr AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, count(*) AS inter
        |       FROM sh b JOIN sh c ON b.s = c.s
        |        AND b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
        |       GROUP BY 1, 2),
        |rej AS (SELECT DISTINCT batch_id FROM pr
        |        JOIN cnt cb ON cb.doc_id = pr.batch_id
        |        JOIN cnt cc ON cc.doc_id = pr.corpus_id
        |        WHERE CAST(inter AS DOUBLE) / (cb.n + cc.n - inter) >= 0.5)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT batch_id FROM rej)
        |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
    val docs = tbl(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val index = Dedup.withSignatures(corpus, w = 5, k = 32)
      .filter(col("sig").isNotNull)
    Dedup.nearDupAdmit(batch, index, w = 5, k = 32, bands = 16, minJ = 0.5)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  // ===== streaming-shaped (batch-equivalent; streaming variant in tests) ====

  /** Tumbling-window aggregation via window() — the same `groupBy(window)`
    * runs unchanged on a watermarked stream. */
  query("st01_tumbling_window", oracle = Some(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |       count(*) AS cnt, round(sum(value), 2) AS sum_value_r
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)) { (s, dir) =>
    eventsTs(s, dir)
      .withColumn("__ts", col("ts"))
      .groupBy(window(col("__ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value_r"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("cnt"), col("sum_value_r"))
      .orderBy("win_start", "event_type")
  }

  /** ST5: windowed top-k — on a stream, the bounded-heap TopK aggregate
    * holds k pairs per window as state (the heap
    * [[graft.streaming.EventStreams.sessionTopK]] keeps per session); this
    * is its bounded mirror for the oracle. */
  query("st05_window_topk", oracle = Some(
      // window form of the streaming heap: ranks on the raw double (both
      // engines compare identical parquet doubles), rounds only the output
      """WITH e AS (SELECT event_id, event_type, value, date_trunc('hour', ts) AS h
        |           FROM events),
        |r AS (SELECT h, event_type, event_id, value,
        |        row_number() OVER (PARTITION BY h, event_type
        |          ORDER BY value DESC, event_id) AS rnk FROM e)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |       CAST(rnk AS BIGINT) AS rnk, event_id, round(value, 2) AS value_r
        |FROM r WHERE rnk <= 3 ORDER BY win_start, event_type, rnk""".stripMargin)) { (s, dir) =>
    eventsTs(s, dir)
      .withColumn("__ts", col("ts"))
      .groupBy(window(col("__ts"), "1 hour").as("w"), col("event_type"))
      .agg(graft.functions.VectorAggregates
        .topK(col("value"), col("event_id"), 3).as("top"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("win_start"), col("event_type"),
        (col("rnk0") + 1).cast("long").as("rnk"),
        col("t.id").as("event_id"), round(col("t.ord"), 2).as("value_r"))
      .orderBy("win_start", "event_type", "rnk")
  }

  /** Sliding-window aggregation (1 h window, 30 min slide): each event
    * contributes to size/slide = 2 windows — the overlapping-window shape
    * Structured Streaming shares with the batch mirror here. The oracle
    * decomposes each event into its two covering window starts. */
  query("st03_sliding_window", oracle = Some(
      // sliding window = each event unnested into its size/slide = 2
      // covering window starts (floor-to-slide and one slide earlier)
      """WITH e AS (SELECT value, epoch_us(ts) AS us FROM events),
        |w AS (SELECT value,
        |        (us // 1800000000) * 1800000000 - t.k * 1800000000 AS ws_us
        |      FROM e, (SELECT unnest([0, 1]) AS k) t)
        |SELECT strftime(make_timestamp(ws_us), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       count(*) AS cnt, round(sum(value), 2) AS sum_value_r
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin)) { (s, dir) =>
    eventsTs(s, dir)
      .withColumn("__ts", col("ts"))
      .groupBy(window(col("__ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value_r"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("cnt"), col("sum_value_r"))
      .orderBy("win_start")
  }

  /** ST4: stream-stream interval join, batch mirror — each click paired
    * with the same user's views in the preceding hour
    * ([[graft.streaming.EventStreams.clickViewJoin]]). Timestamps cross
    * the engine boundary as microsecond longs (x04's convention). */
  query("st04_interval_join", oracle = Some(
      // batch mirror of the stream-stream interval join; values are raw
      // pass-through doubles (bit-identical, no rounding needed)
      """SELECT c.event_id AS click_id, c.user_id,
        |       epoch_us(c.ts) AS click_ts_us, c.value AS click_value,
        |       v.event_id AS view_id, epoch_us(v.ts) AS view_ts_us,
        |       v.value AS view_value
        |FROM events c JOIN events v
        |  ON v.user_id = c.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts BETWEEN c.ts - INTERVAL 60 MINUTE AND c.ts
        |ORDER BY click_id, view_id""".stripMargin)) { (s, dir) =>
    graft.streaming.EventStreams.clickViewJoin(eventsTs(s, dir))
      .select(col("click_id"), col("user_id"),
        expr("unix_micros(click_ts)").as("click_ts_us"), col("click_value"),
        col("view_id"), expr("unix_micros(view_ts)").as("view_ts_us"),
        col("view_value"))
      .orderBy("click_id", "view_id")
  }

  /** ST12: batch mirror of the LEFT OUTER stream-stream interval join
    * ([[graft.streaming.EventStreams.clickViewJoinOuter]]) — st04's
    * attribution-completeness sibling: every click emits, null-padded
    * when no view preceded it in the lookback (streaming defers those
    * rows until the watermark closes the window; the batch mirror shows
    * them immediately — same rows either way, StreamingSpec proves it).
    * The time-range predicate is the join condition of a user-keyed
    * equi-join, never a nested loop; in streaming, the two-sided watermark
    * bounds the buffered state. */
  query("st12_outer_join", oracle = Some(
      // LEFT OUTER st04: the side filters move into CTEs so the outer
      // join's null-padding applies to genuinely unmatched clicks only
      """WITH c AS (SELECT event_id AS click_id, user_id, ts, value
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id AS view_id, user_id, ts, value
        |      FROM events WHERE event_type = 'view')
        |SELECT c.click_id, c.user_id,
        |       epoch_us(c.ts) AS click_ts_us, c.value AS click_value,
        |       v.view_id, epoch_us(v.ts) AS view_ts_us,
        |       v.value AS view_value
        |FROM c LEFT JOIN v
        |  ON v.user_id = c.user_id
        | AND v.ts BETWEEN c.ts - INTERVAL 60 MINUTE AND c.ts
        |ORDER BY click_id, view_id""".stripMargin)) { (s, dir) =>
    graft.streaming.EventStreams.clickViewJoinOuter(eventsTs(s, dir))
      .select(col("click_id"), col("user_id"),
        expr("unix_micros(click_ts)").as("click_ts_us"), col("click_value"),
        col("view_id"), expr("unix_micros(view_ts)").as("view_ts_us"),
        col("view_value"))
      .orderBy("click_id", "view_id")
  }

  /** ST16: batch mirror of the FULL OUTER stream-stream interval join
    * ([[graft.streaming.EventStreams.clickViewJoinFull]]) — the
    * audit-completeness form closing the family: every click AND every
    * view emits exactly once (matched, or null-padded from its side),
    * so source-vs-output row reconciliation is one count. User id
    * totalized by coalescing the surviving side.
    * The time-range predicate is the join condition of a user-keyed
    * equi-join, never a nested loop; in streaming, the two-sided watermark
    * bounds both buffers. */
  query("st16_full_join", oracle = Some(
      // every click and view exactly once, null-padded when unmatched;
      // the compare sorts rows, so the null-keyed order is hash-safe
      """WITH c AS (SELECT event_id AS click_id, user_id, ts, value
        |           FROM events WHERE event_type = 'click'),
        |v AS (SELECT event_id AS view_id, user_id, ts, value
        |      FROM events WHERE event_type = 'view')
        |SELECT coalesce(c.user_id, v.user_id) AS "user",
        |       c.click_id, epoch_us(c.ts) AS click_ts_us,
        |       c.value AS click_value, v.view_id,
        |       epoch_us(v.ts) AS view_ts_us, v.value AS view_value
        |FROM c FULL JOIN v
        |  ON v.user_id = c.user_id
        | AND v.ts BETWEEN c.ts - INTERVAL 60 MINUTE AND c.ts
        |ORDER BY coalesce(c.click_id, -1), coalesce(v.view_id, -1)""".stripMargin)) { (s, dir) =>
    graft.streaming.EventStreams.clickViewJoinFull(eventsTs(s, dir))
      .select(coalesce(col("user_id"), col("view_user_id")).as("user"),
        col("click_id"), expr("unix_micros(click_ts)").as("click_ts_us"),
        col("click_value"), col("view_id"),
        expr("unix_micros(view_ts)").as("view_ts_us"), col("view_value"))
      .orderBy(coalesce(col("click_id"), lit(-1L)),
        coalesce(col("view_id"), lit(-1L)))
  }

  /** ST17: rate-limited admission — per (event_type, hour) only the
    * first 50 events in (ts, event_id) order admit: the ingest-quota gate
    * (crawl politeness, per-source caps). The batch statement is a window
    * rank over HOUR-BOUNDED groups (each group's sort is one hour of one
    * type — bounded however long the log). */
  query("st17_rate_limit", oracle = Some(
      // first-50 per (type, hour) in (ts, event_id) order — the quota
      // contract the streaming keyed-state form enforces incrementally
      """WITH r AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
        |      ORDER BY ts, event_id) AS BIGINT) AS admit_seq
        |  FROM events)
        |SELECT event_id, event_type, ts_us, admit_seq
        |FROM r WHERE admit_seq <= 50 ORDER BY event_id""".stripMargin)) { (s, dir) =>
    val w = Window
      .partitionBy(col("event_type"), expr("date_trunc('HOUR', ts)"))
      .orderBy(col("ts"), col("event_id"))
    eventsTs(s, dir)
      .withColumn("admit_seq", row_number().over(w).cast("long"))
      .filter(col("admit_seq") <= 50)
      .select(col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("ts_us"), col("admit_seq"))
      .orderBy("event_id")
  }

  /** ST13: batch mirror of the LEFT SEMI stream-stream interval join
    * ([[graft.streaming.EventStreams.clickViewJoinSemi]]) — conversion
    * detection: one row per click with >= 1 preceding view, never
    * multiplied per view (st04's inner form emits N rows for N views).
    * Oracle is the equivalent EXISTS. */
  query("st13_semi_join", oracle = Some(
      // LEFT SEMI st04: one row per click with >= 1 preceding view — the
      // EXISTS form, never multiplied per matching view
      """SELECT c.event_id AS click_id, c.user_id,
        |       epoch_us(c.ts) AS click_ts_us, c.value AS click_value
        |FROM events c
        |WHERE c.event_type = 'click' AND EXISTS (
        |  SELECT 1 FROM events v
        |  WHERE v.event_type = 'view' AND v.user_id = c.user_id
        |    AND v.ts BETWEEN c.ts - INTERVAL 60 MINUTE AND c.ts)
        |ORDER BY click_id""".stripMargin)) { (s, dir) =>
    graft.streaming.EventStreams.clickViewJoinSemi(eventsTs(s, dir))
      .select(col("click_id"), col("user_id"),
        expr("unix_micros(click_ts)").as("click_ts_us"), col("click_value"))
      .orderBy("click_id")
  }

  /** ST14: the streaming upsert sink's state table
    * ([[graft.streaming.EventStreams.upsertBatch]]) — latest row per
    * user after the event stream folds in as two micro-batches (split by
    * event_id parity, so both batches upsert over each other's keys).
    * Partition-local merge: each batch rewrites only touched hash
    * partitions via dynamic overwrite. The oracle states the converged
    * state declaratively: the max-event_id row per user. */
  query("st14_upsert_state", oracle = Some(
      // converged upsert state: the max-event_id row per user, however
      // the batches were split
      """WITH last AS (SELECT user_id, max(event_id) AS event_id
        |              FROM events GROUP BY user_id)
        |SELECT e.user_id, e.event_id, epoch_us(e.ts) AS ts_us,
        |       e.event_type, e.value
        |FROM events e JOIN last USING (user_id, event_id)
        |ORDER BY user_id""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_upsert") + "/state"
    val ev = eventsTs(s, dir)
    graft.streaming.EventStreams.upsertBatch(ev.filter(col("event_id") % 2 === 0), tmp)
    graft.streaming.EventStreams.upsertBatch(ev.filter(col("event_id") % 2 === 1), tmp)
    s.read.parquet(tmp)
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts)").as("ts_us"), col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** ST15 batch mirror: streaming benchmark-decontamination gate
    * ([[graft.streaming.EventStreams.decontaminateStream]]) — d08's
    * contamination rule run as ADMISSION at the crawl front door. Same
    * bench slice as d08 (doc_id % 97 == 0), incoming = the rest; a doc
    * is admitted iff NO bench doc shares >= 2 distinct 3-gram shingles.
    * The gate is stateless (bloom literal prefilter + row-local exact
    * verify), so the identical transform runs bounded here and unbounded
    * in StreamingSpec — which proves stream == batch on planted
    * contamination and that the bloom tier alone never decides a drop. */
  query("st15_decontaminate", oracle = Some(
      // the admission complement of d08: admitted = incoming docs with NO
      // bench doc sharing >= 2 shingles (same string-shingle/64-bit-hash
      // collision contract); the bloom tier is invisible by construction
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
        |          i -> list_aggregate(w[i:i+2], 'string_agg', chr(31)))) AS s
        |        FROM tok WHERE len(w) >= 3),
        |sh AS (SELECT DISTINCT doc_id, s FROM sh0),
        |bad AS (SELECT DISTINCT t.doc_id
        |        FROM sh t JOIN sh b ON t.s = b.s
        |          AND t.doc_id % 97 <> 0 AND b.doc_id % 97 = 0
        |        GROUP BY t.doc_id, b.doc_id HAVING count(*) >= 2)
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |WHERE d.doc_id % 97 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
    val docs = tblPar(s, dir, "documents")
    graft.streaming.EventStreams.decontaminateStream(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        w = 3, minShared = 2)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Batch mirror of the stream-static enrichment join
    * ([[graft.streaming.EventStreams.enrichedTumblingCounts]]): events
    * enriched against a RESTRICTED customer dim (c_custkey < 100) so the
    * left-join's kept-unmatched path is exercised non-vacuously (users
    * 100-149 land in '(none)'). */
  query("st06_stream_static", oracle = Some(
      // Stream-static enrichment mirror: LEFT join keeps unmatched users in
      // an explicit '(none)' segment (dim restricted to make that path real).
      """WITH d AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 100)
        |SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       coalesce(d.c_mktsegment, '(none)') AS segment,
        |       count(*) AS cnt, round(sum(e.value), 2) AS sum_value_r
        |FROM events e LEFT JOIN d ON e.user_id = d.c_custkey
        |GROUP BY 1, 2 ORDER BY win_start, segment""".stripMargin)) { (s, dir) =>
    graft.streaming.EventStreams.enrichedTumblingCounts(
        eventsTs(s, dir),
        tbl(s, dir, "customer").filter(col("c_custkey") < 100)
          .select(col("c_custkey"), col("c_mktsegment")))
      .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("segment"), col("cnt"), col("sum_value_r"))
      .orderBy("win_start", "segment")
  }

  /** ST8: NATIVE session windows ([[EventStreams.sessionWindowCounts]]) —
    * the engine-managed gap-merged session aggregation (vs st02's lag +
    * flag-sum island detection). Same code path batch and streaming; output
    * keys as epoch micros (end = last event + gap, exclusive), so the
    * oracle's island detection (new session when the gap >= 30 min)
    * reproduces the windows integer-exactly. */
  query("st08_session_window", oracle = Some(
      // Island detection mirror of the native session_window: a new session
      // starts when the gap to the previous event is >= 30 min (Spark's
      // session ends are exclusive, so an event landing exactly at
      // last + gap opens a new window). All keys integer epoch-micros.
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value
        |           FROM events WHERE user_id < 200),
        |d AS (SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
        |                       OR tsu - lag(tsu) OVER w >= 1800000000
        |                     THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
        |        ORDER BY tsu, event_id) AS sid FROM d)
        |SELECT user_id, min(tsu) AS start_us, max(tsu) + 1800000000 AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 2) AS sum_value_r
        |FROM g GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin)) { (s, dir) =>
    graft.streaming.EventStreams.sessionWindowCounts(
        eventsTs(s, dir).filter(col("user_id") < 200))
      .select(col("user_id"),
        unix_micros(col("s_start")).as("start_us"),
        unix_micros(col("s_end")).as("end_us"),
        col("n_events"), col("sum_value_r"))
      .orderBy("user_id", "start_us")
  }

  /** ST10: session-window top-k ([[EventStreams.sessionTopK]]) — the
    * st08 x st05 composition: per (user, gap-merged session) the 3
    * highest-value events through the bounded heap as session state.
    * Same user_id < 200 bound and epoch-micros window keys as st08; the
    * oracle reproduces the sessions by island detection and ranks within
    * each island with the heap's exact total order (value DESC,
    * event_id). */
  query("st10_session_topk", oracle = Some(
      // st08's island detection for the sessions, st05's row_number rule for
      // the in-session ranking (value DESC, event_id — the heap's exact
      // total order); window keys as epoch micros like st08
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, value
        |           FROM events WHERE user_id < 200),
        |d AS (SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
        |                       OR tsu - lag(tsu) OVER w >= 1800000000
        |                     THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
        |        ORDER BY tsu, event_id) AS sid FROM d),
        |s AS (SELECT user_id, sid, min(tsu) AS start_us,
        |        max(tsu) + 1800000000 AS end_us
        |      FROM g GROUP BY user_id, sid),
        |r AS (SELECT user_id, sid, event_id, value,
        |        row_number() OVER (PARTITION BY user_id, sid
        |          ORDER BY value DESC, event_id) AS rnk
        |      FROM g)
        |SELECT s.user_id, s.start_us, s.end_us, CAST(r.rnk AS BIGINT) AS rnk,
        |       r.event_id, round(r.value, 2) AS value_r
        |FROM r JOIN s ON r.user_id = s.user_id AND r.sid = s.sid
        |WHERE r.rnk <= 3
        |ORDER BY s.user_id, s.start_us, rnk""".stripMargin)) { (s, dir) =>
    graft.streaming.EventStreams.sessionTopK(
        eventsTs(s, dir).filter(col("user_id") < 200))
      .select(col("user_id"),
        unix_micros(col("s_start")).as("start_us"),
        unix_micros(col("s_end")).as("end_us"),
        col("rnk"), col("event_id"), col("value_r"))
      .orderBy("user_id", "start_us", "rnk")
  }

  /** ST11: tumbling-window EXACT distinct users — the batch face of
    * [[EventStreams.windowedDistinctUsers]] (same call, watermark a
    * no-op): the bitmap aggregate's window state replaces the
    * per-(window, user) rows a distinct-rewrite would keep, and the
    * oracle is plain count(DISTINCT) — exactness is hash-checked, in
    * batch AND (via StreamingSpec's stream==batch test) in streaming
    * state. */
  query("st11_window_distinct", oracle = Some(
      // exact windowed distinct: the bitmap aggregate is exact, so the
      // oracle is the plain distinct count — no error band anywhere
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |       event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)) { (s, dir) =>
    graft.streaming.EventStreams.windowedDistinctUsers(eventsTs(s, dir))
      .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_users"), col("n_events"))
      .orderBy("win_start", "event_type")
  }

  /** The composed corpus ingest: quality gate -> keep-first fingerprint
    * dedup -> per-language admission counts. The election is the
    * deterministic min-doc_id form of a stream's first-arrival-wins (the
    * two coincide under ordered arrival). The gate is map-side, the
    * election a partial min over md5 fingerprints and the counts
    * partial-aggregated; text crosses a shuffle only in the semi-join
    * probe. */
  query("st07_stream_ingest", oracle = Some(
      // Quality gate -> keep-first fingerprint election -> per-lang counts:
      // the deterministic batch form of the streaming ingest front door.
      """WITH g AS (SELECT doc_id, lang,
        |    md5(list_aggregate(string_split(text, ' ')[1:5], 'string_agg', ' ')) AS fp
        |  FROM documents WHERE len(string_split(text, ' ')) >= 30),
        |w AS (SELECT fp, min(doc_id) AS doc_id FROM g GROUP BY fp)
        |SELECT g.lang, count(*) AS n_admitted
        |FROM g JOIN w ON g.fp = w.fp AND g.doc_id = w.doc_id
        |GROUP BY g.lang ORDER BY g.lang""".stripMargin)) { (s, dir) =>
    val gated = tbl(s, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 30)
      .withColumn("__fp", md5(array_join(slice(split(col("text"), " "), 1, 5), " ")))
    val winners = gated.groupBy("__fp").agg(min(col("doc_id")).as("doc_id"))
    gated.join(winners, Seq("__fp", "doc_id"), "left_semi")
      .groupBy("lang").agg(count(lit(1)).as("n_admitted"))
      .orderBy("lang")
  }

  /** Gap-based sessionization via analytic lag + running flag-sum — the
    * batch mirror of flatMapGroupsWithState sessionization. */
  query("st02_sessionize", oracle = Some(
      """WITH g AS (SELECT user_id,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS ns
        |  FROM events)
        |SELECT user_id, count(*) AS n_events, CAST(sum(ns) AS BIGINT) AS n_sessions
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, dir) =>
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("__tsu"), col("event_id"))
    val gapUs = 30L * 60 * 1000 * 1000 // 30 min in micros
    events(s, dir)
      .withColumn("__prev", lag(col("__tsu"), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev").isNull || col("__tsu") - col("__prev") > gapUs, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("__new_session")).as("n_sessions"))
      .orderBy("user_id")
  }

  /** ST21: the crawl-change classifier — the incremental face of d25:
    * each fetch classified against the URL's previous fingerprint in
    * (ts, event_id) order, stated declaratively (lag over the URL
    * partition — the st02 discipline). Fetch log derived from events:
    * url from user_id, fingerprint from event_type (types flip over a
    * user's history, so all three statuses are live). */
  query("st21_crawl_changes", oracle = Some(
      // st21: same fetch-log derivation (url from user_id, fingerprint =
      // md5(event_type)), same declarative contract — lag over the URL
      // partition in (epoch-micros, event_id) order; microsecond ordering
      // is exact on both engines (the st02 discipline)
      """WITH f AS (SELECT event_id,
        |  'https://www.site' || CAST(user_id % 7 AS VARCHAR) || '.org/u/' || CAST(user_id AS VARCHAR) AS url,
        |  md5(event_type) AS fp, epoch_us(ts) AS tsu
        |  FROM events),
        |l AS (SELECT event_id, url, fp,
        |  lag(fp) OVER (PARTITION BY url ORDER BY tsu, event_id) AS prev
        |  FROM f)
        |SELECT event_id, url,
        |  CASE WHEN prev IS NULL THEN 'new'
        |       WHEN prev <> fp THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM l ORDER BY event_id""".stripMargin)) { (s, dir) =>
    val byUrl = Window.partitionBy(col("url"))
      .orderBy(col("__tsu"), col("event_id"))
    events(s, dir)
      .withColumn("url", concat(lit("https://www.site"),
        (col("user_id") % 7).cast("string"), lit(".org/u/"),
        col("user_id").cast("string")))
      .withColumn("fp", md5(col("event_type")))
      .withColumn("__prev", lag(col("fp"), 1).over(byUrl))
      .select(col("event_id"), col("url"),
        when(col("__prev").isNull, lit("new"))
          .when(col("__prev") =!= col("fp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .orderBy("event_id")
  }

  /** ST22: watermark-delay audit — THE capacity-planning census behind
    * every watermark choice in the st-family (a delay too short drops
    * real data silently; too long holds state forever): for candidate
    * delays 15 min / 1 h / 4 h, how many events WOULD the watermark
    * drop, per event_type, plus the worst observed lateness. Arrival
    * order is planted deterministically (derive-then-detect: 10% of
    * events arrive 30 min late, 10% 2 h, 10% 6 h via md5 directive —
    * every delay tier catches a different subset, so all census classes
    * are live at every SF); the detector sees only (arrival, event
    * time). Lateness = running max of EVENT time over ARRIVAL order,
    * minus own event time — computed as a DISTRIBUTED two-phase prefix
    * scan, not a single global sort: per-hour-bucket window sorts run
    * in parallel, the cross-bucket prefix is a max over the tiny
    * per-bucket aggregate (bucket-count-sized, broadcast back), and
    * greatest() fuses the two. The oracle states the same lateness with
    * ONE flat global running max — the two-phase decomposition must be
    * invisible. */
  query("st22_watermark_audit", oracle = Some(
      // st22: same planted arrival delays; lateness stated with ONE flat
      // global running max over arrival order — the engine's two-phase
      // bucketed prefix scan must be invisible
      """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS t,
        |    CAST('0x' || substring(md5('arr:' || CAST(event_id AS VARCHAR)),1,8) AS BIGINT) % 10 AS d
        |  FROM events),
        |a AS (SELECT event_id, event_type, t,
        |    t + CASE d WHEN 0 THEN 1800000000 WHEN 1 THEN 7200000000
        |               WHEN 2 THEN 21600000000 ELSE 0 END AS arr
        |  FROM e),
        |r AS (SELECT event_type, t,
        |    max(t) OVER (ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM a),
        |l AS (SELECT event_type, greatest(coalesce(pm - t, 0), 0) AS late_us FROM r),
        |x AS (SELECT event_type, late_us,
        |    CAST(unnest([900, 3600, 14400]) AS BIGINT) AS delay_s FROM l)
        |SELECT event_type, delay_s,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST((sum(CASE WHEN late_us > delay_s * 1000000 THEN 1 ELSE 0 END) * 1000000)
        |    // count(*) AS BIGINT) AS drop_ppm,
        |  CAST(max(late_us) AS BIGINT) AS max_late_us
        |FROM x GROUP BY 1, 2 ORDER BY event_type, delay_s""".stripMargin)) { (s, dir) =>
    val e = events(s, dir).select(col("event_id"), col("event_type"), col("__tsu"))
      .withColumn("__d", expr(
        "cast(conv(substring(md5(concat('arr:', cast(event_id as string))),1,8),16,10) as bigint) % 10"))
      .withColumn("arr", col("__tsu") +
        when(col("__d") === 0, 1800000000L)
          .when(col("__d") === 1, 7200000000L)
          .when(col("__d") === 2, 21600000000L).otherwise(0L))
      .withColumn("bkt", expr("arr div 3600000000"))
    val wIn = Window.partitionBy("bkt").orderBy("arr", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wB = Window.orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bpre = e.groupBy("bkt").agg(max("__tsu").as("bm"))
      .withColumn("bpm", max("bm").over(wB)).select("bkt", "bpm")
    e.join(broadcast(bpre), Seq("bkt"))
      .withColumn("__wm", max("__tsu").over(wIn))
      .withColumn("late_us", greatest(
        coalesce(col("bpm"), lit(Long.MinValue)),
        coalesce(col("__wm"), lit(Long.MinValue)),
        col("__tsu")) - col("__tsu"))
      .select(col("event_type"), col("late_us"),
        explode(array(lit(900L), lit(3600L), lit(14400L))).as("delay_s"))
      .groupBy("event_type", "delay_s")
      .agg(count(lit(1)).as("n"),
        sum(when(col("late_us") > col("delay_s") * 1000000L, 1L)
          .otherwise(0L)).as("n_dropped"),
        max("late_us").as("max_late_us"))
      .withColumn("drop_ppm", expr("(n_dropped * 1000000) div n"))
      .select(col("event_type"), col("delay_s"), col("n"), col("n_dropped"),
        col("drop_ppm"), col("max_late_us"))
      .orderBy("event_type", "delay_s")
  }

  /** ST23: streaming KMV-sample maintenance ([[graft.streaming
    * .EventStreams.sampleBatch]]) — t43's mergeable sample run as a
    * SINK: three micro-batches fold into the stored per-lang sample,
    * and batch 2 is REPLAYED (at-least-once delivery) — the merge's
    * set semantics make the replay a no-op, and the oracle states the
    * DIRECT bottom-8 over the full corpus, so the hash-compare proves
    * maintenance == rebuild EVEN UNDER REDELIVERY in one shot. Per
    * batch the work is batch + sample-sized; the stored table is
    * sample-sized; the corpus is never rescanned. StreamingSpec runs
    * the same sink as a real readStream over the same splits. */
  query("st23_sample_maintain", oracle = Some(
      // st23: direct bottom-8 per lang over the FULL corpus — the engine
      // path is incremental maintenance WITH a replayed batch, so the
      // hash-compare is the maintenance==rebuild-under-redelivery proof
      """WITH p AS (SELECT lang, doc_id,
        |    CAST('0x' || substring(md5('smp:' || CAST(doc_id AS VARCHAR)),1,8) AS BIGINT) AS pri
        |  FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY pri, doc_id) AS rnk
        |      FROM p)
        |SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id, pri
        |FROM r WHERE rnk <= 8
        |ORDER BY lang, rnk""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_smp") + "/sample"
    val docs = tbl(s, dir, "documents")
    def batch(i: Int) = docs.filter(col("doc_id") % 3 === i)
    graft.streaming.EventStreams.sampleBatch(batch(0), tmp, "lang", "doc_id", 8)
    graft.streaming.EventStreams.sampleBatch(batch(1), tmp, "lang", "doc_id", 8)
    graft.streaming.EventStreams.sampleBatch(batch(1), tmp, "lang", "doc_id", 8) // replay
    graft.streaming.EventStreams.sampleBatch(batch(2), tmp, "lang", "doc_id", 8)
    s.read.parquet(tmp).orderBy("lang", "rnk")
  }

  /** ST18: exactly-once dedup — the at-least-once
    * delivery scenario stated deterministically: the input is the event
    * log UNION a re-delivered copy of every third event (exact payload
    * copies, as a replayed source partition produces), and admission
    * keeps one row per event_id. Re-delivered rows are bit-identical to
    * their originals, so any-survivor == first-survivor and the batch
    * `dropDuplicates` states a stream's keep-first contract exactly.
    * Oracle: the original log — dedup must reconstruct it.
    * One hash-aggregate dedup on event_id: the payload shuffles once on
    * the key, never sorts. */
  query("st18_dedup_redelivery", oracle = Some(
      // exactly-once admission over an at-least-once log: re-delivered
      // copies are exact, so dedup by event_id reconstructs the original
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events ORDER BY event_id""".stripMargin)) { (s, dir) =>
    val ev = eventsTs(s, dir)
    val redelivered = ev.unionByName(ev.filter(col("event_id") % 3 === 0))
    redelivered.dropDuplicates("event_id")
      .select(col("event_id"), col("user_id"),
        expr("unix_micros(ts)").as("ts_us"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  /** ST25: the streaming SFT conversation gate
    * ([[graft.streaming.EventStreams.sftGateStream]]) run in its
    * bounded/batch execution — t48's gate as keyed state: turns buffer
    * per (user_id, day) deduplicated by event_id, the gate fires
    * exactly once when the event-time watermark passes the day
    * boundary, and the emitted row is computed over the (tsu,
    * event_id)-sorted buffer — the batch ordering, so stream == batch
    * row for row (StreamingSpec proves it across late/replayed/
    * re-chunked delivery). Oracle: t48's mirror VERBATIM — the two
    * forms are the same operator on different execution engines, the
    * v11/v12 shared-SQL precedent. */
  query("st25_sft_gate", oracle = Some(
      // st25 is the SAME operator on the streaming engine (keyed-state
      // assembler, StreamingSpec proves stream == batch) — shared mirror,
      // the v11/v12 precedent.
      t48Sql)) { (s, dir) =>
    import s.implicits._
    val evs = events(s, dir)
      .withColumn("ts", timestamp_micros(col("__tsu")))
      .select(col("event_id"), col("ts"), col("__tsu").as("tsu"),
        col("user_id"), col("event_type"))
      .as[graft.streaming.EventStreams.TurnRow]
    graft.streaming.EventStreams.sftGateStream(evs).toDF()
      .orderBy("user_id", "day")
  }

  /** ST24 batch mirror: streaming forward-fill
    * ([[graft.streaming.EventStreams.ffillStream]]) — u03's LOCF repair
    * run UNBOUNDED: each reading emits with its series' most recent
    * observed value, exactly once, in event-time order, under late /
    * out-of-order / replayed delivery (rows buffer until the watermark
    * passes them; a constant (hasLast, lastVal) summary absorbs
    * everything below it — O(watermark horizon) state). Same 25% md5
    * mask as u03; on this bounded run the same flatMapGroupsWithState
    * code path emits everything, and the oracle is u03's group-trick
    * fill restated over the FfillOut schema. StreamingSpec proves
    * stream == batch across chunkings, late delivery and replays. */
  query("st24_stream_ffill", oracle = Some(
      // st24: u03's group-trick LOCF restated over the FfillOut schema —
      // the stream must emit exactly the batch fill
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST('0x' || substring(md5('ffill:' || CAST(event_id AS VARCHAR)),1,8) AS BIGINT) % 4 = 0 AS masked
        |  FROM events),
        |g AS (SELECT *, CASE WHEN NOT masked THEN cents END AS obs,
        |    count(CASE WHEN NOT masked THEN 1 END) OVER (
        |      PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        |  FROM e),
        |f AS (SELECT user_id, event_id, ts_us, masked,
        |    max(obs) OVER (PARTITION BY user_id, grp) AS cents_filled
        |  FROM g)
        |SELECT user_id, event_id, ts_us, masked, cents_filled,
        |  masked AND cents_filled IS NOT NULL AS was_filled
        |FROM f ORDER BY event_id""".stripMargin)) { (s, dir) =>
    import s.implicits._
    val readings = eventsTs(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        when(expr(
          "cast(conv(substring(md5(concat('ffill:', cast(event_id as string))),1,8),16,10) as bigint) % 4 = 0"),
          lit(null).cast("long"))
          .otherwise(expr("cast(round(value * 100) as bigint)")).as("cents"))
      .as[graft.streaming.EventStreams.Reading]
    graft.streaming.EventStreams.ffillStream(readings).toDF()
      .orderBy("event_id")
  }

  /** ST19: near-dup dedup — keep-first per content fingerprint, stated
    * as the deterministic min-doc_id election (the st07 discipline: the
    * election coincides with a stream's first-arrival-wins under
    * doc_id-ordered arrival). The fingerprint is a full fallback chain in
    * an oracle-able md5 form: null text
    * -> id class, short text -> exact-content class, else min md5 over
    * the w=5 word shingles — each class salted so they cannot collide.
    * Scale: fingerprinting is map-only; the election is one equi-shuffle
    * on the 16-byte fingerprint + a semi-join — no text moves twice. */
  query("st19_neardedup_election", oracle = Some(
      // keep-first per near-dup fingerprint, the min-doc_id election form:
      // the fingerprint chain is null-text -> id class, short (<5 words) ->
      // exact-content class, else min md5 over the distinct 5-word shingles
      // (chr(31)-joined, the engine's ShingleSep) — salted prefixes keep
      // the classes disjoint; md5 hex + lexicographic min reproduce the
      // Spark expression byte-for-byte
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(w) - 3),
        |          i -> list_aggregate(w[i:i+4], 'string_agg', chr(31)))) AS s
        |        FROM tok WHERE len(w) >= 5),
        |mn AS (SELECT doc_id, min(md5(s)) AS m
        |       FROM (SELECT DISTINCT doc_id, s FROM sh0) GROUP BY 1),
        |fp AS (SELECT d.doc_id,
        |         CASE WHEN d.text IS NULL THEN 'null:' || CAST(d.doc_id AS VARCHAR)
        |              WHEN mn.m IS NOT NULL THEN 'fp:' || mn.m
        |              ELSE 'short:' || md5(d.text) END AS f
        |       FROM documents d LEFT JOIN mn USING (doc_id)),
        |win AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN win USING (doc_id) ORDER BY d.doc_id""".stripMargin)) { (s, dir) =>
    val docs = tblPar(s, dir, "documents")
    // an in-row min-over-md5 (what a streaming state key needs) runs the
    // interpreted HOF lambda path — 9s at sf0.1. This computes the
    // identical min via explode -> codegen'd md5 -> one partial-aggregated
    // min (shuffle volume = |docs|), then the fallback chain totalizes
    // docs with no shingles.
    val mins = docs
      .select(col("doc_id"), explode(TextOps.shingles(col("text"), 5)).as("sh"))
      .groupBy("doc_id").agg(min(md5(col("sh"))).as("m"))
    val withFp = docs.join(mins, Seq("doc_id"), "left")
      .withColumn("__fp",
        when(col("text").isNull, concat(lit("null:"), col("doc_id").cast("string")))
          .otherwise(coalesce(concat(lit("fp:"), col("m")),
            concat(lit("short:"), md5(col("text"))))))
    val winners = withFp.groupBy("__fp").agg(min(col("doc_id")).as("doc_id"))
    withFp.join(winners, Seq("__fp", "doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** ST20: the maintained-aggregate streaming sink's state table (its
    * foreachBatch body is [[graft.relational.IncrementalAgg.applyDelta]],
    * invoked here directly, the st14 discipline): per-user (count, sum)
    * folded in as two micro-batches split by event_id parity, so the
    * second batch merges into every slot the first one wrote. Values
    * enter the fold as exact integer cents (floor(value*100) — IEEE
    * multiply + floor are bit-reproducible in DuckDB, unlike an FP sum),
    * so replays/convergence are hash-checkable, not approximately so.
    * The oracle states the converged table declaratively: plain
    * GROUP BY over the whole log.
    * Each delta pre-aggregates map-side to (key, cnt, sum) partials, and only
    * the touched hash slots of the stored table are read back and merged, so
    * a refresh costs the delta plus the touched slots, never the log. */
  query("st20_maintained_agg", oracle = Some(
      // converged maintained aggregate: however the delta batches were
      // split, the folded table equals the plain GROUP BY over the log
      // (values as exact integer cents — floor(value*100))
      """SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)) { (s, dir) =>
    val tmp = scratch("graft_magg") + "/state"
    val kv = eventsTs(s, dir).select(
      col("user_id").cast("string").as("key"),
      floor(col("value") * 100).cast("long").as("value"),
      col("event_id"))
    graft.relational.IncrementalAgg.applyDelta(
      kv.filter(col("event_id") % 2 === 0).drop("event_id"), tmp)
    graft.relational.IncrementalAgg.applyDelta(
      kv.filter(col("event_id") % 2 === 1).drop("event_id"), tmp)
    graft.relational.IncrementalAgg.read(s, tmp)
      .select(col("key").cast("long").as("user_id"), col("cnt"),
        col("sum").as("sum_cents"))
      .orderBy("user_id")
  }
}
