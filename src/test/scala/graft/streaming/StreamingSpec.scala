package graft.streaming

import graft.streaming.EventStreams.Event
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Structured Streaming tests: the tumbling-window aggregation and the
 * keyed-state sessionizer run on a MemoryStream and must agree with their
 * batch mirrors (st01/st02 shapes in graft.queries.Queries).
 */
@graft.SlowTest
class StreamingSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val fixture = Seq(
    Event(0, ts(5), 1, "click", 1.0),
    Event(1, ts(20), 1, "click", 2.0),
    Event(2, ts(65), 2, "view", 3.0),   // second hour window
    Event(3, ts(70), 1, "click", 4.0),
    Event(4, ts(130), 1, "view", 5.0))  // third hour; 60-min gap for user 1

  test("streaming tumbling window agrees with the batch window aggregation") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[Event]
    stream.addData(fixture: _*)
    val q = EventStreams.tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("tumbling")
      .select(date_format(col("win_start"), "HH:mm").as("w"), col("event_type"),
        col("cnt"), col("sum_value_r"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val batch = EventStreams.tumblingCounts(fixture.toDF())
      .select(date_format(col("win_start"), "HH:mm").as("w"), col("event_type"),
        col("cnt"), col("sum_value_r"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed === batch)
    assert(streamed === Set(
      ("00:00", "click", 2L, 3.0),
      ("01:00", "view", 1L, 3.0),
      ("01:00", "click", 1L, 4.0),
      ("02:00", "view", 1L, 5.0)))
  }

  test("streaming windowed bitmap-distinct agrees with batch and is exact") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // user 1 hits hour 0 twice and hour 1 twice: distinct must collapse
    // repeats inside a window but not across windows
    val stream = MemoryStream[Event]
    stream.addData(fixture: _*)
    val q = EventStreams.windowedDistinctUsers(stream.toDF())
      .writeStream.format("memory").queryName("win_distinct")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select(date_format(col("win_start"), "HH:mm").as("w"), col("event_type"),
        col("n_users"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val streamed = shape(spark.table("win_distinct"))
    val batch = shape(EventStreams.windowedDistinctUsers(fixture.toDF()))
    assert(streamed === batch)
    assert(streamed === Set(
      ("00:00", "click", 1L, 2L),   // user 1 twice -> 1 distinct
      ("01:00", "view", 1L, 1L),
      ("01:00", "click", 1L, 1L),
      ("02:00", "view", 1L, 1L)))
  }

  test("native session_window stream agrees with batch and closes on gap >= 30 min") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[Event]
    stream.addData(fixture: _*)
    val q = EventStreams.sessionWindowCounts(stream.toDF())
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"),
        date_format(col("s_start"), "HH:mm").as("s"),
        date_format(col("s_end"), "HH:mm").as("e"),
        col("n_events"), col("sum_value_r"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val streamed = norm(spark.table("native_sessions"))
    val batch = norm(EventStreams.sessionWindowCounts(fixture.toDF()))
    assert(streamed === batch)
    // user 1: events at 00:05/00:20 merge (15 min < gap), 01:10 and 02:10
    // are fresh sessions (gaps 50/60 min >= 30); user 2: one singleton.
    assert(streamed === Set(
      (1L, "00:05", "00:50", 2L, 3.0),
      (1L, "01:10", "01:40", 1L, 4.0),
      (1L, "02:10", "02:40", 1L, 5.0),
      (2L, "01:05", "01:35", 1L, 3.0)))
  }

  test("streaming windowed top-k (bounded-heap state) agrees with the batch mirror") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // enough events per (window, type) to exceed k=2 and exercise eviction
    val events = Seq(
      Event(0, ts(5), 1, "click", 1.0), Event(1, ts(10), 1, "click", 9.0),
      Event(2, ts(15), 2, "click", 5.0), Event(3, ts(20), 2, "click", 9.0),
      Event(4, ts(25), 3, "click", 2.0), Event(5, ts(40), 3, "view", 7.0),
      Event(6, ts(70), 1, "click", 4.0))
    val stream = MemoryStream[Event]
    stream.addData(events: _*)
    val q = EventStreams.windowedTopK(stream.toDF(), k = 2)
      .writeStream.format("memory").queryName("wtopk")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(date_format(col("win_start"), "HH:mm").as("w"), col("event_type"),
        col("rnk"), col("event_id"), col("value_r"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val streamed = norm(spark.table("wtopk"))
    val batch = norm(EventStreams.windowedTopK(events.toDF(), k = 2))
    assert(streamed === batch)
    // value tie at 9.0 in hour 0 "click": event_id 1 < 3 breaks it
    assert(streamed === Set(
      ("00:00", "click", 1L, 1L, 9.0), ("00:00", "click", 2L, 3L, 9.0),
      ("00:00", "view", 1L, 5L, 7.0),
      ("01:00", "click", 1L, 6L, 4.0)))
  }

  test("session-window top-k: stream == batch, ties and heap eviction inside merged sessions") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext

    // user 1: 00:05/00:20/00:30/00:40 chain into ONE session (every gap
    // < 30 min) with 4 events — the k=2 heap must evict — and the 9.0
    // value tie must break by event_id asc; 01:30 is 50 min after 00:40,
    // a fresh session. user 2: singleton session.
    val events = Seq(
      Event(10, ts(5), 1, "click", 3.0), Event(11, ts(20), 1, "click", 9.0),
      Event(12, ts(30), 1, "view", 9.0), Event(13, ts(40), 1, "click", 1.0),
      Event(14, ts(90), 1, "view", 4.0),
      Event(15, ts(65), 2, "click", 2.0))
    val stream = MemoryStream[Event]
    stream.addData(events: _*)
    val q = EventStreams.sessionTopK(stream.toDF(), k = 2)
      .writeStream.format("memory").queryName("stopk")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"),
        date_format(col("s_start"), "HH:mm").as("s"),
        date_format(col("s_end"), "HH:mm").as("e"),
        col("rnk"), col("event_id"), col("value_r"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .toSet
    val streamed = norm(spark.table("stopk"))
    val batch = norm(EventStreams.sessionTopK(events.toDF(), k = 2))
    assert(streamed === batch)
    assert(streamed === Set(
      (1L, "00:05", "01:10", 1L, 11L, 9.0),  // tie at 9.0: id 11 < 12
      (1L, "00:05", "01:10", 2L, 12L, 9.0),  // ids 10, 13 evicted
      (1L, "01:30", "02:00", 1L, 14L, 4.0),
      (2L, "01:05", "01:35", 1L, 15L, 2.0)))
  }

  test("streaming dedup drops re-delivered event ids within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Event]
    stream.addData(fixture ++ Seq(fixture(1), fixture(3)): _*) // re-deliveries
    val q = EventStreams.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === fixture.map(_.event_id).sorted)
  }

  test("crawl-change classifier: stream == batch across micro-batches, state carries") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.Fetch
    def f(id: Long, minute: Int, url: String, fp: String): Fetch =
      Fetch(id, ts(minute), url, fp, ts(minute).getTime * 1000L)
    val batch1 = Seq(
      f(0, 5, "u1", "A"), // new
      f(1, 10, "u1", "A"), // unchanged (same batch)
      f(2, 15, "u2", "X")) // new
    val batch2 = Seq(
      f(3, 65, "u1", "B"), // changed vs batch-1 state
      f(4, 70, "u2", "X"), // unchanged vs batch-1 state
      f(5, 75, "u3", "Z")) // new
    val stream = MemoryStream[Fetch]
    val q = EventStreams.crawlChanges(stream.toDS())
      .writeStream.format("memory").queryName("crawlchg").outputMode("append").start()
    try {
      stream.addData(batch1: _*); q.processAllAvailable()
      stream.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "status").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val streamed = rows(spark.table("crawlchg"))
    assert(streamed === Map(0L -> "new", 1L -> "unchanged", 2L -> "new",
      3L -> "changed", 4L -> "unchanged", 5L -> "new"))
    // bounded run of the same operator agrees (the st21 mirror contract)
    val batch = rows(EventStreams.crawlChanges((batch1 ++ batch2).toDS()).toDF())
    assert(batch === streamed)
  }

  test("stream-stream interval join agrees with its batch mirror") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(10, ts(5), 1, "view", 1.0),
      Event(11, ts(20), 1, "click", 2.0),  // pairs with view 10 (15 min back)
      Event(12, ts(40), 2, "view", 3.0),   // other user: no pair for 11
      Event(13, ts(50), 2, "click", 4.0),  // pairs with view 12
      Event(14, ts(200), 1, "click", 5.0)) // view 10 is 195 min old: no pair
    val stream = MemoryStream[Event]
    stream.addData(events: _*)
    val q = EventStreams.clickViewJoin(stream.toDF(), lookbackMinutes = 60)
      .writeStream.format("memory").queryName("ivjoin").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("click_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = rows(spark.table("ivjoin"))
    val batch = rows(EventStreams.clickViewJoin(events.toDF(), lookbackMinutes = 60))
    assert(streamed === batch)
    assert(streamed === Set((11L, 10L), (13L, 12L)))
  }

  test("stream-stream LEFT OUTER join null-pads unmatched clicks once the watermark closes") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(10, ts(5), 1, "view", 1.0),
      Event(11, ts(20), 1, "click", 2.0),  // pairs with view 10
      Event(12, ts(40), 2, "view", 3.0),
      Event(13, ts(50), 2, "click", 4.0),  // pairs with view 12
      Event(14, ts(200), 1, "click", 5.0)) // view 10 is 195 min old: unmatched
    val stream = MemoryStream[Event]
    stream.addData(events: _*)
    val q = EventStreams.clickViewJoinOuter(stream.toDF(), lookbackMinutes = 60)
      .writeStream.format("memory").queryName("ovjoin").outputMode("append").start()
    try {
      q.processAllAvailable()
      // far-future sentinels on BOTH sides: the global watermark is the
      // min over the two withWatermark nodes, so each side needs its max
      // event time advanced before unmatched rows may emit; the
      // sentinels themselves stay out of the result (the view matches
      // nothing, the click's own window never closes)
      stream.addData(Event(98, ts(1000), 99, "view", 0.0),
        Event(99, ts(1001), 99, "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("user_id") =!= 99)
      .select("click_id", "view_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val streamed = rows(spark.table("ovjoin"))
    val batch = rows(EventStreams.clickViewJoinOuter(events.toDF(), lookbackMinutes = 60))
    assert(streamed === batch)
    assert(streamed === Set((11L, 10L), (13L, 12L), (14L, -1L)))
  }

  test("maintained-aggregate sink: stream-fed folds converge to the one-shot aggregate") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_aggsink").toString + "/agg"
    val rows1 = Seq(("a", 1L), ("b", 10L), ("a", 2L))
    val rows2 = Seq(("b", 5L), ("c", 7L), ("a", 4L))
    val stream = MemoryStream[(String, Long)]
    stream.addData(rows1: _*)
    val q = EventStreams.maintainAggStream(
        stream.toDF().toDF("key", "value"), dir, nParts = 4)
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // mid-stream read: the table already serves batch 1's aggregate
      val mid = graft.relational.IncrementalAgg.read(spark, dir)
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(mid === Map("a" -> ((2L, 3L)), "b" -> ((1L, 10L))), s"mid $mid")
      stream.addData(rows2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val fin = graft.relational.IncrementalAgg.read(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // converged == the one-shot aggregate over everything the stream saw
    val oneShot = (rows1 ++ rows2).groupBy(_._1).map { case (k, vs) =>
      k -> ((vs.size.toLong, vs.map(_._2).sum))
    }
    assert(fin === oneShot, s"stream-fed $fin != one-shot $oneShot")
  }

  test("rate limit admits first-n per (type, window) with pruned state; stream == batch rank") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // window = 1h, n = 2: minute 0-59 has 3 'a' events (third drops) and
    // 1 'b'; the next hour re-opens 'a' quota; a second TRIGGER continues
    // the same hour for 'b' (state must carry the count across triggers)
    val batch1 = Seq(
      Event(1, ts(1), 1, "a", 1.0), Event(2, ts(2), 2, "a", 1.0),
      Event(3, ts(3), 3, "a", 1.0), // over quota -> drop
      Event(4, ts(4), 4, "b", 1.0),
      Event(5, ts(70), 5, "a", 1.0)) // next hour: admits
    val batch2 = Seq(
      Event(6, ts(75), 6, "b", 1.0),  // b's hour-1 window: count carried... (new window, admits)
      Event(7, ts(80), 7, "a", 1.0),  // a hour-1: second admit
      Event(8, ts(85), 8, "a", 1.0))  // a hour-1: over quota -> drop
    val stream = MemoryStream[Event]
    stream.addData(batch1: _*)
    val q = EventStreams.rateLimit(stream.toDS(), n = 2)
      .writeStream.format("memory").queryName("rlimit").outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("rlimit").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed === Seq(1L, 2L, 4L, 5L, 6L, 7L), s"admitted $streamed")
    // the batch-mirror rank form admits the identical set
    val all = (batch1 ++ batch2).toDS()
    val viaRank = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"), expr("date_trunc('HOUR', ts)"))
        .orderBy(col("ts"), col("event_id"))
      all.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(viaRank === streamed)
  }

  test("stream-stream FULL OUTER join emits every row of both sides exactly once") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(10, ts(5), 1, "view", 1.0),    // pairs with click 11
      Event(11, ts(20), 1, "click", 2.0),
      Event(12, ts(40), 2, "view", 3.0),   // pairs with click 13
      Event(13, ts(50), 2, "click", 4.0),
      Event(14, ts(200), 1, "click", 5.0), // view 10 too old: click-side null pad
      Event(15, ts(300), 3, "view", 6.0))  // no click ever: view-side null pad
    val stream = MemoryStream[Event]
    stream.addData(events: _*)
    val q = EventStreams.clickViewJoinFull(stream.toDF(), lookbackMinutes = 60)
      .writeStream.format("memory").queryName("fvjoin").outputMode("append").start()
    try {
      q.processAllAvailable()
      // advance both side watermarks so unmatched rows on EACH side emit
      stream.addData(Event(98, ts(1500), 99, "view", 0.0),
        Event(99, ts(1501), 99, "click", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .filter(coalesce(col("user_id"), col("view_user_id")) =!= 99)
      .select("click_id", "view_id").collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val streamed = rows(spark.table("fvjoin"))
    val batch = rows(EventStreams.clickViewJoinFull(events.toDF(), lookbackMinutes = 60))
    assert(streamed === batch, s"stream $streamed != batch $batch")
    // completeness: both matched pairs, the unmatched click, AND the
    // unmatched view — the row the left-outer form silently drops
    assert(streamed === Set((11L, 10L), (13L, 12L), (14L, -1L), (-1L, 15L)))
  }

  test("stream-stream LEFT SEMI join emits converted clicks once, never per view") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(10, ts(5), 1, "view", 1.0),
      Event(11, ts(10), 1, "view", 1.5),   // second matching view for click 12
      Event(12, ts(20), 1, "click", 2.0),  // 2 preceding views -> ONE row
      Event(13, ts(40), 2, "view", 3.0),
      Event(14, ts(50), 2, "click", 4.0),  // 1 preceding view
      Event(15, ts(200), 1, "click", 5.0)) // views 195+ min old: not emitted
    val stream = MemoryStream[Event]
    stream.addData(events: _*)
    val q = EventStreams.clickViewJoinSemi(stream.toDF(), lookbackMinutes = 60)
      .writeStream.format("memory").queryName("svjoin").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("click_id").collect().map(_.getLong(0)).toSeq.sorted
    val streamed = rows(spark.table("svjoin"))
    val batch = rows(EventStreams.clickViewJoinSemi(events.toDF(), lookbackMinutes = 60))
    assert(streamed === batch)
    assert(streamed === Seq(12L, 14L), s"got $streamed")
  }

  test("streaming upsert sink: last-wins state converges, untouched partitions keep files") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("upsert_t").toString + "/state"
    val stream = MemoryStream[Event]
    val q = EventStreams.upsertStream(stream.toDF(), dir, nParts = 4)
      .outputMode("update").start()
    def files(p: Int): Set[String] = {
      val d = new java.io.File(s"$dir/__p=$p")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    try {
      // batch 1: users 1..4 (all four partitions), two rows for user 1
      stream.addData(
        Event(10, ts(5), 1, "view", 1.0), Event(11, ts(6), 1, "click", 2.0),
        Event(12, ts(7), 2, "view", 3.0), Event(13, ts(8), 3, "view", 4.0),
        Event(14, ts(9), 4, "click", 5.0))
      q.processAllAvailable()
      val p2Before = files(2)
      val p3Before = files(3)
      assert(p2Before.nonEmpty && p3Before.nonEmpty)
      // batch 2: only user 1 (partition 1) and user 4 (partition 0);
      // an OLDER event id for user 4 must lose to the stored winner
      stream.addData(Event(15, ts(20), 1, "view", 9.0),
        Event(9, ts(2), 4, "view", 0.5))
      q.processAllAvailable()
      assert(files(2) === p2Before, "partition 2 untouched by batch 2")
      assert(files(3) === p3Before, "partition 3 untouched by batch 2")
    } finally q.stop()
    val got = spark.read.parquet(dir)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 15L, 9.0), (2L, 12L, 3.0), (3L, 13L, 4.0), (4L, 14L, 5.0)),
      s"got $got")
    // replay idempotence: re-applying batch 2 as a batch changes nothing
    val replay = Seq(Event(15, ts(20), 1, "view", 9.0), Event(9, ts(2), 4, "view", 0.5))
    EventStreams.upsertBatch(replay.toDF(), dir, nParts = 4)
    val again = spark.read.parquet(dir)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(again === got, "replayed batch must be a no-op")
  }

  test("stream-static enrichment join agrees with its batch mirror, '(none)' kept") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // dim covers users 1 and 2; user 3 must survive into '(none)'
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val events = Seq(
      Event(0, ts(5), 1, "click", 1.0), Event(1, ts(10), 2, "view", 2.0),
      Event(2, ts(15), 3, "click", 4.0), Event(3, ts(70), 1, "click", 8.0))
    val stream = MemoryStream[Event]
    stream.addData(events: _*)
    val q = EventStreams.enrichedTumblingCounts(stream.toDF(), dim)
      .writeStream.format("memory").queryName("enrich")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(date_format(col("win_start"), "HH:mm").as("w"), col("segment"),
        col("cnt"), col("sum_value_r"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val streamed = norm(spark.table("enrich"))
    val batch = norm(EventStreams.enrichedTumblingCounts(events.toDF(), dim))
    assert(streamed === batch)
    assert(streamed === Set(
      ("00:00", "BUILDING", 1L, 1.0), ("00:00", "MACHINERY", 1L, 2.0),
      ("00:00", "(none)", 1L, 4.0), ("01:00", "BUILDING", 1L, 8.0)))
  }

  test("streaming ingest: gate drops low-quality, dedup admits first per fingerprint") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def doc(id: Long, minute: Int, text: String, lang: String) =
      (id, ts(minute), text, lang)
    val long1 = (1 to 35).map(i => s"w$i").mkString(" ")          // >= 30 words
    val long2 = "p q r s t " + (1 to 30).map(i => s"v$i").mkString(" ")
    val dup1 = long1 + " extra tail words here"                   // same 5-word prefix
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    val q = EventStreams.ingestStream(
        stream.toDF().toDF("doc_id", "ts", "text", "lang"), minWords = 30)
      .writeStream.format("memory").queryName("ingest").outputMode("append").start()
    try {
      stream.addData(doc(1, 5, long1, "en"), doc(2, 6, "too short", "en"),
        doc(3, 7, long2, "fr"))
      q.processAllAvailable()
      stream.addData(doc(4, 8, dup1, "en")) // prefix-dup of doc 1: rejected
      q.processAllAvailable()
    } finally q.stop()
    val admitted = spark.table("ingest").select("doc_id").collect()
      .map(_.getLong(0)).sorted
    assert(admitted.toSeq === Seq(1L, 3L))
    // and the deterministic batch election (the st07 query form) coincides
    val batch = Seq(doc(1, 5, long1, "en"), doc(2, 6, "too short", "en"),
      doc(3, 7, long2, "fr"), doc(4, 8, dup1, "en"))
      .toDF("doc_id", "ts", "text", "lang")
      .filter(size(split(col("text"), " ")) >= 30)
      .withColumn("__fp", md5(array_join(slice(split(col("text"), " "), 1, 5), " ")))
    val winners = batch.groupBy("__fp").agg(min(col("doc_id")).as("doc_id"))
    val batchIds = batch.join(winners, Seq("__fp", "doc_id"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(batchIds.toSeq === admitted.toSeq)
  }

  test("streaming ingest to a partitioned sink + per-partition compaction maintenance") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_part_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_part_ckpt").toString
    def doc(id: Long, minute: Int, text: String, lang: String) =
      (id, ts(minute), text, lang)
    def longText(seed: Int) = (1 to 35).map(i => s"w${seed}_$i").mkString(" ")

    // 4 micro-batches x 2 langs: each trigger appends one file per
    // (lang, task) — the small-file accretion compaction exists for
    val stream = MemoryStream[(Long, java.sql.Timestamp, String, String)]
    val q = EventStreams.ingestStream(
        stream.toDF().toDF("doc_id", "ts", "text", "lang"), minWords = 30)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .partitionBy("lang").outputMode("append").start()
    try {
      for (b <- 0 until 4) {
        stream.addData(doc(b * 2L, b * 2, longText(b * 2), "en"),
          doc(b * 2L + 1, b * 2 + 1, longText(b * 2 + 1), "fr"))
        q.processAllAvailable()
      }
    } finally q.stop()

    val want = spark.read.parquet(out).select("doc_id", "lang")
      .collect().map(_.toString).sorted
    assert(want.length === 8, "all 8 quality-passing docs must land")
    def leafFiles(lang: String): Int = new java.io.File(s"$out/lang=$lang")
      .listFiles().count(f => f.isFile && !f.getName.startsWith("_")
        && !f.getName.startsWith("."))
    assert(leafFiles("en") >= 4 && leafFiles("fr") >= 4,
      "each partition must have accreted one file per trigger")

    // the sink dir is governed by its _spark_metadata commit log — batch
    // readers resolve files THROUGH the log, so compaction must refuse it
    // until the retired sink is graduated to a raw table
    assertThrows[IllegalStateException] {
      graft.relational.Compaction.compactPartitioned(
        spark, out, targetBytes = 64L << 20)
    }
    assert(graft.relational.Compaction.graduateStreamingSink(spark, out))

    // post-batch maintenance: fold each leaf partition independently
    val reports = graft.relational.Compaction.compactPartitioned(
      spark, out, targetBytes = 64L << 20)

    assert(reports.keySet === Set("lang=en", "lang=fr"))
    for ((leaf, r) <- reports) {
      assert(r.rewritten >= 4, s"$leaf: small files not folded ($r)")
      assert(r.filesAfter < r.filesBefore, s"$leaf: no file-count win ($r)")
    }
    assert(leafFiles("en") === reports("lang=en").filesAfter)
    assert(leafFiles("fr") === reports("lang=fr").filesAfter)
    // the partitioned table reads back identically, lang column intact
    val got = spark.read.parquet(out).select("doc_id", "lang")
      .collect().map(_.toString).sorted
    assert(got === want, "compaction must not change table content")
  }

  test("checkpoint recovery: a restarted query resumes exactly-once (no dup, no loss)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val stream = MemoryStream[Event]
    def start() = EventStreams.dedupEvents(stream.toDF())
      .select("event_id", "user_id", "event_type")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    // batch 1 committed, then the query "crashes" (stop) before batch 2
    val q1 = start()
    stream.addData(fixture.take(3): _*)
    q1.processAllAvailable()
    q1.stop()
    // batch 2 arrives while down; restart from the checkpoint picks it up,
    // including a re-delivery of event 1 that dedup must drop
    stream.addData(fixture.drop(3) :+ fixture(1): _*)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === fixture.map(_.event_id).sorted,
      s"exactly-once violated: ${ids.toSeq}")
  }

  test("upsert sink checkpoint recovery: restart re-merges idempotently, state exact") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ups_ckpt").toString
    val dir = java.nio.file.Files.createTempDirectory("graft_ups_tbl").toString + "/state"
    val stream = MemoryStream[Event]
    def start() = EventStreams.upsertStream(stream.toDF(), dir, nParts = 4)
      .option("checkpointLocation", ckpt).outputMode("update").start()

    val q1 = start()
    stream.addData(Event(10, ts(5), 1, "view", 1.0), Event(11, ts(6), 2, "view", 2.0))
    q1.processAllAvailable()
    q1.stop()
    // batch 2 lands while down (an update for user 1 plus a LOSING older
    // id for user 2); the restart replays from the checkpoint — the merge
    // must converge to the same last-wins state it would have reached
    // without the crash, because upserts are idempotent by election
    stream.addData(Event(12, ts(10), 1, "click", 9.0), Event(9, ts(2), 2, "view", 0.1))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(dir)
      .select("user_id", "event_id", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 12L, 9.0), (2L, 11L, 2.0)), s"got $got")
  }

  test("streaming near-dup dedup keeps the first doc per content fingerprint") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    stream.addData(
      (1L, ts(1), base),
      (2L, ts(2), base),           // exact re-crawl -> dropped
      (3L, ts(3), base + " w11"),  // near-identical: same min shingle hash -> dropped
      (4L, ts(4), "z1 z2 z3 z4 z5 z6"),
      (5L, ts(5), "short one"),    // below w words: must NOT collapse together
      (6L, ts(6), "other short"),
      (7L, ts(7), "short one"))    // exact short re-crawl -> dropped
    val q = EventStreams.dedupNearStream(
        stream.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("neardup").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val kept = spark.table("neardup").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 4L, 5L, 6L))
  }

  test("st19 mirror: streaming dedup over the md5 fingerprint admits the min-doc_id election set") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    // doc_id-ordered arrival (one MemoryStream batch), so the stream's
    // first-arrival-wins coincides with the batch election's min doc_id
    val docs = Seq(
      (1L, ts(1), base),
      (2L, ts(2), base),            // exact re-crawl -> same fp class
      (3L, ts(3), base + " w11"),   // near-dup: fp equality decided by md5 min
      (4L, ts(4), "z1 z2 z3 z4 z5 z6"),
      (5L, ts(5), "shorty"),        // <5 words -> short: class
      (6L, ts(6), "shorty"),        // exact short re-crawl -> dropped
      (7L, ts(7), null.asInstanceOf[String]), // null text -> id class, always kept
      (8L, ts(8), null.asInstanceOf[String]))
    val df = docs.toDF("doc_id", "ts", "text")
    val fp = EventStreams.nearDupFingerprintMd5(col("text"), col("doc_id"), 5)
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    stream.addData(docs: _*)
    val q = EventStreams.dedupStreamBy(
        stream.toDF().toDF("doc_id", "ts", "text"), fp)
      .writeStream.format("memory").queryName("nd19").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("nd19").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    // the st19 batch election over the identical fingerprint
    val withFp = df.withColumn("__fp", fp)
    val winners = withFp.groupBy("__fp")
      .agg(org.apache.spark.sql.functions.min(col("doc_id")).as("doc_id"))
    val elected = withFp.join(winners, Seq("__fp", "doc_id"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed === elected, s"stream $streamed != election $elected")
    // class disjointness: both null-text docs keep (id class), one short
    // keeps, and the exact re-crawl of doc 1 never survives
    assert(streamed.contains(7L) && streamed.contains(8L))
    assert(streamed.contains(5L) && !streamed.contains(6L))
    assert(streamed.contains(1L) && !streamed.contains(2L))
  }

  test("streaming near-dup admission rejects cross-corpus dups: stream == batch, both forms") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // already-ingested corpus (static side)
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val index = graft.llm.Dedup.withSignatures(corpus, w = 5, k = 32)
      .filter(col("sig").isNotNull)
    // incoming stream: re-crawl of 100, near-dup of 101, novel, unshingle-able
    val incoming = Seq(
      (1L, ts(1), "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, ts(2), "one two three four five six seven eight nine ten eleven twelve extra"),
      (3L, ts(3), "fresh material about adaptive query execution and bucketing"),
      (4L, ts(4), "tiny"))
    val expected = Seq(3L, 4L)

    // form 1: the stateless stream-static broadcast anti-join gate
    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    stream.addData(incoming: _*)
    val q = EventStreams.admitNearDupStream(
        stream.toDF().toDF("doc_id", "ts", "text"), index, minJ = 0.5)
      .writeStream.format("memory").queryName("ndadmit").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ndadmit").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed === expected, s"stateless gate admitted $streamed")
    // the stateless gate run on the SAME frame as a batch agrees (its
    // transform is engine-mode-agnostic)...
    val batchDf = incoming.toDF("doc_id", "ts", "text")
    val viaGateBatch = EventStreams.admitNearDupStream(batchDf, index, minJ = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaGateBatch === expected)
    // ...and matches the indexed batch admission operator exactly
    val viaBatchOp = graft.llm.Dedup.nearDupAdmit(batchDf, index, minJ = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaBatchOp === expected)

    // form 2: foreachBatch + the indexed batch operator (corpus-scale path)
    val stream2 = MemoryStream[(Long, java.sql.Timestamp, String)]
    stream2.addData(incoming.take(2): _*) // two triggers: admission must be
    val admitted = scala.collection.mutable.SortedSet.empty[Long] // per-batch
    val q2 = stream2.toDF().toDF("doc_id", "ts", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        admitted ++= EventStreams.nearDupAdmitBatch(index, minJ = 0.5)(b)
          .select("doc_id").collect().map(_.getLong(0))
        () // Unit: the (DataFrame, Long) => Unit overload
      }.start()
    try {
      q2.processAllAvailable()
      stream2.addData(incoming.drop(2): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(admitted.toSeq === expected, s"foreachBatch path admitted $admitted")
  }

  test("streaming decontamination gate: stream == batch; split-across-bench bloom suspects survive") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bench = Seq(
      (900L, "question one alpha beta gamma delta answer"),
      (901L, "question two epsilon zeta eta theta answer"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      // verbatim bench text inside a longer doc: many shared 3-grams -> DROP
      (1L, ts(1), "prefix words question one alpha beta gamma delta answer suffix words"),
      // exactly ONE shared 3-gram ("alpha beta gamma"): bloom hits 1 < 2 -> fast-path admit
      (2L, ts(2), "unrelated text alpha beta gamma continues differently here now"),
      // one shared 3-gram with EACH bench doc (union hits 2 -> bloom
      // suspect) but never 2 with the same doc: exact verify must ADMIT —
      // the false drop a union-level count would make
      (3L, ts(3), "mix alpha beta gamma and epsilon zeta eta but nothing else shared"),
      // clean and unshingle-able rows: admitted
      (4L, ts(4), "completely novel content about bucketed layouts and codegen"),
      (5L, ts(5), "tiny"))
    val expected = Seq(2L, 3L, 4L, 5L)

    val stream = MemoryStream[(Long, java.sql.Timestamp, String)]
    stream.addData(incoming: _*)
    val q = EventStreams.decontaminateStream(
        stream.toDF().toDF("doc_id", "ts", "text"), bench, w = 3, minShared = 2)
      .writeStream.format("memory").queryName("decon").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("decon").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(streamed === expected, s"stream gate admitted $streamed")

    // the identical transform on the bounded frame agrees (mode-agnostic)
    val viaBatch = EventStreams.decontaminateStream(
        incoming.toDF("doc_id", "ts", "text"), bench, w = 3, minShared = 2)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaBatch === expected, s"batch mirror admitted $viaBatch")

    // and agrees with the batch decontamination operator's drop set
    val flagged = graft.llm.Dedup.decontaminate(
        incoming.toDF("doc_id", "ts", "text"), bench, w = 3, minShared = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flagged === Set(1L), s"batch operator flagged $flagged")
  }

  test("sessionizer state compression: a session spanning watermark advances keeps exact counts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1 emits every 20 min from minute 0 to 140 (8 events, gap 30 min
    // -> ONE session). Watermark (1 h) advances past the early events while
    // the session is still open, forcing them into the compressed head
    // summary; the final advancer matures the session via the timeout path.
    val gap = 30L * 60 * 1000
    val u1 = (0 until 8).map(i => Event(i.toLong, ts(i * 20), 1, "click", 1.0))
    val stream = MemoryStream[Event]
    val q = EventStreams.sessionize(stream.toDS(), gapMs = gap)
      .writeStream.format("memory").queryName("sess_compress").outputMode("append").start()
    try {
      stream.addData(u1.take(4) :+ Event(100, ts(120), 99, "adv", 0.0): _*) // wm -> 60
      q.processAllAvailable()
      stream.addData(u1.drop(4) :+ Event(101, ts(240), 99, "adv", 0.0): _*) // wm -> 180
      q.processAllAvailable()
      stream.addData(Event(102, ts(600), 99, "adv", 0.0)) // fire timeouts
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_compress").as[EventStreams.SessionOut].collect()
      .filter(_.user_id == 1L)
      .map(o => (o.session_start_ms, o.session_end_ms, o.n_events)).toSet
    assert(got === Set((ts(0).getTime, ts(140).getTime, 8L)))
  }

  test("streaming SFT gate: one emission per conversation, stream == batch mirror under late/replayed delivery") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.{SftGateOut, TurnRow}
    def h32(p: String, id: Long): Long = java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$p:$id").substring(0, 8), 16)
    def roleClass(id: Long): String = {
      val r = h32("role", id) % 10
      if (r < 4) "user" else if (r < 9) "assistant" else "system"
    }
    val used = scala.collection.mutable.Set[Long]()
    def pick(role: String): Long = {
      var i = 0L
      while (used(i) || roleClass(i) != role) i += 1
      used += i; i
    }
    // epoch-based ts so the watermark horizon and the tsu-derived day
    // bucket share one clock (the registered query's ts = micros(tsu))
    def turn(min: Long, user: Long, role: String, typ: String): TurnRow =
      TurnRow(pick(role), new java.sql.Timestamp(min * 60000L),
        min * 60000000L, user, typ)
    // u1 day0: clean user/assistant/user -> kept
    val a1 = turn(5, 1, "user", "view")
    val a2 = turn(10, 1, "assistant", "click")
    val a3 = turn(15, 1, "user", "view")
    // u2 day0: assistant-first -> two violations, dropped
    val b1 = turn(20, 2, "assistant", "view")
    val b2 = turn(25, 2, "user", "view")
    // u1 day1: single turn -> too short, dropped
    val c1 = turn(1445, 1, "user", "view")
    val all = Seq(a1, a2, a3, b1, b2, c1)
    // probes (user 9, day 3) push the watermark past both day ends
    def probe(id: Long, min: Long) =
      TurnRow(1000L + id, new java.sql.Timestamp(min * 60000L),
        min * 60000000L, 9L, "view")

    val expected = Set(
      (1L, 0L, 3L, 3L, 0L, 0L,
        "<|user|>view<|assistant|>click<|user|>view", 42L, true),
      (2L, 0L, 2L, 2L, 0L, 2L,
        "<|assistant|>view<|user|>view", 29L, false),
      (1L, 1L, 1L, 1L, 0L, 0L, "<|user|>view", 12L, false))

    def run(name: String)(chunks: Seq[Seq[TurnRow]]): Set[(Long, Long, Long, Long, Long, Long, String, Long, Boolean)] = {
      val stream = MemoryStream[TurnRow]
      val q = EventStreams.sftGateStream(stream.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => stream.addData(c: _*); q.processAllAvailable() }
        stream.addData(probe(0, 4500)); q.processAllAvailable()
        stream.addData(probe(1, 4510)); q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[SftGateOut].collect()
        .filter(_.user_id != 9L)
        .map(o => (o.user_id, o.day, o.n_turns, o.n_nonsys, o.n_sys_late,
          o.n_role_viol, o.rendered, o.n_chars, o.kept)).toSet
    }

    val inOrder = run("sft_inorder")(Seq(all))
    assert(inOrder === expected, s"in-order: $inOrder")
    // out-of-order chunks + a replay of a3: identical conversations
    // (c1 rides last — its day-1 event time advances the watermark past
    // day-0 admissibility, exactly the ordering a real stream respects)
    val late = run("sft_late")(
      Seq(Seq(a3, a2), Seq(b2, a1, a3), Seq(b1), Seq(c1)))
    assert(late === expected, s"late: $late")

    // bounded run: same code path, every conversation emits
    val bounded = EventStreams.sftGateStream(all.toDS()).collect()
      .map(o => (o.user_id, o.day, o.n_turns, o.n_nonsys, o.n_sys_late,
        o.n_role_viol, o.rendered, o.n_chars, o.kept)).toSet
    assert(bounded === expected, s"bounded: $bounded")

    // and the registered BATCH mirror over the same rows agrees row for row
    val dir = java.nio.file.Files.createTempDirectory("graft_st25").toString
    all.map(t => (t.event_id, t.ts, t.user_id, t.event_type, 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val batch = graft.queries.TextQueries("t48_sft_assembly")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6), r.getLong(7),
        r.getBoolean(8))).toSet
    assert(batch === expected, s"batch mirror: $batch")
  }

  test("streaming forward-fill: late/replayed/re-chunked delivery fills identically") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.{FfillOut, Reading}
    // user 1: obs 100 @5, missing @20, obs 300 @70, missing @80;
    // user 2: missing @10 (leading — must stay unfilled)
    val r5 = Reading(0, ts(5), 1, Some(100L))
    val r20 = Reading(1, ts(20), 1, None)
    val r70 = Reading(2, ts(70), 1, Some(300L))
    val r80 = Reading(3, ts(80), 1, None)
    val r15 = Reading(4, ts(15), 2, None)
    val probe = Reading(99, ts(600), 9, Some(0L)) // watermark -> min 540

    def run(name: String)(chunks: Seq[Seq[Reading]]): Set[(Long, Long, Boolean, Option[Long], Boolean)] = {
      val stream = MemoryStream[Reading]
      val q = EventStreams.ffillStream(stream.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => stream.addData(c: _*); q.processAllAvailable() }
        stream.addData(Reading(100, ts(610), 9, Some(0L)))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[FfillOut].collect()
        .filter(_.user_id != 9L)
        .map(o => (o.user_id, o.event_id, o.masked, o.cents_filled, o.was_filled))
        .toSet
    }

    val expected = Set(
      (1L, 0L, false, Some(100L), false),
      (1L, 1L, true, Some(100L), true),
      (1L, 2L, false, Some(300L), false),
      (1L, 3L, true, Some(300L), true),
      (2L, 4L, true, None, false))

    val inOrder = run("ffill_inorder")(Seq(Seq(r5, r20, r70, r80, r15), Seq(probe)))
    // out-of-order: r70 delivered before r20 (chunk 1 moves the
    // watermark only to minute 10, so r20/r15 are late-but-admissible),
    // plus a replay of r5
    val late = run("ffill_late")(Seq(Seq(r5, r70), Seq(r20, r5, r80, r15), Seq(probe)))
    assert(inOrder === expected, s"in-order: $inOrder")
    assert(late === expected, s"late: $late")

    // bounded run: same code path, everything emits, equals the batch fill
    val bounded = EventStreams.ffillStream(
        Seq(r5, r20, r70, r80, r15).toDS())
      .collect()
      .map(o => (o.user_id, o.event_id, o.masked, o.cents_filled, o.was_filled))
      .toSet
    assert(bounded === expected, s"bounded: $bounded")
  }

  test("event-time sessionizer: late, replayed, re-chunked delivery yields identical sessions") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1 events at minutes 5, 20, 70: sessions [5..20] and [70..70]
    // (gap 30 min). A watermark-advancing probe at minute 600 (user 99,
    // watermark 1 h -> wm = minute 540) matures BOTH user-1 sessions, so
    // the timeout path must emit them without any further user-1 input.
    val gap = 30L * 60 * 1000
    def run(name: String)(chunks: Seq[Seq[Event]]): Set[(Long, Long, Long, Long)] = {
      val stream = MemoryStream[Event]
      val q = EventStreams.sessionize(stream.toDS(), gapMs = gap)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        chunks.foreach { c => stream.addData(c: _*); q.processAllAvailable() }
        // one empty-input microbatch so event-time timeouts registered by
        // the last data batch get a chance to fire
        stream.addData(Event(999, ts(610), 99, "probe", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name).as[EventStreams.SessionOut].collect()
        .map(o => (o.user_id, o.session_start_ms, o.session_end_ms, o.n_events))
        .filter(_._1 != 99L).toSet
    }

    val e5 = Event(0, ts(5), 1, "click", 1.0)
    val e20 = Event(1, ts(20), 1, "click", 2.0)
    val e70 = Event(3, ts(70), 1, "click", 4.0)
    val probe = Event(100, ts(600), 99, "probe", 0.0)

    val inOrder = run("sess_inorder")(Seq(Seq(e5, e20, e70), Seq(probe)))
    // out-of-order across batches: e70 before e20 (e20 is late but within
    // the 1 h watermark), plus a replay of e5
    val lateReplay = run("sess_late")(Seq(Seq(e5, e70), Seq(e20, e5), Seq(probe)))
    // everything in a single batch
    val oneBatch = run("sess_onebatch")(Seq(Seq(e5, e20, e70, probe)))

    assert(inOrder === lateReplay)
    assert(inOrder === oneBatch)
    assert(inOrder === Set(
      (1L, ts(5).getTime, ts(20).getTime, 2L),
      (1L, ts(70).getTime, ts(70).getTime, 1L)))
  }

  test("flatMapGroupsWithState sessionizer closes sessions on gap > 30 min") {
    val s = spark
    import s.implicits._
    // bounded run: sessions still open at end-of-input are not emitted —
    // assert on the *closed* ones, which is the streaming contract.
    val closed = EventStreams.sessionize(fixture.toDS(), gapMs = 30L * 60 * 1000)
      .collect().map(o => (o.user_id, o.n_events)).toSet
    // user 1: [5,20] then [70] closed by the 130 event; [130] stays open.
    // user 2: [65] stays open.
    assert(closed === Set((1L, 2L), (1L, 1L)))
  }

  test("streaming sample sink: maintained sample == direct bottom-k, replay is a no-op") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sample_t").toString + "/sample"
    val stream = MemoryStream[(String, Long)]
    val q = EventStreams.sampleStream(
      stream.toDF().toDF("source", "doc_id"), dir, "source", "doc_id", k = 4)
      .outputMode("update").start()
    val batch2 = (31L to 60L).map(("a", _)) :+ (("b", 99L))
    try {
      stream.addData((1L to 30L).map(("a", _)): _*)
      q.processAllAvailable()
      stream.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("source", "rnk", "doc_id", "pri").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val all = ((1L to 60L).map(("a", _)) :+ (("b", 99L))).toDF("source", "doc_id")
    val direct = canon(graft.llm.Samples.bottomK(all, "source", "doc_id", 4))
    assert(canon(spark.read.parquet(dir)) === direct,
      "maintained sample diverged from the direct bottom-k")
    // sub-k stratum: 'b' has exactly one member
    assert(direct.count(_._1 == "b") === 1)
    // at-least-once: re-applying batch 2 must change nothing (set semantics)
    EventStreams.sampleBatch(batch2.toDF("source", "doc_id"), dir,
      "source", "doc_id", k = 4)
    assert(canon(spark.read.parquet(dir)) === direct, "replayed batch mutated the sample")
  }
}
