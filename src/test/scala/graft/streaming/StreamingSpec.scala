package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Structured Streaming tests: the [[EventStreams]] transforms and the
 * micro-batch sinks run on a MemoryStream and must agree with their batch
 * mirrors (the st queries in graft.queries.StreamQueries).
 */
@graft.SlowTest
class StreamingSpec extends AnyFunSuite {
  import StreamingSpec.Event

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** A sink that runs `apply` on each micro-batch (`foreachBatch`). */
  private def foreachBatchSink(df: DataFrame)(apply: DataFrame => Unit) =
    df.writeStream.foreachBatch { (b: DataFrame, _: Long) => apply(b) }

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val fixture = Seq(
    Event(0, ts(5), 1, "click", 1.0),
    Event(1, ts(20), 1, "click", 2.0),
    Event(2, ts(65), 2, "view", 3.0),   // second hour window
    Event(3, ts(70), 1, "click", 4.0),
    Event(4, ts(130), 1, "view", 5.0))  // third hour; 60-min gap for user 1

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
    val q = foreachBatchSink(stream.toDF().toDF("key", "value"))(
        graft.relational.IncrementalAgg.applyDelta(_, dir, nParts = 4))
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
    val q = foreachBatchSink(stream.toDF())(EventStreams.upsertBatch(_, dir, nParts = 4))
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

  test("upsert sink checkpoint recovery: restart re-merges idempotently, state exact") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ups_ckpt").toString
    val dir = java.nio.file.Files.createTempDirectory("graft_ups_tbl").toString + "/state"
    val stream = MemoryStream[Event]
    def start() = foreachBatchSink(stream.toDF())(EventStreams.upsertBatch(_, dir, nParts = 4))
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

  test("streaming near-dup admission rejects cross-corpus dups: foreachBatch == batch operator") {
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

    // the indexed batch admission operator over the whole input
    val batchDf = incoming.toDF("doc_id", "ts", "text")
    val viaBatchOp = graft.llm.Dedup.nearDupAdmit(batchDf, index, minJ = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaBatchOp === expected)

    // foreachBatch + the same operator per micro-batch (corpus-scale path);
    // materializeBatch off: nothing in the body outlives the trigger to
    // unpersist a per-batch cache
    val stream2 = MemoryStream[(Long, java.sql.Timestamp, String)]
    stream2.addData(incoming.take(2): _*) // two triggers: admission must be
    val admitted = scala.collection.mutable.SortedSet.empty[Long] // per-batch
    val q2 = stream2.toDF().toDF("doc_id", "ts", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        admitted ++= graft.llm.Dedup.nearDupAdmit(b, index, minJ = 0.5,
            materializeBatch = false)
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

  test("streaming sample sink: maintained sample == direct bottom-k, replay is a no-op") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sample_t").toString + "/sample"
    val stream = MemoryStream[(String, Long)]
    val q = foreachBatchSink(stream.toDF().toDF("source", "doc_id"))(
        EventStreams.sampleBatch(_, dir, "source", "doc_id", k = 4))
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

object StreamingSpec {
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
}
