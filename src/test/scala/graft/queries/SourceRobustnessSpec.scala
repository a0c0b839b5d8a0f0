package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Source-robustness behaviors a 100 TB ingest depends on: a single rotted
 * file (truncated block, bad checksum) must be skippable WITHOUT failing
 * the whole scan, and the skip must be a deliberate opt-in — by default
 * corruption is an error, never silent data loss.
 */
class SourceRobustnessSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("source-robustness-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def corpusDir(): (String, Long) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(2).write.mode("overwrite").parquet(dir)
    // rot one of the part files: keep the parquet magic so it is picked up
    // as a data file, then truncate the body mid-page
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val bytes = java.nio.file.Files.readAllBytes(part.toPath)
    java.nio.file.Files.write(part.toPath, bytes.take(bytes.length / 3))
    (dir, docs.count())
  }

  // ===== schema-drift lock ==================================================
  // The r8→r9 testdata regeneration silently changed events.ts from parquet
  // TIMESTAMP(NANOS) (surfaced as BIGINT nanos under nanosAsLong=true) to
  // TIMESTAMP_MICROS (surfaced as TIMESTAMP_NTZ) and killed 13 registered
  // queries at ANALYSIS time. These tests (a) pin the SEMANTIC contract each
  // table must keep — so the next drift fails with a readable message, not
  // 13 opaque DATATYPE_MISMATCH errors — and (b) regression-lock the
  // schema-adaptive events read against locally-written fixtures of every
  // physical variant, independent of /root/testdata's choice of the week.

  private val testdata = "/root/testdata/sf0.001"

  test("testdata tables keep their semantic contracts") {
    def cols(t: String) = spark.read.parquet(s"$testdata/$t.parquet").schema
    import org.apache.spark.sql.types._
    // events: a timestamp-CONVERTIBLE ts (any physical type events() takes)
    val ts = cols("events")("ts").dataType
    assert(Set[DataType](LongType, TimestampType, TimestampNTZType)(ts),
      s"events.ts drifted to $ts — extend Queries.events() for this type")
    for (c <- Seq("event_id", "user_id", "event_type", "value", "props"))
      assert(cols("events").fieldNames.contains(c), s"events lost column $c")
    // documents / embeddings: the LLM-pipeline surfaces
    assert(cols("documents")("text").dataType == StringType)
    assert(cols("documents")("doc_id").dataType == LongType)
    val emb = cols("embeddings")("embedding").dataType
    assert(emb.isInstanceOf[ArrayType],
      s"embeddings.embedding drifted to $emb — expected array of float/double")
    // TPC-H core keys the join family binds to
    for ((t, c) <- Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
        "customer" -> "c_custkey", "part" -> "p_partkey",
        "supplier" -> "s_suppkey", "nation" -> "n_nationkey",
        "region" -> "r_regionkey"))
      assert(cols(t).fieldNames.contains(c), s"$t lost key column $c")
  }

  test("events() reads every physical ts variant to identical micros") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 1970-01-02T03:04:05.123456Z and one second later, as epoch micros
    val us = Seq(97445123456L, 97446123456L)
    val rows = us.zipWithIndex.map { case (u, i) =>
      (i.toLong, u, i.toLong, "click", 1.5 + i, """{"k": 1}""") }

    def writeFixture(variant: String): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_ts_$variant").toString
      val base = rows.toDF("event_id", "__us", "user_id", "event_type", "value", "props")
      val withTs = variant match {
        case "nanos_long" => base.withColumn("ts", col("__us") * 1000L)
        case "ts_utc"     => base.withColumn("ts", timestamp_micros(col("__us")))
        case "ts_ntz"     => base.withColumn("ts",
          timestamp_micros(col("__us")).cast("timestamp_ntz"))
      }
      withTs.drop("__us").write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }

    for (variant <- Seq("nanos_long", "ts_utc", "ts_ntz")) {
      val dir = writeFixture(variant)
      val got = Queries.events(spark, dir)
        .orderBy("event_id").select("__tsu").as[Long].collect().toSeq
      assert(got == us, s"variant $variant normalized to $got, expected $us")
      // and a real registered ts-query SHAPE analyzes + runs on the fixture
      val win = StreamQueries("st01_tumbling_window")(spark, dir).collect()
      assert(win.nonEmpty, s"st01 shape produced no rows on $variant fixture")
    }
  }

  test("embeddings() reads float and double physical vectors identically") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vecs = Seq((0L, Seq(1.5f, -2.25f, 0.0f), 1),
      (1L, Seq(0.5f, 3.75f, -1.0f), 2))

    def writeFixture(asDouble: Boolean): String = {
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft_emb_${if (asDouble) "d" else "f"}").toString
      val base = vecs.toDF("vec_id", "embedding", "label")
      val df = if (asDouble)
        base.withColumn("embedding", col("embedding").cast("array<double>"))
      else base
      df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }

    val fromFloat = Queries.embeddings(spark, writeFixture(asDouble = false))
    val fromDouble = Queries.embeddings(spark, writeFixture(asDouble = true))
    // both normalize to the canonical array<float> the native kernels bind to
    import org.apache.spark.sql.types._
    for (df <- Seq(fromFloat, fromDouble))
      assert(df.schema("embedding").dataType == ArrayType(FloatType, containsNull = true)
        || df.schema("embedding").dataType == ArrayType(FloatType, containsNull = false),
        s"not normalized to array<float>: ${df.schema("embedding").dataType}")
    val a = fromFloat.orderBy("vec_id").select("embedding")
      .as[Seq[Float]].collect().toSeq
    val b = fromDouble.orderBy("vec_id").select("embedding")
      .as[Seq[Float]].collect().toSeq
    assert(a == b && a == vecs.map(_._2),
      s"float/double physical reads diverged: $a vs $b")
  }

  test("a truncated part file fails the scan by default, is skipped on opt-in") {
    val (dir, total) = corpusDir()
    // explicit schema throughout: truncation destroys the FOOTER, so
    // schema inference would die before ignoreCorruptFiles can apply —
    // the same no-inference discipline the s-family queries follow
    val schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    // default: corruption is an ERROR (no silent loss)
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
    val failed =
      try { spark.read.schema(schema).parquet(dir).count(); false }
      catch { case _: Throwable => true }
    assert(failed, "corrupt file must fail the scan when not opted in")
    // opt-in: the scan completes on the surviving file(s) only
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      val survived = spark.read.schema(schema).parquet(dir).count()
      assert(survived > 0 && survived < total,
        s"expected partial recovery, got $survived of $total")
    } finally spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
  }
}
