package graft.queries

import graft.geo.GeoFunctions
import graft.llm.{Dedup, Multimodal, Similarity, TextOps, WebOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/**
 * The driver-contract query surface: one named query per operator family of
 * SURVEY.md §2 plus the LLM-data-pipeline operator families, expressed over
 * the TPC-H-ish tables in `/root/testdata/sf*` (TESTDATA.md). Each query has
 * a DuckDB-equivalent SQL in [[Oracle.sql]] where SQL-expressible.
 *
 * Determinism rules (the oracle hash-compares values):
 *  - every query ends in a total ORDER BY over non-null unique keys;
 *  - integer outputs are widened to BIGINT on both sides;
 *  - any float that is *computed* (sum/avg/product chains whose FP error
 *    depends on accumulation order) is `round`ed; floats passed through
 *    unchanged from parquet stay raw (bit-identical by construction);
 *  - timestamps cross the boundary as formatted strings (engine-native
 *    timestamp encodings differ).
 *
 * Scale notes are attached per query: these plans are written for a
 * 1000-executor cluster first and the local[32] harness second.
 */
object Queries {

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** [[tbl]] + a scan-parallelism floor for COMPUTE-HEAVY per-row work
    * (optimization guide §2.5 "input skew: one huge unsplittable file —
    * repartition immediately after the read"): a small parquet table is
    * one row group, so its scan is ONE task no matter how many cores the
    * session has, and a query whose per-row kernel is expensive (md5 per
    * word, levenshtein, shingle hashing, polygon folds) runs the whole
    * map stage single-threaded. A round-robin repartition to the
    * session's core count right after the scan moves the heavy
    * projection onto every core for the cost of shuffling the (tiny,
    * pre-projection) source bytes once. Scale-adaptive by construction:
    * when the scan already yields >= defaultParallelism splits (any
    * real corpus), this is the identity — no exchange is added at
    * 100 TB, where the 128 MB split cap governs parallelism. Results
    * are partitioning-independent (every query's output is
    * deterministically ordered and its aggregates integer-exact or
    * rounded), which the multi-core-count driver contract already
    * requires. */
  def tblPar(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = tbl(s, dir, name)
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Scratch directory for queries that must materialize an intermediate
    * table (sinks, versioned tables, ANN indexes). Registered for
    * recursive deletion at JVM exit so repeated bench/correctness runs
    * don't accumulate orphaned temp trees — a plain createTempDirectory
    * leaks its parquet payload forever. */
  def scratch(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(p.toFile)
    }))
    p.toString
  }

  /** Per-(prefix, input-dir) memo for scratch fixtures whose build cost
    * (e.g. a global row_number sort) shouldn't be re-paid on every
    * invocation within a run. */
  private val scratchMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  def scratchFor(prefix: String, dir: String)(build: String => Unit): String =
    scratchMemo.computeIfAbsent((prefix, dir), { _ =>
      val p = scratch(prefix); build(p); p
    })

  /** Schema-ADAPTIVE events scan. The testdata's physical type for
    * `events.ts` changed between rounds (parquet TIMESTAMP(NANOS),
    * surfaced as BIGINT nanos under `nanosAsLong=true`, regenerated as
    * TIMESTAMP_MICROS, surfaced as TIMESTAMP_NTZ) — queries must bind to
    * the SEMANTICS ("a timestamp-convertible ts"), never the physical
    * type of the week. Normalizes to `__tsu`: epoch MICROS as long, the
    * cross-engine-stable representation (the DuckDB oracle reads every
    * variant at micros via `epoch_us(ts)` — Oracle.scala). NTZ wall-clock
    * reads as UTC epoch: session tz is UTC in Verify/Bench/every spec,
    * asserted here so a drifted harness fails loudly, not hash-wrong. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df = tbl(s, dir, "events")
    val tsu: Column = df.schema("ts").dataType match {
      case LongType         => expr("ts div 1000") // TIMESTAMP(NANOS) read as long nanos
      case TimestampType    => unix_micros(col("ts"))
      case TimestampNTZType =>
        require(s.conf.get("spark.sql.session.timeZone") == "UTC",
          "NTZ events.ts needs session tz UTC for a stable epoch reading")
        unix_micros(col("ts").cast(TimestampType))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other — expected " +
          "long nanos (legacy nanosAsLong), TIMESTAMP, or TIMESTAMP_NTZ")
    }
    df.withColumn("__tsu", tsu)
  }

  /** [[events]] with `ts` itself replaced by the micros-precision
    * TIMESTAMP column (window()/streaming-mirror call sites). */
  def eventsTs(s: SparkSession, dir: String): DataFrame =
    events(s, dir).withColumn("ts", timestamp_micros(col("__tsu"))).drop("__tsu")

  /** Schema-ADAPTIVE embeddings scan — the same insurance [[events]]
    * gives ts, applied to the vector column the whole v-family and
    * every native Float kernel (vec_dot/vec_norm/vec_sum) binds to: if
    * a testdata regeneration widens `embedding` to array<double>, cast
    * back to the canonical array<float> instead of dying at analysis
    * (or worse, silently planning the non-codegen path). Identity when
    * the physical type is already float — no cast node in the plan. */
  def embeddings(s: SparkSession, dir: String): DataFrame = {
    val df = tbl(s, dir, "embeddings")
    df.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => df
      case org.apache.spark.sql.types.ArrayType(_, _) =>
        df.withColumn("embedding", col("embedding").cast("array<float>"))
      case other => throw new IllegalStateException(
        s"embeddings.embedding: unsupported physical type $other")
    }
  }

  /** [[embeddings]] through the [[tblPar]] scan-parallelism floor — the
    * vector kernels (dot products, quantizers, grid scoring) are heavy
    * per-row work over another single-row-group table. */
  def embeddingsPar(s: SparkSession, dir: String): DataFrame = {
    val df = embeddings(s, dir)
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  type Q = (SparkSession, String) => DataFrame

  // ===== sources / projections / scalar transforms ==========================

  /** S5/P1: projection + pushed-down filter; `.explain` shows PushedFilters
    * and a 4-column ReadSchema — the scan never materializes the other 7. */
  val s05ScanProject: Q = (s, dir) =>
    tbl(s, dir, "lineitem")
      .filter(col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")

  /** S6/K6: JSONL sink + source roundtrip — the interchange format of
    * training-data pipelines. Eagerly writes documents as newline-
    * delimited JSON (sink), then the returned frame reads it back with an
    * EXPLICIT schema — at scale a schema-inference pass over JSONL is a
    * full extra scan — and aggregates per language, including a
    * distinct-content-hash count so any corruption at the JSON boundary
    * (quoting, escapes, unicode, nulls) breaks the oracle hash compare,
    * which runs against the parquet the JSONL came from. */
  val s06JsonlRoundtrip: Q = (s, dir) => {
    val tmp = scratch("graft_jsonl")
    tbl(s, dir, "documents").write.mode("overwrite").json(tmp)
    s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .json(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .orderBy("lang")
  }

  /** S7: CSV sink + source roundtrip — the reference's export surface
    * (export_to_csv.py) driven through Spark's writer and read back with an
    * explicit schema (never inference — an extra full scan at 100 TB).
    * Documents text may contain any delimiter-ish bytes, so the write
    * quotes/escapes; content fidelity is proven by the same aggregate
    * contract as s06: counts, char sums, and distinct text hashes must
    * survive the CSV boundary and match DuckDB over the SOURCE parquet. */
  val s07CsvRoundtrip: Q = (s, dir) => {
    val tmp = scratch("graft_csv")
    tbl(s, dir, "documents").write.mode("overwrite")
      .option("header", "true").csv(tmp)
    s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .option("header", "true")
      .csv(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .orderBy("lang")
  }

  /** S8: partitioned sink + partition-pruned source — Hive-style
    * `partitionBy(lang)` layout, read back with a partition-key filter.
    * At 100 TB directory-level pruning is the first scale lever: the
    * lang IN ('en','fr') scan lists and opens ONLY those two directories
    * (the plan's PartitionFilters; PlanSpec asserts the pruned scan).
    * Content fidelity uses the same aggregate contract as s06/s07, run by
    * DuckDB against the SOURCE parquet — a lossy or misrouted partition
    * write breaks the hash. */
  val s08PartitionPrune: Q = (s, dir) => {
    val tmp = scratch("graft_part")
    tbl(s, dir, "documents").write.mode("overwrite")
      .partitionBy("lang").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("lang").isin("en", "fr"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .orderBy("lang", "source")
  }

  /** S15: DYNAMIC partition overwrite — the daily-reprocess write mode:
    * re-running one partition's extraction must replace exactly that
    * partition's files and leave every other partition untouched (the
    * default STATIC overwrite truncates the whole table first — the
    * classic reprocessing data-loss foot-gun; ScaleOpsSpec asserts the
    * untouched partitions keep their physical files). Query: documents
    * partitioned by lang; the 'en' slice arrives re-extracted (n_chars
    * doubled) and dynamically overwrites; the readback aggregate shows
    * en updated and everything else intact. The oracle states the
    * post-state declaratively. */
  val s15PartitionOverwrite: Q = (s, dir) => {
    val tmp = scratch("graft_dynpart")
    val docs = tbl(s, dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(tmp)
    docs.filter(col("lang") === "en")
      .withColumn("n_chars", col("n_chars") * 2)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(tmp)
    s.read.parquet(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .orderBy("lang")
  }

  /** S10: ORC sink + source roundtrip — the second columnar format a
    * warehouse interchange needs beside parquet (same explicit-schema,
    * no-inference discipline; ORC read paths are vectorized like parquet).
    * Content fidelity by the s06/s07 aggregate contract against the SOURCE
    * parquet. */
  val s10OrcRoundtrip: Q = (s, dir) => {
    val tmp = scratch("graft_orc")
    tbl(s, dir, "documents").write.mode("overwrite").orc(tmp)
    s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .orc(tmp)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        countDistinct(md5(col("text"))).as("n_texts"))
      .orderBy("lang")
  }

  /** S12: deterministic training-shard export + manifest — the last step
    * of a corpus build: assign every doc a shard by content-independent
    * hash (md5 of the id, so reruns and retries land identically),
    * repartition so each shard is written by one task (files per shard
    * bounded, no small-file explosion), sort within shards for stable
    * reader order, and emit the manifest a training job consumes:
    * (shard, n_docs, n_tokens, checksum). The checksum is an
    * order-independent SUM of per-doc md5 prefixes — integer-exact, so
    * readback equality proves the written shards carry exactly the
    * corpus. The manifest is computed FROM THE WRITTEN FILES, verifying
    * the whole sink+source boundary, and the oracle recomputes it from
    * the source table. */
  val s12ShardExport: Q = (s, dir) => {
    val tmp = scratch("graft_shard")
    tbl(s, dir, "documents")
      .withColumn("shard", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 8"))
      .repartition(8, col("shard"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").partitionBy("shard").parquet(tmp)
    s.read.parquet(tmp)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        sum(expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"))
          .as("checksum"))
      .orderBy("shard")
  }

  /** S13: Z-order (Morton) clustered layout + locality audit — the
    * multi-dimensional clustering warehouses use for data skipping
    * (Delta ZORDER BY / Iceberg sort orders), built from first
    * principles: interleave the bits of (n_chars, 16-bit lang hash) into
    * one integer sort key ([[graft.relational.Layout.zValue]]),
    * range-partition + sort the write on it, then audit per z-range
    * bucket from the WRITTEN files: docs, distinct langs, n_chars
    * envelope. Locality is the measured claim — each bucket touches few
    * langs AND a narrow length band, so a filter on either dimension
    * prunes most files; a plain sort delivers that only for its leading
    * column. The z key is 32 shift/mask terms of integer arithmetic,
    * generated from the same loop as the oracle's SQL mirror. */
  val s13ZorderLayout: Q = (s, dir) => {
    val tmp = scratch("graft_zorder")
    val z = graft.relational.Layout.zValue(col("n_chars"),
      expr("cast(conv(substring(md5(lang), 1, 4), 16, 10) as bigint)"))
    tbl(s, dir, "documents").withColumn("z", z)
      .repartitionByRange(8, col("z"))
      .sortWithinPartitions("z")
      .write.mode("overwrite").parquet(tmp)
    s.read.parquet(tmp)
      .groupBy(expr(s"z div ${1L << 24}").as("z_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("z_bucket")
  }

  /** X46: zone-map skip census — the NUMBER behind the s13 z-order
    * claim: how many files (and rows) does a (lang, length-band) probe
    * actually read under a z-ordered layout vs the naive
    * ingestion-order layout? Parquet/Iceberg/Delta pruning is exactly
    * this comparison of per-file min/max stats against the predicate,
    * so the census is computed LOGICALLY — files are value-based
    * buckets (z div 2^12 for the z-layout: the top 2 bits of EACH
    * dimension, a balanced 4x4 grid; doc_id div width for linear —
    * both the real boundary rules of a range-partitioned write, and
    * deterministic, unlike repartitionByRange's sampled boundaries).
    * Dimensions are normalized to 8 bits each (c8 = chars div 4, h8 =
    * top byte of the 16-bit lang hash) BEFORE interleaving — z-order
    * only prunes on a dimension whose bits actually vary inside the
    * interleave, the bit-balance lesson itself. Per probe x layout:
    * files read (zone map intersects), rows read (their row counts),
    * and the TRUE match count — so the row is the read-amplification
    * scorecard (z reads ~matches, linear reads ~everything). One
    * corpus scan for both zone-map folds + the match fold; the probe x
    * file join is 40 x 16 broadcast rows. */
  val x46ZonemapCensus: Q = (s, dir) => {
    val rows = tbl(s, dir, "documents").select(col("doc_id"), col("lang"),
      expr("least(n_chars div 4, 255)").as("c8"),
      expr("cast(conv(substring(md5(lang),1,4),16,10) as bigint) div 256")
        .as("h8"))
    val maxId = rows.agg(max("doc_id").as("m"))
    val withFiles = rows
      .withColumn("z", graft.relational.Layout.zValue(col("c8"), col("h8")))
      .withColumn("zfile", expr(s"z div ${1L << 12}"))
      .crossJoin(broadcast(maxId))
      .withColumn("lfile", expr("doc_id div ((m div 16) + 1)"))
    def zoneMap(fileCol: String) = withFiles.groupBy(col(fileCol).as("f"))
      .agg(min("c8").as("min_c"), max("c8").as("max_c"),
        min("h8").as("min_h"), max("h8").as("max_h"),
        count(lit(1)).as("n_rows"))
    val zm = zoneMap("zfile")
    val lm = zoneMap("lfile")
    val probes = rows.select("lang", "h8").distinct()
      .crossJoin(s.range(0, 8).select((col("id") * 32).as("band_lo")))
    def reads(m: DataFrame, pfx: String) = probes.join(broadcast(m),
        col("min_c") <= col("band_lo") + 31 && col("max_c") >= col("band_lo") &&
          col("min_h") <= col("h8") && col("max_h") >= col("h8"), "left")
      .groupBy("lang", "band_lo")
      .agg(sum(when(col("f").isNotNull, 1L).otherwise(0L))
        .as(s"${pfx}_files_read"),
        sum(coalesce(col("n_rows"), lit(0L))).as(s"${pfx}_rows_read"))
    val matches = rows.withColumn("band_lo", expr("(c8 div 32) * 32"))
      .groupBy("lang", "band_lo").agg(count(lit(1)).as("n_match"))
    reads(zm, "z").join(reads(lm, "lin"), Seq("lang", "band_lo"))
      .join(matches, Seq("lang", "band_lo"), "left")
      .select(col("lang"), col("band_lo"),
        coalesce(col("n_match"), lit(0L)).as("n_match"),
        col("z_files_read"), col("lin_files_read"),
        col("z_rows_read"), col("lin_rows_read"))
      .orderBy("lang", "band_lo")
  }

  /** S14: small-file compaction + full-fidelity readback
    * ([[graft.relational.Compaction.compactDir]]): the table maintenance
    * op of a long-lived ingest. A 64-file micro-batched layout (one file
    * per trigger-task, the st07 sink's natural debris) is folded into
    * ~target-sized files via a zero-shuffle `coalesce` of ONLY the
    * small files; the result set is the compacted table read back row by
    * row (doc_id-total order, md5 text digest), so the oracle — the same
    * projection over the SOURCE parquet — proves compaction moved every
    * byte and invented none. Layout claims (file counts, big files
    * physically untouched, fixpoint convergence) are asserted in
    * ScaleOpsSpec; the oracle here pins content. */
  val s14Compaction: Q = (s, dir) => {
    val tmp = scratch("graft_compact")
    tbl(s, dir, "documents").repartition(64).write.mode("overwrite").parquet(tmp)
    graft.relational.Compaction.compactDir(s, tmp, targetBytes = 256L << 10)
    s.read.parquet(tmp)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(col("text")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** S9: schema-evolution read — two dump generations with different
    * schemas (an old dump lacking source/n_chars, a new full one) unified
    * by an explicit mergeSchema scan; absent columns surface as NULL and
    * aggregate accordingly. At 100 TB schema drift across monthly dumps is
    * the norm; the alternative (rewriting old dumps) is a full-corpus
    * write. Oracle runs the equivalent CASE projection on the source. */
  val s09SchemaEvolution: Q = (s, dir) => {
    val tmp = scratch("graft_evo")
    val docs = tbl(s, dir, "documents")
    docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/v1")
    docs.filter(col("doc_id") % 2 =!= 0)
      .write.mode("overwrite").parquet(s"$tmp/v2")
    s.read.option("mergeSchema", "true").parquet(s"$tmp/v1", s"$tmp/v2")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        count(col("source")).as("n_with_source"),
        coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"))
      .orderBy("lang")
  }

  /** P4: street-name-coalesce shape (conditional display name). */
  val p04NameCoalesce: Q = (s, dir) =>
    tbl(s, dir, "part")
      .select(col("p_partkey"),
        when(col("p_brand") =!= "Brand#11", col("p_brand")).otherwise(col("p_type"))
          .as("display_name"))
      .orderBy("p_partkey")

  /** P10: export-boundary string concat. */
  val p10Concat: Q = (s, dir) =>
    tbl(s, dir, "customer")
      .select(col("c_custkey"),
        concat(col("c_name"), lit("#"), col("c_mktsegment")).as("name_seg"))
      .orderBy("c_custkey")

  /** P11+A1: postcode-prefix-stats shape — group by substring prefix.
    * Map-side partial aggregation -> one shuffle on the (tiny) prefix key. */
  val p11PrefixStats: Q = (s, dir) =>
    tbl(s, dir, "part")
      .groupBy(substring(col("p_type"), 1, 5).as("type_prefix"))
      .agg(count(lit(1)).as("cnt"),
        round(avg(col("p_retailprice")), 2).as("avg_price_r"),
        min(col("p_retailprice")).as("min_price"),
        max(col("p_retailprice")).as("max_price"),
        sum(col("p_size")).as("sum_size"))
      .orderBy("type_prefix")

  /** P12: date truncation via formatted month key. */
  val p12DateTrunc: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("sum_price_r"))
      .orderBy("month")

  /** P13: grid-bucketed spatial self-join ([[graft.geo.SpatialJoin
    * .withinDistance]]) — all point pairs within 2 km on synthesized
    * in-domain RD coordinates (the proximity-dedup shape: duplicate
    * listings at near-identical coordinates, sensor co-location,
    * catchment overlap). The planar LSH-band trick: r-sized grid
    * cells, candidates = equi-join of each point's 9-cell neighborhood
    * against points' own cells (a within-r pair CANNOT span more than
    * adjacent cells), exact integer dist^2 on candidates only — cost
    * is density-bounded, never |P|^2, and each pair surfaces exactly
    * once by construction (left side explodes the neighborhood, right
    * side keeps one cell, id_a < id_b keeps one direction — no dedup
    * pass). The oracle finds the same pairs via a bounding-box
    * inequality join + exact check: grid decomposition must be
    * invisible. */
  val p13SpatialNeighbors: Q = (s, dir) => {
    val pts = tbl(s, dir, "customer").selectExpr(
      "c_custkey",
      "10000 + cast(conv(substring(md5(concat('gx:', cast(c_custkey as string))),1,8),16,10) as bigint) % 250000 as x",
      "300000 + cast(conv(substring(md5(concat('gy:', cast(c_custkey as string))),1,8),16,10) as bigint) % 300000 as y")
    graft.geo.SpatialJoin.withinDistance(pts, "c_custkey", "x", "y", 2000L)
      .orderBy("id_a", "id_b")
  }

  /** P14: polygon census ([[graft.geo.Polygon]]) — exact shoelace
    * area, centroid and an integer perimeter proxy over planted
    * pentagon rings (the zonal-geometry primitives downstream of P9's
    * ring extraction: parcel-area stats, label-point election,
    * degenerate-geometry screens — all start from these three
    * numbers). Every measure is an in-row higher-order `aggregate`
    * over the CLOSED vertex arrays — map-only, no explode, no
    * shuffle; 64-bit integer arithmetic throughout, the only floats
    * are the two final centroid divisions (rounded 6). Fixture: a
    * pentagon centered on the p05 coordinate plant, scaled by
    * s = 1 + key % 13 — area2 = 24s^2 and centroid = (cx, cy - s/18)
    * analytically, which the spec pins. */
  val p14PolygonCensus: Q = (s, dir) => {
    val o = tblPar(s, dir, "orders").select(col("o_orderkey"),
      (lit(50000L) + col("o_orderkey") % 200000).as("cx"),
      (lit(350000L) + (col("o_orderkey") * 7) % 250000).as("cy"),
      (lit(1L) + col("o_orderkey") % 13).as("sc"))
    val withRing = o
      .withColumn("xs", array(
        col("cx") + lit(2L) * col("sc"), col("cx") + col("sc"),
        col("cx") - col("sc"), col("cx") - lit(2L) * col("sc"),
        col("cx"), col("cx") + lit(2L) * col("sc")))
      .withColumn("ys", array(
        col("cy"), col("cy") + lit(2L) * col("sc"),
        col("cy") + lit(2L) * col("sc"), col("cy"),
        col("cy") - lit(3L) * col("sc"), col("cy")))
      .withColumn("area2",
        graft.geo.Polygon.area2(col("xs"), col("ys")))
    withRing.select(col("o_orderkey"), col("area2"),
        graft.geo.Polygon.edgeLen2Sum(col("xs"), col("ys")).as("e2sum"),
        round(graft.geo.Polygon.centroidNum(col("xs"), col("xs"), col("ys"))
          .cast("double") / (lit(3L) * col("area2")).cast("double"), 6)
          .as("cx_r"),
        round(graft.geo.Polygon.centroidNum(col("ys"), col("xs"), col("ys"))
          .cast("double") / (lit(3L) * col("area2")).cast("double"), 6)
          .as("cy_r"))
      .orderBy("o_orderkey")
  }

  /** P5: the RD->WGS84 polynomial UDF over synthesized in-domain RD coords.
    * Deterministic scalar UDF — Catalyst still prunes/pushes around it. */
  val p05GeoRdToWgs84: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .select(col("o_orderkey"),
        (lit(50000) + col("o_orderkey") % 200000).cast("double").as("rd_x"),
        (lit(350000) + (col("o_orderkey") * 7) % 250000).cast("double").as("rd_y"))
      .withColumn("__wgs", GeoFunctions.rdToWgs84(col("rd_x"), col("rd_y")))
      .select(col("o_orderkey"), col("rd_x"), col("rd_y"),
        round(col("__wgs.latitude"), 6).as("lat_r"),
        round(col("__wgs.longitude"), 6).as("lon_r"))
      .orderBy("o_orderkey")

  // ===== filters ============================================================

  /** F1: temporal-validity window filter (pushed to the scan). */
  val f01TemporalFilter: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
      .select(col("o_orderkey"), col("o_orderstatus"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"))
      .orderBy("o_orderkey")

  /** F2: constant status filter + count by group. */
  val f02StatusFilter: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("o_orderpriority")

  /** F4: multi-value detector (cardinality predicate, native word count). */
  val f04Multivalue: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"), TextOps.wordCount(col("text")).cast("long").as("n_words"))
      .filter(col("n_words") > 80)
      .orderBy("doc_id")

  /** F6/U3: orphan detection — anti-join against a filtered dimension.
    * The dim side is broadcast; no shuffle of the fact table. */
  val f06OrphanDelete: Q = (s, dir) => {
    val validParts = tbl(s, dir, "part").filter(col("p_size") <= 40)
      .select(col("p_partkey"))
    tbl(s, dir, "lineitem")
      .join(broadcast(validParts), col("l_partkey") === col("p_partkey"), "left_anti")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("orphan_cnt"))
      .orderBy("l_returnflag")
  }

  // ===== dedup / upsert =====================================================

  /** K2: last-wins upsert dedup via the native [[graft.functions.ArgMax]]
    * aggregate — ONE ObjectHashAggregate with map-side partials (each
    * mapper ships one winner per user it saw), where the r5 row_number
    * window shuffled every event row and sorted each user's full history
    * to keep one. max(struct(ts, event_id)) is a total order (event_id
    * unique), so the winner is identical. */
  val k02DedupLastwins: Q = (s, dir) =>
    tbl(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(graft.functions.VectorAggregates.argMax(
        struct(col("ts"), col("event_id")),
        struct(col("event_id"), col("event_type"), col("value"))).as("w"))
      .select(col("user_id"), col("w.event_id").as("event_id"),
        col("w.event_type").as("event_type"), col("w.value").as("value"))
      .orderBy("user_id")

  // ===== joins ==============================================================

  /** J1–J7/U1–U3 END-TO-END: the FLAGSHIP adressen curate chain
    * (curate/Adressen.scala — the engine's re-expression of the reference's
    * database_sqlite.py:291-614 UPDATE chain), run on the deterministic
    * BAG-shaped fixture [[BagFixture]] synthesizes from the testdata and
    * hash-verified against the DuckDB CTE mirror in Oracle.sql (VERDICT r10
    * #1: the headline ETL was the last surface without an independent-engine
    * oracle). This calls the PRODUCTION curate code — five-way join with
    * broadcast dims + NULL-key sentinel, arg_max PK dedup, J3 multi-pand
    * repair, J4/J5 plaats overrides, J7 woonplaats override, J6 nevenadres
    * backfill, U1/U2 dummy-null, U3 conditional orphan delete — not a
    * test-only re-statement. All output columns are ints/strings by fixture
    * construction, so the hash compare is exact. */
  val j00AdressenBuild: Q = (s, dir) => {
    // plan-heavy chain: the orphan-count action inside curated() runs
    // under size-based AQE coalescing (LoopConf.scopedPlanHeavy — task
    // count tracks data, not cores; see the task-binary-deserialization
    // note there), and the persisted curate layer inherits the coalesced
    // partitioning for the J6 tail
    val cur = graft.LoopConf.scopedPlanHeavy(s) {
      graft.curate.Adressen.curated(
        BagFixture.tables(s, dir), graft.Config(asOfDate = "2024-06-30"))
    }
    cur.select(
      col("nummer_id"),
      col("nummer_begindatum_geldigheid"), col("nummer_einddatum_geldigheid"),
      col("pand_id"),
      col("pand_begindatum_geldigheid"), col("pand_einddatum_geldigheid"),
      col("verblijfsobject_id"),
      col("gemeente_id").cast("long").as("gemeente_id"),
      col("woonplaats_id").cast("long").as("woonplaats_id"),
      col("openbare_ruimte_id").cast("long").as("openbare_ruimte_id"),
      col("object_type"), col("gebruiksdoel"), col("postcode"),
      col("huisnummer").cast("long").as("huisnummer"),
      col("huisletter"), col("toevoeging"),
      col("oppervlakte").cast("long").as("oppervlakte"),
      col("rd_x").cast("long").as("rd_x"),
      col("rd_y").cast("long").as("rd_y"),
      col("latitude").cast("long").as("latitude"),
      col("longitude").cast("long").as("longitude"),
      col("bouwjaar").cast("long").as("bouwjaar"),
      col("hoofd_nummer_id"), col("geometry"))
      .orderBy("nummer_id")
  }

  /** J1/J8: the five-way star join. Dims broadcast; the single real shuffle
    * pair is lineitem⋈orders on orderkey. */
  val j01Join5way: Q = (s, dir) => {
    val li = tbl(s, dir, "lineitem")
    val o = tbl(s, dir, "orders")
    val c = tbl(s, dir, "customer")
    val n = tbl(s, dir, "nation")
    val r = tbl(s, dir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue_r"),
        count(lit(1)).as("cnt"))
      .orderBy("r_name", "n_name")
  }

  /** J2: update-join (join + coalesce replaces SQLite UPDATE..FROM). */
  val j02UpdateJoin: Q = (s, dir) => {
    val c = tbl(s, dir, "customer")
    val n = tbl(s, dir, "nation")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
      .select(col("c_custkey"), coalesce(col("n_name"), lit("ONBEKEND")).as("nation_name"))
      .orderBy("c_custkey")
  }

  /** J3-shape: last-wins repair join — pick each customer's most recent
    * order deterministically, patch it onto the base row. The winner comes
    * from the [[graft.functions.ArgMax]] hash aggregate (map-side partials,
    * no per-customer history sort — the k02 rationale). */
  val j03RepairJoin: Q = (s, dir) => {
    val lastOrder = tbl(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(graft.functions.VectorAggregates.argMax(
        struct(col("o_orderdate"), col("o_orderkey")),
        col("o_totalprice")).as("last_price"))
    tbl(s, dir, "customer")
      .join(lastOrder, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_acctbal"),
        coalesce(col("last_price"), lit(-1.0)).as("last_price"))
      .orderBy("c_custkey")
  }

  /** J11: anti-join integrity check — customers without a RECENT order.
    * The orders side is date-restricted so the check is non-vacuous at every
    * SF (an unfiltered version matches zero customers in this corpus: a
    * 0-row hash compare verifies nothing about the anti-join semantics). */
  val j11AntiJoin: Q = (s, dir) => {
    val o = tbl(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1998-04-01")))
      .select(col("o_custkey"))
    tbl(s, dir, "customer")
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  /** J12: semi-join membership probe. */
  val j12SemiJoin: Q = (s, dir) => {
    val f = tbl(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    tbl(s, dir, "customer")
      .join(f, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"))
      .orderBy("c_custkey")
  }

  /** J13: blocked entity resolution ([[graft.relational.RecordLinkage
    * .candidates]]) — Fellegi-Sunter record linkage of the part catalog
    * against a deterministically-dirtied external catalog (75% of parts
    * present under shifted ids; 80% get one md5-chosen character
    * substituted in the name — the rest stay clean so the lev-0 class
    * is live; size drifts +1 half the time). TWO blocking passes with
    * DIFFERENT failure modes — (brand, size div 4) survives name typos,
    * (name-prefix-4, exact size) survives the size drift and reaches
    * across brands — candidates are their distinct union, so dirty
    * records one key loses the other recovers. Composite integer score
    * (100 - 30*levenshtein - 10*|size diff| + 20*brand-agreement,
    * match at >= 70), resolved per catalog record by the k02 arg_max
    * hash aggregate (score DESC, partkey ASC tiebreak — never a window
    * sort); unmatched records surface as -1 rows so the census keeps
    * every class live (exact, fuzzy, ambiguous-multi-candidate,
    * unmatched — all present at every SF). Scale shape: per-pass cost =
    * sum-over-blocks |L||R| with an aggregation-sized broadcast hub
    * guard; no cartesian anywhere (PlanSpec-swept), resolution is one
    * hash aggregate. */
  val j13EntityResolution: Q = (s, dir) => {
    val parts = tbl(s, dir, "part")
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
    val cat = parts.selectExpr("*",
        "cast(conv(substring(md5(concat('cat:', cast(p_partkey as string))),1,8),16,10) as bigint) as __h")
      .where("__h % 4 < 3")
      .selectExpr(
        "p_partkey + 5000000 as cat_id",
        "case when (__h div 16) % 5 = 0 then p_name else " +
          "concat(substring(p_name, 1, cast(1 + ((__h div 8) % length(p_name)) as int) - 1), 'x'," +
          " substring(p_name, cast(1 + ((__h div 8) % length(p_name)) as int) + 1)) end as name_dirty",
        "p_brand as brand",
        "cast(p_size + ((__h div 4) % 2) as int) as size_dirty")
    val cand0 = graft.relational.RecordLinkage.candidates(
      parts, "p_partkey", cat, "cat_id",
      Seq(
        (concat(col("p_brand"), lit("|"), expr("p_size div 4")),
          concat(col("brand"), lit("|"), expr("size_dirty div 4"))),
        (concat(substring(col("p_name"), 1, 4), lit("|"), col("p_size")),
          concat(substring(col("name_dirty"), 1, 4), lit("|"), col("size_dirty")))))
    // r13: spread the scoring scan across the session's cores. The
    // candidate frame is two longs per row, so AQE's byte-based
    // coalescing collapses it to bytes/minPartitionSize partitions
    // (QProbe: the levenshtein stage ran as 2 tasks x ~600 ms at 32
    // cores) — but per-row cost here is a levenshtein, ~3 orders of
    // magnitude more compute per byte than the stages that sizing is
    // tuned for. The round-robin exchange moves only (p_partkey, cat_id)
    // pairs; at corpus scale candidate rows per core only grow, so a
    // defaultParallelism fan-out never under-splits relative to today.
    // HASH repartition on the (nearly unique) candidate key, not
    // round-robin: a keyless repartition(n) first locally SORTS its
    // input (sortBeforeRepartition, guide §2.5) — measured as a net
    // ~0.25 s loss at sf0.1 despite the widened scoring stage.
    val cand = cand0.repartition(s.sparkContext.defaultParallelism,
      col("cat_id"), col("p_partkey"))
    val scored = cand.join(parts, Seq("p_partkey")).join(cat, Seq("cat_id"))
      .withColumn("lev", levenshtein(col("p_name"), col("name_dirty")).cast("long"))
      .withColumn("sdiff", abs(col("p_size") - col("size_dirty")).cast("long"))
      .withColumn("score", lit(100L) - lit(30L) * col("lev") - lit(10L) * col("sdiff")
        + when(col("p_brand") === col("brand"), lit(20L)).otherwise(lit(0L)))
      .filter(col("score") >= 70)
    val best = scored.groupBy("cat_id").agg(
      max(struct(col("score"), (-col("p_partkey")).as("__nk"),
        col("lev"), col("sdiff"))).as("__b"),
      count(lit(1)).as("n_match"))
    cat.join(best, Seq("cat_id"), "left_outer")
      .select(col("cat_id"),
        coalesce(-col("__b.__nk"), lit(-1L)).as("matched_key"),
        coalesce(col("__b.lev"), lit(-1L)).as("lev"),
        coalesce(col("__b.sdiff"), lit(-1L)).as("sdiff"),
        coalesce(col("__b.score"), lit(-1L)).as("score"),
        coalesce(col("n_match"), lit(0L)).as("n_match"))
      .orderBy("cat_id")
  }

  // ===== explodes / aggregations ============================================

  /** E1/E2: explode -> re-aggregate (word histogram). */
  val e01ExplodeWords: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(explode(TextOps.words(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** A1: group stats with several aggregate kinds at once. */
  val a01GroupStats: Q = (s, dir) =>
    tbl(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value")), 2).as("sum_value_r"),
        round(avg(col("value")), 4).as("avg_value_r"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("event_type")

  /** A2: the scalar-count validation shape — one pass, many counts. */
  val a02ScalarCounts: Q = (s, dir) =>
    tbl(s, dir, "lineitem")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(when(col("l_quantity") < 5, 1)).as("n_low_qty"),
        count(when(col("l_discount") === 0.0, 1)).as("n_no_discount"))

  /** A3/A4: DISTINCT projection. */
  val a03Distinct: Q = (s, dir) =>
    tbl(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_nationkey").cast("long").as("c_nationkey"))
      .distinct()
      .orderBy("c_mktsegment", "c_nationkey")

  /** A5: max-via-top-1 (as a straight agg — the Spark-correct plan). */
  val a05MaxTop1: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .agg(date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("max_date"),
        max(col("o_totalprice")).as("max_price"),
        max(col("o_orderkey")).as("max_orderkey"))

  /** A6: exact interpolated percentiles (engine-native `percentile` — the
    * reference has only count/avg/min/max/sum). Exact, not the
    * approx-sketch variant, so DuckDB's quantile_cont mirrors it.
    * Scale note: EXACT percentiles buffer every group value in the final
    * aggregation — correct only for bounded group cardinality x bounded
    * group size (5 event types here); at open-ended scale use the a08
    * sketch path (fixed-size state) or approx_percentile. */
  val a06Percentiles: Q = (s, dir) =>
    tbl(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("p50_r"),
        round(expr("percentile(value, 0.9)"), 6).as("p90_r"),
        round(expr("percentile(value, 0.99)"), 6).as("p99_r"))
      .orderBy("event_type")

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
  val a22HistQuantiles: Q = (s, dir) => {
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
  val a23SketchRollup: Q = (s, dir) => {
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
  val a24Retention: Q = (s, dir) => {
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
  val a25MadOutliers: Q = (s, dir) => {
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
  val a07WindowRank: Q = (s, dir) => {
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
  val a11LeadLag: Q = (s, dir) => {
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
  val a08ApproxDistinct: Q = (s, dir) =>
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"))
      .orderBy("l_returnflag")

  /** U1/U2: dummy-value null-out. */
  val u01NullDummies: Q = (s, dir) =>
    tbl(s, dir, "part")
      .select(col("p_partkey"),
        when(col("p_size") === 1 || col("p_size") > 48, lit(null))
          .otherwise(col("p_size")).cast("long").as("size_clean"))
      .orderBy("p_partkey")

  /** U02: group-median imputation + quality audit — the repair half
    * u01's null-out leaves open (detect dummies -> null -> THEN WHAT):
    * masked values (a deterministic 20% md5 directive — the detector
    * sees only masked/observed) are imputed with their nation's EXACT
    * lower median of the observed balances in integer cents (rank
    * (n+1) div 2 over (cents, custkey) — the k-th smallest VALUE is
    * tie-order-independent, so both engines agree without any float),
    * and because the plant knows the true value, every repaired row
    * also carries its absolute imputation error — the audit number
    * that tells you whether median-fill is good enough or a model
    * imputer is warranted. One window sort per nation over observed
    * rows (exact medians are sort-bound; at corpus scale swap in the
    * a22 binned-quantile midpoint), medians broadcast back to the
    * masked slice. */
  val u02ImputeMedian: Q = (s, dir) => {
    val c = tbl(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey").cast("long").as("nation"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("cents"),
      expr("cast(conv(substring(md5(concat('imp:', cast(c_custkey as string))),1,8),16,10) as bigint) % 10 < 2")
        .as("masked"))
    val obs = c.filter(!col("masked"))
    val med = obs
      .withColumn("rk", row_number().over(
        Window.partitionBy("nation").orderBy("cents", "c_custkey")))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("nation")))
      .filter(col("rk") === expr("(cnt + 1) div 2"))
      .select(col("nation"), col("cents").as("median_cents"),
        col("cnt").as("n_obs"))
    c.filter(col("masked")).join(broadcast(med), Seq("nation"))
      .select(col("c_custkey"), col("nation"), col("n_obs"),
        col("median_cents"), col("cents").as("orig_cents"),
        abs(col("cents") - col("median_cents")).as("abs_err_cents"))
      .orderBy("c_custkey")
  }

  /** U03: forward-fill imputation (LOCF — last observation carried
    * forward, the time-series repair u02's cross-sectional median
    * cannot do: a sensor/price/feature stream where a missing reading
    * means "unchanged since the last good one", so the fill must come
    * from the SAME series' past, never from the group): a deterministic
    * 25% md5 mask nulls readings out, then each user's stream fills
    * every gap with the most recent observed value in (ts, event_id)
    * order — `last(ignoreNulls)` over a running window; rows before a
    * user's first observation stay null (LOCF never invents a value),
    * so both the filled and the unfillable classes are live. Exact
    * integer cents, no float anywhere. ONE window sort per user (a
    * single hash exchange on user_id, in-partition sort, no join, no
    * second pass) — at corpus scale the stream is already bucketed by
    * series key and the sort is within-bucket. The oracle fills via the
    * engine-portable running-count group trick (each gap-group holds
    * exactly one observation at its head), so the two engines agree on
    * semantics, not on a shared window builtin. */
  val u03Ffill: Q = (s, dir) => {
    val e = events(s, dir).select(col("event_id"), col("user_id"), col("__tsu"),
      expr("cast(round(value * 100) as bigint)").as("cents"),
      expr("cast(conv(substring(md5(concat('ffill:', cast(event_id as string))),1,8),16,10) as bigint) % 4 = 0")
        .as("masked"))
      .withColumn("obs", when(!col("masked"), col("cents")))
    val w = Window.partitionBy("user_id").orderBy(col("__tsu"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("cents_filled", last(col("obs"), ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("masked"),
        col("cents_filled"),
        (col("masked") && col("cents_filled").isNotNull).as("was_filled"))
      .orderBy("event_id")
  }

  /** U04: winsorization census (the bounded-influence repair
    * completing the u-family's heavy-tail toolkit — u01 nulls dummies
    * OUT, u02/u03 fill gaps IN, THIS caps what stays: every value
    * clipped into [p05, p95] before any moment statistic, the standard
    * pre-treatment without which one whale balance owns the mean):
    * per-nation bounds are rank-exact order statistics — k_lo =
    * ceil(n/20), the k_lo-th smallest and its mirror from the top over
    * (cents, custkey) — value-at-rank, tie-order-independent, NO float
    * anywhere (integer cents in, clipped integer sum out). One window
    * sort per nation for ranks, the |nations|-row bounds frame
    * broadcast back, one clip-and-fold pass — the fold side never
    * sorts. The census reports the bounds, both clip counts (the
    * outlier mass the analyst is about to erase — winsorize blind and
    * you hide real whales), and the exact winsorized sum. */
  val u04Winsorize: Q = (s, dir) => {
    val c = tbl(s, dir, "customer").select(col("c_custkey"),
      col("c_nationkey").cast("long").as("nation"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("cents"))
    val ranked = c
      .withColumn("rk", row_number().over(
        Window.partitionBy("nation").orderBy("cents", "c_custkey")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("nation")))
    val bounds = ranked
      .withColumn("k_lo", expr("(n + 19) div 20"))
      .filter(col("rk") === col("k_lo") ||
        col("rk") === col("n") + 1 - col("k_lo"))
      .groupBy("nation").agg(min("cents").as("lo_cents"),
        max("cents").as("hi_cents"), max("n").as("n"))
    c.join(broadcast(bounds), Seq("nation"))
      .groupBy(col("nation"), col("n"), col("lo_cents"), col("hi_cents"))
      .agg(
        sum(when(col("cents") < col("lo_cents"), 1L).otherwise(0L))
          .as("n_clip_lo"),
        sum(when(col("cents") > col("hi_cents"), 1L).otherwise(0L))
          .as("n_clip_hi"),
        sum(greatest(least(col("cents"), col("hi_cents")), col("lo_cents")))
          .as("sum_winsor"))
      .orderBy("nation")
  }

  /** U05: golden-record survivorship
    * ([[graft.relational.RecordLinkage.survivorship]]) — the step AFTER
    * j13's linkage: clustered duplicate records merge into ONE record
    * under per-field policies (the MDM playbook — k02's last-wins takes
    * the whole newest ROW; survivorship elects per FIELD, so the newest
    * record's null cannot clobber an older good value): name = longest
    * (tie -> lexicographically smallest), balance = most recent
    * NON-NULL by ts, segment = majority vote (tie -> smallest). Fixture
    * plants up to three versions per customer — the original, a newer
    * '-ext' rename with a NULL balance (freshness-vs-completeness
    * conflict live), and a stale truncated-name variant with a drifted
    * balance and a 'STALE' segment (majority + tie classes live; real
    * segments sort before 'STALE', so 1-1 ties keep the real value).
    * Every election is a deterministic struct arg-min/arg-max fold —
    * never a window over the record space. */
  val u05GoldenRecord: Q = (s, dir) => {
    val c = tbl(s, dir, "customer").select(col("c_custkey").as("key"),
      col("c_name").as("name"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("cents"),
      col("c_mktsegment").as("seg"))
    val v0 = c.select(col("key"), (lit(1000L) + col("key") % 7).as("ts"),
      col("name"), col("cents"), col("seg"))
    val v1 = c.filter(col("key") % 3 === 0)
      .select(col("key"), (lit(2000L) + col("key") % 5).as("ts"),
        concat(col("name"), lit("-ext")).as("name"),
        lit(null).cast("long").as("cents"), col("seg"))
    val v2 = c.filter(col("key") % 5 === 0)
      .select(col("key"), lit(500L).as("ts"),
        substring(col("name"), 1, 5).as("name"),
        (col("cents") + 100L).as("cents"), lit("STALE").as("seg"))
    graft.relational.RecordLinkage.survivorship(
        v0.unionByName(v1).unionByName(v2),
        entity = "key", ts = "ts",
        longestCols = Seq("name"), lastNonNullCols = Seq("cents"),
        majorityCols = Seq("seg"))
      .orderBy("key")
  }

  // ===== LLM: dedup =========================================================

  /** Exact dedup groups: one shuffle on the content hash. */
  val d01DedupExactGroups: Q = (s, dir) =>
    Dedup.exactGroups(tbl(s, dir, "documents")).orderBy("content_hash")

  /** Exact dedup survivors (keep-first policy). */
  val d02DedupExactKeep: Q = (s, dir) =>
    Dedup.exactDedup(tbl(s, dir, "documents")).orderBy("doc_id")

  /** n-gram Jaccard near-dup via shingle inverted index (no cartesian).
    * Candidates come from an equi-join on 8-byte shingle hashes, skew-guarded
    * by a window count on the same exchange. */
  val d03NeardupNgram: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), w = 5, minJ = 0.2)
      .orderBy("id_a", "id_b")

  /** D26: dedup threshold-sensitivity audit — the knob-setting census
    * for the whole near-dup family (d03/d04/d13 all hinge on ONE
    * number, minJ; this shows what each choice would keep): ALL
    * candidate pairs (any shared rare shingle, minJ = 0) banded by
    * exact Jaccard into 0.05-wide integer bands ((inter * 20) div uni
    * — cross-multiplied, no float in the bucketing), with per-band
    * counts and the cumulative pairs-at-or-above census (= the dedup
    * edge count at every candidate threshold, read off one row).
    * A mass of pairs hugging the chosen threshold = fragile config;
    * a clean valley = robust. Candidate generation is the d03
    * skew-guarded postings equi-join — cost bounded by the postings
    * cap even at minJ 0 — and the band census + 21-row cumulative
    * window are aggregate-sized. */
  val d26ThresholdAudit: Q = (s, dir) => {
    val pairs = Dedup.ngramJaccardPairs(tbl(s, dir, "documents"),
      w = 5, minJ = 0.0)
    val bands = pairs.withColumn("band", expr("(inter * 20) div uni"))
      .groupBy("band").agg(count(lit(1)).as("n_pairs"))
    val wcum = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bands.withColumn("n_at_or_above", sum("n_pairs").over(wcum))
      .select(col("band"), (col("band") * 50000L).as("j_lo_ppm"),
        col("n_pairs"), col("n_at_or_above"))
      .orderBy("band")
  }

  /** D27: sketch-calibration audit — the "trust your sketch" census
    * for the d04/d13 minhash path (v09 audits ANN recall; THIS audits
    * the dedup estimator): for every exact-Jaccard pair >= 0.2, the
    * k=16 minhash signature's estimate (matching positions / k) laid
    * against the exact value, err in ppm — the number that says
    * whether the LSH band thresholds are calibrated or lying. The
    * DuckDB oracle recomputes the FULL signature kernel from first
    * principles (per-word XXH64 -> chained window hashLong ->
    * splitmix64(h ^ seed_i) -> per-seed SIGNED min — the engine
    * compares signed longs, so the mirror min must be over the
    * signed reinterpretation), which makes this row family a
    * bit-exactness proof of the entire minhash stack, not just a
    * statistics check. Pair set is the d03 capped candidate join;
    * signatures ride per-doc arrays (k longs), est is one in-row
    * zip_with. */
  val d27SketchCalibration: Q = (s, dir) => {
    val k = 16
    val docs = tbl(s, dir, "documents")
    val signed = Dedup.withSignatures(docs, w = 5, k = k)
    val pairs = Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2)
    val sa = signed.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val sb = signed.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
    pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .withColumn("est_matches", expr(
        "bigint(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b)))"))
      .withColumn("exact_ppm", expr("(inter * 1000000) div uni"))
      .withColumn("est_ppm", expr(s"(est_matches * 1000000) div $k"))
      .withColumn("err_ppm", col("est_ppm") - col("exact_ppm"))
      .select(col("id_a"), col("id_b"), col("exact_ppm"), col("est_matches"),
        col("est_ppm"), col("err_ppm"))
      .orderBy("id_a", "id_b")
  }

  /** D17: asymmetric near-containment pairs
    * ([[Dedup.containmentPairs]]) — Broder's |A∩B|/|A| over the d03
    * shingle sets: catches the short-doc-quoted-in-long-doc case whose
    * Jaccard stays tiny because the union is container-sized. Both
    * directions evaluated per candidate pair.
    * Candidates come from d03's skew-guarded postings equi-join, and both
    * directions come from one verified pair row, so nothing corpus-sized
    * moves twice. */
  val d17Containment: Q = (s, dir) =>
    Dedup.containmentPairs(tbl(s, dir, "documents"), w = 5, minC = 0.5)
      .orderBy("contained_id", "container_id")

  /** D18: bottom-k sketch-accelerated containment
    * ([[Dedup.containmentSketchPairs]]) — d17's scale path: probe-side
    * postings shrink from |shingles| to k=16 md5-ordered samples per
    * doc, candidates stay directional, survivors verify EXACTLY;
    * P(miss | containment >= 0.5) <= 0.5^16. The oracle mirrors the
    * sketch rule (row_number over the identical (md5-prefix, shingle)
    * order), so the result hash-compares exactly. */
  val d18ContainmentSketch: Q = (s, dir) =>
    Dedup.containmentSketchPairs(tblPar(s, dir, "documents"), w = 5, k = 16, minC = 0.5)
      .orderBy("contained_id", "container_id")

  /** MinHash-LSH near-dup — banded signatures, candidate equi-join, exact
    * verify. P(miss | j>=0.7) < 1e-4, so it reproduces the exact-Jaccard
    * oracle at these scale factors while staying sub-quadratic. */
  val d04MinhashLsh: Q = (s, dir) =>
    Dedup.minhashLshPairs(tbl(s, dir, "documents"), w = 5, k = 32, bands = 16,
      minJ = 0.7)
      .orderBy("id_a", "id_b")

  /** D13: d04 through the PERSISTED minhash index
    * ([[Dedup.buildMinhashIndex]] -> [[Dedup.minhashLshPairsIndexed]]) —
    * the index-build/serve split for the most-rerun pipeline at corpus
    * scale: signatures are computed once, written bucketed on doc_id, and
    * candidate generation + verify read the stored table (the shingle
    * payload never shuffles — ScaleOpsSpec asserts the bucketed
    * zero-corpus-exchange plan). The oracle is d04's VERBATIM: the
    * storage split must be invisible in the result. */
  val d13IndexedNeardup: Q = (s, dir) => {
    Dedup.buildMinhashIndex(tbl(s, dir, "documents"), "graft_d13_minhash_idx",
      w = 5, k = 32, buckets = 8,
      path = Some(scratch("graft_minhash_idx")))
    Dedup.minhashLshPairsIndexed(s, "graft_d13_minhash_idx", k = 32, bands = 16,
        minJ = 0.7)
      .orderBy("id_a", "id_b")
  }

  /** D28: CDC edit-stability audit (the promise content-defined
    * chunking is CHOSEN for, measured: a one-word edit must perturb
    * only the chunk(s) it touches — fixed-width windows shift EVERY
    * downstream chunk and re-upload the whole tail; this census is the
    * number that justifies d12/d14's chunker, and the regression
    * tripwire if the boundary rule ever changes): every doc gets an
    * edited twin (one sentinel word inserted at its middle word
    * position), both variants chunk through the SAME in-kernel fold
    * ([[Dedup.cdcChunkHashes]]), and the per-doc census compares the
    * distinct chunk-hash SETS — n_common survives the edit, ch_orig /
    * ch_edit are the lost/gained chunks. CDC's locality bound: the
    * edit lands in ONE original chunk, so ch_orig <= 1 and ch_edit
    * <= 2 (2 iff the sentinel is itself a boundary word and splits
    * the chunk — even docs insert the interior word 'zzedit', odd
    * docs the boundary word 'zzy', so BOTH classes are live) — the
    * spec asserts the bound for every doc. Chunking is map-only; the
    * census is three hash folds + two |docs|-row joins. */
  val d28CdcEditStability: Q = (s, dir) => {
    val docs = tblPar(s, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 2)
    val edited = docs.withColumn("__w", split(col("text"), " "))
      .withColumn("__p", expr("size(__w) div 2"))
      .withColumn("__sent", when(col("doc_id") % 2 === 0, lit("zzedit"))
        .otherwise(lit("zzy")))
      .withColumn("text", expr(
        "array_join(concat(slice(__w, 1, __p), array(__sent), " +
          "slice(__w, __p + 1, size(__w) - __p)), ' ')"))
      .select(col("doc_id"), col("text"))
    val o = Dedup.cdcChunkHashes(docs).distinct()
    val e = Dedup.cdcChunkHashes(edited).distinct()
    val common = o.join(e, Seq("doc_id", "chunk_hash"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_common"))
    o.groupBy("doc_id").agg(count(lit(1)).as("n_orig"))
      .join(e.groupBy("doc_id").agg(count(lit(1)).as("n_edit")), Seq("doc_id"))
      .join(common, Seq("doc_id"), "left")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .select(col("doc_id"), col("n_orig"), col("n_edit"), col("n_common"),
        (col("n_orig") - col("n_common")).as("ch_orig"),
        (col("n_edit") - col("n_common")).as("ch_edit"))
      .orderBy("doc_id")
  }

  /** D14: exact substring-span dedup REMOVER ([[Dedup.chunkDedupRemove]])
    * — rewrites each doc with already-seen CDC chunks cut out (keep rule:
    * first-owner doc by min doc_id), the Lee et al. 2022 removal step
    * that d12 only audits. Map-only chunking; first-owner election and
    * re-assembly are hash/doc-id-keyed aggregations with map-side
    * partials; order-stable rebuild via in-aggregate array_sort. */
  val d14ChunkRemove: Q = (s, dir) =>
    Dedup.chunkDedupRemove(tblPar(s, dir, "documents")).orderBy("doc_id")

  /** ST9 batch mirror: cross-corpus near-dup ADMISSION — the streaming
    * ingest front door's gate ([[graft.streaming.EventStreams
    * .admitNearDupStream]] / the foreachBatch indexed path), bounded for
    * the oracle: corpus = even doc_ids (the already-ingested side), batch
    * = odd doc_ids, and a batch doc survives iff it has NO corpus
    * near-dup at 5-gram Jaccard >= 0.5 (LSH candidates, exact verify —
    * planted pairs sit at j >= 0.87, so banding is deterministic here).
    * Docs too short to shingle are admitted (totality). StreamingSpec
    * proves stream==batch on planted cross-corpus dups for BOTH streaming
    * forms. */
  val st09NearDupAdmission: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val index = Dedup.withSignatures(corpus, w = 5, k = 32)
      .filter(col("sig").isNotNull)
    Dedup.nearDupAdmit(batch, index, w = 5, k = 32, bands = 16, minJ = 0.5)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** D6: embedding-cosine near-dup dedup — keep-first assignment over
    * exact cosine pairs (tau=0.35 is non-vacuous at the oracle SF: 271
    * pairs / 201 dup docs at sf0.01). The scale path swaps the exact pair
    * kernel for LSH candidates via [[Dedup.embeddingNearDupFrom]]. */
  val d06EmbeddingNeardup: Q = (s, dir) =>
    Dedup.embeddingNearDup(embeddings(s, dir), tau = 0.35)
      .orderBy("doc_id")

  /** D16: SemDeDup — semantic dedup with cluster-bounded pairwise search
    * ([[Dedup.semanticDedup]]): d06's semantics restricted to k-means
    * clusters, sum(|cluster|^2) comparisons instead of |corpus|^2. The
    * k-means quantizer is engine-side (no SQL equivalent -> rows-only for
    * the driver); VerifyExtras recomputes the ENTIRE pipeline —
    * assignment, within-cluster pairs, closure, survivor election — in
    * plain JVM code against the dumped parquet and requires exact
    * equality, and LlmOpsSpec pins the pair-pruning contract against the
    * exact grid.
    * The closure moves 8-byte id labels, and survivor election is one arg_max
    * hash aggregate on the component id, never a window sort. */
  val d16SemanticDedup: Q = (s, dir) =>
    Dedup.semanticDedup(embeddings(s, dir), tau = 0.35)
      .orderBy("vec_id")

  /** D7: transitive near-dup clusters — connected components over the d03
    * pair graph; every clustered doc with its canonical representative
    * (min reachable id) and cluster size.
    *
    * Cost shape: the pair generation (~d03) plus diameter+1 propagation
    * rounds. At bench scale the rounds are pure job-scheduling overhead
    * (hundreds of label rows); at real scale each round is one equi-join
    * shuffle on the vertex id — the round COUNT, not the round cost, is
    * what the tiny-cluster structure of near-dup graphs keeps small. */
  val d07DedupComponents: Q = (s, dir) => {
    val comps = Dedup.dedupComponents(
      Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), w = 5, minJ = 0.2)
        .select("id_a", "id_b"))
    comps.join(
        comps.groupBy("comp_id").agg(count(lit(1)).as("n_members")), "comp_id")
      .select(col("doc_id"), col("comp_id"), col("n_members"))
      .orderBy("doc_id")
  }

  /** D29: deterministic negative sampling for contrastive training —
    * the batch-prep step an embedding-training pipeline runs after
    * dedup: every anchor needs k negatives that are NOT near-duplicates
    * of the anchor (a near-dup negative is a FALSE negative and
    * actively corrupts the contrastive objective — the reason this op
    * belongs next to the dedup family rather than plain sampling).
    * Fully deterministic and distributed: every doc hashes into one of
    * 64 buckets and gets a WITHIN-BUCKET rank (the only window here is
    * partitioned by bucket — bucket count is the scale knob: size B so
    * |corpus|/B fits a task, and the global-sort ring a naive
    * shuffled-ring sampler needs never exists); each anchor draws 6
    * candidate (bucket, position) pairs from md5 streams, candidates
    * resolve via ONE equi-join on (bucket, rank mod bucket-size), then
    * self-hits and direct d03 near-dup pairs of the anchor are
    * anti-joined away and the first 4 survivors by draw order are kept
    * (6 draws for 4 slots = the over-provisioning that makes the
    * exclusion non-truncating at realistic dup rates; anchors with
    * fewer survivors keep what they have — the audit-visible case).
    * Integer/md5 end to end — fully oracle-able. */
  val d29NegativeSampling: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val bkt = docs.select(col("doc_id"),
      expr("cast(conv(substring(md5(concat('g:', cast(doc_id as string))),1,8),16,10) as bigint) % 64")
        .as("g"))
    val ranked = bkt.withColumn("r",
      (row_number().over(Window.partitionBy("g").orderBy("doc_id")) - 1)
        .cast("long"))
    val sizes = bkt.groupBy("g").agg(count(lit(1)).as("gsz"))
    val draws = docs.filter(sampleBucket(col("doc_id")) < 10)
      .select(col("doc_id").as("anchor_id"))
      .select(col("anchor_id"), explode(typedLit(List(1, 2, 3, 4, 5, 6))).as("j"))
      .withColumn("g",
        expr("cast(conv(substring(md5(concat('b:', cast(anchor_id as string), ':', cast(j as string))),1,8),16,10) as bigint) % 64"))
      .withColumn("p",
        expr("cast(conv(substring(md5(concat('p:', cast(anchor_id as string), ':', cast(j as string))),1,8),16,10) as bigint)"))
    val cand = draws.join(broadcast(sizes), Seq("g"))
      .withColumn("r", col("p") % col("gsz"))
      .join(ranked, Seq("g", "r"))
      .select(col("anchor_id"), col("j"), col("doc_id").as("neg_id"))
    val pairs = Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2)
      .select(col("id_a"), col("id_b"))
    val ex = pairs.unionByName(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .select(col("id_a").as("anchor_id"), col("id_b").as("neg_id"))
    val kept = cand.filter(col("neg_id") =!= col("anchor_id"))
      .join(ex, Seq("anchor_id", "neg_id"), "left_anti")
      // a bucket can be drawn twice for one anchor and resolve to the
      // same doc — negatives must be distinct within an anchor's set
      .groupBy(col("anchor_id"), col("neg_id")).agg(min(col("j")).as("j"))
    kept.withColumn("rnk", row_number().over(
        Window.partitionBy("anchor_id").orderBy("j", "neg_id")).cast("long"))
      .filter(col("rnk") <= 4)
      .select(col("anchor_id"), col("rnk"), col("neg_id"),
        col("j").cast("long").as("draw"))
      .orderBy("anchor_id", "rnk")
  }

  /** D19: SOFT dedup — down-weight instead of drop: every doc keeps a
    * sampling weight 1/|near-dup cluster| (ppm, integer division), so a
    * 5-way duplicated page contributes one page's worth of expected
    * training mass while unique docs keep weight 1.0. The policy knob
    * between d02's hard drop and keeping everything — hard dedup can
    * hurt when near-dups carry real variation (translations, forks,
    * quote contexts). Same totalized components as t24 (singletons =
    * their own cluster of 1); the weight is map-only on the cluster
    * sizes, integer end to end. */
  val d19SoftDedupWeights: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val comps = Dedup.dedupComponents(
      Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2).select("id_a", "id_b"))
    val clustered = docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp_id"), col("doc_id")).as("cluster"))
    clustered
      .join(clustered.groupBy("cluster").agg(count(lit(1)).as("n_members")), "cluster")
      .select(col("doc_id"), col("cluster"), col("n_members"),
        expr("1000000 div n_members").as("weight_ppm"))
      .orderBy("doc_id")
  }

  /** D20: SEMANTIC admission ([[Similarity.semanticAdmit]]) — the
    * embedding-level front door: batch = odd vec_ids (the day's crawl),
    * corpus = even vec_ids (already ingested); a batch vector is
    * admitted iff no corpus vector lies within cosine 0.35 (the d06
    * tau). Catches paraphrases/re-renders that byte- and
    * shingle-admission (d10/d13) miss. The batch broadcasts, the corpus
    * streams once map-side — the d08 small-side discipline. */
  val d20SemanticAdmission: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.semanticAdmit(
        emb.filter(col("vec_id") % 2 === 1),
        emb.filter(col("vec_id") % 2 === 0), tau = 0.35)
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** D21: duplication rate by SOURCE — the crawl-triage scorecard: per
    * source, how many docs sit in near-dup clusters, how many are the
    * cluster's canonical survivor, and the dup rate in ppm. The number
    * that decides which feed gets throttled or re-crawled; one label
    * join from the d07 closure onto doc metadata, integer ppm. */
  val d21DupRateBySource: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val comps = Dedup.dedupComponents(
      Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2).select("id_a", "id_b"))
    docs.select(col("doc_id"), col("source"))
      .join(comps, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("comp_id").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("comp_id") === col("doc_id"), 1L).otherwise(0L)).as("n_canonical"))
      .select(col("source"), col("n_docs"), col("n_clustered"), col("n_canonical"),
        expr("1000000 * n_clustered div n_docs").as("dup_ppm"))
      .orderBy("source")
  }

  /** D22: cross-source duplication overlap matrix — d21 says HOW MUCH
    * each feed duplicates; this says WITH WHOM: per unordered source
    * pair, the near-dup clusters containing docs from both (the
    * "who mirrors whom" triage that decides which of two overlapping
    * feeds to drop entirely vs de-prioritize). One (cluster, source)
    * dedup off the d07 closure labels, then a self-join on the cluster
    * id — pair fan-out bounded by sources-per-cluster, never docs —
    * and a distinct-cluster count per pair. */
  val d22SourceOverlap: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val comps = Dedup.dedupComponents(
      Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2).select("id_a", "id_b"))
    val cs = docs.select(col("doc_id"), col("source"))
      .join(comps, Seq("doc_id"))
      .select(col("comp_id"), col("source")).distinct()
    cs.select(col("comp_id"), col("source").as("src_a"))
      .join(cs.select(col("comp_id"), col("source").as("src_b")), Seq("comp_id"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count_distinct(col("comp_id")).as("n_shared_clusters"))
      .orderBy("src_a", "src_b")
  }

  /** D8: benchmark decontamination — training docs sharing >= 2 distinct
    * 3-gram shingles with any "benchmark" doc (the doc_id % 97 == 0 slice
    * stands in for a held-out eval set; w=3/minShared=2 is non-vacuous at
    * every SF: 12 contaminated docs at sf0.01, ~1.6k at sf0.1). Bench
    * postings broadcast; the corpus is never shuffled. */
  val d08Decontaminate: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    Dedup.decontaminate(
        train = docs.filter(col("doc_id") % 97 =!= 0),
        bench = docs.filter(col("doc_id") % 97 === 0),
        w = 3, minShared = 2)
      .orderBy("doc_id")
  }

  /** D23: ExactSubstr span detection ([[Dedup.exactSubstrSpans]], Lee et
    * al. 2022 §4.1) — maximal word-offset spans covered by 5-word windows
    * that occur verbatim in >= 2 documents: the span-granularity
    * complement of d12/d14's chunk dedup, with offsets a pipeline can cut
    * surgically. Positioned window hashes from the codegen
    * shingle_hash_seq kernel; cross-doc census + left-semi flag-back +
    * per-doc island merge — nothing pairwise. Oracle: the bit-exact
    * XXH64 window-hash SQL (t04's core) + the identical gaps-and-islands
    * merge. */
  val d23ExactSubstr: Q = (s, dir) =>
    Dedup.exactSubstrSpans(tbl(s, dir, "documents"), w = 5)
      .orderBy("doc_id", "span_start")

  /** D11: edit-distance near-dup pairs ([[Dedup.editDistancePairs]]) —
    * 4-gram-shingle candidate generation (>= 2 shared) + bounded-prefix
    * thresholded-levenshtein verify. */
  val d11EditDistance: Q = (s, dir) =>
    Dedup.editDistancePairs(tbl(s, dir, "documents"), w = 4, maxDist = 30)
      .orderBy("id_a", "id_b")

  /** D12: content-defined chunking shared-content audit
    * ([[Dedup.chunkSharedContent]]) — boundary-by-content chunks, 16-byte
    * chunk hashes, per-doc shared-chunk fraction. The oracle rebuilds the
    * identical chunking (same md5-prefix boundary rule, same running-sum
    * chunk ids, same joined-chunk md5) in SQL.
    * Chunking is an in-kernel fold over each doc's word array (map-only: no
    * explode, no window), and everything after it rides 16-byte chunk hashes
    * through partial-aggregated group-bys. */
  val d12ChunkDedup: Q = (s, dir) =>
    Dedup.chunkSharedContent(tblPar(s, dir, "documents"), modBoundary = 4)
      .orderBy("doc_id")

  /** D10: incremental dedup ([[Dedup.incrementalDedup]]) — admit the new
    * dump (doc_id % 3 == 0) against the existing corpus, keyed on a
    * canonical 5-word-prefix fingerprint so near-dup families share an
    * admission key (the full-content key is d01/d02's surface; at sf0.01
    * it would make the anti-join vacuously total).
    * The anti-join runs on the 16-byte fingerprint, so only hashes shuffle,
    * and the keep-first election is a partial-aggregated min(doc_id)
    * semi-joined back, with no window sort. */
  val d10IncrementalDedup: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val fp = (t: Column) => md5(array_join(slice(split(t, " "), 1, 5), " "))
    Dedup.incrementalDedup(
        newBatch = docs.filter(col("doc_id") % 3 === 0),
        corpus = docs.filter(col("doc_id") % 3 =!= 0),
        fpOf = fp)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** D9: Bloom-prefiltered decontamination — same exact-overlap semantics
    * as d08 (the oracle is the same exact SQL: Bloom false positives are
    * discarded by the verifying join, false negatives don't exist), but
    * clean corpus docs are rejected by a native `might_contain` gate BEFORE
    * their shingles explode. A different bench split (mod 89) keeps the two
    * queries' answers independently non-trivial. */
  val d09BloomDecontaminate: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    Dedup.decontaminateBloom(
        train = docs.filter(col("doc_id") % 89 =!= 0),
        bench = docs.filter(col("doc_id") % 89 === 0),
        w = 3, minShared = 2)
      .orderBy("doc_id")
  }

  /** SimHash fingerprints (rows-only: no SQL-expressible oracle). */
  val d05Simhash: Q = (s, dir) =>
    Dedup.withSimhash(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("simhash"))
      .orderBy("doc_id")

  // ===== LLM: text analysis =================================================

  /** Token counting: whitespace + BPE-ish regex tokens (both native
    * counting kernels — no token arrays materialized). */
  val t01TokenCount: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.wordCount(col("text")).cast("long").as("ws_tokens"),
        TextOps.regexTokenCount(col("text")).cast("long").as("re_tokens"))
      .orderBy("doc_id")

  /** T23: temperature-scaled training-mix weights (the multilingual
    * sampling rule of Conneau & Lample 2019 / the LLaMA data mix, at
    * τ = 2): p_l ∝ sqrt(tokens_l) — up-samples low-resource languages
    * relative to their raw share without flattening the mix. Exact
    * integer token counts feed ONE sqrt per language (IEEE
    * correctly-rounded, unlike pow — why τ is 2 here) and one sum over
    * the handful of language rows; the flat share rides along for the
    * contrast. The 1M-token epoch allocation rounds from the weight. */
  val t23MixtureWeights: Q = (s, dir) => {
    val counts = tbl(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.wordCount(col("text")).cast("long")).as("n_tokens"))
    val totals = counts.agg(
      sum(col("n_tokens")).as("__tot"),
      sum(sqrt(col("n_tokens").cast("double"))).as("__stot"))
    counts.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("__tot"), 6).as("flat_r"),
        round(sqrt(col("n_tokens").cast("double")) / col("__stot"), 6).as("weight_r"),
        round(lit(1000000.0) * sqrt(col("n_tokens").cast("double")) / col("__stot"), 0)
          .cast("long").as("epoch_tokens"))
      .orderBy("lang")
  }

  /** T24: contamination-safe train/holdout split
    * ([[Dedup.leakFreeSplit]]) — the split is cut along NEAR-DUP CLUSTER
    * boundaries (d07's components over the d03 pair graph, singletons
    * their own cluster), so no near-duplicate pair ever straddles
    * train/holdout: the within-corpus leak a per-doc hash split is blind
    * to. Assignment hashes the cluster id — deterministic md5 rule, the
    * same integer idiom both engines evaluate identically; the only cost
    * beyond the pair graph is the log-diameter component closure and one
    * map-only labeling pass. */
  val t24LeakfreeSplit: Q = (s, dir) =>
    Dedup.leakFreeSplit(tbl(s, dir, "documents"),
        Dedup.ngramJaccardPairs(tbl(s, dir, "documents"), w = 5, minJ = 0.2),
        holdoutPct = 10)
      .orderBy("doc_id")

  /** T25: lexical diversity — type-token ratio + hapax fraction per doc,
    * the classic gibberish/boilerplate detector orthogonal to t02/t21:
    * keyboard-mash has high TTR but no stopwords, template spam has LOW
    * TTR (the same phrases over and over) while passing length checks.
    * Canonical distributed form: explode -> (doc, word) partial-agg
    * count -> per-doc fold — two hash-keyed shuffles with map-side
    * partials, state per task O(distinct words), arbitrary doc lengths
    * (no in-row quadratic). Ratios as ppm integer division — nothing
    * floating crosses the hash. */
  val t25LexicalDiversity: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_words"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("doc_id"), col("n_words"), col("n_types"), col("hapax"),
        expr("1000000 * n_types div n_words").as("ttr_ppm"),
        expr("1000000 * hapax div n_words").as("hapax_ppm"))
      .orderBy("doc_id")

  /** T26: context-window chunking ([[TextOps.chunkWindows]]) — docs
    * split into 32-token windows at stride 24 (the HF overflow-stride
    * convention: tails never lost, 8-token boundary overlap). Map-only
    * Generate, no shuffle: the chunker runs at scan speed and its output
    * — not the raw corpus — is what downstream packing shuffles. */
  val t26ChunkWindows: Q = (s, dir) =>
    TextOps.chunkWindows(tbl(s, dir, "documents"), w = 32, s = 24)
      .orderBy("doc_id", "chunk_idx")

  /** T48: SFT conversation assembly — the gate between raw interaction
    * logs and instruction-tuning data: flat per-turn events become
    * per-conversation training rows ONLY if they pass the structural
    * contract every chat template assumes (a single violation —
    * assistant-first, doubled user turns, a system prompt injected
    * mid-dialog — silently corrupts the loss mask downstream, which is
    * why this validates BEFORE rendering, not after). Conversations
    * key on (user_id, day) — a map-only bucketing, no sessionize
    * window — then per conversation: turn order = (ts, event_id),
    * roles planted by md5 (user/assistant/system so every violation
    * class is live), the gate = {system only at turn 1, non-system
    * turns strictly alternate user-first, >= 2 non-system turns,
    * rendered template within the char budget}, and the rendered
    * '<|role|>text' template built by the array_sort(collect_list)
    * in-group fold (the t11 line-rebuild idiom — deterministic order,
    * NO per-turn window sort). ONE shuffle on the conversation key;
    * both windows and the fold share it (Catalyst reuses the
    * exchange). Per-conversation state is bounded by the day bucket —
    * the property that lets the same plan stream (st08's session
    * window is the streaming twin). */
  val t48SftAssembly: Q = (s, dir) => {
    val wC = Window.partitionBy("user_id", "day").orderBy("__tsu", "event_id")
    // pos2 = running non-system count INCLUDING the current row — for a
    // non-system turn it is exactly its 1-based alternation slot, so the
    // violation flag is per-row and the whole gate folds in ONE pass
    // (the (__tsu, event_id) ordering is unique, so the default RANGE
    // frame equals ROWS on both engines). One scan, one exchange, one
    // Window node (both functions share partitioning and ordering), no
    // join.
    val turns = events(s, dir)
      .withColumn("day", expr("__tsu div 86400000000"))
      .withColumn("rr",
        expr("cast(conv(substring(md5(concat('role:', cast(event_id as string))),1,8),16,10) as bigint) % 10"))
      .withColumn("role", when(col("rr") < 4, "user")
        .when(col("rr") < 9, "assistant").otherwise("system"))
      .withColumn("pos", row_number().over(wC))
      .withColumn("pos2",
        sum(when(col("role") =!= "system", 1L).otherwise(0L)).over(wC))
      .withColumn("viol", when(col("role") =!= "system" &&
        ((col("pos2") % 2 === 1 && col("role") =!= "user") ||
          (col("pos2") % 2 === 0 && col("role") =!= "assistant")), 1L)
        .otherwise(0L))
    turns.groupBy("user_id", "day").agg(
      count(lit(1)).as("n_turns"),
      sum(when(col("role") =!= "system", 1L).otherwise(0L)).as("n_nonsys"),
      sum(when(col("role") === "system" && col("pos") > 1, 1L).otherwise(0L))
        .as("n_sys_late"),
      sum(col("viol")).as("n_role_viol"),
      array_join(transform(array_sort(collect_list(struct(col("pos"),
        concat(lit("<|"), col("role"), lit("|>"), col("event_type"))
          .as("part")))), x => x.getField("part")), "").as("rendered"))
      .select(col("user_id"), col("day"), col("n_turns"), col("n_nonsys"),
        col("n_sys_late"), col("n_role_viol"), col("rendered"),
        length(col("rendered")).cast("long").as("n_chars"))
      .withColumn("kept", col("n_role_viol") === 0 && col("n_sys_late") === 0 &&
        col("n_nonsys") >= 2 && col("n_chars") <= 60)
      .orderBy("user_id", "day")
  }

  /** T49: quality-gate operating-point table — the "choose your
    * threshold" artifact a corpus owner reads BEFORE wiring t02's score
    * into a filter (d26 audits DEDUP thresholds, this audits the
    * quality gate): for every threshold bucket, how many docs and
    * tokens survive, absolute and as ppm of the language's corpus —
    * the retention/quality trade-off curve that decides the operating
    * point (gate at 0.3 and keep 80% of tokens, or at 0.6 and keep
    * 35%?). Integer-exact bucketing: score_e4 = round(score * 10000)
    * recovers the round-4 score as an exact integer on both engines,
    * bucket = score_e4 div 1000; survivors-at-threshold is a
    * DESC-cumulative sum over each language's <= 11 bucket rows — a
    * bounded window, no second corpus pass; totals ride the same
    * partition. ONE corpus fold + an 11-row-per-lang window. */
  val t49QualityTradeoff: Q = (s, dir) => {
    val q = TextOps.qualityStats(tbl(s, dir, "documents"))
      .select(col("lang"), col("n_words"),
        expr("cast(round(quality_score * 10000) as bigint) div 1000")
          .as("bucket"))
    val b = q.groupBy("lang", "bucket").agg(
      count(lit(1)).as("n_docs"), sum("n_words").as("n_tokens"))
    val wCum = Window.partitionBy("lang")
      .orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("lang")
    b.withColumn("kept_docs", sum("n_docs").over(wCum))
      .withColumn("kept_tokens", sum("n_tokens").over(wCum))
      .withColumn("tot_docs", sum("n_docs").over(wAll))
      .withColumn("tot_tokens", sum("n_tokens").over(wAll))
      .select(col("lang"), col("bucket"), col("n_docs"), col("n_tokens"),
        col("kept_docs"), col("kept_tokens"),
        expr("(1000000 * kept_docs) div tot_docs").as("kept_docs_ppm"),
        expr("(1000000 * kept_tokens) div tot_tokens").as("kept_tokens_ppm"))
      .orderBy("lang", "bucket")
  }

  /** T47: code-switching census — the mixed-language detector a
    * WHOLE-DOC langid (t03) is structurally blind to: a half-English/
    * half-Spanish page argmaxes to one label and then either pollutes
    * the en bucket or is lost to es, when the right routing is "mixed"
    * (drop, split, or route to a multilingual pipeline — the CCNet/
    * fastText curation step after per-doc labeling). Mechanism: the doc
    * is cut into non-overlapping 10-word windows (t26's chunker at
    * w = s = 10, map-only), EACH window classified with t03's stopword
    * argmax, then a per-doc census: window count, distinct guessed
    * langs, the majority lang (ties to the alphabetically smallest via
    * the struct arg-min — no vote sort), and the SWITCH count (adjacent
    * windows disagreeing — a lag over each doc's own windows, the only
    * window function here and bounded by the doc's chunk count, never
    * the corpus). is_mixed = more than one guessed lang. All counting
    * — integer-exact, fully mirrorable. */
  val t47CodeswitchCensus: Q = (s, dir) => {
    val wins = TextOps.chunkWindows(tblPar(s, dir, "documents"), w = 10, s = 10)
    val lid = TextOps.langIdScores(wins, textCol = "chunk")
      .select(col("doc_id"), col("chunk_idx"), col("lang_guess"))
    val sw = lid.withColumn("prev", lag(col("lang_guess"), 1).over(
        Window.partitionBy("doc_id").orderBy("chunk_idx")))
      .withColumn("switch",
        when(col("prev").isNotNull && col("prev") =!= col("lang_guess"), 1L)
          .otherwise(0L))
    val votes = lid.groupBy(col("doc_id"), col("lang_guess"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("cnt")).as("nc"), col("lang_guess").as("v")))
        .getField("v").as("major_lang"))
    sw.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col("lang_guess")).as("n_langs"),
        sum(col("switch")).as("n_switches"))
      .join(votes, Seq("doc_id"))
      .withColumn("is_mixed", col("n_langs") > 1)
      .orderBy("doc_id")
  }

  /** Quality scoring (length/stopword/avg-word-length stats). */
  val t02TextQuality: Q = (s, dir) =>
    TextOps.qualityStats(tbl(s, dir, "documents"))
      .select("doc_id", "n_words", "n_chars_calc", "stop_cnt", "avg_word_len",
        "quality_score")
      .orderBy("doc_id")

  /** Language-ID heuristic (closed-form stopword argmax). */
  val t03Langid: Q = (s, dir) =>
    TextOps.langIdScores(tbl(s, dir, "documents"))
      .select("doc_id", "s_de", "s_en", "s_es", "s_fr", "s_zh", "lang_guess")
      .orderBy("doc_id")

  /** T31: language-ID confusion matrix — classifier OBSERVABILITY, the
    * eval loop every deployed heuristic needs: t03's guesses against
    * the labeled lang as (lang, guess) cells with row-normalized ppm.
    * Off-diagonal hot cells are exactly where a langid gate silently
    * biases the corpus (the CCNet failure mode). One partial-aggregated
    * cell count + a broadcast-sized marginal join; integer ppm. */
  val t31LangidConfusion: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val cells = TextOps.langIdScores(docs)
      .select(col("doc_id"), col("lang_guess"))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang", "lang_guess").agg(count(lit(1)).as("cnt"))
    cells
      .join(cells.groupBy("lang").agg(sum(col("cnt")).as("n")), "lang")
      .select(col("lang"), col("lang_guess"), col("cnt"),
        expr("1000000 * cnt div n").as("row_ppm"))
      .orderBy("lang", "lang_guess")
  }

  /** Fingerprints: rolling hash + min-shingle-hash (rows-only). */
  val t04Fingerprint: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.rollingHash(col("text")).as("rolling_hash"),
        TextOps.docFingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  // ===== LLM: similarity search =============================================

  /** Brute-force exact top-k for a bounded query set: broadcast queries +
    * one corpus scan — the correct *exact* plan at any corpus size. */
  val v01KnnBrute: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.knnBrute(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V24: filtered-ANN serve audit ([[Similarity.filteredKnnAudit]]) —
    * pre-filter (score survivors only; exact) vs post-filter (unfiltered
    * top-20, keep survivors, take 5) under the `label % 7 == 0`
    * predicate (~20% selectivity — top-20 carries ~4 expected
    * survivors, so the under-fill and disagreement failure modes
    * post-filtering pays are BOTH live in the data, not just priced in
    * the spec). Hash-exact: both rankings share the round-6 cosine
    * total order.
    * Both rankings stream the corpus once through the bounded-heap top-k with
    * the queries broadcast (shuffle = queries x k), and the re-rank window
    * covers at most 20 rows per query. */
  val v24FilteredKnn: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.filteredKnnAudit(emb, emb.filter(col("vec_id") < 32),
        col("label") % 7 === 0)
      .orderBy("query_id")
  }

  /** V20: Matryoshka truncation audit (Kusupati et al. 2022 MRL
    * serving: score with the first d' dims, keep the full vector only
    * for rerank) — exact top-5 over the 16-dim PREFIX vs exact top-5
    * over all 64 dims, per-query overlap as an integer 0..5. The
    * dimension-adaptive twin of v09's ANN recall audit: before
    * deploying prefix-scored retrieval you measure exactly what the
    * truncation costs, and both rankings are deterministic (same
    * (cos DESC, neighbor ASC) total order), so the audit is hash-exact
    * — no recall floor needed. Truncation is a map-only `slice`;
    * cosine renormalizes per-space by construction. */
  val v20Matryoshka: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    val tr = emb.withColumn("embedding", slice(col("embedding"), 1, 16))
    val full = Similarity.knnBrute(emb, emb.filter(col("vec_id") < 32), k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val trunc = Similarity.knnBrute(tr, tr.filter(col("vec_id") < 32), k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val overlap = full.join(trunc, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("overlap5"))
    full.select("query_id").distinct()
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), coalesce(col("overlap5"), lit(0L)).as("overlap5"))
      .orderBy("query_id")
  }

  /** V19: kNN-graph construction ([[Similarity.knnGraph]]) — every
    * vector's top-3 cosine neighbors among pairs at cos >= 0.3: the
    * all-vs-all substrate of graph-based curation (SemDeDup clustering,
    * kNN-connectivity diversity, label propagation over embeddings).
    * Pair generation through the v02 block-grid kernel (no cartesian,
    * no driver collect), selection through the bounded heap — shuffle =
    * nodes x k. Oracle: the full quadratic with the same threshold and
    * (cos DESC, neighbor ASC) total order. */
  val v19KnnGraph: Q = (s, dir) =>
    Similarity.knnGraph(embeddings(s, dir), k = 3, minCos = 0.3)
      .orderBy("vec_id", "rnk")

  /** V21: MUTUAL kNN pairs — the reliable-match criterion of bitext /
    * parallel-data mining (the symmetric core of Artetxe & Schwenk's
    * margin retrieval): a pair qualifies iff each vector is in the
    * OTHER's top-3 — one-directional neighbors are mostly hubness
    * noise, mutuality is the cheap strong filter. Composes the v19
    * graph with a self-join on the reversed edge (ids-only shuffle);
    * output canonical (a < b) pairs with both ranks. */
  val v21MutualKnn: Q = (s, dir) => {
    val g = Similarity.knnGraph(embeddingsPar(s, dir), k = 3, minCos = 0.3)
      .select(col("vec_id"), col("neighbor_id"), col("rnk"))
    val rev = g.select(col("vec_id").as("neighbor_id"),
      col("neighbor_id").as("vec_id"), col("rnk").as("rnk_back"))
    g.join(rev, Seq("vec_id", "neighbor_id"))
      .filter(col("vec_id") < col("neighbor_id"))
      .select(col("vec_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("rnk").as("rnk_ab"), col("rnk_back").as("rnk_ba"))
      .orderBy("id_a", "id_b")
  }

  /** V22: margin-based bitext/parallel-pair mining (Artetxe & Schwenk
    * 2019's ratio margin over the v21 mutual-kNN pairs): a candidate
    * pair's cosine is scored AGAINST both endpoints' neighborhood
    * averages — margin = cos(x,y) / ((avg_k(x) + avg_k(y)) / 2) — so a
    * hub vector that is "close to everything" stops producing false
    * matches (its own average is high, its margins collapse toward 1).
    * Entirely integer once the heap's micro-unit cosines come back:
    * margin_ppm = 2*cos*ca*cb*10^6 div (sa*cb + sb*ca) — the
    * cross-multiplied form of the ratio with per-node (sum, count)
    * neighbor stats, so nothing floating crosses the hash. Composes the
    * L104 kNN graph (block-grid pairs, bounded heap) + one tiny
    * per-node stats aggregate + ids-only joins. */
  val v22MarginMining: Q = (s, dir) => {
    val g = Similarity.knnGraph(embeddingsPar(s, dir), k = 3, minCos = 0.3)
      .withColumn("cos_i", round(col("cos") * 1e6).cast("long"))
      .select("vec_id", "neighbor_id", "cos_i")
    val stats = g.groupBy("vec_id")
      .agg(sum("cos_i").as("nb_sum"), count(lit(1)).as("nb_cnt"))
    val rev = g.select(col("vec_id").as("neighbor_id"),
      col("neighbor_id").as("vec_id"))
    g.join(rev, Seq("vec_id", "neighbor_id")) // mutual-kNN gate (v21)
      .filter(col("vec_id") < col("neighbor_id"))
      .join(stats.select(col("vec_id"), col("nb_sum").as("sa"),
        col("nb_cnt").as("ca")), "vec_id")
      .join(stats.select(col("vec_id").as("neighbor_id"),
        col("nb_sum").as("sb"), col("nb_cnt").as("cb")), "neighbor_id")
      .select(col("vec_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cos_i").as("cos_ppm"),
        expr("2 * cos_i * ca * cb * 1000000 div (sa * cb + sb * ca)")
          .as("margin_ppm"))
      .orderBy("id_a", "id_b")
  }

  /** T30: most-frequent-n-gram census (the Gopher "fraction of
    * characters in the most common n-gram" rule — the BAG-side sibling
    * t07's map-only set kernel cannot express, since it needs the
    * per-shingle COUNT, not the deduplicated hash set): per doc the
    * top 3-gram by (count DESC, gram ASC), its count, and the ppm of
    * document characters its occurrences cover — the "same slogan over
    * and over" spam signal a global dup *ratio* (t07) dilutes on long
    * docs. Explode -> (doc, gram) partial-agg count -> per-doc max ->
    * tie-broken min-gram election: all hash aggregates + one semi-join
    * on (doc, cnt), no window, no in-row quadratic. */
  val t30Repetition: Q = (s, dir) => {
    val ws = split(col("text"), " ")
    val counts = tblPar(s, dir, "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        explode(transform(sequence(lit(1), size(ws) - 2),
          i => concat_ws(" ", slice(ws, i, lit(3))))).as("gram"))
      .groupBy("doc_id", "n_chars", "gram").agg(count(lit(1)).as("cnt"))
    val top = counts.groupBy("doc_id").agg(max("cnt").as("cnt"))
    counts.join(top, Seq("doc_id", "cnt"), "left_semi")
      .groupBy("doc_id", "n_chars")
      .agg(min("gram").as("top_gram"), max("cnt").as("top_cnt"))
      .select(col("doc_id"), col("top_gram"), col("top_cnt"),
        expr("1000000 * top_cnt * length(top_gram) div n_chars").as("top_char_ppm"))
      .orderBy("doc_id")
  }

  /** M7: aspect-ratio bucket assignment ([[Multimodal.aspectBucket]]) —
    * SDXL-style bucketed batching for vision training: nearest fixed
    * ratio bucket per image by integer cross-multiplication (lcm-scaled,
    * ties to the lower bucket index), map-only off the stored
    * dimensions. The oracle re-derives the argmin from the same
    * synthetic width/height. */
  val m07AspectBuckets: Q = (s, dir) =>
    Multimodal.aspectBucket(Multimodal.fromDocuments(tbl(s, dir, "documents")))
      .orderBy("doc_id")

  /** A28: per-user inactivity gaps (the session-boundary census at the
    * account level — churn/dormancy signals): consecutive-event deltas
    * per user via one bounded window (each partition is one user's
    * events), then gap count over a 6 h threshold, max gap, and total
    * idle time — all exact integer seconds from epoch-micros
    * arithmetic, no timestamp math crosses the hash. */
  val a28InactivityGaps: Q = (s, dir) => {
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

  /** T32: inverted PHRASE index + boolean serve — the text-side member
    * of the index family (v11-v17 are its vector siblings): postings are
    * (3-gram phrase -> doc) pairs off the dedup shingle kernel, df per
    * phrase is one partial-aggregated count with a hub cap (df <= 1000
    * drops boilerplate phrases whose postings would hot-spot a bucket —
    * the d03 postings-cap discipline), and the serve side is ranked
    * boolean retrieval: the 3 highest-df phrases (df DESC, phrase ASC —
    * a deterministic TakeOrderedAndProject, never a full sort) BROADCAST
    * against the postings, per-doc match counts aggregate ids only. At
    * corpus scale the postings persist bucketed by phrase (the v11
    * layout) and a query touches its phrases' buckets, zero corpus
    * exchange — the serve here is that plan's in-frame form. */
  val t32PhraseIndex: Q = (s, dir) => {
    val docs = tblPar(s, dir, "documents")
    // the postings ARE the index: materialize once (the m05/v11 build
    // discipline) — election and serve would otherwise each re-run the
    // corpus-wide shingle materialization
    val post = graft.SessionResources.trackPersisted {
      val p = docs.select(col("doc_id"),
          explode(TextOps.shingles(col("text"), 3)).as("phrase"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    val dfreq = post.groupBy("phrase").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 1000)
    val qphrases = dfreq.orderBy(col("df").desc, col("phrase")).limit(3)
    post.join(broadcast(qphrases), "phrase")
      .groupBy("doc_id").agg(count(lit(1)).as("n_matched"))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("n_matched"))
      .orderBy("doc_id")
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
  val a29GapfillSpine: Q = (s, dir) => {
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

  /** V23: one Lloyd ASSIGNMENT step (k-means over embeddings — the
    * clustering substrate SemDeDup/diversity sampling build on): every
    * vector assigned to the nearest of 8 fixed seed centroids by
    * squared L2, centroids riding the plan as a LITERAL (model-as-data:
    * an 8 x 64 table is driver-bounded by construction — the t16 BPE
    * merge-table precedent), the per-vector argmin an in-row array_sort
    * over (round-6 dist2, cluster idx) — MAP-ONLY, zero shuffle, zero
    * join: assignment runs at scan speed, which is what makes Lloyd
    * iterations affordable at corpus scale (the update half is x06's
    * vec_sum centroid aggregate). Distances accumulate sequentially
    * per row in double (float widened first), so round-6 is
    * cross-engine exact. */
  val v23KmeansAssign: Q = (s, dir) => {
    val emb = embeddingsPar(s, dir)
    // bounded, documented collect: 8 seed centroids (vec_id < 8)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
    // r13: assignment through the codegen NearestSeed kernel — identical
    // rule and bit-identical (rounded dist2, id-tiebreak) output to the
    // round-6 HOF array_sort it replaces (VectorKernelSpec), one tight
    // primitive loop per row instead of 8 interpreted zip_with+aggregate
    emb.withColumn("__best", graft.functions.VectorExpressions.nearestSeed(
        col("embedding"), seeds.map(_._1).toSeq, seeds.map(_._2.toSeq).toSeq))
      .select(col("vec_id"), col("__best.cluster_id").as("cluster_id"),
        col("__best.dist2").as("dist2_r"))
      .orderBy("vec_id")
  }

  /** V25: one k-means Lloyd UPDATE step — v23 is the assign half, this
    * closes the loop (assign -> per-cluster mean -> how far each
    * centroid moved), the convergence census a distributed k-means
    * driver reads every iteration (movement ~ 0 = stop; a cluster's
    * n_assigned collapsing = re-seed it). Assignment reuses v23's
    * EXACT rule (rounded dist2, cluster-id tiebreak — the two queries
    * can never disagree); the mean is the native vec_sum aggregate
    * (map-side partials, one k-row result) divided in-plan, movement
    * is the L2 distance to the seed via the literal seed table
    * (element_at lookup, no second join), summaries rounded 6 (the x06
    * centroid discipline). One corpus scan + one k-row aggregate per
    * iteration — nothing else shuffles; the seed collect is the
    * bounded 8-row model-as-data pattern. */
  val v25LloydStep: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    // bounded, documented collect: 8 seed centroids (vec_id < 8)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
    val seedLit = array(seeds.map { case (_, c) =>
      array(c.map(lit): _*)
    }.toIndexedSeq: _*)
    // r13: v23's exact assignment rule through the codegen NearestSeed
    // kernel (bit-identical; VectorKernelSpec) — the two queries still
    // cannot disagree, and the scan loses its interpreted HOF chain
    emb.withColumn("cluster_id",
        graft.functions.VectorExpressions.nearestSeed(col("embedding"),
          seeds.map(_._1).toSeq, seeds.map(_._2.toSeq).toSeq)
          .getField("cluster_id"))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_assigned"),
        graft.functions.VectorAggregates.vecSum(col("embedding")).as("__sum"))
      .withColumn("__mean", transform(col("__sum"), x => x / col("n_assigned")))
      .withColumn("__seed", element_at(seedLit, (col("cluster_id") + 1).cast("int")))
      .select(col("cluster_id"), col("n_assigned"),
        round(sqrt(aggregate(
          zip_with(col("__mean"), col("__seed"), (m, sd) => (m - sd) * (m - sd)),
          lit(0.0), (a, v) => a + v)), 6).as("movement_r"),
        round(sqrt(aggregate(col("__mean"), lit(0.0), (a, v) => a + v * v)), 6)
          .as("new_norm_r"))
      .orderBy("cluster_id")
  }

  /** V26: top principal component + whitening-lite serve
    * ([[Similarity.pcaPower]]) — the missing piece between the raw
    * embedding column and everything downstream of it: the projection
    * (score) is the 1-d feature a calibration/drift censor reads, and
    * the residual norm is the out-of-distribution flag (a vector the
    * dominant direction can't explain came from outside the training
    * distribution — the admission-control signal d20/v09 want). TRAIN
    * is the trained-op pattern the IVF/PQ family established: one
    * corpus scan collects the bounded hash-ordered sample, 4 power
    * iterations run driver-local with sequential folds, and the means
    * + component ride the serve plan as LITERALS (model-as-data).
    * SERVE is map-only at scan speed: per row one centered dot
    * (score), one residual fold — zero shuffle, zero join; the only
    * exchange is the output sort. Every float op is in the mirror
    * discipline (double accumulation in pinned order, float round-trip
    * per iteration, round-6 outputs), so the whole train+serve chain
    * is DuckDB-hash-exact like d16/v13/v15. */
  val v26PcaPower: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    val (mu, pc, lambda) = Similarity.pcaPower(emb)
    // r13: serve through the codegen PcaScore/PcaResid2 kernels — the
    // same sequential double folds over the float-widened row, asserted
    // bit-identical to the HOF chain in VectorKernelSpec; round-6 stays
    // Spark-side, so the output contract is untouched
    val pcD = pc.map(_.toDouble).toSeq
    emb.select(col("vec_id"),
        round(graft.functions.VectorExpressions.pcaScore(
          col("embedding"), mu.toSeq, pcD), 6).as("score_r"),
        round(graft.functions.VectorExpressions.pcaResid2(
          col("embedding"), mu.toSeq, pcD), 6).as("resid2_r"),
        round(lit(lambda), 6).as("lambda_r"))
      .orderBy("vec_id")
  }

  /** X45: coreset / representative selection — the embedding-side
    * composed chain (x44 is the TEXT-side sibling): out-of-distribution
    * admission (v26's PCA residual gates what the training distribution
    * can explain) -> coverage assignment (v23's exact nearest-seed
    * rule keeps every region represented) -> per-cluster election (the
    * lowest-residual members are the PROTOTYPES — the rows a
    * distillation/few-shot/annotation budget should spend on first).
    * Selecting representatives this way is the standard coreset recipe
    * (cluster-then-elect beats global top-k, which collapses onto one
    * dense region). The composition is the point: both trained models
    * (component + seeds) ride the plan as literals, serve is ONE
    * map-only scan (assignment + projection + residual per row, zero
    * joins), admission is a scan filter on the ROUNDED residual
    * (cross-engine stable), and the only shuffle is the per-cluster
    * election window — bounded per cluster, early-stopped by rnk <= 4.
    * End-to-end DuckDB-hash-exact, so no silent drift hides between
    * the stages. */
  val x45Coreset: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    val (mu, pc, _) = Similarity.pcaPower(emb)
    val pcD = pc.map(_.toDouble).toSeq
    // bounded, documented collect: 8 seed centroids (vec_id < 8)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .sortBy(_._1)
    // r13: the whole serve row (assignment + projection + residual) runs
    // through the codegen kernels — bit-identical to the HOF chain
    // (VectorKernelSpec); at ~825 µs/row interpreted, the serve scan was
    // the query's dominant cost
    val served = emb
      .withColumn("cluster_id",
        graft.functions.VectorExpressions.nearestSeed(col("embedding"),
          seeds.map(_._1).toSeq, seeds.map(_._2.toSeq).toSeq)
          .getField("cluster_id"))
      .withColumn("__score",
        graft.functions.VectorExpressions.pcaScore(
          col("embedding"), mu.toSeq, pcD))
      .withColumn("resid2_r",
        round(graft.functions.VectorExpressions.pcaResid2(
          col("embedding"), mu.toSeq, pcD), 6))
      .filter(col("resid2_r") <= 0.99)
    val wC = Window.partitionBy("cluster_id")
    served
      .withColumn("rnk", row_number().over(
        wC.orderBy(col("resid2_r"), col("vec_id"))))
      .withColumn("n_admitted", count(lit(1)).over(wC))
      .filter(col("rnk") <= 4)
      .select(col("cluster_id"), col("rnk").cast("long").as("rnk"),
        col("vec_id"), round(col("__score"), 6).as("score_r"),
        col("resid2_r"), col("n_admitted"))
      .orderBy("cluster_id", "rnk")
  }

  /** V18: exact Maximum-Inner-Product Search ([[Similarity.mipsBrute]])
    * — the recommendation-serving primitive: top-k by RAW dot, not
    * cosine (magnitude is signal: popularity/quality-scaled item
    * embeddings). Broadcast queries, one corpus scan, bounded-heap
    * selection; [[Similarity.mipsAugment]] is the scale path — the
    * Bachrach/Neyshabur reduction whose rank-equivalence proof in
    * LlmOpsSpec lets every cosine ANN index here serve MIPS unchanged. */
  val v18Mips: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.mipsBrute(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** All-pairs cosine >= threshold — the exact quadratic baseline the ANN
    * paths are audited against. Runs the distributed block-grid kernel:
    * identical output to the declarative join form (asserted bit-for-bit
    * in LlmOpsSpec), no driver collect, no corpus broadcast — shuffle is
    * n x numBlocks embedding copies and each task holds two blocks. */
  val v02CosinePairs: Q = (s, dir) =>
    Similarity.cosinePairsGrid(embeddings(s, dir), minCos = 0.3)
      .orderBy("id_a", "id_b")

  /** ANN via multi-table random-hyperplane LSH — bucketed equi-join
    * candidates, exact rerank; the 100 TB path (rows-only check; recall is
    * asserted against brute force in ScalaTest). */
  val v03AnnLsh: Q = (s, dir) => {
    val emb = embeddingsPar(s, dir)
    Similarity.annLsh(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** Embedding norms / dimensionality audit (native codegen'd vec_norm). */
  val v04Norms: Q = (s, dir) =>
    embeddings(s, dir)
      .select(col("vec_id"), size(col("embedding")).cast("long").as("dim"),
        round(graft.functions.VectorExpressions.vecNorm(col("embedding")), 6).as("norm_r"))
      .orderBy("vec_id")

  // ===== LLM: multimodal ====================================================

  /** Multimodal metadata projection (payload stays opaque binary). */
  val m01MultimodalMeta: Q = (s, dir) =>
    Multimodal.metaTable(tbl(s, dir, "documents")).orderBy("doc_id")

  /** M2: batch decode + feature extraction through the mapPartitions codec
    * path. The stub codec is deterministic byte arithmetic, so the audit
    * view (checksum + positional feature elements) is fully oracle-able:
    * DuckDB recomputes it from the ASCII text bytes. Verifies the whole
    * binary-payload pipeline — encoder, partition batching, feature shape
    * — not just the metadata face. */
  val m02MediaFeatures: Q = (s, dir) =>
    Multimodal.decodeFeatures(Multimodal.fromDocuments(tbl(s, dir, "documents")))
      .toDF()
      .select(col("doc_id"), col("n_bytes"), col("checksum"),
        round(element_at(col("feature"), 1), 6).as("feat0_r"),
        round(element_at(col("feature"), 8), 6).as("feat7_r"),
        round(aggregate(col("feature"), lit(0.0), (a, v) => a + v), 6).as("feat_sum_r"))
      .orderBy("doc_id")

  /** M3: frame sampling over the opaque payload (n=4 evenly spaced 16-byte
    * windows — the video-frame access pattern). Audit = frame count, total
    * sampled bytes, and the md5 of frame 0, all recomputable by the oracle
    * from substring arithmetic. */
  val m03FrameSample: Q = (s, dir) =>
    Multimodal.sampleFrames(Multimodal.fromDocuments(tbl(s, dir, "documents")),
        n = 4, frameBytes = 16)
      .select(col("doc_id"), col("n_sampled"),
        md5(element_at(col("frames"), 1)).as("frame0_md5"),
        aggregate(col("frames"), lit(0L), (a, f) => a + length(f).cast("long"))
          .as("frames_bytes"))
      .orderBy("doc_id")

  /** M6: ViT patch-grid extraction ([[Multimodal.patchGrid]]) — tile
    * each media row into 16x16 patches in row-major order off the
    * STORED dimensions (pixel decode stays behind the codec boundary),
    * edge patches clipped. Map-only transform + posexplode, zero
    * shuffle; the oracle rebuilds the identical integer grid from the
    * same synthetic width/height derivation. */
  val m06PatchGrid: Q = (s, dir) =>
    Multimodal.patchGrid(Multimodal.fromDocuments(tbl(s, dir, "documents")), p = 16)
      .orderBy("doc_id", "patch_idx")

  /** M4: perceptual near-dup over the multimodal payload
    * ([[Multimodal.phashNearDup]]) — 64-bit average-hash, banded
    * (band_idx, band_val) equi-join candidates (exact for ham <= 3 by
    * pigeonhole), ids-only candidate shuffle, popcount verify. The
    * oracle recomputes the identical hash from the ASCII text bytes and
    * compares all pairs quadratically (oracle role only). */
  val m04PhashNearDup: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    // Oracle-parity guard: the DuckDB mirror recomputes the hash over
    // CHARACTERS (ascii(substring(...))) while the engine hashes payload
    // BYTES — equal only for pure-ASCII text. Assert the fixture property
    // in-plan (octet_length == char length iff every char is one byte);
    // the guard rides inside the text column so pruning can't drop it
    // (the t16/v08 pattern), and concat('' ) leaves the text unchanged.
    val t = coalesce(col("text"), lit(""))
    val guarded = docs.withColumn("text", concat(col("text"),
      coalesce(assert_true(octet_length(t) === length(t),
        lit("m04_phash_neardup: oracle parity requires an ASCII-only corpus"))
        .cast("string"), lit(""))))
    Multimodal.phashNearDup(Multimodal.fromDocuments(guarded), maxHam = 3)
      .orderBy("id_a", "id_b")
  }

  /** M05: cross-video shared-frame near-dup
    * ([[Multimodal.videoNearDup]]) — m03's frame sampling x m04's
    * perceptual hashing: pairs sharing >= 2 near-identical sampled
    * frames (ham <= 3 per frame), the re-encoded/trimmed-copy detector
    * whole-payload hashing misses. Same ASCII oracle-parity guard as
    * m04; the DuckDB mirror recomputes frame slicing + per-frame hash +
    * pairwise popcount from the text bytes.
    * Frames hash in the native perceptual_hash kernel straight off the scan,
    * and the terminal count(DISTINCT frame) absorbs band-collision
    * duplicates, so the pair set shuffles once. */
  val m05VideoNearDup: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val t = coalesce(col("text"), lit(""))
    val guarded = docs.withColumn("text", concat(col("text"),
      coalesce(assert_true(octet_length(t) === length(t),
        lit("m05_video_neardup: oracle parity requires an ASCII-only corpus"))
        .cast("string"), lit(""))))
    Multimodal.videoNearDup(Multimodal.fromDocuments(guarded))
      .orderBy("id_a", "id_b")
  }

  /** T43: mergeable per-source uniform sample ([[graft.llm.Samples]])
    * — the KMV bottom-k-by-hash sketch sample a corpus pipeline
    * MAINTAINS instead of re-drawing: consistent (a pure function of
    * the id set — partitioning, arrival order, and executor count
    * cannot change it, unlike rand()-based sampling) and mergeable
    * (bottomK(A ∪ B) == merge(bottomK(A), bottomK(B)), priorities
    * riding the sample rows). t06 keeps a hash FRACTION (size tracks
    * the stratum), t15 draws ONE global weighted top-k; this holds
    * exactly k per stratum and folds incrementally. The query RUNS the
    * incremental path — sample 2/3 of the corpus, sample the remaining
    * batch, merge — while the oracle states the DIRECT bottom-k over
    * the full corpus: the hash-compare IS the append==rebuild proof.
    * Scale: bounded-heap TopK partials map-side, |sources| x k rows
    * ever shuffled, merge is sample-sized. */
  val t43SampleMerge: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val s1 = graft.llm.Samples.bottomK(
      docs.filter(col("doc_id") % 3 < 2), "source", "doc_id", 16)
    val s2 = graft.llm.Samples.bottomK(
      docs.filter(col("doc_id") % 3 === 2), "source", "doc_id", 16)
    graft.llm.Samples.merge(s1, s2, "source", "doc_id", 16)
      .orderBy("source", "rnk")
  }

  /** T44: graded contamination score ([[Dedup.contaminationScore]]) —
    * d08 produces the binary drop list (>= k shingles shared with SOME
    * bench doc); this prices EVERY training doc against the bench
    * shingle UNIVERSE as a ppm fraction of the doc's own shingles,
    * the number the removal policy actually consumes (drop
    * contaminated, rewrite partial, keep clean). Bench = the %97 eval
    * slice PLUS planted leaks — full copies of docs = 5 mod 131 (tier
    * 'contaminated' live: ppm = 1e6) and 40%-prefix copies of docs =
    * 9 mod 131 (tier 'partial' live at ~400k ppm, safely off the 50%
    * boundary) — so all three tiers are live at every SF and the
    * detector sees only text. Same scale shape as d08: broadcast
    * bench universe, corpus streams map-side, never shuffled. */
  val t44ContamScore: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents").select(col("doc_id"),
      coalesce(col("text"), lit("")).as("text"))
    val partials = docs.filter(col("doc_id") % 131 === 9)
      .withColumn("__w", expr("split(text, ' ')"))
      .select((col("doc_id") + 2000000L).as("doc_id"),
        expr("array_join(slice(__w, 1, greatest(1, cast((size(__w) * 2) div 5 as int))), ' ')")
          .as("text"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .unionByName(docs.filter(col("doc_id") % 131 === 5)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(partials)
    Dedup.contaminationScore(docs, bench, w = 3).orderBy("doc_id")
  }

  /** T45: PMI collocation census (pointwise mutual information — the
    * corpus-linguistics "these two words belong together" score behind
    * phrase mining, tokenizer-merge candidates (the statistical cousin
    * of t16's BPE pair counting) and stop-phrase detection: pmi =
    * ln(p(xy) / (p(x)p(y))) = ln(c_xy * N_uni^2 / (N_bi * c_x * c_y)),
    * positive = the pair co-occurs more than its words' frequencies
    * predict): bigram and unigram counts are exact-integer folds, the
    * ratio stays INTEGER until one double division + one ln + one
    * round at the end (the x39 ln-parity discipline); the collocation
    * floor (c_xy >= 10) kills the noise tail BEFORE the unigram joins.
    * Map-only in-row bigram explode, one bigram fold + one unigram
    * fold, two equi-joins on word (vocab-sized, shuffle-partitioned at
    * corpus scale), 1-row totals frame attached by broadcast. */
  val t45PmiCollocations: Q = (s, dir) => {
    val toks = tbl(s, dir, "documents")
      .select(split(coalesce(col("text"), lit("")), " ").as("w"))
      .filter(size(col("w")) >= 2)
    val uni = toks.select(explode(col("w")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
    val bi = toks.select(explode(expr(
        "transform(sequence(0, cast(size(w) - 2 as int)), i -> struct(w[i] as w1, w[i + 1] as w2))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= 10)
    val totals = toks.agg(
      sum(size(col("w")).cast("long")).as("n_uni"),
      sum((size(col("w")) - 1).cast("long")).as("n_bi"))
    bi.join(uni.select(col("word").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        round(log((col("c_xy") * col("n_uni") * col("n_uni")).cast("double") /
          (col("n_bi") * col("c_x") * col("c_y")).cast("double")), 6)
          .as("pmi_r"))
      .orderBy("w1", "w2")
  }

  /** T46: Jensen-Shannon vocabulary drift (the source-vs-source
    * distributional distance a31's KS gives for NUMBERS, stated for
    * TEXT: JSD between two sources' word distributions — symmetric,
    * bounded [0, ln 2], finite even on disjoint vocabularies (where
    * plain KL blows up) — the pairwise drift matrix a corpus-mixture
    * dashboard renders, and the trigger for re-weighting t23's mixture
    * when one source's language shifts): exact-integer word counts per
    * source, each pair's union vocabulary assembled by TWO broadcast
    * joins + a hash fold (never a per-pair full-outer), term =
    * 0.5*p*ln(2p/(p+q)) + 0.5*q*ln(2q/(p+q)) with absent sides
    * contributing exactly 0, one rounded sum per pair (the x39
    * ln-parity discipline). Pairing is |sources|^2 — the DASHBOARD
    * shape; at corpus scale you pin one reference distribution per
    * source and the same plan is linear. */
  val t46JsDivergence: Q = (s, dir) => {
    val cnt = tbl(s, dir, "documents")
      .select(col("source"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("source").agg(sum("c").as("n"))
    val srcs = tot.select("source")
    val pairs = srcs.as("a").join(srcs.as("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("s1"), col("b.source").as("s2"))
    val r1 = cnt.join(broadcast(pairs), col("source") === col("s1"))
      .select(col("s1"), col("s2"), col("word"),
        col("c").as("c1"), lit(0L).as("c2"))
    val r2 = cnt.join(broadcast(pairs), col("source") === col("s2"))
      .select(col("s1"), col("s2"), col("word"),
        lit(0L).as("c1"), col("c").as("c2"))
    val g = r1.union(r2).groupBy("s1", "s2", "word")
      .agg(sum("c1").as("c1"), sum("c2").as("c2"))
      .join(broadcast(tot.select(col("source").as("s1"), col("n").as("n1"))),
        Seq("s1"))
      .join(broadcast(tot.select(col("source").as("s2"), col("n").as("n2"))),
        Seq("s2"))
    val p = col("c1").cast("double") / col("n1")
    val q = col("c2").cast("double") / col("n2")
    val term =
      when(col("c1") > 0, lit(0.5) * p * log(lit(2.0) * p / (p + q)))
        .otherwise(lit(0.0)) +
      when(col("c2") > 0, lit(0.5) * q * log(lit(2.0) * q / (p + q)))
        .otherwise(lit(0.0))
    g.groupBy("s1", "s2")
      .agg(count(lit(1)).as("n_words"), round(sum(term), 6).as("jsd_r"))
      .orderBy("s1", "s2")
  }

  // ===== streaming-shaped (batch-equivalent; streaming variant in tests) ====

  /** Tumbling-window aggregation via window() — identical shape to the
    * Structured Streaming query in StreamingSpec. */
  val st01TumblingWindow: Q = (s, dir) =>
    eventsTs(s, dir)
      .withColumn("__ts", col("ts"))
      .groupBy(window(col("__ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value_r"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("cnt"), col("sum_value_r"))
      .orderBy("win_start", "event_type")

  /** ST5: windowed top-k — the streaming form runs the bounded-heap TopK
    * aggregate as stateful streaming state (k pairs per window; see
    * [[graft.streaming.EventStreams.windowedTopK]], stream==batch in
    * StreamingSpec); this is its bounded mirror for the oracle. */
  val st05WindowTopk: Q = (s, dir) =>
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

  /** Sliding-window aggregation (1 h window, 30 min slide): each event
    * contributes to size/slide = 2 windows — the overlapping-window shape
    * Structured Streaming shares with the batch mirror here. The oracle
    * decomposes each event into its two covering window starts. */
  val st03SlidingWindow: Q = (s, dir) =>
    eventsTs(s, dir)
      .withColumn("__ts", col("ts"))
      .groupBy(window(col("__ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value_r"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("cnt"), col("sum_value_r"))
      .orderBy("win_start")

  /** ST4: stream-stream interval join, batch mirror — each click paired
    * with the same user's views in the preceding hour
    * ([[graft.streaming.EventStreams.clickViewJoin]]). Timestamps cross
    * the engine boundary as microsecond longs (x04's convention). */
  val st04IntervalJoin: Q = (s, dir) =>
    graft.streaming.EventStreams.clickViewJoin(eventsTs(s, dir))
      .select(col("click_id"), col("user_id"),
        expr("unix_micros(click_ts)").as("click_ts_us"), col("click_value"),
        col("view_id"), expr("unix_micros(view_ts)").as("view_ts_us"),
        col("view_value"))
      .orderBy("click_id", "view_id")

  /** ST12: batch mirror of the LEFT OUTER stream-stream interval join
    * ([[graft.streaming.EventStreams.clickViewJoinOuter]]) — st04's
    * attribution-completeness sibling: every click emits, null-padded
    * when no view preceded it in the lookback (streaming defers those
    * rows until the watermark closes the window; the batch mirror shows
    * them immediately — same rows either way, StreamingSpec proves it).
    * The time-range predicate is the join condition of a user-keyed
    * equi-join, never a nested loop; in streaming, the two-sided watermark
    * bounds the buffered state. */
  val st12OuterJoin: Q = (s, dir) =>
    graft.streaming.EventStreams.clickViewJoinOuter(eventsTs(s, dir))
      .select(col("click_id"), col("user_id"),
        expr("unix_micros(click_ts)").as("click_ts_us"), col("click_value"),
        col("view_id"), expr("unix_micros(view_ts)").as("view_ts_us"),
        col("view_value"))
      .orderBy("click_id", "view_id")

  /** ST16: batch mirror of the FULL OUTER stream-stream interval join
    * ([[graft.streaming.EventStreams.clickViewJoinFull]]) — the
    * audit-completeness form closing the family: every click AND every
    * view emits exactly once (matched, or null-padded from its side),
    * so source-vs-output row reconciliation is one count. User id
    * totalized by coalescing the surviving side.
    * The time-range predicate is the join condition of a user-keyed
    * equi-join, never a nested loop; in streaming, the two-sided watermark
    * bounds both buffers. */
  val st16FullJoin: Q = (s, dir) =>
    graft.streaming.EventStreams.clickViewJoinFull(eventsTs(s, dir))
      .select(coalesce(col("user_id"), col("view_user_id")).as("user"),
        col("click_id"), expr("unix_micros(click_ts)").as("click_ts_us"),
        col("click_value"), col("view_id"),
        expr("unix_micros(view_ts)").as("view_ts_us"), col("view_value"))
      .orderBy(coalesce(col("click_id"), lit(-1L)),
        coalesce(col("view_id"), lit(-1L)))

  /** ST17 batch mirror: rate-limited admission
    * ([[graft.streaming.EventStreams.rateLimit]]) — per (event_type,
    * hour) only the first 50 events in (ts, event_id) order admit: the
    * ingest-quota gate (crawl politeness, per-source caps). The batch
    * statement is a window rank over HOUR-BOUNDED groups (each group's
    * sort is one hour of one type — bounded however long the log);
    * StreamingSpec proves the keyed-state streaming form admits the
    * identical set with O(open windows) state. */
  val st17RateLimit: Q = (s, dir) => {
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
  val st13SemiJoin: Q = (s, dir) =>
    graft.streaming.EventStreams.clickViewJoinSemi(eventsTs(s, dir))
      .select(col("click_id"), col("user_id"),
        expr("unix_micros(click_ts)").as("click_ts_us"), col("click_value"))
      .orderBy("click_id")

  /** ST14: the streaming upsert sink's state table
    * ([[graft.streaming.EventStreams.upsertBatch]]) — latest row per
    * user after the event stream folds in as two micro-batches (split by
    * event_id parity, so both batches upsert over each other's keys).
    * Partition-local merge: each batch rewrites only touched hash
    * partitions via dynamic overwrite. The oracle states the converged
    * state declaratively: the max-event_id row per user. */
  val st14UpsertState: Q = (s, dir) => {
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
  val st15Decontaminate: Q = (s, dir) => {
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
  val st06StreamStatic: Q = (s, dir) =>
    graft.streaming.EventStreams.enrichedTumblingCounts(
        eventsTs(s, dir),
        tbl(s, dir, "customer").filter(col("c_custkey") < 100)
          .select(col("c_custkey"), col("c_mktsegment")))
      .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("segment"), col("cnt"), col("sum_value_r"))
      .orderBy("win_start", "segment")

  /** ST8: NATIVE session windows ([[EventStreams.sessionWindowCounts]]) —
    * the engine-managed gap-merged session aggregation (vs st02's custom
    * keyed-state sessionizer). Same code path batch and streaming; output
    * keys as epoch micros (end = last event + gap, exclusive), so the
    * oracle's island detection (new session when the gap >= 30 min)
    * reproduces the windows integer-exactly. */
  val st08SessionWindow: Q = (s, dir) =>
    graft.streaming.EventStreams.sessionWindowCounts(
        eventsTs(s, dir).filter(col("user_id") < 200))
      .select(col("user_id"),
        unix_micros(col("s_start")).as("start_us"),
        unix_micros(col("s_end")).as("end_us"),
        col("n_events"), col("sum_value_r"))
      .orderBy("user_id", "start_us")

  /** ST10: session-window top-k ([[EventStreams.sessionTopK]]) — the
    * st08 x st05 composition: per (user, gap-merged session) the 3
    * highest-value events through the bounded heap as session state.
    * Same user_id < 200 bound and epoch-micros window keys as st08; the
    * oracle reproduces the sessions by island detection and ranks within
    * each island with the heap's exact total order (value DESC,
    * event_id). */
  val st10SessionTopk: Q = (s, dir) =>
    graft.streaming.EventStreams.sessionTopK(
        eventsTs(s, dir).filter(col("user_id") < 200))
      .select(col("user_id"),
        unix_micros(col("s_start")).as("start_us"),
        unix_micros(col("s_end")).as("end_us"),
        col("rnk"), col("event_id"), col("value_r"))
      .orderBy("user_id", "start_us", "rnk")

  /** ST11: tumbling-window EXACT distinct users — the batch face of
    * [[EventStreams.windowedDistinctUsers]] (same call, watermark a
    * no-op): the bitmap aggregate's window state replaces the
    * per-(window, user) rows a distinct-rewrite would keep, and the
    * oracle is plain count(DISTINCT) — exactness is hash-checked, in
    * batch AND (via StreamingSpec's stream==batch test) in streaming
    * state. */
  val st11WindowDistinct: Q = (s, dir) =>
    graft.streaming.EventStreams.windowedDistinctUsers(eventsTs(s, dir))
      .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_users"), col("n_events"))
      .orderBy("win_start", "event_type")

  /** Batch mirror of the composed streaming ingest
    * ([[graft.streaming.EventStreams.ingestStream]]): quality gate ->
    * keep-first fingerprint dedup -> per-language admission counts. The
    * batch election is the deterministic min-doc_id form of the stream's
    * first-arrival-wins (StreamingSpec proves they coincide under ordered
    * arrival). The gate is map-side, the election a partial min over md5
    * fingerprints and the counts partial-aggregated; text crosses a
    * shuffle only in the semi-join probe. */
  val st07StreamIngest: Q = (s, dir) => {
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
  val st02Sessionize: Q = (s, dir) => {
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

  /** ST21: batch mirror of the streaming crawl-change classifier
    * ([[graft.streaming.EventStreams.crawlChanges]]) — the incremental
    * face of d25: each fetch classified against the URL's previous
    * fingerprint in (ts, event_id) order. The mirror states the
    * deterministic contract declaratively (lag over the URL partition —
    * the st02 discipline); StreamingSpec proves the O(1)-state streaming
    * form equals it across micro-batches. Fetch log derived from events:
    * url from user_id, fingerprint from event_type (types flip over a
    * user's history, so all three statuses are live). */
  val st21CrawlChanges: Q = (s, dir) => {
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
  val st22WatermarkAudit: Q = (s, dir) => {
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
  val st23SampleMaintain: Q = (s, dir) => {
    val tmp = scratch("graft_smp") + "/sample"
    val docs = tbl(s, dir, "documents")
    def batch(i: Int) = docs.filter(col("doc_id") % 3 === i)
    graft.streaming.EventStreams.sampleBatch(batch(0), tmp, "lang", "doc_id", 8)
    graft.streaming.EventStreams.sampleBatch(batch(1), tmp, "lang", "doc_id", 8)
    graft.streaming.EventStreams.sampleBatch(batch(1), tmp, "lang", "doc_id", 8) // replay
    graft.streaming.EventStreams.sampleBatch(batch(2), tmp, "lang", "doc_id", 8)
    s.read.parquet(tmp).orderBy("lang", "rnk")
  }

  /** ST18: batch mirror of the streaming exactly-once dedup
    * ([[graft.streaming.EventStreams.dedupEvents]]) — the at-least-once
    * delivery scenario stated deterministically: the input is the event
    * log UNION a re-delivered copy of every third event (exact payload
    * copies, as a replayed source partition produces), and admission
    * keeps one row per event_id. Re-delivered rows are bit-identical to
    * their originals, so any-survivor == first-survivor and the batch
    * `dropDuplicates` states the stream's keep-first contract exactly
    * (StreamingSpec proves the watermark-bounded streaming form admits
    * the same set, duplicates dropped, exactly once). Oracle: the
    * original log — dedup must reconstruct it.
    * One hash-aggregate dedup on event_id; the streaming form holds one id
    * per event inside the watermark horizon instead, and either way the
    * payload shuffles once on the key, never sorts. */
  val st18DedupRedelivery: Q = (s, dir) => {
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
  val st25SftGate: Q = (s, dir) => {
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
  val st24StreamFfill: Q = (s, dir) => {
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

  /** ST19: batch mirror of the streaming near-dup dedup
    * ([[graft.streaming.EventStreams.dedupNearStream]]) — keep-first per
    * content fingerprint, stated as the deterministic min-doc_id election
    * (the st07 discipline: the batch election coincides with the stream's
    * first-arrival-wins under doc_id-ordered arrival, proven in
    * StreamingSpec over THIS fingerprint). The fingerprint is the
    * operator's full fallback chain in its oracle-able md5 form
    * ([[graft.streaming.EventStreams.nearDupFingerprintMd5]]): null text
    * -> id class, short text -> exact-content class, else min md5 over
    * the w=5 word shingles — each class salted so they cannot collide.
    * Scale: fingerprinting is map-only; the election is one equi-shuffle
    * on the 16-byte fingerprint + a semi-join — no text moves twice. */
  val st19NearDedupElection: Q = (s, dir) => {
    val docs = tblPar(s, dir, "documents")
    // same VALUE as EventStreams.nearDupFingerprintMd5, different
    // physical shape: the streaming form must carry the fingerprint
    // in-row (it is the state key), but in-row min-over-md5 runs the
    // interpreted HOF lambda path — 9s at sf0.1. The batch mirror
    // computes the identical min via explode -> codegen'd md5 -> one
    // partial-aggregated min (shuffle volume = |docs|), then the
    // fallback chain totalizes docs with no shingles.
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

  /** ST20: the maintained-aggregate streaming sink's state table
    * ([[graft.streaming.EventStreams.maintainAggStream]] — its
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
  val st20MaintainedAgg: Q = (s, dir) => {
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

  /** ANN via IVF coarse quantization — the second scale path (rows-only;
    * recall asserted vs brute force in ScalaTest).
    * Cost is the cluster-id equi-join of probed query lists against the
    * corpus inverted lists (~ corpus * nprobe / c); centroids train
    * driver-side on one bounded TakeOrdered sample. */
  val v05AnnIvf: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.annIvf(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** T21: the Gopher quality-rule battery ([[TextOps.gopherRules]]) —
    * per-rule boolean attribution + conjunctive keep, every ratio an
    * integer cross-multiplication so the hash compare never rides FP.
    * Map-only scan; the oracle mirrors each rule expression exactly. */
  val t21GopherRules: Q = (s, dir) =>
    TextOps.gopherRules(tbl(s, dir, "documents"))
      .select(col("doc_id"), col("n_words"), col("n_word_chars"),
        col("n_symbols"), col("n_alpha_words"), col("n_stop_hits"),
        col("wc_ok"), col("mwl_ok"), col("sym_ok"), col("alpha_ok"),
        col("stop_ok"), col("keep"))
      .orderBy("doc_id")

  /** T22: CCNet per-language quality buckets
    * ([[TextOps.qualityBuckets]]) — head/middle/tail terciles of the t12
    * fluency score WITHIN each language (absolute thresholds would empty
    * low-resource languages). Tile assigned over the rounded score +
    * doc_id tie-break: the identical total order in both engines, so
    * ntile splits identically.
    * One language's ranking sorts in one task, the exact form CCNet runs per
    * language; at corpus scale, sampled-quantile thresholds turn the window
    * into a broadcast-joined map. */
  val t22QualityBuckets: Q = (s, dir) =>
    TextOps.qualityBuckets(tblPar(s, dir, "documents"))
      .orderBy("doc_id")

  /** V13: product-quantization ANN ([[Similarity.annPq]]) — the third
    * scale path: the shortlist scan reads 8 offset-codes per corpus
    * vector instead of 64 floats (32x scan compression), ADC scoring is
    * a codegen'd table-lookup fold, exact cosine rerank restores true
    * order. Rows-only (approximate semantics); VerifyExtras asserts a
    * recall@5 floor vs brute force, like v03/v05. */
  val v13PqAnn: Q = (s, dir) => {
    val emb = embeddingsPar(s, dir)
    Similarity.annPq(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** Int8 scalar quantization of embeddings (max-abs scaling) — the
    * storage-compression op of an embedding pipeline. Output is the audit
    * view: per-vector scale + quantized checksum. */
  val v06Quantize: Q = (s, dir) =>
    embeddings(s, dir)
      // floor the scale at the min subnormal: an all-zero vector must
      // quantize to zeros, not divide 0/0 into a NaN that ANSI cast rejects
      .withColumn("scale",
        greatest(
          aggregate(transform(col("embedding"), x => abs(x.cast("double"))),
            lit(0.0), (acc, v) => greatest(acc, v)),
          lit(java.lang.Double.MIN_VALUE)))
      .withColumn("q", transform(col("embedding"),
        x => round(x.cast("double") / col("scale") * 127).cast("long")))
      .select(col("vec_id"),
        round(col("scale"), 6).as("scale_r"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("qsum"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + abs(v)).as("qabs"))
      .orderBy("vec_id")

  /** Text normalization: lowercase + whitespace collapse + trim, keyed by
    * content hash — the canonicalization step before exact dedup. Runs the
    * fused [[graft.functions.NormalizeSpaces]] kernel (one byte scan per
    * row) instead of a Java-regex rewrite of the whole corpus; semantics
    * are exactly regexp_replace(trim(lower(text)), " +", " "), which the
    * DuckDB oracle keeps verifying literally (and a property test pins). */
  val t05Normalize: Q = (s, dir) => {
    val norm = graft.functions.TextExpressions.normalizeSpaces(col("text"))
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        md5(norm).as("norm_hash"),
        length(norm).cast("long").as("norm_len"))
      .orderBy("doc_id")
  }

  /** Hash bucket in [0, 100) for any id value (no overflow path: the hex
    * prefix is < 2^32 before the modulo). */
  def sampleBucket(docId: Column): Column =
    conv(substring(md5(docId.cast("string")), 1, 8), 16, 10).cast("long") % 100

  /** Deterministic stratified sampling for training-mix construction:
    * per-language quotas via a hash-bucket threshold — reproducible across
    * runs/engines, no rand(). Bucket = first 32 bits of md5(doc_id as text)
    * mod 100: always in [0, 100) for ANY doc_id. (The r2 multiplicative form
    * `doc_id * 2654435761 % 100` overflowed Long past doc_id ~3.5e9 —
    * negative buckets silently widened the sample at exactly the corpus
    * sizes this engine targets.) */
  val t06StratifiedSample: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .withColumn("bucket", sampleBucket(col("doc_id")))
      .filter(col("bucket") <
        when(col("lang") === "en", 30).otherwise(10))
      .select(col("doc_id"), col("lang"), col("bucket"))
      .orderBy("doc_id")

  /** The training-mix pipeline as ONE query — the operators composed the
    * way a real corpus build runs them: quality filter -> exact dedup
    * (keep-first, hash-keyed) -> deterministic stratified sample ->
    * per-language token budget. Every stage is the registered operator's
    * exact shape, so the whole pipeline is oracle-checkable end to end. */
  val x08TrainingMix: Q = (s, dir) => {
    // quality gate at 0.2: the synthetic corpus tops out near 0.32, so the
    // earlier 0.5 gate passed zero docs — a vacuous 0-row oracle compare
    val scored = TextOps.qualityStats(tbl(s, dir, "documents"))
      .filter(col("quality_score") >= 0.2)
    // keep-first exact dedup (min doc_id per text hash) as arg_max on the
    // NEGATED id — the k02/j03 standard: one winner row of state per hash
    // with map-side partials, no per-key sort of full duplicate groups
    // (doc_id is unique, so ord is unique per group — deterministic).
    val sCols = scored.columns
    val deduped = scored.groupBy(md5(col("text")).as("__h"))
      .agg(graft.functions.VectorAggregates.argMax(-col("doc_id"),
        struct(sCols.map(col).toIndexedSeq: _*)).as("__w"))
      .select(sCols.map(c => col(s"__w.$c").as(c)).toIndexedSeq: _*)
    deduped
      .filter(sampleBucket(col("doc_id")) <
        when(col("lang") === "en", 30).otherwise(10))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("sum_tokens"),
        // quality aggregated as exact integer basis points: avg() of the
        // rounded doubles can land on a .5 rounding boundary and flip the
        // last digit between engines; sum of per-row integers cannot
        sum(round(col("quality_score") * 10000).cast("long")).as("sum_quality_bp"))
      .orderBy("lang")
  }

  /** X44: the COMPOSED corpus-build chain as one registered, oracled
    * query — x08's quality->dedup->sample pipeline extended with the two
    * stages a real pretraining build adds between them: decontamination
    * (d08's 5-gram-overlap broadcast anti-join against a held-out
    * benchmark FAMILY — doc_id % 1e7 groups rotated synthesis siblings
    * with their original, so eval near-duplicates can't train) and t08's
    * greedy token-budget packing. One lineage end to end: no collect
    * between stages, dedup is ONE arg_max hash aggregate, the bench
    * side broadcasts (eval sets are small by nature), packing is the
    * single stratum-key shuffle. The committed 10x record
    * (CORPUS_BUILD_10X.md) timed THIS function; the oracle restates every stage in SQL — the quality
    * score from x08's mirror, keep-first dedup as a row_number, the
    * w=5 string-shingle overlap from d08's mirror, and t08's recursive
    * packer — so the full chain is hash-exact, not just its pieces. */
  def x44Chain(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val base = col("doc_id") % 10000000L
    val bench = docs.filter(sampleBucket(base) === 99 &&
      col("doc_id") < 10000000L)
    val train = docs.filter(sampleBucket(base) =!= 99)
    val scored = TextOps.qualityStats(train)
      .filter(col("quality_score") >= 0.2)
    val sCols = scored.columns
    val deduped = scored.groupBy(md5(col("text")).as("__h"))
      .agg(graft.functions.VectorAggregates.argMax(-col("doc_id"),
        struct(sCols.map(col).toIndexedSeq: _*)).as("__w"))
      .select(sCols.map(c => col(s"__w.$c").as(c)).toIndexedSeq: _*)
    // 5-word windows: the realistic decontamination granularity for
    // ~54-word docs (production builds use 8-13-gram overlap; 3-grams
    // over the small synthetic vocabulary would flag half the corpus)
    val contaminated = Dedup.decontaminate(deduped, bench,
      w = 5, minShared = 2).select(col("doc_id"))
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    val sampled = clean.filter(sampleBucket(col("doc_id")) <
      when(col("lang") === "en", 30).otherwise(10))
    TextOps.packSequences(sampled, budget = 256L)
  }

  val x44CorpusBuild: Q = (s, dir) => x44Chain(s, dir).orderBy("doc_id")

  /** T7: within-doc repetition ratio (duplicate w-gram fraction) — the
    * Gopher-style repetition quality gate, map-only over native kernels. */
  val t07Repetition: Q = (s, dir) =>
    TextOps.repetitionStats(tbl(s, dir, "documents"), w = 3)
      .select(col("doc_id"), col("n_windows"), col("n_distinct"), col("rep_ratio"))
      .orderBy("doc_id")

  /** T8: greedy token-budget sequence packing (pretraining batch prep):
    * one shuffle on the stratum key, secondary-sorted streaming pack.
    * Budget 256 at ~54 words/doc packs ~4-5 docs per sequence. */
  val t08PackSequences: Q = (s, dir) =>
    TextOps.packSequences(tbl(s, dir, "documents"), budget = 256L)
      .orderBy("doc_id")

  /** T9: TF-IDF top-3 terms per document — integer-deterministic ranking
    * (tf desc, df asc, term asc), informational rounded score.
    * ONE job: the tf aggregation feeds the df build, the probe side and the
    * corpus-size scalar through one reused exchange, and selection is
    * partial_top_k_str on an integer (tf, df) composite, never a per-doc
    * window sort. */
  val t09Tfidf: Q = (s, dir) =>
    TextOps.tfidfTopTerms(tbl(s, dir, "documents"), k = 3)
      .orderBy("doc_id", "rnk")

  /** T10: PII redaction. The synthetic tables carry no PII-shaped text
    * (documents are digit-free word salad), so the contact blob is DERIVED
    * deterministically from customer key columns — same precedent as p05's
    * RD coordinates from o_orderkey — giving every row one live email, IP,
    * and phone match (never a vacuous 0-match pass). Messier planted
    * fixtures are exercised in LlmOpsSpec. */
  val t10PiiRedact: Q = (s, dir) => {
    val contact = concat(
      col("c_name"), lit(" "),
      translate(lower(col("c_name")), "#", "."), lit("@example.com ip 10."),
      (col("c_custkey") % 256).cast("string"), lit("."),
      col("c_nationkey").cast("long").cast("string"), lit("."),
      ((col("c_custkey") * 7) % 256).cast("string"), lit(" tel 06-"),
      lpad(((col("c_custkey") * 7919) % 10000).cast("string"), 4, "0"), lit("-"),
      lpad(((col("c_custkey") * 104729) % 10000).cast("string"), 4, "0"))
    TextOps.piiRedact(
        tbl(s, dir, "customer").select(col("c_custkey"), contact.as("contact")),
        "contact")
      .select(col("c_custkey"), col("n_emails"), col("n_ips"), col("n_phones"),
        col("redacted"))
      .orderBy("c_custkey")
  }

  /** T11: corpus-wide line dedup (CCNet-style). The word-salad docs carry
    * no newlines, so "lines" are aligned 10-word chunks — 127 of them
    * repeat across docs at sf0.01 (278 occurrences), so the pass is live
    * at the driver's SF. Winner election shuffles (hash, id, line_no)
    * only; see [[Dedup.lineDedup]]. */
  val t11LineDedup: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val words = split(col("text"), " ")
    val lines = docs.select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0), ceil(size(words) / lit(10.0)).cast("int") - 1),
          i => array_join(slice(words, i * 10 + 1, lit(10)), " ")))
        .as(Seq("line_no", "line")))
      .withColumn("line_no", col("line_no").cast("long"))
    Dedup.lineDedup(docs, lines).orderBy("doc_id")
  }

  /** T36: token-distribution drift between two corpus snapshots (PSI over
    * the top-50 tokens, add-1 smoothed) — snapshots stood in by doc_id
    * parity, deterministically. The crawl-refresh QA gate.
    * Both snapshots are conditional sums of ONE partial-aggregated token
    * census, the top-50 cut is a bounded TakeOrdered, and the smoothing
    * totals are a whole-frame window over those 50 rows. */
  val t36TokenDrift: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    TextOps.tokenDrift(docs, col("doc_id") % 2 === 0).orderBy("token")
  }

  /** T35: per-source boilerplate strip (CCNet/jusText template removal) —
    * t11's complement: a line repeated across >= 2 distinct docs of the
    * SAME source is host chrome and is removed from all of them. Same
    * 10-word-chunk line segmentation as t11.
    * The census dedups (source, md5(line), doc) rows in one
    * partial-aggregated exchange of hashes, the strip is a left-anti
    * equi-join on (source, hash) against the boilerplate set, and text moves
    * twice: the anti-join probe and the per-doc reassembly. */
  val t35Boilerplate: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val words = split(col("text"), " ")
    val lines = docs.select(col("doc_id"), col("source"), posexplode(
        transform(
          sequence(lit(0), ceil(size(words) / lit(10.0)).cast("int") - 1),
          i => array_join(slice(words, i * 10 + 1, lit(10)), " ")))
        .as(Seq("line_no", "line")))
      .withColumn("line_no", col("line_no").cast("long"))
    TextOps.boilerplateStrip(docs, lines).orderBy("doc_id")
  }

  /** T37: encoding-corruption census ([[TextOps.encodingAnomalies]]) —
    * the ftfy-style mojibake gate crawls run at ingest. The ASCII
    * synthetic corpus carries no real decode damage, so the fixture
    * deterministically re-breaks a hash-selected subset the way real
    * crawls break (the d23/x34 derive-then-detect discipline — the
    * detector sees only the corrupted text and knows nothing of the
    * plant): buckets 0-9 get the UTF-8-read-as-Latin-1 digraph
    * ('value' -> 'v U+00C3 U+00A1 lue'), 10-19 a decoder replacement char
    * ('table' -> 'ta U+FFFD ble'), 20-24 a Windows-1252 C1 control
    * ('query' -> 'qu U+0092 ery'); the other 75% stay clean, so both
    * verdicts are live at every SF. */
  val t37EncodingCensus: Q = (s, dir) => {
    val b = sampleBucket(col("doc_id"))
    val corrupted = tbl(s, dir, "documents").withColumn("text",
      when(b < 10, replace(col("text"), lit("value"), lit("v\u00C3\u00A1lue")))
        .when(b < 20, replace(col("text"), lit("table"), lit("ta\uFFFDble")))
        .when(b < 25, replace(col("text"), lit("query"), lit("qu\u0092ery")))
        .otherwise(col("text")))
    TextOps.encodingAnomalies(corrupted).orderBy("doc_id")
  }

  /** T38: character-entropy junk gate ([[TextOps.entropyCensus]]) — the
    * raw-crawl filter that catches what perplexity scoring never sees:
    * degenerate repetition (slow-collapse scraper loops, error-page spam)
    * at the low end and base64/minified/compressed blobs at the high end.
    * The ASCII synthetic corpus is uniformly mid-band natural text, so the
    * fixture plants both failure modes deterministically (derive-then-
    * detect; detector sees only the text): buckets 0-9 become a 3-symbol
    * repetition (entropy exactly log2(3) ~ 1.585), buckets 10-19 become
    * 384 chars of base64-coded md5 chains (~5.9 bits/char), the other 80%
    * stay clean — all three verdicts live at every SF. */
  val t38EntropyCensus: Q = (s, dir) => {
    val b = sampleBucket(col("doc_id"))
    val junkRandom = array_join(
      transform(sequence(lit(0), lit(15)), i =>
        base64(unhex(md5(concat(col("doc_id").cast("string"), lit(":"),
          i.cast("string")))))), "")
    val planted = tbl(s, dir, "documents").withColumn("text",
      when(b < 10, repeat(lit("ab "), 150))
        .when(b < 20, junkRandom)
        .otherwise(col("text")))
    TextOps.entropyCensus(planted).orderBy("doc_id")
  }

  /** T39: per-domain reputation census ([[WebOps.domainReputation]]) —
    * the domain-level blocklist aggregate C4/RefinedWeb/Dolma run before
    * any per-document filtering (a content farm is cheaper to kill once
    * at the domain level). The corpus has no URLs, so the fixture derives
    * them deterministically (derive-then-detect): buckets 0-24 become a
    * content farm (one registered domain, texts overwritten with three
    * rotating templates — the exact-dup signature of scraped spam),
    * buckets 25-39 a multi-part-suffix domain (news.co.uk — exercises the
    * public-suffix rule), 40-54 a subdomain-of-registered case
    * (www.blog.example.com -> example.com), the rest spread over eight
    * site{k}.org domains; four rotating hosts per domain. The detector
    * sees only the url+text columns.
    * One hash aggregation on the registered domain (its distinct counts
    * expand inside the same exchange) plus a broadcast 1-row corpus total;
    * only the text's md5 enters the aggregate. */
  val t39DomainReputation: Q = (s, dir) => {
    val b = sampleBucket(col("doc_id"))
    val sub = element_at(
      array(lit("www"), lit("m"), lit("cdn"), lit("blog")),
      (col("doc_id") % 4 + 1).cast("int"))
    val dom = when(b < 25, lit("contentfarm.biz"))
      .when(b < 40, lit("news.co.uk"))
      .when(b < 55, lit("blog.example.com"))
      .otherwise(concat(lit("site"), (b % 8).cast("string"), lit(".org")))
    val template = element_at(
      array(lit("breaking news template one"),
        lit("breaking news template two"),
        lit("breaking news template three")),
      (col("doc_id") % 3 + 1).cast("int"))
    val planted = tbl(s, dir, "documents")
      .withColumn("url", concat(lit("https://"), sub, lit("."), dom,
        lit("/doc/"), col("doc_id").cast("string")))
      .withColumn("text", when(b < 25, template).otherwise(col("text")))
    WebOps.domainReputation(planted).orderBy("registered_domain")
  }

  /** D24: crawl-frontier URL dedup ([[WebOps.urlDedup]]) — the
    * canonicalize-then-collapse step that runs BEFORE content dedup
    * (fetching decoration variants wastes fetches and poisons content
    * dedup with twins). The fixture gives every 4-doc page group the four
    * classic decorations of one logical URL (unsorted params; trailing
    * slash + utm tracking param; uppercase scheme+host + explicit :443;
    * fragment) — all four must collapse to the same canonical row.
    * Canonicalization is map-only built-in string expressions, then ONE hash
    * aggregation on the canonical key whose map-side partials collapse the
    * variants before the exchange. */
  val d24UrlDedup: Q = (s, dir) => {
    val p = expr("doc_id div 4")
    val hostL = concat(lit("www.site"), (p % 7).cast("string"), lit(".org"))
    val path = concat(lit("/articles/item"), p.cast("string"))
    val v = col("doc_id") % 4
    val url = when(v === 0,
      concat(lit("https://"), hostL, path, lit("?b=2&a=1")))
      .when(v === 1,
        concat(lit("https://"), hostL, path, lit("/?a=1&utm_source=feed&b=2")))
      .when(v === 2,
        concat(lit("HTTPS://"), upper(hostL), lit(":443"), path, lit("?a=1&b=2")))
      .otherwise(
        concat(lit("https://"), hostL, path, lit("?a=1&b=2#section-3")))
    val planted = tbl(s, dir, "documents").withColumn("url", url)
    WebOps.urlDedup(planted).orderBy("canonical_url")
  }

  /** D25: crawl-snapshot diff ([[WebOps.crawlDiff]]) — the refresh-QA
    * join run before admitting a new dump. The fixture pairs docs into
    * page groups (doc_id div 2 = page, parity = snapshot) and assigns
    * each page a fate by page bucket: 0-9 removed (present only in A),
    * 10-19 added (only in B), 20-34 changed (content version differs by
    * snapshot), the rest unchanged (content a function of the page
    * alone) — all four statuses live at every SF, detector sees only
    * (doc_id, url, text) per snapshot.
    * Two map-side-collapsed aggregations and ONE full-outer equi-join on the
    * canonical key; only the 16-byte fingerprint rides the join. */
  val d25CrawlDiff: Q = (s, dir) => {
    val pg = expr("doc_id div 2")
    val base = tbl(s, dir, "documents")
      .withColumn("__pg", pg)
      .withColumn("__snap", col("doc_id") % 2)
      .withColumn("__pb", col("__pg") % 100)
      .filter(!(col("__pb") < 10 && col("__snap") === 1) &&
        !(col("__pb") >= 10 && col("__pb") < 20 && col("__snap") === 0))
      .withColumn("url", concat(lit("https://www.site"),
        (col("__pg") % 7).cast("string"), lit(".org/p/"),
        col("__pg").cast("string")))
      .withColumn("text",
        when(col("__pb") >= 20 && col("__pb") < 35,
          concat(lit("v"), col("__snap").cast("string"), lit("-"),
            col("__pg").cast("string")))
          .otherwise(concat(lit("stable-"), col("__pg").cast("string"))))
    val cols = Seq("doc_id", "url", "text").map(col)
    WebOps.crawlDiff(
      base.filter(col("__snap") === 0).select(cols: _*),
      base.filter(col("__snap") === 1).select(cols: _*))
      .orderBy("canonical_url")
  }

  /** The planted block graph shared by x37/x42: docs in blocks of 10 —
    * directed rings in four of five blocks, a descending chain in the
    * fifth, and one cross edge entering each block (except b%5==0) at
    * its id%10==0 node. Dense inside blocks, sparse between — the
    * structure x37 peels into SCCs and x42 scores as communities. */
  def plantedBlockEdges(n: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ring = n.filter(col("b") % 5 =!= 4)
      .select(col("id").as("src"),
        (expr("id div 10") * 10 + (col("id") % 10 + 1) % 10).as("dst"))
    val chain = n.filter(col("b") % 5 === 4 && col("id") % 10 =!= 0)
      .select(col("id").as("src"), (col("id") - 1).as("dst"))
    val cross = n.filter(col("b") % 5 =!= 0 && col("id") % 10 === 0)
      .select(col("id").as("src"), (col("id") - 10).as("dst"))
    ring.union(chain).union(cross)
  }

  /** X37: strongly connected components
    * ([[graft.graph.Scc.stronglyConnected]]) — the directed bowtie
    * decomposition undirected components cannot see. Planted directed
    * graph over doc_ids (dense 0..N-1, N % 10 == 0 at every SF): blocks
    * of 10; four of every five blocks are forward RINGS (one SCC of 10),
    * every fifth block a REVERSED chain (10 singleton SCCs — its head
    * has descending ids downstream, so every node is its own color
    * root and the whole block peels as singletons in the same round);
    * chain-of-5 cross edges between block heads keep the DuckDB
    * reachability closure linear in the corpus. Detector sees only the
    * edge list.
    * Per round: one edge equi-join plus a partial-aggregated min or a (node,
    * color) semi-join, with localCheckpoint lineage cuts; every color root
    * peels its SCC in the same outer round, so rounds track SCC-chain depth,
    * not node count. */
  val x37Scc: Q = (s, dir) => {
    val n = tbl(s, dir, "documents")
      .select(col("doc_id").as("id"), expr("doc_id div 10").as("b"))
    graft.graph.Scc.stronglyConnected(plantedBlockEdges(n))
      .orderBy("node")
  }

  /** X42: modularity census ([[graft.graph.Modularity.census]]) — the
    * "is this clustering real" score for ANY community assignment the
    * engine produces (x28 label prop, d07 components, domain grouping):
    * Q = sum_c [L_c/m - (d_c/2m)^2], intra-community edge mass minus
    * the degree-preserving random-rewire expectation. Scored here: the
    * planted block partition (id div 10) over the x37 graph made
    * undirected — blocks are dense (rings/chains), cross edges sparse,
    * so every contribution is live-positive and the census proves the
    * planted structure is detectable. Everything is exact-integer off
    * the directed-both-ways edge rows (m2 = 2m = row count, intra2 =
    * 2L_c, deg folds); the only float is the final contribution,
    * rounded 6 (the x26 discipline). One degree fold + one intra fold +
    * a |C|-row join; the 1-row m2 frame attaches by broadcast. */
  val x42Modularity: Q = (s, dir) => {
    val n = tbl(s, dir, "documents")
      .select(col("doc_id").as("id"), expr("doc_id div 10").as("b"))
    val d0 = plantedBlockEdges(n)
    val und = d0.union(d0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    graft.graph.Modularity.census(und, c => floor(c / lit(10)).cast("long"))
      .orderBy("community")
  }

  /** X43: bow-tie decomposition (the Broder et al. web-structure census
    * — the macro map every crawl-curation strategy starts from: which
    * pages sit in the giant strongly-connected CORE, which only feed
    * INTO it, which are only reached OUT of it, and which are off the
    * map entirely; crawl budget, link-spam triage and canonical-URL
    * election all read off this 4-way split). Composition, not a new
    * kernel: x37's SCC peel elects the giant component (max size, min
    * id — deterministic), then TWO shrinking-frontier BFS sweeps
    * ([[graft.graph.Bfs.bfsDistances]]) from the core — forward along
    * edges for OUT, along REVERSED edges for IN — classify every node;
    * the edge frame materializes ONCE for all three passes (the x40
    * loop-invariant lesson). Fixture: the planted block graph + an
    * up-cross edge from blocks b%5 in {1,2}, which welds blocks 1-3 of
    * each group into a 30-node SCC and leaves block 4 pure-IN (its
    * chain only descends) and block 0 pure-OUT — all four classes live
    * by construction, and the STRUCTURAL pipeline must reproduce the
    * analytic truth the oracle states directly. */
  val x43Bowtie: Q = (s, dir) => {
    val n = tbl(s, dir, "documents")
      .select(col("doc_id").as("id"), expr("doc_id div 10").as("b"))
    val up = n.filter((col("b") % 5 === 1 || col("b") % 5 === 2) &&
        col("id") % 10 === 5)
      .select(col("id").as("src"), (col("id") + 10).as("dst"))
    val edges = plantedBlockEdges(n).union(up).localCheckpoint(true)
    val edgeRows = edges.count()
    val scc = graft.graph.Scc.stronglyConnected(edges)
    val giant = scc.select("scc_id", "scc_size").distinct()
      .orderBy(col("scc_size").desc, col("scc_id").asc).limit(1)
      .select("scc_id")
    val core = scc.join(broadcast(giant), Seq("scc_id"))
      .select("node").localCheckpoint(true)
    // The OUT sweep (forward edges) and IN sweep (reversed edges) are
    // independent BFS closures from the same seed set — fuse them into
    // ONE loop over the union graph with the reversed copy offset into a
    // disjoint id space (doc ids are << 2^40). Round count becomes
    // max(ecc_out, ecc_in) instead of their sum, and since each round of
    // this loop is barrier-bound at bench scale (guide §1.2), that
    // halves the sweeps' wall time; at cluster scale it halves the
    // synchronization rounds. Classification reads membership by id
    // range — identical sets to two separate sweeps.
    val OFF = 1L << 40
    val sweepEdges = edges.unionByName(
      edges.select((col("dst") + OFF).as("src"), (col("src") + OFF).as("dst")))
    val sweepSeeds = core.unionByName(core.select((col("node") + OFF).as("node")))
    val reach = graft.graph.Bfs.bfsDistances(sweepEdges, sweepSeeds,
        maxHops = 40, edgeRowsHint = 2 * edgeRows)
      .select("node").localCheckpoint(true)
    val outReach = reach.filter(col("node") < OFF)
      .select(col("node"), lit(true).as("__out"))
    val inReach = reach.filter(col("node") >= OFF)
      .select((col("node") - OFF).as("node"), lit(true).as("__in"))
    n.select(col("id").as("node"))
      .join(core.withColumn("__core", lit(true)), Seq("node"), "left")
      .join(inReach, Seq("node"), "left")
      .join(outReach, Seq("node"), "left")
      .withColumn("cls", when(col("__core"), "core")
        .when(col("__in"), "in")
        .when(col("__out"), "out")
        .otherwise("other"))
      .groupBy("cls").agg(count(lit(1)).as("n_nodes"),
        min("node").as("min_node"), max("node").as("max_node"))
      .orderBy("cls")
  }

  /** X36: outlink extraction + site-level link graph
    * ([[WebOps.linkGraph]]) — the bridge from raw HTML-ish text to the
    * graph family (x16 PageRank / x24 TrustRank run on exactly this edge
    * list in web-quality pipelines). The fixture appends 1-3
    * deterministic `<a href>` anchors per doc pointing at rotating
    * neighbor domains; the detector extracts them back with one
    * regexp_extract_all and censuses the (src, dst) domain edges.
    * One regexp scan and a links-per-doc explode feed a single hash
    * aggregation on the (src, dst) domain key, so the edge list is
    * domain-sized, not corpus-sized. */
  val x36LinkGraph: Q = (s, dir) => {
    val dom = concat(lit("site"), (col("doc_id") % 5).cast("string"),
      lit(".org"))
    val links = transform(sequence(lit(0), (col("doc_id") % 3).cast("int")),
      j => concat(lit("<a href=\"https://www.site"),
        ((col("doc_id") + j + 1) % 5).cast("string"),
        lit(".org/p/"), col("doc_id").cast("string"), lit("\">x</a>")))
    val planted = tbl(s, dir, "documents")
      .withColumn("url", concat(lit("https://www."), dom, lit("/p/"),
        col("doc_id").cast("string")))
      .withColumn("text", concat(col("text"), lit(" "),
        array_join(links, " ")))
    WebOps.linkGraph(planted).orderBy("src_domain", "dst_domain")
  }

  /** T40: robots-style path-prefix blocklist
    * ([[WebOps.pathPrefixBlock]]) — URL filtering against (domain,
    * path-prefix) disallow rules at segment boundaries. The scalable
    * trick under test: the prefix theta-join becomes an equi-join by
    * exploding each URL's own path prefixes (bounded by path depth)
    * against the broadcast rules table. Fixture routes buckets 0-19 to
    * /private/... paths (disallowed on three of five domains) and 20-29
    * to /tmp/... (disallowed on one), so both verdicts are live. */
  val t40PathBlocklist: Q = (s, dir) => {
    import s.implicits._
    val b = sampleBucket(col("doc_id"))
    val dom = concat(lit("site"), (col("doc_id") % 5).cast("string"),
      lit(".org"))
    val path = when(b < 20,
      concat(lit("/private/doc"), col("doc_id").cast("string")))
      .when(b < 30, concat(lit("/tmp/cache/"), col("doc_id").cast("string")))
      .otherwise(concat(lit("/articles/item"), col("doc_id").cast("string")))
    val planted = tbl(s, dir, "documents")
      .withColumn("url", concat(lit("https://www."), dom, path))
    val rules = Seq(
      ("site0.org", "/private"), ("site1.org", "/private"),
      ("site2.org", "/private"), ("site3.org", "/tmp"))
      .toDF("domain", "prefix")
    WebOps.pathPrefixBlock(planted, rules).orderBy("doc_id")
  }

  /** T41: per-source token-budget sampling
    * ([[TextOps.tokenBudgetSample]]) — the mixture-recipe admission step
    * (training mixes are specified in tokens per source, not documents).
    * Budget 800 tokens/source keeps a strict ~8-doc prefix of every
    * source at every SF, so admission is live everywhere.
    * The running sum is one window sort per source; at corpus scale the
    * same admission would run on a per-source token-count quantile sketch
    * instead. */
  val t41TokenBudget: Q = (s, dir) =>
    TextOps.tokenBudgetSample(tbl(s, dir, "documents"), 800L)
      .orderBy("doc_id")

  /** T42: markup-residue census ([[TextOps.markupResidue]]) — the
    * extraction-QA gate (t37's sibling: that one catches broken decodes,
    * this one broken HTML→text extraction). The clean synthetic corpus
    * carries no real extraction damage, so the fixture re-breaks a
    * hash-selected 25% the way real extractions break (derive-then-
    * detect): buckets 0-9 leak tags, 10-19 leak entities, 20-24 leak
    * javascript/css fragments; the detector sees only the text. */
  val t42MarkupResidue: Q = (s, dir) => {
    val b = sampleBucket(col("doc_id"))
    val planted = tbl(s, dir, "documents").withColumn("text",
      when(b < 10, replace(col("text"), lit("value"),
        lit("<div class=\"x\">value</div>")))
        .when(b < 20, replace(col("text"), lit("table"),
          lit("ta&nbsp;ble&#160;")))
        .when(b < 25, replace(col("text"), lit("query"),
          lit("function(query){color:red;} var q")))
        .otherwise(col("text")))
    TextOps.markupResidue(planted).orderBy("doc_id")
  }

  /** T29: term-blocklist filtering — the policy/compliance gate every
    * production corpus runs (profanity, PII keywords, licensing terms).
    * The blocklist is a TABLE, not an `isin` literal (the t18/t19
    * model-as-data discipline — real lists run to 10^4+ terms and must
    * stay a broadcast join, never a plan string); here the fixture list
    * is the corpus's 20 most frequent >= 6-char terms, a real deployment
    * drops its list in. Per doc: total blocked-term hits via one explode
    * + broadcast equi-join + partial-aggregated count, keep rule an
    * integer threshold, totalized with a LEFT join so clean docs report
    * 0 hits instead of vanishing. */
  val t29Blocklist: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val blk = docs.select(explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) >= 6)
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc).limit(20)
      .select("term")
    val hits = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .join(broadcast(blk), "term")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    docs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_hits"), lit(0L)) < 5, 1L).otherwise(0L).as("kept"))
      .orderBy("doc_id")
  }

  /** T27: INTRA-doc line dedup — t11's corpus-wide keep-first rule
    * applied within each document (the first pass CCNet actually runs:
    * navigation chrome and repeated boilerplate blocks drop before any
    * corpus-level election). Same 10-word-block line derivation as t11;
    * the keep-first-occurrence filter is an IN-ROW indexed lambda
    * (`filter((b, i) -> b not among the first i blocks)`) — map-only,
    * zero shuffle, O(blocks^2) per row over tens of blocks; the rebuild
    * is order-stable by construction. */
  val t27IntraDocDedup: Q = (s, dir) => {
    // null text -> '' so totality holds (one empty block, not a null row)
    val words = split(coalesce(col("text"), lit("")), " ")
    val blocks = transform(
      sequence(lit(0), ceil(size(words) / lit(10.0)).cast("int") - 1),
      i => array_join(slice(words, i * 10 + 1, lit(10)), " "))
    tblPar(s, dir, "documents")
      .select(col("doc_id"), blocks.as("bl"))
      .select(col("doc_id"),
        size(col("bl")).cast("long").as("n_lines"),
        filter(col("bl"), (b, i) =>
          array_position(slice(col("bl"), lit(1), i), b) === 0).as("kept"))
      .select(col("doc_id"), col("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("text_dedup"))
      .orderBy("doc_id")
  }

  /** V7: random-projection dimensionality reduction
    * ([[Similarity.randomProjection]]) — 64-dim embeddings to 4 projected
    * components through a deterministic md5-seeded ±1 matrix. Map-only,
    * no shuffle; the oracle recomputes the identical sign rule in SQL. */
  val v07RandomProjection: Q = (s, dir) =>
    Similarity.randomProjection(embeddings(s, dir), dims = 64, outDims = 4)
      .orderBy("vec_id")

  /** V8: binary-quantized Hamming top-k ([[Similarity.hammingAnn]]) —
    * sign-bit packing (32x corpus compression) + XOR/popcount scan +
    * bounded-heap selection. Integer-exact ranking (ham asc, neighbor
    * asc); the oracle recomputes hamming as the sign-disagreement count
    * over the unpacked floats — packing must be semantics-free. */
  val v08HammingAnn: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.hammingAnn(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V9: ANN recall audit — the evaluation operator a production ANN
    * deployment runs continuously: per query, how many of the exact
    * cosine top-k does the cheap index (here the v08 binary-Hamming path)
    * recover? Composes the two verified kernels and reduces to an
    * integer overlap count per query (both top-k sets are deterministic —
    * rounded cosine + id tie-break, integer hamming — so the audit is
    * hash-exact, unlike a float recall). Scale shape: both inputs are
    * top-k frames of |queries| x k rows; the audit join is negligible
    * next to the scans that build them. And it reports the honest
    * number: raw 64-bit sign quantization recalls only ~0.2 of the
    * cosine top-5 at sf0.01 — the measurement that tells a deployment
    * the binary path is a COARSE pre-filter needing an exact rerank
    * stage (which is how v08's production use composes). */
  val v09AnnRecallAudit: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 32)
    val exact = Similarity.knnBrute(emb, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"))
    val approx = Similarity.hammingAnn(emb, queries, k = 5)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"),
        count(lit(1)).as("k"))
      .select(col("query_id"), col("n_overlap"),
        round(col("n_overlap").cast("double") / col("k"), 6).as("recall_r"))
      .orderBy("query_id")
  }

  /** V10: binary shortlist + exact rerank ([[Similarity.hammingRerank]])
    * — the two-stage production path the v09 audit motivates: hamming
    * top-50 pre-filter (popcount over packed bits, 32x cheaper than
    * float), exact cosine rerank of candidates only. Both stages are
    * deterministic, so the oracle mirrors them exactly. */
  val v10HammingRerank: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.hammingRerank(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V11: the index-build / query split of the binary ANN path
    * ([[Similarity.buildSignIndex]] + [[Similarity.hammingRerankIndexed]]):
    * sign-bit signatures packed ONCE into a vec_id-bucketed table (data
    * under an explicit temp path; catalog metadata in-session), then the
    * two-stage shortlist + rerank served from it with zero corpus-side
    * exchanges (plan-asserted in ScaleOpsSpec). Same parameters as v10
    * and the oracle IS v10's SQL: the index must be invisible in the
    * result. The timed cost deliberately INCLUDES the index build — this
    * query is the deployment round-trip, not the steady-state probe. */
  val v11IndexedAnn: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.buildSignIndex(emb, "graft_v11_sign_idx", buckets = 8,
      path = Some(scratch("graft_sign_idx")))
    Similarity.hammingRerankIndexed(s, "graft_v11_sign_idx",
        emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V17: takedown DELETE on the persisted sign-bit index
    * ([[Similarity.deleteFromSignIndex]]) — the maintenance verb v11's
    * build/append lifecycle was missing: a right-to-be-forgotten batch
    * (vec_id % 17 == 0 here) lands as an append-only tombstone side
    * table, the stored corpus is neither read nor rewritten, and the
    * SAME serve call excludes the deleted rows via a broadcast anti-join
    * (corpus side still exchange-free). The oracle re-runs the exact
    * two-stage computation over the corpus MINUS the deleted ids —
    * shortlist membership shifts as survivors move up, so a leaked
    * tombstone anywhere is a hash mismatch, not just a missing row. */
  val v17IndexDelete: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.buildSignIndex(emb, "graft_v17_sign_idx", buckets = 8,
      path = Some(scratch("graft_v17_idx")))
    Similarity.deleteFromSignIndex(s, "graft_v17_sign_idx",
      emb.filter(col("vec_id") % 17 === 0).select("vec_id"))
    Similarity.hammingRerankIndexed(s, "graft_v17_sign_idx",
        emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V12: the index-build / query split of the IVF path
    * ([[Similarity.buildIvfIndex]] + [[Similarity.annIvfIndexed]]) — the
    * FAISS train/add/search contract as tables: centroids trained once,
    * lists persisted bucketed on `cl` (data under an explicit temp path;
    * catalog metadata in-session), probes served by scoring corpus
    * vectors in place at the bucketed scan (zero corpus-side exchanges,
    * plan-asserted in ScaleOpsSpec). Same parameters as v05 and — because
    * the stored centroids are exactly the ones [[Similarity.annIvf]]
    * trains on this corpus — the result is row-identical to v05
    * (ScaleOpsSpec asserts it); the VerifyExtras recall audit applies the
    * same floor. As with v11, the timed cost INCLUDES the index build:
    * the query is the deployment round-trip. */
  val v12IndexedIvf: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.buildIvfIndex(emb, "graft_v12_ivf_idx", buckets = 8,
      path = Some(scratch("graft_ivf_idx")))
    Similarity.annIvfIndexed(s, "graft_v12_ivf_idx",
        emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V14: PQ served from the persisted [[Similarity.buildPqIndex]] table
    * — build-in-query like v12/x18 (the driver verifies the serve path
    * each round); the serve scan reads stored codes and reranks against
    * the same bucketed table, zero corpus exchanges (ScaleOpsSpec).
    * Deterministic codebooks make this row-identical to v13's inline
    * path — the storage split is invisible. */
  val v14IndexedPq: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.buildPqIndex(emb, "graft_v14_pq_idx", buckets = 8,
      path = Some(scratch("graft_pq_idx")))
    Similarity.annPqIndexed(s, "graft_v14_pq_idx",
        emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V15: IVFADC ([[Similarity.annIvfPq]]) — the IVF x PQ composition a
    * billion-scale deployment runs: the coarse quantizer prunes WHICH
    * vectors are scored (nprobe/c of the corpus, cell-id equi-join), PQ
    * residual codes compress WHAT the scan reads per scored vector (8
    * offset-codes, not 64 floats); exact cosine rerank restores true
    * order. Rows-only (approximate semantics); VerifyExtras asserts the
    * same recall@5 floor as the component paths v05/v13. */
  val v15IvfPq: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.annIvfPq(emb, emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** V16: v15 through the PERSISTED IVFADC index
    * ([[Similarity.buildIvfPqIndex]] + [[Similarity.annIvfPqIndexed]]) —
    * probe joins land on the cl-bucketed stored layout (only probed
    * lists read, stored codes scanned as-is, rerank embeddings from the
    * same rows: zero corpus-side exchange). Deterministic training makes
    * the storage split invisible: identical rows to v15. */
  val v16IndexedIvfPq: Q = (s, dir) => {
    val emb = embeddings(s, dir)
    Similarity.buildIvfPqIndex(emb, "graft_v16_ivfpq_idx", buckets = 8,
      path = Some(scratch("graft_ivfpq_idx")))
    Similarity.annIvfPqIndexed(s, "graft_v16_ivfpq_idx",
        emb.filter(col("vec_id") < 32), k = 5)
      .orderBy("query_id", "rnk")
  }

  /** T13: fixed-quota per-source sampling — the training-mix knob that
    * caps every source at N docs, deterministically (md5-rank election, no
    * RNG: reruns and retries pick identical docs). Selection runs through
    * the native bounded-heap [[graft.functions.TopK]] aggregate: state is
    * quota x sources pairs with map-side partials, where the window form
    * sorts each source's full row set to keep 15. The 32-bit md5-prefix
    * rank is exact in the heap's double ord; ties break on doc_id inside
    * the aggregate itself, so the pick is total. */
  val t13SourceQuota: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .withColumn("rk", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as double)"))
      .groupBy(col("source"))
      .agg(graft.functions.VectorAggregates.topK(col("rk"), col("doc_id"), 15).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("source"), (col("rnk0") + 1).cast("long").as("rnk"),
        col("t.id").as("doc_id"), col("t.ord").cast("long").as("rk"))
      .orderBy("source", "rnk")

  /** E2b: explode_outer totality — exploding a possibly-empty match list
    * must KEEP the parent row (NULL element) or downstream per-doc
    * aggregates silently lose documents; the inner explode (e01) drops
    * them. The filter runs in-kernel (HOF), only matches explode. */
  val e02ExplodeOuter: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        explode_outer(filter(split(col("text"), " "), x => x === "stream"))
          .as("word"))
      .orderBy("doc_id", "word")

  /** E03: order-preserving explode/rebuild roundtrip — the contract
    * every shred-process-reassemble pipeline leans on (chunk a doc,
    * process chunks independently, put the doc back together in
    * order): posexplode carries the position, the shuffle is free to
    * scramble rows, and the rebuild sorts (pos, token) structs IN-ROW
    * after a hash re-aggregation — array_sort on the struct, never an
    * ORDER BY. The query emits the rebuilt text plus an in-plan
    * equality flag against the original; the oracle answers with the
    * ORIGINAL text and a constant true, so a single out-of-order token
    * anywhere in either SF fails the hash. The one subtlety a naive
    * rebuild misses: collect_list's intra-group order is
    * NON-DETERMINISTIC under retries — riding the position through the
    * row is the only correct distributed rebuild. */
  val e03PosexplodeRebuild: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
    docs.select(col("doc_id"), col("text"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .groupBy("doc_id", "text")
      .agg(collect_list(struct(col("pos"), col("word"))).as("__parts"))
      .withColumn("rebuilt", expr(
        "array_join(transform(array_sort(__parts), p -> p.word), ' ')"))
      .select(col("doc_id"),
        size(col("__parts")).cast("long").as("n_words"),
        col("rebuilt"),
        (col("rebuilt") === col("text")).as("roundtrip_ok"))
      .orderBy("doc_id")
  }

  /** T15: weighted priority sampling — pick a fixed-size sample biased
    * toward heavier documents (here: by n_chars, the token-budget proxy),
    * deterministically: priority = md5-prefix32 DIV weight, keep the k
    * smallest. Longer docs draw smaller priorities more often, giving
    * hash-stable weight-leaning selection with NO float anywhere in the
    * pick (integer division both engines, ties broken by doc_id inside
    * the heap — selection can never ride an FP ulp, the t09 rule).
    * Runs through the bounded TopK heap on the negated priority: k pairs
    * of state total, map-side partials, no global sort. */
  val t15WeightedSample: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .withColumn("pri", expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as long)" +
          " div greatest(n_chars, 1)"))
      .groupBy()
      .agg(graft.functions.VectorAggregates
        .topK((-col("pri")).cast("double"), col("doc_id"), 50).as("top"))
      .select(posexplode(col("top")).as(Seq("rnk0", "t")))
      .select((col("rnk0") + 1).cast("long").as("rnk"),
        col("t.id").as("doc_id"), (-col("t.ord")).cast("long").as("pri"))
      .orderBy("rnk")

  /** T16: BPE merge-step statistics — the first iteration of byte-pair-
    * encoding tokenizer training: count adjacent character pairs inside
    * words, per language, and keep each language's top merges. The full
    * trainer is this op iterated (count -> merge best pair -> recount);
    * the count+select step is the part that touches the corpus and must
    * scale, and it is all hash aggregation: pair counts partial-aggregate
    * map-side, then the bounded-heap [[graft.functions.TopK]] keeps 10
    * pairs per language (no per-language sort). The heap id encodes the
    * pair as ascii(c1)*65536 + ascii(c2), so the integer tie-break is
    * exactly lexicographic pair order — selection never leaves integers. */
  val t16BpeMerges: Q = (s, dir) =>
    tblPar(s, dir, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy(col("lang"), col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("pair_code",
        // char() wraps codepoints mod 256 and the 2^24 headroom assumes
        // ASCII: non-ASCII input FAILS (assert rides inside the key, the
        // v08 pattern) instead of corrupting the reconstructed pair
        (ascii(substring(col("pair"), 1, 1)) * 65536 +
          ascii(substring(col("pair"), 2, 1)) +
          coalesce(assert_true(
            ascii(substring(col("pair"), 1, 1)) < 128 &&
              ascii(substring(col("pair"), 2, 1)) < 128,
            lit("t16_bpe_merges: non-ASCII pair")).cast("int"), lit(0))).cast("long"))
      // composite ord: cnt desc then pair asc, integer-exact in the double
      // (pair_code < 2^23 for ASCII, cnt * 2^24 < 2^52 at any plausible SF)
      .groupBy(col("lang"))
      .agg(graft.functions.VectorAggregates.topK(
        (col("cnt") * lit(1L << 24) - col("pair_code")).cast("double"),
        col("pair_code"), 10).as("top"))
      .select(col("lang"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("lang"), (col("rnk0") + 1).cast("long").as("rnk"),
        expr("concat(char(t.id div 65536), char(t.id % 65536))").as("pair"),
        ((col("t.ord").cast("long") + col("t.id")) / lit(1L << 24)).cast("long").as("cnt"))
      .orderBy("lang", "rnk")

  /** The t16-trained top-8 merge table as a driver-side literal list —
    * 8 bounded rows (documented collect), shared by t17 and t28 so the
    * tokenizer both queries apply is identical by construction. */
  private def bpeMergesTop8(docs: org.apache.spark.sql.DataFrame): Seq[String] = {
    val merges = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(8)
      .collect().map(_.getString(0)).toSeq
    // the oracle's replace chain is arity-8: a corpus too degenerate to
    // yield 8 merge pairs must fail loudly, not silently diverge
    require(merges.length == 8, s"bpe: corpus yields only ${merges.length} merge pairs")
    merges
  }

  /** T17: BPE tokenizer application ([[TextOps.bpeEncode]]) — closes the
    * loop t16 opens: the global top-8 merge pairs (cnt desc, pair asc —
    * vocabulary-sized TakeOrdered, 8 rows collected) become plan
    * literals, and every document is encoded map-only. All-integer
    * output; the oracle derives the identical merge table and walks the
    * identical per-word replace chain in SQL. */
  val t17BpeEncode: Q = (s, dir) => {
    val docs = tblPar(s, dir, "documents")
    TextOps.bpeEncode(docs, bpeMergesTop8(docs)).orderBy("doc_id")
  }

  /** T28: tokenizer FERTILITY audit — tokens-per-word and
    * chars-per-token by language under the t16/t17 BPE: the multilingual
    * tokenizer-efficiency metric (a language with high fertility pays
    * more sequence length per word, skewing effective compute and the
    * t23 mixture). Per-doc counting through the native `bpe_token_count`
    * kernel (one byte scan per merge), then one partial-aggregated
    * roll-up per language; ratios as integer ppm. */
  val t28Fertility: Q = (s, dir) => {
    val docs = tblPar(s, dir, "documents")
    val enc = TextOps.bpeEncode(docs, bpeMergesTop8(docs))
    docs.select(col("doc_id"), col("lang"),
        TextOps.wordCount(col("text")).cast("long").as("nw"))
      .join(enc, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_words"),
        sum(col("n_char_tokens")).as("n_chars"),
        sum(col("n_bpe_tokens")).as("n_tokens"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_chars"),
        col("n_tokens"),
        expr("1000000 * n_tokens div n_words").as("fertility_ppm"),
        expr("1000000 * n_chars div n_tokens").as("chars_per_token_ppm"))
      .orderBy("lang")
  }

  /** T18: BM25 relevance scoring (Okapi, k1=1.2, b=0.75) of every
    * document against a 3-term query — the oracle fixture for
    * [[TextOps.bm25]], whose query side is a TABLE: the corpus postings
    * filter to the query vocabulary by broadcast equi-join on the term
    * (the production DSIR shape — an isin(literals) predicate stops
    * being a plan at 10^3+ terms), df/doc-length/corpus stats all
    * partial-aggregated, the corpus-size + total-length constants ride
    * in as a broadcast 1-row frame (the t09 pattern — one job, no eager
    * action). Constants are exact literals (2.2, 0.25) on BOTH engines:
    * 1.2+1.0 != 2.2 in doubles, and a constant off in the last ulp
    * would poison every score. LlmOpsSpec proves query-side scale
    * invariance: a 1000-term table scores the 3-term subset
    * identically. */
  val t18Bm25: Q = (s, dir) => {
    val sess = s
    import sess.implicits._
    val qterms = Seq("stream", "data", "query").toDF("term")
    TextOps.bm25(tbl(s, dir, "documents"), qterms).orderBy("doc_id")
  }

  /** T19: DSIR importance weights ([[TextOps.dsirWeights]]) — log
    * p_target - log p_source under hashed unigram models (target =
    * English docs), the Xie et al. 2023 data-selection score. One job:
    * the k-row model table and its totals ride in-plan (broadcast), the
    * probe is a broadcast join, and the per-doc score is an INTEGER sum
    * of per-bucket micro-logs — the only FP step is one rounding per
    * model bucket, identical on both engines. */
  val t19DsirWeights: Q = (s, dir) =>
    TextOps.dsirWeights(tblPar(s, dir, "documents"), isTarget = col("lang") === "en")
      .orderBy("doc_id")

  /** T20: hashed linear quality classifier ([[TextOps.qualityScoreLinear]])
    * — the fasttext-style keep/drop filter with the model as data
    * (deterministic fixture weights). Integer-exact end to end; pure
    * map (one in-kernel fold per doc, no explode/join/shuffle). */
  val t20QualityClassifier: Q = (s, dir) =>
    TextOps.qualityScoreLinear(tblPar(s, dir, "documents")).orderBy("doc_id")

  /** D15: cluster-keep-BEST dedup policy — near-dup components (the d07
    * closure) each keep their highest-QUALITY member instead of the
    * smallest id: the production election when duplicates differ in
    * extraction quality. Quality = the t20 integer micro-score, so the
    * whole election is integer-exact; selection through the native
    * `arg_max` ObjectHashAggregate on the (q_mscore, doc_id) composite
    * (unique by id — the determinism contract) with map-side partials:
    * one winner row per component crosses the shuffle, never a window
    * sort. */
  val d15ClusterKeepBest: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val comps = Dedup.dedupComponents(
      Dedup.ngramJaccardPairs(docs, w = 5, minJ = 0.2).select("id_a", "id_b"))
    val scored = TextOps.qualityScoreLinear(docs)
      .select(col("doc_id"), col("q_mscore"))
    comps.join(scored, "doc_id")
      .groupBy("comp_id")
      .agg(count(lit(1)).as("n_members"),
        graft.functions.VectorAggregates.argMax(
          struct(col("q_mscore"), col("doc_id")),
          struct(col("doc_id").as("keep_id"), col("q_mscore").as("keep_mscore")))
          .as("__b"))
      .select(col("comp_id"), col("n_members"),
        col("__b.keep_id").as("keep_id"), col("__b.keep_mscore").as("keep_mscore"))
      .orderBy("comp_id")
  }

  /** T14: novelty / memorization audit — the fraction of each document's
    * distinct w-gram shingles that recur elsewhere in the corpus (df >= 2).
    * Low novelty marks boilerplate/templated text and self-contamination.
    * Two partial-aggregated shuffles over 8-byte shingle hashes (document
    * frequency, then the per-doc rollup); text never shuffles. */
  val t14Novelty: Q = (s, dir) => {
    val sh = Dedup.docShingleHashes(tbl(s, dir, "documents"), 3)
    val postings = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val dfreq = postings.groupBy("s").agg(count(lit(1)).as("df"))
    postings.join(dfreq, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("novelty_r", round(lit(1.0) - col("n_shared") / col("n_sh"), 6))
      .orderBy("doc_id")
  }

  /** T12: corpus-trained bigram-LM fluency scoring ([[TextOps.bigramLm]]) —
    * the CCNet/KenLM-style quality signal. Three aggregations/joins, all
    * partial-aggregated equi-joins on word/bigram keys; V is a plan
    * constant; the FP mean is rounded (accumulation order). */
  val t12BigramLm: Q = (s, dir) =>
    TextOps.bigramLm(tblPar(s, dir, "documents")).orderBy("doc_id")

  /** X9: hot-key-safe aggregation — the two-phase salted groupBy
    * ([[graft.relational.Skew.saltedAgg]]) must return exactly the plain
    * GROUP BY result (the oracle IS the plain form): partial-aggregate on
    * (key, content-hash salt), final-aggregate on key, so one hot key
    * fans out over `salt` tasks instead of pinning one. */
  val x09SaltedAgg: Q = (s, dir) =>
    graft.relational.Skew.saltedAgg(tbl(s, dir, "lineitem"),
        key = "l_returnflag", salt = 8,
        partials = Map("pc" -> count(lit(1)), "ps" -> sum(col("l_quantity"))),
        finals = Map("cnt" -> sum(col("pc")), "qty_r" -> round(sum(col("ps")), 2)))
      .orderBy("l_returnflag")

  // ===== engine breadth beyond the reference (§2.10 gaps closed) ============

  /** As-of (point-in-time) join: each click is enriched with the user's
    * most recent view at or before it — the union+window single-shuffle
    * formulation ([[graft.relational.AsOf]]), no join node at all. The
    * oracle is DuckDB's native ASOF LEFT JOIN. Timestamps cross the
    * engine boundary as microseconds (`__tsu` vs epoch_us): the
    * precision every physical ts variant is read at by both engines. */
  val x04AsofJoin: Q = (s, dir) => {
    val ev = events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("__tsu"), col("value"))
    // right side must be unique per (user, ts): deterministic last-wins
    // (max event_id) as an arg_max hash aggregate — the k02/j03 standard,
    // map-side partials instead of a per-key window sort; event_id is
    // unique so the ord satisfies ArgMax's determinism contract. Keyed on
    // the normalized micros — the precision BOTH engines compare at.
    val viewsByTs = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("__tsu"))
      .agg(graft.functions.VectorAggregates.argMax(col("event_id"),
        struct(col("event_id").as("view_event_id"),
          col("value").as("view_value"))).as("__w"))
      .select(col("user_id"), col("__tsu"),
        col("__w.view_event_id").as("view_event_id"),
        col("__w.view_value").as("view_value"))
    graft.relational.AsOf.asofJoin(clicks, viewsByTs, key = "user_id", time = "__tsu",
        valueCols = Seq("view_event_id", "view_value"), prefix = "")
      .select(col("event_id"), col("user_id"), col("__tsu").as("ts_us"),
        col("value"), col("view_event_id"), col("view_value"))
      .orderBy("event_id")
  }

  /** Range (interval-containment) join via time-bin quantization
    * ([[graft.relational.RangeJoin]]): events falling in the hour after
    * each low-id click — an equi-join on the bin id plus exact filter,
    * never the nested-loop plan a bare BETWEEN predicate produces. */
  val x05RangeJoin: Q = (s, dir) => {
    val hourUs = 3600L * 1000 * 1000
    val ev = events(s, dir)
    val intervals = ev.filter(col("user_id") < 5 && col("event_type") === "click")
      .select(col("event_id").as("interval_id"), col("__tsu").as("start"),
        (col("__tsu") + hourUs).as("end"))
    val points = ev.select(col("__tsu").as("t"))
    graft.relational.RangeJoin.rangeJoin(intervals, points,
        start = "start", end = "end", time = "t", binWidth = hourUs)
      .groupBy(col("interval_id"))
      .agg(count(lit(1)).as("n_points"))
      .orderBy("interval_id")
  }

  /** X21: interval-OVERLAP join ([[graft.relational.RangeJoin
    * .intervalOverlapJoin]]) — same-user click/view windows that
    * intersect, with the exact overlap length in micros. The bin-
    * ownership trick (pair kept only where its intersection starts)
    * makes the pair set exactly-once with NO dedup exchange; the oracle
    * is the plain two-inequality join DuckDB can afford at sf scale.
    * Integer-exact end to end (epoch micros). */
  val x21IntervalOverlap: Q = (s, dir) => {
    val halfHourUs = 30L * 60 * 1000 * 1000
    val ev = events(s, dir).filter(col("user_id") < 15)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("__tsu").as("c_start"), (col("__tsu") + halfHourUs).as("c_end"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("__tsu").as("v_start"), (col("__tsu") + halfHourUs).as("v_end"))
    graft.relational.RangeJoin.intervalOverlapJoin(
        clicks, views, keys = Seq("user_id"),
        startL = "c_start", endL = "c_end",
        startR = "v_start", endR = "v_end", binWidth = halfHourUs)
      .select(col("user_id"), col("click_id"), col("view_id"),
        (least(col("c_end"), col("v_end")) -
          greatest(col("c_start"), col("v_start"))).as("overlap_us"))
      .orderBy("user_id", "click_id", "view_id")
  }

  /** X38: interval islands merge (gaps-and-islands over genuine
    * INTERVALS — the coverage-union op behind downtime accounting,
    * validity-interval consolidation, and ad-occupancy billing; a28 and
    * st02 sessionize POINT events by inter-event gap, here containment
    * and overlap of [start, end) spans drive the union, which lag()
    * cannot see — a long interval can swallow several later ones, so
    * the boundary test is against the RUNNING MAX of interval ends, not
    * the previous row's end). Each event carries a deterministic
    * duration of (event_id % 8 + 1) * 3h against ~7h median per-user
    * gaps, so disjoint, overlapping, and fully-contained intervals are
    * all live at every SF. ONE window sort per user (running-max-end
    * over preceding rows -> new-island flag -> running island counter)
    * + one hash aggregate per island — the sort is the operator's
    * intrinsic cost; keys partition it, nothing else shuffles. */
  val x38IntervalIslands: Q = (s, dir) => {
    val iv = events(s, dir).select(col("user_id"), col("event_id"),
      col("__tsu").as("s0"),
      (col("__tsu") + (col("event_id") % 8 + 1) * lit(10800000000L)).as("e0"))
    val wPrev = Window.partitionBy("user_id").orderBy("s0", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy("user_id").orderBy("s0", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    iv.withColumn("__pm", max("e0").over(wPrev))
      .withColumn("__new",
        when(col("__pm").isNull || col("s0") > col("__pm"), 1L).otherwise(0L))
      .withColumn("island", sum("__new").over(wRun))
      .groupBy("user_id", "island")
      .agg(min("s0").as("island_start"), max("e0").as("island_end"),
        count(lit(1)).as("n_iv"))
      .select(col("user_id"), col("island").as("island_idx"),
        col("island_start"), col("island_end"),
        (col("island_end") - col("island_start")).as("span_us"), col("n_iv"))
      .orderBy("user_id", "island_idx")
  }

  /** X39: Adamic-Adar link prediction (the second-degree affinity
    * score behind "people you may know" / co-purchase recommendation —
    * Adamic & Adar 2003): for user pairs sharing pages, score =
    * sum over shared pages of 1/ln(page audience) — x22 weights pages
    * EQUALLY inside Jaccard, AA discounts hub pages logarithmically
    * (sharing a niche page is evidence, sharing the homepage is not),
    * and each user elects ONE best predicted peer (aa DESC, peer ASC,
    * via the k02 arg_max hash aggregate — never a window sort).
    * Shared-entity pair generation costs sum-over-pages audience^2 —
    * audiences GROW with the corpus (680+ per page at sf0.1, and a
    * fixed drop-cap would empty the result) — so each page's CANDIDATE
    * audience is sampled to its bottom-64 by the L172 consistent-hash
    * priority ([[graft.llm.Samples.bottomK]] reused as the sampler):
    * pair cost pins at pages x 64^2 REGARDLESS of corpus size, the
    * sample is deterministic and merge-stable, and the WEIGHT still
    * uses the page's FULL audience (the statistic is exact; only the
    * candidate set is sampled — the d03 postings-cap discipline).
    * Audience-1 pages can't form pairs and ln(1) = 0 would divide by
    * zero, so the degree floor is 2; scores sum ROUNDED weights
    * (round 6 — the t38/a32 ln-parity discipline). */
  val x39AdamicAdar: Q = (s, dir) => {
    val inc = covisitIncidence(s, dir).distinct()
    val degW = inc.groupBy("p").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
      .withColumn("w", round(lit(1.0) / log(col("deg").cast("double")), 6))
    val capped = graft.llm.Samples.bottomK(inc, "p", "u", 64).select("p", "u")
    val e = capped.join(degW.select("p", "w"), Seq("p"))
    val scored = e.select(col("p"), col("u").as("ua"), col("w"))
      .join(e.select(col("p"), col("u").as("ub")), Seq("p"))
      .filter(col("ua") < col("ub"))
      .groupBy("ua", "ub")
      .agg(count(lit(1)).as("n_common"), round(sum("w"), 6).as("aa_r"))
    val both = scored.select(col("ua").as("user_id"), col("ub").as("peer_id"),
        col("n_common"), col("aa_r"))
      .unionByName(scored.select(col("ub").as("user_id"), col("ua").as("peer_id"),
        col("n_common"), col("aa_r")))
    both.groupBy("user_id")
      .agg(max(struct(col("aa_r"), (-col("peer_id")).as("np"),
        col("n_common").as("nc"))).as("__b"))
      .select(col("user_id"), (-col("__b.np")).as("peer_id"),
        col("__b.nc").as("n_common"), col("__b.aa_r").as("aa_r"))
      .orderBy("user_id")
  }

  /** X41: interval apportionment (pro-rating — the billing/capacity
    * twin of x38's islands over the SAME planted intervals: x38 asks
    * "how do intervals merge", THIS asks "how much interval MASS lands
    * in each hour", the utilization/chargeback allocation where a
    * session spanning 2.5 hours must bill 60+60+30 minutes, not 3
    * rows): each interval explodes to exactly the hours it touches
    * (sequence over its hour range — fan-out bounded by interval
    * length, never a spine join), the per-hour contribution is the
    * CLIPPED overlap min(e, hour_end) - max(s, hour_start) in exact
    * micros, and the census folds per hour. Conservation is built into
    * the hash-compare: clip errors would make some hour's mass differ.
    * busy_us can exceed the hour (concurrent users) — it is mass, not
    * share; n_iv counts contributing intervals. */
  val x41IntervalApportion: Q = (s, dir) => {
    val hourUs = 3600000000L
    events(s, dir).select(col("event_id"),
        col("__tsu").as("s0"),
        (col("__tsu") + (col("event_id") % 8 + 1) * lit(10800000000L)).as("e0"))
      .withColumn("h", explode(sequence(
        expr(s"s0 div $hourUs"), expr(s"(e0 - 1) div $hourUs"))))
      .withColumn("ov",
        least(col("e0"), (col("h") + 1) * lit(hourUs))
          - greatest(col("s0"), col("h") * lit(hourUs)))
      .groupBy("h")
      .agg(sum("ov").as("busy_us"), count(lit(1)).as("n_iv"))
      .select(col("h").as("hour"), col("busy_us"), col("n_iv"))
      .orderBy("hour")
  }

  /** The distinct (user, page) incidence behind x22/x23 — the same
    * props.k page derivation as [[eventsBipartiteEdges]], kept as the
    * two-column frame [[graft.graph.Covisit]] projects. */
  private def covisitIncidence(s: SparkSession, dir: String): DataFrame =
    tblPar(s, dir, "events")
      .select(col("user_id").as("u"),
        // r13: the codegen single-key JSON kernel — exactly
        // get_json_object(props,'$.k').cast(long) incl. ANSI throw
        // behavior (JsonKeyLongSpec), at raw-projection cost instead of
        // a Jackson parse per row
        graft.functions.JsonExpressions.jsonKeyLong(col("props"), "k").as("p"))
      .filter(col("p").isNotNull)

  /** X22: co-visitation similarity graph — page pairs whose audience
    * Jaccard is >= 17/50, decided by integer cross-multiplication (no
    * float in the edge rule). Pair generation is keyed on the shared
    * user, page-set sizes ride in broadcast: the item-item-CF shape, see
    * [[graft.graph.Covisit.jaccardEdges]] for the 100 TB rationale. */
  val x22CovisitSim: Q = (s, dir) =>
    graft.graph.Covisit.jaccardEdges(covisitIncidence(s, dir), 17, 50)
      .orderBy("p1", "p2")

  /** X23: per-node triangle participation over the x22 similarity graph
    * — the local-clustering signal (link-farm / mirror-cluster
    * detection). Degree-ordered orientation bounds the wedge join by
    * O(sqrt(E)) per node with hubs generating NO wedges; enumeration and
    * closure are equi-joins, each triangle counted exactly once
    * ([[graft.graph.Covisit.triangleCounts]]). Integer counts: engines
    * agree bit-for-bit. */
  val x23TriangleCount: Q = (s, dir) =>
    graft.graph.Covisit.triangleCounts(
        graft.graph.Covisit.jaccardEdges(covisitIncidence(s, dir), 17, 50))
      .orderBy("node")

  /** X25: k-core of the x22 similarity graph
    * ([[graft.graph.Covisit.kCore]], k = 8) — the dense-core robustness
    * signal: members keep >= 8 similar neighbors even after every weaker
    * node peels away (a mirror-cluster detector raw degree can't give).
    * Rows-only: the iterate-until-fixpoint peel is not expressible in
    * the oracle's SQL; VerifyExtras recomputes the core independently
    * (driver-side peel from raw events, no shared code path).
    * Per round: one partial-aggregated degree count and two left-semi
    * equi-joins over a shrinking, checkpointed edge set; the convergence
    * count is the action that materializes the round. */
  val x25Kcore: Q = (s, dir) =>
    graft.graph.Covisit.kCore(
        graft.graph.Covisit.jaccardEdges(covisitIncidence(s, dir), 17, 50), k = 8)
      .orderBy("node")

  /** X30: k-truss decomposition ([[graft.graph.Covisit.kTruss]]) over
    * the x22 co-visitation similarity graph — the edge-level density
    * signal x25's k-core can't give (a core can be a sparse
    * star-of-stars; a truss demands every edge triangle-reinforced).
    * k = 3: surviving edges sit in >= 1 triangle among survivors.
    * Iterative like x25 -> rows-only for the driver; VerifyExtras
    * recomputes the whole pipeline sequentially (regex incidence, set
    * Jaccard, textbook support peel) and requires exact equality.
    * Per round: degree-ordered triangle enumeration over the shrinking edge
    * set (hubs generate no wedges), a per-edge support count with map-side
    * partials and a left-semi filter, with a lineage cut per round. */
  val x30Ktruss: Q = (s, dir) =>
    graft.graph.Covisit.kTruss(
        graft.graph.Covisit.jaccardEdges(covisitIncidence(s, dir), 17, 50), k = 3)
      .orderBy("p1", "p2")

  /** X26: degree assortativity of the event graph (Newman 2002) — the
    * Pearson correlation of endpoint degrees over edges: negative
    * (disassortative) is the organic-web signature, a shift toward 0/+
    * flags farm-like wiring. Computed from INTEGER sufficient statistics
    * (n, Σx, Σy, Σxy, Σx², Σy² — exact 64-bit sums on both engines, the
    * a19 discipline) with ONE double expression at the end, so the
    * rounded coefficient is deterministic — no FP accumulation crosses
    * the hash. One edge-degree join + one total aggregate; the doubled
    * edge list makes the statistic symmetric by construction. */
  val x26Assortativity: Q = (s, dir) => {
    val e = eventsBipartiteEdges(tbl(s, dir, "events"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    e.join(deg.select(col("src"), col("d").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .select(col("n_edges"), col("sx"), col("sy"), col("sxy"), col("sxx"), col("syy"),
        // each variance term is an exact 64-bit integer; only their
        // PRODUCT would overflow, so the two cast to double first —
        // one deterministic FP multiply, same on both engines
        round((col("n_edges") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("n_edges") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("n_edges") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("assortativity_r"))
  }

  /** X24: TrustRank over the event graph
    * ([[graft.graph.PageRank.trustRankFixed]]) — personalized PageRank
    * with teleport restricted to the trusted users (the x19 seed rule:
    * user nodes divisible by 50, here intersected with the graph's node
    * set so every seed holds mass). Rank mass decays with link distance
    * from trust — the web-spam demotion signal. Integer-exact, scale
    * auto-sized on the SEED count; oracle is the unrolled 3-round CTE. */
  val x24TrustRank: Q = (s, dir) => {
    val edges = eventsBipartiteEdges(tbl(s, dir, "events"))
    val seeds = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .filter(col("node") < 1000000L && col("node") % 50 === 0)
    graft.graph.PageRank.trustRankFixed(edges, seeds, iters = 3)
      .select(col("node").as("node_id"),
        when(col("node") >= 1000000L, lit("page")).otherwise(lit("user")).as("node_type"),
        col("rank"))
      .orderBy("node_id")
  }

  /** Per-label embedding centroids via the native vec_sum
    * TypedImperativeAggregate ([[graft.functions.VecSum]]): ONE buffer row
    * per label with map-side partial merge — the posexplode alternative
    * shuffles dim x the row count. Output is the centroid audit view
    * (element sum + norm, rounded: cross-partition accumulation order
    * differs between engines in the last ulps). */
  val x06LabelCentroids: Q = (s, dir) =>
    embeddings(s, dir)
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        graft.functions.VectorAggregates.vecSum(col("embedding")).as("__sum"))
      .withColumn("centroid", transform(col("__sum"), x => x / col("n_vecs")))
      .select(col("label"), col("n_vecs"),
        round(aggregate(col("centroid"), lit(0.0), (a, v) => a + v), 6)
          .as("centroid_sum_r"),
        round(sqrt(aggregate(col("centroid"), lit(0.0), (a, v) => a + v * v)), 6)
          .as("centroid_norm_r"))
      .orderBy("label")

  /** JSON extraction over the events props column. Strict-integer parse:
    * string->long cast semantics differ between engines for non-integral
    * strings (Spark truncates/nulls, DuckDB rounds), so both sides gate on
    * an integer regex and null out everything else. */
  val x01JsonExtract: Q = (s, dir) =>
    tbl(s, dir, "events")
      .withColumn("__k", get_json_object(col("props"), "$.k"))
      .select(col("event_id"),
        when(col("__k").rlike("^-?[0-9]+$"), col("__k").cast("long")).as("k_val"))
      .filter(col("k_val") >= 90)
      .orderBy("event_id")

  /** ROLLUP grouping sets (the pc4/pc5/pc6 family is a manual rollup —
    * this is the engine-native form). Null group keys are coalesced to a
    * sentinel so cross-engine ordering is total. */
  val x02Rollup: Q = (s, dir) => {
    val o = tbl(s, dir, "orders")
    o.rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("sum_price_r"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("cnt"), col("sum_price_r"))
      .orderBy("status", "priority")
  }

  /** A10: per-group top-k via the native [[graft.functions.TopK]]
    * bounded-heap aggregate — k pairs of state per group with map-side
    * partials, where a07's window form sorts every group's full row set
    * in one task to keep 3. The oracle IS that window form: the heap must
    * reproduce it exactly (total order: price desc, orderkey asc). */
  val a10TopkAgg: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(graft.functions.VectorAggregates
        .topK(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")).as(Seq("rnk0", "t")))
      .select(col("o_orderpriority"), (col("rnk0") + 1).cast("long").as("rnk"),
        col("t.id").as("o_orderkey"), round(col("t.ord"), 2).as("price_r"))
      .orderBy("o_orderpriority", "rnk")

  /** CUBE grouping sets — all four (status, priority) marginals in one
    * pass (rollup's three plus the priority-only slice). Same sentinel
    * coalesce as x02 keeps cross-engine ordering total. */
  val x10Cube: Q = (s, dir) => {
    val o = tbl(s, dir, "orders")
    o.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("sum_price_r"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("cnt"), col("sum_price_r"))
      .orderBy("status", "priority")
  }

  /** X12: explicit GROUPING SETS — the per-dimension marginals WITHOUT the
    * cross cells or grand total (not expressible as rollup or cube): one
    * pass computes the by-status and by-priority slices. Same sentinel
    * coalesce as x02/x10 keeps cross-engine ordering total. */
  val x12GroupingSets: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("sum_price_r"))
      .select(coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("cnt"), col("sum_price_r"))
      .orderBy("status", "priority")

  /** A18: distribution analytics — percent_rank / cume_dist over each
    * status partition (where does an order sit in its cohort's price
    * distribution). One key shuffle + partition-local sort; the rank
    * denominators are exact counts, so values are rational and safe to
    * round at 6 dp. */
  val a18CumeDist: Q = (s, dir) => {
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
  val a17GlobalTopn: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)

  /** S11: line-delimited text sink + source — the rawest corpus format
    * (one doc per line). Explicit single-column text read, no schema
    * inference; the same aggregate contract as s06/s07 proves content
    * fidelity through the text boundary (synthetic docs contain no
    * newlines, the format's own precondition). */
  val s11TextRoundtrip: Q = (s, dir) => {
    val tmp = scratch("graft_txt")
    tbl(s, dir, "documents").select(col("text"))
      .write.mode("overwrite").text(tmp)
    s.read.text(tmp)
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("value"))).as("sum_chars"),
        countDistinct(md5(col("value"))).as("n_texts"))
  }

  /** A19: grouped linear regression — slope / intercept / R² of price vs
    * quantity per return flag in ONE pass of mergeable moment sketches
    * (same partial-aggregation story as a09's corr). Closed-form
    * analytics at any scale: no iteration, no solver, one shuffle of
    * 6 moments per group. Rounding sized to each statistic's
    * accumulation noise (slope/intercept ride ~1e10 sums). */
  val a19Regression: Q = (s, dir) =>
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope_r"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 3).as("icept_r"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2_r"))
      .orderBy("l_returnflag")

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
  val a20CmsHeavyHitters: Q = (s, dir) => {
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
  val a21BitmapDistinct: Q = (s, dir) =>
    tbl(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(graft.functions.VectorAggregates.bitmapDistinct(col("user_id"))
          .as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** A16: approximate percentiles — the KLL-sketch scale path for a06's
    * exact form (an exact percentile needs a full sort or all values in
    * one task per group; the sketch is bounded memory + mergeable
    * map-side partials at any row count). No DuckDB oracle (sketch
    * internals differ per engine) — VerifyExtras brackets each reported
    * quantile between the EXACT quantiles at q +/- rank-error. */
  val a16ApproxPercentiles: Q = (s, dir) =>
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)")
        .as("ap"))
      .select(col("l_returnflag"), col("ap")(0).as("p50"), col("ap")(1).as("p90"),
        col("ap")(2).as("p99"))
      .orderBy("l_returnflag")

  /** A9: second-moment statistics per group — corr / covariance / stddev
    * in one aggregation pass (map-side partials; Spark and DuckDB both
    * merge single-pass moment sketches). Rounding is per-column, sized to
    * each statistic's accumulation-noise magnitude: corr is dimensionless
    * (6 dp), covar rides ~5e10 intermediate sums (2 dp), price stddev ~3e4
    * (4 dp), quantity stddev ~14 (6 dp). */
  val a09CorrStats: Q = (s, dir) =>
    tbl(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_r"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("covar_pop_r"),
        round(stddev_samp(col("l_quantity")), 6).as("stddev_qty_r"),
        round(stddev_samp(col("l_extendedprice")), 4).as("stddev_price_r"))
      .orderBy("l_returnflag")

  /** Pivot (crosstab): order counts and revenue per priority, one column
    * group per status — Spark-native pivot with an explicit value list
    * (never an implicit distinct scan to discover columns at 100 TB). */
  val x07Pivot: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("sum_r"))
      .select(col("o_orderpriority"),
        coalesce(col("F_cnt"), lit(0L)).as("f_cnt"), col("F_sum_r").as("f_sum_r"),
        coalesce(col("O_cnt"), lit(0L)).as("o_cnt"), col("O_sum_r").as("o_sum_r"),
        coalesce(col("P_cnt"), lit(0L)).as("p_cnt"), col("P_sum_r").as("p_sum_r"))
      .orderBy("o_orderpriority")

  /** A13: fixed-width histogram — the one-pass distribution profile
    * (price buckets here; token-length buckets in a corpus audit). Bucket
    * id is a pure projection, so the whole histogram is one partial-
    * aggregated shuffle of bucket ids; both engines compute the same
    * double division before floor, so bucket edges are bit-identical. */
  val a13Histogram: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .withColumn("bucket", floor(col("o_totalprice") / 25000).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), round(avg(col("o_totalprice")), 2).as("avg_price_r"))
      .orderBy("bucket")

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
  val a26SessionFunnel: Q = (s, dir) => {
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
  val a27CohortRetention: Q = (s, dir) => {
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
  val a14Funnel: Q = (s, dir) => {
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
  val a15Mode: Q = (s, dir) =>
    tbl(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(min(struct((-col("cnt")).as("neg"), col("event_type").as("et"))).as("m"),
        sum(col("cnt")).as("n_events"))
      .select(col("user_id"), col("m.et").as("mode_type"),
        (-col("m.neg")).as("mode_cnt"), col("n_events"))
      .orderBy("user_id")

  /** S16: Write-Audit-Publish ([[graft.relational.Publish]]) — the
    * data-quality gate of table publication: per-language document stats
    * stage invisibly, audits run in one aggregation over the STAGED
    * files (written-data discipline, the s12 manifest rule), and only a
    * fully-green audit report swaps the version in by rename. The
    * returned frame reads the PUBLISHED path — so the oracle compare
    * certifies the whole stage/audit/publish round-trip preserved the
    * data exactly; ScaleOpsSpec covers the failing-audit path (dest
    * byte-identical, staging cleaned). */
  val s16Wap: Q = (s, dir) => {
    val dest = scratch("graft_wap") + "/lang_stats"
    val stats = tbl(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val report = graft.relational.Publish.writeAuditPublish(stats, dest, Seq(
      "nonempty" -> (count(lit(1)) > 0),
      "no_null_lang" -> (count(when(col("lang").isNull, 1)) === 0),
      "positive_counts" -> (count(when(col("n_docs") <= 0, 1)) === 0)))
    require(report.published, s"WAP audits failed: ${report.audits}")
    s.read.parquet(dest).orderBy("lang")
  }

  /** S17: incremental aggregate maintenance
    * ([[graft.relational.IncrementalAgg]]) — the always-fresh-dashboard
    * pattern: a stored per-type (count, sum) table folds the event log
    * in as three chronological deltas (thirds by event_id), each fold
    * reading back ONLY the touched hash slots and rewriting them via
    * dynamic overwrite. The returned frame reads the maintained table;
    * the oracle states the CONVERGED aggregate declaratively — so any
    * drift across the three folds (lost partial, double-applied slot,
    * key misrouted between slots) is a hash mismatch. Value folded in
    * cents so the sums compose as exact integers. */
  val s17IncrementalAgg: Q = (s, dir) => {
    val tmp = scratch("graft_ivm") + "/agg"
    val ev = tbl(s, dir, "events")
      .select(col("event_id"), col("event_type").as("key"),
        round(col("value") * 100, 0).cast("long").as("value"))
    graft.relational.IncrementalAgg.applyDelta(ev.filter(col("event_id") % 3 === 0), tmp)
    graft.relational.IncrementalAgg.applyDelta(ev.filter(col("event_id") % 3 === 1), tmp)
    graft.relational.IncrementalAgg.applyDelta(ev.filter(col("event_id") % 3 === 2), tmp)
    graft.relational.IncrementalAgg.read(s, tmp)
      .select(col("key"), col("cnt"), col("sum").as("sum_cents"))
      .orderBy("key")
  }

  /** S18: table statistics collection (the ANALYZE verb) — per-slice
    * min/max/rowcount/null-count metadata, the raw material of
    * cost-based planning and file skipping: a scan with a doc_id range
    * predicate prunes a slice exactly when its [min, max] envelope
    * misses, and join sizing needs row counts before the first byte is
    * read. One partial-aggregated pass per stats refresh; every
    * statistic an exact integer. (Engine-native `ANALYZE TABLE` fills
    * the catalog the same way — this is the queryable, versionable
    * form a lakehouse stores next to the data.) */
  val s18TableStats: Q = (s, dir) =>
    tbl(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"),
        sum(octet_length(col("text")).cast("long")).as("text_bytes"),
        count(when(col("text").isNull, 1)).as("null_texts"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")

  /** S19: versioned table + TIME TRAVEL
    * ([[graft.relational.Versioned]]) — the lakehouse snapshot
    * contract on plain parquet: version 1 (even doc_ids) commits, then
    * version 2 (all docs) commits over it, and the query reads the
    * PINNED v1 AFTER v2 landed plus the latest pointer — so the oracle
    * hash certifies that later writes never disturb a pinned snapshot
    * and that the pointer flip is atomic-read-consistent. Training
    * reproducibility is exactly this: the run pins the corpus version
    * it saw. */
  val s19TimeTravel: Q = (s, dir) => {
    val tmp = scratch("graft_tt") + "/t"
    val docs = tbl(s, dir, "documents")
    def langCounts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val v1 = graft.relational.Versioned.write(
      langCounts(docs.filter(col("doc_id") % 2 === 0)), tmp)
    graft.relational.Versioned.write(langCounts(docs), tmp)
    val pinned = graft.relational.Versioned.read(s, tmp, Some(v1))
      .withColumn("version", lit(1L))
    val latest = graft.relational.Versioned.read(s, tmp)
      .withColumn("version", lit(2L))
    pinned.unionByName(latest)
      .select(col("version"), col("lang"), col("n_docs"))
      .orderBy("version", "lang")
  }

  /** S22: change-data-feed read ([[graft.relational.Versioned.changes]])
    * — the Delta-CDF/Iceberg-changelog contract on the versioned layout:
    * v1 = per-lang counts over even docs sans 'fr', v2 = the full corpus
    * sans 'de', so the feed carries exactly one insert (fr), one delete
    * (de) and three updates (en/es/zh count changes) at every SF. The
    * oracle recomputes both versions straight from `documents` — which
    * also independently proves the versioned storage round-trips the
    * aggregates faithfully.
    * Two snapshot scans meet in ONE co-partitioned full-outer equi-join on
    * the key columns, and 16-byte payload fingerprints decide update vs
    * unchanged, so the payload crosses the exchange once. */
  val s22ChangeFeed: Q = (s, dir) => {
    val tmp = scratch("graft_cdf") + "/t"
    val docs = tbl(s, dir, "documents")
    def langCounts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    graft.relational.Versioned.write(
      langCounts(docs.filter(col("doc_id") % 2 === 0 && col("lang") =!= "fr")), tmp)
    graft.relational.Versioned.write(
      langCounts(docs.filter(col("lang") =!= "de")), tmp)
    graft.relational.Versioned.changes(s, tmp, 1L, 2L, Seq("lang"))
      .select(col("lang"), col("change_type"),
        coalesce(col("__pre.n_docs"), lit(-1L)).as("n_before"),
        coalesce(col("__post.n_docs"), lit(-1L)).as("n_after"))
      .orderBy("lang")
  }

  /** S23: CDC MERGE apply ([[graft.relational.Merge.applyChanges]]) —
    * the write-side twin of s22's change-feed READ: a Debezium-style
    * change batch (per-row `__op` upsert/delete) applied to the
    * versioned orders snapshot in ONE full-outer equi-join, committed
    * as the next version, and read back from the committed snapshot
    * (self-scan proof). The md5-bucket directives exercise every MERGE
    * branch at every SF: bucket 0 = matched delete, 1 = matched upsert
    * (update: status 'U', price + 1000.0 — one IEEE op, bit-identical
    * on both engines), 2 = unmatched upsert (insert under a shifted
    * key), 3 = unmatched delete (the redelivered-tombstone no-op — its
    * keys never exist, and the hash proves nothing leaked). Bad `__op`
    * values fail in-plan via raise_error, so a malformed batch can
    * never half-apply. At 100 TB the target side of the join reads
    * exchange-free from a key-bucketed layout ([[graft.relational
    * .Bucketing]]); the oracle mirrors the merge DECLARATIVELY
    * (kept/updated/inserted unions) so the engine's join-based apply is
    * checked against independently-stated semantics, not itself. */
  val s23MergeApply: Q = (s, dir) => {
    val tmp = scratch("graft_merge") + "/t"
    val orders = tbl(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    graft.relational.Versioned.write(orders, tmp)
    val base = orders.withColumn("__bkt", expr(
      "cast(conv(substring(md5(cast(o_orderkey as string)),1,8),16,10) as bigint) % 10"))
    val dels = base.filter(col("__bkt") === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit("delete").as("__op"))
    val upds = base.filter(col("__bkt") === 1)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + lit(1000.0)).as("o_totalprice"),
        lit("upsert").as("__op"))
    val ins = base.filter(col("__bkt") === 2)
      .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"),
        lit("upsert").as("__op"))
    val ghostDels = base.filter(col("__bkt") === 3)
      .select((col("o_orderkey") + lit(900000000L)).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"), lit("delete").as("__op"))
    val batch = dels.unionByName(upds).unionByName(ins).unionByName(ghostDels)
    val (_, merged) =
      graft.relational.Merge.applyChanges(s, tmp, batch, Seq("o_orderkey"))
    merged.orderBy("o_orderkey")
  }

  /** S24: merge-on-read positional deletes
    * ([[graft.relational.DeleteVectors]]) — the Iceberg/Delta
    * deletion-vector shape s23's MERGE rewrite avoids paying
    * per-delete: deleting from a 100 TB base must not rewrite the
    * base, so a delete writes only the POSITIONS (O(|deleted|) bytes,
    * parquet APPEND — concurrent delete writers never rewrite each
    * other) and the reader subtracts them with one anti-join at scan
    * time. Two delete batches land here (a lang purge, then a source
    * takedown) with DELIBERATE overlap — docs matching both are
    * deleted twice, and the DISTINCT position set makes the replay a
    * no-op (the st18 idempotence story for deletes). The readback is
    * the full surviving projection, so one wrongly-kept or
    * wrongly-dropped row fails the hash; the oracle is the plain
    * predicate filter the MoR pipeline must reproduce.
    * The read's anti-join strategy is left to AQE: broadcast for small delete
    * sets, shuffle for mass deletes, where a forced broadcast would run out
    * of memory exactly when deletes are largest. */
  val s24DeleteVectors: Q = (s, dir) => {
    // the base rewrite pays a global row_number sort — memoized per input
    // dir so repeated invocations in one run reuse the materialization
    // (appendDeletes would otherwise also re-append, doubling the DV —
    // harmless for DISTINCT semantics, but the memo makes it moot).
    val tmp = scratchFor("graft_dv", dir) { tmp =>
      val base = tbl(s, dir, "documents")
        .withColumn("_pos", row_number().over(
          Window.orderBy("doc_id")).cast("long"))
      base.write.mode("overwrite").parquet(s"$tmp/base")
      val b = s.read.parquet(s"$tmp/base")
      graft.relational.DeleteVectors.appendDeletes(
        b.filter(col("lang") === "zh").select("_pos"), s"$tmp/dv")
      graft.relational.DeleteVectors.appendDeletes(
        b.filter(col("source") === "src3").select("_pos"), s"$tmp/dv")
    }
    graft.relational.DeleteVectors.read(s, s"$tmp/base", s"$tmp/dv")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** S20: snapshot EXPIRY ([[graft.relational.Versioned.expire]]) — the
    * retention half s19 left as policy: three commits, then expire to
    * the newest two; the query ASSERTS in-plan that v1's directory is
    * physically gone and that the expiry reported exactly [1], then
    * reads the two survivors. A failed delete, an over-eager one, or a
    * moved pointer all either throw or hash-mismatch.
    * Pure filesystem-catalog work: a bounded listing and a recursive delete
    * per doomed version, with no data read and no job; the pointer target is
    * spared, so serving never breaks mid-expiry. */
  val s20SnapshotExpire: Q = (s, dir) => {
    val tmp = scratch("graft_exp") + "/t"
    val docs = tbl(s, dir, "documents")
    def langCounts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    graft.relational.Versioned.write(langCounts(docs.filter(col("doc_id") % 3 === 0)), tmp)
    val v2 = graft.relational.Versioned.write(
      langCounts(docs.filter(col("doc_id") % 2 === 0)), tmp)
    graft.relational.Versioned.write(langCounts(docs), tmp)
    val deleted = graft.relational.Versioned.expire(s, tmp, keep = 2)
    require(deleted == Seq(1L), s"expiry deleted $deleted, expected [1]")
    require(!new java.io.File(s"$tmp/v=1").exists(), "v=1 survived expiry")
    require(graft.relational.Versioned.versions(s, tmp) == Seq(2L, 3L),
      "retained set wrong")
    val pinned = graft.relational.Versioned.read(s, tmp, Some(v2))
      .withColumn("version", lit(2L))
    val latest = graft.relational.Versioned.read(s, tmp)
      .withColumn("version", lit(3L))
    pinned.unionByName(latest)
      .select(col("version"), col("lang"), col("n_docs"))
      .orderBy("version", "lang")
  }

  /** S21: table HISTORY ([[graft.relational.Versioned.versions]]) — the
    * DESCRIBE-HISTORY surface of the versioned table: one row per
    * retained snapshot with its audit stats (rowcount, distinct langs,
    * doc total), read from the snapshots themselves so the listing can
    * never drift from the data. Snapshot count is bounded by retention
    * ([[graft.relational.Versioned.expire]]), so the per-version loop
    * is catalog-sized, not data-sized. */
  val s21TableHistory: Q = (s, dir) => {
    val tmp = scratch("graft_hist") + "/t"
    val docs = tbl(s, dir, "documents")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "lang")
    graft.relational.Versioned.write(snap(docs.filter(col("doc_id") % 3 === 0)), tmp)
    graft.relational.Versioned.write(snap(docs.filter(col("doc_id") % 2 === 0)), tmp)
    graft.relational.Versioned.write(snap(docs), tmp)
    val latest = graft.relational.Versioned.latestVersion(s, tmp).getOrElse(-1L)
    graft.relational.Versioned.versions(s, tmp).map { v =>
      graft.relational.Versioned.read(s, tmp, Some(v))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("lang")).as("n_langs"),
          sum(col("doc_id")).as("sum_ids"))
        .select(lit(v).as("version"), col("n_rows"), col("n_langs"),
          col("sum_ids"), lit(v == latest).as("is_latest"))
    }.reduce(_.unionByName(_))
      .orderBy("version")
  }

  /** T33: deterministic word-dropout augmentation — the training-data
    * augmentation family (word dropout / random deletion a la Wei & Zou
    * 2019 EDA), made REPRODUCIBLE the way a 100 TB pipeline needs it:
    * the "randomness" is a pure function of (doc_id, position) — drop
    * word i iff md5(doc_id:i) starts with '0' (rate 1/16) — so reruns,
    * retries, and engines produce the identical augmented corpus (no
    * RNG state, no seed plumbing, the t06 hash-sampling discipline
    * applied within the row). MAP-ONLY: index filter + element gather +
    * rebuild are in-row HOFs, the augmenter runs at scan speed. */
  val t33WordDropout: Q = (s, dir) => {
    val ws = split(col("text"), " ")
    val keptIdx = filter(sequence(lit(1), size(ws)),
      i => substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        i.cast("string"))), 1, 1) =!= "0")
    val kept = transform(keptIdx, i => element_at(ws, i))
    tblPar(s, dir, "documents")
      .select(col("doc_id"), size(ws).cast("long").as("n_words"),
        (size(ws) - size(kept)).cast("long").as("n_dropped"),
        concat_ws(" ", kept).as("aug_text"))
      .orderBy("doc_id")
  }

  /** X33: join-fanout profile — ANALYZE for JOINS (the planning number
    * s18's per-table stats can't give): the EXACT output cardinality of
    * the lineitem⋈orders key join forecast WITHOUT executing it —
    * sum(na*nb) over the two per-key count histograms — plus the skew
    * diagnostics that pick the physical strategy: distinct keys per
    * side and matched, per-side row totals, max per-key fanout and the
    * (deterministic, min-id tie-broken) hottest key, and amplification
    * in ppm of the input rows. Shuffle = DISTINCT KEYS (two map-side
    * partial-aggregated histograms joined key-on-key), never data rows
    * — profiling a 100 TB join costs a key census, not the join. */
  val x33JoinProfile: Q = (s, dir) => {
    import graft.functions.VectorAggregates.argMax
    val a = tbl(s, dir, "lineitem")
      .groupBy(col("l_orderkey").as("key")).agg(count(lit(1)).as("na"))
    val b = tbl(s, dir, "orders")
      .groupBy(col("o_orderkey").as("key")).agg(count(lit(1)).as("nb"))
    a.join(b, Seq("key"), "full")
      .select(col("key"),
        coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
      .withColumn("prod", col("na") * col("nb"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("na") > 0 && col("nb") > 0, 1L).otherwise(0L)).as("n_keys_matched"),
        sum("na").as("rows_a"), sum("nb").as("rows_b"),
        sum("prod").as("join_rows"), max("prod").as("max_fanout"),
        argMax(struct(col("prod"), -col("key")), col("key")).as("hot_key"))
      .select(col("n_keys"), col("n_keys_matched"), col("rows_a"),
        col("rows_b"), col("join_rows"), col("max_fanout"), col("hot_key"),
        expr("1000000 * join_rows div (rows_a + rows_b)").as("amp_ppm"))
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
  val a30Kanonymity: Q = (s, dir) => {
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
  val a32ZipfFit: Q = (s, dir) =>
    TextOps.zipfFit(tbl(s, dir, "documents")).orderBy("rank")

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
  val a33HourChi2: Q = (s, dir) => {
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
  val a34AcfHourly: Q = (s, dir) => {
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
  val a35LDiversity: Q = (s, dir) => {
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
  val a36Benford: Q = (s, dir) => {
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
  val a37Cusum: Q = (s, dir) => {
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
  val a38GiniSources: Q = (s, dir) => {
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
  val a39Spearman: Q = (s, dir) => {
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
  val a31KsDrift: Q = (s, dir) => {
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
  val a40TheilSen: Q = (s, dir) => {
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
  val a43GainsTable: Q = (s, dir) => {
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
  val a45SeasonalBacktest: Q = (s, dir) => {
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
  val a44CalibrationCensus: Q = (s, dir) => {
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
  val a46CohensKappa: Q = (s, dir) => {
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
  val a48Krippendorff: Q = (s, dir) => {
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
  val a47Bcubed: Q = (s, dir) => {
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
  val a42MarkovTransitions: Q = (s, dir) => {
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
  val a41MannWhitney: Q = (s, dir) => {
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

  /** X35: functional-dependency profile (Metanome-style data
    * profiling — the schema-inference signal that decides key choice,
    * normalization, and CDC merge keys): for each candidate LHS -> RHS
    * pair, the distinct-LHS count, how many LHS values witness MORE
    * than one RHS (violations), and whether the FD holds exactly. One
    * partial-aggregated (lhs, rhs) dedup + per-lhs count per
    * candidate; candidates include a true key FD so both outcomes are
    * exercised. */
  val x35FdProfile: Q = (s, dir) => {
    val o = tbl(s, dir, "orders")
    def fd(name: String, lhs: String, rhs: String) =
      o.select(col(lhs).as("l"), col(rhs).as("r")).distinct()
        .groupBy("l").agg(count(lit(1)).as("nr"))
        .agg(count(lit(1)).as("n_lhs"),
          sum(when(col("nr") > 1, 1L).otherwise(0L)).as("n_violating"))
        .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
          (col("n_violating") === 0).as("holds"))
    fd("o_orderkey->o_custkey", "o_orderkey", "o_custkey")
      .unionByName(fd("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"))
      .unionByName(fd("o_custkey->o_orderstatus", "o_custkey", "o_orderstatus"))
      .orderBy("fd")
  }

  /** T34: length-bucketed batching economics — m07's discipline on the
    * sequence axis (dynamic batching for seq2seq/packing planners):
    * docs bucket by word count into power-of-two capacity tiers
    * (pad-to-bucket), and the census prices each tier: doc count,
    * token mass, and PAD WASTE in exact integer tokens + ppm — the
    * number that says whether naive pad-to-max is burning compute vs
    * t08's packing. Bucket id = ceil(log2(n)) via bit_length of (n-1)
    * — pure integer, no log FP; map-only scan then a tiny per-bucket
    * fold. */
  val t34LengthBuckets: Q = (s, dir) => {
    val n = size(split(col("text"), " ")).cast("long")
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        greatest(n, lit(1L)).as("n_words"))
      // capacity = next power of two >= n_words (min tier 16):
      // length(bin(x - 1)) is ceil(log2(x)) for x >= 2 — integer exact,
      // no log() FP near tier boundaries
      .withColumn("cap", greatest(
        expr("CAST(shiftleft(CAST(1 AS BIGINT), length(bin(n_words - 1))) AS BIGINT)"),
        lit(16L)))
      .groupBy("cap")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("sum_words"),
        (sum(col("cap") - col("n_words"))).as("pad_tokens"))
      .select(col("cap"), col("n_docs"), col("sum_words"), col("pad_tokens"),
        expr("1000000 * pad_tokens div (cap * n_docs)").as("waste_ppm"))
      .orderBy("cap")
  }

  /** M8: per-video frame-coherence census ([[Multimodal.frameCoherence]])
    * — consecutive-frame perceptual-hash Hamming stats: the static-
    * scene/slideshow detector (min-ham ~ 0) and hard-cut locator
    * (max-ham) of video curation, m05's within-video complement. Same
    * ASCII fixture contract as m04/m05 — the oracle recomputes the
    * identical average-hash from the text bytes.
    * The lag window's partitions hold at most 8 frames by construction,
    * followed by one hash aggregate, so the per-video cost is constant. */
  val m08FrameCoherence: Q = (s, dir) =>
    Multimodal.frameCoherence(
        Multimodal.fromDocuments(tbl(s, dir, "documents")))
      .orderBy("doc_id")

  /** m09/m12 shared plant: the doc text as a synthetic waveform with an
    * md5-planted silence gap (length and position doc-deterministic), so
    * every VAD branch is live at every SF. */
  private def m09Planted(docs: DataFrame): DataFrame =
    docs
      .withColumn("__t", coalesce(col("text"), lit("")))
      .withColumn("__h", expr(
        "cast(conv(substring(md5(concat('sil:', cast(doc_id as string))),1,8),16,10) as bigint)"))
      .withColumn("__nw", expr("length(__t) div 16"))
      .filter(col("__nw") >= 6)
      .withColumn("__lw", expr("1 + (__h div 8) % 3"))
      .withColumn("__sw", expr("__h % (__nw - __lw + 1)"))
      .withColumn("__wave", expr(
        "concat(substring(__t, 1, cast(__sw * 16 as int)), " +
          "repeat(' ', cast(__lw * 16 as int)), " +
          "substring(__t, cast((__sw + __lw) * 16 + 1 as int), " +
          "cast((__nw - __sw - __lw) * 16 as int)))"))
      .drop("__nw")

  /** M9: VAD-style energy segmentation census ([[Multimodal
    * .vadCensus]]) — the silence-trim pass before ASR / audio-token
    * packing: per clip, how many windows carry signal, how many speech
    * RUNS there are, and the trimmable leading/trailing silence. A
    * deterministic silence gap (1-3 windows of spaces at an md5-chosen
    * window-aligned offset, overwriting the payload so length is
    * preserved) is planted per document; the offset range includes
    * both edges, so split clips (2+ segments), leading-silence and
    * trailing-silence trims are all live at every SF. Energy is
    * codepoint-based (the m-family's documented codec stand-in),
    * windows of 16 chars, threshold 400 — natural text scores ~900,
    * spaces 0. Map-only in-row operator, docs under 6 windows dropped
    * (no room for the plant). */
  val m09AudioSegments: Q = (s, dir) =>
    Multimodal.vadCensus(m09Planted(tblPar(s, dir, "documents")),
      "__wave", "doc_id").orderBy("doc_id")

  /** M12: audio-to-shot alignment — the subtitle/ASR-to-scene primitive
    * every audiovisual training pipeline needs between its per-modality
    * segmenters and its caption packer: m09's speech segments (VAD runs
    * over the planted waveform) land on m10's shots (hash-jump cuts),
    * each segment electing its DOMINANT shot by overlap (max overlap,
    * lowest shot id ties) so a speech span becomes a training pair with
    * ONE visual context. The two timelines have different clocks
    * (windows vs frames); overlap is computed in 1/(nw*F) duration
    * units — integer cross-multiplication, NO float time math (the
    * m07 aspect-bucket discipline). Segment extraction is in-row list
    * algebra over the VAD flags (run starts/ends zipped); the join is
    * doc-local (<= nw segments x <= 8 shots per doc — bounded, never
    * corpus x corpus), one shuffle on doc_id. */
  val m12AvAlign: Q = (s, dir) => {
    val docs = tblPar(s, dir, "documents")
    val segs = Multimodal.vadFlags(m09Planted(docs), "__wave")
      .withColumn("__starts", expr(
        "filter(sequence(0, cast(__nw - 1 as int)), " +
          "i -> __flags[i] and (i = 0 or not __flags[i - 1]))"))
      .withColumn("__ends", expr(
        "filter(sequence(0, cast(__nw - 1 as int)), " +
          "i -> __flags[i] and (i = cast(__nw - 1 as int) or not __flags[i + 1]))"))
      .select(col("doc_id"), col("__nw").as("nw"),
        posexplode(arrays_zip(col("__starts"), col("__ends")))
          .as(Seq("seg_idx", "se")))
      .select(col("doc_id"), col("nw"),
        col("seg_idx").cast("long").as("seg_idx"),
        col("se.__starts").cast("long").as("sw"),
        col("se.__ends").cast("long").as("ew"))
    val shots = Multimodal.cutFrames(Multimodal.fromDocuments(docs))
      .groupBy("doc_id", "shot").agg(min("fi").as("sf"), max("fi").as("ef"))
    val fcount = shots.groupBy("doc_id")
      .agg(sum(col("ef") - col("sf") + 1).as("F"))
    segs.join(shots, Seq("doc_id")).join(fcount, Seq("doc_id"))
      .withColumn("ov",
        least((col("ew") + 1) * col("F"), (col("ef") + 1) * col("nw")) -
          greatest(col("sw") * col("F"), col("sf") * col("nw")))
      .filter(col("ov") > 0)
      .groupBy("doc_id", "seg_idx")
      .agg(first("sw").as("sw"), first("ew").as("ew"),
        count(lit(1)).as("n_shots_hit"),
        min(struct((-col("ov")).as("no"), col("shot").as("sh"))).as("b"))
      .select(col("doc_id"), col("seg_idx"), col("sw"), col("ew"),
        col("b.sh").as("best_shot"), (-col("b.no")).as("ov_units"),
        col("n_shots_hit"))
      .orderBy("doc_id", "seg_idx")
  }

  /** M10: shot-boundary segmentation ([[Multimodal.shotSegments]]) —
    * the cut detector downstream of m08's coherence statistics: a hard
    * cut is a consecutive-frame perceptual-hash Hamming jump > 21
    * (chosen inside the corpus's observed 2..40 pair-ham range so both
    * single-shot and multi-shot classes are live at every SF), a shot
    * is the run between cuts, and the census (n_shots, longest shot,
    * first cut) is what video curation batches on. One window sort per
    * video serves the lag pair AND the running shot counter;
    * single-frame videos are one shot. Same ASCII oracle-parity guard
    * story as m04/m05/m08 via the shared frame/hash derivation. */
  val m10ShotSegments: Q = (s, dir) =>
    Multimodal.shotSegments(
        Multimodal.fromDocuments(tbl(s, dir, "documents")))
      .orderBy("doc_id")

  /** M11: constellation fingerprint matching
    * ([[Multimodal.constellationMatches]]) — audio IDENTIFICATION:
    * does track B contain a clip of track A, and at what offset (the
    * catalog-match / re-upload-detection primitive m04/m05's whole-file
    * near-dup cannot answer). Fixture: every eligible doc is a master
    * track (id*2); docs with doc_id % 5 == 0 additionally publish a
    * CLIP track (id*2+1) = the master wave minus its first 3 frames —
    * the re-upload-with-a-trimmed-intro case — so every planted pair
    * must surface with best_offset exactly 3 and one offset class;
    * sf0.1's planted exact-dup texts add the offset-0 "same recording
    * twice" class. Peaks -> constellation keys -> capped-postings
    * equi-join -> per-pair offset vote; min-match floor suppresses
    * coincidence.
    * One window sort per track serves both the peak test and the
    * constellation leads, and the offset vote is hash folds plus a struct
    * arg_max, never a window over the pair space. */
  val m11Constellation: Q = (s, dir) => {
    val base = tblPar(s, dir, "documents")
      .withColumn("__w", coalesce(col("text"), lit("")))
      .filter(expr("length(__w) div 16 >= 12"))
    val masters = base.select((col("doc_id") * 2).as("track_id"),
      col("__w").as("wave"))
    val clips = base.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") * 2 + 1).as("track_id"),
        expr("substring(__w, 49)").as("wave"))
    Multimodal.constellationMatches(masters.union(clips),
        "track_id", "wave")
      .orderBy("track_a", "track_b")
  }

  /** X13: snapshot diff (CDC) — classify rows across two dump generations
    * as added / removed / changed by a FULL OUTER join on the key with
    * content-hash comparison. The 100 TB shape of "what changed since last
    * month's dump": one co-partitioned shuffle on the key, hashes compared
    * in place, unchanged rows (the overwhelming majority) dropped before
    * anything else moves. Old = docs outside mod-7; new = all docs minus
    * mod-11, with mod-5 texts rewritten — every branch non-vacuous. */
  val x13SnapshotDiff: Q = (s, dir) => {
    val docs = tbl(s, dir, "documents")
    val old = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id").as("o_id"), md5(col("text")).as("o_hash"))
    val neu = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id").as("n_id"),
        md5(when(col("doc_id") % 5 === 0, upper(col("text")))
          .otherwise(col("text"))).as("n_hash"))
    old.join(neu, col("o_id") === col("n_id"), "full_outer")
      .withColumn("status",
        when(col("o_id").isNull, "added")
          .when(col("n_id").isNull, "removed")
          .when(col("o_hash") =!= col("n_hash"), "changed"))
      .filter(col("status").isNotNull)
      .select(coalesce(col("o_id"), col("n_id")).as("doc_id"), col("status"))
      .orderBy("doc_id")
  }

  /** A12: per-group arg-max as ONE hash aggregation with map-side partials
    * — `max` over a (value, tie-break key) struct picks a deterministic
    * winner lexicographically, where the window form (a07's shape) shuffles
    * and fully sorts every group to keep one row. State is one struct per
    * group regardless of row count; at 100 TB that is the difference
    * between a table-wide merge-sort and a broadcastable result. */
  val a12Argmax: Q = (s, dir) =>
    tbl(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"),
        count(lit(1)).as("cnt"))
      .select(col("o_orderpriority"), col("m.o_orderkey").as("best_orderkey"),
        col("m.o_totalprice").as("best_price"), col("cnt"))
      .orderBy("o_orderpriority")

  /** X11: time-RANGE rolling aggregate — trailing 7-day order count and
    * spend per customer. The RANGE frame resolves with ONE key shuffle and
    * a partition-local sort per customer; the naive form is an interval
    * self-join that goes quadratic on active keys. Frame arithmetic runs on
    * BIGINT epoch seconds so both engines bound the window identically;
    * ties share a frame (RANGE peers), so no ordering nondeterminism; the
    * trailing FP sum is rounded per the determinism rules. */
  val x11RollingWindow: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("__es"))
      .rangeBetween(-7L * 86400, 0L)
    tbl(s, dir, "orders")
      .filter(col("o_custkey") < 150)
      .withColumn("__es", unix_timestamp(col("o_orderdate")))
      .select(col("o_orderkey"), col("o_custkey"),
        count(lit(1)).over(w).as("n_7d"),
        round(sum(col("o_totalprice")).over(w), 2).as("spend_7d_r"))
      .orderBy("o_orderkey")
  }

  /** Set operation: EXCEPT (customers in a segment minus those with open
    * orders) — absent from the reference (§2.10), native here. */
  val x03SetOps: Q = (s, dir) => {
    val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = tbl(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("c_custkey"))
    c.except(o).orderBy("c_custkey")
  }

  /** X14: INTERSECT — the other set-operation face (x03 is EXCEPT): both
    * compile to a distinct-aggregated semi-join shape, one hash shuffle
    * per side on the key. */
  val x14Intersect: Q = (s, dir) => {
    val c = tbl(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = tbl(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("c_custkey"))
    c.intersect(o).orderBy("c_custkey")
  }

  /** X15: SCD-2 dimension build from a change log — the warehouse op that
    * turns an event stream into slowly-changing-dimension rows: per user,
    * consecutive same-state events are compressed away (true SCD-2 emits
    * only on CHANGE), then each surviving change opens a validity interval
    * [valid_from, next change's ts), the last being current (NULL
    * valid_to). Two window passes over the SAME (user_id; ts, event_id)
    * ordering, so Catalyst reuses one hash-partition exchange; the sort is
    * user-bounded, never global. Timestamps ride as epoch micros (the
    * cross-engine-stable representation, as in a11). */
  val x15Scd2: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("__tsu"), col("event_id"))
    val changes = events(s, dir)
      .filter(col("user_id") < 50)
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNull || col("event_type") =!= col("prev_type"))
    changes
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_us", lead(col("__tsu"), 1).over(w))
      .select(col("event_id"), col("user_id"), col("event_type").as("state"),
        col("__tsu").as("valid_from_us"), col("valid_to_us"), col("version"),
        when(col("valid_to_us").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("event_id")
  }

  /** Bipartite user <-> page edge list from the event log (page = the
    * JSON `k` prop offset into its own id range), doubled into both
    * directions so no node dangles. Shared by the graph queries that
    * run over the event log. */
  def eventsBipartiteEdges(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val e0 = events
      .select(col("user_id").as("src"),
        // r13: codegen JSON kernel, == get_json_object+cast (spec-exact)
        (graft.functions.JsonExpressions.jsonKeyLong(col("props"), "k")
          + 1000000L).as("dst"))
      .filter(col("dst").isNotNull)
      .distinct()
    e0.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** X40: double-sweep diameter estimate (the Magnien/Latapy/Habib
    * lower-bound: BFS from any node, then BFS from the FARTHEST node
    * found — the second eccentricity is a diameter lower bound, exact
    * on trees and empirically tight on real graphs; x27 prices how
    * CLOSE nodes are, this prices how FAR the graph stretches — the
    * hop-budget number for frontier scheduling and gossip rounds).
    * Two [[graft.graph.Bfs.bfsDistances]] runs (shrinking-frontier
    * early exit, localCheckpoint lineage cuts); the farthest-node
    * election is a 1-row limit over (dist DESC, node ASC) — no driver
    * collect anywhere, the 1-row frames chain through broadcast
    * nested-loop assembly (the x31 one-row-profile discipline).
    * n_reached doubles as the seed-component size census.
    * The loop-invariant edge frame materializes once for both sweeps instead
    * of being re-derived per frontier join (2.3x). */
  val x40DiameterSweep: Q = (s, dir) => {
    // the edge frame is loop-invariant across ~10 frontier joins (two
    // sweeps x rounds) — materialize it ONCE instead of re-running the
    // scan+explode+distinct every round (the x19 loop-invariant lesson;
    // at corpus scale this is the bfsIndexed bucketed layout)
    val edges = eventsBipartiteEdges(tbl(s, dir, "events"))
      .localCheckpoint(true)
    val edgeRows = edges.count()
    val seed0 = edges.agg(min("src").as("node"))
    val d1 = graft.graph.Bfs.bfsDistances(edges, seed0, maxHops = 12,
      edgeRowsHint = edgeRows)
    val u = d1.orderBy(col("dist").desc, col("node")).limit(1)
    val d2 = graft.graph.Bfs.bfsDistances(edges, u.select("node"), maxHops = 12,
      edgeRowsHint = edgeRows)
    val v = d2.orderBy(col("dist").desc, col("node")).limit(1)
    seed0.select(col("node").as("seed"))
      .crossJoin(u.select(col("node").as("far_a"), col("dist").as("ecc_seed")))
      .crossJoin(v.select(col("node").as("far_b"), col("dist").as("diam_lb")))
      .crossJoin(d2.agg(count(lit(1)).as("n_reached")))
      .select(col("seed"), col("ecc_seed"), col("far_a"), col("diam_lb"),
        col("far_b"), col("n_reached"))
  }

  /** X32: TEMPORAL reachability over the event contact graph
    * ([[graft.graph.Bfs.temporalArrivals]]) — earliest-arrival spread
    * from the x19 seed users where an edge propagates only FORWARD in
    * event time (ts >= arrival of its source): the contact-tracing /
    * cascade semantics plain BFS is blind to — a topological path whose
    * edges happened in the wrong order carries nothing. Contacts are
    * the x16 bipartite (user, page) touches WITH their event
    * timestamps, both directions; arrivals are exact integer micros.
    * Per round: delta-frontier equi-join + partial-agg min + min-merge
    * (the relaxation-safe BFS round shape). */
  val x32TemporalReach: Q = (s, dir) => {
    val ev = events(s, dir)
    val touches = ev.select(col("user_id").as("u"),
        // r13: codegen JSON kernel, == get_json_object+cast (spec-exact)
        (graft.functions.JsonExpressions.jsonKeyLong(col("props"), "k")
          + 1000000L).as("p"),
        col("__tsu").as("ts"))
      .filter(col("p").isNotNull)
    val contacts = touches.select(explode(array(
        struct(col("u").as("src"), col("p").as("dst"), col("ts")),
        struct(col("p").as("src"), col("u").as("dst"), col("ts")))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.ts"))
    val seeds = ev.filter(col("user_id") % 50 === 0)
      .select(col("user_id").as("node")).distinct()
    val c = contacts.localCheckpoint(true)
    graft.graph.Bfs.temporalArrivals(c, seeds, maxHops = 4,
        edgeRowsHint = c.count())
      .select(col("node").as("node_id"),
        when(col("node") >= 1000000L, lit("page")).otherwise(lit("user"))
          .as("node_type"),
        col("arr").as("arrival_us"))
      .orderBy("node_id")
  }

  /** X34: deterministic random-walk corpus ([[x32TemporalReach]]'s
    * sibling on the SAMPLING side — DeepWalk/node2vec's data-generation
    * step, whose walk sequences are the training corpus for graph
    * embeddings): one 3-step walk per seed over the bipartite event
    * graph, where step k's choice from cur's SORTED adjacency is index
    * md5(seed:k:cur) mod degree — the t33 discipline on graphs:
    * "randomness" as a pure function of (walk, step, node), so reruns,
    * task retries, and engines emit the identical corpus with no RNG
    * state. Per step one equi-join on the current node against the
    * ranked adjacency (rank + degree from one window pass over src
    * partitions); the walk frontier is seeds-sized, never graph-sized. */
  val x34RandomWalks: Q = (s, dir) => {
    val edges = eventsBipartiteEdges(tbl(s, dir, "events")).distinct()
    val bySrc = Window.partitionBy("src").orderBy("dst")
    val adj = edges
      .withColumn("rnk", row_number().over(bySrc).cast("long") - 1L)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
    val seeds = edges.select(col("src")).distinct()
      .filter(col("src") < 1000000L && col("src") % 100 === 0)
      .select(col("src").as("seed"))
    var walk = seeds.select(col("seed"), lit(0L).as("step"),
      col("seed").as("node"))
    var out = walk
    for (k <- 1 to 3) {
      val pick = conv(substring(md5(concat(
        col("seed").cast("string"), lit(":"), lit(k.toLong).cast("string"),
        lit(":"), col("node").cast("string"))), 1, 8), 16, 10)
        .cast("long") % col("deg")
      walk = walk.join(adj, walk("node") === adj("src"))
        .filter(col("rnk") === pick)
        .select(col("seed"), lit(k.toLong).as("step"), col("dst").as("node"))
      out = out.unionByName(walk)
    }
    out.orderBy("seed", "step")
  }

  /** X19: multi-source BFS hop distance over the event graph
    * ([[graft.graph.Bfs.bfsDistances]]) — link distance from a trusted
    * seed set, the classic graph-proximity quality prior. Seeds are the
    * users with user_id % 50 == 0 (seeded at dist 0 whether or not they
    * have edges); the horizon is 4 hops over the same undirected
    * bipartite user-page graph as x16. Exact integer hop counts; the
    * oracle is a DuckDB recursive CTE over the same edge derivation,
    * min(dist) per node.
    * Round h equi-joins only the previous frontier against the loop-invariant
    * edge list and anti-joins the known set; the loop exits early when the
    * frontier empties. */
  val x19BfsDist: Q = (s, dir) => {
    val ev = tbl(s, dir, "events")
    val seeds = ev.filter(col("user_id") % 50 === 0)
      .select(col("user_id").as("node")).distinct()
    // loop-invariant edges: materialize once (the x40 lesson) instead of
    // re-deriving JSON-extract + explode + distinct every hop; the count
    // sizes the loop shuffles (LoopConf)
    val edges = eventsBipartiteEdges(ev).localCheckpoint(true)
    graft.graph.Bfs.bfsDistances(edges, seeds, maxHops = 4,
        edgeRowsHint = edges.count())
      .select(col("node").as("node_id"),
        when(col("node") >= 1000000L, lit("page")).otherwise(lit("user")).as("node_type"),
        col("dist"))
      .orderBy("node_id")
  }

  /** X20: x19 through the PERSISTED edge layout ([[graft.graph.Bfs.bfsIndexed]])
    * — the x16/x18 index-split precedent applied to BFS: the loop-invariant
    * edge list is written once, bucketed on src, and every round's frontier
    * join reads it exchange-free (only the shrinking frontier shuffles).
    * The oracle is x19's VERBATIM: the storage split must be invisible. */
  val x20BfsIndexed: Q = (s, dir) => {
    val ev = tbl(s, dir, "events")
    val edgeRows = graft.graph.PageRank.buildEdgeLayout(
      eventsBipartiteEdges(ev), "graft_x20_bfs",
      basePath = Some(scratch("graft_x20_bfs")))
    val seeds = ev.filter(col("user_id") % 50 === 0)
      .select(col("user_id").as("node")).distinct()
    graft.graph.Bfs.bfsIndexed(s, "graft_x20_bfs", seeds, maxHops = 4,
      edgeRowsHint = edgeRows)
      .select(col("node").as("node_id"),
        when(col("node") >= 1000000L, lit("page")).otherwise(lit("user")).as("node_type"),
        col("dist"))
      .orderBy("node_id")
  }

  /** X27: pivot-estimated harmonic centrality
    * ([[graft.graph.Bfs.landmarkDistances]]) — the Eppstein–Wang
    * landmark scheme: exact all-pairs closeness is O(V·E), so score each
    * node by its exact hop distances to a BOUNDED landmark sample
    * (users with id % 100 == 0), fused into one multi-frontier BFS loop.
    * Harmonic form (sum of 1/d) so disconnected pairs contribute 0
    * instead of poisoning the mean. INTEGER-EXACT: the horizon is 4, so
    * 1/d scales by lcm(1..4) = 12 — contributions 12, 6, 4, 3 — and
    * `12 div dist` sums as 64-bit integers; no FP crosses the hash.
    * Self-distances (d = 0) are excluded by definition.
    * Each round is one src equi-join against the loop-invariant edge side
    * plus one anti-join against the known set, and the 12/d fold is a
    * partial-aggregated sum. */
  val x27Harmonic: Q = (s, dir) => {
    val ev = tbl(s, dir, "events")
    val lms = ev.filter(col("user_id") % 100 === 0)
      .select(col("user_id").as("node")).distinct()
    val edges = eventsBipartiteEdges(ev).localCheckpoint(true)
    graft.graph.Bfs.landmarkDistances(edges, lms, maxHops = 4,
        edgeRowsHint = edges.count())
      .filter(col("dist") >= 1)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_lm"), sum(expr("12 div dist")).as("harm12"))
      .select(col("node").as("node_id"),
        when(col("node") >= 1000000L, lit("page")).otherwise(lit("user")).as("node_type"),
        col("n_lm"), col("harm12"))
      .orderBy("node_id")
  }

  /** X28: label-propagation communities
    * ([[graft.graph.LabelProp.labelPropagation]]) — deterministic
    * synchronous LPA, 3 rounds over the x16 event graph: majority-vote
    * relabeling carves densely intra-linked communities INSIDE connected
    * components (the spam-farm / mirror-network structure a components
    * closure can't see). Integer labels end to end; vote winners through
    * the native arg_max on the (cnt, -label) composite — one row per
    * node crosses the shuffle, no per-node sort. The oracle unrolls the
    * same 3 synchronous rounds as chained CTEs. */
  val x28LabelProp: Q = (s, dir) => {
    graft.graph.LabelProp.labelPropagation(
        eventsBipartiteEdges(tbl(s, dir, "events")), iters = 3)
      .select(col("node").as("node_id"),
        when(col("node") >= 1000000L, lit("page")).otherwise(lit("user")).as("node_type"),
        col("label"))
      .orderBy("node_id")
  }

  /** X29: hybrid retrieval via Reciprocal-Rank Fusion (Cormack et al.
    * 2009, k=60) — THE production retrieval stack: a sparse BM25
    * ranking (t18's operator, 3-term query) and a dense cosine ranking
    * (v01's operator, query vector 0) fuse by summing 10^9 div (60+r)
    * per list — rank-based, so the two incomparable score scales never
    * meet, and integer division keeps the fused key exact. Each leg is
    * its own bounded top-20 (TakeOrderedAndProject / the kNN heap —
    * corpus never globally sorts); the fusion join and final ranking
    * run on <= 40 rows. Docs and vectors share the id domain, which is
    * exactly the deployment contract (one corpus, two indexes). */
  val x29HybridRrf: Q = (s, dir) => {
    val sess = s
    import sess.implicits._
    val qterms = Seq("stream", "data", "query").toDF("term")
    val sparse = TextOps.bm25(tbl(s, dir, "documents"), qterms)
      .select(col("doc_id"), round(col("bm25_r") * 1000000).cast("long").as("s6"))
      .orderBy(col("s6").desc, col("doc_id")).limit(20)
      .withColumn("r_sparse",
        row_number().over(Window.orderBy(col("s6").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "r_sparse")
    val emb = embeddings(s, dir)
    val dense = Similarity.knnBrute(emb, emb.filter(col("vec_id") === 0), k = 20)
      .select(col("neighbor_id").as("doc_id"), col("rnk").as("r_dense"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r_sparse"), lit(0L)).as("r_sparse"),
        coalesce(col("r_dense"), lit(0L)).as("r_dense"))
      .withColumn("rrf",
        when(col("r_sparse") > 0, expr("1000000000 div (60 + r_sparse)")).otherwise(lit(0L)) +
        when(col("r_dense") > 0, expr("1000000000 div (60 + r_dense)")).otherwise(lit(0L)))
      .orderBy(col("rrf").desc, col("doc_id")).limit(10)
      .withColumn("fused_rank",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))).cast("long"))
      .select("fused_rank", "doc_id", "r_sparse", "r_dense", "rrf")
      .orderBy("fused_rank")
  }

  /** X31: graph summary card — the one-row integer profile a graph
    * pipeline publishes next to its data (the s18 ANALYZE discipline
    * for graphs): node/edge counts, connected-component count and
    * largest size (d07's log-diameter closure applied to the EVENT
    * graph — the graph-side registration of the CC operator), and max
    * degree. Every statistic an exact integer from partial-aggregated
    * shuffles; the closure moves 8-byte labels only. */
  val x31GraphSummary: Q = (s, dir) => {
    // the edge frame feeds THREE profile branches (degree fold, component
    // closure, edge count): materialize it once instead of re-running the
    // JSON-extract + explode + distinct derivation per branch (the x40
    // loop-invariant lesson applied to a fan-out plan)
    val e = eventsBipartiteEdges(tbl(s, dir, "events")).localCheckpoint(true)
    val und = e.filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b")).distinct()
    val comps = Dedup.dedupComponents(und)
    val compStats = comps.groupBy("comp_id").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_components"), max(col("sz")).as("max_component"))
    val degStats = e.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(count(lit(1)).as("n_nodes"), max(col("d")).as("max_degree"))
    val edgeCount = und.agg(count(lit(1)).as("n_edges"))
    degStats.crossJoin(edgeCount).crossJoin(compStats)
      .select(col("n_nodes"), col("n_edges"), col("n_components"),
        col("max_component"), col("max_degree"))
  }

  /** X16: integer-exact PageRank ([[graft.graph.PageRank.pageRankFixed]])
    * over the bipartite user <-> page co-visitation graph from the event
    * log (page = the JSON `k` prop). Doubled (undirected) edges so no node
    * dangles; 3 unrolled join+aggregate rounds; every rank is a 64-bit
    * integer, so the oracle (the same three rounds as chained CTEs)
    * matches hash-exactly with NO rounding contract — float PageRank
    * could never be cross-engine hash-stable.
    * The scale auto-sizes to the node count, so the same plan serves graphs
    * of 10^2 and 10^9 nodes. */
  val x16Pagerank: Q = (s, dir) => {
    graft.graph.PageRank.pageRankFixed(eventsBipartiteEdges(tbl(s, dir, "events")), iters = 3)
      .select(col("node").as("node_id"),
        when(col("node") >= 1000000L, lit("page")).otherwise(lit("user")).as("node_type"),
        col("rank"))
      .orderBy("node_id")
  }

  /** X18: x16 through the PERSISTED edge layout
    * ([[graft.graph.PageRank.buildEdgeLayout]] ->
    * [[graft.graph.PageRank.pageRankIndexed]]) — the d13/v11 index-split
    * precedent applied to iterated graph scoring: the loop-invariant
    * edges/degrees/nodes are written once, bucketed on their join keys, and
    * every iteration's contrib join runs exchange-free on the edge side
    * (only the rank vector shuffles per round; ScaleOpsSpec asserts the
    * co-bucketed plans). The oracle is x16's VERBATIM: the storage split
    * must be invisible in the result. */
  val x18PagerankIndexed: Q = (s, dir) => {
    graft.graph.PageRank.buildEdgeLayout(
      eventsBipartiteEdges(tbl(s, dir, "events")), "graft_x18_pr",
      basePath = Some(scratch("graft_x18_pr")))
    graft.graph.PageRank.pageRankIndexed(s, "graft_x18_pr", iters = 3)
      .select(col("node").as("node_id"),
        when(col("node") >= 1000000L, lit("page")).otherwise(lit("user")).as("node_type"),
        col("rank"))
      .orderBy("node_id")
  }

  /** X17: UNPIVOT — the inverse of x07's pivot, closing the reshape
    * pair: a wide per-priority table of per-status counts melts back to
    * long (priority, status column, count) rows via the engine-native
    * `Dataset.unpivot` (a Generate node — map-side row expansion, no
    * shuffle beyond the small aggregate that built the wide input). All
    * counts integer; the oracle is the UNION ALL constant-label form. */
  val x17Unpivot: Q = (s, dir) => {
    val o = tbl(s, dir, "orders")
    val wide = o.groupBy(col("o_orderpriority"))
      .agg(sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("cnt_O"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("cnt_F"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("cnt_P"))
    wide.unpivot(Array(col("o_orderpriority")),
        Array(col("cnt_O"), col("cnt_F"), col("cnt_P")), "status_col", "cnt")
      .orderBy("o_orderpriority", "status_col")
  }

  /** The [[all]] entries named in `names`, in registry order; no names
    * selects every query. Throws on any unknown name, listing them, so a
    * typo'd subset fails instead of silently running fewer queries. */
  def select(names: Iterable[String]): Seq[(String, Q)] = {
    val want = names.toSet
    val unknown = want -- all.map(_._1)
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    if (want.isEmpty) all else all.filter { case (n, _) => want(n) }
  }

  /** name -> query, in SURVEY §2 / brief order. */
  val all: Seq[(String, Q)] = Seq(
    "s05_scan_project" -> s05ScanProject,
    "s06_jsonl_roundtrip" -> s06JsonlRoundtrip,
    "s07_csv_roundtrip" -> s07CsvRoundtrip,
    "s08_partition_prune" -> s08PartitionPrune,
    "p04_name_coalesce" -> p04NameCoalesce,
    "p10_concat" -> p10Concat,
    "p11_prefix_stats" -> p11PrefixStats,
    "p12_date_trunc" -> p12DateTrunc,
    "p13_spatial_neighbors" -> p13SpatialNeighbors,
    "p14_polygon_census" -> p14PolygonCensus,
    "p05_geo_rd_to_wgs84" -> p05GeoRdToWgs84,
    "f01_temporal_filter" -> f01TemporalFilter,
    "f02_status_filter" -> f02StatusFilter,
    "f04_multivalue" -> f04Multivalue,
    "f06_orphan_delete" -> f06OrphanDelete,
    "k02_dedup_lastwins" -> k02DedupLastwins,
    "j00_adressen_build" -> j00AdressenBuild,
    "j01_join_5way" -> j01Join5way,
    "j02_update_join" -> j02UpdateJoin,
    "j03_repair_join" -> j03RepairJoin,
    "j11_anti_join" -> j11AntiJoin,
    "j12_semi_join" -> j12SemiJoin,
    "j13_entity_resolution" -> j13EntityResolution,
    "e01_explode_words" -> e01ExplodeWords,
    "e02_explode_outer" -> e02ExplodeOuter,
    "e03_posexplode_rebuild" -> e03PosexplodeRebuild,
    "a01_group_stats" -> a01GroupStats,
    "a02_scalar_counts" -> a02ScalarCounts,
    "a03_distinct" -> a03Distinct,
    "a05_max_top1" -> a05MaxTop1,
    "a06_percentiles" -> a06Percentiles,
    "a07_window_rank" -> a07WindowRank,
    "a08_approx_distinct" -> a08ApproxDistinct,
    "x07_pivot" -> x07Pivot,
    "u01_null_dummies" -> u01NullDummies,
    "u02_impute_median" -> u02ImputeMedian,
    "u03_ffill" -> u03Ffill,
    "u04_winsorize" -> u04Winsorize,
    "u05_golden_record" -> u05GoldenRecord,
    "d01_dedup_exact_groups" -> d01DedupExactGroups,
    "d02_dedup_exact_keep" -> d02DedupExactKeep,
    "d03_neardup_ngram" -> d03NeardupNgram,
    "d04_minhash_lsh" -> d04MinhashLsh,
    "d13_indexed_neardup" -> d13IndexedNeardup,
    "d14_chunk_remove" -> d14ChunkRemove,
    "d15_cluster_keep_best" -> d15ClusterKeepBest,
    "st09_neardup_admission" -> st09NearDupAdmission,
    "d16_semantic_dedup" -> d16SemanticDedup,
    "d17_containment" -> d17Containment,
    "d18_containment_sketch" -> d18ContainmentSketch,
    "d19_soft_dedup_weights" -> d19SoftDedupWeights,
    "d20_semantic_admission" -> d20SemanticAdmission,
    "d21_dup_rate_by_source" -> d21DupRateBySource,
    "d05_simhash" -> d05Simhash,
    "d06_embedding_neardup" -> d06EmbeddingNeardup,
    "d07_dedup_components" -> d07DedupComponents,
    "d08_decontaminate" -> d08Decontaminate,
    "d09_bloom_decontaminate" -> d09BloomDecontaminate,
    "d10_incremental_dedup" -> d10IncrementalDedup,
    "d11_edit_distance" -> d11EditDistance,
    "d12_chunk_dedup" -> d12ChunkDedup,
    "t01_token_count" -> t01TokenCount,
    "t02_text_quality" -> t02TextQuality,
    "t03_langid" -> t03Langid,
    "t04_fingerprint" -> t04Fingerprint,
    "v01_knn_brute" -> v01KnnBrute,
    "v24_filtered_knn" -> v24FilteredKnn,
    "v02_cosine_pairs" -> v02CosinePairs,
    "v03_ann_lsh" -> v03AnnLsh,
    "v04_norms" -> v04Norms,
    "v05_ann_ivf" -> v05AnnIvf,
    "v06_quantize" -> v06Quantize,
    "v07_random_projection" -> v07RandomProjection,
    "v08_hamming_ann" -> v08HammingAnn,
    "v09_ann_recall_audit" -> v09AnnRecallAudit,
    "v10_hamming_rerank" -> v10HammingRerank,
    "v11_indexed_ann" -> v11IndexedAnn,
    "v17_index_delete" -> v17IndexDelete,
    "v18_mips" -> v18Mips,
    "v19_knn_graph" -> v19KnnGraph,
    "v20_matryoshka" -> v20Matryoshka,
    "v21_mutual_knn" -> v21MutualKnn,
    "v12_indexed_ivf" -> v12IndexedIvf,
    "v13_pq_ann" -> v13PqAnn,
    "v14_indexed_pq" -> v14IndexedPq,
    "v15_ivfpq" -> v15IvfPq,
    "v16_indexed_ivfpq" -> v16IndexedIvfPq,
    "t05_normalize" -> t05Normalize,
    "t06_stratified_sample" -> t06StratifiedSample,
    "t07_repetition" -> t07Repetition,
    "t08_pack_sequences" -> t08PackSequences,
    "t09_tfidf" -> t09Tfidf,
    "t10_pii_redact" -> t10PiiRedact,
    "t11_line_dedup" -> t11LineDedup,
    "t35_boilerplate" -> t35Boilerplate,
    "t36_token_drift" -> t36TokenDrift,
    "t37_encoding_census" -> t37EncodingCensus,
    "t38_entropy_census" -> t38EntropyCensus,
    "t39_domain_reputation" -> t39DomainReputation,
    "d24_url_dedup" -> d24UrlDedup,
    "d25_crawl_diff" -> d25CrawlDiff,
    "d26_threshold_audit" -> d26ThresholdAudit,
    "d27_sketch_calibration" -> d27SketchCalibration,
    "d28_cdc_edit_stability" -> d28CdcEditStability,
    "d29_negative_sampling" -> d29NegativeSampling,
    "x36_link_graph" -> x36LinkGraph,
    "x37_scc" -> x37Scc,
    "x38_interval_islands" -> x38IntervalIslands,
    "x39_adamic_adar" -> x39AdamicAdar,
    "x40_diameter_sweep" -> x40DiameterSweep,
    "x41_interval_apportion" -> x41IntervalApportion,
    "x42_modularity" -> x42Modularity,
    "x43_bowtie" -> x43Bowtie,
    "t40_path_blocklist" -> t40PathBlocklist,
    "t41_token_budget" -> t41TokenBudget,
    "t42_markup_residue" -> t42MarkupResidue,
    "t43_sample_merge" -> t43SampleMerge,
    "t44_contam_score" -> t44ContamScore,
    "t45_pmi_collocations" -> t45PmiCollocations,
    "t46_js_divergence" -> t46JsDivergence,
    "t47_codeswitch_census" -> t47CodeswitchCensus,
    "t48_sft_assembly" -> t48SftAssembly,
    "t49_quality_tradeoff" -> t49QualityTradeoff,
    "t12_bigram_lm" -> t12BigramLm,
    "t13_source_quota" -> t13SourceQuota,
    "t14_novelty" -> t14Novelty,
    "t15_weighted_sample" -> t15WeightedSample,
    "t16_bpe_merges" -> t16BpeMerges,
    "t17_bpe_encode" -> t17BpeEncode,
    "t18_bm25" -> t18Bm25,
    "t19_dsir_weights" -> t19DsirWeights,
    "t20_quality_classifier" -> t20QualityClassifier,
    "t21_gopher_rules" -> t21GopherRules,
    "t22_quality_buckets" -> t22QualityBuckets,
    "t23_mixture_weights" -> t23MixtureWeights,
    "t24_leakfree_split" -> t24LeakfreeSplit,
    "t25_lexical_diversity" -> t25LexicalDiversity,
    "t26_chunk_windows" -> t26ChunkWindows,
    "t27_intradoc_dedup" -> t27IntraDocDedup,
    "t28_fertility" -> t28Fertility,
    "t29_blocklist" -> t29Blocklist,
    "t31_langid_confusion" -> t31LangidConfusion,
    "x01_json_extract" -> x01JsonExtract,
    "x04_asof_join" -> x04AsofJoin,
    "x05_range_join" -> x05RangeJoin,
    "x06_label_centroids" -> x06LabelCentroids,
    "x08_training_mix" -> x08TrainingMix,
    "x44_corpus_build" -> x44CorpusBuild,
    "x09_salted_agg" -> x09SaltedAgg,
    "x02_rollup" -> x02Rollup,
    "x10_cube" -> x10Cube,
    "x12_grouping_sets" -> x12GroupingSets,
    "a09_corr_stats" -> a09CorrStats,
    "a10_topk_agg" -> a10TopkAgg,
    "a11_lead_lag" -> a11LeadLag,
    "a12_argmax" -> a12Argmax,
    "a13_histogram" -> a13Histogram,
    "a14_funnel" -> a14Funnel,
    "a15_mode" -> a15Mode,
    "a16_approx_percentiles" -> a16ApproxPercentiles,
    "a17_global_topn" -> a17GlobalTopn,
    "a18_cume_dist" -> a18CumeDist,
    "a19_regression" -> a19Regression,
    "a20_cms_heavy_hitters" -> a20CmsHeavyHitters,
    "a21_bitmap_distinct" -> a21BitmapDistinct,
    "a22_hist_quantiles" -> a22HistQuantiles,
    "a23_sketch_rollup" -> a23SketchRollup,
    "a24_retention" -> a24Retention,
    "a25_mad_outliers" -> a25MadOutliers,
    "a26_session_funnel" -> a26SessionFunnel,
    "a27_cohort_retention" -> a27CohortRetention,
    "s11_text_roundtrip" -> s11TextRoundtrip,
    "s12_shard_export" -> s12ShardExport,
    "s13_zorder_layout" -> s13ZorderLayout,
    "s14_compaction" -> s14Compaction,
    "s15_partition_overwrite" -> s15PartitionOverwrite,
    "s16_wap" -> s16Wap,
    "s17_incremental_agg" -> s17IncrementalAgg,
    "s18_table_stats" -> s18TableStats,
    "s19_time_travel" -> s19TimeTravel,
    "x13_snapshot_diff" -> x13SnapshotDiff,
    "s09_schema_evolution" -> s09SchemaEvolution,
    "s10_orc_roundtrip" -> s10OrcRoundtrip,
    "x11_rolling_window" -> x11RollingWindow,
    "x03_set_ops" -> x03SetOps,
    "x14_intersect" -> x14Intersect,
    "x15_scd2" -> x15Scd2,
    "x16_pagerank" -> x16Pagerank,
    "x17_unpivot" -> x17Unpivot,
    "x18_pagerank_indexed" -> x18PagerankIndexed,
    "x19_bfs_dist" -> x19BfsDist,
    "x20_bfs_indexed" -> x20BfsIndexed,
    "m01_multimodal_meta" -> m01MultimodalMeta,
    "m02_media_features" -> m02MediaFeatures,
    "m03_frame_sample" -> m03FrameSample,
    "m04_phash_neardup" -> m04PhashNearDup,
    "m05_video_neardup" -> m05VideoNearDup,
    "m06_patch_grid" -> m06PatchGrid,
    "st01_tumbling_window" -> st01TumblingWindow,
    "st02_sessionize" -> st02Sessionize,
    "st03_sliding_window" -> st03SlidingWindow,
    "st04_interval_join" -> st04IntervalJoin,
    "st05_window_topk" -> st05WindowTopk,
    "st06_stream_static" -> st06StreamStatic,
    "st07_stream_ingest" -> st07StreamIngest,
    "st08_session_window" -> st08SessionWindow,
    "st10_session_topk" -> st10SessionTopk,
    "st11_window_distinct" -> st11WindowDistinct,
    "st12_outer_join" -> st12OuterJoin,
    "st13_semi_join" -> st13SemiJoin,
    "st14_upsert_state" -> st14UpsertState,
    "st15_decontaminate" -> st15Decontaminate,
    "st21_crawl_changes" -> st21CrawlChanges,
    "st22_watermark_audit" -> st22WatermarkAudit,
    "st23_sample_maintain" -> st23SampleMaintain,
    "st24_stream_ffill" -> st24StreamFfill,
    "st25_sft_gate" -> st25SftGate,
    "s22_change_feed" -> s22ChangeFeed,
    "s23_merge_apply" -> s23MergeApply,
    "s24_delete_vectors" -> s24DeleteVectors,
    "st16_full_join" -> st16FullJoin,
    "st17_rate_limit" -> st17RateLimit,
    "st18_dedup_redelivery" -> st18DedupRedelivery,
    "st19_neardedup_election" -> st19NearDedupElection,
    "st20_maintained_agg" -> st20MaintainedAgg,
    "x21_interval_overlap" -> x21IntervalOverlap,
    "x22_covisit_sim" -> x22CovisitSim,
    "x23_triangle_count" -> x23TriangleCount,
    "x24_trustrank" -> x24TrustRank,
    "x25_kcore" -> x25Kcore,
    "x26_assortativity" -> x26Assortativity,
    "x27_harmonic" -> x27Harmonic,
    "x28_label_prop" -> x28LabelProp,
    "x29_hybrid_rrf" -> x29HybridRrf,
    "x30_ktruss" -> x30Ktruss,
    "x31_graph_summary" -> x31GraphSummary,
    "v22_margin_mining" -> v22MarginMining,
    "t30_repetition" -> t30Repetition,
    "m07_aspect_buckets" -> m07AspectBuckets,
    "a28_inactivity_gaps" -> a28InactivityGaps,
    "t32_phrase_index" -> t32PhraseIndex,
    "a29_gapfill_spine" -> a29GapfillSpine,
    "d22_source_overlap" -> d22SourceOverlap,
    "d23_exact_substr" -> d23ExactSubstr,
    "v23_kmeans_assign" -> v23KmeansAssign,
    "v25_lloyd_step" -> v25LloydStep,
    "v26_pca_power" -> v26PcaPower,
    "x45_coreset" -> x45Coreset,
    "x46_zonemap_census" -> x46ZonemapCensus,
    "x32_temporal_reach" -> x32TemporalReach,
    "s20_snapshot_expire" -> s20SnapshotExpire,
    "s21_table_history" -> s21TableHistory,
    "m08_frame_coherence" -> m08FrameCoherence,
    "m09_audio_segments" -> m09AudioSegments,
    "m10_shot_segments" -> m10ShotSegments,
    "m12_av_align" -> m12AvAlign,
    "m11_constellation" ->m11Constellation,
    "t33_word_dropout" -> t33WordDropout,
    "t34_length_buckets" -> t34LengthBuckets,
    "x33_join_profile" -> x33JoinProfile,
    "x34_random_walks" -> x34RandomWalks,
    "a30_kanonymity" -> a30Kanonymity,
    "a31_ks_drift" -> a31KsDrift,
    "a32_zipf_fit" -> a32ZipfFit,
    "a33_hour_chi2" -> a33HourChi2,
    "a34_acf_hourly" -> a34AcfHourly,
    "a35_ldiversity" -> a35LDiversity,
    "a36_benford" -> a36Benford,
    "a37_cusum" -> a37Cusum,
    "a38_gini_sources" -> a38GiniSources,
    "a39_spearman" -> a39Spearman,
    "a40_theil_sen" -> a40TheilSen,
    "a41_mann_whitney" -> a41MannWhitney,
    "a42_markov_transitions" -> a42MarkovTransitions,
    "a43_gains_table" -> a43GainsTable,
    "a44_calibration" -> a44CalibrationCensus,
    "a45_seasonal_backtest" -> a45SeasonalBacktest,
    "a46_cohens_kappa" -> a46CohensKappa,
    "a47_bcubed" -> a47Bcubed,
    "a48_krippendorff" -> a48Krippendorff,
    "x35_fd_profile" -> x35FdProfile
  )
}
