package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** One registered query: its name, its plan, and the DuckDB SQL the oracle
  * compares it against. `oracle` is None only for a query whose answer
  * rests on sketch internals; [[graft.VerifyExtras]] checks those. */
final case class QuerySpec(name: String, run: Queries.Q, oracle: Option[String])

/** One query family, one file: each `query(name, oracle) { (s, dir) => … }`
  * in the object's body registers a [[QuerySpec]] in declaration order, the
  * way a test suite registers its tests. An oracle helper `val` must be
  * declared above the first query that reads it. */
abstract class QueryFamily {
  private val registered = scala.collection.mutable.ArrayBuffer.empty[QuerySpec]

  protected def query(name: String, oracle: Option[String] = None)(run: Queries.Q): Queries.Q = {
    registered += QuerySpec(name, run, oracle)
    run
  }

  def specs: Seq[QuerySpec] = registered.toSeq

  /** The plan registered as `name` in this family. */
  def apply(name: String): Queries.Q = specs.find(_.name == name).map(_.run).getOrElse(
    throw new NoSuchElementException(s"no query $name in ${getClass.getSimpleName.stripSuffix("$")}"))
}

/**
 * The driver-contract query surface: one named query per operator family of
 * SURVEY.md §2 plus the LLM-data-pipeline operator families, expressed over
 * the TPC-H-ish testdata tables (TESTDATA.md). The queries live in their
 * families' files ([[CoreQueries]], [[AnalyticsQueries]], [[DedupQueries]],
 * [[TextQueries]], [[VectorQueries]], [[MediaQueries]], [[StreamQueries]],
 * [[ExtendedQueries]]), each plan beside its DuckDB SQL; this object holds
 * the shared scan helpers and the registry they build.
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
    * variant at micros via `epoch_us(ts)` in its SQL). NTZ wall-clock
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

  /** Hash bucket in [0, 100) for any id value (no overflow path: the hex
    * prefix is < 2^32 before the modulo). */
  def sampleBucket(docId: Column): Column =
    conv(substring(md5(docId.cast("string")), 1, 8), 16, 10).cast("long") % 100

  /** Every query, family by family, each family in declaration order. */
  val specs: Seq[QuerySpec] = checked(Seq(CoreQueries, AnalyticsQueries, DedupQueries,
    TextQueries, VectorQueries, MediaQueries, StreamQueries, ExtendedQueries).flatMap(_.specs))

  /** name -> query, in registry order. */
  val all: Seq[(String, Q)] = specs.map(q => q.name -> q.run)

  /** `specs`, or an error naming each spec that breaks a registry rule:
    * names are unique; a declared oracle is not null (a helper `val`
    * declared below its query reads as null); and every query has oracle
    * SQL or a [[graft.VerifyExtras]] check. */
  def checked(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    def names(qs: Iterable[String]) = qs.toSeq.sorted.mkString(", ")
    val dups = specs.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${names(dups)}")
    val nullSql = specs.filter(_.oracle.contains(null)).map(_.name)
    require(nullSql.isEmpty, s"oracle SQL is null: ${names(nullSql)}")
    val unchecked = specs.filter(q => q.oracle.isEmpty && !graft.VerifyExtras.queries.contains(q.name))
    require(unchecked.isEmpty,
      s"queries with neither oracle SQL nor a VerifyExtras check: ${names(unchecked.map(_.name))}")
    specs
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
}
