package graft

import graft.queries.{CoreQueries, Oracle, Queries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * One named query per implemented operator family (SURVEY.md §2 +
  * the LLM-data-pipeline families) over /root/testdata parquet, with
  * DuckDB-equivalent SQL in [[Oracle.sql]] where SQL-expressible.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the five-way star join + aggregation (J1/J8 shape). */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.j01Join5way(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables: each query's `oracle` beside its plan in its
    * family's file (graft.queries.CoreQueries and its siblings), collected
    * by [[Oracle.sql]]. Omitted only for a08_approx_distinct and
    * a16_approx_percentiles (HLL/KLL sketch internals with no
    * deterministic SQL equivalent) -> rows-only check, each backed by a
    * [[VerifyExtras]] error bound in verify_extras.json. */
  def oracleSql: Map[String, String] = Oracle.sql
}
