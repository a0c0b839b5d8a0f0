package graft.relational

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Skew mitigation for hot aggregation keys.
 *
 * AQE's skew handling (on by default) splits oversized *partitions*, but
 * cannot split a single hot *key* — one key's rows always hash to one
 * task. Salting can: scatter the key's rows across salt buckets, so a hot
 * key fans out over `salt` tasks.
 *
 * At 100 TB this is the difference between a join that finishes and one
 * task that runs for hours: think "null keys", "empty-string postcode",
 * boilerplate shingles, the `en` language bucket.
 */
object Skew {

  /** Deterministic salt in [0, salt) derived from stable row content —
    * NOT rand(): retries/speculative tasks must land rows in the same
    * bucket or the aggregate silently double-counts/drops. */
  def saltOf(c: Column, salt: Int): Column = pmod(xxhash64(c), lit(salt))

  /**
   * Two-phase aggregation for skewed group keys: partial-aggregate on
   * (key, salt), then final-aggregate on key. Use for aggregates that
   * compose from partials (sum/count/min/max).
   *
   * @param partials  partial aggregates keyed by output name
   * @param finals    final combination of the partial columns
   */
  def saltedAgg(df: DataFrame, key: String, salt: Int,
                partials: Map[String, Column], finals: Map[String, Column]): DataFrame = {
    val p = partials.toSeq
    val f = finals.toSeq
    val stage1 = df
      .withColumn("__salt", saltOf(struct(df.columns.map(col).toIndexedSeq: _*), salt))
      .groupBy(col(key), col("__salt"))
      .agg(p.head._2.as(p.head._1), p.tail.map { case (n, c) => c.as(n) }: _*)
    stage1.groupBy(col(key))
      .agg(f.head._2.as(f.head._1), f.tail.map { case (n, c) => c.as(n) }: _*)
  }
}
