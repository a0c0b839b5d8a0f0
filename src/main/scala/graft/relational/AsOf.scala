package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * As-of (point-in-time) join — for each left row, attach the most recent
 * right row with `right.time <= left.time` for the same key. The classic
 * time-series enrichment operator (trades->quotes, clicks->views,
 * features->labels) that plain SQL needs a correlated subquery for.
 *
 * Spark-native formulation: NO join node at all. Both sides are tagged and
 * unioned, the union is shuffled ONCE by key and sorted by (time, side)
 * within partitions, and a running `last(value, ignoreNulls)` window
 * propagates each right row's payload forward onto the left rows that
 * follow it in time. Cost at any scale: one exchange of |L| + |R| rows +
 * a per-partition sort — the same shape as a single groupBy, with none of
 * the per-row subquery or range-join blowup. Skewed keys salt like any
 * other single-key shuffle ([[Skew]]).
 *
 * Right rows at the same (key, time) must be unique (dedup first — e.g.
 * one [[graft.functions.VectorAggregates.argMax]] per key); at equal timestamps the right row sorts
 * BEFORE the left row, so an exactly-simultaneous right row matches
 * ("at or before" semantics, mirroring DuckDB/kdb ASOF JOIN).
 */
object AsOf {

  /**
   * @param left      probe side; all its columns are preserved
   * @param right     build side: (key, time, valueCols...) — unique per (key, time)
   * @param key       equi-key column name (present on both sides)
   * @param time      event-time column name (present on both sides, any ordered type)
   * @param valueCols right-side payload columns to attach (null when no
   *                  right row is at or before the left row's time)
   * @param prefix    prefix for the attached columns, default "asof_"
   */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
               valueCols: Seq[String], prefix: String = "asof_"): DataFrame = {
    // the payload travels as ONE struct (non-null per right row even when
    // individual fields are null) so every attached column provably comes
    // from the SAME right row — per-column ignoreNulls propagation could
    // otherwise stitch values from different rows
    val r = right.select(col(key), col(time), lit(0).as("__side"),
      struct(valueCols.map(col): _*).as("__asof"))
    val l = left.withColumn("__side", lit(1))
    // unionByName null-pads: left-only columns are null on right rows and
    // __asof is null on left rows
    val unioned = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(key))
      .orderBy(col(time).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned.withColumn("__asof", last(col("__asof"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(left.columns.map(col) ++
        valueCols.map(c => col(s"__asof.$c").as(s"$prefix$c")): _*)
  }
}
