package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Session-scoped resource tracking for operators that allocate state whose
 * lifetime outlives plan construction: persisted DataFrames (e.g. the
 * dedup signature tables).
 *
 * Spark reclaims them eventually via the ContextCleaner, but "eventually"
 * is driven by driver GC of the *handle* — a long-lived session running
 * many queries back-to-back (Bench, a notebook, a service) accumulates
 * storage and pays for it in later, unrelated queries (the r3 driver bench
 * measured a map-only 0.5s query at 10.5s inside that accumulation).
 * Operators register what they allocate here; between queries, callers run
 * [[release]] to free everything deterministically.
 *
 * Calling [[release]] mid-query is unsupported (a live plan may still
 * read a tracked frame); call it between actions, as Bench does.
 */
object SessionResources {

  private val persisted =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def trackPersisted(df: DataFrame): DataFrame = { persisted.add(df); df }

  /** Unpersist every tracked frame and clear the session cache. Safe to
    * call repeatedly; never throws. */
  def release(spark: SparkSession): Unit = {
    var p = persisted.poll()
    while (p != null) {
      try p.unpersist()
      catch { case _: Throwable => () }
      p = persisted.poll()
    }
    try spark.catalog.clearCache()
    catch { case _: Throwable => () }
  }
}
