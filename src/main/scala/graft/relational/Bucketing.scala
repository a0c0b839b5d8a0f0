package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Bucketed-table storage: pre-shuffle big tables ONCE at write time so
 * every later equi-join/aggregation on the bucket key runs shuffle-free.
 *
 * This is the Spark-native replacement for the reference's post-load
 * indices (database_sqlite.py:274-289): where SQLite builds a B-tree per
 * join key, a Spark warehouse buckets the fact tables by that key. A join
 * of two tables bucketed by the same key into the same bucket count shows
 * NO Exchange in the plan — at 100 TB that deletes the dominant cost of
 * the nightly adressen rebuild (vbo/lig/sta all join nummers on
 * nummer_id repeatedly).
 */
object Bucketing {

  /** Write `df` as a bucketed+sorted managed table (overwrites).
    *
    * The frame is repartitioned by the bucket key FIRST (same murmur3
    * hash-partitioning bucketBy uses), so file count stays bounded —
    * without it Spark writes up to one file per (task, bucket): thousands
    * of upstream tasks x the bucket count is a small-file explosion at
    * scale.
    *
    * Trade-off knob: repartitioning to exactly `buckets` partitions caps
    * write parallelism at `buckets` tasks — with a modest bucket count
    * each task writes a whole bucket and becomes a straggler (and a
    * memory hotspot) on a big table. `writerTasksPerBucket = k` widens
    * the write to `buckets * k` tasks while keeping files bounded at ~k
    * per bucket: rows are repartitioned on (bucket_id, salt) — bucket_id
    * computed with the SAME murmur3 `pmod(hash(key), buckets)` bucketBy
    * applies at write time — so each of the buckets*k (bucket, salt)
    * slices lands wholly in one task and each task emits files for the
    * one bucket (rarely two, on partition-hash collisions) it holds.
    * NOTE: partitioning on raw (key, salt) instead would scatter every
    * bucket across ALL tasks and explode the file count. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int,
                    path: Option[String] = None,
                    writerTasksPerBucket: Int = 1): Unit = {
    require(writerTasksPerBucket >= 1, "writerTasksPerBucket must be >= 1")
    val spark = df.sparkSession
    prepareOverwrite(spark, table, path)
    val partitioned = partitionForBuckets(df, key, buckets, writerTasksPerBucket)
    val w = partitioned.write.format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .mode("overwrite")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Drop-then-clean preamble shared by every overwrite-mode table write.
    *
    * Snapshots the pre-existing table's type+location BEFORE the drop: an
    * EXTERNAL table keeps its data through DROP TABLE by contract, so if
    * one happened to live at the managed default path, the orphan cleanup
    * must not destroy it.
    *
    * Idempotence across crashes: a writer killed between creating the
    * managed location and committing the catalog entry leaves a directory
    * DROP TABLE cannot see, and CTAS then refuses the location
    * (LOCATION_ALREADY_EXISTS). After the drop, a surviving
    * default-location dir is orphaned by construction — UNLESS the dropped
    * table was EXTERNAL with its location at that very path, in which case
    * DROP preserved real data there. Remove only the true orphan case so
    * rebuilds never require manual warehouse surgery yet never eat an
    * external table's data. */
  private[graft] def prepareOverwrite(spark: SparkSession, table: String,
                                      path: Option[String]): Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val catalog = spark.sessionState.catalog
    val preExisting =
      if (catalog.tableExists(ident)) Some(catalog.getTableMetadata(ident)) else None
    spark.sql(s"DROP TABLE IF EXISTS $table")
    if (path.isEmpty) {
      val loc = new org.apache.hadoop.fs.Path(catalog.defaultTablePath(ident))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val qualified = fs.makeQualified(loc)
      val wasExternalHere = preExisting.exists { m =>
        m.tableType == org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL &&
          fs.makeQualified(new org.apache.hadoop.fs.Path(m.location)) == qualified
      }
      if (wasExternalHere)
        throw new IllegalStateException(
          s"refusing to overwrite $table: the previous table was EXTERNAL with its " +
            s"data at the managed default location $qualified — move it or pass an " +
            "explicit path")
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }

  /** Overwrite a small UNBUCKETED managed table with the same
    * crash-orphan / external-table discipline as [[writeBucketed]] — the
    * write mode of an index's tiny parameter companion (e.g. the IVF
    * centroid table). */
  private[graft] def writeSmallTable(df: DataFrame, table: String,
                                     path: Option[String] = None): Unit = {
    prepareOverwrite(df.sparkSession, table, path)
    val w = df.repartition(1).write.format("parquet").mode("overwrite")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** The bounded-file-count repartition of [[writeBucketed]] (see its
    * scaladoc for the (bucket, salt) rationale). */
  private def partitionForBuckets(df: DataFrame, key: String, buckets: Int,
                                  writerTasksPerBucket: Int): DataFrame =
    if (writerTasksPerBucket == 1) df.repartition(buckets, df.col(key))
    else {
      import org.apache.spark.sql.functions.{col, floor, hash, lit, pmod, rand}
      val k = writerTasksPerBucket
      df.withColumn("__bucket", pmod(hash(df.col(key)), lit(buckets)))
        .withColumn("__wsalt", floor(rand(seed = 7L) * k).cast("int"))
        .repartition(buckets * k, col("__bucket"), col("__wsalt"))
        .drop("__bucket", "__wsalt")
    }

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}
