package graft.relational

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/**
 * Incremental small-file compaction for a parquet directory — the table
 * maintenance every long-lived ingest needs (Delta `OPTIMIZE` / Iceberg
 * `rewrite_data_files`, built from first principles on a raw dir).
 *
 * Why it exists at 100 TB: a streaming or micro-batched sink
 * (st07-style ingest, daily crawl appends) accretes one file per task per
 * trigger. A year of 5-minute triggers x 32 tasks is ~3.4M files — scan
 * planning, footer reads, and NameNode/liststore pressure come to dominate
 * query latency long before data size does. Compaction folds the
 * accumulated small files into scan-efficient big ones.
 *
 * Scale design — the cost is proportional to the SMALL bytes, never the
 * table:
 *  - Files >= `smallBytes` are left PHYSICALLY UNTOUCHED (never read,
 *    never rewritten): re-running compaction after each append only ever
 *    pays for the new tail, so the amortized cost of keeping a table
 *    compact is one extra write of each byte.
 *  - The small files are folded with `coalesce(n)` — a NARROW dependency:
 *    each output task reads a subset of whole input files and streams
 *    them out. Zero shuffle, no wide exchange of the payload. (The
 *    trade-off vs a `repartition(n)`: bins are balanced by file count,
 *    not bytes — the right trade when the smalls are trigger-sized and
 *    roughly uniform. A byte-perfect packing would pay a full shuffle of
 *    every small byte for cosmetics.)
 *  - A partitioned table compacts per leaf partition directory,
 *    embarrassingly parallel across partitions; this entry point is the
 *    per-directory kernel, one call per leaf.
 *
 * Commit discipline: the fold is written to a hidden `_compact_tmp`
 * staging dir (underscore-prefixed => invisible to concurrent readers of
 * the table dir), new files are MOVED IN first (renames, metadata-only),
 * and the replaced smalls are deleted LAST. A crash in the delete window
 * leaves old+new visible (duplicate rows) but never loses data; crash
 * before any rename leaves the table exactly as it was. Readers
 * concurrent with the swap can see duplicates — exactly-once swaps are
 * what table formats' transaction logs are for (the reference's
 * equivalent boundary is SQLite's journal, database_sqlite.py); on a raw
 * dir the compactor is run, like the reference's import, as the table's
 * single writer.
 */
object Compaction {

  /** What a compaction pass did: `kept` big files untouched, `rewritten`
    * small files folded into `filesAfter - kept` new ones. */
  final case class Report(filesBefore: Int, filesAfter: Int, kept: Int,
                          rewritten: Int, bytesRewritten: Long)

  /** Fold every data file under `dir` smaller than `smallBytes` into
    * ~`targetBytes`-sized files; bigger files are not touched. No-op
    * (rewritten = 0) when fewer than two files qualify — one small file
    * gains nothing from a rewrite, so repeated passes converge to a
    * fixpoint instead of churning the tail file forever. */
  def compactDir(spark: SparkSession, dir: String, targetBytes: Long,
                 smallBytes: Long = 0L): Report = {
    require(targetBytes > 0, "targetBytes must be positive")
    val threshold = if (smallBytes > 0) smallBytes else targetBytes / 2
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseSinkLog(fs, root)

    def dataFiles(): Array[FileStatus] = fs.listStatus(root).filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    refuseBucketed(dataFiles())

    val before = dataFiles()
    val (small, big) = before.partition(_.getLen < threshold)
    if (small.length <= 1)
      return Report(before.length, before.length, before.length, 0, 0L)

    val smallTotal = small.map(_.getLen).sum
    val n = math.max(1L, (smallTotal + targetBytes - 1) / targetBytes).toInt
    val staging = new Path(root, "_compact_tmp")
    if (fs.exists(staging)) fs.delete(staging, true) // dead prior attempt
    spark.read.parquet(small.map(_.getPath.toString).toIndexedSeq: _*)
      .coalesce(n)
      .write.mode("overwrite").parquet(staging.toString)

    // commit: move new files in, then drop the replaced smalls
    val moved = fs.listStatus(staging).filter { f =>
      f.isFile && f.getPath.getName.startsWith("part-")
    }
    moved.foreach { f =>
      // staging part names are unique per attempt (task UUIDs), so a
      // rename can only collide with a file this attempt just moved —
      // never with a pre-existing data file
      if (!fs.rename(f.getPath, new Path(root, f.getPath.getName)))
        throw new IllegalStateException(
          s"compactDir: failed to move ${f.getPath} into $dir")
    }
    small.foreach(f => fs.delete(f.getPath, false))
    fs.delete(staging, true)
    Report(before.length, big.length + moved.length, big.length,
      small.length, smallTotal)
  }

  /** A BUCKETED table's physical layout is part of its contract: the
    * bucket id lives in the file NAME (`..._00003.c000.parquet`), and
    * every bucket-map join / exchange-free index serve path trusts it.
    * Folding those files would silently scramble rows across buckets —
    * the reader would not fail, it would return wrong joins. Refuse;
    * bucketed tables compact by rebuild (writeBucketed over a read), or
    * per-bucket with `writerTasksPerBucket` at write time. */
  private def refuseBucketed(files: Array[FileStatus]): Unit = {
    val bucketName = ".*_\\d{5}\\.c\\d{3}.*".r
    files.find(f => bucketName.matches(f.getPath.getName)).foreach { f =>
      throw new IllegalArgumentException(
        s"${f.getPath.getParent} holds bucketed table files (${f.getPath.getName}); " +
          "compacting would scramble the bucket-id-in-filename contract — " +
          "rebuild via Bucketing.writeBucketed instead")
    }
  }

  /** A `FileStreamSink` output dir is GOVERNED by its `_spark_metadata`
    * commit log: batch reads resolve the file list through the log, not
    * the filesystem, so renaming or deleting data files under it corrupts
    * the table (readers chase files the log still references). Compaction
    * therefore refuses such dirs. A retired sink becomes a raw parquet
    * table once its log is dropped — trading the sink's exactly-once
    * restart bookkeeping (which only the writing stream ever used) for
    * maintainability. A LIVE sink must not lose its log: its next trigger
    * would re-create the log and re-add whatever it commits. */
  private def refuseSinkLog(fs: org.apache.hadoop.fs.FileSystem,
                            dir: Path): Unit = {
    if (fs.exists(new Path(dir, "_spark_metadata")))
      throw new IllegalStateException(
        s"$dir is a streaming-sink table governed by _spark_metadata; " +
          "compacting it would orphan the log's file references — " +
          "drop the _spark_metadata log first (retired sinks only)")
  }
}
