package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/**
 * The one place a graft session is configured; every `main` gets its
 * session here. Shared settings:
 *  - `session.timeZone=UTC` and `legacy.parquet.nanosAsLong=true`, so
 *    every testdata generation of events.parquet stays readable
 *    (`Queries.events()` adapts to whatever timestamp type arrives);
 *  - the UI is off;
 *  - [[GraftExtensions]] binds the SQL function surface and the
 *    optimizer rule.
 *
 * [[get]] reuses a session that already exists and applies the runtime
 * settings to it; [[run]] leaves such a session as it is. Operators
 * bind the native kernels as Columns, so they work there too; only plain
 * SQL needs [[GraftExtensions.register]] on such a session.
 */
object Sessions {

  /** Local parallelism of the query mains (`SPARK_GRAFT_CPUS`, default 32). */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def get(master: String = s"local[$cpus]", shufflePartitions: Int = cpus,
          warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with the SQL conf `settings` applied to `spark`, then
    * restores each key as it was: a key that was set gets its value back,
    * a key that was unset is unset again. Actions inside `body` run under
    * the settings; a frame `body` returns runs under the restored conf. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    // getAll holds only the keys set in this session (getOption would
    // report the default of an unset key, and restoring that sets it)
    val set = spark.conf.getAll
    val prior = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Runs `body` on a new [[get]] session, then stops it. A caller that
    * embeds a main (a test suite, a notebook) keeps its own session:
    * `body` runs on it as the caller configured it, and `run` neither
    * changes its settings nor stops it. */
  def run[A](master: String = s"local[$cpus]", shufflePartitions: Int = cpus)(
      body: SparkSession => A): A =
    SparkSession.getDefaultSession match {
      case Some(spark) => body(spark)
      case None =>
        val spark = get(master, shufflePartitions)
        try body(spark) finally spark.stop()
    }
}
