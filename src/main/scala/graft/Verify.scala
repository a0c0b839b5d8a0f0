package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — trailing names restrict the
    // dump to those queries (local iteration); the driver passes none. An
    // unknown name fails before anything runs.
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSeq)
    val selected = queries.Queries.select(only)
    val spark = Sessions.get()
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // delete any previous dump FIRST: a query that now throws must not
      // leave a stale result behind for the oracle compare to silently
      // PASS against (overwrite only happens on success)
      val dest = Paths.get(s"$outDir/$name")
      if (Files.exists(dest)) {
        import scala.jdk.CollectionConverters._
        Files.walk(dest).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
      }
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // 54 queries share this session: release each query's tracked
      // broadcasts/persists so storage never accumulates across the run
      SessionResources.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full runs also emit verify_extras.json: executable evidence (recompute
    // equality / recall floors / sketch error bounds) for the queries the
    // DuckDB oracle cannot express. Must never kill the dump the driver
    // grades, so failures are contained to the report itself.
    if (only.isEmpty)
      try VerifyExtras.writeReport(spark, sfDir, outDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] extras report failed: ${e.getMessage}")
      }
    spark.stop()
  }
}
