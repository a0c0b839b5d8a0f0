package graft.tools

import java.nio.file.{Files, Paths}

/** Writes `explain("formatted")` dumps for the named queries to
  * `<outDir>/<query>_<suffix>.txt` — the per-query before/after plan
  * evidence the optimization rounds commit under plans/r{N}/. With no
  * query names it dumps every registered query, one file each; a plan
  * claim worth keeping is asserted in `PlanSpec` or stated in the
  * query's scaladoc, not in a generated document.
  *
  * Run: tools/run_main.sh graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1 q2 ...]
  * The plan is AQE's INITIAL one, taken before any action on the returned
  * frame: it repeats from run to run, where the post-execution plan does
  * not (AQE re-plans exchanges and join sides on runtime statistics). A
  * query whose build runs actions (a loop's rounds) still runs those.
  * Exits non-zero, naming them, when any query fails to build or explain.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args.take(3)
    val selected = graft.queries.Queries.select(args.drop(3).toSeq)
    val spark = graft.Sessions.get("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val failed = selected.flatMap { case (q, fn) =>
      val error = try {
        val df = fn(spark, sfDir)
        Files.writeString(Paths.get(s"$outDir/${q}_$suffix.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        println(s"wrote $outDir/${q}_$suffix.txt")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $q failed: ${e.getMessage}")
        Some(q)
      }
      graft.SessionResources.release(spark)
      error
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
