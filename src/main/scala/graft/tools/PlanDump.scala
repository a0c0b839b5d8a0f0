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
  * The plan is the POST-EXECUTION one (collect() first), so AQE's final
  * shape (coalesced reads, runtime join strategy) is what lands in the file.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args.take(3)
    val selected = graft.queries.Queries.select(args.drop(3).toSeq)
    val spark = graft.Sessions.get("local[8]", 8)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    selected.foreach { case (q, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.collect() // finalize AQE so the dump shows the executed shape
        Files.writeString(Paths.get(s"$outDir/${q}_$suffix.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        println(s"wrote $outDir/${q}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $q failed: ${e.getMessage}")
      }
      graft.SessionResources.release(spark)
    }
    spark.stop()
  }
}
