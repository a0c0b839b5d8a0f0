package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class QuerySuiteSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "small" -> ((s, _) => s.range(3).toDF("id")),
    "large" -> ((s, _) => s.range(10).toDF("id")))
  private val list = Seq("small" -> "relational", "large" -> "relational")

  private def setupWith(expected: Option[Expected]): Run = {
    val run = new Run(spark, "unused", seed = 7, new Spans("t", enabled = false))
    val suite = new QuerySuite("t", list, "unused", expected, registry)
    suite.prepare(run)
    suite.setup(run)
    run
  }

  private def recorded(): Map[String, Fingerprint] = {
    val suite = new QuerySuite("t", list, "unused", None, registry)
    val run = new Run(spark, "unused", seed = 1, new Spans("t", enabled = false))
    suite.prepare(run)
    suite.setup(run)
    suite.recorded.map { case (q, m: Map[_, _]) =>
      val f = m.asInstanceOf[Map[String, Any]]
      q -> Fingerprint(f("rows").asInstanceOf[Long],
        java.lang.Long.parseUnsignedLong(f("hash").toString, 16))
    }
  }

  test("matching fingerprints: nothing fails") {
    val run = setupWith(Some(Expected(recorded(), Map.empty, Map.empty)))
    assert(run.attempted == 2 && run.failed == 0 && run.failedFrac == 0.0)
  }

  test("an injected fingerprint mismatch counts into failed_frac, by name") {
    val good = recorded()
    val bad = good.updated("large", good("large").copy(hash = good("large").hash + 1))
    val run = setupWith(Some(Expected(bad, Map.empty, Map.empty)))
    assert(run.attempted == 2 && run.failed == 1 && run.failedFrac == 0.5)
    assert(run.failures.head.startsWith("large fingerprint"))
  }

  test("a query listed as unstable is checked on its row count only") {
    val good = recorded()
    val bad = good.updated("large", good("large").copy(hash = 0L))
    val run = setupWith(Some(Expected(bad, Map("large" -> "hash does not repeat"), Map.empty)))
    assert(run.failed == 0)
    val fewer = good.updated("large", good("large").copy(rows = 9L))
    assert(setupWith(Some(Expected(fewer, Map("large" -> "x"), Map.empty))).failed == 1)
  }

  test("a query that throws fails its operation") {
    val run = new Run(spark, "unused", seed = 1, new Spans("t", enabled = false))
    val op = run.op("boom", "relational")(throw new IllegalStateException("no"))
    assert(op.error.exists(_.contains("no")) && run.failed == 1 && run.attempted == 1)
  }
}
