package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * cms_estimate over Spark's native count_min_sketch aggregate: the
 * contract is the CMS guarantee — est >= true count for every item in
 * the stream, est <= true + ceil(eps * N) for the seeded deterministic
 * sketch — plus hashing consistency with CountMinSketchAgg's string
 * update path, and correctness when the sketch argument is NOT a scalar
 * (the per-thread identity cache must fall back to re-deserialization,
 * never serve a stale sketch).
 */
class SketchSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("sketch-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("cms_estimate brackets exact counts over a SQL-built sketch") {
    val s = spark
    import s.implicits._
    val words = (1 to 40).flatMap(i => Seq.fill(i)(s"w$i"))
    val df = words.toDF("term")
    val eps = 0.001
    val row = df.agg(
      count_min_sketch(col("term"), lit(eps), lit(0.99), lit(7)).as("sk"),
      count(lit(1)).as("n")).collect()(0)
    val bound = math.ceil(eps * row.getAs[Long]("n")).toLong
    val checked = df.groupBy("term").agg(count(lit(1)).as("cnt"))
      .withColumn("est", SketchExpressions.cmsEstimate(
        lit(row.getAs[Array[Byte]]("sk")), col("term")))
      .collect()
    assert(checked.length === 40)
    checked.foreach { r =>
      val (cnt, est) = (r.getAs[Long]("cnt"), r.getAs[Long]("est"))
      assert(est >= cnt && est <= cnt + bound,
        s"${r.getAs[String]("term")}: cnt=$cnt est=$est bound=$bound")
    }
    // an item never added estimates within the additive bound of zero
    val miss = df.limit(1)
      .select(SketchExpressions.cmsEstimate(
        lit(row.getAs[Array[Byte]]("sk")), lit("never-added")).as("est"))
      .collect()(0).getAs[Long]("est")
    assert(miss >= 0L && miss <= bound)
  }

  test("per-row sketch columns never serve a stale cached sketch") {
    val s = spark
    import s.implicits._
    // two disjoint streams -> two sketches in ONE DataFrame; probing both
    // for both keys must give (big, 0-ish) and (0-ish, big), which fails
    // if the identity cache ever returns the wrong sketch
    val skA = Seq.fill(100)("a").toDF("t")
      .agg(count_min_sketch(col("t"), lit(0.001), lit(0.99), lit(7)))
      .collect()(0).getAs[Array[Byte]](0)
    val skB = Seq.fill(50)("b").toDF("t")
      .agg(count_min_sketch(col("t"), lit(0.001), lit(0.99), lit(7)))
      .collect()(0).getAs[Array[Byte]](0)
    val rows = Seq(("a", skA), ("b", skB), ("a", skB), ("b", skA))
      .toDF("term", "sk")
      .select(col("term"),
        SketchExpressions.cmsEstimate(col("sk"), col("term")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(rows(0) === ("a" -> 100L))
    assert(rows(1) === ("b" -> 50L))
    assert(rows(2)._2 === 0L)   // "a" against B's sketch
    assert(rows(3)._2 === 0L)   // "b" against A's sketch
  }

  test("cms_estimate resolves from plain SQL via register()") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """WITH sk AS (SELECT count_min_sketch(t, 0.001d, 0.99d, 7) AS s
        |  FROM (SELECT explode(array('x','x','x','y')) AS t))
        |SELECT cms_estimate(s, 'x') AS ex, cms_estimate(s, 'y') AS ey
        |FROM sk""".stripMargin).collect()(0)
    assert(r.getAs[Long]("ex") === 3L && r.getAs[Long]("ey") === 1L)
  }
}
