package graft.functions

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/**
 * The SQL-surface contract: a session configured with
 * `spark.sql.extensions=graft.functions.GraftExtensions` can call every
 * native kernel/aggregate from plain SQL, and the results match the
 * Column-API forms the rest of the suite already verifies.
 *
 * `spark.sql.extensions` is a STATIC config resolved from the
 * SparkContext's conf — on the suite-shared context it cannot bind, so
 * this spec builds its session through [[graft.Sessions]] (the
 * programmatic `withExtensions(new GraftExtensions())` route, the same
 * injection code spark-submit runs from the conf string), on a fresh
 * session over the shared context, and restores the previous default
 * session afterwards (suites run sequentially in the forked test JVM).
 */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var previousDefault: Option[SparkSession] = None

  // a dedicated session: extensions bind at session BUILD time
  private lazy val spark: SparkSession = {
    previousDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    graft.Sessions.get("local[2]", 2)
  }

  /** One sample call per SQL function, keyed by name; the key set must
    * equal the function table's. */
  private val sampleCalls: Map[String, String] = Map(
    "vec_dot" -> "vec_dot(array(cast(1 as float)), array(cast(2 as float)))",
    "vec_norm" -> "vec_norm(array(cast(3 as float)))",
    "hamming_dist" -> "hamming_dist(array(1L), array(3L))",
    "shingle_hashes" -> "shingle_hashes('a b c', 2)",
    "word_count" -> "word_count('a b')",
    "regex_token_count" -> "regex_token_count('a b')",
    "stopword_count" -> "stopword_count('the a', array('the'))",
    "bpe_token_count" -> "bpe_token_count('aa', array('aa'))",
    "normalize_spaces" -> "normalize_spaces(' A ')",
    "pii_redact" -> "pii_redact('x@y.org')",
    "char_stats" -> "char_stats('ab')",
    "rd_lat" -> "rd_lat(155000.0d, 463000.0d)",
    "rd_lon" -> "rd_lon(155000.0d, 463000.0d)",
    "vec_sum" -> "vec_sum(array(cast(1 as float)))",
    "top_k" -> "top_k(1.0d, 1L, 1)",
    "top_k_str" -> "top_k_str(1.0d, 'a', 1)",
    "arg_max" -> "arg_max(named_struct('v', 1.0d, 'id', 1L), 'a')",
    "perceptual_hash" -> "perceptual_hash(cast('a' as binary))",
    "cms_estimate" -> "cms_estimate(cast('' as binary), 'x')",
    "bitmap_distinct" -> "bitmap_distinct(1L)",
    "bitmap_agg" -> "bitmap_agg(1L)",
    "bitmap_or_count" -> "bitmap_or_count(cast('' as binary))")

  /** Every table entry resolves through `spark.sql` to its own expression
    * class (analysis only: the sample arguments need not be evaluable). */
  private def assertResolvesAll(s: SparkSession): Unit = {
    assert(sampleCalls.keySet === GraftExtensions.functions.map(_._1.funcName).toSet)
    GraftExtensions.functions.foreach { case (id, info, _) =>
      val plan = s.sql(s"SELECT ${sampleCalls(id.funcName)}").queryExecution.analyzed
      val classes = plan.expressions.flatMap(_.collect { case e => e.getClass.getName })
      assert(classes.contains(info.getClassName),
        s"${id.funcName} did not resolve to ${info.getClassName}:\n$plan")
    }
  }

  override def afterAll(): Unit = {
    previousDefault.foreach { s =>
      SparkSession.setDefaultSession(s)
      SparkSession.setActiveSession(s)
    }
    super.afterAll()
  }

  test("scalar kernels resolve and compute from plain SQL") {
    val r = spark.sql(
      """SELECT word_count('a b c') AS wc,
        |       regex_token_count('ab cd 12') AS rc,
        |       stopword_count('the cat and the hat', array('the', 'and')) AS sc,
        |       normalize_spaces('  A  b   C ') AS ns,
        |       size(shingle_hashes('a b c d', 3)) AS nsh,
        |       round(vec_dot(array(cast(1.0 as float), cast(2.0 as float)),
        |                     array(cast(3.0 as float), cast(4.0 as float))), 6) AS dot,
        |       round(vec_norm(array(cast(3.0 as float), cast(4.0 as float))), 6) AS nrm,
        |       round(rd_lat(155000.0d, 463000.0d), 6) AS lat,
        |       round(rd_lon(155000.0d, 463000.0d), 6) AS lon,
        |       hamming_dist(array(0L, 255L), array(3L, 255L)) AS ham,
        |       bpe_token_count('aaaa ab', array('aa', 'ab')) AS bpe,
        |       pii_redact('mail x@y.org') AS pii,
        |       char_stats('aab') AS cs
        |""".stripMargin).head()
    assert(r.getAs[Int]("wc") === 3)
    assert(r.getAs[Int]("rc") === 3)
    assert(r.getAs[Int]("sc") === 3)
    assert(r.getAs[String]("ns") === "a b c")
    assert(r.getAs[Int]("nsh") === 2)
    assert(r.getAs[Double]("dot") === 11.0)
    assert(r.getAs[Double]("nrm") === 5.0)
    // RD origin of the published transform: Amersfoort
    assert(math.abs(r.getAs[Double]("lat") - 52.155174) < 1e-4)
    assert(math.abs(r.getAs[Double]("lon") - 5.387206) < 1e-4)
    assert(r.getAs[Long]("ham") === 2L) // 0^3 = two bits differ, 255^255 = 0
    assert(r.getAs[Long]("bpe") === 3L) // aaaa -> aa+aa, ab -> ab
    assert(r.getAs[Row]("pii").getAs[Long]("n_emails") === 1L)
    assert(r.getAs[Row]("cs").getAs[Long]("n_chars") === 3L)
    assert(r.getAs[Row]("cs").getAs[Long]("n_distinct") === 2L)
    // and both structs equal their Column-API forms
    val cols = spark.range(1).select(
      TextExpressions.piiRedact(lit("mail x@y.org")).as("pii"),
      TextExpressions.charStats(lit("aab")).as("cs")).head()
    assert(r.getAs[Row]("pii") === cols.getAs[Row]("pii"))
    assert(r.getAs[Row]("cs") === cols.getAs[Row]("cs"))
  }

  test("every function in the table resolves through spark.sql on a factory session") {
    assertResolvesAll(spark)
  }

  test("register gives a session built without extensions the same surface, once") {
    val factory = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val plain = try SparkSession.builder().getOrCreate() finally {
      SparkSession.setDefaultSession(factory)
      SparkSession.setActiveSession(factory)
    }
    assert(plain ne factory)
    val reg = plain.sessionState.functionRegistry
    val ids = GraftExtensions.functions.map(_._1)
    assert(ids.forall(id => !reg.functionExists(id)), "the plain session already had them")
    GraftExtensions.register(plain)
    assertResolvesAll(plain)
    // a second call replaces nothing: every builder is the same object
    val before = ids.map(reg.lookupFunctionBuilder(_).get)
    GraftExtensions.register(plain)
    assert(ids.map(reg.lookupFunctionBuilder(_).get).zip(before).forall { case (a, b) => a eq b })
  }

  test("injected optimizer rule bands unbounded levenshtein comparisons") {
    val s = spark
    import s.implicits._
    // parquet-backed so the optimizer can't constant-fold the whole filter
    val tmp = java.nio.file.Files.createTempDirectory("graft_lev").toString
    Seq(("kitten", "sitting"), ("kitten", "kitten"), ("abc", "zzzzzz"))
      .toDF("a", "b").write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).createOrReplaceTempView("lv")
    val q = spark.sql("SELECT a, b FROM lv WHERE levenshtein(a, b) <= 3")
    // the optimized plan runs the 3-arg banded form, not the full DP
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("Some(3)) >= 0"), s"rewrite missing:\n$opt")
    // and semantics are unchanged (kitten->sitting = 3, identity = 0)
    assert(q.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      Set(("kitten", "sitting"), ("kitten", "kitten")))
    // strict < maps to k-1: distance 3 must now be excluded
    val strict = spark.sql("SELECT count(*) FROM lv WHERE levenshtein(a, b) < 3")
      .head.getLong(0)
    assert(strict === 1L)
  }

  test("native aggregates resolve from SQL and partial-aggregate") {
    val s = spark
    import s.implicits._
    Seq((1L, "a", 3.0, Seq(1.0f, 2.0f)), (2L, "a", 7.0, Seq(3.0f, 4.0f)),
        (3L, "b", 5.0, Seq(10.0f, 20.0f)))
      .toDF("id", "g", "v", "emb").createOrReplaceTempView("t")
    val top = spark.sql(
      """SELECT g, top_k(v, id, 1) AS top, vec_sum(emb) AS vs
        |FROM t GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(top.length === 2)
    val a = top(0)
    assert(a.getAs[Seq[org.apache.spark.sql.Row]]("top").head.getLong(1) === 2L)
    assert(a.getAs[Seq[Double]]("vs") === Seq(4.0, 6.0))
    val b = top(1)
    assert(b.getAs[Seq[org.apache.spark.sql.Row]]("top").head.getLong(1) === 3L)
    // the SQL aggregate runs with a map-side partial, same as the Column form
    val plan = spark.sql("SELECT g, top_k(v, id, 1) FROM t GROUP BY g")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k"), s"no partial aggregation:\n$plan")
  }

  test("arg_max and perceptual_hash resolve from SQL") {
    val s = spark
    import s.implicits._
    Seq((1L, "a", 3.0, "lo"), (2L, "a", 7.0, "hi"), (3L, "b", 5.0, "only"))
      .toDF("id", "g", "v", "name").createOrReplaceTempView("am")
    val r = spark.sql(
      """SELECT g, arg_max(named_struct('v', v, 'id', id), name) AS w
        |FROM am GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(r.map(x => x.getString(0) -> x.getString(1)).toSeq ===
      Seq("a" -> "hi", "b" -> "only"))
    // perceptual_hash('') = all-zero bands; spec equality for real bytes
    val ph = spark.sql(
      "SELECT perceptual_hash(cast('abc' as binary)) AS p," +
        " perceptual_hash(cast('' as binary)) AS z").head()
    assert(ph.getSeq[Long](0) ===
      graft.llm.PhashRef.phash("abc".getBytes("UTF-8")).toSeq)
    assert(ph.getSeq[Long](1) === Seq(0L, 0L, 0L, 0L))
  }

  test("cms_estimate resolves from SQL through the extension") {
    val r = spark.sql(
      """WITH sk AS (SELECT count_min_sketch(t, 0.001d, 0.99d, 7) AS s
        |  FROM (SELECT explode(array('x','x','x','y')) AS t))
        |SELECT cms_estimate(s, 'x') AS ex, cms_estimate(s, 'y') AS ey
        |FROM sk""".stripMargin).head()
    assert(r.getAs[Long]("ex") === 3L && r.getAs[Long]("ey") === 1L)
  }

  test("bitmap_distinct resolves from SQL and matches count(distinct)") {
    val r = spark.sql(
      """SELECT g, bitmap_distinct(id) AS bd, count(DISTINCT id) AS cd
        |FROM (SELECT pmod(v, 2) AS g, pmod(v, 700) AS id
        |      FROM (SELECT explode(sequence(0, 4999)) AS v))
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(r.length === 2)
    r.foreach(row => assert(row.getAs[Long]("bd") === row.getAs[Long]("cd")))
  }
}
