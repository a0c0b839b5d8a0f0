package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * r13 serve-kernel mirror: the codegen NearestSeed / PcaScore / PcaResid2
 * expressions must be BIT-identical to the interpreted HOF chains they
 * replace in v23/v25/v26/x45 — same sequential double fold, same
 * float-widening, same Round(HALF_UP, 6) — because those queries are
 * hash-compared against a DuckDB oracle that mirrors the HOF semantics.
 * The synthetic corpus deliberately includes duplicated vectors (exact
 * dist2 ties across seeds, exercising the cluster-id tie-break) and
 * near-tie magnitudes where a fused-multiply or reordered fold would
 * flip the 6th decimal.
 */
class VectorKernelSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("vector-kernel-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dim = 64

  /** Deterministic float corpus: hash-derived mantissas, a planted
    * duplicate pair per 50 ids (tie exercise), plus the 8 seed rows. */
  private def corpus(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val base = if (i >= 16 && i % 50 == 0) i - 1 else i // duplicates
      val v = Array.tabulate(dim)(d =>
        (math.sin(base * 31 + d * 7) * (1 + (base % 5))).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private def seedsOf(df: org.apache.spark.sql.DataFrame) = df
    .filter(col("vec_id") < 8)
    .select(col("vec_id"), col("embedding").cast("array<double>"))
    .collect()
    .map(r => r.getLong(0) -> r.getSeq[Double](1))
    .sortBy(_._1)

  /** (vec_id, d, c) from the HOF chain nearest_seed replaces, and from the kernel. */
  private def nearestBoth(emb: org.apache.spark.sql.DataFrame,
      seeds: Array[(Long, Seq[Double])]) = {
    val scored = array(seeds.map { case (cid, c) =>
      val cArr = array(c.map(lit): _*)
      struct(
        round(aggregate(
          zip_with(col("__e"), cArr, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, v) => acc + v), 6).as("dist2"),
        lit(cid).as("cluster_id"))
    }.toIndexedSeq: _*)
    val hof = emb.withColumn("__e", col("embedding").cast("array<double>"))
      .withColumn("__best", element_at(array_sort(scored), 1))
      .select(col("vec_id"), col("__best.dist2").as("d"),
        col("__best.cluster_id").as("c"))
    val kern = emb.withColumn("__best",
        VectorExpressions.nearestSeed(col("embedding"),
          seeds.map(_._1).toSeq, seeds.map(_._2.toSeq).toSeq))
      .select(col("vec_id"), col("__best.dist2").as("d"),
        col("__best.cluster_id").as("c"))
    (hof, kern)
  }

  test("nearest_seed == element_at(array_sort(round-6 HOF structs), 1) bit-for-bit") {
    val emb = corpus(600)
    val (hof, kern) = nearestBoth(emb, seedsOf(emb))
    val diff = hof.join(kern, Seq("vec_id"))
    assert(diff.count() == 600)
    val bad = hof.alias("h").join(kern.alias("k"), Seq("vec_id"))
      .filter(col("h.c") =!= col("k.c") ||
        // bitwise double compare: NaN-safe eqNullSafe is not enough for
        // -0.0 vs 0.0, so compare the raw bits
        expr("cast(h.d as string) != cast(k.d as string)"))
    assert(bad.count() == 0, s"nearest_seed drifted: ${bad.take(3).mkString}")
    // duplicated vectors exist -> at least one exact cross-row tie class
    // exercised the deterministic rule (same inputs, same winner)
  }

  test("pca_score / pca_resid2 == the v26 HOF folds bit-for-bit") {
    val emb = corpus(600)
    // a plausible (mu, pc): per-dim mean of the first 128 rows; pc = a
    // float-rounded unit-ish vector (what pcaPower emits)
    val sample = emb.filter(col("vec_id") < 128)
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val mu = Array.tabulate(dim)(d => sample.map(_(d)).sum / sample.length)
    val pc = Array.tabulate(dim)(d =>
      (math.cos(d * 3 + 1) / 8.0).toFloat.toDouble)
    val muLit = array(mu.map(lit).toIndexedSeq: _*)
    val pcLit = array(pc.map(lit).toIndexedSeq: _*)
    val hof = emb.withColumn("__c",
        zip_with(col("embedding").cast("array<double>"), muLit, (x, m) => x - m))
      .withColumn("__score",
        aggregate(zip_with(col("__c"), pcLit, (c, p) => c * p),
          lit(0.0), (a, x) => a + x))
      .select(col("vec_id"), col("__score").as("s"),
        aggregate(zip_with(col("__c"), pcLit,
          (c, p) => (c - col("__score") * p) * (c - col("__score") * p)),
          lit(0.0), (a, x) => a + x).as("r"))
    val kern = emb.select(col("vec_id"),
      VectorExpressions.pcaScore(col("embedding"), mu.toSeq, pc.toSeq).as("s"),
      VectorExpressions.pcaResid2(col("embedding"), mu.toSeq, pc.toSeq).as("r"))
    val bad = hof.alias("h").join(kern.alias("k"), Seq("vec_id"))
      .filter(expr("cast(h.s as string) != cast(k.s as string)") ||
        expr("cast(h.r as string) != cast(k.r as string)"))
    assert(bad.count() == 0, s"pca kernels drifted: ${bad.take(3).mkString}")
  }

  test("nearest_seed passes NaN and +Inf distances through, as round(x, 6) does") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(Float.NaN, 1.0f)),
      (2L, Array(Float.PositiveInfinity, 1.0f)),
      (3L, Array(Float.NegativeInfinity, 1.0f)),
      (4L, Array(0.5f, 1.0f))).toDF("vec_id", "embedding")
    val seeds = Array(0L -> Seq(0.0, 0.0), 1L -> Seq(1.0, 1.0))
    val (hof, kern) = nearestBoth(emb, seeds)
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("vec_id").collect().toSeq
      .map(r => (r.getLong(0), r.getDouble(1).toString, r.getLong(2)))
    assert(rows(kern) === Seq((1L, "NaN", 0L), (2L, "Infinity", 0L),
      (3L, "Infinity", 0L), (4L, "0.25", 1L)))
    assert(rows(kern) === rows(hof))
  }

  test("nearest_seed / pca_score / pca_resid2 fail loudly on a null element, codegen and interpreted") {
    // the null is data-dependent, so no constant folding evaluates it early
    val emb = spark.range(2).select(col("id").as("vec_id"),
      array(lit(1.0f), when(col("id") === 1, lit(null)).otherwise(lit(2.0f)).cast("float"))
        .as("embedding"))
    val kernels = Seq(
      "nearest_seed" -> VectorExpressions.nearestSeed(col("embedding"),
        Seq(0L, 1L), Seq(Seq(0.0, 0.0), Seq(1.0, 1.0))),
      "pca_score" -> VectorExpressions.pcaScore(col("embedding"), Seq(0.0, 0.0), Seq(1.0, 0.0)),
      "pca_resid2" -> VectorExpressions.pcaResid2(col("embedding"), Seq(0.0, 0.0), Seq(1.0, 0.0)))
    val paths = Seq(
      "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
      "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((name, kernel) <- kernels; (path, confs) <- paths) {
      val prev = confs.keys.map(k => k -> spark.conf.getOption(k))
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val ex = intercept[Exception](emb.select(kernel.as("k")).collect())
        val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
          .map(e => String.valueOf(e.getMessage)).mkString(" | ")
        assert(msgs.contains(s"$name: null element at dim 1 in embedding"), s"$path: $msgs")
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("nearest_seed fails loudly on ragged dims") {
    import spark.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      df.select(VectorExpressions.nearestSeed(col("embedding"),
        Seq(0L), Seq(Seq(1.0, 2.0, 3.0)))).collect()
    }
    assert(ex.getMessage != null)
  }
}
