package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions.{vecDot, vecNorm}

/** Reference forms that the specs hold [[Similarity]]'s kernels to. */
object SimilarityRef {

  /** Left-fold dot product with float->double widening; element order is
    * the array order, so the result is bit-stable across engines.
    * HOF (codegen-fallback) form; the native codegen'd vec_dot/vec_norm
    * expressions ([[graft.functions.VectorExpressions]]) compute the
    * identical sequential fold ~40x faster. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * All pairs (a < b) with rounded cosine >= minCos. Quadratic — the
   * verification oracle for [[Similarity.cosinePairsGrid]] and
   * [[Similarity.annLsh]] at small scale factors.
   */
  def cosinePairs(emb: DataFrame, minCos: Double): DataFrame = {
    val n = emb
      .select(col("vec_id"), col("embedding"), vecNorm(col("embedding")).as("nrm"))
    val a = n.select(col("vec_id").as("id_a"), col("embedding").as("e_a"), col("nrm").as("nrm_a"))
    val b = n.select(col("vec_id").as("id_b"), col("embedding").as("e_b"), col("nrm").as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      // zero-norm vectors: ANSI division ERRORS on the 0/0; try_divide
      // yields NULL instead, and the null-rejecting filter below then
      // drops the pair — matching the grid kernel, whose scala-side 0/0
      // is NaN and fails its `>=`. (A bare non-try `/` plus `cos >=
      // minCos` would either crash (ANSI) or, with NaN, KEEP the pair:
      // Spark's NaN-safe ordering ranks NaN ABOVE every number.)
      .withColumn("cos",
        round(try_divide(vecDot(col("e_a"), col("e_b")), col("nrm_a") * col("nrm_b")), 6))
      .filter(!isnan(col("cos")) && col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }
}
