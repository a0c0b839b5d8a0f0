package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType

/**
 * SparkSessionExtensions entry point:
 * `--conf spark.sql.extensions=graft.functions.GraftExtensions` registers
 * the library's full native-function surface in every session of the
 * cluster, so plain `spark.sql` users (notebooks, JDBC, SQL pipelines) get
 * the codegen'd kernels and bounded-state aggregates without touching the
 * Scala API. Scalar args that parameterize codegen (shingle width, top-k
 * size, stopword lists) must be literals — evaluated once at resolution.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rules: rewrite unbounded levenshtein comparisons into the
    // banded thresholded form (see graft.plans.BoundedLevenshtein)
    ext.injectOptimizerRule(_ => graft.plans.BoundedLevenshtein)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private def litInt(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()
  private def litStrings(e: Expression): Seq[String] = e.eval() match {
    case a: ArrayData =>
      a.toObjectArray(StringType).map(_.toString).toSeq
    case other => throw new IllegalArgumentException(
      s"expected a string-array literal, got $other")
  }

  private def fn[E <: Expression](name: String)(build: Seq[Expression] => E)(
      implicit ct: ClassTag[E]): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(ct.runtimeClass.getName, name), build)

  /** The library's SQL surface: every function, once. Aggregates are
    * bare AggregateFunctions — the analyzer wraps a registry builder's
    * result into an AggregateExpression. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("vec_dot")(e => FloatVecDot(e(0), e(1))),
    fn("vec_norm")(e => FloatVecNorm(e(0))),
    fn("hamming_dist")(e => PackedHamming(e(0), e(1))),
    fn("shingle_hashes")(e => ShingleHashes(e(0), litInt(e(1)))),
    fn("word_count")(e => WordCount(e(0))),
    fn("regex_token_count")(e => RegexTokenCount(e(0))),
    fn("stopword_count")(e => StopwordCount(e(0), litStrings(e(1)))),
    fn("bpe_token_count")(e => BpeTokenCount(e(0), litStrings(e(1)))),
    fn("normalize_spaces")(e => NormalizeSpaces(e(0))),
    fn("pii_redact")(e => PiiRedact(e(0))),
    fn("char_stats")(e => CharStats(e(0))),
    fn("rd_lat")(e => RdToLat(e(0), e(1))),
    fn("rd_lon")(e => RdToLon(e(0), e(1))),
    fn("vec_sum")(e => VecSum(e(0))),
    fn("top_k")(e => TopK(e(0), e(1), litInt(e(2)))),
    fn("top_k_str")(e => TopKStr(e(0), e(1), litInt(e(2)))),
    fn("arg_max")(e => ArgMax(e(0), e(1))),
    fn("perceptual_hash")(e => PerceptualHash(e(0))),
    fn("cms_estimate")(e => CmsEstimate(e(0), e(1))),
    fn("bitmap_distinct")(e => BitmapDistinct(e(0))),
    fn("bitmap_agg")(e => BitmapAgg(e(0))),
    fn("bitmap_or_count")(e => BitmapOrCount(e(0))))

  /** The same surface for a session that already exists (extensions bind
    * only when a session is built). Functions already present are skipped,
    * so a second call does nothing. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (id, _, build) =>
      if (!reg.functionExists(id))
        reg.createOrReplaceTempFunction(id.funcName, build, "built-in")
    }
  }
}
