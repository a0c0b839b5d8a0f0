package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for embedding math — the whole-stage-codegen
 * path for the similarity operators.
 *
 * Spark's higher-order functions (zip_with/aggregate) are CodegenFallback:
 * every element round-trips through boxed lambda evaluation, which made the
 * all-pairs cosine baseline ~75% of total bench time at sf0.1. These
 * expressions generate a tight primitive loop over the ArrayData instead
 * (no boxing, no per-element virtual calls) and participate fully in
 * WholeStageCodegen.
 *
 * Accumulation is sequential in element order with double precision — the
 * same fold the DuckDB oracle's list_aggregate performs, so results stay
 * bit-identical across engines.
 */
object VectorExpressions {

  /** Register vec_dot / vec_norm as temp functions on a session (idempotent).
    * For spark.sql.extensions users, [[GraftExtensions]] injects the same. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("vec_dot",
      exprs => FloatVecDot(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("vec_norm",
      exprs => FloatVecNorm(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction("hamming_dist",
      exprs => PackedHamming(exprs(0), exprs(1)), "built-in")
  }

  import org.apache.spark.sql.graft.ColumnBridge

  /** Column bindings for the literal-model serve kernels (r13) — no
    * registry needed; models are Scala-side literals by construction. */
  def nearestSeed(e: org.apache.spark.sql.Column, clusterIds: Seq[Long],
                  seeds: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    ColumnBridge.column(NearestSeed(ColumnBridge.expression(e), clusterIds, seeds))

  def pcaScore(e: org.apache.spark.sql.Column, mu: Seq[Double],
               pc: Seq[Double]): org.apache.spark.sql.Column =
    ColumnBridge.column(PcaScore(ColumnBridge.expression(e), mu, pc))

  def pcaResid2(e: org.apache.spark.sql.Column, mu: Seq[Double],
                pc: Seq[Double]): org.apache.spark.sql.Column =
    ColumnBridge.column(PcaResid2(ColumnBridge.expression(e), mu, pc))
}

/** dot(a, b) over array<float> with double accumulation. */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** L2 norm over array<float> with double accumulation. */
case class FloatVecNorm(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_norm expects array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val v = x.getFloat(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |int $n = $x.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $x.getFloat($i);
         |  $s += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FloatVecNorm =
    copy(child = newChild)
}

/**
 * nearest_seed(embedding) over array<float> against a literal seed table
 * `(cluster_id, centroid)` — the codegen form of the v23/v25/x45
 * assignment rule:
 *   element_at(array_sort(array(struct(round(dist2_cid, 6), cid)...)), 1)
 * For each seed IN TABLE ORDER: squared-L2 accumulates sequentially in
 * double over the float-widened elements, rounds to 6 with EXACTLY
 * Spark's Round semantics (BigDecimal.valueOf(x).setScale(6, HALF_UP) —
 * asserted bit-equal to the HOF form in VectorKernelSpec), and the
 * winner is the lexicographic min of (rounded dist2, cluster_id), which
 * strict-less-than over ascending table order reproduces. Output:
 * struct(dist2 double, cluster_id long) — the same shape `element_at`
 * returns, so consumers read fields unchanged.
 *
 * The interpreted form it replaces ran 8 zip_with + 8 aggregate lambdas
 * per row (HigherOrderFunctions are CodegenFallback) — measured at
 * ~2/3 of the x45 serve scan. A dimension mismatch between embedding
 * and a seed ERRORS (the HOF form would null-pad and produce a NULL
 * dist2 that array_sort orders*, silently mis-assigning; no vector in
 * any internal path has ragged dims, so fail-loud wins — the
 * PackedHamming policy).
 */
case class NearestSeed(child: Expression, clusterIds: Seq[Long],
                       seeds: Seq[Seq[Double]])
    extends UnaryExpression {
  require(clusterIds.length == seeds.length && seeds.nonEmpty,
    "nearest_seed needs one cluster id per seed and at least one seed")
  // ascending ids make "strict less-than in table order" the lexicographic
  // min of (dist2, cluster_id) — the array_sort tie-break being replaced
  require(clusterIds.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
    "nearest_seed needs strictly ascending cluster ids")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_seed expects array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("dist2", DoubleType, nullable = false),
    StructField("cluster_id", LongType, nullable = false)))
  override def prettyName: String = "nearest_seed"

  @transient private lazy val cidArr: Array[Long] = clusterIds.toArray
  @transient private lazy val seedArr: Array[Array[Double]] =
    seeds.map(_.toArray).toArray

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    VectorKernels.nearestSeed(x, cidArr, seedArr)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("cids", cidArr, "long[]")
    val seedsRef = ctx.addReferenceObj("seeds", seedArr, "double[][]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.VectorKernels.nearestSeed($x, $cidsRef, $seedsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestSeed =
    copy(child = newChild)
}

/**
 * pca_score(embedding) over array<float> with literal (mu, pc): the
 * centered projection Σ_d (x_d - mu_d) * pc_d, sequential double fold —
 * the codegen form of v26/x45's
 * `aggregate(zip_with(__c, pcLit, (c, p) -> c * p), 0.0, +)` where
 * `__c = zip_with(cast(embedding as array<double>), muLit, (x, m) -> x - m)`.
 * (double)getFloat(d) - mu_d is bit-identical to the cast-then-subtract
 * HOF chain. Dimension mismatch errors (same policy as nearest_seed).
 */
case class PcaScore(child: Expression, mu: Seq[Double], pc: Seq[Double])
    extends UnaryExpression {
  require(mu.length == pc.length && mu.nonEmpty,
    "pca_score needs equal-length non-empty mu and pc")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pca_score expects array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pca_score"

  @transient private lazy val muArr: Array[Double] = mu.toArray
  @transient private lazy val pcArr: Array[Double] = pc.toArray

  override def nullSafeEval(a: Any): Any =
    VectorKernels.pcaScore(a.asInstanceOf[ArrayData], muArr, pcArr)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("mu", muArr, "double[]")
    val pcRef = ctx.addReferenceObj("pc", pcArr, "double[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.VectorKernels.pcaScore($x, $muRef, $pcRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): PcaScore =
    copy(child = newChild)
}

/**
 * pca_resid2(embedding) with literal (mu, pc): the squared residual
 * Σ_d (c_d - s * pc_d)^2 where c_d = x_d - mu_d and s is the SAME
 * sequential-fold score as [[PcaScore]] (recomputed internally — the
 * fold is deterministic, so the value is bit-identical to reading the
 * score column; the HOF projection this replaces also re-evaluated the
 * score expression after CollapseProject inlined it). Consumers keep
 * their Spark-side round(·, 6).
 */
case class PcaResid2(child: Expression, mu: Seq[Double], pc: Seq[Double])
    extends UnaryExpression {
  require(mu.length == pc.length && mu.nonEmpty,
    "pca_resid2 needs equal-length non-empty mu and pc")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pca_resid2 expects array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pca_resid2"

  @transient private lazy val muArr: Array[Double] = mu.toArray
  @transient private lazy val pcArr: Array[Double] = pc.toArray

  override def nullSafeEval(a: Any): Any =
    VectorKernels.pcaResid2(a.asInstanceOf[ArrayData], muArr, pcArr)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val muRef = ctx.addReferenceObj("mu", muArr, "double[]")
    val pcRef = ctx.addReferenceObj("pc", pcArr, "double[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.VectorKernels.pcaResid2($x, $muRef, $pcRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): PcaResid2 =
    copy(child = newChild)
}

/** Shared eval bodies for the serve kernels — one implementation for both
  * the interpreted and codegen paths, so they cannot drift. */
object VectorKernels {
  private def dims(x: ArrayData, expected: Int, who: String): Int = {
    val n = x.numElements()
    if (n != expected)
      throw new IllegalArgumentException(
        s"$who: embedding has $n dims, model has $expected")
    n
  }

  /** Spark's Round(DoubleType, 6) semantics, verbatim: NaN and ±Inf pass
    * through unrounded (BigDecimal has no representation for them). */
  private def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def nearestSeed(x: ArrayData, cids: Array[Long],
                  seeds: Array[Array[Double]]): org.apache.spark.sql.catalyst.InternalRow = {
    var bestR = Double.PositiveInfinity
    var bestC = 0L
    var first = true
    var c = 0
    while (c < seeds.length) {
      val s = seeds(c)
      val n = dims(x, s.length, "nearest_seed")
      var acc = 0.0
      var d = 0
      while (d < n) {
        val diff = x.getFloat(d).toDouble - s(d)
        acc += diff * diff
        d += 1
      }
      val r = round6(acc)
      // strict less-than over ascending (cluster_id) table order ==
      // lexicographic min of (dist2, cluster_id), incl. NaN never winning
      // after the first seed (matches array_sort's double ordering only
      // for finite values — finite by construction here)
      if (first || r < bestR) { bestR = r; bestC = cids(c); first = false }
      c += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestR, bestC))
  }

  def pcaScore(x: ArrayData, mu: Array[Double], pc: Array[Double]): Double = {
    val n = dims(x, mu.length, "pca_score")
    var s = 0.0
    var d = 0
    while (d < n) { s += (x.getFloat(d).toDouble - mu(d)) * pc(d); d += 1 }
    s
  }

  def pcaResid2(x: ArrayData, mu: Array[Double], pc: Array[Double]): Double = {
    val s = pcaScore(x, mu, pc)
    val n = x.numElements()
    var r = 0.0
    var d = 0
    while (d < n) {
      val c = x.getFloat(d).toDouble - mu(d)
      val t = c - s * pc(d)
      r += t * t
      d += 1
    }
    r
  }
}

/**
 * hamming_dist(a, b) over two sign-bit-packed array<bigint> (see
 * [[graft.llm.Similarity.signBits]]): sum of Long.bitCount(x ^ y) per
 * word. The binary-ANN hot loop — one popcount instruction per 32 packed
 * dims where the HOF form (zip_with + aggregate) boxes every word through
 * lambda eval. Integer-exact by construction.
 *
 * Mismatched word counts ERROR (a truncated signature would silently
 * rank as artificially close; the HOF form yields NULL there — neither
 * is a distance, and the kernel fails loudly rather than guess). NULL
 * *elements* inside a packed array error for the same reason: getLong on
 * a null slot would contribute garbage to the distance. (The HOF form
 * null-propagates there — documented divergence, same policy as length:
 * a non-distance is never returned by either form; [[graft.llm
 * .Similarity.signBits]] never emits null elements, so internal paths
 * are unaffected.)
 */
case class PackedHamming(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e => e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hamming_dist expects (array<bigint>, array<bigint>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "hamming_dist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements())
      throw new IllegalArgumentException(
        s"hamming_dist: packed signatures differ in length ($n vs ${y.numElements()})")
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i))
        throw new IllegalArgumentException(
          s"hamming_dist: null element at word $i in packed signature")
      s += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i))
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "hamming_dist: packed signatures differ in length (" + $n +
         |    " vs " + $y.numElements() + ")");
         |}
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i) || $y.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "hamming_dist: null element at word " + $i + " in packed signature");
         |  }
         |  $s += java.lang.Long.bitCount($x.getLong($i) ^ $y.getLong($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PackedHamming =
    copy(left = newLeft, right = newRight)
}

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
  private def litInt(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()
  private def litStrings(e: Expression): Seq[String] = e.eval() match {
    case a: ArrayData =>
      a.toObjectArray(StringType).map(_.toString).toSeq
    case other => throw new IllegalArgumentException(
      s"expected a string-array literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer rules: rewrite unbounded levenshtein comparisons into the
    // banded thresholded form (see graft.plans.BoundedLevenshtein)
    ext.injectOptimizerRule(_ => graft.plans.BoundedLevenshtein)
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => FloatVecDot(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[FloatVecNorm].getName, "vec_norm"),
      (exprs: Seq[Expression]) => FloatVecNorm(exprs(0))))
    ext.injectFunction((FunctionIdentifier("hamming_dist"),
      new ExpressionInfo(classOf[PackedHamming].getName, "hamming_dist"),
      (exprs: Seq[Expression]) => PackedHamming(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (exprs: Seq[Expression]) => ShingleHashes(exprs(0), litInt(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("word_count"),
      new ExpressionInfo(classOf[WordCount].getName, "word_count"),
      (exprs: Seq[Expression]) => WordCount(exprs(0))))
    ext.injectFunction((FunctionIdentifier("regex_token_count"),
      new ExpressionInfo(classOf[RegexTokenCount].getName, "regex_token_count"),
      (exprs: Seq[Expression]) => RegexTokenCount(exprs(0))))
    ext.injectFunction((FunctionIdentifier("stopword_count"),
      new ExpressionInfo(classOf[StopwordCount].getName, "stopword_count"),
      (exprs: Seq[Expression]) => StopwordCount(exprs(0), litStrings(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[BpeTokenCount].getName, "bpe_token_count"),
      (exprs: Seq[Expression]) => BpeTokenCount(exprs(0), litStrings(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("normalize_spaces"),
      new ExpressionInfo(classOf[NormalizeSpaces].getName, "normalize_spaces"),
      (exprs: Seq[Expression]) => NormalizeSpaces(exprs(0))))
    ext.injectFunction((FunctionIdentifier("rd_lat"),
      new ExpressionInfo(classOf[RdToLat].getName, "rd_lat"),
      (exprs: Seq[Expression]) => RdToLat(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("rd_lon"),
      new ExpressionInfo(classOf[RdToLon].getName, "rd_lon"),
      (exprs: Seq[Expression]) => RdToLon(exprs(0), exprs(1))))
    // aggregates: the analyzer wraps a bare AggregateFunction from a
    // registry builder into an AggregateExpression
    ext.injectFunction((FunctionIdentifier("vec_sum"),
      new ExpressionInfo(classOf[VecSum].getName, "vec_sum"),
      (exprs: Seq[Expression]) => VecSum(exprs(0))))
    ext.injectFunction((FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[TopK].getName, "top_k"),
      (exprs: Seq[Expression]) => TopK(exprs(0), exprs(1), litInt(exprs(2)))))
    ext.injectFunction((FunctionIdentifier("top_k_str"),
      new ExpressionInfo(classOf[TopKStr].getName, "top_k_str"),
      (exprs: Seq[Expression]) => TopKStr(exprs(0), exprs(1), litInt(exprs(2)))))
    ext.injectFunction((FunctionIdentifier("arg_max"),
      new ExpressionInfo(classOf[ArgMax].getName, "arg_max"),
      (exprs: Seq[Expression]) => ArgMax(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("perceptual_hash"),
      new ExpressionInfo(classOf[PerceptualHash].getName, "perceptual_hash"),
      (exprs: Seq[Expression]) => PerceptualHash(exprs(0))))
    ext.injectFunction((FunctionIdentifier("cms_estimate"),
      new ExpressionInfo(classOf[CmsEstimate].getName, "cms_estimate"),
      (exprs: Seq[Expression]) => CmsEstimate(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("bitmap_distinct"),
      new ExpressionInfo(classOf[BitmapDistinct].getName, "bitmap_distinct"),
      (exprs: Seq[Expression]) => BitmapDistinct(exprs(0))))
    ext.injectFunction((FunctionIdentifier("bitmap_agg"),
      new ExpressionInfo(classOf[BitmapAgg].getName, "bitmap_agg"),
      (exprs: Seq[Expression]) => BitmapAgg(exprs(0))))
    ext.injectFunction((FunctionIdentifier("bitmap_or_count"),
      new ExpressionInfo(classOf[BitmapOrCount].getName, "bitmap_or_count"),
      (exprs: Seq[Expression]) => BitmapOrCount(exprs(0))))
  }
}
