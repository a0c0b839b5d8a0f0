package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/**
 * Point-estimate reader for Spark's built-in `count_min_sketch` aggregate
 * — the third sketch next to the HLL distinct (a08) and the quantile
 * sketches (a16): mergeable heavy-hitter frequency estimation, the
 * token-statistics workhorse when exact per-term counts would shuffle the
 * full vocabulary. The BUILD side is the engine-native CountMinSketchAgg
 * (TypedImperativeAggregate, map-side partial merge — one sketch per
 * partition moves, never the tokens); what Spark lacks is the query side:
 * `cms_estimate(sketch, item)` evaluates a serialized sketch at a point.
 *
 * String hashing matches CountMinSketchAgg's update (which adds strings as
 * their UTF-8 bytes), so estimates over a SQL-built sketch are exact for
 * the agg's own universe: est >= true count always, and
 * est <= true + ceil(eps * N) with confidence 1 - delta (Cormode &
 * Muthukrishnan 2005) — a20 registers that bound as a hash-checked audit.
 */
object SketchKernels {

  // The sketch argument is a scalar in every sane plan (one corpus-wide
  // sketch probed by many rows), so cache the last deserialization per
  // thread keyed by ARRAY IDENTITY: a Literal sketch hands the same
  // backing array to every eval and deserializes once per task. A
  // non-literal sketch column still evaluates correctly — it just pays
  // the readFrom per distinct array instance.
  private val last = new ThreadLocal[(Array[Byte], CountMinSketch)]

  def cmsEstimate(bin: Array[Byte], item: UTF8String): Long = {
    var e = last.get()
    if (e == null || (e._1 ne bin)) {
      e = (bin, CountMinSketch.readFrom(new ByteArrayInputStream(bin)))
      last.set(e)
    }
    e._2.estimateCount(item.getBytes)
  }
}

/** cms_estimate(sketch binary, item string) -> bigint estimated count. */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cms_estimate expects (binary, string), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override def nullSafeEval(sketch: Any, item: Any): Any =
    SketchKernels.cmsEstimate(sketch.asInstanceOf[Array[Byte]],
      item.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, i) =>
      s"${ev.value} = graft.functions.SketchKernels.cmsEstimate($s, $i);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

object SketchExpressions {

  def cmsEstimate(sketch: Column, item: Column): Column =
    ColumnBridge.column(CmsEstimate(
      ColumnBridge.expression(sketch), ColumnBridge.expression(item)))
}
