package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/**
 * Native kernels over opaque media payloads (`binary` columns).
 *
 * [[PerceptualHash]] is the multimodal near-dup hot loop
 * ([[graft.llm.Multimodal.phashNearDup]], reference pipeline: aHash over
 * downsampled pixel luminance; here the IDENTICAL shape over payload
 * bytes — see the codec-stub contract in Multimodal's scaladoc). The r5
 * form ran through typed-Dataset `mapPartitions`, which forces a
 * DeserializeToObject/SerializeFromObject pair around the scan — every
 * payload byte-array surfaces as a JVM object and the row re-encodes —
 * while this Expression is one generated byte loop inside
 * WholeStageCodegen, reading the payload directly from the columnar
 * batch. Same standard as the engine's other kernels (hamming_dist,
 * bpe_token_count); LlmOpsSpec holds it to a scala-side executable spec
 * of the same bit rule, property-tested equal.
 */
object MediaExpressions {

  /** Column binding: 64-bit average-hash as array<bigint> of 4 x 16-bit
    * bands (band b = bits [16b, 16b+16)). */
  def perceptualHash(payload: Column): Column =
    ColumnBridge.column(PerceptualHash(ColumnBridge.expression(payload)))
}

/**
 * perceptual_hash(binary) -> array<bigint> (4 elements, 16 meaningful bits
 * each): block j = byte positions congruent to j mod 64; bit j = 1 iff the
 * block's byte sum exceeds the payload mean over the block, compared
 * multiplication-only (s_j * n > total * c_j, c_j = ceil((n-j)/64)) so no
 * division ever rounds — integer-exact and cross-engine hash-stable.
 * Payloads past the s_j * n < 2^63 bound (~1.5 GB) FAIL loudly instead of
 * wrapping the compare; an empty payload hashes to all-zero bands.
 */
case class PerceptualHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"perceptual_hash expects binary, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "perceptual_hash"

  override def nullSafeEval(a: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      PerceptualHash.hash(a.asInstanceOf[Array[Byte]]))

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      // one long[64] scratch per operator instance, reused across rows
      val sums = ctx.addMutableState("long[]", "phashSums",
        v => s"$v = new long[64];")
      val n = ctx.freshName("n")
      val total = ctx.freshName("total")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val bands = ctx.freshName("bands")
      val j = ctx.freshName("j")
      val cj = ctx.freshName("cj")
      s"""
         |int $n = $x.length;
         |if ($n > 1500000000) {
         |  throw new IllegalArgumentException(
         |    "perceptual_hash: payload of " + $n + " bytes exceeds the integer-exact bound");
         |}
         |java.util.Arrays.fill($sums, 0L);
         |long $total = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  int $b = $x[$i] & 0xff;
         |  $sums[$i & 63] += $b;
         |  $total += $b;
         |}
         |long[] $bands = new long[4];
         |for (int $j = 0; $j < 64; $j++) {
         |  long $cj = ($n > $j) ? ((long) ($n - $j + 63)) / 64L : 0L;
         |  if ($sums[$j] * (long) $n > $total * $cj) {
         |    $bands[$j >> 4] |= (1L << ($j & 15));
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($bands);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PerceptualHash =
    copy(child = newChild)
}

object PerceptualHash {
  /** Interpreted kernel (the non-codegen eval path) — same arithmetic as
    * the generated loop and as the specs' executable spec of the bit rule. */
  def hash(payload: Array[Byte]): Array[Long] = {
    val n = payload.length
    if (n > 1500000000)
      throw new IllegalArgumentException(
        s"perceptual_hash: payload of $n bytes exceeds the integer-exact bound")
    val sums = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < n) {
      val b = payload(i) & 0xff
      sums(i & 63) += b
      total += b
      i += 1
    }
    val bands = new Array[Long](4)
    var j = 0
    while (j < 64) {
      val cj = if (n > j) (n.toLong - j + 63) / 64L else 0L
      if (sums(j) * n.toLong > total * cj) bands(j >> 4) |= (1L << (j & 15))
      j += 1
    }
    bands
  }
}
