package graft.llm

/** The scala-side executable spec of the perceptual-hash kernel
  * ([[graft.functions.PerceptualHash]]), which the specs compare it to. */
object PhashRef {

  /** 64-bit average-hash over the payload as 4 x 16-bit bands (see
    * [[Multimodal.perceptualHash]]): bit j = 1 iff
    * sum(block j) * n > total * count(block j), block j = byte
    * positions congruent to j mod 64 — integer-only, no division. */
  def phash(payload: Array[Byte]): Array[Long] = {
    // s_j * n <= 255 * n^2 / 64 stays under 2^63 only for n <= ~1.5e9:
    // a larger payload fails loudly instead of wrapping the compare
    require(payload.length <= 1500000000,
      s"phash: payload of ${payload.length} bytes exceeds the integer-exact bound")
    val sums = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      sums(i % 64) += b
      total += b
      i += 1
    }
    val n = payload.length.toLong
    val bands = new Array[Long](4)
    var j = 0
    while (j < 64) {
      val cj = if (n > j) (n - j + 63) / 64 else 0L
      if (sums(j) * n > total * cj) bands(j / 16) |= (1L << (j % 16))
      j += 1
    }
    bands
  }
}
