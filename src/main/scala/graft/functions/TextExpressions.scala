package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression for w-word shingle hashing — the hot inner
 * kernel of every near-dup operator (n-gram Jaccard, MinHash-LSH,
 * fingerprinting).
 *
 * The Column-API formulation (split + sequence + transform + slice +
 * concat_ws + array_distinct + transform(xxhash64)) runs entirely in
 * CodegenFallback higher-order functions: it materializes every shingle as a
 * UTF8String and re-walks the word array per window — in the r2 bench that
 * interpreted chain was ~2/3 of each near-dup query. This expression hashes
 * word byte-ranges in place over the UTF8String buffer (no per-word or
 * per-shingle string is ever built) and emits the deduplicated 64-bit
 * shingle-hash set as a primitive long array.
 *
 * Hash identity: hash(shingle) is a function of the window's word byte
 * sequences (XXH64 per word, chained XXH64.hashLong across the window), so
 * hash equality == shingle string equality up to 64-bit collisions —
 * exactly the contract the previous xxhash64(concat_ws(...)) form gave the
 * downstream equi-joins and array_intersect verification.
 */
object TextKernels {

  /** Seed shared with Spark's own xxhash64 default. */
  final val Seed = 42L

  /** POSITIONED w-word window hash sequence: element i is the hash of the
    * window starting at word i (same per-word XXH64 + chained hashLong
    * combine as [[shingleHashes]], WITHOUT the dedup — array index IS the
    * window position, duplicates preserved). The substrate of span-level
    * operators (exact-substring dedup needs to know WHERE a duplicated
    * window sits, not just that it exists). Empty array below w words. */
  def shingleHashSeq(text: UTF8String, w: Int): ArrayData = {
    val wordHash = wordHashes(text)
    if (wordHash.length < w) return ArrayData.toArrayData(Array.emptyLongArray)
    val n = wordHash.length - w + 1
    val out = new Array[Long](n)
    var s = 0
    while (s < n) {
      var h = Seed
      var j = 0
      while (j < w) { h = XXH64.hashLong(wordHash(s + j), h); j += 1 }
      out(s) = h
      s += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Per-word XXH64 hashes of a space-delimited text, in word order. */
  private def wordHashes(text: UTF8String): Array[Long] = {
    val nBytes = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var nWords = 1
    var i = 0
    while (i < nBytes) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) nWords += 1
      i += 1
    }
    val wordHash = new Array[Long](nWords)
    var wi = 0
    var start = 0
    i = 0
    while (i <= nBytes) {
      if (i == nBytes ||
          org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        wordHash(wi) = XXH64.hashUnsafeBytes(base, off + start, i - start, Seed)
        wi += 1
        start = i + 1
      }
      i += 1
    }
    wordHash
  }

  /** Distinct w-word shingle hashes of `text` (space-delimited words, empty
    * words kept — same tokenization as split(text, ' ')). Returns an empty
    * array when the document has fewer than `w` words. */
  def shingleHashes(text: UTF8String, w: Int): ArrayData = {
    val nBytes = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset

    // word count = spaces + 1 (0x20 never occurs inside a UTF-8 multi-byte
    // sequence, so a byte scan is a correct word splitter)
    var nWords = 1
    var i = 0
    while (i < nBytes) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) nWords += 1
      i += 1
    }
    if (nWords < w) return ArrayData.toArrayData(Array.emptyLongArray)

    // hash each word's byte range in place
    val wordHash = new Array[Long](nWords)
    var wi = 0
    var start = 0
    i = 0
    while (i <= nBytes) {
      if (i == nBytes ||
          org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        wordHash(wi) = XXH64.hashUnsafeBytes(base, off + start, i - start, Seed)
        wi += 1
        start = i + 1
      }
      i += 1
    }

    // windowed combine: chained hashLong is order-sensitive and cheap
    val n = nWords - w + 1
    val out = new Array[Long](n)
    var m = 0
    // open-addressing dedup set; hashes are already well mixed, so the
    // probe index is just the low bits. 0 is the empty-slot sentinel.
    var cap = java.lang.Integer.highestOneBit(math.max(4, n * 2) - 1) << 1
    if (cap < 4) cap = 4
    val set = new Array[Long](cap)
    val mask = cap - 1
    var seenZero = false
    var s = 0
    while (s < n) {
      var h = Seed
      var j = 0
      while (j < w) { h = XXH64.hashLong(wordHash(s + j), h); j += 1 }
      var fresh = false
      if (h == 0L) {
        fresh = !seenZero
        seenZero = true
      } else {
        var idx = (h & mask).toInt
        while (set(idx) != 0L && set(idx) != h) idx = (idx + 1) & mask
        fresh = set(idx) == 0L
        set(idx) = h
      }
      if (fresh) { out(m) = h; m += 1 }
      s += 1
    }
    ArrayData.toArrayData(if (m == n) out else java.util.Arrays.copyOf(out, m))
  }

  private val bpeFlags = new ThreadLocal[Array[Boolean]] {
    override def initialValue(): Array[Boolean] = new Array[Boolean](0)
  }

  /**
   * Token count after applying a CHARACTER-pair merge table in priority
   * order — the counting core of [[graft.llm.TextOps.bpeEncode]], one
   * byte scan per merge instead of its 8-deep wrapped-separator string
   * replace chain (the two are asserted equal in LlmOpsSpec; the chain
   * remains the executable semantics spec).
   *
   * Why a byte scan is exact: every merge combines two SINGLE-character
   * tokens (t16 derives char pairs), so merged tokens are always 2 chars
   * and can never satisfy a later merge — a flags array marking merged
   * bytes reproduces the replace chain's token-exact matching, and the
   * j += 2 skip after a match is the replace's resume-after-replacement.
   * Merge bytes are printable ASCII (< 0x80), so UTF-8 continuation
   * bytes can never false-match and multi-byte characters count via
   * numChars. Spaces (never in a merge pair) separate words, so merges
   * cannot cross word boundaries. Result = chars - spaces - merges.
   *
   * `merges` is flat, 2 bytes per pair, in priority order.
   */
  def bpeTokenCount(text: UTF8String, merges: Array[Byte]): Long = {
    val nBytes = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    @inline def b(i: Int): Byte = org.apache.spark.unsafe.Platform.getByte(base, off + i)
    var flags = bpeFlags.get()
    if (flags.length < nBytes) {
      flags = new Array[Boolean](math.max(nBytes, 64))
      bpeFlags.set(flags)
    } else java.util.Arrays.fill(flags, 0, nBytes, false)
    var spaces = 0L
    var i = 0
    while (i < nBytes) { if (b(i) == 0x20) spaces += 1; i += 1 }
    var merged = 0L
    var mi = 0
    while (mi < merges.length) {
      val x = merges(mi)
      val y = merges(mi + 1)
      var j = 0
      while (j < nBytes - 1) {
        if (b(j) == x && b(j + 1) == y && !flags(j) && !flags(j + 1)) {
          flags(j) = true
          flags(j + 1) = true
          merged += 1
          j += 2
        } else j += 1
      }
      mi += 2
    }
    text.numChars().toLong - spaces - merged
  }

  /** BPE-ish sub-token regex (shared with TextOps.regexTokens / the DuckDB
    * oracle): letter runs, digit runs, single other glyphs, over lowercased
    * text. */
  final val TokenRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"
  private val TokenPattern = java.util.regex.Pattern.compile(TokenRegex)

  /** Token count under `regexp_extract_all(lower(text), TokenRegex)`
    * semantics. Pure-ASCII rows (the overwhelming case) count in one byte
    * scan with zero allocation; any row containing a non-ASCII byte falls
    * back to the exact Java-regex path over UTF8String.toLowerCase, so
    * exotic case mappings (e.g. U+0130 lowercasing to two code points)
    * keep byte-for-byte regex semantics. */
  def regexTokenCount(text: UTF8String): Int = {
    val nBytes = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    @inline def b(i: Int): Byte = org.apache.spark.unsafe.Platform.getByte(base, off + i)
    @inline def isAlpha(c: Byte): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
    @inline def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
    var i = 0
    var cnt = 0
    while (i < nBytes) {
      val c = b(i)
      if (c < 0) { // non-ASCII: exact regex fallback for the whole row
        val m = TokenPattern.matcher(text.toLowerCase.toString)
        var k = 0
        while (m.find()) k += 1
        return k
      }
      if (c == 0x20) i += 1
      else if (isAlpha(c)) {
        cnt += 1; i += 1
        while (i < nBytes && isAlpha(b(i))) i += 1
      } else if (isDigit(c)) {
        cnt += 1; i += 1
        while (i < nBytes && isDigit(b(i))) i += 1
      } else { cnt += 1; i += 1 }
    }
    cnt
  }

  /** Word count under split(text, ' ') semantics (empties kept, so the
    * count is exactly spaces + 1 — including the [""] of an empty string). */
  def wordCount(text: UTF8String): Int = {
    val nBytes = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var n = 1
    var i = 0
    while (i < nBytes) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) n += 1
      i += 1
    }
    n
  }

  /** Text canonicalization under `regexp_replace(trim(lower(text)), " +",
    * " ")` semantics, fused into one pass: lowercase (UTF8String's own
    * case mapping — identical to Spark's `lower`), trim ASCII spaces, and
    * collapse space runs byte-wise (0x20 never occurs inside a UTF-8
    * multi-byte sequence, so the scan is multibyte-safe). Replaces a
    * Java-regex rewrite of the whole corpus in the normalization hot path. */
  def normalizeSpaces(text: UTF8String): UTF8String = {
    val lower = text.toLowerCase.trim()
    val nBytes = lower.numBytes()
    val base = lower.getBaseObject
    val off = lower.getBaseOffset
    @inline def b(i: Int): Byte = org.apache.spark.unsafe.Platform.getByte(base, off + i)
    // fast path: no double space anywhere -> the trimmed lowercase IS the
    // answer, zero further allocation
    var i = 0
    var hasRun = false
    while (!hasRun && i < nBytes - 1) {
      if (b(i) == 0x20 && b(i + 1) == 0x20) hasRun = true
      i += 1
    }
    if (!hasRun) return lower
    val out = new Array[Byte](nBytes)
    var k = 0
    var prevSpace = false
    i = 0
    while (i < nBytes) {
      val c = b(i)
      if (c == 0x20) {
        if (!prevSpace) { out(k) = c; k += 1 }
        prevSpace = true
      } else {
        out(k) = c; k += 1
        prevSpace = false
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, k)
  }

  /** How many words of `text` appear in the (small) stopword set. The set
    * is pre-hashed once per expression instance; a hash hit is confirmed by
    * byte comparison, so the count is exactly
    * size(filter(split(text,' '), w -> w IN stopwords)) — the oracle-mirrored
    * semantics — with zero per-word allocation. */
  def stopwordCount(text: UTF8String, hashes: Array[Long],
                    words: Array[Array[Byte]]): Int = {
    val nBytes = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var cnt = 0
    var start = 0
    var i = 0
    while (i <= nBytes) {
      if (i == nBytes ||
          org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        val len = i - start
        val h = XXH64.hashUnsafeBytes(base, off + start, len, Seed)
        var j = 0
        while (j < hashes.length) {
          if (hashes(j) == h && words(j).length == len) {
            // confirm: hash equality is not semantic equality
            var k = 0
            var eq = true
            while (eq && k < len) {
              if (org.apache.spark.unsafe.Platform.getByte(base, off + start + k)
                  != words(j)(k)) eq = false
              k += 1
            }
            if (eq) { cnt += 1; j = hashes.length - 1 }
          }
          j += 1
        }
        start = i + 1
      }
      i += 1
    }
    cnt
  }

  // ---- PII redaction kernel ------------------------------------------------

  /** PII patterns — canonical text, shared verbatim with the DuckDB oracle
    * (via [[graft.llm.TextOps.Pii]], which aliases these). Written in the
    * common subset of Java regex and RE2 (no lookaround, no backreferences,
    * greedy, no alternation) so both engines match identically. */
  final val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  final val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  final val PhoneRe = "\\+?[0-9]{2,4}(-[0-9]{2,4}){2,}"

  private lazy val piiEmailP = java.util.regex.Pattern.compile(EmailRe)
  private lazy val piiIpP = java.util.regex.Pattern.compile(Ipv4Re)
  private lazy val piiPhoneP = java.util.regex.Pattern.compile(PhoneRe)

  /** Literal replace-all with a no-match fast path (no allocation when the
    * pattern is absent — the common case over a clean corpus) and no
    * Matcher.appendReplacement $-escape processing (the replacement is a
    * literal placeholder by construction). */
  private def replaceAll(s: String, p: java.util.regex.Pattern,
                         repl: String): String = {
    val m = p.matcher(s)
    if (!m.find()) return s
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    while ({
      sb.append(s, last, m.start()).append(repl)
      last = m.end()
      m.find()
    }) ()
    sb.append(s, last, s.length).toString
  }

  private def countOcc(s: String, tok: String): Long = {
    var n = 0L
    var i = s.indexOf(tok)
    while (i >= 0) { n += 1; i = s.indexOf(tok, i + tok.length) }
    n
  }

  /** Fused PII redaction: email -> ip -> phone applied sequentially to the
    * row's string IN MEMORY (identical semantics to three corpus-wide
    * `regexp_replace` passes — the executable spec in
    * [[graft.llm.TextOps.piiRedactSpec]], kernel == spec property-tested),
    * then the audit counts read off the final string by literal substring
    * counting (the spec's count rule: placeholders PRESENT, including any
    * the input already carried). One expression call per row — no
    * intermediate corpus-wide string columns, no per-count replace()
    * re-materialization, one UTF8String->String conversion instead of
    * one per pass. */
  def piiRedact(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    var s = text.toString
    s = replaceAll(s, piiEmailP, "<EMAIL>")
    s = replaceAll(s, piiIpP, "<IP>")
    s = replaceAll(s, piiPhoneP, "<PHONE>")
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(s), countOcc(s, "<EMAIL>"),
        countOcc(s, "<IP>"), countOcc(s, "<PHONE>")))
  }

  /** Codepoint census of `text` in one UTF-8 byte pass: character count,
    * distinct-codepoint count, and Shannon entropy in bits/char. Entropy is
    * summed in ASCENDING codepoint order (ASCII bank first, then a sorted
    * map of the rest) so the double accumulation order is deterministic —
    * the same order an engine-side `ORDER BY codepoint` fold produces, which
    * keeps the cross-engine delta at libm-ulp scale, far inside the query
    * layer's round(6). No String materialization: codepoints are decoded
    * straight off the UTF8String buffer. */
  def charStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val nBytes = text.numBytes()
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val ascii = new Array[Long](128)
    var other: java.util.TreeMap[Integer, Long] = null
    var n = 0L
    var i = 0
    while (i < nBytes) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i) & 0xFF
      var cp = 0
      if (b < 0x80) { cp = b; i += 1 }
      else if ((b & 0xE0) == 0xC0) {
        cp = ((b & 0x1F) << 6) |
          (org.apache.spark.unsafe.Platform.getByte(base, off + i + 1) & 0x3F)
        i += 2
      } else if ((b & 0xF0) == 0xE0) {
        cp = ((b & 0x0F) << 12) |
          ((org.apache.spark.unsafe.Platform.getByte(base, off + i + 1) & 0x3F) << 6) |
          (org.apache.spark.unsafe.Platform.getByte(base, off + i + 2) & 0x3F)
        i += 3
      } else {
        cp = ((b & 0x07) << 18) |
          ((org.apache.spark.unsafe.Platform.getByte(base, off + i + 1) & 0x3F) << 12) |
          ((org.apache.spark.unsafe.Platform.getByte(base, off + i + 2) & 0x3F) << 6) |
          (org.apache.spark.unsafe.Platform.getByte(base, off + i + 3) & 0x3F)
        i += 4
      }
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.TreeMap[Integer, Long]()
        val prev = other.get(cp)
        other.put(cp, if (prev == null) 1L else prev + 1L)
      }
      n += 1
    }
    var distinct = 0L
    var entropy = 0.0
    if (n > 0) {
      val ln2 = java.lang.Math.log(2.0)
      val dn = n.toDouble
      var c = 0
      while (c < 128) {
        val k = ascii(c)
        if (k > 0) {
          distinct += 1
          val p = k / dn
          entropy -= p * (java.lang.Math.log(p) / ln2)
        }
        c += 1
      }
      if (other != null) {
        val it = other.values().iterator()
        while (it.hasNext) {
          distinct += 1
          val p = it.next() / dn
          entropy -= p * (java.lang.Math.log(p) / ln2)
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, distinct, entropy))
  }
}

/** shingle_hashes(text, w) -> array<bigint>: distinct hashed w-shingles. */
case class ShingleHashes(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"shingle width must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(t: Any): Any =
    TextKernels.shingleHashes(t.asInstanceOf[UTF8String], w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.shingleHashes($t, $w);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** shingle_hash_seq(text, w) -> array<bigint>: positioned window hashes
  * (index = window start word), duplicates preserved — see
  * [[TextKernels.shingleHashSeq]]. */
case class ShingleHashSeq(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"shingle width must be >= 1, got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hash_seq expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_seq"

  override def nullSafeEval(t: Any): Any =
    TextKernels.shingleHashSeq(t.asInstanceOf[UTF8String], w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.shingleHashSeq($t, $w);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashSeq =
    copy(child = newChild)
}

/** word_count(text) -> int: split-on-space word count, no array built. */
case class WordCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_count expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "word_count"

  override def nullSafeEval(t: Any): Any =
    TextKernels.wordCount(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.wordCount($t);")

  override protected def withNewChildInternal(newChild: Expression): WordCount =
    copy(child = newChild)
}

/** regex_token_count(text) -> int: BPE-ish token count (see
  * [[TextKernels.TokenRegex]]) with an ASCII fast path. */
case class RegexTokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"regex_token_count expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "regex_token_count"

  override def nullSafeEval(t: Any): Any =
    TextKernels.regexTokenCount(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.regexTokenCount($t);")

  override protected def withNewChildInternal(newChild: Expression): RegexTokenCount =
    copy(child = newChild)
}

/** stopword_count(text) -> int: words of `text` in the fixed `stopwords`
  * set, under split(text,' ') + IN semantics. The per-language language-ID
  * scorers and quality stats are this expression with different sets. */
case class StopwordCount(child: Expression, stopwords: Seq[String])
    extends UnaryExpression {

  @transient private lazy val wordBytes: Array[Array[Byte]] =
    stopwords.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
  @transient private lazy val wordHashes: Array[Long] =
    wordBytes.map(b => XXH64.hashUnsafeBytes(b,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, TextKernels.Seed))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"stopword_count expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "stopword_count"

  override def nullSafeEval(t: Any): Any =
    TextKernels.stopwordCount(t.asInstanceOf[UTF8String], wordHashes, wordBytes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hashesRef = ctx.addReferenceObj("stopHashes", wordHashes, "long[]")
    val wordsRef = ctx.addReferenceObj("stopWords", wordBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.stopwordCount($t, $hashesRef, $wordsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordCount =
    copy(child = newChild)
}

/** bpe_token_count(text) -> bigint over a fixed character-pair merge
  * table (plan literal, priority order): tokens after BPE application,
  * [[TextKernels.bpeTokenCount]] semantics. */
case class BpeTokenCount(child: Expression, merges: Seq[String])
    extends UnaryExpression {

  merges.foreach { p =>
    require(p.length == 2 && p.forall(c => c > ' ' && c < 127),
      s"bpe_token_count: merge pair must be 2 printable-ASCII non-space chars, got '$p'")
  }

  @transient private lazy val mergeBytes: Array[Byte] =
    merges.flatMap(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count"

  override def nullSafeEval(t: Any): Any =
    TextKernels.bpeTokenCount(t.asInstanceOf[UTF8String], mergeBytes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mergesRef = ctx.addReferenceObj("bpeMerges", mergeBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.bpeTokenCount($t, $mergesRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

/** pii_redact(text) -> struct<redacted: string, n_emails: bigint,
  * n_ips: bigint, n_phones: bigint>: single-scan fused PII redaction +
  * audit counts ([[TextKernels.piiRedact]] semantics — sequential
  * email/ip/phone application, spec-identical to the 3-pass
  * `regexp_replace` form). */
case class PiiRedact(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pii_redact expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = PiiRedact.OutType
  override def prettyName: String = "pii_redact"

  override def nullSafeEval(t: Any): Any =
    TextKernels.piiRedact(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.piiRedact($t);")

  override protected def withNewChildInternal(newChild: Expression): PiiRedact =
    copy(child = newChild)
}

object PiiRedact {
  val OutType: StructType = StructType(Seq(
    StructField("redacted", StringType, nullable = false),
    StructField("n_emails", LongType, nullable = false),
    StructField("n_ips", LongType, nullable = false),
    StructField("n_phones", LongType, nullable = false)))
}

/** char_stats(text) -> struct(n_chars, n_distinct, entropy): one-pass
  * codepoint census — the substrate of the binary/gibberish junk gate
  * (degenerate repetition scores low, base64/minified blobs score high).
  * See [[TextKernels.charStats]] for the deterministic-order entropy fold. */
case class CharStats(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_stats expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = CharStats.OutType
  override def prettyName: String = "char_stats"

  override def nullSafeEval(t: Any): Any =
    TextKernels.charStats(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.charStats($t);")

  override protected def withNewChildInternal(newChild: Expression): CharStats =
    copy(child = newChild)
}

object CharStats {
  val OutType: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("entropy", DoubleType, nullable = false)))
}

/** normalize_spaces(text) -> string: fused lower+trim+space-collapse. */
case class NormalizeSpaces(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"normalize_spaces expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = "normalize_spaces"

  override def nullSafeEval(t: Any): Any =
    TextKernels.normalizeSpaces(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TextKernels.normalizeSpaces($t);")

  override protected def withNewChildInternal(newChild: Expression): NormalizeSpaces =
    copy(child = newChild)
}

object TextExpressions {

  def normalizeSpaces(text: Column): Column =
    ColumnBridge.column(NormalizeSpaces(ColumnBridge.expression(text)))

  /** Column binding — no registry needed. */
  def shingleHashes(text: Column, w: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), w))

  def shingleHashSeq(text: Column, w: Int): Column =
    ColumnBridge.column(ShingleHashSeq(ColumnBridge.expression(text), w))

  def wordCount(text: Column): Column =
    ColumnBridge.column(WordCount(ColumnBridge.expression(text)))

  def regexTokenCount(text: Column): Column =
    ColumnBridge.column(RegexTokenCount(ColumnBridge.expression(text)))

  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    ColumnBridge.column(StopwordCount(ColumnBridge.expression(text), stopwords))

  def bpeTokenCount(text: Column, merges: Seq[String]): Column =
    ColumnBridge.column(BpeTokenCount(ColumnBridge.expression(text), merges))

  def piiRedact(text: Column): Column =
    ColumnBridge.column(PiiRedact(ColumnBridge.expression(text)))

  def charStats(text: Column): Column =
    ColumnBridge.column(CharStats(ColumnBridge.expression(text)))
}
