package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/**
 * vec_sum — elementwise sum of `array<float>` vectors as a native
 * TypedImperativeAggregate, with double accumulation.
 *
 * The composition alternative (posexplode -> groupBy(key, dim) -> sum ->
 * re-assemble) multiplies the shuffled row count by the vector
 * dimensionality (64-dim embeddings -> a 64x bigger exchange). This
 * aggregate keeps ONE buffer row per group with map-side partial merge —
 * the per-label centroid of a 100 TB embedding table shuffles |labels| x
 * dim doubles, nothing more.
 *
 * Null/empty vectors are ignored; vectors of differing lengths accumulate
 * over the longer length. SQL sum semantics hold per position: a position
 * that only ever saw null (or missing-tail) elements yields a null
 * element, exactly like the posexplode -> groupBy(pos) -> sum composition
 * and the oracle's unnest. An all-null group yields null.
 *
 * Buffer layout: interleaved [sum0, cnt0, sum1, cnt1, ...].
 */
case class VecSum(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] {

  override def children: Seq[Expression] = child :: Nil

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_sum expects array<float>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_sum"

  override def createAggregationBuffer(): Array[Double] = Array.emptyDoubleArray

  private def grow(buf: Array[Double], n: Int): Array[Double] =
    if (buf.length >= n) buf else java.util.Arrays.copyOf(buf, n)

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) buf
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val out = grow(buf, 2 * n)
      var i = 0
      // null elements are skipped AND uncounted, so a position that only
      // ever saw nulls evals to null — SQL sum semantics per position
      while (i < n) {
        if (!arr.isNullAt(i)) {
          out(2 * i) += arr.getFloat(i).toDouble
          out(2 * i + 1) += 1.0
        }
        i += 1
      }
      out
    }
  }

  override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] = {
    val out = grow(b1, b2.length)
    var i = 0
    while (i < b2.length) { out(i) += b2(i); i += 1 }
    out
  }

  override def eval(buf: Array[Double]): Any =
    if (buf.isEmpty) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.tabulate[Any](buf.length / 2) { i =>
        if (buf(2 * i + 1) == 0.0) null else buf(2 * i)
      })

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putDouble(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Double](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSum =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSum =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSum =
    copy(child = newChildren.head)
}

object VectorAggregates {

  /** Column binding: vec_sum(embedding) usable inside agg(...). */
  def vecSum(v: Column): Column =
    ColumnBridge.column(
      VecSum(ColumnBridge.expression(v)).toAggregateExpression())

  /** Column binding: top_k(ord, id, k) usable inside agg(...). */
  def topK(ord: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopK(ColumnBridge.expression(ord), ColumnBridge.expression(id), k)
        .toAggregateExpression())

  /** Column binding: top_k_str(ord, id, k) usable inside agg(...). */
  def topKStr(ord: Column, id: Column, k: Int): Column =
    ColumnBridge.column(
      TopKStr(ColumnBridge.expression(ord), ColumnBridge.expression(id), k)
        .toAggregateExpression())

  /** Column binding: arg_max(ord, payload) usable inside agg(...). */
  def argMax(ord: Column, payload: Column): Column =
    ColumnBridge.column(
      ArgMax(ColumnBridge.expression(ord), ColumnBridge.expression(payload))
        .toAggregateExpression())

  /** Column binding: bitmap_distinct(id) usable inside agg(...). */
  def bitmapDistinct(id: Column): Column =
    ColumnBridge.column(
      BitmapDistinct(ColumnBridge.expression(id)).toAggregateExpression())

  /** Column binding: bitmap_agg(id) — serialized roaring bitmap. */
  def bitmapAgg(id: Column): Column =
    ColumnBridge.column(
      BitmapAgg(ColumnBridge.expression(id)).toAggregateExpression())

  /** Column binding: bitmap_or_count(bin) — cardinality of the OR of
    * stored bitmaps. */
  def bitmapOrCount(bin: Column): Column =
    ColumnBridge.column(
      BitmapOrCount(ColumnBridge.expression(bin)).toAggregateExpression())
}

/**
 * bitmap_distinct(id) — EXACT distinct count of a long id column as one
 * mergeable bitmap buffer per group (roaring-style two-level layout,
 * Chambi, Lemire et al., "Better bitmap performance with Roaring
 * bitmaps", 2016 — independently implemented).
 *
 * Why not `count(distinct id)`: Catalyst plans exact distinct as a
 * two-phase aggregate whose FIRST phase keys on (group, id) — every
 * distinct id crosses the wire as a row, and a 100 TB events table with
 * billions of users pays a full extra exchange of its key space. This
 * aggregate ships ONE compact buffer per (group x mapper): dense id
 * ranges cost 1 BIT per present id (a 65k-id container is 8 KB), sparse
 * ranges 2 bytes per id (sorted-array containers, upgraded to bitmaps at
 * 512 entries) — map-side partials merge by OR, the classic
 * billions-of-ids exact-cardinality layout of OLAP engines.
 *
 * Semantics match count(DISTINCT id) exactly: nulls ignored, empty
 * group evals to 0. Ids may span the full long range (container key =
 * id >>> 16, so negatives land in their own containers).
 */
case class BitmapDistinct(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitmapDistinct.Buf] {

  override def children: Seq[Expression] = child :: Nil

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bitmap_distinct expects an integral id, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "bitmap_distinct"

  override def createAggregationBuffer(): BitmapDistinct.Buf =
    new BitmapDistinct.Buf

  override def update(buf: BitmapDistinct.Buf, input: InternalRow): BitmapDistinct.Buf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Number].longValue())
    buf
  }

  override def merge(b1: BitmapDistinct.Buf, b2: BitmapDistinct.Buf): BitmapDistinct.Buf = {
    b1.mergeFrom(b2); b1
  }

  override def eval(buf: BitmapDistinct.Buf): Any = buf.cardinality

  override def serialize(buf: BitmapDistinct.Buf): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): BitmapDistinct.Buf =
    BitmapDistinct.Buf.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapDistinct =
    copy(child = newChildren(0))
}

object BitmapDistinct {

  /** Array containers upgrade to 1024-long bitmaps past this many
    * entries (the roaring threshold: 512 shorts = 1 KB < 8 KB bitmap,
    * and a container denser than ~0.8% is cheaper as bits). */
  private final val ArrayCap = 512
  private final val BitmapWords = 1024 // 65536 bits

  /** One 16-bit-low-half container: sorted long array of low values
    * (n <= ArrayCap) or a fixed 1024-word bitmap. */
  private final class Container {
    var bits: Array[Long] = _            // non-null => bitmap mode
    var arr: Array[Long] = new Array[Long](8)
    var n: Int = 0

    def add(low: Int): Unit =
      if (bits != null) bits(low >>> 6) |= 1L << (low & 63)
      else {
        var idx = java.util.Arrays.binarySearch(arr, 0, n, low.toLong)
        if (idx < 0) {
          if (n == ArrayCap) { toBitmap(); bits(low >>> 6) |= 1L << (low & 63) }
          else {
            idx = -idx - 1
            if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
            System.arraycopy(arr, idx, arr, idx + 1, n - idx)
            arr(idx) = low.toLong
            n += 1
          }
        }
      }

    private def toBitmap(): Unit = {
      bits = new Array[Long](BitmapWords)
      var i = 0
      while (i < n) {
        val low = arr(i).toInt
        bits(low >>> 6) |= 1L << (low & 63)
        i += 1
      }
      arr = null; n = 0
    }

    def cardinality: Long =
      if (bits == null) n.toLong
      else {
        var c = 0L; var i = 0
        while (i < BitmapWords) { c += java.lang.Long.bitCount(bits(i)); i += 1 }
        c
      }

    def mergeFrom(other: Container): Unit =
      if (other.bits != null) {
        if (bits == null) toBitmap()
        var i = 0
        while (i < BitmapWords) { bits(i) |= other.bits(i); i += 1 }
      } else {
        var i = 0
        while (i < other.n) { add(other.arr(i).toInt); i += 1 }
      }
  }

  final class Buf {
    private val containers = new java.util.HashMap[Long, Container]()

    private def containerFor(high: Long): Container = {
      var c = containers.get(high)
      if (c == null) { c = new Container; containers.put(high, c) }
      c
    }

    def add(id: Long): Unit = containerFor(id >>> 16).add((id & 0xFFFF).toInt)

    def cardinality: Long = {
      var total = 0L
      val it = containers.values().iterator()
      while (it.hasNext) total += it.next().cardinality
      total
    }

    def mergeFrom(other: Buf): Unit = {
      val it = other.containers.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        containerFor(e.getKey).mergeFrom(e.getValue)
      }
    }

    /** [nContainers][high 8B, mode 1B, bitmap 8 KB | n 2B + n shorts]* */
    def toBytes: Array[Byte] = {
      var size = 4
      val it0 = containers.values().iterator()
      while (it0.hasNext) {
        val c = it0.next()
        size += 8 + 1 + (if (c.bits != null) BitmapWords * 8 else 2 + c.n * 2)
      }
      val bb = ByteBuffer.allocate(size)
      bb.putInt(containers.size())
      val it = containers.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        bb.putLong(e.getKey)
        val c = e.getValue
        if (c.bits != null) {
          bb.put(1: Byte)
          var i = 0
          while (i < BitmapWords) { bb.putLong(c.bits(i)); i += 1 }
        } else {
          bb.put(0: Byte)
          bb.putShort(c.n.toShort)
          var i = 0
          while (i < c.n) { bb.putShort(c.arr(i).toShort); i += 1 }
        }
      }
      bb.array()
    }
  }

  object Buf {
    def fromBytes(bytes: Array[Byte]): Buf = {
      val buf = new Buf
      val bb = ByteBuffer.wrap(bytes)
      val nc = bb.getInt
      var k = 0
      while (k < nc) {
        val high = bb.getLong
        val c = new Container
        if (bb.get() == 1) {
          c.bits = new Array[Long](BitmapWords)
          var i = 0
          while (i < BitmapWords) { c.bits(i) = bb.getLong; i += 1 }
          c.arr = null
        } else {
          val n = bb.getShort & 0xFFFF
          c.arr = new Array[Long](math.max(8, n))
          var i = 0
          while (i < n) { c.arr(i) = (bb.getShort & 0xFFFF).toLong; i += 1 }
          c.n = n
        }
        buf.containers.put(high, c)
        k += 1
      }
      buf
    }
  }
}

/**
 * bitmap_agg(id) — the STORABLE half of the [[BitmapDistinct]] layout:
 * same roaring-style buffer, but eval returns the serialized bitmap
 * BYTES instead of collapsing to a count. This is what turns exact
 * distinct into the sketch-table pattern (a23's discipline, without the
 * approximation): persist one bitmap per (group, partition-unit) — e.g.
 * per (event_type, day) — and any later rollup over any group-set ORs
 * stored bitmaps via [[BitmapOrCount]] instead of rescanning raw ids.
 * Exact at every level because bitmap union IS set union.
 */
case class BitmapAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitmapDistinct.Buf] {

  override def children: Seq[Expression] = child :: Nil

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bitmap_agg expects an integral id, got ${other.simpleString}")
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "bitmap_agg"

  override def createAggregationBuffer(): BitmapDistinct.Buf = new BitmapDistinct.Buf

  override def update(buf: BitmapDistinct.Buf, input: InternalRow): BitmapDistinct.Buf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Number].longValue())
    buf
  }

  override def merge(b1: BitmapDistinct.Buf, b2: BitmapDistinct.Buf): BitmapDistinct.Buf = {
    b1.mergeFrom(b2); b1
  }

  override def eval(buf: BitmapDistinct.Buf): Any = buf.toBytes

  override def serialize(buf: BitmapDistinct.Buf): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): BitmapDistinct.Buf =
    BitmapDistinct.Buf.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapAgg =
    copy(child = newChildren(0))
}

/**
 * bitmap_or_count(bin) — cardinality of the UNION of serialized
 * [[BitmapAgg]] bitmaps: the read half of the stored-bitmap rollup.
 * Each input row contributes one bitmap; partials OR map-side (one
 * buffer per group crosses the shuffle) and the final count is exact.
 * `count(distinct)` over the same window would rescan and reshuffle the
 * raw id space; this reads |days| bitmap rows per window instead.
 */
case class BitmapOrCount(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BitmapDistinct.Buf] {

  override def children: Seq[Expression] = child :: Nil

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bitmap_or_count expects a bitmap_agg binary, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "bitmap_or_count"

  override def createAggregationBuffer(): BitmapDistinct.Buf = new BitmapDistinct.Buf

  override def update(buf: BitmapDistinct.Buf, input: InternalRow): BitmapDistinct.Buf = {
    val v = child.eval(input)
    if (v != null)
      buf.mergeFrom(BitmapDistinct.Buf.fromBytes(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(b1: BitmapDistinct.Buf, b2: BitmapDistinct.Buf): BitmapDistinct.Buf = {
    b1.mergeFrom(b2); b1
  }

  override def eval(buf: BitmapDistinct.Buf): Any = buf.cardinality

  override def serialize(buf: BitmapDistinct.Buf): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): BitmapDistinct.Buf =
    BitmapDistinct.Buf.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapOrCount =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapOrCount =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitmapOrCount =
    copy(child = newChildren(0))
}

/**
 * top_k(ord, id, k) — the k largest (ord, id) pairs per group as a native
 * TypedImperativeAggregate with a bounded min-heap buffer.
 *
 * The window alternative (row_number over (partition by g order by ord
 * desc) <= k) SORTS every group's full row set inside one task — at 100 TB
 * that is a per-group sort of millions of rows to keep 3. This aggregate
 * holds exactly k pairs per buffer, partial-aggregates map-side (each
 * mapper ships at most k pairs per group), and merges heaps on the
 * reducer: shuffle volume is |groups| x k pairs, independent of row count.
 *
 * Ordering is total and deterministic: ord desc, then id asc on ties, so
 * the result never depends on encounter order. Output: array<struct<ord,
 * id>> sorted strongest-first. Null ords are ignored (SQL aggregate
 * semantics); an all-null group yields an empty array.
 */
case class TopK(
    ordExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopK.Buf] {

  require(k >= 1, s"k must be >= 1, got $k")

  override def children: Seq[Expression] = ordExpr :: idExpr :: Nil

  override def checkInputDataTypes(): TypeCheckResult =
    (ordExpr.dataType, idExpr.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"top_k expects (double, bigint), got $other")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("ord", DoubleType, nullable = false),
      StructField("id", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k"

  override def createAggregationBuffer(): TopK.Buf = new TopK.Buf(k)

  override def update(buf: TopK.Buf, input: InternalRow): TopK.Buf = {
    val o = ordExpr.eval(input)
    val i = idExpr.eval(input)
    if (o != null && i != null)
      buf.push(o.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(b1: TopK.Buf, b2: TopK.Buf): TopK.Buf = {
    var i = 0
    while (i < b2.n) { b1.push(b2.ords(i), b2.ids(i)); i += 1 }
    b1
  }

  override def eval(buf: TopK.Buf): Any = {
    val idx = Array.range(0, buf.n).sortBy(i => (-buf.ords(i), buf.ids(i)))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      idx.map { i =>
        val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
        r.update(0, buf.ords(i))
        r.update(1, buf.ids(i))
        r: Any
      })
  }

  override def serialize(buf: TopK.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.n * 16)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.ords(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopK.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopK.Buf(k)
    var i = 0
    while (i < n) { buf.push(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopK =
    copy(ordExpr = newChildren(0), idExpr = newChildren(1))
}

/**
 * top_k_str(ord, id, k) — [[TopK]] with a STRING id: the k largest
 * (ord desc, id-bytes asc) pairs per group. Same bounded min-heap buffer,
 * same map-side partials / |groups| x k shuffle contract; the tie-break
 * compares UTF8String bytes, which for UTF-8 is exactly code-point order —
 * the same total order as the oracle engine's binary string collation.
 * This is the heap for selections whose natural tie key is a term/token
 * string (TF-IDF top terms, vocabulary quotas) where packing the id into
 * an integer is impossible.
 *
 * Input UTF8Strings are cloned on insert: eval hands out buffer-backed
 * slices whose bytes are overwritten by the next row.
 */
case class TopKStr(
    ordExpr: Expression,
    idExpr: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKStr.Buf] {

  require(k >= 1, s"k must be >= 1, got $k")

  override def children: Seq[Expression] = ordExpr :: idExpr :: Nil

  override def checkInputDataTypes(): TypeCheckResult =
    (ordExpr.dataType, idExpr.dataType) match {
      case (DoubleType, StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"top_k_str expects (double, string), got $other")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("ord", DoubleType, nullable = false),
      StructField("id", StringType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_str"

  override def createAggregationBuffer(): TopKStr.Buf = new TopKStr.Buf(k)

  override def update(buf: TopKStr.Buf, input: InternalRow): TopKStr.Buf = {
    val o = ordExpr.eval(input)
    val i = idExpr.eval(input)
    if (o != null && i != null)
      buf.push(o.asInstanceOf[Double],
        i.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    buf
  }

  override def merge(b1: TopKStr.Buf, b2: TopKStr.Buf): TopKStr.Buf = {
    var i = 0
    // merge sources are deserialized/owned buffers — no re-clone needed,
    // but push clones defensively only on the input path (see Buf.push)
    while (i < b2.n) { b1.pushOwned(b2.ords(i), b2.ids(i)); i += 1 }
    b1
  }

  override def eval(buf: TopKStr.Buf): Any = {
    val idx = Array.range(0, buf.n).sortWith { (a, b) =>
      buf.ords(a) > buf.ords(b) ||
        (buf.ords(a) == buf.ords(b) && buf.ids(a).compareTo(buf.ids(b)) < 0)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      idx.map { i =>
        val r = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
        r.update(0, buf.ords(i))
        r.update(1, buf.ids(i))
        r: Any
      })
  }

  override def serialize(buf: TopKStr.Buf): Array[Byte] = {
    var bytes = 4
    var i = 0
    while (i < buf.n) { bytes += 12 + buf.ids(i).numBytes(); i += 1 }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buf.n)
    i = 0
    while (i < buf.n) {
      bb.putDouble(buf.ords(i))
      val b = buf.ids(i).getBytes
      bb.putInt(b.length)
      bb.put(b)
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKStr.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKStr.Buf(k)
    var i = 0
    while (i < n) {
      val o = bb.getDouble
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      buf.pushOwned(o, org.apache.spark.unsafe.types.UTF8String.fromBytes(b))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKStr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKStr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKStr =
    copy(ordExpr = newChildren(0), idExpr = newChildren(1))
}

object TopKStr {
  import org.apache.spark.unsafe.types.UTF8String

  /** Bounded min-heap over (double ord, UTF8String id) with total order
    * (ord desc, id-bytes asc) — the [[TopK.Buf]] structure with the
    * string tie-break. */
  final class Buf(val k: Int) {
    val ords = new Array[Double](k)
    val ids = new Array[UTF8String](k)
    var n = 0

    @inline private def stronger(o1: Double, i1: UTF8String,
                                 o2: Double, i2: UTF8String): Boolean =
      o1 > o2 || (o1 == o2 && i1.compareTo(i2) < 0)

    /** Input-path insert: clones the UTF8String (eval output aliases
      * reused row memory). */
    def push(o: Double, id: UTF8String): Unit = pushOwned(o, id.clone())

    /** Insert of an already-owned UTF8String (merge/deserialize paths). */
    def pushOwned(o: Double, id: UTF8String): Unit = {
      if (n < k) {
        var c = n
        ords(c) = o; ids(c) = id; n += 1
        while (c > 0 && stronger(ords((c - 1) / 2), ids((c - 1) / 2), ords(c), ids(c))) {
          swap(c, (c - 1) / 2); c = (c - 1) / 2
        }
      } else if (stronger(o, id, ords(0), ids(0))) {
        ords(0) = o; ids(0) = id
        var c = 0
        var done = false
        while (!done) {
          val l = 2 * c + 1; val r = 2 * c + 2
          var w = c
          if (l < n && stronger(ords(w), ids(w), ords(l), ids(l))) w = l
          if (r < n && stronger(ords(w), ids(w), ords(r), ids(r))) w = r
          if (w == c) done = true else { swap(c, w); c = w }
        }
      }
    }

    @inline private def swap(a: Int, b: Int): Unit = {
      val to = ords(a); ords(a) = ords(b); ords(b) = to
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
    }
  }
}

object TopK {
  /** Bounded min-heap: the WEAKEST kept pair sits at the root, so a new
    * pair either replaces the root (when stronger) or is dropped — O(log k)
    * per row, k pairs of state, no allocation after construction. */
  final class Buf(val k: Int) {
    val ords = new Array[Double](k)
    val ids = new Array[Long](k)
    var n = 0

    /** Is (o1, i1) stronger (kept in preference to) (o2, i2)? */
    @inline private def stronger(o1: Double, i1: Long, o2: Double, i2: Long): Boolean =
      o1 > o2 || (o1 == o2 && i1 < i2)

    def push(o: Double, id: Long): Unit = {
      if (n < k) {
        var c = n
        ords(c) = o; ids(c) = id; n += 1
        while (c > 0 && stronger(ords((c - 1) / 2), ids((c - 1) / 2), ords(c), ids(c))) {
          swap(c, (c - 1) / 2); c = (c - 1) / 2
        }
      } else if (stronger(o, id, ords(0), ids(0))) {
        ords(0) = o; ids(0) = id
        var c = 0
        var done = false
        while (!done) {
          val l = 2 * c + 1; val r = 2 * c + 2
          var w = c // weakest of the triple bubbles up to the root
          if (l < n && stronger(ords(w), ids(w), ords(l), ids(l))) w = l
          if (r < n && stronger(ords(w), ids(w), ords(r), ids(r))) w = r
          if (w == c) done = true else { swap(c, w); c = w }
        }
      }
    }

    @inline private def swap(a: Int, b: Int): Unit = {
      val to = ords(a); ords(a) = ords(b); ords(b) = to
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
    }
  }
}

/**
 * arg_max(ord, payload) — the payload of the row with the LARGEST ord in
 * each group, as a native TypedImperativeAggregate: the K2-family
 * last-wins/top-1 dedup primitive.
 *
 * Why not `row_number().over(partitionBy(key).orderBy(ord desc)) = 1`:
 * the window form shuffles EVERY input row on the key and then sorts each
 * key-group in full to keep one row — at 100 TB the ingest-hot-path dedup
 * (reference: database_sqlite.py:93-162's INSERT OR REPLACE) would sort
 * the whole registry to discard all but 9M winners. Why not
 * `max(struct(ord, payload))` / the built-in `max_by`: both are
 * declarative aggregates whose buffer is the struct itself — a non-mutable
 * buffer type, so Spark plans them as SortAggregate (a per-partition sort
 * of the full input on the group key on BOTH sides of the exchange). This
 * aggregate runs in ObjectHashAggregate: O(1) state per group (one owned
 * UnsafeRow), map-side partials (each mapper ships one winner per group it
 * saw — shuffle volume is |groups| rows, independent of input size), no
 * Sort operator in the plan. At run time a task is not sort-free, though:
 * once its hash map holds more than
 * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (default
 * 128) keys, ObjectAggregationIterator falls back to a SortBasedAggregator
 * that sorts the task's remaining input by group key (visible as
 * SortBasedAggregator frames under `ArgMax.update` in a profile of the
 * BAG curate). That sort is per task and bounded by the task's input; it
 * does not add an exchange.
 *
 * Ordering: any orderable type via the interpreted ordering — pass
 * `struct(c1, c2, ...)` for a composite; struct comparison is field-by-
 * field ascending with null fields smallest, so taking the MAX equals
 * `ORDER BY c1 DESC NULLS LAST, c2 DESC NULLS LAST, ... LIMIT 1` exactly.
 * DETERMINISM CONTRACT: the ord must be unique within each group (include
 * a unique id as the last struct field) — on exact ties the first-merged
 * candidate wins, which depends on task scheduling. A null ord (the
 * struct() wrapper is never null, but a bare column can be) is ignored
 * per SQL aggregate semantics; an all-null/empty group yields null.
 *
 * Payload cost discipline: the payload expression is only evaluated and
 * serialized when the row actually becomes the group's new maximum, so a
 * heavy payload (full BAG row with geometry rings) is copied O(groups *
 * log(rows-per-group)) times in expectation, not once per row.
 */
case class ArgMax(
    ordExpr: Expression,
    payloadExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArgMax.Buf] {

  import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
  import org.apache.spark.sql.catalyst.util.TypeUtils

  override def children: Seq[Expression] = ordExpr :: payloadExpr :: Nil

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(ordExpr.dataType, prettyName)

  override def dataType: DataType = payloadExpr.dataType
  override def nullable: Boolean = true
  override def prettyName: String = "arg_max"

  @transient private lazy val ordering: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(ordExpr.dataType)
  @transient private lazy val pairSchema = StructType(Seq(
    StructField("o", ordExpr.dataType, nullable = true),
    StructField("p", payloadExpr.dataType, nullable = true)))
  @transient private lazy val proj = UnsafeProjection.create(pairSchema)
  @transient private lazy val pairRow = new GenericInternalRow(2)

  override def createAggregationBuffer(): ArgMax.Buf = new ArgMax.Buf

  override def update(buf: ArgMax.Buf, input: InternalRow): ArgMax.Buf = {
    val o = ordExpr.eval(input)
    if (o != null && (buf.row == null || ordering.compare(o, buf.ord) > 0)) {
      // the fresh ord/payload alias reused row memory: project to an owned
      // UnsafeRow (copy) and re-read the ord from the owned bytes
      pairRow.update(0, o)
      pairRow.update(1, payloadExpr.eval(input))
      buf.row = proj(pairRow).copy()
      buf.ord = buf.row.get(0, ordExpr.dataType)
      pairRow.update(0, null)
      pairRow.update(1, null)
    }
    buf
  }

  override def merge(b1: ArgMax.Buf, b2: ArgMax.Buf): ArgMax.Buf =
    if (b2.row == null) b1
    else if (b1.row == null || ordering.compare(b2.ord, b1.ord) > 0) b2
    else b1

  override def eval(buf: ArgMax.Buf): Any =
    if (buf.row == null || buf.row.isNullAt(1)) null
    else InternalRow.copyValue(buf.row.get(1, payloadExpr.dataType))

  override def serialize(buf: ArgMax.Buf): Array[Byte] =
    if (buf.row == null) Array.emptyByteArray else buf.row.getBytes

  override def deserialize(bytes: Array[Byte]): ArgMax.Buf = {
    val buf = new ArgMax.Buf
    if (bytes.nonEmpty) {
      val r = new UnsafeRow(2)
      r.pointTo(bytes, bytes.length)
      buf.row = r
      buf.ord = r.get(0, ordExpr.dataType)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ArgMax =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ArgMax =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgMax =
    copy(ordExpr = newChildren(0), payloadExpr = newChildren(1))
}

object ArgMax {
  /** Current winner: an OWNED UnsafeRow [ord, payload] (null = no row seen
    * yet) plus the ord value re-read from the owned bytes for comparison. */
  final class Buf {
    var row: org.apache.spark.sql.catalyst.expressions.UnsafeRow = _
    var ord: Any = _
  }
}
