package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Bottom-k-by-hash sample buffer — the KMV (k-minimum-values) shape
  * (Bar-Yossef et al., "Counting distinct elements in a data stream"),
  * used here as a MERGEABLE EQUI-DEPTH QUANTILE sketch: keep the k
  * rows whose (hash, value) pair is lexicographically smallest; the
  * order statistics of the kept values estimate the full
  * distribution's quantiles with rank error O(1/√k).
  *
  * Everything about the sample is a pure function of the data:
  * the hash is the SQL-replayable ReplayableHash family, the
  * tie-break is the value itself, and merge(a, b) = bottom-k of the
  * union — so the sketch is invariant under partitioning, merge
  * order, and engine, and the DuckDB oracle reproduces it EXACTLY
  * (`ORDER BY h, v LIMIT k`). That is what lets a quantile sketch be
  * rows+schema+hash oracle-checked (the q45 CMS precedent) instead of
  * rows-only like a randomized KLL.
  *
  * Unlike a row_number window or a global sort, the aggregate is one
  * map-side-combinable pass: partials carry ≤ k (hash, value) pairs
  * per partition, the exchange moves partitions×k rows, and no node
  * ever holds more than k entries — at 100 TB the sample costs one
  * scan plus a k-row reduction.
  */
final class BottomKByHashBuffer(val k: Int) {
  val hs = new Array[Long](k)
  val vs = new Array[Double](k)
  var n = 0
  private var maxI = -1 // index of the lexicographically LARGEST kept pair

  @inline private def less(h1: Long, v1: Double, h2: Long, v2: Double): Boolean =
    h1 < h2 || (h1 == h2 && v1 < v2)

  private def rescanMax(): Unit = {
    maxI = 0
    var i = 1
    while (i < n) { if (less(hs(maxI), vs(maxI), hs(i), vs(i))) maxI = i; i += 1 }
  }

  def insert(h: Long, v: Double): Unit = {
    if (n < k) {
      hs(n) = h; vs(n) = v
      if (maxI < 0 || less(hs(maxI), vs(maxI), h, v)) maxI = n
      n += 1
    } else if (less(h, v, hs(maxI), vs(maxI))) {
      // expected replacements over a stream of m rows: k·ln(m/k), so
      // the O(k) rescan amortizes to O(m + k²·ln(m/k)) total
      hs(maxI) = h; vs(maxI) = v
      rescanMax()
    }
  }

  def mergeFrom(other: BottomKByHashBuffer): Unit = {
    var i = 0
    while (i < other.n) { insert(other.hs(i), other.vs(i)); i += 1 }
  }

  /** Kept values, ascending — the equi-depth sample. */
  def sortedValues: Array[Double] = {
    val out = java.util.Arrays.copyOf(vs, n)
    java.util.Arrays.sort(out)
    out
  }
}

/** `quantile_sketch(hash, value, k)` — the bottom-k-by-(hash, value)
  * sample as an `array<double>` sorted ascending; quantile p (percent)
  * of the distribution is element `p·(n−1) div 100 + 1` (1-indexed,
  * pure integer arithmetic — replayable). `hash` must be a
  * deterministic per-ROW key hash (not a value hash: equal values must
  * still be sampled independently); near-unique 62-bit keys keep
  * (hash, value) ties — and the low-value bias they would inject at
  * the boundary — out of the sample.
  */
case class QuantileSketchAgg(hashChild: Expression, valueChild: Expression, k: Int,
                             mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BottomKByHashBuffer]
    with org.apache.spark.sql.graftbridge.DeclaredInputTypes {
  override def declaredInputTypes: Seq[org.apache.spark.sql.types.DataType] =
    Seq(LongType, DoubleType)

  require(k >= 1, "k >= 1")

  override def children: Seq[Expression] = Seq(hashChild, valueChild)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): BottomKByHashBuffer = new BottomKByHashBuffer(k)

  override def update(buf: BottomKByHashBuffer, input: InternalRow): BottomKByHashBuffer = {
    val h = hashChild.eval(input)
    val v = valueChild.eval(input)
    if (h != null && v != null)
      buf.insert(h.asInstanceOf[Long], v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: BottomKByHashBuffer, other: BottomKByHashBuffer): BottomKByHashBuffer = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: BottomKByHashBuffer): Any =
    new GenericArrayData(buf.sortedValues)

  override def serialize(buf: BottomKByHashBuffer): Array[Byte] =
    BottomKByHash.serialize(buf)

  override def deserialize(bytes: Array[Byte]): BottomKByHashBuffer =
    BottomKByHash.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): QuantileSketchAgg =
    copy(hashChild = newChildren(0), valueChild = newChildren(1))
}

object QuantileFunctions {
  /** The deterministic bottom-k-by-(hash, value) sample, ascending. */
  def quantile_sketch(hash: Column, value: Column, k: Int): Column =
    Bridge.column(QuantileSketchAgg(Bridge.expression(hash),
      Bridge.expression(value), k).toAggregateExpression())
}

/** Buffer wire format of the batch aggregate (the `Cms` object
  * precedent): (k, n, then n
  * (hash, value) pairs). Deserialization re-inserts, so a truncated
  * or over-k payload can never corrupt the invariants.
  */
object BottomKByHash {
  def serialize(buf: BottomKByHashBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k); out.writeInt(buf.n)
    var i = 0
    while (i < buf.n) { out.writeLong(buf.hs(i)); out.writeDouble(buf.vs(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): BottomKByHashBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new BottomKByHashBuffer(in.readInt())
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.insert(in.readLong(), in.readDouble()); i += 1 }
    buf
  }
}
