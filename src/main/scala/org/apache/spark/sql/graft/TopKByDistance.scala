package org.apache.spark.sql.graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass bounded top-k accumulator: keeps the k smallest (distance, id)
  * pairs, ties broken by id ascending.
  *
  * Max-heap of at most k: push when better than the current worst, else
  * drop — O(log k) per row, O(min(k, rows seen)) memory, and crucially a
  * *partial-aggregatable* shape: each map task ships at most k entries per
  * group to the exchange instead of its whole candidate set (SURVEY A1's
  * "custom Aggregator" alternative to the WindowGroupLimit plan; the
  * reference sorts the whole candidate array and truncates,
  * `flat.go:125-135`).
  */
final class TopKBuffer(val k: Int) {
  // parallel arrays as a binary max-heap ordered by (distance desc, id desc).
  // They start at min(k, 16) slots and double up to k: a group never holds
  // more entries than it has seen, so a large k reserves nothing up front.
  private var ds = new Array[Double](math.min(k, 16))
  private var is = new Array[Any](ds.length)
  var size = 0

  def dists: Array[Double] = ds
  def ids: Array[Any] = is

  @inline private def worse(d1: Double, id1: Any, d2: Double, id2: Any,
      ord: Ordering[Any]): Boolean =
    d1 > d2 || (d1 == d2 && ord.compare(id1, id2) > 0)

  def insert(d: Double, id: Any, ord: Ordering[Any]): Unit = {
    if (size < k) {
      if (size == ds.length) grow()
      ds(size) = d; is(size) = id; size += 1
      var i = size - 1 // sift up
      while (i > 0 && worse(ds(i), is(i), ds((i - 1) / 2), is((i - 1) / 2), ord)) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    } else if (worse(ds(0), is(0), d, id, ord)) {
      ds(0) = d; is(0) = id
      siftDown(0, ord)
    }
  }

  private def grow(): Unit = {
    val n = math.min(k.toLong, 2L * ds.length).toInt
    val nd = new Array[Double](n); System.arraycopy(ds, 0, nd, 0, size)
    val ni = new Array[Any](n); System.arraycopy(is, 0, ni, 0, size)
    ds = nd; is = ni
  }

  private def swap(a: Int, b: Int): Unit = {
    val td = ds(a); ds(a) = ds(b); ds(b) = td
    val ti = is(a); is(a) = is(b); is(b) = ti
  }

  private def siftDown(start: Int, ord: Ordering[Any]): Unit = {
    var i = start
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && worse(ds(l), is(l), ds(m), is(m), ord)) m = l
      if (r < size && worse(ds(r), is(r), ds(m), is(m), ord)) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  /** Entries sorted ascending by (distance, id). */
  def sorted(ord: Ordering[Any]): Array[(Double, Any)] =
    (0 until size).map(i => (ds(i), is(i))).toArray
      .sortWith((a, b) =>
        a._1 < b._1 || (a._1 == b._1 && ord.compare(a._2, b._2) < 0))
}

/** `topk_by_distance(distance, id, k)` → ARRAY<STRUCT<id, distance, rnk>>
  * (ascending, rnk 1-based). Supported id types: LONG, INT, STRING.
  */
case class TopKByDistance(
    distance: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with ImplicitCastInputTypes {

  require(k > 0, s"k must be positive, got $k")

  override def children: Seq[Expression] = Seq(distance, id)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(DoubleType, TypeCollection(LongType, IntegerType, StringType))
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", id.dataType),
    StructField("distance", DoubleType),
    StructField("rnk", LongType))), containsNull = false)

  private lazy val ord: Ordering[Any] = (id.dataType match {
    case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
    case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
    case StringType => Ordering.comparatorToOrdering(
      (a: Any, b: Any) => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]))
    case t => throw new IllegalArgumentException(s"unsupported id type $t")
  })

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buf: TopKBuffer, input: InternalRow): TopKBuffer = {
    val d = distance.eval(input)
    val i = id.eval(input)
    if (d != null && i != null) {
      val idVal = i match {
        case s: UTF8String => s.copy() // input row buffers are reused
        case other => other
      }
      buf.insert(d.asInstanceOf[Double], idVal, ord)
    }
    buf
  }

  override def merge(buf: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    var i = 0
    while (i < other.size) { buf.insert(other.dists(i), other.ids(i), ord); i += 1 }
    buf
  }

  override def eval(buf: TopKBuffer): Any = {
    val entries = buf.sorted(ord)
    new GenericArrayData(entries.zipWithIndex.map { case ((d, idVal), i) =>
      InternalRow(idVal, d, (i + 1).toLong)
    })
  }

  override def serialize(buf: TopKBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.k); out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) {
      out.writeDouble(buf.dists(i))
      id.dataType match {
        case LongType => out.writeLong(buf.ids(i).asInstanceOf[Long])
        case IntegerType => out.writeInt(buf.ids(i).asInstanceOf[Int])
        case StringType =>
          val b = buf.ids(i).asInstanceOf[UTF8String].getBytes
          out.writeInt(b.length); out.write(b)
        case t => throw new IllegalArgumentException(s"unsupported id type $t")
      }
      i += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val kk = in.readInt(); val n = in.readInt()
    val buf = new TopKBuffer(kk)
    var i = 0
    while (i < n) {
      val d = in.readDouble()
      val idVal: Any = id.dataType match {
        case LongType => in.readLong()
        case IntegerType => in.readInt()
        case StringType =>
          val len = in.readInt(); val b = new Array[Byte](len)
          in.readFully(b); UTF8String.fromBytes(b)
        case t => throw new IllegalArgumentException(s"unsupported id type $t")
      }
      buf.insert(d, idVal, ord)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKByDistance =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKByDistance =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(distance = newChildren(0), id = newChildren(1))
  override def prettyName: String = "topk_by_distance"
}
