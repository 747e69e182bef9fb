package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

/** `bottom_k(expr, k)` — bounded-memory aggregate keeping the k smallest
  * string values per group (a KMV / bottom-k sketch).
  *
  * This is the aggregation-side primitive for set-similarity at scale:
  * `sort_array(collect_list(x))[0:k]` materializes the whole group before
  * truncating, while this buffer never exceeds k entries per group —
  * essential when a group holds millions of shingle hashes. Implemented
  * as a `TypedImperativeAggregate` (mutable max-heap buffer, spill-safe
  * serialization), the Catalyst shape Spark itself uses for sketches.
  *
  * The Jaccard estimator over two bottom-k sketches of md5 hashes is
  * |bottomK(A∪B) ∩ A_k ∩ B_k| / k — the classic KMV estimate.
  */
case class BottomKStrings(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.PriorityQueue[UTF8String]] {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bottom_k"

  // max-heap: the head is the LARGEST kept value, evicted when a smaller
  // candidate arrives and the buffer is full. ONE ordering everywhere
  // (UTF8String's own byte-order compareTo): heap, eviction and eval must
  // agree or mixed supplementary-plane/U+E000-U+FFFF input sorts wrong.
  override def createAggregationBuffer(): mutable.PriorityQueue[UTF8String] =
    mutable.PriorityQueue.empty[UTF8String](BottomKStrings.ByteOrder)

  override def update(buf: mutable.PriorityQueue[UTF8String],
      input: InternalRow): mutable.PriorityQueue[UTF8String] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[UTF8String])
    buf
  }

  override def merge(buf: mutable.PriorityQueue[UTF8String],
      other: mutable.PriorityQueue[UTF8String]): mutable.PriorityQueue[UTF8String] = {
    other.foreach(add(buf, _))
    buf
  }

  private def add(buf: mutable.PriorityQueue[UTF8String], v: UTF8String): Unit = {
    if (buf.size < k) buf.enqueue(v.clone())
    else if (v.compareTo(buf.head) < 0) { buf.dequeue(); buf.enqueue(v.clone()) }
  }

  override def eval(buf: mutable.PriorityQueue[UTF8String]): Any =
    new GenericArrayData(
      buf.toArray.sorted(BottomKStrings.ByteOrder).map(x => x: Any))

  override def serialize(buf: mutable.PriorityQueue[UTF8String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { s => val b = s.getBytes; out.writeInt(b.length); out.write(b) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.PriorityQueue[UTF8String] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach { _ =>
      val len = in.readInt(); val b = new Array[Byte](len); in.readFully(b)
      buf.enqueue(UTF8String.fromBytes(b))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): BottomKStrings =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BottomKStrings =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): BottomKStrings = copy(child = c.head)
}

object BottomKStrings {
  /** The one ordering used by heap, eviction and eval: UTF8String's own
    * byte-wise compareTo (binary collation, matches eviction at `add`). */
  val ByteOrder: Ordering[UTF8String] =
    Ordering.comparatorToOrdering[UTF8String]((a, b) => a.compareTo(b))
}

object BottomK {
  def bottomK(c: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("bottom_k", c,
      org.apache.spark.sql.functions.lit(k))
}
