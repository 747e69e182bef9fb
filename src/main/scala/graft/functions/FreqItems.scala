package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

/** `freq_items(expr, k)` — Misra–Gries heavy-hitters summary with k
  * counters, returned as `map<string,bigint>` of surviving items to their
  * estimated counts.
  *
  * The streaming-frequency primitive for corpus statistics at scale: an
  * exact `groupBy(token).count` shuffles one row per DISTINCT token (fine
  * for ranked output, and that exact path stays the oracle-checked query),
  * while this sketch holds AT MOST k counters per partial aggregate no
  * matter how many distinct tokens flow through — the shape you want for
  * "top domains / top n-grams over 100 TB" where the distinct count is
  * itself huge. Guarantees (order-independent, hence safe to assert even
  * though the estimates themselves vary with merge order):
  *   - `true_count - n/(k+1)  <=  est  <=  true_count` for surviving items
  *   - every item with `true_count > n/(k+1)` survives (n = total rows fed)
  * Merging uses the mergeable-summaries rule (Agarwal et al., PODS'12):
  * sum counters, and if more than k survive, subtract the (k+1)-th largest
  * and drop the non-positive — the bound above composes across partials.
  *
  * The per-update decrement step is O(k) amortized O(1) (each decrement
  * pays for a prior increment); k is bounded (validated <= 64k) so a
  * partial aggregate buffer is a few KiB — orders of magnitude below the
  * exact path's distinct-key hash map.
  */
case class FreqItemsSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]] {

  require(k > 0 && k <= 65536, "k must be in [1, 65536]")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def prettyName: String = "freq_items"

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[UTF8String, Long],
      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      buf.get(s) match {
        case Some(c) => buf.update(s, c + 1)
        case None if buf.size < k => buf.update(s.clone(), 1L)
        case None => decrementAll(buf, 1L) // classic MG: new item hits a full table
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[UTF8String, Long],
      other: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    other.foreach { case (s, c) =>
      // `other` was deserialized from this task's input — safe to keep keys.
      buf.update(s, buf.getOrElse(s, 0L) + c)
    }
    if (buf.size > k) {
      // (k+1)-th largest count: bounded selection, no full sort needed for
      // correctness — buf.size <= 2k here so a sort is cheap and simple.
      val kth = buf.valuesIterator.toArray.sorted(Ordering.Long.reverse)(k)
      decrementAll(buf, kth)
    }
    buf
  }

  private def decrementAll(buf: mutable.HashMap[UTF8String, Long], by: Long): Unit = {
    val dead = mutable.ArrayBuffer.empty[UTF8String]
    buf.foreach { case (s, c) => if (c <= by) dead += s else buf.update(s, c - by) }
    dead.foreach(buf.remove)
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    // Deterministic layout (sorted by key bytes) so downstream map_keys /
    // element_at see a stable map regardless of hash-iteration order.
    val entries = buf.toArray.sortBy(_._1)(BottomKStrings.ByteOrder)
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(_._1: Any)),
      new GenericArrayData(entries.map(_._2: Any)))
  }

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, c) =>
      val b = s.getBytes; out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = createAggregationBuffer()
    val n = in.readInt()
    (0 until n).foreach { _ =>
      val len = in.readInt(); val b = new Array[Byte](len); in.readFully(b)
      buf.update(UTF8String.fromBytes(b), in.readLong())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): FreqItemsSketch =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqItemsSketch =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): FreqItemsSketch = copy(child = c.head)
}

object FreqItems {
  def freqItems(c: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("freq_items", c,
      org.apache.spark.sql.functions.lit(k))
}
