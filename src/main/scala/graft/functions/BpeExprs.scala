package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native BPE merge application — the codegen scale path for
  * [[graft.ext.Bpe.encode]].
  *
  * Why not the `aggregate`-HOF fold (the r13 shape, kept as
  * `Bpe.encodeFold` for the parity spec): higher-order functions are
  * `CodegenFallback`, so the fold's Project runs INTERPRETED, and the
  * fold itself costs one full replace-all pass over each word's
  * doubled-space symbol string PER MERGE — O(numMerges × wordLen) per
  * word even when almost no merge applies. At a production 32k–100k
  * vocab the encode becomes numMerges-bound. This expression applies
  * the same merge list in O(appliedMerges × wordLen) per word via a
  * rank-indexed hash table, independent of the list's length, and
  * whole-stage-codegens (a single static call, same pattern as
  * [[VocabLookupAll]]). The word split is fused in — it takes the
  * (already lowercased) TEXT and splits on single spaces, skipping
  * empty segments, exactly `filter(split(text, " ", -1), _ != "")`
  * ([[graft.ext.TextAnalysis.tokens]]) — because that `filter` HOF
  * would otherwise sit in the same Project and break codegen for the
  * whole stage.
  *
  * EXACTNESS. The fold applies merge ranks 1..M in order, one greedy
  * leftmost non-overlapping pass each (the doubled-space replace
  * trick, `ext/Bpe.scala` scaladoc). This expression simulates those
  * passes without visiting absent ranks: keep a cursor (the highest
  * rank already passed, initially 0); repeatedly find the SMALLEST
  * rank `> cursor` whose pair is adjacent somewhere in the word, run
  * exactly that rank's greedy pass, set cursor to it. Ranks skipped
  * in between have no occurrence at the moment the sequential fold
  * would reach them (the word state agrees by induction), so their
  * passes are no-ops; ranks `<= cursor` are never re-applied, exactly
  * like the fold — this matters when a later merge (x,y)→"xy"
  * re-creates an earlier rank's pair (possible only through the new
  * "xy" symbol), which the fold leaves unmerged. Duplicate pairs in
  * the list keep ALL their ranks in the index (each rank's pass is
  * simulated at its own position), so even degenerate lists match the
  * fold bit-for-bit. BpeSpec proves equality on the gate corpus and
  * on adversarial fixtures (overlap chains, merge-created earlier
  * pairs, duplicates, supplementary-plane code points).
  *
  * Null and type shape mirror the fold's `transform`+`flatten` chain:
  * null text → null; element type is non-null ARRAY<STRING>
  * (`containsNull = false`, like `split`'s). Symbols are code-point
  * grain, matching `substr` in the fold and the DuckDB oracle.
  */
object BpeEncodeImpl {

  /** Driver-built, task-shipped merge table: rank-ordered pair parts
    * plus a two-level hash index (lhs → rhs → ascending ranks; tokens
    * may contain any character, so no separator-joined key). */
  final class MergeTable(
      val lhs: Array[String],
      val rhs: Array[String],
      val merged: Array[String],
      val ranks: java.util.HashMap[String, java.util.HashMap[String, Array[Int]]])
      extends Serializable

  def build(lhsA: Array[String], rhsA: Array[String]): MergeTable = {
    val m = lhsA.length
    val merged = new Array[String](m)
    val idx = new java.util.HashMap[String, java.util.HashMap[String, Array[Int]]]()
    var k = 0
    while (k < m) {
      merged(k) = lhsA(k) + rhsA(k)
      var inner = idx.get(lhsA(k))
      if (inner == null) {
        inner = new java.util.HashMap[String, Array[Int]]()
        idx.put(lhsA(k), inner)
      }
      val prev = inner.get(rhsA(k))
      val rank = k + 1
      inner.put(rhsA(k),
        if (prev == null) Array(rank) else prev :+ rank) // ranks ascend: k ascends
      k += 1
    }
    new MergeTable(lhsA, rhsA, merged, idx)
  }

  /** Static entry point referenced by generated code: text → flattened
    * subword array over its space-separated words. */
  def encodeText(text: UTF8String, t: MergeTable): GenericArrayData = {
    val s = text.toString
    val out = new scala.collection.mutable.ArrayBuffer[Any](
      math.max(8, s.length / 3))
    var start = 0
    var i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        if (i > start) encodeWord(s.substring(start, i), t, out)
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** One word's pass-per-rank merge walk (see the object scaladoc);
    * caller guarantees `w` is non-empty and space-free. */
  private def encodeWord(w: String,
      t: MergeTable, out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    // code-point split (a supplementary-plane char is ONE symbol,
    // matching substr in the fold and DuckDB)
    val syms = new Array[String](w.length)
    var len = 0
    var ci = 0
    while (ci < w.length) {
      val cp = w.codePointAt(ci)
      val cc = Character.charCount(cp)
      syms(len) = w.substring(ci, ci + cc)
      len += 1
      ci += cc
    }
    var cursor = 0
    var more = true
    while (more && len > 1) {
      // smallest rank > cursor with an adjacent occurrence
      var best = Int.MaxValue
      var i = 0
      while (i < len - 1) {
        val inner = t.ranks.get(syms(i))
        if (inner != null) {
          val rs = inner.get(syms(i + 1))
          if (rs != null) {
            var j = 0
            while (j < rs.length && rs(j) <= cursor) j += 1
            if (j < rs.length && rs(j) < best) best = rs(j)
          }
        }
        i += 1
      }
      if (best == Int.MaxValue) more = false
      else {
        // rank `best`'s greedy leftmost non-overlapping pass, in place
        val a = t.lhs(best - 1)
        val b = t.rhs(best - 1)
        val m = t.merged(best - 1)
        var r = 0
        var wp = 0
        while (r < len) {
          if (r < len - 1 && syms(r) == a && syms(r + 1) == b) {
            syms(wp) = m; r += 2
          } else {
            syms(wp) = syms(r); r += 1
          }
          wp += 1
        }
        len = wp
        cursor = best
      }
    }
    var o = 0
    while (o < len) {
      out += UTF8String.fromString(syms(o))
      o += 1
    }
  }
}

/** `bpe_encode_text(text STRING,
  * merges ARRAY<STRUCT<lhs STRING, rhs STRING>>) → ARRAY<STRING>`:
  * flattened subword stream of the text's space-separated words
  * (lowercasing is the caller's job — compose with `lower`, which
  * codegens in the same stage). `merges` must be foldable (a
  * literal) — the rank index is built from it at plan time, once, on
  * the driver. */
case class BpeEncodeText(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode_text"

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case StringType => right.dataType match {
      case ArrayType(st: StructType, _)
          if st.length == 2 && st.forall(_.dataType == StringType) =>
        if (!right.foldable) TypeCheckResult.TypeCheckFailure(
          s"$prettyName: merges must be foldable (a literal) — the rank " +
            "index is built once at plan time")
        else checkMergesValue()
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: merges must be ARRAY<STRUCT<STRING,STRING>>, " +
          s"got ${t.sql}")
    }
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: text must be STRING, got ${t.sql}")
  }

  /** The foldable merges value must be a fully non-null array — a NULL
    * array, NULL element or NULL lhs/rhs would otherwise NPE when the
    * lazy merge table is built at plan time; surface it as a typed
    * analysis error instead. */
  private def checkMergesValue(): TypeCheckResult = {
    val arr = right.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (arr == null) return TypeCheckResult.TypeCheckFailure(
      s"$prettyName: merges must not be NULL")
    var i = 0
    while (i < arr.numElements()) {
      if (arr.isNullAt(i)) return TypeCheckResult.TypeCheckFailure(
        s"$prettyName: merges[$i] is NULL")
      val row = arr.getStruct(i, 2)
      if (row.isNullAt(0) || row.isNullAt(1))
        return TypeCheckResult.TypeCheckFailure(
          s"$prettyName: merges[$i] has a NULL lhs or rhs")
      i += 1
    }
    TypeCheckResult.TypeCheckSuccess
  }

  /** Driver-built merge table over the literal list; strings are
    * copied out of the literal's backing buffers. */
  @transient private lazy val table: BpeEncodeImpl.MergeTable = {
    val arr = right.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val m = arr.numElements()
    val lhs = new Array[String](m)
    val rhs = new Array[String](m)
    var i = 0
    while (i < m) {
      val row = arr.getStruct(i, 2)
      lhs(i) = row.getUTF8String(0).toString
      rhs(i) = row.getUTF8String(1).toString
      i += 1
    }
    BpeEncodeImpl.build(lhs, rhs)
  }

  override def nullSafeEval(text: Any, ignoredMerges: Any): Any =
    BpeEncodeImpl.encodeText(text.asInstanceOf[UTF8String], table)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("bpeMergeTable", table,
      "graft.functions.BpeEncodeImpl.MergeTable")
    nullSafeCodeGen(ctx, ev, (text, _) =>
      s"${ev.value} = graft.functions.BpeEncodeImpl.encodeText($text, $tRef);")
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): BpeEncodeText = copy(left = l, right = r)
}

object BpeEncode {
  /** `merges` must be a literal array-of-struct column
    * (`typedlit(Seq[(String, String)])`, rank order). */
  def bpeEncodeText(text: Column, merges: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "bpe_encode_text", text, merges)
}
