package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hash-indexed token→id vocabulary lookup over a token array — the
  * scale path for [[graft.ext.Bpe.encodeIds]].
  *
  * Why not `transform(toks, t => element_at(map_lit, t))`: Spark map
  * LITERALS are `ArrayBasedMapData`, and `GetMapValue`/`element_at`
  * probes them with a LINEAR key scan — O(|vocab|) per subword. Measured
  * (docs/SCALING.md, sf0.01 docs, 16 cpus): the same encode goes
  * 0.4 s → 5.0 s → 21 s → 38 s at 32 → 16k → 50k → 100k vocab entries,
  * linear in vocab size while plan/analysis time stays flat (~0.15 s) —
  * per-lookup scanning, not plan bloat. A production 32k–100k BPE vocab
  * would make that the whole job.
  *
  * This expression builds a `java.util.HashMap` index from the (foldable)
  * map child ONCE on the driver; generated code ships it as a reference
  * object inside the task binary (broadcast per executor — the same
  * distribution class as the literal itself) and probes it O(1) per
  * subword. Row-local, codegen'd, no join, no shuffle — encode stays a
  * pure projection at any vocab size. Tokens absent from the vocabulary
  * yield NULL ids (the caller's OOV signal), matching `element_at` miss
  * semantics exactly.
  */
object VocabLookupImpl {
  /** Static entry point referenced by generated code. */
  def lookupAll(toks: ArrayData,
      idx: java.util.HashMap[UTF8String, java.lang.Long]): ArrayData = {
    val n = toks.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      out(i) = if (t == null) null else idx.get(t)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `vocab_lookup_all(tokens ARRAY<STRING>, vocab MAP<STRING,BIGINT>)
  * → ARRAY<BIGINT>` (null entries for OOV tokens). `vocab` must be
  * foldable (a literal): the hash index is built from it at plan time. */
case class VocabLookupAll(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "vocab_lookup_all"

  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ArrayType(StringType, _) => right.dataType match {
      case MapType(StringType, LongType, _) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case MapType(StringType, LongType, _) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: vocab must be foldable (a literal map) — the " +
            "hash index is built once at plan time")
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: vocab must be MAP<STRING,BIGINT>, got ${t.sql}")
    }
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: tokens must be ARRAY<STRING>, got ${t.sql}")
  }

  /** Driver-built hash index over the literal vocab; keys are cloned out
    * of the literal's backing buffers. */
  @transient private lazy val index
      : java.util.HashMap[UTF8String, java.lang.Long] = {
    val m = right.eval(null).asInstanceOf[MapData]
    val out = new java.util.HashMap[UTF8String, java.lang.Long](
      math.max(16, m.numElements() * 2))
    val ks = m.keyArray()
    val vs = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      out.put(ks.getUTF8String(i).clone(),
        java.lang.Long.valueOf(vs.getLong(i)))
      i += 1
    }
    out
  }

  override def nullSafeEval(toks: Any, ignoredMap: Any): Any =
    VocabLookupImpl.lookupAll(toks.asInstanceOf[ArrayData], index)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val idxRef = ctx.addReferenceObj("vocabIndex", index,
      "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, (toks, _) =>
      s"${ev.value} = graft.functions.VocabLookupImpl.lookupAll($toks, $idxRef);")
  }

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): VocabLookupAll = copy(left = l, right = r)
}

object VocabLookup {
  /** `vocab` must be a literal map column (`typedlit(Map[String, Long])`). */
  def vocabLookupAll(tokens: Column, vocab: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "vocab_lookup_all", tokens, vocab)
}
