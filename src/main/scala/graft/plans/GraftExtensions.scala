package graft.plans

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.functions._

/** `SparkSessionExtensions` entry point and the engine's one function
  * table. Every session built by `graft.core.GraftSession` installs it
  * (`spark.sql.extensions`); a session built elsewhere adds
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`.
  *
  * Each engine function is injected once, under one fixed name, and its
  * parameters travel as literal arguments (`minhash_sig(text, 3, 8)`),
  * so the Column APIs in `graft.functions` are plain `call_function`s —
  * Spark 4 keeps the Expression↔Column bridge private, and the function
  * registry is the public seam. Every builder checks its argument count
  * (`WRONG_NUM_ARGS`) and that its parameters are literals
  * (`NON_FOLDABLE_ARGUMENT`), so a bad call from SQL fails analysis
  * naming the function instead of failing inside the builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule(session => RlsInjectionRule(session))
    // bounded-heap top-k-per-key replacing sort-based row_number windows
    // (no-op unless the plan matches; see TopKPerKey.scala)
    e.injectPlannerStrategy(session => TopKPerKeyStrategy(session))
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {
  private type Fn = (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression)

  /** A function taking `min` to `max` (default: exactly `min`) arguments. */
  private def fn(name: String, clazz: Class[_], min: Int, max: Int = 0)(
      builder: Seq[Expression] => Expression): Fn = {
    val hi = math.max(min, max)
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name),
      exprs => {
        if (exprs.length < min || exprs.length > hi)
          throw new AnalysisException(
            errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            messageParameters = Map(
              "functionName" -> s"`$name`",
              "expectedNum" -> (min to hi).mkString(", "),
              "actualNum" -> exprs.length.toString,
              "docroot" -> "https://spark.apache.org/docs/latest"))
        builder(exprs)
      })
  }

  /** The value of parameter `e` when it is a non-null literal whose type
    * passes `ok`; otherwise the standard analysis error naming `func`. */
  private def literal(func: String, param: String, typeName: String,
      e: Expression, ok: Boolean): Any =
    Option(if (ok && e.foldable) e.eval() else null).getOrElse(
      throw new AnalysisException(
        errorClass = "NON_FOLDABLE_ARGUMENT",
        messageParameters = Map("funcName" -> s"`$func`",
          "paramName" -> s"`$param`", "paramType" -> typeName)))

  private def int(func: String, param: String, e: Expression): Int =
    literal(func, param, "INT", e,
      Seq(ByteType, ShortType, IntegerType, LongType).contains(e.dataType))
      .asInstanceOf[Number].intValue()

  private def matrix(func: String, e: Expression): Seq[Seq[Double]] = {
    val numeric = e.dataType match {
      case ArrayType(ArrayType(_: NumericType, _), _) => true
      case _ => false
    }
    val m = literal(func, "centroids", "ARRAY<ARRAY<DOUBLE>>",
      Cast(e, ArrayType(ArrayType(DoubleType))), numeric)
      .asInstanceOf[ArrayData]
    (0 until m.numElements()).map(i => m.getArray(i).toDoubleArray().toSeq)
  }

  val functions: Seq[Fn] = Seq(
    fn("accent_fold", classOf[AccentFold], 1)(es => AccentFold(es(0))),
    fn("text_stats", classOf[TextStats], 1)(es => TextStats(es(0))),
    fn("simhash64", classOf[SimHash64], 1)(es => SimHash64(es(0))),
    fn("term_freqs", classOf[TermFreqs], 1)(es => TermFreqs(es(0))),
    fn("token_entropy", classOf[TokenEntropy], 1)(es => TokenEntropy(es(0))),
    fn("minhash_sig", classOf[MinHashSig], 3)(es => MinHashSig(es(0),
      int("minhash_sig", "n", es(1)), int("minhash_sig", "k", es(2)))),
    fn("window_digests", classOf[WindowDigests], 2)(es =>
      WindowDigests(es(0), int("window_digests", "w", es(1)))),
    fn("vec_dot", classOf[VecDot], 2)(es => VecDot(es(0), es(1))),
    fn("nearest_centroid", classOf[NearestCentroid], 2)(es =>
      VectorOps.centroidExpr(es(0), matrix("nearest_centroid", es(1)))),
    fn("bpe_encode_text", classOf[BpeEncodeText], 2)(es =>
      BpeEncodeText(es(0), es(1))),
    fn("vocab_lookup_all", classOf[VocabLookupAll], 2)(es =>
      VocabLookupAll(es(0), es(1))),
    fn("bottom_k", classOf[BottomKStrings], 2)(es =>
      BottomKStrings(es(0), int("bottom_k", "k", es(1)))),
    fn("freq_items", classOf[FreqItemsSketch], 2)(es =>
      FreqItemsSketch(es(0), int("freq_items", "k", es(1)))),
    fn("bloom_filter_agg", classOf[BloomFilterAggregate], 1, 3)(es =>
      es.size match {
        case 1 => new BloomFilterAggregate(es(0))
        case 2 => new BloomFilterAggregate(es(0), es(1))
        case _ => new BloomFilterAggregate(es(0), es(1), es(2))
      }),
    fn("might_contain", classOf[BloomFilterMightContain], 2)(es =>
      BloomFilterMightContain(es(0), es(1))))
}
