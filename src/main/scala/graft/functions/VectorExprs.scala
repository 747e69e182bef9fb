package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a, b, _*_),
  * ...)`) is interpreted per element — lambda closures never enter
  * whole-stage codegen, which makes it the hot-path cost of cosine top-k,
  * LSH bucketing and IVF cell assignment. These expressions generate a
  * tight primitive loop instead (one static call per row, no boxing per
  * element), while keeping the HOFs' exact semantics bit-for-bit:
  * left-to-right accumulation, null on null/length-mismatch input.
  */
object VectorOpsImpl {

  private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Dot product; null (boxed) mirrors the HOF on length mismatch or null
    * elements. Accumulates left-to-right like `aggregate`. */
  def dot(a: ArrayData, b: ArrayData,
      aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += get(a, i, aFloat) * get(b, i, bFloat)
      i += 1
    }
    s
  }

  /** 0-based index of the centroid with the smallest squared distance
    * (first wins on ties — matches array_position(array_min)). */
  def nearestCentroid(emb: ArrayData, cents: Array[Array[Double]],
      isFloat: Boolean): java.lang.Integer = {
    val n = emb.numElements()
    var best = -1
    var bestD = Double.PositiveInfinity
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      if (c.length != n) return null
      var d = 0.0
      var i = 0
      while (i < n) {
        if (emb.isNullAt(i)) return null
        val diff = get(emb, i, isFloat) - c(i)
        d += diff * diff
        i += 1
      }
      if (d < bestD) { bestD = d; best = k }
      k += 1
    }
    if (best < 0) null else best
  }
}

case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isFloatArr(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  // vec_dot is callable from SQL: without this check, an
  // array<int>/array<string> argument would read element slots through
  // getFloat/getDouble and silently return garbage instead of failing
  // analysis.
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> arguments, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOpsImpl.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloatArr(left), isFloatArr(right))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""java.lang.Double ${ev.value}_r = graft.functions.VectorOpsImpl.dot(
         |  $a, $b, ${isFloatArr(left)}, ${isFloatArr(right)});
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }""".stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): VecDot = copy(left = l, right = r)
}

case class NearestCentroid(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression {

  private def isFloatArr: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  // immutable field for tree equality; array form for the generated loop
  @transient private lazy val matrix: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> argument, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    VectorOpsImpl.nearestCentroid(v.asInstanceOf[ArrayData], matrix,
      isFloatArr)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""java.lang.Integer ${ev.value}_r =
         |  graft.functions.VectorOpsImpl.nearestCentroid($c, $cents, $isFloatArr);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.intValue(); }""".stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroid =
    copy(child = c)
}

/** Broadcast-backed [[NearestCentroid]] for large k×dim matrices: the task
  * binary carries only the broadcast handle (bytes), the matrix ships once
  * per EXECUTOR via torrent broadcast instead of once per task closure —
  * at 1000 executors × thousands of tasks that is the difference between
  * one matrix copy per machine and one per task. The generated code
  * materializes `bc.value()` once per codegen instance (mutable state
  * init), so the per-row loop is identical to the literal variant. */
case class NearestCentroidBc(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])
    extends UnaryExpression {

  private def isFloatArr: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid_bc"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double> argument, got ${t.catalogString}")
  }

  override def nullSafeEval(v: Any): Any =
    VectorOpsImpl.nearestCentroid(v.asInstanceOf[ArrayData], bc.value,
      isFloatArr)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("centroidsBc", bc,
      "org.apache.spark.broadcast.Broadcast<double[][]>")
    val cents = ctx.addMutableState("double[][]", "centsMat",
      v => s"$v = (double[][]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, c => {
      s"""java.lang.Integer ${ev.value}_r =
         |  graft.functions.VectorOpsImpl.nearestCentroid($c, $cents, $isFloatArr);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.intValue(); }""".stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroidBc =
    copy(child = c)
}

object VectorOps {
  def vecDot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)

  def vecNorm(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(vecDot(a, a))

  /** Past this many matrix elements (128 KiB of doubles) the centroid
    * payload rides a broadcast variable instead of the task closure. */
  val BroadcastThresholdElems: Int = 16384

  /** Content-keyed LRU of centroid broadcasts: a repeated call with the
    * SAME matrix (assignment + search against one trained set, parallel
    * queries) reuses one broadcast instead of minting a fresh one per
    * call. Keys are (applicationId, full matrix) — content equality, so
    * a hash collision can never serve the wrong centroids, and a
    * restarted SparkContext can never be handed a dead broadcast.
    * Eviction only unpersists executor blocks (re-fetchable from the
    * driver if a straggler still needs them), so an in-flight plan that
    * holds an evicted handle still runs. */
  private val MaxCachedBroadcasts = 8
  private val bcCache = new java.util.LinkedHashMap[(String, Seq[Seq[Double]]),
    org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]](16, 0.75f, true)

  /** 0-based index of the nearest of `centroids` to `emb` (squared L2,
    * ties break to the lowest index): a k×dim primitive loop per row in
    * generated code, where the HOF formulation (aggregate ∘ zip_with per
    * centroid) would interpret its lambdas per element. The matrix
    * travels as a literal argument of `nearest_centroid`. */
  def nearestCentroid(emb: Column, centroids: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.functions.call_function("nearest_centroid", emb,
      org.apache.spark.sql.functions.typedlit(centroids))

  /** The `nearest_centroid` builder's representation switch: small
    * matrices embed in the expression (zero extra machinery); past
    * [[BroadcastThresholdElems]] the matrix ships as a broadcast
    * variable — once per executor, not once per task — so large-k×dim
    * IVF/PQ assignment stays cheap on a 1000-executor cluster. Results
    * are bit-identical either way. */
  private[graft] def centroidExpr(emb: Expression,
      centroids: Seq[Seq[Double]]): Expression = {
    val elems = centroids.size * centroids.headOption.map(_.size).getOrElse(0)
    if (elems <= BroadcastThresholdElems) NearestCentroid(emb, centroids)
    else {
      val sc = org.apache.spark.SparkContext.getOrCreate()
      val key = (sc.applicationId, centroids)
      val bc = bcCache.synchronized {
        val cached = bcCache.get(key)
        val b = if (cached != null) cached
        else {
          val fresh = sc.broadcast(centroids.map(_.toArray).toArray)
          bcCache.put(key, fresh)
          fresh
        }
        while (bcCache.size() > MaxCachedBroadcasts) {
          val it = bcCache.entrySet().iterator()
          val eldest = it.next(); it.remove()
          try eldest.getValue.unpersist(false)
          catch { case _: Exception => () } // a stopped context's handle
        }
        b
      }
      NearestCentroidBc(emb, bc)
    }
  }
}
