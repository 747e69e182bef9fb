package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import java.text.Normalizer

/** Native Catalyst expression for accent folding ("Jérôme" → "Jerome") —
  * the reference's NFKD login normalization
  * (`analytics/etl/load_security.py:108-116`), implemented as an
  * `Expression` with `doGenCode` instead of a Scala UDF so it stays inside
  * whole-stage codegen (no Row boxing, null handling for free).
  */
object AccentFoldImpl {
  /** Static entry point referenced by generated code. */
  def fold(s: UTF8String): UTF8String = {
    if (s == null) return null
    UTF8String.fromString(
      Normalizer.normalize(s.toString, Normalizer.Form.NFKD)
        .replaceAll("\\p{M}", ""))
  }
}

case class AccentFold(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    AccentFoldImpl.fold(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.AccentFoldImpl.fold($c)")
  override protected def withNewChildInternal(c: Expression): AccentFold = copy(c)
  override def prettyName: String = "accent_fold"
}

object AccentFold {
  /** Column API (input must be a string column); SQL:
    * `SELECT accent_fold(nom) FROM ...`. Resolves through the function
    * table [[graft.plans.GraftExtensions]], which every `GraftSession`
    * installs. */
  def accentFold(c: Column): Column =
    org.apache.spark.sql.functions.call_function("accent_fold", c)
}
