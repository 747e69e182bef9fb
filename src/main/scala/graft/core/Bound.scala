package graft.core

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** A per-batch constant that keeps the generated code the same from batch
  * to batch.
  *
  * Spark caches each generated class under its Java source, and
  * `Literal.doGenCode` writes primitive, date and long values into that
  * source. A `lit(batchId)` stamp or a `lit(date).cast("date")` effective
  * date therefore compiles a new class on every batch, and the cache
  * never serves it. Here the value lives in a zero-argument UDF's
  * closure: the UDF is not foldable, so the optimizer keeps it, and
  * generated code reaches the closure as a reference object, not as
  * text. The source, and the cache key, stay the same whatever `v` is.
  * The column is non-nullable, like the literal it replaces. */
object Bound {
  def value[T: TypeTag](v: T): Column =
    udf(() => v).asNonNullable().withName("bound")()
}
