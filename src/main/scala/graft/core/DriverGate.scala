package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType,
  ShortType, StructField, StructType}

/** Shared plumbing of the size-gated driver fast paths
  * (`ext.Graph.pageRank`, `ext.Dedup.clusterPairs`): the conf-tunable
  * edge budget, the id types a driver loop over longs accepts, and the
  * frame that carries the loop's answer back. Each caller keeps its own
  * key, default and branch condition.
  */
private[graft] object DriverGate {

  /** The budget under `key` (`default` when unset); a value that is not a
    * long fails fast, naming the key. */
  def budget(spark: SparkSession, key: String, default: Long): Long = {
    val raw = spark.conf.get(key, default.toString)
    try raw.trim.toLong
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"$key must be a long, got '$raw'")
    }
  }

  /** Whether ids of type `t` collect losslessly as longs. */
  def integralIds(t: DataType): Boolean = t match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Rows per slice of a [[resultFrame]]. */
  private val RowsPerSlice = 4096

  /** A driver loop's answer as a DataFrame: `rows` under the non-nullable
    * `fields`, in `min(defaultParallelism, 1 + rows / RowsPerSlice)`
    * slices, with every long column cast back to the input's `idType`. */
  def resultFrame(spark: SparkSession, rows: Seq[Row],
      fields: Seq[(String, DataType)], idType: DataType): DataFrame = {
    val schema = StructType(fields.map { case (n, t) =>
      StructField(n, t, nullable = false) })
    val slices = math.min(spark.sparkContext.defaultParallelism,
      1 + rows.size / RowsPerSlice)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
      .select(fields.map { case (n, t) =>
        if (t == LongType) col(n).cast(idType).as(n) else col(n) }: _*)
  }
}
