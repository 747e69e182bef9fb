package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Shared plumbing of the size-gated driver fast paths
  * (`ext.Graph.pageRank`, `ext.Dedup.clusterPairs`): the conf-tunable
  * edge budget and the id types a driver loop over longs accepts. Each
  * caller keeps its own key, default and branch condition.
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
}
