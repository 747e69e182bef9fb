package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom-filter join pruning — the explicit form of Spark's own runtime
  * filter (`InjectRuntimeFilter`): build a bloom filter over the build
  * side's join keys (one aggregate producing a few-KB binary scalar) and
  * drop probe-side rows that cannot match BEFORE the shuffle/join.
  *
  * At 100 TB this is the difference between shuffling the full probe
  * table and shuffling only rows whose key might exist on the build side
  * — with a selective build side (the common star-schema case: a filtered
  * dimension) that is a 10-100x cut, and `might_contain` on a parquet
  * scan column additionally prunes at the row-group level. False
  * positives are harmless: the exact join that follows removes them, so
  * results are identical to the unfiltered join.
  *
  * Uses Spark's own `BloomFilterAggregate` / `BloomFilterMightContain`
  * Catalyst expressions (codegen'd, spill-safe), injected by
  * [[graft.plans.GraftExtensions]] as `bloom_filter_agg` /
  * `might_contain`, keyed by `xxhash64` like the built-in runtime filter.
  */
object BloomOps {

  /** The Bloom-filter binary over `df`'s `key` column, sized for
    * `expectedItems` — one small aggregate job whose result is a
    * driver-side scalar, the same shape as a broadcast variable, NOT a
    * per-row collect. None when `df` is empty (the aggregate is null):
    * then no probe can match. Callers probe the result with
    * `might_contain`. */
  def build(df: DataFrame, key: String,
      expectedItems: Long): Option[Array[Byte]] =
    Option(df
      .select(call_function("bloom_filter_agg",
        xxhash64(col(key)), lit(expectedItems)).as("bf"))
      .head().getAs[Array[Byte]](0))

  /** `large` rows whose `largeKey` might appear among `small`'s
    * `smallKey` values (bloom pre-filter; no false negatives). */
  def prefilter(large: DataFrame, largeKey: String,
      small: DataFrame, smallKey: String,
      expectedItems: Long = 1000000L): DataFrame =
    build(small, smallKey, expectedItems) match {
      case Some(b) => large.filter(
        call_function("might_contain", lit(b), xxhash64(col(largeKey))))
      // empty build side: nothing can match the join that follows, so
      // drop everything up front
      case None => large.filter(lit(false))
    }
}
