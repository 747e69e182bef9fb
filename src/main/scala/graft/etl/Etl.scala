package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ETL building blocks: surrogate keys, dimension-key lookup joins, the
  * fact reshapes (pivot, conditional aggregation), FK validation, and
  * idempotent loads — the Spark re-expression of the reference's
  * `load_dimensions.py` / `load_facts.py` machinery.
  */
object Etl {

  /** Deterministic surrogate key: dense row_number over an explicit stable
    * order, offset past the current max key (reference `INT IDENTITY`).
    * NOTE a global row_number is a single-partition sort of the KEYED rows
    * only — dimensions are small, so this is safe; facts get BIGINT keys
    * from `zipWithIndex`-free monotonic ids only when determinism is not
    * required (tests need reproducible keys, so dims use this). */
  def withSurrogateKey(df: DataFrame, keyCol: String, orderBy: Seq[Column],
      offset: Long = 0L): DataFrame =
    df.withColumn(keyCol,
      (row_number().over(Window.orderBy(orderBy: _*)) + offset).cast("int"))

  /** Dimension-key lookup: the reference builds python dicts and `.map()`s
    * them over fact columns (`load_facts.py:74-88`) — a hand-rolled
    * broadcast hash join. In Spark it IS a broadcast join. */
  def dimKeyJoin(fact: DataFrame, dim: DataFrame, businessKey: Seq[String],
      surrogateKey: String): DataFrame =
    fact.join(broadcast(dim.select((businessKey :+ surrogateKey).map(col): _*)),
      businessKey, "left")

  /** FK integrity validator: count of fact rows whose key has no match in
    * the dimension (reference orphan tests, `test_dwh.py:199-226`).
    * Spark has no FK constraints; ETL runs this post-load. */
  def orphanCount(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String): Long =
    fact.join(dim, fact(factKey) === dim(dimKey), "left_anti").count()

  /** Null-key rejection before fact insert (reference dropna). */
  def requireKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.na.drop(keys)

  /** Early-arriving facts, the constructive counterpart of
    * [[orphanCount]]: every distinct fact key with no dimension row gets
    * a PLACEHOLDER member (the Kimball "inferred member"), so the star
    * join stays inner and loses no facts; `defaults` fills the
    * placeholder attributes (unlisted columns go null) until the real
    * member arrives and an SCD1 overwrite corrects them. One left-anti
    * join on distinct fact keys — the added rows are bounded by distinct
    * orphans, not fact volume. */
  def inferredMembers(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, defaults: Map[String, Column]): DataFrame = {
    // null fact keys can never equi-match ANY member — they are
    // [[requireKeys]]' problem, not a placeholder to invent
    val missing = fact.select(col(factKey).as(dimKey))
      .filter(col(dimKey).isNotNull).distinct()
      .join(dim.select(dimKey), Seq(dimKey), "left_anti")
    val placeholders = dim.columns.foldLeft(missing) { (df, c) =>
      if (c == dimKey) df
      else df.withColumn(c, defaults.getOrElse(c, lit(null)))
    }.select(dim.columns.map(col): _*)
    dim.unionByName(placeholders)
  }

  /** Long→wide pivot of indicator rows (reference FILOSOFI pivot,
    * `load_facts.py:361-384`): one output row per group, indicators as
    * columns. `values` must be the explicit indicator list — an implicit
    * pivot triggers an extra distinct-scan job at scale. */
  def pivotIndicators(df: DataFrame, groupCols: Seq[String],
      indicatorCol: String, valueCol: String, values: Seq[String],
      rename: Map[String, String] = Map.empty): DataFrame = {
    val p = df.groupBy(groupCols.map(col): _*)
      .pivot(indicatorCol, values)
      .agg(first(col(valueCol)))
    rename.foldLeft(p) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
  }

  /** Idempotent load guard (reference skip-if-loaded,
    * `load_facts.py:163-167`): write only when the target has no data
    * files or reads as zero rows. Returns true when the write happened.
    * A target that cannot be read fails the call and is left in place:
    * unreadable is not empty. */
  def appendIfEmpty(spark: SparkSession, df: DataFrame, path: String): Boolean = {
    val loaded = graft.core.Tables.firstDataFile(path,
        spark.sparkContext.hadoopConfiguration).isDefined &&
      !graft.core.Tables.readParquet(spark, Seq(path)).isEmpty
    if (!loaded) df.write.mode("overwrite").parquet(path)
    !loaded
  }

  /** Year-partitioned fact write — the scale layout (SURVEY §4: replaces
    * the reference's fact indexes with partition pruning + DPP). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCol).parquet(path)

  /** Bucketed catalog-table write: rows hash-partitioned into `buckets`
    * files by `key` and sorted within each. Two tables bucketed the same
    * way join WITHOUT any exchange — the repeated fact⋈fact joins of the
    * datamart layer pay their shuffle once at write time instead of per
    * query, the decisive layout win at 100 TB (`ScaleSpec` asserts the
    * exchange-free plan). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
}
