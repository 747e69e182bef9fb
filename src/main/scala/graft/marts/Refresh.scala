package graft.marts

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Quality

/** Incremental datamart materialization on partition digests — the
  * reference's stage-5 "refresh datamarts" (`analytics/etl/run_etl.py:
  * 227-272` re-derives every view after each load) made affordable at
  * warehouse scale: ONE digest pass over the source detects which
  * (annee, departement)-style slices actually drifted since the last
  * refresh, and only those slices are rebuilt and overwritten. An
  * unchanged partition's files are left untouched on disk (dynamic
  * partition overwrite), so a 100 TB mart whose yesterday-only facts
  * changed rewrites one day, not the mart.
  *
  * Contract: `build` must be SLICE-LOCAL on `groupCols` — building the
  * mart from a group-filtered source must equal filtering the full mart
  * to those groups. Every reference datamart qualifies: they group by
  * (annee, departement) and never aggregate across those keys.
  *
  * Scale shape: the digest compare is one collect of one row per group
  * (bounded by the group grain — year × department is catalog-sized,
  * never fact-sized), which also becomes the next digest table; the
  * rebuild reads the drifted slice (partition-prunable when the source
  * shares the layout) and lands via dynamic partition overwrite; groups
  * that disappeared from the source have their partition directories
  * dropped explicitly (dynamic overwrite only touches partitions present
  * in the write).
  */
object Refresh {

  final case class Report(
      rebuilt: Seq[Map[String, String]],
      removed: Seq[Map[String, String]],
      unchanged: Long)

  private val DigestDir = "_digests"

  private def digestPath(martDir: String) = s"$martDir/$DigestDir"

  /** Group-key types that survive the string round-trip used by the drift
    * machinery (collect as Spark-cast string → compare/delete by that
    * string). Binary and nested types do not — fail fast instead of
    * silently never matching. */
  private def requireRoundTrippableKeys(source: DataFrame,
      groupCols: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    groupCols.foreach { c =>
      source.schema(c).dataType match {
        case BinaryType | _: ArrayType | _: MapType | _: StructType =>
          throw new IllegalArgumentException(
            s"group column '$c' has type ${source.schema(c).dataType.sql}, " +
              "which does not round-trip through partition-key strings; " +
              "use string/numeric/date/timestamp group columns")
        case _ => ()
      }
    }
  }

  /** The group key of row `r`, whose first `groupCols.size` fields are
    * the key columns CAST TO STRING BY SPARK'S OWN CAST: the one canonical
    * form shared by the literal filter, the broadcast semi-join and the
    * partition-directory encoding. Driver-side `String.valueOf` disagrees
    * with the SQL cast for timestamp ("…00:00:00.0" vs "…00:00:00") and
    * some decimal/float renderings, so keys must never be stringified
    * outside Spark. */
  private def keyOf(r: Row, groupCols: Seq[String]): Map[String, String] =
    groupCols.zipWithIndex.map { case (c, i) =>
      require(!r.isNullAt(i),
        s"NULL group key in column '$c' — null partition keys are not " +
          "supported by the incremental refresh (reject them upstream)")
      c -> r.getString(i)
    }.toMap

  /** Incrementally refresh the materialized mart at `martDir`:
    * digest-compare `source` per `groupCols` against the stored digest
    * table, rebuild only drifted groups via `build`, drop vanished
    * groups, store the new digests. First call (no digest table yet)
    * materializes everything. */
  def refreshIncremental(spark: SparkSession, source: DataFrame,
      groupCols: Seq[String], digestCols: Seq[String],
      build: DataFrame => DataFrame, martDir: String): Report = {
    require(groupCols.nonEmpty, "need at least one partition column")
    requireRoundTrippableKeys(source, groupCols)
    val fresh = Quality.groupDigest(source, groupCols, digestCols)
    val fs = new org.apache.hadoop.fs.Path(martDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val havePrior = fs.exists(new org.apache.hadoop.fs.Path(digestPath(martDir)))

    // ONE action at group grain: each group's fresh and stored digest
    // (full outer: changed, brand-new AND vanished groups), with its key
    // both as Spark-cast strings and typed. The driver holds one row per
    // group, the bound the drift-key list has when every group drifts.
    val stored =
      if (havePrior) spark.read.schema(fresh.schema).parquet(digestPath(martDir))
      else spark.createDataFrame(java.util.List.of[Row](), fresh.schema)
    val n = groupCols.size
    val rows = fresh.join(stored
        .withColumnRenamed("digest", "__old_digest")
        .withColumnRenamed("n_rows", "__old_rows"), groupCols, "full_outer")
      .select(groupCols.map(c => col(c).cast("string")) ++ groupCols.map(col) ++
        Seq("digest", "n_rows", "__old_digest", "__old_rows").map(col): _*)
      .collect()
    def inSource(r: Row) = !r.isNullAt(2 * n)
    def same(r: Row) = inSource(r) && !r.isNullAt(2 * n + 2) &&
      r.getLong(2 * n) == r.getLong(2 * n + 2) &&
      r.getLong(2 * n + 1) == r.getLong(2 * n + 3)
    val driftKeys = rows.filter(r => inSource(r) && !same(r))
      .map(keyOf(_, groupCols)).toSeq
    val removedKeys = rows.filterNot(inSource).map(keyOf(_, groupCols)).toSeq
    val unchanged = rows.count(same).toLong

    if (!havePrior) {
      // first materialization: one full build, no per-group filter
      build(source)
        .write.mode("overwrite")
        .partitionBy(groupCols: _*)
        .parquet(martDir)
    } else if (driftKeys.nonEmpty) {
      build(driftedSlice(spark, source, groupCols, driftKeys))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(groupCols: _*)
        .parquet(martDir)
    }
    // dynamic overwrite never deletes: drop vanished groups' directories.
    // Directory values use the same Hive path escaping Spark's writer
    // applies (':' in timestamps, '/' etc.), so escape before matching.
    removedKeys.foreach { k =>
      val rel = groupCols.map { c =>
        val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(k(c))
        s"$c=$v"
      }.mkString("/")
      fs.delete(new org.apache.hadoop.fs.Path(s"$martDir/$rel"), true)
    }
    // store the digest table for the next refresh from the collected rows,
    // not a second digest pass over the source (hidden from readers: the
    // underscore-prefixed dir is ignored by Spark's file index)
    val digests = rows.filter(inSource).map(r => Row.fromSeq(
      (n until 2 * n + 2).map(r.get))).toSeq
    spark.createDataFrame(digests.asJava, fresh.schema).coalesce(1)
      .write.mode("overwrite").parquet(digestPath(martDir))
    Report(driftKeys, removedKeys, unchanged)
  }

  /** Above this many drifted groups the literal predicate switches to a
    * broadcast semi-join. ~64 keeps the OR-of-ANDs well inside what the
    * analyzer and parquet filter pushdown handle comfortably. */
  private[graft] val MaxLiteralDriftKeys = 64

  /** Restrict `source` to the drifted groups.
    *
    * Small drift sets (the common incremental case) become a literal
    * OR-of-ANDs predicate — it pushes to the parquet scan and prunes
    * partitions on a co-partitioned source. But the expression tree grows
    * linearly in keys×cols: past ~100 disjuncts the analyzer cost climbs
    * and pushdown degrades, so a large drift set (a backfill touching
    * thousands of groups) instead left-semi-joins a broadcast key frame.
    * The key frame is driver-held and catalog-grain-bounded (digest rows,
    * never fact rows). Keys arrive as Spark-cast strings (the one
    * canonical form — see `collectKeyStrings`); BOTH branches compare by
    * casting the KEY side back to the source column's type, so the source
    * column stays typed (pushdown/pruning intact) and timestamp/decimal
    * keys round-trip exactly instead of diverging on Java-vs-SQL string
    * renderings. */
  private[graft] def driftedSlice(spark: SparkSession, source: DataFrame,
      groupCols: Seq[String], driftKeys: Seq[Map[String, String]]): DataFrame = {
    requireRoundTrippableKeys(source, groupCols)
    val keyTypes = groupCols.map(c => c -> source.schema(c).dataType).toMap
    if (driftKeys.size <= MaxLiteralDriftKeys) {
      val pred = driftKeys.map(k =>
        groupCols.map(c => col(c) === lit(k(c)).cast(keyTypes(c)))
          .reduce(_ && _))
        .reduce(_ || _)
      source.filter(pred)
    } else {
      import spark.implicits._
      val keyDf = driftKeys.map(k => groupCols.map(k))
        .toDF("__k")
        .select(groupCols.zipWithIndex.map { case (c, i) =>
          col("__k").getItem(i).cast(keyTypes(c)).as(s"__key_$c") }: _*)
      val cond = groupCols.map(c =>
        source(c) === keyDf(s"__key_$c")).reduce(_ && _)
      source.join(broadcast(keyDf), cond, "left_semi")
    }
  }
}
