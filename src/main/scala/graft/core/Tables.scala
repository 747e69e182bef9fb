package graft.core

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}

/** Test-data table access for the driver's TPC-H-ish star schema
  * (`/root/repo/TESTDATA.md`). One parquet file per table under a
  * scale-factor directory.
  *
  * At cluster scale these would be catalog tables partitioned by a
  * date/year column; reading a directory of parquet keeps the same
  * DataFrame-first shape (columnar scan, predicate pushdown, column
  * pruning all apply identically).
  */
object Tables {

  /** Spread a DataFrame across the session's parallelism before CPU-heavy
    * per-row compute. Small local files arrive as ONE partition (splits
    * are byte-based, `spark.sql.files.maxPartitionBytes`), and AQE
    * coalesces small shuffle tails to byte-sized partition counts; either
    * way expensive expressions run nearly single-threaded.
    *
    * The gate is the OPTIMIZER'S size estimate, so it runs no job: a frame
    * estimated under parallelism × the AQE advisory partition size is
    * round-robined to `defaultParallelism` (a tiny shuffle); anything
    * larger already has enough splits and is returned unchanged, so the
    * warehouse-scale path pays no extra exchange. On a frame that is
    * already spread, Catalyst's CollapseRepartition folds the new
    * round-robin into the existing one. A driver-built frame (a
    * `LocalRelation`) is scanned in one slice per row up to the
    * parallelism, so one with at least `defaultParallelism` rows is
    * already spread and is returned unchanged. */
  def spread(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val target = sess.sparkContext.defaultParallelism
    val advisory = sess.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    df.queryExecution.optimizedPlan match {
      case local: LocalRelation if local.data.length >= target => df
      case plan if plan.stats.sizeInBytes < BigInt(advisory) * target =>
        df.repartition(target)
      case _ => df
    }
  }

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The testdata layout convention — every consumer of `$dir/$name`
    * paths (including size-gated plan choices) must derive them here. */
  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = readParquet(spark, Seq(path(sfDir, name)))
    if (name == "events") normalizeEventTs(df) else df
  }

  /** `spark.read.options(options).parquet(paths: _*)` without Spark's
    * schema-inference job. Without `mergeSchema`, Spark infers a parquet
    * schema from ONE footer, the first data file by path, but reads it in
    * a one-task job (`SchemaMergeUtils.mergeSchemasInParallel`): tens of
    * milliseconds of scheduling per table load, several per short query.
    * Here the driver reads that same footer and converts it with the same
    * function, under the session's conf, then hands Spark the schema.
    * The scan, partition discovery and the resulting plan are Spark's.
    *
    * Spark's own inference runs instead when `mergeSchema` is on (option
    * or session conf), when no data file is found (a missing path or an
    * empty directory keeps Spark's error), or when the footer cannot be
    * read (a corrupt file keeps Spark's error and `ignoreCorruptFiles`).
    * Parquet summary files (`_metadata`, `_common_metadata`), which Spark
    * would prefer, are not consulted; Spark 4 does not write them. */
  def readParquet(spark: SparkSession, paths: Seq[String],
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.options(options)
    val conf = spark.sessionState.conf
    val schema =
      if (new ParquetOptions(options, conf).mergeSchema) None
      else try {
        val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
        paths.flatMap(firstDataFile(_, hadoopConf))
          .minByOption(_.getPath.toString).map { f =>
            val meta = ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(f, hadoopConf),
              ParquetMetadataConverter.SKIP_ROW_GROUPS)
            ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
              new ParquetToSparkSchemaConverter(conf))
          }
      } catch { case NonFatal(_) => None }
    schema.fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** The max of an integer column of a parquet-backed `df`, from the
    * row-group statistics in its files' footers, read on the driver: no
    * Spark job. `Some(None)` when no file holds a non-null value (no
    * rows, or the column is all null). `None` when the footers cannot
    * tell, and the caller must aggregate: a file without the column or
    * without its statistics, a column that is not a signed 32- or 64-bit
    * integer, an unreadable footer, or more files than [[RowCounts]]
    * reads footers for. `df` must be a plain scan of its files: filters
    * and projections above it are not seen. */
  private[graft] def footerMax(df: DataFrame,
      column: String): Option[Option[Long]] = {
    val files = df.inputFiles
    if (files.length > RowCounts.MaxFooterFiles) None
    else try {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      def fileMax(path: String): Option[Option[Long]] = {
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromPath(new HPath(path), conf),
          ParquetMetadataConverter.NO_FILTER)
        val schema = meta.getFileMetaData.getSchema
        val integral = schema.containsField(column) && {
          val t = schema.getType(schema.getFieldIndex(column))
          t.isPrimitive && Set(PrimitiveTypeName.INT32, PrimitiveTypeName.INT64)
            .contains(t.asPrimitiveType.getPrimitiveTypeName) &&
            (t.getLogicalTypeAnnotation match {
              case null => true
              case i: IntLogicalTypeAnnotation => i.isSigned
              case _ => false
            })
        }
        val stats = meta.getBlocks.asScala.toSeq.map(_.getColumns.asScala
          .find(_.getPath.toDotString == column).flatMap(c => Option(c.getStatistics)))
        if (!integral || stats.exists(_.forall(_.isEmpty))) None
        else Some(stats.flatten.filter(_.hasNonNullValue)
          .map(_.genericGetMax.asInstanceOf[Number].longValue).maxOption)
      }
      val perFile = files.toSeq.map(fileMax)
      if (perFile.contains(None)) None else Some(perFile.flatten.flatten.maxOption)
    } catch { case NonFatal(_) => None }
  }

  /** The data file Spark's schema inference would read under `path`: the
    * smallest full path among the leaf files, skipping the names its file
    * index skips (`_x` but not `_k=v` partition directories, `.x`,
    * `x._COPYING_`). None for a missing path (a glob included) or no
    * data file. Depth-first, siblings ordered by name (a directory's name
    * with a trailing `/`, the order of its descendants' full paths), so
    * the walk stops at the first file instead of listing the whole tree. */
  private[graft] def firstDataFile(path: String,
      hadoopConf: Configuration): Option[FileStatus] = {
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".") || n.endsWith("._COPYING_")
    val root = new HPath(path)
    val fs = root.getFileSystem(hadoopConf)
    def walk(st: FileStatus): Option[FileStatus] =
      if (st.isFile) Some(st)
      else fs.listStatus(st.getPath).filterNot(c => hidden(c.getPath.getName))
        .sortBy(c => c.getPath.getName + (if (c.isDirectory) "/" else ""))
        .iterator.map(walk).collectFirst { case Some(f) => f }
    if (fs.exists(root)) walk(fs.getFileStatus(root)) else None
  }

  /** The testdata's `events.ts` parquet annotation has changed across
    * generator versions — TIMESTAMP(NANOS, adjustedToUTC) in some, plain
    * TIMESTAMP(MICROS) without UTC adjustment (→ TIMESTAMP_NTZ) in others.
    * The engine's contract is a session-zoned TimestampType: every
    * downstream consumer (numeric casts, `withWatermark`, window functions)
    * assumes it. Normalize all three arrival shapes here so no query or
    * operator has to care:
    *   - TIMESTAMP(NANOS) + `spark.sql.legacy.parquet.nanosAsLong=true`
    *     arrives as nanos-since-epoch LongType; integer-divide to micros
    *     (double division would lose precision at 1e18 magnitudes).
    *   - TIMESTAMP_NTZ: cast to TimestampType. The session is pinned UTC
    *     (GraftSession), as is the DuckDB oracle, so the wall-clock values
    *     are identical and result hashes are unaffected.
    *   - TimestampType: already the contract, pass through. */
  def normalizeEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    case org.apache.spark.sql.types.TimestampNTZType =>
      df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    case _ => df
  }
}
