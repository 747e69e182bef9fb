package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.etl.Etl
import graft.ext.{Curation, Dedup}
import graft.marts.Refresh
import graft.ops.EtlLog
import graft.prep.{Prep, TableSpec}
import graft.queries.Fp
import graft.sources.Sources
import graft.streaming.Streams

/** One closed-loop workload. `op` holds only the engine calls a user of
  * the system makes, and is the timed part; `check` verifies that op's
  * output afterwards, untimed. */
trait Workload {
  /** Builds the workload's starting state from the generated inputs. */
  def fixture(): Unit
  def op(i: Int): Unit
  /** None when op `i`'s output is correct, else what is wrong. */
  def check(i: Int): Option[String]
  def opName(i: Int): String
  /** Number of ops the generated inputs provide (ops are 1-based). */
  def maxOps: Int
  /** Ops per rotation of the op kinds; timed windows hold whole rotations. */
  def rotation: Int = 1
  /** Whole-run check after the last op; None when it holds. */
  def finish(): Option[String] = None
}

object Workload {
  /** Order-independent digest of a collected result. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Data files (not hidden, not markers) under a table directory. */
  def dataFiles(dir: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter { f =>
          val rel = p.relativize(f).toString
          Files.isRegularFile(f) && !rel.split('/').exists(x =>
            x.startsWith(".") || x.startsWith("_"))
        }.toList
      } finally s.close()
    }
  }
}

/** Nightly warehouse load: each op is one incremental batch of raw CSV
  * files taken through prep, dimension-key lookup, the fact upsert, the
  * SCD2 customer merge, the incremental mart refresh and the ETL log. */
final class WarehouseLoad(spark: SparkSession, data: String, batches: String,
    work: String, tr: Tracer, nBatches: Int) extends Workload {

  private val ordersSchema = StructType(Seq(
    StructField("O_ORDERKEY", LongType), StructField("O_CUSTKEY", LongType),
    StructField("O_ORDERSTATUS", StringType),
    StructField("O Total Price", StringType),
    StructField("O_ORDERDATE", StringType),
    StructField("O_ORDERPRIORITY", StringType),
    StructField("O_VERSION", LongType)))
  private val ordersSpec = TableSpec("orders",
    renameMap = Map("o_total_price" -> "o_totalprice", "o_custkey" -> "c_custkey"),
    numericCols = Seq("o_totalprice"),
    dedupSubset = Some(Seq("o_orderkey", "o_version")),
    extraTransform = Some(_.withColumn("o_orderdate",
      to_timestamp(col("o_orderdate")))))

  private val customersSchema = StructType(Seq(
    StructField("C_CUSTKEY", LongType), StructField("C_NAME", StringType),
    StructField("C_NATIONKEY", IntegerType),
    StructField("C Acct Bal", StringType),
    StructField("C_MKTSEGMENT", StringType), StructField("CHG_OP", StringType),
    StructField("CHG_SEQ", LongType), StructField("CHG_DATE", StringType)))
  private val customersSpec = TableSpec("customers",
    renameMap = Map("c_acct_bal" -> "c_acctbal"),
    numericCols = Seq("c_acctbal"),
    dedupSubset = Some(Seq("c_custkey", "chg_seq")))

  private val groupCols = Seq("o_year", "o_month")

  private def dir = s"$work/warehouse"
  private def factDir = s"$dir/fact_orders"
  private def dimDir = s"$dir/dim_customer"
  private def martDir = s"$dir/mart_orders_month"
  private def logDir = s"$dir/etl_log"
  private var custKeys: DataFrame = _
  private var nOrders, nCustomers = 0L
  private var lastOrphans = 0L

  val maxOps: Int = nBatches
  def opName(i: Int): String = "batch"

  private def file(kind: String, i: Int) = f"$batches/${kind}_$i%04d.csv"

  private def martSource: DataFrame =
    spark.read.parquet(factDir)
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("o_month", month(col("o_orderdate")))

  private def buildMart(df: DataFrame): DataFrame =
    df.groupBy((groupCols :+ "o_orderstatus").map(col): _*)
      .agg(count(lit(1)).as("n_orders"),
        Fp.moneySum(col("o_totalprice")).as("revenue"))

  def fixture(): Unit = {
    val customers = Tables.load(spark, data, "customer")
    custKeys = Etl.withSurrogateKey(customers.select("c_custkey"), "cust_sk",
      Seq(col("c_custkey"))).localCheckpoint()
    nCustomers = custKeys.count()
    nOrders = Tables.load(spark, data, "orders").count()
    op(0) // batch 0: the initial full load through the same path
  }

  def op(i: Int): Unit = {
    val ordersFile = file("orders", i)
    val raw = tr.step("sources.read_batch")(
      Sources.csv(spark, ordersFile, Some(ordersSchema)))
    val rawCust = tr.step("sources.read_batch")(
      Sources.csv(spark, file("customers", i), Some(customersSchema)))
    val orders = tr.step("prep.prepare")(
      Prep.prepare(raw, ordersSpec, ordersFile))
    val changes = tr.step("prep.prepare")(
      Prep.prepare(rawCust, customersSpec, file("customers", i)))
    val keyed = tr.span("etl.dim_key_join") {
      lastOrphans = Etl.orphanCount(orders, custKeys, "c_custkey", "c_custkey")
      tr.mat(Etl.requireKeys(
        Etl.dimKeyJoin(orders, custKeys, Seq("c_custkey"), "cust_sk"),
        Seq("cust_sk")))
    }
    tr.count("etl.orphan_rows", lastOrphans.toDouble)
    tr.span("streaming.upsert_batch")(
      Streams.upsertBatch(keyed, factDir, Seq("o_orderkey"), "o_version"))
    tr.span("streaming.scd2_cdc_batch")(
      Streams.scd2CdcBatch(changes, dimDir, Seq("c_custkey"),
        Seq("c_mktsegment", "c_acctbal"), "chg_seq", "chg_op", "chg_date", i))
    val report = tr.span("marts.refresh")(
      Refresh.refreshIncremental(spark, martSource, groupCols,
        Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_version"),
        buildMart, martDir))
    tr.count("marts.refresh_rebuilt_share", report.rebuilt.size.toDouble /
      math.max(1L, report.rebuilt.size + report.unchanged))
    tr.span("ops.log_append")(EtlLog.append(
      EtlLog.entry(spark, "nightly_load", "fact_orders", "SUCCES",
        lineCount(ordersFile), 0.0, s"batch $i"), logDir))
    if (tr.active) {
      val files = Seq(factDir, dimDir, martDir, logDir).flatMap(Workload.dataFiles)
      tr.count("storage.data_files", files.size.toDouble)
      tr.count("storage.input_bytes", (Files.size(Paths.get(ordersFile)) +
        Files.size(Paths.get(file("customers", i)))).toDouble)
    }
  }

  private def lineCount(path: String): Long = {
    val s = Files.lines(Paths.get(path))
    try s.count() - 1 finally s.close()
  }

  def check(i: Int): Option[String] = {
    val f = spark.read.parquet(factDir)
      .agg(count(lit(1)), countDistinct(col("o_orderkey"))).head()
    val d = spark.read.parquet(dimDir).groupBy("c_custkey")
      .agg(sum(col("est_actif")).as("active"))
      .agg(count(lit(1)), sum(when(col("active") =!= 1, 1).otherwise(0))).head()
    if (lastOrphans != 0) Some(s"batch $i: $lastOrphans orphan fact rows")
    else if (f.getLong(0) != nOrders || f.getLong(1) != nOrders)
      Some(s"batch $i: fact has ${f.getLong(0)} rows, ${f.getLong(1)} keys, " +
        s"expected $nOrders unique keys")
    else if (d.getLong(0) != nCustomers || d.getLong(1) != 0)
      Some(s"batch $i: dimension has ${d.getLong(0)} keys, ${d.getLong(1)} " +
        "without exactly one active version")
    else None
  }

  override def finish(): Option[String] = {
    val cols = (groupCols :+ "o_orderstatus") ++ Seq("n_orders", "revenue")
    val mart = spark.read.parquet(martDir).select(cols.map(col): _*)
    val full = buildMart(martSource).select(cols.map(col): _*)
    val diff = mart.exceptAll(full).count() + full.exceptAll(mart).count()
    if (diff == 0) None
    else Some(s"mart differs from a full rebuild in $diff rows")
  }
}

/** Analysts reading marts through RLS: each op is one declared query,
  * taken from a seeded rotation, with its full result collected. */
final class MartReads(spark: SparkSession, data: String, oracleDir: String,
    tr: Tracer, order: IndexedSeq[String]) extends Workload {

  private val queries = graft.SparkEntry.queries
  private val reference = scala.collection.mutable.Map.empty[String, String]
  private val last = scala.collection.mutable.Map.empty[Int, Array[Row]]

  // op i (1-based) runs order(i - 1), so ops 1..9k are k whole rounds
  val maxOps: Int = order.size
  def opName(i: Int): String = order(i - 1)
  override val rotation: Int = order.distinct.size

  /** One reference result per query, kept as a digest for the per-op
    * checks and dumped as parquet for the DuckDB oracle compare. */
  def fixture(): Unit = order.distinct.sorted.foreach { name =>
    val df = queries(name)(spark, data)
    val rows = df.collect()
    reference(name) = Workload.digest(rows)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$oracleDir/$name")
  }

  def op(i: Int): Unit = {
    val run = queries(opName(i))
    val df = tr.span("queries.plan") {
      val d = run(spark, data)
      d.queryExecution.executedPlan
      d
    }
    last(i) = tr.span("queries.exec")(df.collect())
  }

  def check(i: Int): Option[String] = {
    val got = Workload.digest(last.remove(i).get)
    if (got == reference(opName(i))) None
    else Some(s"${opName(i)}: result digest $got differs from the reference")
  }
}

/** LLM-data curation: each op is one full pass of the chain the
  * `x_pipeline_e2e` query declares, written to parquet. */
final class CurationPass(spark: SparkSession, data: String, work: String,
    tr: Tracer, nOps: Int) extends Workload {

  private var reference = ""
  val maxOps: Int = nOps
  def opName(i: Int): String = "pass"
  private def out(i: Int) = if (i == 0) s"$work/reference" else s"$work/curated"

  /** The setup pass gives the reference output every later pass must
    * reproduce. */
  def fixture(): Unit = {
    op(0)
    reference = digestOf(out(0))
  }

  def op(i: Int): Unit = {
    val all = Tables.load(spark, data, "documents").select("doc_id", "text", "lang")
    val benchmark = all.filter(col("doc_id") % 17 === 0)
    val corpus = tr.step("core.spread")(
      Tables.spread(all.filter(col("doc_id") % 17 =!= 0)))
    val kept = tr.step("ext.quality_filter")(
      Curation.qualityFilter(corpus, "text")
        .filter(col(Curation.KeepCol)).select("doc_id", "text", "lang"))
    val pairs = tr.step("ext.near_dup_pairs")(
      Dedup.nearDupPairs(kept, "text", "doc_id").filter(col("jaccard") >= 0.8))
    if (tr.active) tr.count("ext.cluster_pairs_edges", 2.0 * pairs.count())
    val clusters = tr.span("ext.cluster_pairs")(
      Dedup.clusterPairs(pairs).localCheckpoint())
    val deduped = kept.join(
      clusters.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    val contaminated = tr.step("ext.contamination")(
      Curation.contamination(deduped, "text", "doc_id", benchmark, "text")
        .filter(col("contamination") > 0.5).select("doc_id"))
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    tr.span("ext.split_chunk_pack") {
      val split = Curation.leakSafeSplitClustered(clean, "doc_id", clusters)
        .select(col("doc_id"), col("split"))
      val chunks = Curation.chunk(clean.join(split, "doc_id"), "text",
        chunkTokens = 32, overlap = 8)
      val keyed = chunks.withColumn("__key", Curation.shuffleKey(
          concat(col("doc_id").cast("string"), lit("_"),
            col("chunk_idx").cast("string")), "ep1"))
        .select("doc_id", "chunk_idx", "lang", "split", "n_chunk_tokens", "__key")
      Curation.packShards(keyed, "n_chunk_tokens", "__key",
          budget = 1000L, partitionCols = Seq("split", "lang"))
        .select(col("doc_id"), col("chunk_idx"), col("lang"), col("split"),
          col("n_chunk_tokens"), col("shard_id"))
        .orderBy("doc_id", "chunk_idx")
        .write.mode("overwrite").parquet(out(i))
    }
  }

  private def digestOf(path: String): String = {
    val df = spark.read.parquet(path)
    val r = df.agg(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
      .cast(DecimalType(38, 0))), count(lit(1))).head()
    s"${r.get(0)}/${r.getLong(1)}"
  }

  def check(i: Int): Option[String] = {
    val got = digestOf(out(i))
    if (got == reference) None
    else Some(s"pass $i: output digest $got differs from the setup pass $reference")
  }
}
