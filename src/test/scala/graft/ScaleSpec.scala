package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.etl.Etl

/** Scale mechanics: partition pruning on partitioned writes, bucketed
  * joins, sketches, and spread()'s parallelism contract. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned fact write prunes partitions on year predicates") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/fact"
    val fact = graft.core.Tables.load(spark, sf001, "orders")
      .withColumn("o_year", year($"o_orderdate"))
    Etl.writePartitioned(fact, dir, "o_year")

    val read = spark.read.parquet(dir).filter($"o_year" === 1997)
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_year"))
    // pruned read returns exactly the 1997 rows
    val expected = fact.filter($"o_year" === 1997).count()
    assert(read.count() == expected && expected > 0)
    // partition count on disk = distinct years
    val dirs = new java.io.File(dir).list().count(_.startsWith("o_year="))
    assert(dirs == fact.select("o_year").distinct().count())
  }

  test("schema evolution: later partitions add columns, mergeSchema unifies") {
    val dir = java.nio.file.Files.createTempDirectory("graft-evolve")
      .toString + "/fact"
    // day 1: the original schema
    Seq((1L, 10.0)).toDF("id", "amount")
      .write.parquet(s"$dir/day=2024-01-01")
    // day 2: the pipeline starts emitting a new column
    Seq((2L, 20.0, "promo")).toDF("id", "amount", "campaign")
      .write.parquet(s"$dir/day=2024-01-02")
    val unified = spark.read.option("mergeSchema", "true")
      .option("basePath", dir).parquet(dir)
    assert(unified.columns.toSet == Set("id", "amount", "campaign", "day"))
    val rows = unified.orderBy("id")
      .select($"id", $"campaign").as[(Long, Option[String])].collect().toSeq
    // old partitions read back with NULL for the new column — no rewrite
    assert(rows == Seq((1L, None), (2L, Some("promo"))))
    // and predicates on the new column still prune correctly
    assert(unified.filter($"campaign" === "promo").count() == 1)
  }

  test("bloom prefilter prunes non-matching rows and preserves join results") {
    val lineitem = graft.core.Tables.load(spark, sf001, "lineitem")
    val hv = graft.core.Tables.load(spark, sf001, "orders")
      .filter($"o_totalprice" > 300000).select("o_orderkey")
    val pruned = graft.functions.BloomOps.prefilter(
      lineitem, "l_orderkey", hv, "o_orderkey", expectedItems = 10000L)
    // no false negatives: the exact join result is identical
    val plain = lineitem.join(hv, $"l_orderkey" === $"o_orderkey").count()
    val viaBloom = pruned.join(hv, $"l_orderkey" === $"o_orderkey").count()
    assert(viaBloom == plain && plain > 0)
    // and the prefilter actually pruned (few false positives on a selective
    // build side)
    assert(pruned.count() < lineitem.count() / 2)
  }

  test("bucketed tables join without a shuffle exchange") {
    val orders = graft.core.Tables.load(spark, sf001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = graft.core.Tables.load(spark, sf001, "customer")
      .select("c_custkey", "c_mktsegment")
    Etl.writeBucketed(orders, "b_orders", "o_custkey", 4)
    Etl.writeBucketed(customer, "b_customer", "c_custkey", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"), $"o_custkey" === $"c_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should be shuffle-free:\n$plan")
      assert(joined.count() ==
        orders.join(customer, $"o_custkey" === $"c_custkey").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_customer")
    }
  }

  test("HLL sketch estimates land within 5% of exact distinct counts") {
    val orders = graft.core.Tables.load(spark, sf001, "orders")
    val exact = orders.select("o_custkey").distinct().count().toDouble
    val est = orders.agg(hll_sketch_estimate(hll_sketch_agg($"o_custkey")))
      .first().getLong(0).toDouble
    assert(math.abs(est - exact) / exact < 0.05, s"est=$est exact=$exact")
    // mergeability: union of per-year sketches ≈ the same estimate
    val merged = orders.groupBy(year($"o_orderdate").as("y"))
      .agg(hll_sketch_agg($"o_custkey").as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk")))
      .first().getLong(0).toDouble
    assert(math.abs(merged - exact) / exact < 0.05, s"merged=$merged exact=$exact")
  }

  test("spread raises single-file scans to session parallelism") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    assume(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val spreadDf = graft.core.Tables.spread(docs)
    assert(spreadDf.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(spreadDf.count() == docs.count())
  }

  /** The curation chain's head: spread, quality filter, select. */
  private def spreadKept(): DataFrame = graft.ext.Curation.qualityFilter(
      graft.core.Tables.spread(graft.core.Tables.load(spark, sf001, "documents")),
      "text")
    .filter(col(graft.ext.Curation.KeepCol)).select("doc_id", "text")

  test("spread decides from the plan: no job and no new exchange on a spread frame") {
    val kept = spreadKept()
    var again: DataFrame = null
    assert(jobsRunBy { again = graft.core.Tables.spread(kept) } == 0)
    assert(again.queryExecution.optimizedPlan.canonicalized ==
      kept.queryExecution.optimizedPlan.canonicalized)
  }

  test("spread returns a frame estimated over the gate unchanged") {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
    withSQLConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1") {
      assert(graft.core.Tables.spread(docs) eq docs)
    }
  }

  test("spread keeps a driver-built frame that already has a slice per core") {
    val n = spark.sparkContext.defaultParallelism
    val full = (1 to n).toDF("id")
    assert(graft.core.Tables.spread(full) eq full)
    val few = (1 until n).toDF("id")
    val spreadFew = graft.core.Tables.spread(few)
    assert(few.rdd.getNumPartitions < n && spreadFew.rdd.getNumPartitions == n)
  }

  test("nearDupPairs over a spread frame is built without a job") {
    val kept = spreadKept()
    assert(jobsRunBy { graft.ext.Dedup.nearDupPairs(kept, "text", "doc_id") } == 0)
  }
}
