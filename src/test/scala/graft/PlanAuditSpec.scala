package graft

/** Guards the physical-plan claims documented in docs/PLANS.md: if a
  * refactor silently drops a pushdown, a broadcast, or the top-k rewrite,
  * these fail before any benchmark would notice. Plans are taken from the
  * ACTUAL registered queries (SparkEntry), not re-built lookalikes. */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String =
    finalPlanOf(SparkEntry.queries(name)(spark, sf001))

  private def formattedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf001)
    df.collect()
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("p_filter_pushdown: predicate and projection reach the parquet scan") {
    val p = planOf("p_filter_pushdown")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_quantity,30.0)"), p.take(2000))
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"),
      "scan must not read unprojected columns")
  }

  test("s_scan_project: scan reads only the two projected columns") {
    val p = formattedPlan("s_scan_project")
    assert(p.contains("struct<r_regionkey:int,r_name:string>"),
      p.take(2000))
  }

  test("j_star_join: fixed dims broadcast, no dim sort-merge") {
    val p = planOf("j_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("j_snowflake_revenue: date range pushed into the orders scan") {
    val p = planOf("j_snowflake_revenue")
    assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
      p.contains("LessThan(o_orderdate"), p.take(2000))
  }

  test("w_latest_per_key rides the bounded-heap top-k operator") {
    val p = planOf("w_latest_per_key")
    assert(p.contains("TopKPerKey"), p.take(2000))
    assert(!p.contains("WindowGroupLimit"),
      "rewrite should replace Spark's sort-based group-limit path")
  }

  test("j_dpp_prune: scan carries a dynamic pruning filter, reads < all partitions") {
    val df = SparkEntry.queries("j_dpp_prune")(spark, sf001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning in:\n${plan.take(3000)}")
    // the partitioned fact scan must have read fewer year-partitions than
    // the table holds (runtime metric, not a plan-string claim)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE wraps finished stages in leaf QueryStageExec nodes: descend
    // explicitly or collect() never reaches the scans
    def leaves(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(leaves)
    }
    val scans = leaves(df.queryExecution.executedPlan)
      .filter(_.schema.fieldNames.contains("o_totalprice"))
      .filter(_.metrics.contains("numPartitions"))
    assert(scans.nonEmpty, s"no partitioned scan found in:\n${plan.take(3000)}")
    val totalYears = queries.ScaleQueries.partitionedOrders(spark, sf001)
      .select("annee").distinct().count()
    val read = scans.map(_.metrics("numPartitions").value).min
    assert(read > 0 && read < totalYears,
      s"expected a pruned read, got $read of $totalYears partitions")
  }

  test("z-ordered layout converts min-max stats into real row-group skips") {
    // ZOrderSpec proves the files TILE the space; this test proves the
    // tiling pays at SCAN time: with parquet filter pushdown, row groups
    // whose min-max excludes the predicate are never materialized, so the
    // scan's numOutputRows (rows the reader actually surfaced, before the
    // exact Filter) collapses on the clustered layout. The control is the
    // same data range-sorted by x only — every file spans all of y, no
    // group can be skipped for a y predicate, the scan reads everything.
    // At 100 TB this is the difference between reading 4 files and 64.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val dir = java.nio.file.Files.createTempDirectory("graft-zskip").toString
    val grid = spark.range(4096)
      .select((col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"),
        md5(col("id").cast("string").cast("binary")).as("shuffle"))
      .orderBy("shuffle").drop("shuffle")
    graft.etl.ZOrder.writeClustered(grid, Seq("x", "y"), s"$dir/z", numFiles = 16)
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.parquet(s"$dir/lex")
    def scanRows(path: String): Long = {
      val df = spark.read.parquet(path).filter(col("y") <= 7)
      // collect THIS df (count() would execute a different QueryExecution
      // and leave these scan metrics untouched)
      assert(df.collect().length == 8 * 64) // same answer either way
      def leaves(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
        case q: QueryStageExec => leaves(q.plan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(leaves)
      }
      val scans = leaves(df.queryExecution.executedPlan)
      assert(scans.nonEmpty, df.queryExecution.executedPlan.toString.take(2000))
      scans.map(_.metrics("numOutputRows").value).sum
    }
    val zRows = scanRows(s"$dir/z")
    val lexRows = scanRows(s"$dir/lex")
    // z-tiles: only the y∈[0,15] strip of tiles survives the stats filter
    assert(zRows <= 4096 / 2,
      s"z-ordered scan surfaced $zRows of 4096 rows — row groups not skipped")
    assert(lexRows >= 4096 * 3 / 4,
      s"x-sorted control unexpectedly skipped groups for a y predicate: $lexRows")
    assert(zRows * 2 <= lexRows,
      s"clustering should at least halve scanned rows: $zRows vs $lexRows")
  }

  test("RowCounts.hint answers from parquet footers: zero Spark jobs") {
    import org.apache.spark.sql.functions.col
    // the job-group count can still catch foreign jobs under the shared
    // parallel-suite session (Spark's localProperties is an
    // InheritableThreadLocal: a shared pool thread created anywhere in the
    // JVM while our group is set inherits it and then attributes a FOREIGN
    // suite's jobs to us for the pool thread's whole lifetime — observed
    // as a persistent nonzero across re-probes). So the PRIMARY regression
    // catch is RowCounts' own deterministic fallback counter, asserted
    // after every probe; `jobsRunBy` only has to observe ONE clean probe
    // out of several — a memoized re-probe is genuinely job-free, so a
    // regression that launches jobs through a path the fallback counter
    // cannot see still fails all retries on a quiet JVM (isolation run).
    def fallbacks = graft.core.RowCounts.fallbackCount.get()
    def probedJobs(label: String)(body: => Unit): Unit = {
      val fbBefore = fallbacks
      var attempts = List.empty[Int]
      while (attempts.lastOption != Some(0) && attempts.size < 4)
        attempts = attempts :+ jobsRunBy(body)
      assert(fallbacks == fbBefore,
        s"$label took the count() fallback ${fallbacks - fbBefore} times")
      assert(attempts.lastOption.contains(0),
        s"$label launched jobs on every probe: $attempts")
    }
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val truth = emb.count()
    graft.core.RowCounts.clearCacheForTesting()
    val fb0 = fallbacks
    var n1 = -1L
    probedJobs("plain-scan hint") { n1 = graft.core.RowCounts.hint(emb) }
    assert(n1 == truth, s"footer count $n1 != count() $truth")
    // a Project wrapper is cardinality-preserving → still job-free
    var n2 = -1L
    probedJobs("projected hint") {
      n2 = graft.core.RowCounts.hint(emb.select(col("vec_id")))
    }
    assert(n2 == truth, s"projected hint: $n2")
    assert(fallbacks == fb0,
      s"footer-path hints took the count() fallback ${fallbacks - fb0} times")
    // a Filter changes cardinality → falls back to a real count, correct
    val filtered = emb.filter(col("vec_id") < 10)
    assert(graft.core.RowCounts.hint(filtered) == filtered.count())
    assert(fallbacks == fb0 + 1, "filtered hint must take the fallback")
    // the adaptive-geometry gate path goes through hint: the ANN family
    // must not issue a standalone count job for a plain corpus scan
    graft.core.RowCounts.clearCacheForTesting()
    // the dataframe construction itself may run a listing/schema job —
    // build both frames first, then count only the hint calls
    val load1 = graft.core.Tables.load(spark, sf001, "embeddings")
    val load2 = graft.core.Tables.load(spark, sf001, "embeddings")
    val fb1 = fallbacks
    val warm = graft.core.RowCounts.hint(load1)
    probedJobs("memoized hint") {
      assert(graft.core.RowCounts.hint(load2) == warm)
    }
    assert(fallbacks == fb1, "Tables.load hints took the count() fallback")
    // A session-cached corpus (the ANN gate queries persist before
    // hinting, and parallel suites leave caches behind) substitutes
    // InMemoryRelation into the OPTIMIZED plan — the footer path matches
    // the analyzed plan precisely so this costs no count() job, loaded
    // buffers or not.
    val cached = spark.read.parquet(s"$sf001/embeddings.parquet")
    cached.persist()
    try {
      val fb2 = fallbacks
      // unmaterialized cache: no stats rowCount yet → footer path
      assert(graft.core.RowCounts.hint(cached) == truth,
        "hint through an unmaterialized cache")
      val fresh = spark.read.parquet(s"$sf001/embeddings.parquet")
      assert(graft.core.RowCounts.hint(fresh.select(col("vec_id"))) == truth,
        "projected hint while a foreign cache covers the same path")
      assert(fallbacks == fb2,
        s"cached-plan hints took the count() fallback ${fallbacks - fb2} times")
      cached.count() // load buffers → optimized-plan stats carry rowCount
      assert(graft.core.RowCounts.hint(cached) == truth, "hint on loaded cache")
      assert(fallbacks == fb2, "loaded-cache hint took the count() fallback")
    } finally { cached.unpersist(); () }
  }
}
