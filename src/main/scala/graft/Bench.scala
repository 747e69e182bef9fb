package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A warmup pass at sf0.001 first populates the codegen cache, parquet
  * footers and JIT so the timed pass measures steady-state query cost,
  * not JVM startup. The codegen half of that holds because
  * [[graft.core.GraftSession]] sizes Spark's generated-class cache above
  * the suite's ~1.5k-class working set (Spark's 100-entry default evicted
  * every class before its timed use); the warm-up and timed-pass compile
  * counts go to stderr so a regression is visible. Queries run in sorted
  * name order (deterministic).
  *
  * Robustness: (a) a query that throws is listed in an "errors" array in
  * the JSON (its elapsed time still recorded) so a crash is never
  * mistaken for a fast success; (b) the host shows random multi-second
  * page-fault stalls that land on arbitrary queries — if the first pass
  * is fast we re-run everything twice more (min-of-3; stalls also smear
  * thinly across many queries, under any outlier threshold), otherwise
  * the worst queries are retried min-wins within a fixed budget, so one
  * stalled query cannot inflate the reported total 20x.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession
      .builder(s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_BENCH_NAMES=a,b,c restricts the run (isolated
    // single-query measurement — separating host noise and cross-query
    // session state from real regressions)
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_NAMES")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => nameFilter.forall(_.contains(n)))
    val errors = scala.collection.mutable.LinkedHashSet[String]()
    // Janino compiles so far (each one is a codegen-cache miss)
    def compiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // warmup (not timed): same plans at the smallest scale factor
    val warmupStart = compiles()
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    val warmupCompiles = compiles() - warmupStart
    var timedCompiles, timedRuns = 0L
    spark.sharedState.cacheManager.clearCache()
    def timed(name: String): Double = {
      // measurement isolation: a finished query can leave localCheckpoint
      // / persist blocks in the BlockManager (clearCache() only drops the
      // SQL cache) — at sf10 those are GBs of storage-pool memory that
      // squeeze the execution pool of every LATER query. All such blocks
      // belong to completed queries (nothing re-reads them), so dropping
      // them before each timed run is safe and makes measurements
      // independent of suite order. Invariant this sweep assumes: no
      // query/helper shares a cached frame across invocations (each
      // SparkEntry.queries entry builds its plan from scratch).
      // blocking = true: async removal may not free storage memory
      // before the timed region starts; the wait is outside the timer.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val c0 = compiles()
      val t0 = System.nanoTime()
      try { SparkEntry.queries(name)(spark, sfDir).count(); errors -= name }
      catch { case _: Throwable => errors += name }
      val sec = (System.nanoTime() - t0) / 1e9
      timedCompiles += compiles() - c0
      timedRuns += 1
      sec
    }
    // Host-speed calibration (r12 protocol, pinned r13): a fixed
    // synthetic probe — 50M-row hash scan over 8 input partitions and a
    // tiny shuffle pinned to 8 SHUFFLE partitions (a local conf
    // override; without it the reduce width tracked the session's
    // cpu-count default and the ratio wasn't comparable across hosts) —
    // timed min-of-3 and reported in the JSON. The probe's work SHAPE is
    // now cpu-independent, but wall-clock still parallelizes up to 8
    // cores, so: compare each round's value ONLY against the same
    // host-class's prior rounds (r12 on this 32-cpu VM: 0.269 s with the
    // unpinned reduce; re-baseline from the first pinned run), never
    // against a universal constant. Purpose is drift detection (r11's
    // 10-15% "the host felt slow today"), not cross-host normalization.
    def calibrate(): Double = {
      import org.apache.spark.sql.functions._
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val t0 = System.nanoTime()
        spark.range(0, 50000000L, 1, 8)
          .select(xxhash64(col("id")).as("h"))
          .groupBy(pmod(col("h"), lit(64)))
          .agg(count(lit(1)), bit_xor(col("h")))
          .collect()
        (System.nanoTime() - t0) / 1e9
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val hostCal = (1 to 3).map(_ => calibrate()).min
    val results = scala.collection.mutable.LinkedHashMap(
      names.map(n => n -> timed(n)): _*)
    if (results.values.sum < 120.0) {
      // fast run: two more full passes, min-of-3 — host stalls on this VM
      // also smear thinly across MANY queries (~0.1 s each, under every
      // outlier threshold); extra full passes are the only cut for that
      for (_ <- 1 to 2) {
        spark.sharedState.cacheManager.clearCache()
        names.foreach { n => results(n) = math.min(results(n), timed(n)) }
      }
    } else {
      // slow run: host stalls can inflate EVERY query (round-1 bench:
      // median itself 10x, so a 5x-median outlier cut retried almost
      // nothing). Retry worst-first within a fixed budget, min wins; a
      // second sweep catches stalls that landed on the first retry.
      var budget = 300.0
      for (_ <- 1 to 2) {
        names.sortBy(n => -results(n)).foreach { n =>
          if (budget > 0 && results(n) > 0.5) {
            spark.sharedState.cacheManager.clearCache()
            val t = timed(n)
            budget -= t
            if (t < results(n)) results(n) = t
          }
        }
      }
    }
    // Final targeted sweep (both branches): a host stall spanning BOTH
    // earlier passes still shows as a fat tail — any query sitting above
    // max(1s, 4x median) gets another timed run, min wins, within a
    // shared budget. TWO rounds with the median recomputed, because a
    // stall can land on the retry itself; min-wins means extra retries
    // can only sharpen the number. Keeps a stalled j_star_join from
    // reading as a 4x regression when the plan didn't change.
    var outlierBudget = 120.0
    for (_ <- 1 to 2) {
      val med = results.values.toSeq.sorted.apply(results.size / 2)
      names.sortBy(n => -results(n)).foreach { n =>
        if (outlierBudget > 0 && results(n) > math.max(1.0, 4 * med)) {
          spark.sharedState.cacheManager.clearCache()
          val t = timed(n)
          outlierBudget -= t
          if (t < results(n)) results(n) = t
        }
      }
    }
    System.err.println(s"[bench] codegen compiles: warm-up pass $warmupCompiles, " +
      s"timed passes $timedCompiles over $timedRuns timed runs")
    // seconds formatted to 6 decimals (µs precision — far below host
    // noise): r17's round-over-round diff was lost because the capture
    // kept only a ~4 KB tail and the full-precision JSON didn't fit; a
    // shorter line is likelier to survive tail truncation intact.
    def fmt(v: Double): String = "%.6f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errs = errors.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.sum
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":$errs,"host_calibration_sec":${fmt(hostCal)},"sf":"$sfDir"}"""
    // stdout captures get tail-truncated by harnesses; always persist the
    // COMPLETE per-query map to a file too (SPARK_GRAFT_BENCH_OUT
    // overrides the default ./bench_full.json) so round-over-round
    // comparison never depends on scraping a log tail.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    // the ONE JSON line goes out LAST, after spark.stop(), so no shutdown
    // logging can follow it and a tail-truncated capture keeps the line
    // (r17's prev-bench parse failed exactly here — VERDICT r18 item 6/7)
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] spark.stop failed: $e") }
    println(json)
  }
}
