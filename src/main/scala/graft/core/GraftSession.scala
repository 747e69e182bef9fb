package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration.
  *
  * Mirrors the posture the reference gets from SQL Server's optimizer +
  * columnstore (reference `Terraform/sql/007_configure_performance.sql:8-64`):
  * on Spark that is AQE (runtime re-plan, skew-join splitting, partition
  * coalescing) + parquet vectorized reads.
  *
  * Shuffle partitions default to the core count. The textbook
  * 2-3x-cores rule was tried as the default in r11 and REFUTED by
  * equal-cpu measurement on this workload (docs/SCALING.md §r11): the
  * big spills the r10 profile attributed to partition count
  * (`j_cooccurrence` 6.3 GB, `x_pagerank` 14.9 GB at sf10) live in
  * MAP-side state — partial-aggregate buffers and per-iteration
  * sort-merge-join sorts — which reducer count cannot size, so 2-3x
  * partitions only bought per-task scheduler overhead (j_cooccurrence
  * sf10 16.9s -> 23.7s at 2x; x_pagerank sf0.1 9.7s -> 14.4s at 3x).
  * The spill that WAS plan-addressable is: the persisted PageRank edge
  * table is now pre-partitioned + pre-sorted on the iteration join key
  * (`ext.Graph`), so iterations stop re-sorting it. The remaining
  * map-side partial-agg spill is Spark's intended behavior (spillable
  * fallback in ObjectHashAggregate/SortAggregate) and measures ≤
  * cpu-adjusted linear at equal cpus (j_cooccurrence 6.03x/decade). On
  * a real cluster shuffle partitions still scale with total cores
  * (`SPARK_GRAFT_CONF="spark.sql.shuffle.partitions=N"`, ~2-3k at the
  * 1000-executor target); AQE coalesces from there.
  */
object GraftSession {
  /** Size of Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
    * a static conf, default 100). The cache is an LRU keyed by generated
    * source, so a class is reused only if it survives until its next use.
    * Measured working sets (4-core host, Janino compiles counted through
    * `CodegenMetrics.METRIC_COMPILATION_TIME`): one round of the nine
    * perfbench `mart_reads` queries generates ~230 distinct classes,
    * `warehouse_load` ~225 and `curation` ~135, the full query suite
    * at sf0.001 ~1.5k. At 100 entries every class was evicted before its
    * next use: a second round of the mart queries recompiled 215 classes,
    * and now 0 (with `useIdInClassName` below). `graft.Bench` at sf0.1:
    * the warm-up pass compiles 1207 classes and the 475 timed runs 72;
    * peak metaspace 192 → 203 MB. 4000 leaves >2.5x headroom; a full
    * cache holds metaspace at ~210 MB vs ~185 MB at 100 entries
    * (docs/SCALING.md §"Session / conf").
    *
    * Spark sizes the cache ONCE per JVM, from `SQLConf.get` at the first
    * compile: a session built outside this factory that compiles first
    * brings back the 100-entry default for the life of the JVM. */
  val CodegenCacheEntries = 4000

  /** `cores` is the executor thread count, and the shuffle partition
    * count (1x, see scaladoc). `SPARK_GRAFT_CONF` (below) overrides any
    * conf, `spark.sql.shuffle.partitions` included. */
  def builder(master: String, cores: Int): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft-engine")
      // engine extensions: RLS injection (inert until configured), custom
      // functions, bounded-heap top-k-per-key strategy
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Prefer shuffled-hash over sort-merge when the planner's size
      // conditions hold (guide §3.1/§9): the join still shuffles both
      // sides, but the build side becomes a per-partition hash table
      // instead of BOTH sides paying a full sort. Size-gated by the
      // planner (static: canBuildLocalHashMap vs the broadcast
      // threshold × partitions; runtime: AQE converts SMJ→SHJ only when
      // every post-shuffle partition is under the 64 MB local-map cap),
      // so the choice scales: oversized partitions keep sort-merge, and
      // AQE skew-split bounds build-side partitions first. Measured
      // r19 at sf0.1/32cpus, same code, matched calibration
      // (0.315/0.309): suite geomean 0.85 (total 96.1 → 83.3 s), worst
      // single-query regression 1.09 (noise band) — see
      // OPTIMIZATION_r19.md.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // AQE numbers a query's codegen stages in materialization order,
      // which varies run to run; with the id in the class name the same
      // stage's source (the cache key) changed with it and recompiled
      .config("spark.sql.codegen.useIdInClassName", "false")
    // SPARK_GRAFT_CONF="k=v;k=v" — extra session confs applied LAST, for
    // conf A/B sweeps (dev) and per-deployment tuning (prod) without a
    // code change. Loud on stderr so a leftover exported experiment var
    // is identifiable in any log.
    sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .foldLeft(b) { (bb, kv) =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty =>
            System.err.println(s"[graft] SPARK_GRAFT_CONF override: " +
              s"${k.trim}=${v.trim}")
            bb.config(k.trim, v.trim)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_CONF entries must be k=v, got '$kv'")
        }
      }
  }
}
