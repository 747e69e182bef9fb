package graft.ext

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.core.DriverGate

/** Iterative graph analytics over edge DataFrames. The connected-
  * components machinery lives with its client in [[Dedup]] (near-dup
  * clustering); this module holds the general-purpose iterative ranks —
  * PageRank first (public method: Page et al. 1999; the MapReduce
  * formulation follows Malewicz et al.'s Pregel shape: join ranks to
  * edges, re-aggregate by destination).
  *
  * A training-data pipeline uses graph ranks for source weighting: build
  * the hyperlink (or citation / co-occurrence) graph over crawl sources
  * and up-weight documents from central nodes (the OpenWebText/WebText
  * "outbound karma" idea generalized).
  *
  * Scale shape (100 TB graph): edges and out-degrees are computed once,
  * persisted, and every iteration is ONE shuffle — join ranks (node-keyed)
  * to edges (src-keyed) then aggregate contributions by dst. Rank frames
  * are node-grain (≪ edge-grain); `localCheckpoint` every other iteration
  * caps lineage like [[Dedup.clusterPairs]]. The graph size N enters the
  * teleport term as a broadcast one-row frame — no driver-side collect
  * anywhere in the loop.
  */
object Graph {

  /** PageRank over a directed edge list (`srcCol`, `dstCol`), `iters`
    * synchronous iterations from a uniform start:
    *
    *   pr'(v) = (1−d)/N + d · (Σ_{(u,v)∈E} pr(u)/outdeg(u) + dang/N)
    *
    * Nodes = every vertex appearing as a source OR destination; vertices
    * with no out-edges are DANGLING and their rank mass `dang` is
    * redistributed uniformly each iteration (the standard random-surfer
    * completion), so asymmetric link graphs conserve total mass ≈ 1
    * without caller-side symmetrization. The dangling term is a one-row
    * aggregate cross-joined back — never a driver collect; graphs with no
    * dangling vertex (co-occurrence, similarity — anything symmetric)
    * skip the term entirely, detected ONCE up front on the node-grain
    * frame. Returns (node, pr) at the edge key's type, pr unnormalized.
    *
    * The loop stays LAZY: the iteration chain executes when the final
    * eager checkpoint materializes it, with the persisted edge+degree
    * table serving every iteration and AQE broadcasting the node-grain
    * rank side from its measured runtime size. `checkpointEvery` caps
    * plan/lineage depth for long horizons — each mid-loop checkpoint is a
    * materialization barrier that measured ~4× the pure iteration cost
    * on a 5-iteration run (docs/SCALING.md), so the default cadence only
    * engages past the depths where Catalyst re-optimization cost grows
    * noticeable. `tol` (L1 delta per iteration) opts into an early stop —
    * that forces a materialization + one scalar aggregate per iteration,
    * the price of knowing convergence; leave None for fixed horizons.
    *
    * The returned frame is locally checkpointed (eager), so the cached
    * edge/node frames are unpersisted before returning — a long-lived
    * session accumulates nothing across repeated invocations; checkpoint
    * storage is node-grain and reclaimed by the context cleaner once the
    * result is dropped. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 8, tol: Option[Double] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // Edge prep in ONE pass, ONE exchange (r18; guide §2.4 — remove
    // shuffles outright, §1.1 — first-principles floor): the pre-r18
    // shape (`edges.distinct()`, then `deg = e.groupBy(__src)`, then
    // `e.join(deg).repartition(__src)`) planned THREE exchanges plus a
    // broadcast AND executed the caller's edge-expansion subtree twice
    // (`e` is a lazy plan referenced by both join inputs — Catalyst
    // trees share nothing across DataFrame reuse). Instead:
    //   - repartition the raw pairs by __src once;
    //   - distinct via groupBy(__src, __dst) — HashPartitioning(__src)
    //     satisfies ClusteredDistribution(__src, __dst) (equal composite
    //     keys hash to the same partition), so NO second exchange;
    //   - out-degree via count() OVER (PARTITION BY __src) on the same
    //     partitioning — replaces the groupBy+join+broadcast (and the
    //     doubled subtree) with one window whose sort is exactly the
    //     __src ordering the per-iteration sort-merge join needs anyway.
    // The cached relation then declares both the distribution and the
    // ordering, so no iteration re-shuffles or re-sorts the edge side —
    // only the node-grain rank frame moves. (r11 measured the unsorted
    // form re-sorting the edge table every iteration: 14.9 GB of sort
    // spill over 5 iterations at sf10.) Trade-off vs the old shape: the
    // window buffers one __src group at a time (spillable
    // ExternalAppendOnlyUnsafeRowArray) where the join streamed — fine
    // at out-degrees that fit a task's spill budget, which edge-grain
    // groups do; and the raw pair stream shuffles without map-side
    // dedup, which only matters for edge lists with heavy intra-
    // partition duplication. Measured at sf0.1 (isolated bench,
    // matched calibration): x_pagerank end-to-end 10.98 → 9.82 s =
    // 0.89× — smaller than the plan diff suggests because AQE's
    // exchange reuse was already deduplicating the doubled subtree at
    // runtime; the remaining win is the two dropped exchanges.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__src")
    // Null-endpoint policy (r19, explicit): an edge with a null src or
    // dst is dropped — a null id is not a vertex. Before r18 the
    // outdeg inner join silently dropped null-SRC edges (null dsts still
    // became dangling nodes); the r18 window shape silently kept both as
    // first-class nodes. Neither was chosen — now it is: no null
    // endpoints, stated here, enforced at entry (filter cost is one
    // codegen'd predicate on the edge pass).
    val withDeg = edges
      .select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .filter(col("__src").isNotNull && col("__dst").isNotNull)
      .repartition(col("__src"))
      .distinct()
      .withColumn("__outdeg", count(lit(1)).over(w).cast("double"))
      .sortWithinPartitions("__src")
      .persist()
    // Size-gated driver fast path (r19; the r18 union-find discipline in
    // Dedup.clusterPairs): below `spark.graft.pagerank.localMaxEdges`
    // distinct directed edges (default 4M ≈ tens of MB of primitive
    // arrays) with integral node ids and a fixed horizon (tol unset),
    // the synchronous iterations run as driver loops over the
    // ALREADY-MATERIALIZED edge cache — the same formula (uniform start,
    // dangling mass redistributed, damping) over the same distinct edge
    // set, with zero per-iteration stages. Rank values differ from the
    // distributed loop only in floating-point summation order — the same
    // perturbation class as Spark's own nondeterministic partial-agg
    // merge order, which every consumer already absorbs (rounded
    // outputs / certificate margins). Larger graphs, non-integral ids
    // or tol-gated runs fall through to the distributed loop unchanged —
    // the 100 TB path — and the gate is conf-tunable per deployment.
    val localMax = DriverGate.budget(edges.sparkSession,
      "spark.graft.pagerank.localMaxEdges", 4000000L)
    val integralIds = DriverGate.integralIds(withDeg.schema("__src").dataType)
    if (tol.isEmpty && integralIds && localMax > 0 &&
        withDeg.count() <= localMax) {
      val out = localPageRank(withDeg, iters, damping)
      withDeg.unpersist()
      return out
    }
    // nodes + dangling from ONE exchange (r19; guide §2.4): the union of
    // (src, has_out=true) and (dst, has_out=false) rows aggregates to
    // node grain with max(has_out) — replacing the r18 chain of a
    // nodes-distinct exchange PLUS a srcs-distinct exchange PLUS a
    // node-grain anti join. `dangling` = the has_out=false slice of the
    // same cached frame; `nodes` = its projection. Identical node set
    // (union-distinct of both endpoint columns, nulls pre-filtered) and
    // identical dangling set (no out-edge ⇔ never seen as src).
    val nodeFlags = withDeg.select(col("__src").as("node"),
        lit(true).as("__has_out"))
      .union(withDeg.select(col("__dst").as("node"),
        lit(false).as("__has_out")))
      .groupBy("node").agg(max(col("__has_out")).as("__has_out"))
      .persist()
    val nodes = nodeFlags.select("node")
    val n = broadcast(nodes.agg(count(lit(1)).cast("double").as("__n")))
    // dangling = nodes with no out-edge, resolved once (isEmpty is one
    // driver boolean over the cached node-grain frame, not the data)
    val dangling = nodeFlags.filter(!col("__has_out")).select("node")
    val hasDangling = !dangling.isEmpty
    var ranks = nodes.crossJoin(n)
      .select(col("node"), (lit(1.0) / col("__n")).as("pr"))
    var converged = false
    (1 to iters).foreach { i =>
      if (!converged) {
        val contribs = withDeg
          .join(ranks, col("__src") === col("node"))
          .groupBy(col("__dst"))
          .agg(sum(col("pr") / col("__outdeg")).as("__c"))
        val base = nodes.join(contribs, col("node") === col("__dst"), "left")
          .crossJoin(n)
        val next =
          if (hasDangling) {
            val dang = broadcast(ranks.join(dangling, Seq("node"), "left_semi")
              .agg(coalesce(sum("pr"), lit(0.0)).as("__dang")))
            base.crossJoin(dang)
              .select(col("node"),
                (lit(1.0 - damping) / col("__n") +
                  lit(damping) * (coalesce(col("__c"), lit(0.0)) +
                    col("__dang") / col("__n"))).as("pr"))
          } else
            base.select(col("node"),
              (lit(1.0 - damping) / col("__n") +
                lit(damping) * coalesce(col("__c"), lit(0.0))).as("pr"))
        ranks = tol match {
          case Some(eps) =>
            val mat = next.localCheckpoint()
            val delta = mat.join(ranks.select(col("node"),
                col("pr").as("__prev")), "node")
              .agg(sum(abs(col("pr") - col("__prev"))).as("d"))
              .first().getDouble(0)
            if (delta < eps) converged = true
            mat
          case None if hasDangling =>
            // the dangling branch references `ranks` TWICE (contribs +
            // the dang aggregate) — left as a plain lazy plan, the
            // Catalyst tree between checkpoints would double per
            // iteration (logical plans are TREES; a shared subplan
            // appears 2^k times). A LAZY localCheckpoint solves that
            // without per-iteration blocking: the Dataset's plan becomes
            // a LogicalRDD leaf IMMEDIATELY (depth resets), while the
            // double reference lives in the RDD DAG — a real dag, where
            // the shared node is one persisted node computed once. The
            // whole horizon then executes as one job cascade at the
            // final eager checkpoint instead of iters driver-blocking
            // jobs (r15: measured below in docs/SCALING.md).
            next.localCheckpoint(eager = false)
          case None =>
            if (checkpointEvery > 0 && i % checkpointEvery == 0 && i < iters)
              next.localCheckpoint(eager = false)
            else next
        }
      }
    }
    val out = ranks.localCheckpoint()
    withDeg.unpersist()
    nodeFlags.unpersist()
    out
  }

  /** Driver-side synchronous PageRank over a bounded, materialized
    * (__src, __dst) edge cache (distinct, null-free): same uniform
    * start, per-iteration dangling-mass redistribution and damping as
    * the distributed loop, as plain double loops over primitive arrays.
    * Returns (node, pr) at the edge key's type. */
  private def localPageRank(withDeg: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    val idType = withDeg.schema("__src").dataType
    val rows = withDeg
      .select(col("__src").cast("long"), col("__dst").cast("long"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    // node index: every id appearing as src or dst
    val idx = new scala.collection.mutable.LongMap[Int]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def indexOf(v: Long): Int =
      idx.getOrElse(v, { val i = ids.size; idx(v) = i; ids += v; i })
    val e = rows.length
    val srcIdx = new Array[Int](e)
    val dstIdx = new Array[Int](e)
    var i = 0
    while (i < e) {
      srcIdx(i) = indexOf(rows(i)._1)
      dstIdx(i) = indexOf(rows(i)._2)
      i += 1
    }
    val nN = ids.size
    val outdeg = new Array[Int](nN)
    i = 0; while (i < e) { outdeg(srcIdx(i)) += 1; i += 1 }
    var pr = Array.fill(nN)(1.0 / nN)
    var it = 0
    while (it < iters) {
      val contrib = new Array[Double](nN)
      i = 0
      while (i < e) {
        contrib(dstIdx(i)) += pr(srcIdx(i)) / outdeg(srcIdx(i))
        i += 1
      }
      var dang = 0.0
      var v = 0
      while (v < nN) { if (outdeg(v) == 0) dang += pr(v); v += 1 }
      val next = new Array[Double](nN)
      v = 0
      while (v < nN) {
        next(v) = (1.0 - damping) / nN +
          damping * (contrib(v) + dang / nN)
        v += 1
      }
      pr = next
      it += 1
    }
    DriverGate.resultFrame(withDeg.sparkSession,
      ids.indices.map(v => org.apache.spark.sql.Row(ids(v), pr(v))),
      Seq("node" -> LongType, "pr" -> DoubleType), idType)
  }
}
