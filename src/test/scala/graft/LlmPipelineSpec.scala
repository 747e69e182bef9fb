package graft

import org.apache.spark.sql.functions._
import graft.ext.{Curation, Dedup}

/** Capstone composition: the full LLM training-data pipeline assembled
  * from the individual operators — quality filter → near-dedup →
  * decontamination gate → context chunking → deterministic shuffle →
  * token-budget packing — with the invariants a production run needs:
  * nothing contaminated survives, no near-dup survives, every chunk
  * traces to a kept document, re-runs are bit-identical.
  */
class LlmPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("filter → dedup → decontaminate → chunk → shuffle → pack") {
    val all = graft.core.Tables.load(spark, sf001, "documents")
    // the held-out eval set we must not train on
    val benchmark = all.filter($"doc_id" % 17 === 0)
    val corpus = all.filter($"doc_id" % 17 =!= 0)

    def runPipeline() = {
      // 1. rule-based quality filter (keep + drop_reason)
      val kept = Curation.qualityFilter(corpus, "text",
          Curation.QualityRules(minTokens = 5, maxTokens = 10000))
        .filter(col(Curation.KeepCol))
        .select("doc_id", "text", "lang")
      // 2. near-duplicate removal (min-id survivor)
      val deduped = Dedup.nearDedup(kept, "text", "doc_id", threshold = 0.8)
      // 3. benchmark decontamination gate
      val contaminated = Curation.contamination(deduped, "text", "doc_id",
          benchmark, "text")
        .filter(col("contamination") > 0.5).select("doc_id")
      val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
      // 4. context-window chunking for the embedding/training stage
      val chunks = Curation.chunk(clean, "text", chunkTokens = 64, overlap = 8)
        .withColumn("chunk_id",
          concat(col("doc_id"), lit("_"), col("chunk_idx")))
      // 5. deterministic training-order shuffle + 6. per-lang shard pack
      val packed = Curation.packShards(
        chunks.withColumn("__key", Curation.shuffleKey(col("chunk_id"))),
        "n_chunk_tokens", "__key", budget = 2000, partitionCols = Seq("lang"))
      packed.select($"chunk_id", $"lang", $"n_chunk_tokens", $"shard_id")
    }

    val out = runPipeline().cache()
    val rows = out.collect()
    assert(rows.nonEmpty, "pipeline must keep something")

    // INVARIANT 1: no surviving doc is >0.5 contaminated vs the benchmark
    val survivorDocs = out.select(
      split($"chunk_id", "_").getItem(0).cast("long").as("doc_id")).distinct()
    val recheck = Curation.contamination(
        all.join(survivorDocs, Seq("doc_id")), "text", "doc_id",
        benchmark, "text")
      .filter($"contamination" > 0.5).count()
    assert(recheck == 0, "no contaminated doc may survive the gate")

    // INVARIANT 2: no two surviving docs are near-dups of each other
    val survivorsText = all.join(survivorDocs, Seq("doc_id"))
    val dupPairs = Dedup.nearDupPairs(survivorsText, "text", "doc_id")
      .filter($"jaccard" >= 0.8).count()
    assert(dupPairs == 0, "near-dups must not survive dedup")

    // INVARIANT 3: shards respect the token budget (oversized single
    // chunks excepted — none at 64-token chunks vs a 2000 budget)
    val shardSizes = out.groupBy("lang", "shard_id")
      .agg(sum("n_chunk_tokens").as("tokens"))
      .select("tokens").as[Long].collect()
    assert(shardSizes.forall(_ <= 2000 + 64),
      s"shard overflow: ${shardSizes.max}")

    // INVARIANT 4: the whole pipeline is deterministic end-to-end
    val again = runPipeline().collect()
    assert(again.toSeq.sortBy(_.getString(0)) ==
      rows.toSeq.sortBy(_.getString(0)))
  }

  test("one LSH/CC pass serves near-dedup AND the leak-safe split") {
    // the job-count margin below was calibrated against the DISTRIBUTED
    // connected-components loop; the size-gated driver union-find (r18)
    // legitimately collapses the self-contained path to a handful of jobs
    // and the margin loses meaning. Pin the distributed path for the
    // whole test so the "pair machinery not re-run" assertion keeps
    // measuring what it was written to measure.
    val ccConfKey = "spark.graft.cc.localMaxEdges"
    val ccPrev = spark.conf.getOption(ccConfKey)
    spark.conf.set(ccConfKey, "0")
    try {
    val docs = graft.core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    // the pair machinery runs ONCE, materialized; both consumers read it
    val pairs = Dedup.nearDupPairs(docs, "text", "doc_id")
      .filter($"jaccard" >= 0.8).localCheckpoint()
    val clusters = Dedup.clusterPairs(pairs).localCheckpoint()
    val deduped = docs.join(
      clusters.filter($"id" =!= $"cluster_id").select($"id".as("doc_id")),
      Seq("doc_id"), "left_anti")
    val split = Curation.leakSafeSplitClustered(docs, "doc_id", clusters)

    // identical membership to the self-contained convenience path
    var selfContained = Seq.empty[(Long, Long, String)]
    val selfJobs = jobsRunBy {
      selfContained = Curation.leakSafeSplit(docs, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .sortBy(_._1).toSeq
    }
    val composed = split
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(composed == selfContained)

    // the composed split must NOT re-run the LSH/CC machinery: acting on
    // it from the checkpointed cluster frame is a handful of jobs, where
    // the self-contained path pays the banded join, persist
    // materializations and per-lineage propagation counts. The margin
    // derives from the OBSERVED self-contained job count (not a fixed
    // constant AQE job splitting could drift past): the composed reads
    // must cost well under half of what the full pair machinery does.
    val composedJobs = jobsRunBy { split.count(); deduped.count() }
    assert(composedJobs * 2 < selfJobs,
      s"pair stage re-ran: $composedJobs jobs for the composed reads " +
        s"vs $selfJobs for the self-contained path")

    // near-dup survivors and split assignment agree doc-for-doc
    assert(deduped.join(split, "doc_id").count() == deduped.count())
    } finally {
      ccPrev match {
        case Some(v) => spark.conf.set(ccConfKey, v)
        case None    => spark.conf.unset(ccConfKey)
      }
    }
  }
}
