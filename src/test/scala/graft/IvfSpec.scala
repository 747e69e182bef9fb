package graft

import org.apache.spark.sql.functions._
import graft.ext.{Ivf, Similarity}

/** IVF ANN: training convergence, deterministic assignment, recall vs
  * brute force on the real embeddings testdata. */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus =
    graft.core.Tables.load(spark, sf001, "embeddings").cache()

  test("autoCells follows the sqrt(n) rule with clamps") {
    assert(Ivf.autoCells(0) == 4)
    assert(Ivf.autoCells(10) == 4)           // floor
    assert(Ivf.autoCells(10000) == 100)
    assert(Ivf.autoCells(1000000) == 1000)
    assert(Ivf.autoCells(100L * 1000 * 1000 * 1000) == 65536) // ceiling
    // build accepts the auto-sized count end-to-end
    val k = Ivf.autoCells(corpus.count())
    val cs = Ivf.train(corpus, "embedding", "vec_id", k = k, iters = 1)
    assert(cs.size == k)
  }

  test("training produces k centroids and stable assignments") {
    val cs = Ivf.train(corpus, "embedding", "vec_id", k = 8, iters = 3)
    assert(cs.size == 8 && cs.forall(_.size == 64))
    val cells = Ivf.withCell(corpus, "embedding", cs)
    val counts = cells.groupBy("cell").count().collect()
    assert(counts.map(_.getLong(1)).sum == corpus.count())
    // deterministic: same training twice → same assignment
    val cs2 = Ivf.train(corpus, "embedding", "vec_id", k = 8, iters = 3)
    assert(cs == cs2)
  }

  test("broadcast-backed assignment (large k×dim) matches the literal path") {
    val cs = Ivf.train(corpus, "embedding", "vec_id", k = 8, iters = 2)
    // pad to 300 centroids (300×64 = 19200 elems > BroadcastThresholdElems
    // = 16384 → NearestCentroidBc path) with decoys shifted far away, so
    // the winning cell must match the 8-centroid literal-path assignment
    assert(graft.functions.VectorOps.BroadcastThresholdElems < 300 * 64)
    val decoys = (0 until 292).map(i => cs(i % 8).map(_ + 1000.0 + i))
    val big = cs ++ decoys
    val literal = Ivf.withCell(corpus, "embedding", cs)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val viaBc = Ivf.withCell(corpus, "embedding", big)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(viaBc == literal)
  }

  test("nprobe=k degenerates to exact brute-force top-k") {
    val cs = Ivf.train(corpus, "embedding", "vec_id", k = 4, iters = 2)
    val q = corpus.filter($"vec_id" === 7).select("embedding")
      .first().getSeq[Float](0).map(_.toDouble)
    val exact = Similarity.topKCosine(corpus, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val ivfAll = Ivf.annTopK(corpus, "embedding", "vec_id", cs, q, 10, nprobe = 4)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivfAll == exact)
  }

  test("cell-partitioned index scans are partition-pruned to nprobe cells") {
    val cs = Ivf.train(corpus, "embedding", "vec_id", k = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx")
      .toString + "/index"
    // the warehouse layout: corpus written partitioned by cell
    Ivf.withCell(corpus, "embedding", cs)
      .write.partitionBy("cell").parquet(dir)
    val index = spark.read.parquet(dir)
    val nCells = index.select("cell").distinct().count()
    assert(nCells >= 4) // training actually spread the corpus over cells
    val probed = index.filter($"cell".isin(0, 1))
    // the cell predicate must land in the scan's PartitionFilters (pruned
    // BEFORE reading any data), not in a post-scan Filter
    val scan = probed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [cell") &&
      scan.contains("IN (0,1)"),
      s"cell filter must prune partitions:\n$scan")
    // and the files actually touched are only the probed directories'
    val filesRead = probed.select(input_file_name()).distinct()
      .as[String].collect()
    assert(filesRead.nonEmpty)
    assert(filesRead.forall(f => f.contains("cell=0") || f.contains("cell=1")))
  }

  test("annJoin with nprobe=k equals the exact per-query top-k") {
    val cs = Ivf.train(corpus, "embedding", "vec_id", k = 4, iters = 2)
    val queries = corpus.filter($"vec_id" < 3)
    val got = Ivf.annJoin(queries, corpus, "embedding", "vec_id", cs,
      k = 5, nprobe = 4)
      .select("q_id", "nbr_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    queries.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().foreach { case (qid, emb) =>
        val exact = Similarity.topKCosine(corpus, "embedding", "vec_id",
          emb.map(_.toDouble), 5).select("vec_id").as[Long].collect().toSet
        assert(got(qid) == exact, s"query $qid: all-cell probe must be exact")
      }
    // probing fewer cells still finds each query itself (cosine 1)
    val self = Ivf.annJoin(queries, corpus, "embedding", "vec_id", cs,
      k = 3, nprobe = 1)
      .filter($"q_id" === $"nbr_id").select("q_id").as[Long].collect().toSet
    assert(self == Set(0L, 1L, 2L))
  }

  test("nprobe=1 finds the query's own cell (self in results)") {
    val cs = Ivf.train(corpus, "embedding", "vec_id", k = 8, iters = 3)
    val q = corpus.filter($"vec_id" === 3).select("embedding")
      .first().getSeq[Float](0).map(_.toDouble)
    val got = Ivf.annTopK(corpus, "embedding", "vec_id", cs, q, 5, nprobe = 1)
      .select("vec_id").as[Long].collect()
    assert(got.contains(3L)) // the query vector itself, cosine 1
  }

  test("training on an empty corpus fails fast instead of building " +
      "zero-dimensional centroids") {
    val e = intercept[IllegalArgumentException] {
      Ivf.train(corpus.limit(0), "embedding", "vec_id", k = 4, iters = 1)
    }
    assert(e.getMessage.contains("empty corpus"))
  }
}
