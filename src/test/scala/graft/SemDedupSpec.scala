package graft

import graft.ext.SemDedup

/** SemDeDup: k-means-clustered semantic near-dup dropping (ext.SemDedup). */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // Two tight semantic clusters + one isolated direction; float vectors to
  // match the embeddings table's element type. Ids are chosen so the
  // DETERMINISTIC salted-hash seed order (1, 17, 11, ...) picks one seed
  // per cluster at k = 3 — k-means then provably co-locates each tight
  // pair, making the expected drop set exact. (With seeds inside one
  // cluster the method can split a pair across cells and miss it — that
  // is SemDeDup's documented trade, not a bug, but it would make this
  // test depend on Lloyd-iteration luck.)
  private def corpus = Seq(
    (0L, Array(1.0f, 0.01f, 0.0f, 0.0f)),
    (1L, Array(0.99f, 0.02f, 0.0f, 0.0f)), // near-dup of 0 (cos ≈ 0.99995)
    (2L, Array(0.0f, 1.0f, 0.01f, 0.0f)),
    (11L, Array(0.0f, 0.98f, 0.03f, 0.0f)), // near-dup of 2 (cos ≈ 0.99984)
    (17L, Array(0.0f, 0.0f, 0.0f, 1.0f))) // isolated
    .toDF("vec_id", "embedding")

  test("near-duplicates drop toward the smallest id; singletons survive") {
    val flags = SemDedup.dedupFlags(corpus, "embedding", "vec_id",
      tau = 0.9, k = 3, iters = 2)
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    val kept = flags.collect { case (id, _, 1) => id }.toSet
    val cells = flags.map(f => f._1 -> f._2).toMap
    assert(flags.length == 5)
    assert(flags.forall(f => f._2 >= 0 && f._2 < 3), "cell out of range")
    assert(cells(0L) == cells(1L) && cells(2L) == cells(11L))
    assert(kept == Set(0L, 2L, 17L), s"kept $kept")
  }

  test("deterministic: identical flags and cells across runs") {
    def run() = SemDedup.dedupFlags(corpus, "embedding", "vec_id",
      tau = 0.9, k = 3, iters = 2)
      .as[(Long, Int, Int)].collect().sortBy(_._1).toSeq
    assert(run() == run())
  }

  test("precomputed centroids compose: one Lloyd's run serves consumers") {
    val cents = graft.ext.Ivf.train(corpus, "embedding", "vec_id",
      k = 3, iters = 2, roundMeansTo = Some(6))
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Int)].collect().sortBy(_._1).toSeq
    val composed = sorted(SemDedup.dedupFlagsWithCentroids(
      corpus, "embedding", "vec_id", tau = 0.9, cents))
    val selfContained = sorted(SemDedup.dedupFlags(
      corpus, "embedding", "vec_id", tau = 0.9, k = 3, iters = 2))
    assert(composed == selfContained)
  }

  test("tau gates the drop: both pairs sit below cosine 0.99999") {
    val flags = SemDedup.dedupFlags(corpus, "embedding", "vec_id",
      tau = 0.99999, k = 3, iters = 2)
      .as[(Long, Int, Int)].collect()
    assert(flags.forall(_._3 == 1), "nothing reaches cosine 0.99999")
  }

  test("building the flag frame runs no Spark job") {
    val rnd = new scala.util.Random(5)
    val wide = (0 until 400).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val cents = (0 until 4).map(c => Seq.tabulate(8)(p => ((c + p) % 4) / 4.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup")
      .toString + "/corpus"
    wide.write.parquet(dir)
    Seq(wide.localCheckpoint(), spark.read.parquet(dir)).foreach { c =>
      val jobs = jobsRunBy {
        SemDedup.dedupFlagsWithCentroids(c, "embedding", "vec_id", 0.9, cents)
      }
      assert(jobs == 0, s"$jobs jobs while building the flag frame")
    }
  }
}
