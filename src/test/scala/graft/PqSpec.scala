package graft

import org.apache.spark.sql.functions._
import graft.ext.Pq

/** Product quantization: codes stay in range, ADC search agrees with
  * exact L2 on clustered data, and the representation actually
  * compresses. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8
  private def corpus = {
    val rnd = new scala.util.Random(11)
    val anchors = Seq(
      Seq.fill(dim)(0.0), Seq.fill(dim)(10.0),
      (0 until dim).map(i => if (i % 2 == 0) 10.0 else 0.0),
      (0 until dim).map(i => if (i % 2 == 0) 0.0 else 10.0))
    (0 until 64).map { i =>
      val a = anchors(i % 4)
      (i.toLong, a.map(x => (x + rnd.nextGaussian() * 0.5).toFloat).toArray)
    }.toDF("vec_id", "embedding")
  }

  test("PQ: encode → ADC top-k agrees with exact L2 on clustered data") {
    val book = Pq.train(corpus, "embedding", "vec_id", m = 4, k = 4)
    assert(book.subDim == 2 && book.centroids.size == 4)

    val encoded = Pq.encode(corpus, "embedding", book).persist()
    val codes = encoded.select("pq_code").as[Seq[Int]].collect()
    assert(codes.forall(c => c.size == 4 && c.forall(x => x >= 0 && x < 4)),
      "one in-range code per subspace (4 bytes vs 32 float bytes)")

    // query at anchor 1: exact L2 top-10 are the anchor-1 points
    val q = Seq.fill(dim)(10.0)
    val qc = array(q.map(lit): _*)
    val exact = corpus.select($"vec_id",
        aggregate(zip_with($"embedding", qc, (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x).as("d2"))
      .orderBy($"d2".asc, $"vec_id").limit(10)
      .select("vec_id").as[Long].collect().toSet
    val adc = Pq.adcTopK(encoded, "pq_code", "vec_id", book, q, k = 10)
      .select("vec_id").as[Long].collect().toSet
    assert((exact & adc).size >= 7,
      s"ADC top-10 must overlap exact top-10: got ${(exact & adc).size}")
    // all ADC hits come from the query's cluster (ids ≡ 1 mod 4)
    assert(adc.forall(_ % 4 == 1), s"cluster purity violated: $adc")
    encoded.unpersist()
  }

  test("PQ rejects a dim that does not divide into subspaces") {
    val ex = intercept[IllegalArgumentException] {
      Pq.train(corpus, "embedding", "vec_id", m = 3, k = 4)
    }
    assert(ex.getMessage.contains("divide"))
  }

  test("PQ on an empty corpus names the empty corpus, not the dim") {
    val ex = intercept[IllegalArgumentException] {
      Pq.train(corpus.limit(0), "embedding", "vec_id", m = 4, k = 4)
    }
    assert(ex.getMessage.contains("empty corpus"), ex.getMessage)
  }
}
