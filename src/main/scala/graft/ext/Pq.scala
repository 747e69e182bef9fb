package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search") — the memory-side scale path for embedding search
  * that [[Ivf]]/[[Similarity]] don't cover: a dim-d float vector (4·d
  * bytes) compresses to `m` small codes (m bytes at k=256), so a
  * 10B-vector corpus drops from terabytes to tens of gigabytes and ANN
  * scoring becomes m table lookups per row instead of d multiplies.
  *
  * Scale shape: codebooks are tiny (m × k × d/m doubles) and train with
  * the one Lloyd's kernel ([[Ivf.lloyd]], all m subspaces in one
  * distributed aggregation per iteration) — the driver only ever holds
  * centroids. Encoding is a per-row expression pass (the codegen
  * `NearestCentroid` per subspace — no UDF, no shuffle). Search
  * precomputes the query's m × k distance table on the driver and
  * scores rows with m array lookups (asymmetric distance computation);
  * combine with IVF cell pruning for the full IVF-PQ shape: partition by
  * cell, scan `nprobe` cells, score codes.
  */
object Pq {

  /** `m` sub-quantizers of `subDim` dims each: centroids(j)(c) is the
    * c-th centroid of subspace j. */
  final case class Codebook(m: Int, subDim: Int,
      centroids: Seq[Seq[Seq[Double]]]) {
    require(centroids.size == m && centroids.forall(_.forall(_.size == subDim)))
  }

  /** Subvector j of `subDim` dims (the whole embedding when m = 1). */
  private[ext] def subspace(embCol: String, j: Int, m: Int,
      subDim: Int): Column =
    if (m == 1) col(embCol) else slice(col(embCol), j * subDim + 1, subDim)

  /** Train per-subspace codebooks: [[Ivf.lloyd]] over m subspaces, ALL
    * updating in ONE job per iteration (m separate [[Ivf.train]] calls
    * would pay m× the scheduling and scan cost for identical results).
    * `k` ≤ 256 keeps codes byte-sized. Deterministic: hash-ordered seed
    * sample, fixed iteration count. */
  def train(corpus: DataFrame, embCol: String, idCol: String, m: Int,
      k: Int = 256, iters: Int = 3): Codebook = {
    val books = Ivf.lloyd(corpus, embCol, idCol, m, k, iters, None)
    Codebook(m, books.head.head.size, books)
  }

  /** Adds `codeCol` (array<int>, one nearest-centroid index per
    * subspace) — the compressed representation to persist instead of
    * the float vectors. Pure per-row codegen expressions. */
  def encode(corpus: DataFrame, embCol: String, book: Codebook,
      codeCol: String = "pq_code"): DataFrame = {
    corpus.withColumn(codeCol, array((0 until book.m).map(j =>
      graft.functions.VectorOps.nearestCentroid(
        subspace(embCol, j, book.m, book.subDim), book.centroids(j))): _*))
  }

  /** Top-k by asymmetric distance: the query's m × k squared-L2 table is
    * computed on the driver (m·k·subDim flops — microseconds) and baked
    * in as a literal; each row costs m array lookups + adds. Returns
    * (idCol, adc) ascending — approximate L2 nearest neighbors. */
  def adcTopK(encoded: DataFrame, codeCol: String, idCol: String,
      book: Codebook, query: Seq[Double], k: Int): DataFrame = {
    require(query.size == book.m * book.subDim, "query dim mismatch")
    encoded.select(col(idCol),
        adc(col(codeCol), distanceTable(book, query), book.m).as("adc"))
      .orderBy(col("adc").asc, col(idCol))
      .limit(k)
  }

  /** The query's m × k squared-L2 table against the codebook as a
    * driver-computed literal: row j holds subvector j's distance to each
    * centroid of subspace j. */
  private[ext] def distanceTable(book: Codebook, query: Seq[Double]): Column =
    array(book.centroids.zipWithIndex.map { case (cents, j) =>
      val q = query.slice(j * book.subDim, (j + 1) * book.subDim)
      array(cents.map(c => lit(Ivf.sqL2(c, q))): _*)
    }: _*)

  /** Asymmetric distance of a code column: Σ_j table[j][code[j]], m
    * array lookups and adds per row. */
  private[ext] def adc(code: Column, table: Column, m: Int): Column =
    aggregate(
      zip_with(code, sequence(lit(1), lit(m)),
        (c, j) => element_at(element_at(table, j), c + 1)),
      lit(0.0), (acc, x) => acc + x)
}
