package graft.ext

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication of an embedding corpus (public
  * method: Abbas et al. 2023, "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication", arXiv:2303.09540): k-means
  * the embedding space, then inside each cluster drop every vector with a
  * semantic near-duplicate (cosine ≥ τ) of smaller id. Cross-cluster
  * near-duplicates are missed BY DESIGN — that is the method's trade:
  * clustering caps the candidate-pair volume at Σ_cells (n/k)², a factor
  * k below the n²/2 cross product.
  *
  * Distinct from the other near-dup family members: [[Dedup.nearDedup]]
  * keys on text shingles (lexical), [[Similarity.nearDupEmbeddings]]
  * prunes with random hyperplanes (data-independent buckets); SemDeDup's
  * clusters are data-derived, so paraphrase clusters that straddle many
  * LSH buckets still land in one cell.
  *
  * Scale shape (100 TB corpus): training is Lloyd's with k ≈ √n
  * ([[Ivf.autoCells]]) — each iteration one distributed aggregation; the
  * assignment is a per-row codegen argmin (map-only); the dedup is ONE
  * self-equi-join on `cell` with √n-sized cells, so candidate pairs grow
  * as n^1.5, sharded across the cluster by cell. The kept set is an
  * anti-join of the corpus against the dropped ids. Determinism:
  * centroids train with `roundMeansTo = 6` so an engine re-deriving the
  * model (the DuckDB oracle does) lands on bit-identical assignments.
  */
object SemDedup {

  /** Train (k-means), assign, and flag: (idCol, cell, kept). `kept` is 0
    * iff some same-cell vector with smaller id has cosine ≥ `tau`. */
  def dedupFlags(corpus: DataFrame, embCol: String, idCol: String,
      tau: Double, k: Int, iters: Int = 2): DataFrame =
    dedupFlagsWithCentroids(corpus, embCol, idCol, tau,
      Ivf.train(corpus, embCol, idCol, k, iters, roundMeansTo = Some(6)))

  /** The composition point: assign + flag against PRECOMPUTED centroids,
    * so a pipeline that already trained an IVF/k-means model (`Ivf.train`,
    * an `IvfIndex` build) pays Lloyd's once, not once per consumer. The
    * cosine is parity-rounded to 6 decimals (same +1e-9 HALF_UP form as
    * the trained means) BEFORE the τ comparison, so a pair sitting within
    * ulps of the threshold cannot be kept by one engine and dropped by
    * another re-deriving the same model. */
  def dedupFlagsWithCentroids(corpus: DataFrame, embCol: String,
      idCol: String, tau: Double, centroids: Seq[Seq[Double]]): DataFrame = {
    val assigned = graft.core.Tables.spread(
      Ivf.withCell(corpus, embCol, centroids))
      .select(col(idCol), col("cell"), col(embCol).as("__e"),
        graft.functions.VectorOps.vecNorm(col(embCol)).as("__n"))
    val l = assigned.select(col("cell"), col(idCol).as("a_id"),
      col("__e").as("a_emb"), col("__n").as("a_norm"))
    val r = assigned.select(col("cell"), col(idCol).as("b_id"),
      col("__e").as("b_emb"), col("__n").as("b_norm"))
    val dropped = l.join(r, "cell").filter(col("a_id") < col("b_id"))
      .filter(round(
        graft.functions.VectorOps.vecDot(col("a_emb"), col("b_emb")) /
          nullif(col("a_norm") * col("b_norm"), lit(0.0)) + lit(1e-9), 6)
        >= tau)
      .select(col("b_id").as(idCol)).distinct()
        .withColumn("__dropped", lit(1))
    assigned.join(dropped, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        when(col("__dropped").isNull, 1).otherwise(0).as("kept"))
  }
}
