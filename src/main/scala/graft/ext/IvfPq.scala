package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF-PQ — the composed production ANN index (coarse IVF cells +
  * product-quantized RESIDUALS): each vector stores its cell id plus the
  * PQ codes of `emb − cellCentroid`. Residual quantization is what makes
  * PQ codebooks sharp — residuals concentrate near the origin, so the
  * same code budget spends its resolution on local structure instead of
  * the corpus's global spread.
  *
  * Scale shape: the index frame is (id, cell, m codes) — bytes per
  * vector; write it partitioned by `cell` and a query reads `nprobe`
  * partitions and scores codes with per-cell lookup tables (no float
  * math per dim, no shuffle, one TakeOrdered). Build cost is two runs of
  * the one Lloyd's kernel ([[Ivf.lloyd]]: the cells, then the residual
  * codebooks, only centroids on the driver) plus one encode projection.
  */
object IvfPq {

  final case class Index(cells: Seq[Seq[Double]], book: Pq.Codebook)

  /** Train cells + residual codebooks and encode the corpus. Returns the
    * compact index frame (idCol, cell, pq_code) and the driver-side
    * index (centroids only — k·dim + m·k'·subDim doubles). */
  def build(corpus: DataFrame, embCol: String, idCol: String, nCells: Int,
      m: Int, k: Int = 256, iters: Int = 3): (DataFrame, Index) = {
    val cells = Ivf.train(corpus, embCol, idCol, nCells, iters)
    val cellsLit = Ivf.matrixLit(cells)
    // checkpoint the residual frame ONCE (r19, guide §2.4): Pq.train runs
    // 1 + iters actions over it and the final encode reads it again —
    // each used to re-evaluate the nearest-cell argmin and the residual
    // zip_with over the corpus; the materialization is (id, cell,
    // residual) — the same order of size as the corpus the caller
    // already persists, reclaimed by the context cleaner with the result
    val withRes = corpus
      .withColumn("cell", graft.functions.VectorOps.nearestCentroid(col(embCol), cells))
      .withColumn("__res",
        zip_with(col(embCol), element_at(cellsLit, col("cell") + 1),
          (a, b) => a - b))
      .select(col(idCol), col("cell"), col("__res"))
      .localCheckpoint()
    val book = Pq.train(withRes, "__res", idCol, m, k, iters)
    val encoded = Pq.encode(withRes, "__res", book)
      .select(col(idCol), col("cell"), col("pq_code"))
    (encoded, Index(cells, book))
  }

  /** ADC top-k over the `nprobe` cells nearest the query: one residual
    * distance table per probed cell (driver-computed literals), rows
    * score with m array lookups. Returns (idCol, adc) ascending. */
  def search(index: DataFrame, meta: Index, idCol: String,
      query: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    require(query.size == meta.book.m * meta.book.subDim, "query dim mismatch")
    val probed = Ivf.nearestCells(meta.cells, query, nprobe)
    // per probed cell: the RESIDUAL query's m × k' squared-L2 table
    val tables = array(probed.map(ci => Pq.distanceTable(meta.book,
      query.zip(meta.cells(ci)).map { case (q, c) => q - c })): _*)
    val table = element_at(tables,
      array_position(array(probed.map(lit): _*), col("cell")).cast("int"))
    index.filter(col("cell").isin(probed: _*))
      .select(col(idCol), Pq.adc(col("pq_code"), table, meta.book.m).as("adc"))
      .orderBy(col("adc").asc, col(idCol))
      .limit(k)
  }

  /** Batch IVF-PQ search: residual-ADC top-k for EVERY query row. The
    * single-query path computes its distance tables on the driver; here
    * each query row computes its own (nprobe × m × k') table as an
    * EXPRESSION over the centroid/codebook literals — no driver work per
    * query, so the query side can be a full eval set. Candidates come
    * from the equi-join on probed cells (partition-pruned when the index
    * is written partitioned by cell); scoring after the join is still m
    * array lookups per (query, code) pair. Returns (q_id, nbr_id, adc),
    * k rows per query, ADC ascending. */
  def searchBatch(index: DataFrame, meta: Index, queries: DataFrame,
      embCol: String, idCol: String, k: Int, nprobe: Int): DataFrame = {
    val m = meta.book.m
    val subDim = meta.book.subDim
    // m × k' × subDim codebook literal
    val bookLit = array(meta.book.centroids.map(Ivf.matrixLit): _*)
    val q = queries
      .select(col(idCol).as("q_id"), col(embCol).as("__q"),
        explode(Ivf.probedCells(col(embCol), meta.cells, nprobe)).as("cell"))
      // residual against THIS probed cell's centroid, then the m × k'
      // squared-L2 table of its subvectors vs the codebook
      .withColumn("__qr", zip_with(col("__q"),
        element_at(Ivf.matrixLit(meta.cells), col("cell") + 1),
        (a, b) => a.cast("double") - b))
      .withColumn("__table",
        transform(sequence(lit(0), lit(m - 1)), j =>
          transform(element_at(bookLit, j + 1), cent =>
            aggregate(
              zip_with(cent, slice(col("__qr"), j * subDim + 1, lit(subDim)),
                (a, b) => (a - b) * (a - b)),
              lit(0.0), (acc, x) => acc + x))))
      .select(col("q_id"), col("cell"), col("__table"))
    Ivf.topKPerQuery(q.join(index.select(col(idCol).as("nbr_id"), col("cell"),
        col("pq_code")), "cell")
      .select(col("q_id"), col("nbr_id"),
        Pq.adc(col("pq_code"), col("__table"), m).as("adc")),
      col("adc").asc, k)
  }
}
